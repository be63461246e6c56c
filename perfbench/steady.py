"""Steadiness mode: run one workload repeatedly, one fresh process per
run and one seed per run, at BENCHMARK.json's ``run_seconds`` and
with ``--trace 0``, and print the median, quartiles and relative
spread of every metric.

    python3 perfbench/steady.py --workload serve_head --seeds 1-10

The spread is the distance between the first and third quartile as a
share of the median (``statistics.quantiles(values, n=4)``), the figure
the bounds in BENCHMARK.json are set against.  Each run's full output
(its info line included) is appended to ``--log`` as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seed_list(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,7,11")
    ap.add_argument("--log", default=str(ROOT / ".bench_work" / "steady.jsonl"))
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    shares = set()
    Path(args.log).parent.mkdir(parents=True, exist_ok=True)
    for seed in seed_list(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
        with open(args.log, "a") as f:
            f.write(json.dumps({"wall_s": wall, "info": info, "result": result}) + "\n")
        shares.add(result["failed"] / result["attempted"])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(
            f"seed {seed}: wall {wall:.1f}s correct={result['correct']}"
            f" attempted={result['attempted']} failed={result['failed']}",
            flush=True,
        )

    print(f"{'metric':28} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        print(
            f"{name:28} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.3f}"
            f" {'' if bound is None else bound:>6}"
        )
    print(f"failed/attempted shares seen: {sorted(shares)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
