"""The engine's benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository.  The benchmark
drives the program only through its public entry points
(``IndexBuilder.build``, ``SearchEngine(preload=True)``,
``SearchEngine.search_routed``), one closed-loop client in one process
on ``local[nproc]``, with the program's own Spark settings.

A run generates a seeded corpus and query pool (gen.py, in a child
process), then times, in order:

1. the first ``IndexBuilder.build`` of the process (cold JVM and Python
   workers) and ``WARM_BUILDS`` warm rebuilds of the same corpus;
2. ``SearchEngine(preload=True)`` over the built index;
3. after an untimed warm-up, whole rounds of the workload's pool of
   ``POOL`` distinct queries through ``search_routed`` until
   ``--seconds`` have passed (at least one round).

Afterwards, outside the timed window, it checks the index (fsck,
fingerprints, corpus counts, decoded postings) and every distinct
query's top-k against exhaustive BM25Plus (checks.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it records
the host, the Spark version and the seed.  Traced runs also write their
spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

WORKLOADS = ("serve_head", "serve_light")
K = 50
WARM_BUILDS = 1
POOL = 1000  # distinct queries per run: a round of the pool gives p99 ten samples
WARMUP_QUERIES = 16


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmRSS")


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def configure_spark_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    switch the event log on for traced runs.  The program's own session
    settings (heap, partitions) are left as they are."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.pop("SPARK_DRIVER_MEM", None)
    # no hsperfdata files in the system temp dir, from Spark's launcher
    # JVM or from the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        (work / "events").mkdir()
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'events'}",
            "spark.eventLog.compress=false",
        ]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in conf)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process ended while we looked
                pass
    out, todo = set(), [pid]
    while todo:
        cur = todo.pop()
        kids = [c for c, p in parent.items() if p == cur]
        out.update(kids)
        todo.extend(kids)
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and Spark's Python
    workers (the JVM's children) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    deadline = time.time() + 60
    while any(map(alive, workers)) and time.time() < deadline:
        time.sleep(0.05)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def join_children() -> None:
    import multiprocessing

    for p in multiprocessing.active_children():
        p.join(timeout=60)


def run(args, work: Path) -> tuple[dict, dict]:
    import numpy as np

    import gen
    import checks
    from spans import Tracer, install_program_wrappers, spark_counts

    from lean_explore_spark.index.builder import IndexBuilder
    from lean_explore_spark.query.search import SearchEngine
    from lean_explore_spark.session import get_spark

    configure_spark_env(work, args.trace)
    # the corpus is generated in a child process, so its temporary
    # arrays stay out of this process's peak RSS (python_rss_mb); the
    # checks regenerate it from the seed after the timed window
    subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--seed", str(args.seed),
         "--workload", args.workload, "--queries", str(POOL + WARMUP_QUERIES),
         "--out", str(work)],
        check=True,
    )
    pages = work / "pages"
    queries = json.loads((work / "queries.json").read_text())
    pool, warmup = queries[:POOL], queries[POOL:]

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext)
        if args.trace:
            install_program_wrappers(tracer)
        index = work / "index"

        def build(phase: str) -> tuple[float, dict]:
            tracer.qid = phase
            t0 = time.perf_counter()
            stats = IndexBuilder(spark, str(index)).build(
                spark.read.parquet(str(pages)), resume=False
            )
            secs = time.perf_counter() - t0
            fingerprints.append(checks.manifest_fingerprints(index))
            return secs, stats

        # ---- timed window ---------------------------------------------
        setup_s = seconds_since_process_start()
        fingerprints: list = []
        build_first_s, stats = build("cold")
        warm = [build("warm")[0] for _ in range(WARM_BUILDS)]
        index_bytes = sum(tree_bytes(index / d) for d in ("postings", "dictionary", "doc_stats"))

        tracer.qid = "preload"
        rss_before_preload = rss_mb()
        t0 = time.perf_counter()
        engine = SearchEngine(spark, str(index), preload=True)
        preload_s = time.perf_counter() - t0
        rss_after_preload = rss_mb()

        # the fork pool is forked during the warm-up; its workers keep
        # the tracer switched off (their spans never reach this process)
        tracer.enabled = False
        tracer.qid = "warmup"
        for q in warmup:
            engine.search_routed(q, K)

        tracer.counts.clear()
        lat: list[float] = []
        lat_by_tracing: tuple[list, list] = ([], [])  # (untraced, traced)
        results: dict[int, list] = {}
        failed = rounds = 0
        t_loop = time.perf_counter()
        while True:
            for qi, q in enumerate(pool):
                # traced runs switch tracing on for every other query,
                # the other half in alternate rounds, so over two rounds
                # each query runs once traced and once untraced
                tracer.enabled = bool(args.trace) and (qi + rounds) % 2 == 0
                tracer.qid = qi
                t0 = time.perf_counter()
                try:
                    res = engine.search_routed(q, K)
                except Exception as e:  # a failed query counts; the run goes on
                    failed += 1
                    print(f"perfbench: query {q!r} failed: {e!r}", file=sys.stderr)
                    continue
                dt = time.perf_counter() - t0
                lat.append(dt)
                lat_by_tracing[tracer.enabled].append(dt)
                if rounds == 0:
                    results[qi] = res
            rounds += 1
            done = time.perf_counter() - t_loop >= args.seconds
            if done and (not args.trace or rounds >= 2):
                break
        loop_s = time.perf_counter() - t_loop
        python_rss_mb = peak_rss_mb()
        jvm_rss_mb = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        # ---- end of timed window --------------------------------------

        tracer.enabled = False
        mass = [engine.query_posting_mass(engine.analyze_query(q)) for q in pool]
        engine.close_pool()
        join_children()

        t_check = time.perf_counter()
        corpus = gen.make_corpus(args.seed)
        errors = checks.check_index(spark, ROOT, index, corpus, stats, fingerprints, args.seed)
        errors += checks.check_topk(corpus, pool, results, K)
        for e in errors[:20]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)

        import pyspark

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "cpus": nproc,
            "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "pages": corpus.n_docs,
            "pool": len(pool),
            "tokens": int(corpus.offsets[-1]),
            "queries_timed": len(lat),
            "rounds": rounds,
            "warm_builds": WARM_BUILDS,
            "check_s": round(time.perf_counter() - t_check, 3),
            "rss_before_preload_mb": round(rss_before_preload, 1),
            "rss_after_preload_mb": round(rss_after_preload, 1),
        }
    finally:
        stop_spark(spark)

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "build_first_s": (build_first_s, "s"),
            "build_s": (statistics.median(warm), "s"),
            "index_bytes": (index_bytes, "bytes"),
            "preload_s": (preload_s, "s"),
            "query_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "query_p99_ms": (float(np.percentile(lat, 99)) * 1e3, "ms"),
            "qps": (len(lat) / loop_s, "1/s"),
            "python_rss_mb": (python_rss_mb, "MB"),
        }
    else:
        metrics = layer_metrics(
            tracer, spark_counts(work / "events"), index, pool, mass, warm, *lat_by_tracing
        )
        metrics["jvm.peak_rss_mb"] = (jvm_rss_mb, "MB")
        traces = ROOT / ".bench_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(traces / f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
    result = {
        "correct": not errors,
        "attempted": 1 + WARM_BUILDS + 1 + len(lat) + failed,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return info, result


def layer_metrics(tracer, spark, index, pool, mass, warm, lat_plain, lat_traced) -> dict:
    import pyarrow.parquet as pq

    n_warm = len(warm)
    is_warm = lambda q: q == "warm"  # noqa: E731
    build_self = tracer.self_times(is_warm)
    stage_total = sum(
        build_self[s] for s in ("index.staging", "index.doc_stats", "index.pack", "index.dictionary")
    )
    pack = spark.get("warm:index.pack", {})
    all_tags = [c for tag, c in spark.items() if tag.startswith("warm:")]

    def spark_sum(key):
        return sum(c[key] for c in all_tags) / n_warm

    manifest = pq.read_table(index / "manifest").to_pylist()
    postings = sum(r["n_postings"] for r in manifest if r["status"] == "committed")
    payload = sum(r["payload_bytes"] for r in manifest if r["status"] == "committed")

    is_query = lambda q: isinstance(q, int)  # noqa: E731
    qself = tracer.self_times(is_query)
    n_q = len(lat_traced)
    c = tracer.counts
    per_q = lambda name: qself[name] * 1e3 / n_q  # noqa: E731
    p50_on, p50_off = statistics.median(lat_traced), statistics.median(lat_plain)
    m = {
        "index.staging_s": (build_self["index.staging"] / n_warm, "s"),
        "index.doc_stats_s": (build_self["index.doc_stats"] / n_warm, "s"),
        "index.pack_s": (build_self["index.pack"] / n_warm, "s"),
        "index.dictionary_s": (build_self["index.dictionary"] / n_warm, "s"),
        "index.stage_cover": (stage_total / sum(warm), "ratio"),
        "index.pack_tasks": (pack.get("tasks", 0) / n_warm, "count"),
        "index.tasks": (spark_sum("tasks"), "count"),
        "index.jobs": (spark_sum("jobs"), "count"),
        "index.task_run_s": (spark_sum("task_run_s"), "s"),
        "index.gc_s": (spark_sum("gc_s"), "s"),
        "index.shuffle_write_bytes": (spark_sum("shuffle_write_bytes"), "bytes"),
        "index.python_s": (spark_sum("python_ms") / 1e3, "s"),
        "index.python_init_s": (spark_sum("python_init_ms") / 1e3, "s"),
        "index.pack_python_s": (pack.get("python_ms", 0) / 1e3 / n_warm, "s"),
        "index.pack_python_init_s": (pack.get("python_init_ms", 0) / 1e3 / n_warm, "s"),
        "index.to_python_bytes": (spark_sum("to_python_bytes"), "bytes"),
        "index.postings": (postings, "count"),
        "index.payload_bytes": (payload, "bytes"),
        "codec.bytes_per_posting": (payload / postings, "bytes"),
        "search.analyze_ms": (per_q("search.analyze"), "ms"),
        "search.sequential_ms": (per_q("search.sequential"), "ms"),
        "search.parallel_ms": (per_q("search.parallel"), "ms"),
        "wand.finalize_ms": (per_q("wand.finalize"), "ms"),
        "wand.kernel_ms": (per_q("wand.kernel"), "ms"),
        "wand.kernel_calls": (len(tracer.durations("wand.kernel", is_query)) / n_q, "count"),
        "codec.decode_ms": (per_q("codec.decode"), "ms"),
        "codec.postings_decoded": (c["codec.postings_decoded"] / n_q, "count"),
        "codec.blocks_decoded": (c["codec.blocks_decoded"] / n_q, "count"),
        "codec.blocks_total": (c["codec.blocks_total"] / n_q, "count"),
        "wand.block_keep_ratio": (
            c["codec.blocks_decoded"] / c["codec.blocks_total"] if c["codec.blocks_total"] else 1.0,
            "ratio",
        ),
        "search.posting_mass": (statistics.fmean(mass), "count"),
        "search.hot_routed": (c["search.hot_routed"] * len(pool) / n_q, "count"),
        "trace.overhead_pct": ((p50_on - p50_off) / p50_off * 100.0, "%"),
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        import lean_explore_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        info, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
