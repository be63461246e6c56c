"""Spans and counters recorded from outside the program.

A ``Tracer`` replaces public functions of the program's layers with
timing wrappers (module or class attributes, so every caller inside the
program goes through them).  Spans stay in memory as
``(name, start, end, parent, query id)`` and are written out once, at
the end of the run.  Self time is a span's duration minus the time its
direct children cover.

Spans recorded inside forked fork-pool workers stay in the worker: the
parent sees the fan-out only as the self time of
``search_tokens_parallel`` (which includes its wait on the pool).

Spark's own counts come from its event log, which the launcher switches
on for traced runs; ``spark_counts`` sums task metrics per value of the
local property ``perfbench.span`` that the wrappers set around calls
into the index builder.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from pathlib import Path

SPAN_PROP = "perfbench.span"
_PYTHON_METRICS = {
    "time to run Python workers": "python_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "to_python_bytes",
}


class Tracer:
    def __init__(self, sc) -> None:
        """``sc``: the SparkContext whose jobs the builder spans tag."""
        self.spans: list[list] = []  # [name, start, end, parent, qid]
        self.counts: dict[str, float] = defaultdict(float)
        self.qid: int | str | None = None  # query id, or build phase
        self.enabled = True
        self._stack: list[int] = []
        self._sc = sc

    # -- recording ---------------------------------------------------------

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.qid])
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None, spark_tag=False):
        """Replace ``owner.attr`` by a timed wrapper recording span
        ``name``; ``count(args, kwargs, result)`` may add counters;
        ``spark_tag`` labels the Spark jobs the call starts."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid = tracer._open(name)
            prev = None
            if spark_tag:
                prev = tracer._sc.getLocalProperty(SPAN_PROP)
                tracer._sc.setLocalProperty(SPAN_PROP, f"{tracer.qid}:{name}")
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(sid)
                if spark_tag:
                    tracer._sc.setLocalProperty(SPAN_PROP, prev)
            if count is not None:
                for key, val in count(args, kwargs, out).items():
                    tracer.counts[key] += val
            return out

        setattr(owner, attr, wrapper)

    # -- summaries ---------------------------------------------------------

    def self_times(self, keep=lambda qid: True) -> dict[str, float]:
        """Σ self time (s) per span name over spans whose query id (or
        build phase) passes ``keep``."""
        child_cover = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child_cover[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, qid) in enumerate(self.spans):
            if keep(qid):
                out[name] += (t1 - t0) - child_cover[i]
        return out

    def durations(self, name: str, keep=lambda qid: True) -> list[float]:
        return [t1 - t0 for n, t0, t1, _, q in self.spans if n == name and keep(q)]

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, qid in self.spans:
                f.write(
                    json.dumps(
                        {"name": name, "start": t0, "end": t1, "parent": parent, "qid": qid}
                    )
                    + "\n"
                )


def install_program_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer the benchmark reports."""
    from lean_explore_spark.index import builder, codec
    from lean_explore_spark.query import search, wand

    ib = builder.IndexBuilder
    tracer.wrap(ib, "build", "index.build", spark_tag=True)
    tracer.wrap(ib, "write_staging", "index.staging", spark_tag=True)
    tracer.wrap(ib, "write_doc_stats", "index.doc_stats", spark_tag=True)
    tracer.wrap(ib, "pack_shards", "index.pack", spark_tag=True)
    tracer.wrap(ib, "write_dictionary", "index.dictionary", spark_tag=True)

    se = search.SearchEngine
    tracer.wrap(se, "analyze_query", "search.analyze")
    tracer.wrap(se, "search_tokens", "search.sequential")
    tracer.wrap(
        se,
        "search_tokens_parallel",
        "search.parallel",
        count=lambda a, k, out: {"search.hot_routed": 1},
    )
    tracer.wrap(wand, "finalize_topk", "wand.finalize")
    tracer.wrap(wand, "bulk_score_shard", "wand.kernel")
    tracer.wrap(wand, "blockmax_bulk_shard", "wand.kernel")

    def unpack_all_counts(args, kwargs, out):
        n = len(args[0].block_first)
        return {"codec.blocks_total": n, "codec.blocks_decoded": n, "codec.postings_decoded": len(out[0])}

    def unpack_selected_counts(args, kwargs, out):
        return {
            "codec.blocks_total": len(args[0].block_first),
            "codec.blocks_decoded": len(args[1]),
            "codec.postings_decoded": len(out[0]),
        }

    tracer.wrap(codec, "unpack_all", "codec.decode", count=unpack_all_counts)
    tracer.wrap(codec, "unpack_selected", "codec.decode", count=unpack_selected_counts)


def spark_counts(event_dir: Path) -> dict[str, dict[str, float]]:
    """Task counts and task metrics per ``perfbench.span`` value, read
    from the Spark event log(s) under ``event_dir``."""
    stage_tag: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(event_dir.rglob("events_*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(SPAN_PROP) or "untagged"
                    for sid in ev.get("Stage IDs", []):
                        stage_tag[sid] = tag
                    out[tag]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev["Stage ID"], "untagged")
                    m = ev.get("Task Metrics") or {}
                    c = out[tag]
                    c["tasks"] += 1
                    c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    # SQL metrics of the Arrow/Python operators (the
                    # JVM<->Python boundary): timings in ms, sizes in bytes
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _PYTHON_METRICS.get(acc.get("Name"))
                        if key is not None:
                            c[key] += float(acc.get("Update") or 0)
    return out
