"""Correctness checks, run after the timed window.

Every check compares the program's output with something computed apart
from it: counts taken from the generated corpus, the index's own fsck,
or the in-repo BM25Plus reference (``oracle/bm25.py``, the numpy
transcription of rank_bm25 that the engine must match bit for bit).
Each function returns a list of error strings; empty means passed.
"""

from __future__ import annotations

import functools
import importlib.util
import re
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from gen import Corpus, word

_WORDS = re.compile(r"[a-z]+")


def benchmark_tokens(text: str) -> list[str]:
    """The benchmark's own tokenizer: every corpus word is ASCII and its
    own Porter stem (see gen.py), so lowercase letter runs are exactly
    the analyzer's stemmed tokens."""
    return _WORDS.findall(text.lower())


def manifest_fingerprints(index_dir: Path) -> list[tuple]:
    t = pq.read_table(index_dir / "manifest").to_pylist()
    return sorted(
        (r["shard"], r["n_terms"], r["n_postings"], r["payload_bytes"], r["fingerprint"])
        for r in t
        if r["status"] == "committed"
    )


def _load_verify(root: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_verify_index", root / "jobs" / "verify_index.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.verify


def check_index(
    spark, root: Path, index_dir: Path, corpus: Corpus, stats: dict,
    fingerprints: list[list[tuple]], seed: int, n_terms: int = 48,
) -> list[str]:
    errors: list[str] = []
    fsck = _load_verify(root)(spark, str(index_dir))
    if not fsck["ok"]:
        errors.append(f"verify_index: {fsck['mismatches'][:3]}")
    if any(fp != fingerprints[0] for fp in fingerprints[1:]):
        errors.append("manifest fingerprints differ between builds of one corpus")
    total = int(corpus.offsets[-1])
    if stats["n_docs"] != corpus.n_docs or stats["total_tokens"] != total:
        errors.append(
            f"n_docs/total_tokens {stats['n_docs']}/{stats['total_tokens']}"
            f" != corpus {corpus.n_docs}/{total}"
        )

    # posting lists of a seeded sample of terms (head, middle and tail
    # ranks alike) must decode to the (doc_id, tf) pairs in the corpus
    from lean_explore_spark.index import codec

    rng = np.random.default_rng([seed, 4])
    present = np.unique(corpus.ranks)
    sample = np.unique(
        np.concatenate([present[:8], rng.choice(present, n_terms - 8, replace=False)])
    )
    lens = np.diff(corpus.offsets)
    doc_of = np.repeat(np.arange(corpus.n_docs, dtype=np.int64), lens)
    hit = np.isin(corpus.ranks, sample)
    key = corpus.ranks[hit].astype(np.int64) * corpus.n_docs + doc_of[hit]
    keys, tfs = np.unique(key, return_counts=True)
    key_rank, key_doc = keys // corpus.n_docs, keys % corpus.n_docs

    span = stats["span"]
    shard_of = corpus.doc_ids // span
    dl_ids = {int(s): np.sort(corpus.doc_ids[shard_of == s]) for s in np.unique(shard_of)}
    terms = [word(int(r)) for r in sample]
    rows = pq.read_table(
        index_dir / "postings", filters=[("term", "in", terms)]
    ).to_pylist()
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    for rank, term in zip(sample, terms):
        m = key_rank == rank
        want_ids = corpus.doc_ids[key_doc[m]]
        order = np.argsort(want_ids)
        want_ids, want_tfs = want_ids[order], tfs[m][order]
        got_ids, got_tfs = [], []
        for r in sorted(by_term.get(term, []), key=lambda r: int(r["shard"])):
            packed = codec.PackedPostings(
                count=r["df_shard"],
                block_first=np.asarray(r["block_first"], dtype=np.int64),
                block_last=np.asarray(r["block_last"], dtype=np.int64),
                block_count=np.asarray(r["block_count"], dtype=np.int32),
                block_gap_bytes=np.asarray(r["block_gap_bytes"], dtype=np.int32),
                block_tf_bytes=np.asarray(r["block_tf_bytes"], dtype=np.int32),
                block_max_score=np.asarray(r["block_max_score"], dtype=np.float64),
                block_max_tf=np.asarray(r["block_max_tf"], dtype=np.int32),
                payload=r["payload"],
            )
            ids, t = codec.unpack_all(packed, dl_ids[int(r["shard"])])
            got_ids.append(ids)
            got_tfs.append(t)
        got_ids = np.concatenate(got_ids) if got_ids else np.zeros(0, np.int64)
        got_tfs = np.concatenate(got_tfs) if got_tfs else np.zeros(0, np.int64)
        if not (np.array_equal(got_ids, want_ids) and np.array_equal(got_tfs, want_tfs)):
            errors.append(
                f"postings of {term!r}: {len(got_ids)} decoded vs {len(want_ids)} in corpus"
            )
    return errors


def check_topk(
    corpus: Corpus, queries: list[str], results: dict[int, list], k: int
) -> list[str]:
    """Every distinct timed query's top-k against exhaustive BM25Plus.

    ``bm25.get_scores`` adds one float64 vector per query token, in
    query order, to zeros; summing its single-token vectors in the same
    order gives the same values bit for bit, so the vectors of frequent
    terms are computed once per run.  The first queries are also scored
    by ``bm25.top_k`` itself, to keep that shortcut honest."""
    from lean_explore_spark.oracle import bm25

    texts = corpus.texts.to_pylist()
    stats = bm25.build_stats(corpus.doc_ids.tolist(), (benchmark_tokens(t) for t in texts))
    n, want_len = stats.n_docs, min(k, stats.n_docs)
    by_id = np.argsort(stats.doc_ids, kind="stable")
    term_scores = functools.lru_cache(maxsize=64)(lambda t: bm25.get_scores(stats, [t]))

    def reference(tokens: list[str]) -> list[tuple[int, float]]:
        scores = np.zeros(n, dtype=np.float64)
        for t in tokens:
            scores += term_scores(t)
        # (score desc, doc_id asc): the docs above the k-th best score,
        # sorted, then the docs tied with it in doc_id order
        kth = np.partition(scores, n - want_len)[n - want_len]
        above = np.flatnonzero(scores > kth)
        above = above[np.lexsort((stats.doc_ids[above], -scores[above]))]
        ties = by_id[scores[by_id] == kth][: want_len - len(above)]
        return [(int(stats.doc_ids[i]), float(scores[i])) for i in np.concatenate([above, ties])]

    errors: list[str] = []
    for i, (qi, res) in enumerate(sorted(results.items())):
        q = queries[qi]
        tokens = benchmark_tokens(q)
        want = reference(tokens)
        if i < 8 and want != bm25.top_k(stats, tokens, k):
            errors.append(f"{q!r}: summed term scores differ from bm25.top_k")
        if len(res) != want_len:
            errors.append(f"{q!r}: {len(res)} results, want {want_len}")
            continue
        if any((a[1], -a[0]) < (b[1], -b[0]) for a, b in zip(res, res[1:])):
            errors.append(f"{q!r}: not ordered by (score desc, doc_id asc)")
            continue
        if [(int(d), float(s)) for d, s in res] != want:
            errors.append(f"{q!r}: top-{k} differs from BM25Plus reference")
    return errors
