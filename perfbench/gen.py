"""Seeded inputs for the benchmark: a web-page corpus and two query mixes.

Everything here is numpy + pyarrow and independent of the program: the
program only ever sees the parquet file this module writes.

Vocabulary.  Word ``i`` is a pronounceable ASCII string built from the
integer ``i`` (consonant-vowel syllables, always ending in a consonant
followed by ``a`` or ``o``).  No Porter rule matches such an ending, so
every word is its own stem and the benchmark can tokenize the corpus
itself (lowercase, split on non-letters) without calling the program's
analyzer.  Word ranks follow a Zipf-Mandelbrot law over ``VOCAB`` ranks,
so the corpus has a few terms in nearly every page and a long tail of
terms seen once.  Words of rank ``>= VOCAB`` never occur in the corpus;
the light query mix uses them as absent terms.

Pages.  Each page is a run of sentences: the first word capitalised,
words separated by spaces or commas, sentences ended by a period.  Page
lengths are log-normal.  Doc ids are distinct random 62-bit integers,
the shape of the program's default hashed ids.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"

N_PAGES = 40_000
VOCAB = 1_000_000  # ranks the corpus draws from
ZIPF_S = 1.5
ZIPF_Q = 2.7
LEN_MEDIAN = 40  # tokens per page (log-normal median)
LEN_SIGMA = 0.6
LEN_MIN, LEN_MAX = 8, 1000

HEAD_RANKS = 16  # serve_head draws its terms from the top ranks
HEAD_TERMS = (1, 5)  # terms per query, inclusive
LIGHT_MAX_COUNT = 32  # serve_light's present terms occur at most this often
LIGHT_TERMS = (1, 3)
LIGHT_ABSENT_SHARE = 0.25  # share of light-query terms absent from the corpus


def word(i: int) -> str:
    last = _CONS[i % 14] + "ao"[(i // 14) % 2]
    r = i // 28
    digs = []
    while True:
        digs.append(r % 70)
        r //= 70
        if r == 0:
            break
    return "".join(_CONS[d // 5] + _VOWELS[d % 5] for d in reversed(digs)) + last


def zipf_probs(n: int = VOCAB) -> np.ndarray:
    w = 1.0 / (np.arange(1, n + 1, dtype=np.float64) + ZIPF_Q) ** ZIPF_S
    return w / w.sum()


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64[n], file order
    offsets: np.ndarray  # int64[n + 1] into ranks
    ranks: np.ndarray  # int32[total tokens], the word rank of each token
    texts: pa.StringArray

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)


def make_corpus(seed: int, n_pages: int = N_PAGES) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    lens = np.clip(
        np.round(LEN_MEDIAN * rng.lognormal(0.0, LEN_SIGMA, n_pages)),
        LEN_MIN,
        LEN_MAX,
    ).astype(np.int64)
    offsets = np.zeros(n_pages + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    cdf = np.cumsum(zipf_probs())
    ranks = np.searchsorted(cdf, rng.random(total) * cdf[-1]).astype(np.int32)
    np.minimum(ranks, VOCAB - 1, out=ranks)

    used = np.unique(ranks)
    vocab = pa.array([word(int(r)) for r in used], pa.string())
    caps = pc.utf8_capitalize(vocab)
    idx = pa.array(np.searchsorted(used, ranks).astype(np.int32))

    # sentence structure: a period every 8-20 words, commas in between,
    # the first word of each page and of each sentence capitalised
    sent_end = rng.random(total) < 1.0 / 14
    comma = ~sent_end & (rng.random(total) < 0.06)
    page_last = offsets[1:] - 1
    sent_end[page_last] = True
    comma[page_last] = False
    cap = np.zeros(total, dtype=bool)
    cap[1:] = sent_end[:-1]
    cap[offsets[:-1]] = True
    toks = pc.if_else(pa.array(cap), caps.take(idx), vocab.take(idx))
    sep = np.zeros(total, dtype=np.int8)
    sep[comma] = 1
    sep[sent_end] = 2
    sep[page_last] = 3
    seps = pa.array([" ", ", ", ". ", "."]).take(pa.array(sep))
    toks = pc.binary_join_element_wise(toks, seps, "")
    texts = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets, pa.int64()).cast(pa.int32()), toks),
        "",
    )
    ids = np.unique(rng.integers(1, 1 << 62, size=n_pages + n_pages // 8 + 16))
    doc_ids = rng.permutation(ids)[:n_pages].astype(np.int64)
    return Corpus(doc_ids=doc_ids, offsets=offsets, ranks=ranks, texts=texts)


def write_corpus(corpus: Corpus, path: str, files: int = 8) -> None:
    """Write the pages as ``files`` parquet files (doc_id, text) in a
    directory, the shape of a crawl dump split across writers."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({"doc_id": pa.array(corpus.doc_ids), "text": corpus.texts})
    step = -(-corpus.n_docs // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), f"{path}/part-{f:03d}.parquet")


def _distinct(n: int, draw) -> list[str]:
    """``n`` distinct queries from repeated calls of ``draw()``, in the
    order they were first drawn."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault(draw(), None)
    return list(seen)


def head_queries(seed: int, n: int) -> list[str]:
    """``n`` distinct queries of 1-5 terms drawn from the corpus's own
    Zipf law, cut to its head."""
    rng = np.random.default_rng([seed, 2])
    p = zipf_probs()[:HEAD_RANKS]
    p = p / p.sum()
    lo, hi = HEAD_TERMS
    return _distinct(
        n,
        lambda: " ".join(
            word(int(r)) for r in rng.choice(HEAD_RANKS, rng.integers(lo, hi + 1), p=p)
        ),
    )


def light_queries(seed: int, n: int, corpus: Corpus) -> list[str]:
    """``n`` distinct queries of 1-3 terms, each either rare in the
    corpus (at most ``LIGHT_MAX_COUNT`` occurrences) or absent from it."""
    rng = np.random.default_rng([seed, 3])
    counts = np.bincount(corpus.ranks)
    rare = np.flatnonzero((counts > 0) & (counts <= LIGHT_MAX_COUNT))
    lo, hi = LIGHT_TERMS

    def term() -> str:
        if rng.random() < LIGHT_ABSENT_SHARE:
            return word(int(VOCAB + rng.integers(0, 10 * VOCAB)))
        return word(int(rng.choice(rare)))

    return _distinct(n, lambda: " ".join(term() for _ in range(rng.integers(lo, hi + 1))))


def main() -> None:
    """Write one run's inputs: ``<out>/pages/`` (the corpus) and
    ``<out>/queries.json`` (the workload's query list).  run.py calls
    this in a child process, so the generator's temporary arrays never
    count in the peak RSS of the process that holds the index."""
    import argparse
    import json

    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=("serve_head", "serve_light"), required=True)
    ap.add_argument("--queries", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    corpus = make_corpus(args.seed)
    write_corpus(corpus, os.path.join(args.out, "pages"))
    if args.workload == "serve_head":
        queries = head_queries(args.seed, args.queries)
    else:
        queries = light_queries(args.seed, args.queries, corpus)
    with open(os.path.join(args.out, "queries.json"), "w") as f:
        json.dump(queries, f)


if __name__ == "__main__":
    main()
