"""Seeded benchmark inputs: corpus row window, append batches, query log.

The corpus is the engine's own generator (`lucene_rust_spark.corpus`), a
pure function of row_id. The seed only chooses which rows are used and
which queries are sent, so the same seed gives the same inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from lucene_rust_spark import corpus
from lucene_rust_spark.oracle.bm25 import bool_query, term_query

# rows are drawn from a fixed universe, so repo assignment (which depends on
# the generator's n_rows) does not change with the window
UNIVERSE_ROWS = 1_000_000
BASE_DOCS = 2_000  # docs in the built index (~23 MB of content)
APPEND_DOCS = 50  # docs per append_batch epoch
EPOCHS = 2  # append epochs in the ingest workload

CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]


@dataclass
class Inputs:
    seed: int
    base_rows: np.ndarray  # the window the index is built from
    epoch_rows: list[np.ndarray]  # one batch per append epoch


def make_inputs(seed: int) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    span = BASE_DOCS + EPOCHS * APPEND_DOCS
    start = int(rng.integers(0, UNIVERSE_ROWS - span))
    base = np.arange(start, start + BASE_DOCS)
    epochs = [
        np.arange(start + BASE_DOCS + e * APPEND_DOCS, start + BASE_DOCS + (e + 1) * APPEND_DOCS)
        for e in range(EPOCHS)
    ]
    return Inputs(seed, base, epochs)


def corpus_key() -> str:
    """Hash of the generator source: a change to corpus.py invalidates
    every cached window."""
    with open(corpus.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def cached_window(cache_dir: str, rows: np.ndarray) -> tuple[str, pd.DataFrame]:
    """Parquet file holding the corpus rows, written once per window."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"corpus_{corpus_key()}_{int(rows[0])}_{len(rows)}.parquet")
    if os.path.exists(path):
        return path, pd.read_parquet(path)
    pdf = corpus.gen_rows(rows, UNIVERSE_ROWS)
    tmp = f"{path}.tmp{os.getpid()}"
    pdf.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return path, pdf


# -- query log -----------------------------------------------------------------

# One cycle of query slots, repeated: (template, fresh, k, page 2). The seed
# picks only the terms, so the template mix, the share of LRU misses and
# the k / search_after mix are the same for every seed. 15 of 20 slots carry
# a term not sent before (a miss: one Spark collect); the rest reuse terms
# already sent, drawn Zipf-skewed, and hit the LRU, as do the two page-2
# calls. 15 of 22 search calls miss (68%), so on the driver path both p50
# and p95 fall among misses, 18 points clear of the hit/miss boundary.
CYCLE = [
    ("term", True, 10, False), ("and", True, 10, False), ("or", False, 10, False),
    ("msm", True, 10, False), ("and_not", True, 10, False), ("uniq", True, 10, False),
    ("or", True, 10, True), ("term", False, 100, False), ("or", True, 100, False),
    ("term", True, 10, True), ("and", True, 10, False), ("msm", True, 10, False),
    ("term", True, 10, False), ("and_not", False, 10, False), ("and", True, 10, False),
    ("msm", False, 10, False), ("and_not", True, 10, False), ("or", True, 10, False),
    ("term", True, 10, False), ("and", False, 10, False),
]
SHAPES = 10  # CYCLE[:SHAPES] holds every (template, k, page 2) shape once
N_TERMS = {"term": 1, "uniq": 1, "and": 2, "or": 3, "and_not": 3, "msm": 3}
ZIPF_A = 1.2  # popularity skew over the terms already sent


@dataclass(frozen=True)
class QueryOp:
    query: dict
    k: int
    page2: bool  # follow with a search_after page 2 of the same query


def query_log(seed: int, base_rows: np.ndarray):
    """Endless, seeded stream of QueryOps following CYCLE.

    A fresh slot carries one vocabulary term never sent before in the
    log (first touch: the searcher's postings LRU misses); other terms
    are drawn over the terms already sent. The LRU is deterministic, so
    one seed gives one sequence of hits and misses."""
    rng = np.random.default_rng([seed, 2])
    fresh = iter([str(t) for t in rng.permutation(np.array(corpus.VOCAB))])
    used: list[str] = []

    def take_fresh():
        used.append(next(fresh))
        return used[-1]

    def reuse(exclude):
        if len(used) <= len(exclude):
            return take_fresh()
        while True:
            t = used[(int(rng.zipf(ZIPF_A)) - 1) % len(used)]
            if t not in exclude:
                return t

    while True:
        for tpl, is_fresh, k, page2 in CYCLE:
            if tpl == "uniq":
                terms = [f"uniq_{int(base_rows[int(rng.integers(0, len(base_rows)))])}"]
            else:
                terms = [take_fresh()] if is_fresh else []
                while len(terms) < N_TERMS[tpl]:
                    terms.append(reuse(terms))
                rng.shuffle(terms)
            yield QueryOp(make_query(tpl, terms), k, page2)


def warm_log(seed: int, base_rows: np.ndarray):
    """CYCLE's query shapes over uniq_<row_id> terms of base docs: warms
    every plan shape, k and search_after path without touching a
    vocabulary term, so the timed stream's LRU hits and misses stay as
    query_log designs them."""
    rng = np.random.default_rng([seed, 3])
    while True:
        for tpl, _, k, page2 in CYCLE:
            rows = rng.choice(base_rows, size=N_TERMS[tpl], replace=False)
            yield QueryOp(make_query(tpl, [f"uniq_{int(r)}" for r in rows]), k, page2)


def make_query(tpl: str, terms: list[str]) -> dict:
    if tpl in ("term", "uniq"):
        return term_query(terms[0])
    if tpl == "and":
        return bool_query(must=terms)
    if tpl == "or":
        return bool_query(should=terms)
    if tpl == "and_not":
        return bool_query(must=terms[:2], must_not=terms[2:])
    return bool_query(should=terms, min_should_match=2)
