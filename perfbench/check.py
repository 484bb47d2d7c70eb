"""Correctness gate: every timed search is compared with the BM25 oracle.

The oracle (`lucene_rust_spark.oracle.bm25`) assigns its own docIDs, and the
benchmark builds a sorted index whose docIDs differ, so docs are compared by
`path`. Scores must match as float32. Docs with equal scores may come in
any order, and the last score group of a top-k may be cut anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lucene_rust_spark.oracle.bm25 import build_oracle_index, oracle_search


class Oracle:
    def __init__(self, docs: pd.DataFrame):
        self.idx = build_oracle_index(docs, 8)
        self.path_of = dict(zip(self.idx.meta["doc_id"], self.idx.meta["path"]))
        self._ranked: dict[str, list[tuple[str, float]]] = {}

    def ranking(self, query: dict) -> list[tuple[str, float]]:
        """Every matching doc as (path, score), best first."""
        key = repr(query)
        if key not in self._ranked:
            full = oracle_search(self.idx, query, k=self.idx.doc_count)
            self._ranked[key] = [(self.path_of[d], s) for d, s in full]
        return self._ranked[key]


def matches(got: list[tuple[str, float]], want_full: list[tuple[str, float]]) -> bool:
    """`got` (path, score) is a valid top-len(got) cut of the full ranking."""
    want = want_full[: len(got)] if len(got) <= len(want_full) else None
    if want is None or [np.float32(s) for _, s in got] != [np.float32(s) for _, s in want]:
        return False
    if len({p for p, _ in got}) != len(got):
        return False
    by_score: dict[np.float32, set[str]] = {}
    for p, s in want_full:
        by_score.setdefault(np.float32(s), set()).add(p)
    return all(p in by_score.get(np.float32(s), ()) for p, s in got)


def check_query(oracle: Oracle, path_of: dict, op, pages: list[list]) -> bool:
    """pages: the engine's [(doc_id, score)] for page 1 (and page 2)."""
    try:
        got = [(path_of[d], s) for page in pages for d, s in page]
    except KeyError:  # a docID the docmap does not know
        return False
    want = oracle.ranking(op.query)
    expect_len = min(len(want), op.k * len(pages))
    return len(got) == expect_len and matches(got, want)
