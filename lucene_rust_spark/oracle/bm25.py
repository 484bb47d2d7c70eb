"""Single-process reference implementation (the rank-identity oracle).

The reference ships no similarity/search tests (SURVEY.md §5) — its BM25 and
search stack are declared-but-stubbed (clt/search/similarities/b_m25_similarity.rs:1,
clt/search/index_searcher.rs:12-36). This oracle pins the full pipeline
semantics (FIXTURES.md §§2-4): same tokenizer, same docID assignment, same
SmallFloat norms, same float32 BM25 with a fixed combination order. The Spark
engine must be rank- AND score-identical to this.

Pinned cross-engine contracts:
- partition(row) = int(sha1(repo + "\\x00" + path + "\\x00" + commit)[:15 hex], 16) % P
- doc_id = (partition << 40) | row_number  (rows sorted by (repo, path, commit)
  within partition; sort_key='content_len' leads with the content length in
  UTF-16 code units)  — the (segment, local docID) analog, SURVEY.md §1.4
- per-term score: kernels.bm25_score (float32)
- multi-term total: float32 sum of per-term scores in ascending-term order
- top-k order: (-score, doc_id); ties by ascending doc_id (HitQueue convention,
  clt/search/mod.rs:60)
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.functions.analysis import tokenize

PARTITION_SHIFT = 40


def partition_of(repo: str, path: str, commit: str, num_partitions: int) -> int:
    h = hashlib.sha1(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()
    return int(h[:15], 16) % num_partitions


def utf16_len(text: str) -> int:
    """content_len unit (FIXTURES.md §1): UTF-16 code units, so a char
    above U+FFFF counts two."""
    return len(text.encode("utf-16-le")) // 2


def assign_doc_ids(
    df: pd.DataFrame, num_partitions: int, sort_key: str | None = None
) -> pd.DataFrame:
    """Canonical deterministic docID assignment (engine must match).
    sort_key='content_len' orders each partition by content length first
    (the index-sort build); (repo, path, commit) stays the tiebreak."""
    if sort_key not in (None, "content_len"):
        raise ValueError(f"unknown sort_key {sort_key!r} (supported: 'content_len')")
    df = df.copy()
    df["part"] = [
        partition_of(r, p, c, num_partitions)
        for r, p, c in zip(df["repo"], df["path"], df["commit"])
    ]
    order = ["part", "repo", "path", "commit"]
    if sort_key == "content_len":
        df["_clen"] = [utf16_len(x) for x in df["content"]]
        order.insert(1, "_clen")
    df = df.sort_values(order, kind="mergesort").reset_index(drop=True)
    df = df.drop(columns="_clen", errors="ignore")
    rn = df.groupby("part").cumcount()
    df["doc_id"] = (df["part"].to_numpy(np.int64) << PARTITION_SHIFT) | rn.to_numpy(np.int64)
    return df


@dataclass
class OracleIndex:
    doc_ids: np.ndarray  # sorted int64
    dlq: np.ndarray  # uint8 norm byte, aligned to doc_ids
    dl: np.ndarray  # exact token counts, aligned
    postings: dict  # term -> (doc_idx int64[] (positions into doc_ids), tf int32[])
    doc_count: int
    sum_ttf: int
    meta: pd.DataFrame = field(repr=False, default=None)
    contents: list = field(repr=False, default=None)  # aligned to doc_ids
    analyzer_opts: dict = field(default_factory=dict)  # stop_words/char_filters

    @property
    def avgdl(self) -> np.float32:
        return np.float32(np.float64(self.sum_ttf) / np.float64(self.doc_count))

    def norm_cache(self) -> np.ndarray:
        return K.bm25_norm_cache(self.avgdl)

    def idf(self, term: str) -> np.float32:
        df = len(self.postings[term][0]) if term in self.postings else 0
        return K.bm25_idf(df, self.doc_count)


def build_oracle_index(
    df: pd.DataFrame, num_partitions: int, stop_words=None, char_filters=None,
    word_break="simple", sort_key: str | None = None,
) -> OracleIndex:
    df = assign_doc_ids(df, num_partitions, sort_key=sort_key)
    doc_ids = df["doc_id"].to_numpy(np.int64)  # sorted by construction
    assert (np.diff(doc_ids) > 0).all()
    postings: dict[str, tuple[list, list]] = {}
    dl = np.zeros(len(df), dtype=np.int64)
    for i, text in enumerate(df["content"]):
        toks = tokenize(text, stop_words=stop_words, char_filters=char_filters, word_break=word_break)
        dl[i] = len(toks)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for t, tf in counts.items():
            lst = postings.setdefault(t, ([], []))
            lst[0].append(i)
            lst[1].append(tf)
    packed = {
        t: (np.array(ix, dtype=np.int64), np.array(tf, dtype=np.int32))
        for t, (ix, tf) in postings.items()
    }
    return OracleIndex(
        doc_ids=doc_ids,
        dlq=K.int_to_byte4(dl),
        dl=dl,
        postings=packed,
        doc_count=len(df),
        sum_ttf=int(dl.sum()),
        meta=df[["doc_id", "repo", "path", "commit", "lang"]],
        contents=df["content"].tolist(),
        analyzer_opts={"stop_words": stop_words, "char_filters": char_filters,
                       "word_break": word_break},
    )


# --- query AST (dict-shaped, JSON-serializable; FIXTURES.md §4) ---


def term_query(t: str) -> dict:
    return {"type": "term", "term": t}


def phrase_query(terms, slop: int = 0, slop_mode: str | None = None) -> dict:
    q = {"type": "phrase", "terms": list(terms), "slop": int(slop)}
    if slop_mode:
        q["slop_mode"] = slop_mode  # 'lucene' = exact SloppyPhraseScorer
    return q


def multi_phrase_query(slots, slop: int = 0) -> dict:
    """MultiPhraseQuery (clt/search/mod.rs:93): alternative terms per
    position, e.g. slots=[["get","set"], ["value"]]."""
    return {"type": "multi_phrase", "slots": [list(s) for s in slots], "slop": int(slop)}


def ngram_phrase_query(terms, n: int, slop: int = 0) -> dict:
    """NGramPhraseQuery (clt/search/n_gram_phrase_query.rs): an exact
    phrase over consecutive n-grams, optimized to consult only every
    n-th gram plus the last; slop > 0 falls back to a standard
    PhraseQuery over all grams (Lucene's rewrite contract)."""
    return {
        "type": "ngram_phrase",
        "terms": list(terms),
        "n": int(n),
        "slop": int(slop),
    }


def synonym_query(terms) -> dict:
    """SynonymQuery (clt/search/mod.rs:145): terms scored as one
    pseudo-term with blended stats (df = max, freq = sum)."""
    return {"type": "synonym", "terms": list(terms)}


def blended_query(term_boosts, tie: float = 0.01) -> dict:
    """BlendedTermQuery (clt/search/mod.rs:3 blended_term_query [stub];
    Lucene 9 semantics): terms scored with BLENDED statistics — df = max,
    ttf = max over the terms (Lucene's blend() equalizes the contexts to
    the highest observed frequency) — each multiplied by its per-term
    boost, combined with the default DisjunctionMaxRewrite(tie).
    term_boosts: [(term, boost), ...] — terms must be distinct."""
    return {
        "type": "blended",
        "terms": [{"term": t, "boost": float(b)} for t, b in term_boosts],
        "tie": float(tie),
    }


def bool_query(must=(), should=(), must_not=(), min_should_match=0) -> dict:
    return {
        "type": "bool",
        "must": [term_query(t) if isinstance(t, str) else t for t in must],
        "should": [term_query(t) if isinstance(t, str) else t for t in should],
        "must_not": [term_query(t) if isinstance(t, str) else t for t in must_not],
        "min_should_match": min_should_match,
    }


def query_terms(q: dict) -> tuple[list[str], list[str], list[str], int]:
    """Flatten a v1 AST into (must, should, must_not, msm) term lists."""
    if q["type"] == "term":
        return [], [q["term"]], [], 0
    must = [c["term"] for c in q.get("must", ())]
    should = [c["term"] for c in q.get("should", ())]
    must_not = [c["term"] for c in q.get("must_not", ())]
    return must, should, must_not, int(q.get("min_should_match", 0) or 0)


def oracle_search(
    idx: OracleIndex,
    q: dict,
    k: int = 10,
    search_after: tuple | None = None,
    similarity: str = "bm25",
) -> list[tuple[int, float]]:
    """Exact top-k per the pinned spec. Returns [(doc_id, score_f32)].
    Handles the full v1 query surface: term/bool plus match_all, boost,
    const_score, prefix/range/wildcard/regexp/in_set (constant-score
    rewrite), fuzzy (scoring rewrite), dismax — mirrored in the engine."""
    from lucene_rust_spark.functions.similarities import get_similarity
    from lucene_rust_spark.search.rewrite import (
        CONSTANT_SCORE_TYPES,
        match_terms,
    )

    sim = get_similarity(similarity, idx.doc_count, idx.sum_ttf)
    qt = q.get("type")
    if qt == "boost":
        b = np.float32(q["boost"])
        inner = oracle_search(idx, q["query"], k, search_after, similarity)
        return [(d, float(np.float32(np.float32(s) * b))) for d, s in inner]
    if qt == "match_all":
        c = np.float32(q.get("boost", 1.0))
        dids = idx.doc_ids
        scores = np.full(len(dids), c, dtype=np.float32)
        return _rank(dids, scores, k, search_after)
    if qt == "const_score":
        c = np.float32(q.get("score", 1.0))
        inner = oracle_search(idx, q["query"], idx.doc_count, None, similarity)
        dids = np.array([d for d, _ in inner], dtype=np.int64)
        return _rank(dids, np.full(len(dids), c, dtype=np.float32), k, search_after)
    if qt in CONSTANT_SCORE_TYPES:
        terms = match_terms(q, sorted(idx.postings))
        c = np.float32(q.get("boost", 1.0))
        mask = np.zeros(idx.doc_count, dtype=bool)
        for t in terms:
            mask[idx.postings[t][0]] = True
        dids = idx.doc_ids[np.flatnonzero(mask)]
        return _rank(dids, np.full(len(dids), c, dtype=np.float32), k, search_after)
    if qt == "fuzzy":
        terms = match_terms(q, sorted(idx.postings))
        if not terms:
            return []
        q = bool_query(should=terms)
    if qt in ("phrase", "multi_phrase"):
        # pinned slop semantics (mirrors searcher._phrase_freq): anchor p0
        # of slot 0 matches iff every slot i has a position p_i of any of
        # its terms with |p_i - (p0 + i)| <= slop; freq = matching anchors
        slop = int(q.get("slop", 0) or 0)
        if qt == "multi_phrase":
            slots = [sorted(set(s)) for s in q["slots"]]
        else:
            slots = [[t] for t in q["terms"]]
        slots = [[t for t in s if t in idx.postings] for s in slots]
        if any(not s for s in slots):
            return []
        uniq = sorted({t for s in slots for t in s})
        cand = None
        for s in slots:
            docs = np.unique(np.concatenate([idx.postings[t][0] for t in s]))
            cand = docs if cand is None else np.intersect1d(cand, docs)
        idf_q = np.float32(0.0)
        for t in uniq:  # ascending-term order (pinned)
            idf_q = np.float32(idf_q + sim.idf(len(idx.postings[t][0])))
        lucene_mode = q.get("slop_mode") == "lucene"
        if lucene_mode:
            from lucene_rust_spark.search.sloppy import (
                check_no_repeats,
                lucene_sloppy_freq,
            )

            check_no_repeats(slots)
        hit_i, freqs = [], []
        for i in cand:
            toks = tokenize(idx.contents[int(i)], **(idx.analyzer_opts or {}))
            pos_by_slot = [
                {j for j, tok in enumerate(toks) if tok in set(s)} for s in slots
            ]
            if lucene_mode:
                freq = lucene_sloppy_freq(
                    [
                        np.array(sorted(p - off for p in ps), dtype=np.int64)
                        for off, ps in enumerate(pos_by_slot)
                    ],
                    slop,
                )
            else:
                freq = 0
                for p0 in sorted(pos_by_slot[0]):
                    if all(
                        any(abs(p - (p0 + off)) <= slop for p in pos_by_slot[off])
                        for off in range(1, len(slots))
                    ):
                        freq += 1
            if freq:
                hit_i.append(int(i))
                freqs.append(freq)
        if not hit_i:
            return []
        hi = np.array(hit_i, dtype=np.int64)
        scores = sim.score(
            np.array(freqs, dtype=np.float32 if lucene_mode else np.int64),
            idx.dlq[hi],
            np.full(len(hi), idf_q, dtype=np.float32),
        )
        return _rank(idx.doc_ids[hi], scores, k, search_after)
    if qt == "synonym":
        terms = sorted({t for t in q["terms"] if t in idx.postings})
        if not terms:
            return []
        df_blend = max(len(idx.postings[t][0]) for t in terms)
        ttf_sum = sum(int(idx.postings[t][1].sum()) for t in terms)
        idf = sim.weight(df_blend, ttf_sum)
        freq = np.zeros(idx.doc_count, dtype=np.int64)
        for t in terms:
            ix, tf = idx.postings[t]
            freq[ix] += tf
        hit = np.flatnonzero(freq)
        scores = sim.score(
            freq[hit], idx.dlq[hit], np.full(len(hit), idf, dtype=np.float32)
        )
        return _rank(idx.doc_ids[hit], scores, k, search_after)
    if qt == "indri_and":
        # smoothed AND (clt/search/mod.rs:65-70): same combine function as
        # the engine kernel; absent terms are dropped (pinned)
        from lucene_rust_spark.search.searcher import combine_indri_arrays

        terms = sorted({t for t in q["terms"] if t in idx.postings})
        if not terms:
            return []
        arrs, cp_map = {}, {}
        for t in terms:
            ix, tf = idx.postings[t]
            arrs[t] = (ix.astype(np.int64), tf.astype(np.int64), idx.dlq[ix].astype(np.int64))
            cp_map[t] = float(np.float32(sim.weight(len(ix), int(tf.sum()))))
        pos, scores = combine_indri_arrays(arrs, terms, cp_map, sim)
        return _rank(idx.doc_ids[pos], scores, k, search_after)
    if qt == "blended":
        clauses = sorted((c["term"], np.float32(c.get("boost", 1.0))) for c in q["terms"])
        if len({t for t, _ in clauses}) != len(clauses):
            raise ValueError("blended terms must be distinct")
        tie = float(q.get("tie", 0.01))
        present = [(t, b) for t, b in clauses if t in idx.postings]
        if not present:
            return []
        df_blend = max(len(idx.postings[t][0]) for t, _ in present)
        ttf_blend = max(int(idx.postings[t][1].sum()) for t, _ in present)
        w = np.float32(sim.weight(df_blend, ttf_blend))
        per_doc: dict[int, list] = {}
        for t, b in present:  # ascending-term order (pinned)
            ix, tf = idx.postings[t]
            sc = sim.score(tf, idx.dlq[ix], np.full(len(ix), w, dtype=np.float32))
            for i, v in zip(ix, sc):
                per_doc.setdefault(int(i), []).append(np.float32(b * np.float32(v)))
        items = [
            (int(idx.doc_ids[i]), float(K.dismax_combine(scs, tie)))
            for i, scs in per_doc.items()
        ]
        dids = np.array([d for d, _ in items], dtype=np.int64)
        scores = np.array([s for _, s in items], dtype=np.float32)
        return _rank(dids, scores, k, search_after)
    if qt == "dismax":
        terms = sorted({c["term"] for c in q["queries"]})
        tie = float(q.get("tie", 0.0))
        per_doc: dict[int, list] = {}
        for t in terms:  # ascending-term order (pinned)
            if t not in idx.postings:
                continue
            ix, tf = idx.postings[t]
            sc = sim.score(tf, idx.dlq[ix], np.full(len(ix), sim.idf(len(ix)), dtype=np.float32))
            for i, v in zip(ix, sc):
                per_doc.setdefault(int(i), []).append(np.float32(v))
        items = [
            (int(idx.doc_ids[i]), float(K.dismax_combine(scs, tie)))
            for i, scs in per_doc.items()
        ]
        dids = np.array([d for d, _ in items], dtype=np.int64)
        scores = np.array([s for _, s in items], dtype=np.float32)
        return _rank(dids, scores, k, search_after)

    must, should, must_not, msm = query_terms(q)
    if msm > len(set(should)):
        # Lucene BooleanWeight: fewer SHOULD scorers than
        # minimumNumberShouldMatch matches nothing — including the
        # should-less case (msm > 0 with no optional clauses)
        return []
    n = idx.doc_count
    scoring = sorted(set(must) | set(should))
    score_acc = np.zeros(n, dtype=np.float32)
    match_must = np.zeros(n, dtype=np.int32)
    match_should = np.zeros(n, dtype=np.int32)
    touched = np.zeros(n, dtype=bool)
    for t in scoring:
        if t not in idx.postings:
            continue
        ix, tf = idx.postings[t]
        idf = sim.weight(len(ix), int(np.asarray(tf).sum()))
        s = sim.score(tf, idx.dlq[ix], np.full(len(ix), idf, dtype=np.float32))
        score_acc[ix] = (score_acc[ix] + s).astype(np.float32)
        touched[ix] = True
        if t in must:
            match_must[ix] += 1
        if t in should:
            match_should[ix] += 1
    ok = touched.copy()
    if must:
        ok &= match_must >= len(set(must))
    if should and (msm or not must):
        ok &= match_should >= max(msm, 0 if must else 1)
    for t in must_not:
        if t in idx.postings:
            ok[idx.postings[t][0]] = False
    cand = np.flatnonzero(ok)
    return _rank(idx.doc_ids[cand], score_acc[cand], k, search_after)


def _rank(dids: np.ndarray, scores: np.ndarray, k: int, search_after) -> list:
    if search_after is not None:
        s_a, d_a = np.float32(search_after[0]), int(search_after[1])
        keep = (scores < s_a) | ((scores == s_a) & (dids > d_a))
        scores, dids = scores[keep], dids[keep]
    order = np.lexsort((dids, -scores.astype(np.float64)))[:k]
    return [(int(dids[i]), float(scores[i])) for i in order]


def oracle_count(idx: OracleIndex, q: dict) -> int:
    """TotalHitCountCollector analog (clt/search/mod.rs:161)."""
    return len(oracle_search(idx, q, k=idx.doc_count))
