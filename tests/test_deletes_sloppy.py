"""Deletes (tombstone live-docs), sloppy/multi phrase, positional merge,
and append-after-merge — round-2 feature coverage."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import T1_PARTS


# --- deletes ----------------------------------------------------------------


def test_ephemeral_tombstones_rank_identity(spark, t1_index, searcher, oracle_idx):
    """Engine with a live-docs view == oracle results minus deleted docs
    (Lucene semantics: stats keep pre-delete values, results filtered)."""
    from lucene_rust_spark.oracle.bm25 import bool_query, oracle_search
    from lucene_rust_spark.search.searcher import IndexSearcher

    out, _ = t1_index
    q = bool_query(should=["merge", "window"])
    full = oracle_search(oracle_idx, q, k=200)
    deleted = {d for d, _ in full[::3]}  # delete every 3rd hit
    tomb = spark.createDataFrame([(int(d),) for d in deleted], "doc_id long")
    s2 = IndexSearcher(spark, out, tombstones=tomb)

    expect = [(d, s) for d, s in full if d not in deleted][:10]
    got = s2.search(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in expect]
    assert all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, expect))
    # counts exclude deleted docs
    n_full = searcher.count(q)
    assert s2.count(q) == n_full - len(deleted)


def test_persistent_deletes_and_checkindex(spark, tmp_path):
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.deletes import check_deletes, delete_by_term
    from lucene_rust_spark.search.searcher import IndexSearcher

    out = str(tmp_path / "idx")
    build_index(spark, gen_corpus_spark(spark, 300, 4), out, num_partitions=4)
    s0 = IndexSearcher(spark, out)
    n_before = s0.count({"type": "term", "term": "merge"})
    assert n_before > 0

    m = delete_by_term(spark, out, "merge")
    assert m["del_count"] == n_before
    info = check_deletes(spark, out)
    assert info["del_count"] == n_before
    s1 = IndexSearcher(spark, out)
    assert s1.count({"type": "term", "term": "merge"}) == 0
    # docs without the deleted term are unaffected
    assert s1.count({"type": "match_all"}) == 300 - n_before
    # stats keep pre-delete values (Lucene: idf unchanged until merge)
    assert s1.term_stats(["merge"])["merge"]["doc_freq"] == n_before


# --- sloppy phrase / MultiPhrase ---------------------------------------------


@pytest.fixture(scope="module")
def pos_searcher(spark, tmp_path_factory):
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("posidx") / "t1p")
    build_index(
        spark, gen_corpus_spark(spark, 500, 4), out, num_partitions=4, positions=True
    )
    return IndexSearcher(spark, out, cache=True)


@pytest.fixture(scope="module")
def pos_oracle():
    from lucene_rust_spark.corpus import gen_corpus_pandas
    from lucene_rust_spark.oracle.bm25 import build_oracle_index

    return build_oracle_index(gen_corpus_pandas(500), 4)


def _common_bigram(oracle_idx):
    """Pick a bigram that actually occurs: scan oracle contents."""
    from lucene_rust_spark.functions.analysis import tokenize

    best = None
    from collections import Counter

    c = Counter()
    for text in oracle_idx.contents[:200]:
        toks = tokenize(text)
        c.update(zip(toks, toks[1:]))
    (a, b), _n = c.most_common(1)[0]
    return [a, b]


@pytest.mark.parametrize("slop", [0, 1, 2])
def test_sloppy_phrase_rank_identity(pos_searcher, pos_oracle, slop):
    from lucene_rust_spark.oracle.bm25 import oracle_search, phrase_query

    q = phrase_query(_common_bigram(pos_oracle), slop=slop)
    got = pos_searcher.search(q, k=20)
    want = oracle_search(pos_oracle, q, k=20)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want))
    # slop widens (or keeps) the match set
    assert pos_searcher.count(q) >= pos_searcher.count(phrase_query(q["terms"], 0))


def test_multi_phrase_rank_identity(pos_searcher, pos_oracle):
    from lucene_rust_spark.oracle.bm25 import multi_phrase_query, oracle_search

    a, b = _common_bigram(pos_oracle)
    q = multi_phrase_query([[a, "window"], [b]], slop=0)
    got = pos_searcher.search(q, k=20)
    want = oracle_search(pos_oracle, q, k=20)
    assert [d for d, _ in got] == [d for d, _ in want]
    # supersets the single-alternative phrase
    from lucene_rust_spark.oracle.bm25 import phrase_query

    assert pos_searcher.count(q) >= pos_searcher.count(phrase_query([a, b]))


# --- positional merge ---------------------------------------------------------


def test_positional_merge_preserves_phrases(spark, pos_searcher, pos_oracle):
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.oracle.bm25 import phrase_query
    from lucene_rust_spark.search.searcher import IndexSearcher

    q = phrase_query(_common_bigram(pos_oracle), slop=1)
    before = pos_searcher.search(q, k=20)
    n_before = pos_searcher.count(q)
    merge_segments(spark, pos_searcher.index_dir, fan_in=4)
    merged = IndexSearcher(spark, pos_searcher.index_dir)
    assert merged.search(q, k=20) == before
    assert merged.count(q) == n_before


# --- append after merge --------------------------------------------------------


def test_append_after_merge(spark, tmp_path):
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.manifest import read_manifest
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.search.searcher import IndexSearcher
    from lucene_rust_spark.streaming.incremental import append_batch
    from lucene_rust_spark.index.build import build_index

    out = str(tmp_path / "idx")
    src = gen_corpus_spark(spark, 300, 4).persist()
    b0 = src.filter(F.crc32(F.col("path")) % 3 != 0)
    b1 = src.filter(F.crc32(F.col("path")) % 3 == 0)
    build_index(spark, b0, out, num_partitions=4)
    merge_segments(spark, out, fan_in=2)
    m = append_batch(spark, b1, out, epoch=0, num_partitions=4)
    assert m["doc_count"] == 300
    s = IndexSearcher(spark, out)
    # engine count over merged+appended == full-corpus recompute
    toks = src.select(
        F.filter(F.split(F.lower("content"), r"(?U)\W+"), lambda x: x != "").alias("t")
    )
    for term in ["merge", "window", "value"]:
        want = toks.filter(F.array_contains("t", term)).count()
        assert s.count({"type": "term", "term": term}) == want, term
    assert read_manifest(out)["postings_dir"].startswith("postings_g")
    src.unpersist()


# --- synonym (blended stats) ---------------------------------------------------


def test_synonym_blended_rank_identity(searcher, oracle_idx):
    from lucene_rust_spark.oracle.bm25 import oracle_search, synonym_query

    q = synonym_query(["merge", "window"])
    got = searcher.search(q, k=20)
    want = oracle_search(oracle_idx, q, k=20)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want))
    # blended df differs from dismax/bool scoring: count matches OR count
    from lucene_rust_spark.oracle.bm25 import bool_query

    assert searcher.count(q) == searcher.count(bool_query(should=["merge", "window"]))


# --- StopFilter / CharFilter options -------------------------------------------


def test_stopword_charfilter_analyzer(spark, tmp_path):
    from lucene_rust_spark.corpus import gen_corpus_pandas, gen_corpus_spark
    from lucene_rust_spark.functions.analysis import ENGLISH_STOP_WORDS
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import (
        bool_query,
        build_oracle_index,
        oracle_search,
    )
    from lucene_rust_spark.search.searcher import IndexSearcher

    sw = ENGLISH_STOP_WORDS
    cf = [("[0-9]+", " ")]  # strip digits (CharFilter chain)
    out = str(tmp_path / "idx")
    build_index(
        spark, gen_corpus_spark(spark, 300, 4), out, num_partitions=4,
        stop_words=sw, char_filters=cf,
    )
    s = IndexSearcher(spark, out, cache=True)
    oidx = build_oracle_index(gen_corpus_pandas(300), 4, stop_words=sw, char_filters=cf)
    # stopwords and digit runs never reach the index
    assert s.term_stats(["the", "a"]) == {}
    assert s.count({"type": "regexp", "pattern": "[0-9]+"}) == 0
    q = bool_query(should=["merge", "window"])
    got = s.search(q, k=15)
    want = oracle_search(oidx, q, k=15)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want))


# --- multi-field indexing --------------------------------------------------------


def test_multi_field_index(spark, tmp_path):
    from lucene_rust_spark.corpus import gen_corpus_pandas, gen_corpus_spark
    from lucene_rust_spark.oracle.bm25 import build_oracle_index, oracle_search
    from lucene_rust_spark.search.multifield import (
        MultiFieldSearcher,
        build_multi_field_index,
        oracle_cross_field,
    )

    out = str(tmp_path / "mf")
    src = gen_corpus_spark(spark, 300, 4)
    build_multi_field_index(spark, src, out, fields=("content", "path", "lang"),
                            num_partitions=4)
    ms = MultiFieldSearcher(spark, out, cache=True)

    pdf = gen_corpus_pandas(300)
    oracles = {}
    for f in ("content", "path", "lang"):
        odf = pdf[["repo", "path", "commit", "lang"]].copy()
        odf["content"] = pdf[f].astype(str)
        oracles[f] = build_oracle_index(odf, 4)
    # doc_id spaces identical across fields (same key sort)
    assert (oracles["content"].doc_ids == oracles["path"].doc_ids).all()

    # single-field routing: rank identity per field
    lang_term = pdf["lang"].iloc[0]
    q_lang = {"type": "term", "field": "lang", "term": lang_term}
    got = ms.search(q_lang, k=10)
    want = oracle_search(oracles["lang"], {"type": "term", "term": lang_term}, k=10)
    assert got == [(d, float(np.float32(s))) for d, s in want]
    assert ms.count(q_lang) == int((pdf["lang"] == lang_term).sum())

    # cross-field boolean: content term AND lang term, scores combined in
    # pinned field:term order
    q = {
        "type": "bool",
        "must": [
            {"type": "term", "field": "content", "term": "merge"},
            {"type": "term", "field": "lang", "term": lang_term},
        ],
        "should": [],
        "must_not": [],
    }
    got = ms.search(q, k=15)
    want = oracle_cross_field(oracles, q, k=15)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want))
    # cross-field MUST_NOT
    q2 = {
        "type": "bool",
        "must": [{"type": "term", "field": "content", "term": "merge"}],
        "should": [],
        "must_not": [{"type": "term", "field": "lang", "term": lang_term}],
    }
    assert ms.count(q2) == ms.count({"type": "term", "term": "merge"}) - ms.count(q)


# --- plan shape: counts never sort ---------------------------------------------


def test_count_plan_has_no_global_sort(searcher):
    """TotalHitCount must not rank the world: the physical plan for the
    matching-doc set contains no Sort / TakeOrdered operator (the round-1
    engine sorted every hit to count them)."""
    from lucene_rust_spark.oracle.bm25 import bool_query

    for q in [
        {"type": "term", "term": "merge"},
        bool_query(must=["merge", "window"]),
        bool_query(should=["merge", "window", "batch"], min_should_match=2),
        bool_query(must=["merge"], must_not=["window"]),
    ]:
        plan = searcher.matching_docs_df(q)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrdered" not in plan, plan[:2000]
        assert "Sort " not in plan.replace("SortAggregate", "").replace(
            "SortMergeJoin", ""
        ), plan[:2000]


def test_append_keeps_terms_schema_and_ordinals(spark, tmp_path):
    """append_batch must write the same terms schema as build_index —
    including the dense global `ordinal` column — so the OrdinalMap
    invariant (ordinal == rank in the sorted dict, 0..n-1) survives
    appends instead of silently drifting."""
    import os

    import numpy as np

    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.manifest import read_manifest
    from lucene_rust_spark.streaming.incremental import append_batch

    out = str(tmp_path / "idx")
    src = gen_corpus_spark(spark, 200, 4).persist()
    b0 = src.filter(F.crc32(F.col("path")) % 2 == 0)
    b1 = src.filter(F.crc32(F.col("path")) % 2 == 1)
    build_index(spark, b0, out, num_partitions=4)
    built_schema = spark.read.parquet(os.path.join(out, "terms")).schema
    append_batch(spark, b1, out, epoch=0, num_partitions=4)
    m = read_manifest(out)
    t = spark.read.parquet(os.path.join(out, m["terms_dir"]))
    assert set(f.name for f in t.schema) == set(f.name for f in built_schema)
    assert t.schema == built_schema
    # both partial sets are under TERM_PARTIALS_DRIVER_MAX_ROWS: the driver
    # wrote each dict as one file
    for d in ("terms", m["terms_dir"]):
        assert os.listdir(os.path.join(out, d)) == ["part-00000.parquet"], d
    pdf = t.select("term", "ordinal").toPandas().sort_values("term").reset_index(drop=True)
    assert (pdf["ordinal"].to_numpy() == np.arange(len(pdf))).all()
    src.unpersist()


# --- exact Lucene sloppy semantics (slop_mode='lucene') ------------------------


def test_lucene_sloppy_freq_kernel():
    """Kernel invariants against brute force: a match exists iff some
    per-slot choice of adjusted positions has spread <= slop, and slop=0
    freq equals the exact-adjacency occurrence count."""
    import itertools
    import random

    from lucene_rust_spark.search.sloppy import lucene_sloppy_freq

    rng = random.Random(7)
    for trial in range(300):
        n_slots = rng.randint(2, 4)
        slots = [
            np.array(sorted(rng.sample(range(12), rng.randint(1, 4))), dtype=np.int64)
            for _ in range(n_slots)
        ]
        slop = rng.randint(0, 3)
        freq = lucene_sloppy_freq(slots, slop)
        exists = any(
            max(c) - min(c) <= slop for c in itertools.product(*[a.tolist() for a in slots])
        )
        assert (freq > 0) == exists, (slots, slop, freq)
        if slop == 0:
            exact = sum(
                1
                for c in itertools.product(*[a.tolist() for a in slots])
                if max(c) == min(c)
            )
            assert freq == exact, (slots, freq, exact)


def test_lucene_sloppy_tighter_than_pinned():
    """The documented divergence: 3 slots where every slot is within slop
    of the anchor but the total spread exceeds slop — pinned displacement
    window matches, Lucene does not."""
    from lucene_rust_spark.search.sloppy import lucene_sloppy_freq

    # adjusted positions: slot0 at 10, slot1 at 12, slot2 at 8; slop = 2
    # pinned: |12-10|<=2 and |8-10|<=2 -> anchor matches
    # lucene: spread = 12-8 = 4 > 2 -> no match
    slots = [np.array([10]), np.array([12]), np.array([8])]
    assert lucene_sloppy_freq(slots, 2) == 0.0
    assert lucene_sloppy_freq(slots, 4) > 0.0


def _common_distinct_bigram(oracle_idx):
    """Most common bigram whose two tokens differ (repeats unsupported in
    slop_mode='lucene')."""
    from collections import Counter

    from lucene_rust_spark.functions.analysis import tokenize

    c = Counter()
    for text in oracle_idx.contents[:200]:
        toks = tokenize(text)
        c.update((x, y) for x, y in zip(toks, toks[1:]) if x != y)
    (a, b), _n = c.most_common(1)[0]
    return [a, b]


def test_lucene_sloppy_rank_identity(pos_searcher, pos_oracle):
    """Engine slop_mode='lucene' == oracle running the same shared kernel,
    float32 score identity, for a 3-term sloppy phrase."""
    from lucene_rust_spark.oracle.bm25 import oracle_search, phrase_query

    a, b = _common_distinct_bigram(pos_oracle)
    third = "value" if "value" not in (a, b) else "token"
    for slop in (0, 1, 2, 3):
        q = phrase_query([a, b, third], slop=slop, slop_mode="lucene")
        got = pos_searcher.search(q, k=20)
        want = oracle_search(pos_oracle, q, k=20)
        assert [d for d, _ in got] == [d for d, _ in want], (slop, got, want)
        assert all(
            np.float32(x) == np.float32(y) for (_, x), (_, y) in zip(got, want)
        )
    # 2-term: lucene and pinned agree on the MATCH SET (both exact there)
    q_l = phrase_query([a, b], slop=2, slop_mode="lucene")
    q_p = phrase_query([a, b], slop=2)
    assert pos_searcher.count(q_l) == pos_searcher.count(q_p)


def test_lucene_sloppy_repeats_raise(pos_searcher):
    from lucene_rust_spark.oracle.bm25 import phrase_query

    with pytest.raises(NotImplementedError):
        pos_searcher.count(phrase_query(["merge", "merge"], slop=1, slop_mode="lucene"))


def test_weighted_fields_bm25f(spark, tmp_path):
    """BM25F-style weighted field sum: engine == per-field oracle scores
    combined with the same pinned fold and weights (float32)."""
    from lucene_rust_spark.corpus import gen_corpus_pandas, gen_corpus_spark
    from lucene_rust_spark.oracle.bm25 import build_oracle_index, oracle_search
    from lucene_rust_spark.search.multifield import (
        MultiFieldSearcher,
        build_multi_field_index,
        weighted_fields_df,
    )

    out = str(tmp_path / "mfw")
    src = gen_corpus_spark(spark, 250, 4)
    build_multi_field_index(spark, src, out, fields=("content", "path"),
                            num_partitions=4)
    ms = MultiFieldSearcher(spark, out, cache=True)
    pdf = gen_corpus_pandas(250)
    oracles = {}
    for f in ("content", "path"):
        odf = pdf[["repo", "path", "commit", "lang"]].copy()
        odf["content"] = pdf[f].astype(str)
        oracles[f] = build_oracle_index(odf, 4)

    term, weights = "merge", {"content": 1.0, "path": 3.0}
    got = {
        r["doc_id"]: r["score"]
        for r in weighted_fields_df(ms, term, weights, k=20).collect()
    }
    assert got
    # oracle recompute: w_f * per-field score, f32 fold in field order
    per_field = {
        f: dict(oracle_search(oracles[f], {"type": "term", "term": term},
                              k=oracles[f].doc_count))
        for f in weights
    }
    for d, s in got.items():
        acc = np.float32(0.0)
        for f in sorted(weights):  # 'content:' < 'path:' — label order
            if d in per_field[f]:
                acc = np.float32(
                    acc + np.float32(np.float32(weights[f]) * np.float32(per_field[f][d]))
                )
        assert np.float32(s) == acc, d


def test_update_documents(spark, tmp_path):
    """updateDocument: re-adding docs with the same (repo, path) replaces
    them — old versions tombstoned, new content searchable, doc_count of
    LIVE docs unchanged."""
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.search.searcher import IndexSearcher
    from lucene_rust_spark.streaming.incremental import update_documents

    out = str(tmp_path / "upd")
    src = gen_corpus_spark(spark, 200, 4).persist()
    build_index(spark, src, out, num_partitions=4)
    s0 = IndexSearcher(spark, out)
    n_live0 = s0.count({"type": "match_all"})
    assert n_live0 == 200

    # replace 30 docs: same keys, new content with a marker token
    batch = (
        src.limit(30)
        .withColumn("content", F.concat(F.lit("updated_marker_tok "), F.col("content")))
    )
    update_documents(spark, batch, out, epoch=0, num_partitions=4)
    s1 = IndexSearcher(spark, out)
    assert s1.count({"type": "match_all"}) == 200  # live count unchanged
    assert s1.count({"type": "term", "term": "updated_marker_tok"}) == 30
    # idempotent replay of the same epoch: append half is overwritten,
    # delete half re-tombstones the same (already dead) docs
    update_documents(spark, batch, out, epoch=0, num_partitions=4)
    s2 = IndexSearcher(spark, out)
    assert s2.count({"type": "match_all"}) == 200
    assert s2.count({"type": "term", "term": "updated_marker_tok"}) == 30
    src.unpersist()


def test_searcher_refresh(spark, tmp_path):
    """SearcherManager.maybeRefresh analog: a searcher opened before an
    append/delete sees the new generation after refresh(), and refresh is
    a no-op when nothing changed."""
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.deletes import delete_by_term
    from lucene_rust_spark.search.searcher import IndexSearcher
    from lucene_rust_spark.streaming.incremental import append_batch

    out = str(tmp_path / "idx")
    src = gen_corpus_spark(spark, 200, 4).persist()
    b0, b1 = src.limit(150), src.subtract(src.limit(150))
    build_index(spark, b0, out, num_partitions=4)
    s = IndexSearcher(spark, out, cache=True)
    assert s.count({"type": "match_all"}) == 150
    assert s.refresh() is False  # nothing changed

    append_batch(spark, b1, out, epoch=0, num_partitions=4)
    assert s.count({"type": "match_all"}) == 150  # old view until refresh
    assert s.refresh() is True
    assert s.count({"type": "match_all"}) == 200

    n_merge = s.count({"type": "term", "term": "merge"})
    delete_by_term(spark, out, "merge")
    assert s.refresh() is True
    assert s.count({"type": "term", "term": "merge"}) == 0
    assert s.count({"type": "match_all"}) == 200 - n_merge
    src.unpersist()


def test_soft_deletes_and_merge_reclaim(spark, tmp_path):
    """Soft deletes (clt/index/mod.rs:120-121 retention surface): a
    soft-deleted doc is invisible to a normal reader, visible to a
    soft_deletes=True reader; a merge reclaims hard AND soft tombstones
    (postings, norms, docmap, terms dict, manifest counters), after which
    both readers agree and the doc is truly gone."""
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.deletes import delete_by_ids, read_tombstones
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.search.searcher import IndexSearcher

    out = str(tmp_path / "sd_idx")
    src = gen_corpus_spark(spark, 200, 4)
    build_index(spark, src, out, num_partitions=4)
    s = IndexSearcher(spark, out)
    q = {"type": "term", "term": "merge"}
    hits = s.search(q, 50)
    n0 = s.count(q)
    assert n0 >= 3
    soft_victim, hard_victim = hits[0][0], hits[1][0]
    delete_by_ids(spark, out, [soft_victim], soft=True)
    delete_by_ids(spark, out, [hard_victim])

    normal = IndexSearcher(spark, out)
    assert normal.count(q) == n0 - 2  # both kinds invisible by default
    softr = IndexSearcher(spark, out, soft_deletes=True)
    assert softr.count(q) == n0 - 1  # soft-deleted visible, hard hidden
    assert soft_victim in {d for d, _ in softr.search(q, 50)}

    pre_doc_count = normal.doc_count
    pre_df = normal.term_stats(["merge"])["merge"]["doc_freq"]
    manifest = merge_segments(spark, out, fan_in=4)
    assert manifest["del_count"] == 0 and manifest["soft_del_count"] == 0
    assert manifest["doc_count"] == pre_doc_count - 2

    after = IndexSearcher(spark, out)
    after_soft = IndexSearcher(spark, out, soft_deletes=True)
    assert after.count(q) == n0 - 2
    assert after_soft.count(q) == n0 - 2  # reclaimed: flag shows nothing
    assert after.count({"type": "match_all"}) == pre_doc_count - 2
    # terms dict re-derived: df excludes the reclaimed docs
    assert after.term_stats(["merge"])["merge"]["doc_freq"] == pre_df - 2
    # tombstones folded: new readers see none
    assert read_tombstones(spark, out) is None
    # rank identity for the survivors (scores recompute identically:
    # avgdl changed with the reclaim, so compare against a fresh search)
    live = [d for d, _ in after.search(q, 50)]
    assert soft_victim not in live and hard_victim not in live

    # appends keep working after a reclaiming merge (stores moved to _gN)
    from lucene_rust_spark.streaming.incremental import append_batch

    extra = gen_corpus_spark(spark, 20, 2).withColumn(
        "repo", F.concat(F.lit("post_"), F.col("repo"))
    )
    append_batch(spark, extra, out, epoch=0, num_partitions=2)
    s3 = IndexSearcher(spark, out)
    assert s3.count({"type": "match_all"}) == pre_doc_count - 2 + 20
    # the refreshed terms dict covers the merged AND the appended docs:
    # it equals the stats of every live postings block
    from lucene_rust_spark.index.build import block_term_stats
    from lucene_rust_spark.index.manifest import read_manifest

    m3 = read_manifest(out)
    cols = ["term", "doc_freq", "total_term_freq", "n_blocks"]
    got = spark.read.parquet(os.path.join(out, m3["terms_dir"])).select(*cols)
    want = block_term_stats(spark.read.parquet(os.path.join(out, m3["postings_dir"])))
    assert sorted(got.collect()) == sorted(want.select(*cols).collect())


def test_payload_fn_registry_across_appends(spark, tmp_path):
    """VERDICT r3 item 8: appends onto an index built with a REGISTERED
    custom payload fn replay it by name; an unregistered fn is recorded as
    'custom' and appends refuse it instead of silently downgrading."""
    import numpy as np

    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.functions.analysis import register_payload_fn
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.manifest import read_manifest
    from lucene_rust_spark.search.searcher import IndexSearcher
    from lucene_rust_spark.streaming.incremental import append_batch

    def mod5(tokens, positions):
        return (positions % 5).astype(np.uint8)

    register_payload_fn("pos_mod5", mod5)
    src = gen_corpus_spark(spark, 60, 2).persist()
    b0, b1 = src.limit(40), src.subtract(src.limit(40))

    out = str(tmp_path / "pidx")
    build_index(spark, b0, out, num_partitions=2, positions=True, payloads=mod5)
    assert read_manifest(out)["payload_fn"] == "pos_mod5"
    append_batch(spark, b1, out, epoch=0, num_partitions=2)
    s = IndexSearcher(spark, out)
    pays = s.term_payloads(["x"]).collect()  # df = every doc
    assert pays and all(r["payload"] == r["pos"] % 5 for r in pays)
    # appended docs (epoch part-id namespace) carry the custom fn too
    from lucene_rust_spark.index.build import PARTITION_SHIFT

    appended = [r for r in pays if (r["doc_id"] >> PARTITION_SHIFT) >= 4096]
    assert appended, "no appended doc contains the probe term"

    # unregistered fn: build records 'custom', append refuses
    def secret(tokens, positions):
        return (positions % 3).astype(np.uint8)

    out2 = str(tmp_path / "pidx2")
    build_index(spark, b0, out2, num_partitions=2, positions=True, payloads=secret)
    assert read_manifest(out2)["payload_fn"] == "custom"
    with pytest.raises(ValueError, match="UNREGISTERED"):
        append_batch(spark, b1, out2, epoch=0, num_partitions=2)
    src.unpersist()


def test_blended_cross_field(spark, tmp_path):
    """Cross-field BlendedTermQuery (the dismax+blend combo): one term
    against several fields with unequal boosts, df/ttf blended to the max
    across (field, term) clauses, per-field norms — engine vs the numpy
    oracle bit-for-bit, and the blend must actually shift scores vs the
    unblended per-field weighted sum."""
    from lucene_rust_spark.corpus import gen_corpus_pandas, gen_corpus_spark
    from lucene_rust_spark.oracle.bm25 import build_oracle_index
    from lucene_rust_spark.search.multifield import (
        MultiFieldSearcher,
        blended_cross_field_df,
        build_multi_field_index,
        oracle_blended_cross_field,
    )

    out = str(tmp_path / "mfb")
    src = gen_corpus_spark(spark, 300, 4)
    build_multi_field_index(spark, src, out, fields=("content", "path"),
                            num_partitions=4)
    ms = MultiFieldSearcher(spark, out, cache=True)
    pdf = gen_corpus_pandas(300)
    oracles = {}
    for f in ("content", "path"):
        odf = pdf[["repo", "path", "commit", "lang"]].copy()
        odf["content"] = pdf[f].astype(str)
        oracles[f] = build_oracle_index(odf, 4)

    # 'src18' appears in path values (repo dirs) and possibly content
    probe = pdf["path"].iloc[0].split("/")[0].lower()
    clauses = [("content", "merge", 2.0), ("path", probe, 0.5)]
    got = [
        (int(r["doc_id"]), float(np.float32(r["score"])))
        for r in blended_cross_field_df(ms, clauses, tie=0.01, k=10).collect()
    ]
    want = oracle_blended_cross_field(oracles, clauses, tie=0.01, k=10)
    assert got == want and got
    # duplicate clause rejected
    with pytest.raises(ValueError):
        blended_cross_field_df(ms, [("content", "merge", 1.0), ("content", "merge", 2.0)])
