"""Engine vs oracle for the extended query surface (SURVEY.md §2.5-2.6):
multi-term expansion queries, boost/const-score wrappers, match-all,
dismax, and alternative similarities."""

import pytest

from lucene_rust_spark.oracle.bm25 import bool_query, oracle_search, term_query

CASES = [
    {"type": "prefix", "prefix": "get"},
    {"type": "prefix", "prefix": "zzznope"},
    {"type": "range", "lo": "m", "hi": "mz"},
    {"type": "range", "lo": "batch", "hi": "bb"},
    {"type": "wildcard", "pattern": "val*"},
    {"type": "wildcard", "pattern": "?alue"},
    {"type": "regexp", "pattern": "va[ln].*"},
    {"type": "fuzzy", "term": "vlaue", "max_edits": 2},
    {"type": "fuzzy", "term": "token", "max_edits": 1},
    {"type": "in_set", "terms": ["value", "token", "zzznope"]},
    {"type": "match_all"},
    {"type": "boost", "boost": 2.5, "query": term_query("token")},
    {"type": "boost", "boost": 0.5, "query": bool_query(should=["token", "value"])},
    {"type": "const_score", "score": 3.0, "query": term_query("token")},
    {
        "type": "dismax",
        "tie": 0.3,
        "queries": [term_query("token"), term_query("value"), term_query("index")],
    },
    {"type": "dismax", "tie": 0.0, "queries": [term_query("token"), term_query("merge_mut")]},
    # BlendedTermQuery: UNEQUAL boosts across >= 2 terms (VERDICT r3 item 5)
    {
        "type": "blended",
        "tie": 0.01,
        "terms": [
            {"term": "token", "boost": 2.0},
            {"term": "value", "boost": 0.5},
            {"term": "index", "boost": 1.0},
        ],
    },
    {
        "type": "blended",
        "tie": 0.1,
        "terms": [{"term": "merge_mut", "boost": 3.0}, {"term": "token", "boost": 1.0}],
    },
]


@pytest.mark.parametrize(
    "q", CASES, ids=lambda q: q["type"] + ":" + str(list(q.values())[1:2])[:20]
)
def test_query_type_rank_identity(searcher, oracle_idx, q):
    assert searcher.search(q, 10) == oracle_search(oracle_idx, q, 10)


@pytest.mark.parametrize(
    "sim",
    ["classic", "boolean", "lmd", "lmjm", "dfr_inl2", "ib_ll", "dfi",
     "ax_f2exp", "multi"],
)
def test_alt_similarities(spark, t1_index, oracle_idx, sim):
    from lucene_rust_spark.search.searcher import IndexSearcher

    out, _ = t1_index
    s = IndexSearcher(spark, out, similarity=sim)
    for q in [term_query("token"), bool_query(should=["token", "value", "index"]),
              bool_query(must=["token", "index"])]:
        assert s.search(q, 10) == oracle_search(oracle_idx, q, 10, similarity=sim)


def test_blended_distributed_parity(searcher, oracle_idx):
    """Blended boosts through the DISTRIBUTED plan (driver path off) must
    match the oracle bit-for-bit, and the blend must actually change
    ranks vs plain dismax when boosts are unequal."""
    from lucene_rust_spark.oracle.bm25 import blended_query

    q = blended_query([("token", 2.0), ("value", 0.25)], tie=0.01)
    expect = oracle_search(oracle_idx, q, 10)
    old = searcher.DRIVER_EXEC_MAX_POSTINGS
    searcher.DRIVER_EXEC_MAX_POSTINGS = 0
    try:
        assert searcher.search(q, 10) == expect
    finally:
        searcher.DRIVER_EXEC_MAX_POSTINGS = old
    # duplicate terms are rejected, not silently merged
    import pytest as _pytest

    with _pytest.raises(ValueError):
        searcher.search(blended_query([("token", 1.0), ("token", 2.0)]), 5)


def test_field_exists(spark, tmp_path):
    """FieldExistsQuery: docs with >= 1 token in the field; soft path via
    norms dl > 0, deletes respected."""
    import pandas as pd

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.deletes import delete_by_ids
    from lucene_rust_spark.search.searcher import IndexSearcher

    rows = []
    for i in range(30):
        rows.append(
            {
                "repo": "r", "path": f"f{i}", "commit": "c", "lang": "x",
                "content": "" if i % 3 == 0 else f"tok{i} shared",
            }
        )
    src = spark.createDataFrame(pd.DataFrame(rows))
    out = str(tmp_path / "fx_idx")
    build_index(spark, src, out, num_partitions=4)
    s = IndexSearcher(spark, out)
    q = {"type": "field_exists"}
    assert s.count(q) == 20
    hits = s.search_df(q, 30).collect()
    assert len(hits) == 20 and all(abs(r["score"] - 1.0) < 1e-6 for r in hits)
    # delete one matching doc: the match set must shrink
    victim = hits[0]["doc_id"]
    delete_by_ids(spark, out, [int(victim)])
    s2 = IndexSearcher(spark, out)
    assert s2.count(q) == 19


def _seeded_bool_queries(searcher, seed: int, n: int) -> list:
    """Seeded term/bool queries over the index vocabulary: term, OR,
    AND, AND-NOT and min-should-match shapes, some with a SHOULD term
    absent from the index."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = sorted(t for t, (df, _) in searcher._term_dict.items() if df >= 20)
    pick = lambda m: [str(t) for t in rng.choice(vocab, m, replace=False)]  # noqa: E731
    out = []
    for i in range(n):
        shape = i % 5
        if shape == 0:
            out.append(term_query(pick(1)[0]))
        elif shape == 1:
            out.append(bool_query(should=pick(int(rng.integers(2, 5)))))
        elif shape == 2:
            out.append(bool_query(must=pick(2)))
        elif shape == 3:
            a, b, c = pick(3)
            out.append(bool_query(must=[a], should=[b], must_not=[c]))
        else:
            out.append(
                bool_query(should=pick(2) + ["zzz_absent"], min_should_match=2)
            )
    return out


def _three_paths(s, q, k, search_after, S, monkeypatch):
    """(driver, reader task, shuffle) results of one search."""
    s.DRIVER_EXEC_MAX_POSTINGS = 10**9
    drv = s.search(q, k, search_after=search_after)
    s.DRIVER_EXEC_MAX_POSTINGS = 0
    fused = s.search(q, k, search_after=search_after)  # one task, ranked in it
    monkeypatch.setattr(S, "FUSED_MAX_POSTINGS", 0)
    shuf = s.search(q, k, search_after=search_after)  # decode + groupBy exchange
    monkeypatch.setattr(S, "FUSED_MAX_POSTINGS", 1_000_000)
    return drv, fused, shuf


def _assert_paths_agree(s, queries, S, monkeypatch):
    pages2 = 0
    for i, q in enumerate(queries):
        k = (3, 10)[i % 2]
        drv, fused, shuf = _three_paths(s, q, k, None, S, monkeypatch)
        assert drv == fused == shuf, (q, k)
        if len(drv) == k:  # page 2, keyed by page 1's last (score, doc)
            after = (drv[-1][1], drv[-1][0])
            page2 = _three_paths(s, q, k, after, S, monkeypatch)
            assert page2[0] == page2[1] == page2[2], (q, k, "page 2")
            assert not set(page2[0]) & set(drv)
            pages2 += bool(page2[0])
    assert pages2 >= len(queries) // 2


def test_fused_vs_shuffle_bool_plans(spark, searcher, t1_index, monkeypatch, tmp_path):
    """The driver path, the reader task (one task that reads the postings
    files and ranks the top-k) and the multi-task shuffle plan (forced via
    FUSED_MAX_POSTINGS=0) agree bit-for-bit on seeded term/bool queries,
    on search_after pages, and under tombstones — with the live-docs
    filter inside the reader task and, above the driver tombstone cap,
    through _finish's anti-join over the fused DataFrame plan. hits_df's
    fused plan equals the shuffle plan. The same holds on views whose
    files a fresh build does not have: several segment groups after an
    append, a tiered merge with a passthrough segment, a past commit."""
    import shutil

    import lucene_rust_spark.search.searcher as S
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.search.searcher import IndexSearcher
    from lucene_rust_spark.streaming.incremental import append_batch

    queries = [
        term_query("token"),
        bool_query(should=["token", "value", "index"]),
        bool_query(must=["token", "index"], must_not=["merge_mut"]),
        bool_query(should=["token", "value", "index"], min_should_match=2),
    ] + _seeded_bool_queries(searcher, seed=6, n=8)
    saved = searcher.DRIVER_EXEC_MAX_POSTINGS
    try:
        _assert_paths_agree(searcher, queries, S, monkeypatch)
        # hits_df (k=None): the same kernel, every match, unranked
        searcher.DRIVER_EXEC_MAX_POSTINGS = 0
        for q in queries[:4]:
            fused = sorted(map(tuple, searcher.hits_df(q).collect()))
            monkeypatch.setattr(S, "FUSED_MAX_POSTINGS", 0)
            shuf = sorted(map(tuple, searcher.hits_df(q).collect()))
            monkeypatch.setattr(S, "FUSED_MAX_POSTINGS", 1_000_000)
            assert fused == shuf, q
    finally:
        searcher.DRIVER_EXEC_MAX_POSTINGS = saved

    # deletes: tombstone every other doc of each query's driver top-10
    dead = sorted({d for q in queries for d, _ in searcher.search(q, 10)[::2]})
    tomb = spark.createDataFrame([(d,) for d in dead], "doc_id long")
    out, _ = t1_index
    deleted = IndexSearcher(spark, out, cache=True, tombstones=tomb)
    try:
        _assert_paths_agree(deleted, queries, S, monkeypatch)
        expect = {}
        for q in queries:
            deleted.DRIVER_EXEC_MAX_POSTINGS = 10**9
            expect[repr(q)] = deleted.search(q, 10)
            assert not {d for d, _ in expect[repr(q)]} & set(dead), q
    finally:
        deleted.close()
    # above the driver's tombstone cap: no driver path and no reader task;
    # the fused DataFrame plan hands its hits to _finish's anti-join
    many = IndexSearcher(spark, out, cache=True, tombstones=tomb)
    many._tomb_count = 10**6
    try:
        for q in queries:
            assert many.search(q, 10) == expect[repr(q)], q
    finally:
        many.close()

    # other file layouts, on a copy of the index: an appended segment
    # group (a small one, so the tiered merge passes it through), the
    # tiered merge, and the commit point from before the merge
    copy = str(tmp_path / "t1_copy")
    shutil.copytree(out, copy)
    grown = IndexSearcher(spark, copy, cache=True)
    try:
        append_batch(spark, gen_corpus_spark(spark, 20, 1), copy, epoch=0, num_partitions=1)
        assert grown.refresh()
        appended = grown.manifest["generation"]
        assert len({s_.get("group", 0) for s_ in grown.manifest["segments"]}) == 2
        _assert_paths_agree(grown, queries, S, monkeypatch)
        merge_segments(spark, copy, fan_in=4, policy="tiered")
        assert grown.refresh()
        _assert_paths_agree(grown, queries, S, monkeypatch)
    finally:
        grown.close()
    past = IndexSearcher(spark, copy, cache=True, commit=appended)
    try:
        _assert_paths_agree(past, queries, S, monkeypatch)
    finally:
        past.close()


def test_fused_query_py4j_budget(spark, searcher, monkeypatch):
    """A forced-distributed term query and a 3-term bool query each run
    their reader task in at most 12 py4j round trips: the spec's one-row
    RDD, the PythonRDD over the view's bound function, its collect and
    the one result element (6 measured). Only this thread's calls count:
    py4j's finalizer thread sends deletes for earlier queries' objects at
    its own pace."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = type(client).send_command
    me = threading.get_ident()
    calls = []

    def counted(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(command.split("\n", 2)[:2])
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(searcher, "DRIVER_EXEC_MAX_POSTINGS", 0)
    searcher.search(term_query("value"), 10)  # binds the view's reader task
    monkeypatch.setattr(type(client), "send_command", counted)
    for q in (term_query("token"), bool_query(should=["token", "value", "index"])):
        calls.clear()
        assert len(searcher.search(q, 10)) == 10
        assert len(calls) <= 12, calls


def test_term_vector_and_mlt(searcher, oracle_idx):
    """term_vector(doc_id) round-trips the oracle's per-doc counts
    (VERDICT r3 item 6); more_like_this ranks the source doc first."""
    import numpy as np

    for pos in (0, 7, len(oracle_idx.doc_ids) // 2):
        did = int(oracle_idx.doc_ids[pos])
        got = {
            r["term"]: int(r["tf"])
            for r in searcher.term_vector(did).collect()
        }
        want = {
            t: int(tf[np.searchsorted(ix, pos)])
            for t, (ix, tf) in oracle_idx.postings.items()
            if pos in ix
        }
        assert got == want, did
    did = int(oracle_idx.doc_ids[0])
    mlt = searcher.more_like_this(did, k=5)
    # the source matches every clause — it lands in the top k (not
    # necessarily first: shorter docs sharing the terms can outscore it)
    assert did in [d for d, _ in mlt]


def test_expansion_cap(searcher, monkeypatch):
    """A vocabulary-sized expansion must raise TooManyClauses AND ship at
    most cap+1 rows to the driver — the cap lives inside the kernel +
    limit(), so a broad range query over a 100-TB dictionary fails fast
    instead of collecting the vocabulary (clt/search/index_searcher.rs:1)."""
    from lucene_rust_spark.search.rewrite import MAX_EXPANSIONS

    cls = type(searcher.terms)  # the concrete DataFrame class in use
    shipped = {}
    orig = cls.collect

    def spy(self):
        out = orig(self)
        shipped["n"] = len(out)
        return out

    monkeypatch.setattr(cls, "collect", spy)
    with pytest.raises(ValueError):
        searcher.search({"type": "range", "lo": None, "hi": None}, 5)  # all terms
    assert shipped["n"] <= MAX_EXPANSIONS + 1


def test_phrase_query(spark, tmp_path_factory):
    """Positional index + PhraseQuery, engine vs oracle (built fresh with
    positions=True)."""
    from lucene_rust_spark.corpus import gen_corpus_pandas, gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import build_oracle_index, oracle_search, phrase_query
    from lucene_rust_spark.search.searcher import IndexSearcher

    out = str(tmp_path_factory.mktemp("pos") / "idx")
    build_index(spark, gen_corpus_spark(spark, 500, 4), out, num_partitions=4, positions=True)
    oidx = build_oracle_index(gen_corpus_pandas(500), 4)
    s = IndexSearcher(spark, out, cache=True)

    # pick a bigram that actually occurs: take one from doc 0's tokens
    from lucene_rust_spark.functions.analysis import tokenize

    toks = tokenize(oidx.contents[0])
    bigram = [toks[10], toks[11]]
    trigram = [toks[20], toks[21], toks[22]]
    for terms in [bigram, trigram, ["zzz_never", "appears"]]:
        q = phrase_query(terms)
        assert s.search(q, 10) == oracle_search(oidx, q, 10), terms
    # phrase hits must be a subset of the AND hits
    from lucene_rust_spark.oracle.bm25 import bool_query

    n_phrase = len(oracle_search(oidx, phrase_query(bigram), 1000))
    n_and = len(oracle_search(oidx, bool_query(must=bigram), 1000))
    assert 1 <= n_phrase <= n_and


@pytest.mark.parametrize("sim_name", ["lmd", "lmjm", "ib_ll", "dfi"])
def test_synonym_blended_stats_lm(spark, t1_index, oracle_idx, sim_name):
    """SynonymQuery under the LM/IB/DFI families: both stats must blend
    (df = max, ttf = sum) and feed sim.weight — not the degenerate
    idf() == 1.0. Parity alone can't catch a both-sides regression, so the
    top hit is also checked against a first-principles kernel call."""
    import numpy as np

    from lucene_rust_spark.functions.similarities import get_similarity
    from lucene_rust_spark.oracle.bm25 import synonym_query
    from lucene_rust_spark.search.searcher import IndexSearcher

    out, _ = t1_index
    q = synonym_query(["merge", "index"])
    s = IndexSearcher(spark, out, cache=True, similarity=sim_name)
    got = s.search(q, k=10)
    want = oracle_search(oracle_idx, q, k=10, similarity=sim_name)
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(
        np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want)
    )
    # first principles: score(freq_sum, dlq, weight(df_max, ttf_sum))
    sim = get_similarity(sim_name, oracle_idx.doc_count, oracle_idx.sum_ttf)
    ixa, tfa = oracle_idx.postings["merge"]
    ixb, tfb = oracle_idx.postings["index"]
    freq = np.zeros(oracle_idx.doc_count, dtype=np.int64)
    freq[ixa] += tfa
    freq[ixb] += tfb
    df_blend = max(len(ixa), len(ixb))
    ttf_sum = int(tfa.sum()) + int(tfb.sum())
    w = np.float32(sim.weight(df_blend, ttf_sum))
    assert w != np.float32(1.0), "blended weight degenerated to 1.0"
    top_doc, top_score = got[0]
    i = int(np.flatnonzero(oracle_idx.doc_ids == top_doc)[0])
    expected = sim.score(
        freq[[i]], oracle_idx.dlq[[i]], np.full(1, w, dtype=np.float32)
    )[0]
    assert np.float32(top_score) == np.float32(expected)


def test_search_by_field(spark, searcher, t1_index):
    """TopFieldCollector analog: field sort over docmap columns with
    reverse + missing-value placement — checked against a pandas sort of
    the same match set (clt/search/mod.rs:157, field_comparator.rs)."""
    import numpy as np
    import pandas as pd

    q = bool_query(should=["merge", "window"])
    match = searcher.matching_docs_df(q).join(searcher.docmap, "doc_id").toPandas()
    # path asc: plain string order, unique key
    got = searcher.search_by_field(q, [{"field": "path"}], k=12).toPandas()
    want = match.sort_values("path").head(12)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    # repo desc then path asc
    got = searcher.search_by_field(
        q, [{"field": "repo", "reverse": True}, {"field": "path"}], k=12
    ).toPandas()
    want = match.sort_values(["repo", "path"], ascending=[False, True]).head(12)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    # _score desc (the default for _score) with repo asc as primary:
    # expected ordering from the engine's own scored hits + docmap
    hits = searcher.search_df(q, k=searcher.doc_count).toPandas()
    joined = hits.merge(match[["doc_id", "repo"]], on="doc_id")
    got = searcher.search_by_field(
        q, [{"field": "repo"}, {"field": "_score"}], k=12
    ).toPandas()
    want = joined.sort_values(
        ["repo", "score", "doc_id"], ascending=[True, False, True]
    ).head(12)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert all(
        np.float32(a) == np.float32(b)
        for a, b in zip(got["score"], want["score"])
    )


def test_search_by_field_missing_values(spark, tmp_path):
    """SortField missing-value semantics (core/src/search/sort.rs:150-205):
    'last' treats null as +inf in NATURAL order (reverse flips it to the
    front), 'first' as -inf, and a numeric missing value substitutes."""
    import pandas as pd

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.search.searcher import IndexSearcher

    rows = []
    for i in range(20):
        lang = None if i % 5 == 0 else f"l{i % 3}"
        rows.append((f"r{i % 2}", f"p/{i:03d}", "c", lang, f"alpha tok{i}"))
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    out = str(tmp_path / "idx")
    build_index(spark, src, out, num_partitions=2)
    s = IndexSearcher(spark, out)
    q = {"type": "term", "term": "alpha"}

    asc_last = s.search_by_field(q, [{"field": "lang"}], k=20).toPandas()
    assert asc_last["lang"].notna()[: 20 - 4].all() and asc_last["lang"].isna()[-4:].all()
    langs = asc_last["lang"].dropna().tolist()
    assert langs == sorted(langs)

    asc_first = s.search_by_field(
        q, [{"field": "lang", "missing": "first"}], k=20
    ).toPandas()
    assert asc_first["lang"].isna()[:4].all()

    # reverse + missing 'last' (natural +inf) => missing come FIRST
    desc_last = s.search_by_field(
        q, [{"field": "lang", "reverse": True, "missing": "last"}], k=20
    ).toPandas()
    assert desc_last["lang"].isna()[:4].all()
    langs = desc_last["lang"].dropna().tolist()
    assert langs == sorted(langs, reverse=True)


def test_multi_similarity_is_mean_of_subs(spark, t1_index, oracle_idx):
    """MultiSimilarity = float32 arithmetic mean of its sub-scores, checked
    doc-by-doc against separately-run bm25 and classic searches."""
    import numpy as np

    from lucene_rust_spark.search.searcher import IndexSearcher

    out, _ = t1_index
    q = term_query("token")
    full_k = 50
    sub = {}
    for name in ("bm25", "classic"):
        s = IndexSearcher(spark, out, similarity=name)
        sub[name] = dict(s.search(q, k=full_k))
    sm = IndexSearcher(spark, out, similarity="multi")
    got = sm.search(q, k=20)
    assert len(got) == 20
    for d, sc in got:
        want = np.float32(
            (np.float32(0.0) + np.float32(sub["bm25"][d]) + np.float32(sub["classic"][d]))
            / np.float32(2.0)
        )
        assert np.float32(sc) == want, (d, sc, want)


def test_facet_counts(searcher):
    """Facets == groupBy over the matching doc set (pandas recompute)."""
    q = bool_query(should=["merge", "window"])
    match = searcher.matching_docs_df(q).join(searcher.docmap, "doc_id").toPandas()
    want = (
        match.groupby("lang").size().reset_index(name="count")
        .sort_values(["count", "lang"], ascending=[False, True])
        .head(3)
    )
    got = searcher.facet_counts(q, "lang", top_n=3).toPandas()
    assert got["lang"].tolist() == want["lang"].tolist()
    assert got["count"].tolist() == want["count"].tolist()
    with pytest.raises(ValueError):
        searcher.facet_counts(q, "nope")


def test_query_rescorer(searcher, oracle_idx):
    """QueryRescorer: combined = first + w * rescore on the first-pass
    window, float32; docs not matching the rescore query keep their
    first-pass score; result limited to the window (never widened)."""
    import numpy as np

    q1 = bool_query(should=["merge", "window"])
    q2 = term_query("value")
    first = searcher.search_df(q1, k=30)
    out = {r["doc_id"]: r["score"] for r in searcher.rescore(first, q2, weight=2.0, k=10).collect()}
    base = dict(searcher.search(q1, k=30))
    rsc = dict(searcher.search(q2, k=searcher.doc_count))
    for d, s in out.items():
        expect = np.float32(
            np.float32(base[d]) + np.float32(np.float32(2.0) * np.float32(rsc.get(d, 0.0)))
        )
        assert np.float32(s) == expect, d
    # the rescored top-k only contains first-pass window docs
    assert set(out) <= set(base)


def test_driver_path_equals_distributed(searcher):
    """The small-query driver path must be byte-identical to the
    distributed plan: toggle the crossover to force each side."""
    queries = [
        term_query("merge"),
        bool_query(should=["merge", "window", "value"]),
        bool_query(must=["merge", "value"], must_not=["window"]),
        bool_query(should=["merge", "window", "batch"], min_should_match=2),
    ]
    saved = searcher.DRIVER_EXEC_MAX_POSTINGS
    try:
        for q in queries:
            searcher.DRIVER_EXEC_MAX_POSTINGS = 10**9
            drv = searcher.search(q, 10)
            drv_n = searcher.count(q)
            searcher.DRIVER_EXEC_MAX_POSTINGS = 0  # force distributed
            dist = searcher.search(q, 10)
            dist_n = searcher.count(q)
            assert drv == dist, q
            assert drv_n == dist_n, q
        # search_after pages agree too
        searcher.DRIVER_EXEC_MAX_POSTINGS = 10**9
        q = bool_query(should=["merge", "window"])
        page1 = searcher.search(q, 5)
        drv2 = searcher.search(q, 5, search_after=page1[-1])
        searcher.DRIVER_EXEC_MAX_POSTINGS = 0
        dist2 = searcher.search(q, 5, search_after=page1[-1])
        assert drv2 == dist2
    finally:
        searcher.DRIVER_EXEC_MAX_POSTINGS = saved


def test_explain(searcher):
    """explain(): the Explanation tree's value equals the search score
    exactly (float32), details are per-clause consistent, and
    non-matching docs give a reason instead of a score."""
    import numpy as np

    q = bool_query(must=["merge"], should=["window"], must_not=["batch"])
    hits = searcher.search(q, 5)
    assert hits
    for d, s in hits[:3]:
        ex = searcher.explain(q, d)
        assert ex["match"] is True
        assert np.float32(ex["value"]) == np.float32(s), d
        descs = " | ".join(det["description"] for det in ex["details"])
        assert "'merge'" in descs and "MUST" in descs
    # a doc that matches the MUST_NOT term must be rejected with a reason
    bad = searcher.search(term_query("batch"), 1)[0][0]
    ex = searcher.explain(q, bad)
    assert ex["match"] is False and "MUST_NOT" in ex["description"]
    # a doc missing the MUST term
    only_window = searcher.search(
        bool_query(must=["window"], must_not=["merge"]), 1
    )
    if only_window:
        ex = searcher.explain(q, only_window[0][0])
        assert ex["match"] is False and "MUST clause" in ex["description"]


def test_ngram_phrase_query(spark, tmp_path_factory):
    """NGramPhraseQuery (clt/search/n_gram_phrase_query.rs): over an
    n-gram token stream, the optimized phrase (every n-th gram + last)
    must produce the SAME match set as the full PhraseQuery while
    consulting fewer terms; slop > 0 falls back to the standard phrase."""
    import pandas as pd

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import ngram_phrase_query, phrase_query
    from lucene_rust_spark.search.searcher import IndexSearcher, _ngram_keep

    def grams(s, n=3):
        return [s[i : i + n] for i in range(len(s) - n + 1)]

    words = [
        "sparkline", "sparkplug", "sparse", "parquet", "partition",
        "sharkfin", "parkway", "sparking", "spartan", "linespark",
    ]
    rows = [
        {
            "repo": "r", "path": f"doc/{i}", "commit": str(i),
            "lang": "en", "content": " ".join(grams(w)),
        }
        for i, w in enumerate(words)
    ]
    out = str(tmp_path_factory.mktemp("ngram") / "idx")
    build_index(
        spark, spark.createDataFrame(pd.DataFrame(rows)), out,
        num_partitions=2, positions=True,
    )
    s = IndexSearcher(spark, out, cache=True)

    for probe in ["spark", "park", "parti", "sparkl", "zzzzz"]:
        g = grams(probe)
        full = s.search(phrase_query(g), 20)
        opt = s.search(ngram_phrase_query(g, 3), 20)
        assert [d for d, _ in opt] == [d for d, _ in full], probe
        # fewer slots actually consulted (the optimization is real)
        if len(g) > 2:
            assert len(_ngram_keep(len(g), 3)) < len(g)
        # sloppy falls back to the full phrase — identical scores too
        assert s.search(ngram_phrase_query(g, 3, slop=1), 20) == s.search(
            phrase_query(g, slop=1), 20
        ), probe

    # count path agrees with the search path
    g = grams("spark")
    assert s.count(ngram_phrase_query(g, 3)) == len(s.search(phrase_query(g), 20))

    # distributed path parity (force off the driver fast path)
    s.DRIVER_EXEC_MAX_POSTINGS = 0
    g = grams("parti")
    dist = s.search(ngram_phrase_query(g, 3), 20)
    s.DRIVER_EXEC_MAX_POSTINGS = IndexSearcher.DRIVER_EXEC_MAX_POSTINGS
    drv = s.search(ngram_phrase_query(g, 3), 20)
    assert [d for d, _ in dist] == [d for d, _ in drv]


def test_ngram_phrase_dataframe_path_slop_and_lucene_mode(spark, tmp_path_factory):
    """The DataFrame (matching_docs_df / count) path must normalize
    sloppy ngram phrases to full PhraseQuery and never route ngram
    phrases through the lucene sloppy kernel (whose position adjustment
    assumes consecutive slots, not kept-gram offsets)."""
    import pandas as pd

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import ngram_phrase_query, phrase_query
    from lucene_rust_spark.search.searcher import IndexSearcher

    def grams(s, n=3):
        return [s[i : i + n] for i in range(len(s) - n + 1)]

    words = [
        "sparkline", "sparkplug", "sparse", "parquet", "partition",
        "sharkfin", "parkway", "sparking", "spartan", "linespark",
    ]
    rows = [
        {
            "repo": "r", "path": f"doc/{i}", "commit": str(i),
            "lang": "en", "content": " ".join(grams(w)),
        }
        for i, w in enumerate(words)
    ]
    out = str(tmp_path_factory.mktemp("ngram_df") / "idx")
    build_index(
        spark, spark.createDataFrame(pd.DataFrame(rows)), out,
        num_partitions=2, positions=True,
    )
    s = IndexSearcher(spark, out, cache=True)
    # force the DataFrame path everywhere
    s.DRIVER_EXEC_MAX_POSTINGS = 0
    try:
        for probe in ["spark", "parti", "sparkl"]:
            g = grams(probe)
            # slop>0 ngram == full phrase with the same slop (count path)
            assert s.count(ngram_phrase_query(g, 3, slop=1)) == s.count(
                phrase_query(g, slop=1)
            ), probe
            # exact ngram with slop_mode='lucene' must NOT take the
            # lucene sloppy kernel: match set == full exact phrase
            q = ngram_phrase_query(g, 3)
            q["slop_mode"] = "lucene"
            assert s.count(q) == s.count(phrase_query(g)), probe
            # and a sloppy lucene-mode ngram == sloppy lucene-mode phrase
            q = ngram_phrase_query(g, 3, slop=1)
            q["slop_mode"] = "lucene"
            assert s.count(q) == s.count(
                phrase_query(g, slop=1, slop_mode="lucene")
            ), probe
    finally:
        s.DRIVER_EXEC_MAX_POSTINGS = IndexSearcher.DRIVER_EXEC_MAX_POSTINGS


def test_query_visitor(searcher):
    """QueryVisitor (clt/search/query_visitor.rs): term extraction walks
    the AST, skips MUST_NOT by default, surfaces multi-term leaves as
    predicates, and custom sub-visitors see the occur boundaries."""
    from lucene_rust_spark.search.visitor import (
        MUST_NOT,
        QueryVisitor,
        extract_terms,
        visit_query,
    )

    q = {
        "type": "bool",
        "must": [{"type": "term", "term": "merge"}],
        "should": [
            {"type": "term", "term": "window"},
            {"type": "boost", "boost": 2.0, "query": {"type": "term", "term": "data"}},
        ],
        "must_not": [{"type": "term", "term": "batch"}],
        "min_should_match": 0,
    }
    assert extract_terms(q) == {"merge", "window", "data"}  # MUST_NOT skipped
    assert extract_terms({"type": "phrase", "terms": ["a", "b"]}) == {"a", "b"}
    assert extract_terms({"type": "synonym", "terms": ["x", "y"]}) == {"x", "y"}

    # multi-term leaves surface as predicates (the automaton analog)
    class Multi(QueryVisitor):
        def __init__(self):
            self.preds = []

        def consume_terms_matching(self, query, predicate):
            self.preds.append(predicate)

    v = Multi()
    visit_query({"type": "prefix", "prefix": "mer"}, v)
    assert len(v.preds) == 1 and v.preds[0]("merge") and not v.preds[0]("window")

    # a visitor that DOES want MUST_NOT terms can opt in
    class WithNot(QueryVisitor):
        def __init__(self):
            self.terms, self.not_terms = set(), set()
            self._in_not = False

        def consume_terms(self, query, *terms):
            (self.not_terms if self._in_not else self.terms).update(terms)

        def get_sub_visitor(self, occur, parent):
            if occur == MUST_NOT:
                w = WithNot()
                w.terms = self.terms
                w.not_terms = self.not_terms
                w._in_not = True
                return w
            return self

    w = WithNot()
    visit_query(q, w)
    assert w.not_terms == {"batch"} and "merge" in w.terms


def test_distributed_search_tries_driver_once(searcher, monkeypatch):
    """search() declines the driver path once, then runs the distributed
    plan without repeating the attempt; the result is unchanged."""
    q = bool_query(should=["merge", "window", "value"])
    expect = searcher.search(q, 10)  # driver path
    calls = []
    attempt = searcher._driver_search_rows

    def counted(*args, **kwargs):
        calls.append(args[0])
        return attempt(*args, **kwargs)

    monkeypatch.setattr(searcher, "_driver_search_rows", counted)
    monkeypatch.setattr(searcher, "DRIVER_EXEC_MAX_POSTINGS", 0)
    assert searcher.search(q, 10) == expect
    assert calls == [q]


def test_driver_postings_lru_arrays_are_read_only(searcher):
    """The decoded-postings LRU hands the same arrays to every query that
    hits a term: an in-place write must raise, not corrupt later scores."""
    searcher.search(bool_query(should=["merge", "window"]), 10)
    cached = searcher._postings_lru["merge"]
    assert cached is not None
    for arr in cached:
        with pytest.raises(ValueError):
            arr[0] += 1
