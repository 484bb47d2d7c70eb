"""Index-build invariants: manifest round-trip (the rfc_database.rs analog),
deterministic docIDs, content-sha256 integrity, checkpoint resume
(FIXTURES.md §6, SURVEY.md §5)."""

import glob
import json
import os

import numpy as np
import pytest


def test_manifest_invariants(spark, t1_index):
    from lucene_rust_spark.index.manifest import check_index, read_manifest

    out, manifest = t1_index
    m = read_manifest(out)
    assert m["doc_count"] == 2000
    assert m["generation"] == 1
    assert len(m["segments"]) == 8
    assert all(s["del_count"] == 0 for s in m["segments"])  # rfc_database.rs:58-62
    assert sum(s["max_doc"] for s in m["segments"]) == 2000
    facts = check_index(out, spark)
    assert facts["doc_count"] == 2000


def test_doc_ids_match_oracle(spark, t1_index, oracle_idx):
    """Engine docID assignment (JVM sha1 + window) must equal the oracle's
    pure-Python assignment — the determinism contract for rank identity."""
    out, _ = t1_index
    docmap = (
        spark.read.parquet(os.path.join(out, "docmap"))
        .select("doc_id", "repo", "path")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = oracle_idx.meta.sort_values("doc_id").reset_index(drop=True)
    assert docmap["doc_id"].tolist() == want["doc_id"].tolist()
    assert docmap["repo"].tolist() == want["repo"].tolist()
    assert docmap["path"].tolist() == want["path"].tolist()


def test_content_sha256_integrity(spark, t1_index, t1_pandas):
    """Per-row sha256(content) carried through the pipeline equals the
    sha256 of the source rows (BASELINE.json input_hint invariant)."""
    import hashlib

    out, manifest = t1_index
    want = 0
    for c in t1_pandas["content"]:
        want ^= int(hashlib.sha256(c.encode()).hexdigest()[:15], 16)
    assert manifest["content_sha256_xor"] == format(want, "016x")


def test_norms_match_oracle(spark, t1_index, oracle_idx):
    out, _ = t1_index
    norms = (
        spark.read.parquet(os.path.join(out, "norms"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert norms["dl"].to_numpy().tolist() == oracle_idx.dl.tolist()
    assert (norms["dlq"].to_numpy() == oracle_idx.dlq).all()


def test_postings_invariants(spark, t1_index, oracle_idx):
    """doc_freq == len(postings); sum(tf) == total_term_freq; delta
    monotonicity via first/last doc ordering (SURVEY.md §5.4)."""
    from pyspark.sql import functions as F

    out, _ = t1_index
    terms = spark.read.parquet(os.path.join(out, "terms"))
    sample = {t: (len(p[0]), int(p[1].sum())) for t, p in list(oracle_idx.postings.items())[:50]}
    rows = terms.filter(F.col("term").isin(list(sample))).collect()
    assert len(rows) == len(sample)
    for r in rows:
        df, ttf = sample[r["term"]]
        assert int(r["doc_freq"]) == df, r["term"]
        assert int(r["total_term_freq"]) == ttf, r["term"]
    # block ordering within (term, seg)
    blocks = spark.read.parquet(os.path.join(out, "postings")).filter(
        F.col("term").isin(list(sample))
    )
    pdf = blocks.select("term", "seg", "block_no", "first_doc", "last_doc", "n").toPandas()
    for (_, _), g in pdf.groupby(["term", "seg"]):
        g = g.sort_values("block_no")
        assert (g["first_doc"].to_numpy() <= g["last_doc"].to_numpy()).all()
        assert (g["last_doc"].to_numpy()[:-1] < g["first_doc"].to_numpy()[1:]).all()
        assert (g["n"].to_numpy()[:-1] == 128).all()  # only the tail block is short


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: build group 0 of 2, wipe nothing, resume → the
    second build must only run group 1 and commit an identical manifest
    (modulo wall time) — north_rule resumability."""
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.manifest import read_manifest

    out = str(tmp_path / "idx")
    src = gen_corpus_spark(spark, 400, 4)

    full = build_index(spark, src, str(tmp_path / "ref"), num_partitions=4, num_groups=2)

    # simulate a crash: run group 0 then abort before group 1
    try:
        build_index(spark, src, out, num_partitions=4, num_groups=2, resume=False)
    finally:
        pass
    # drop group 1's checkpoint + outputs to simulate dying mid-build
    os.remove(os.path.join(out, "checkpoints", "group_1.json"))
    for d in glob.glob(os.path.join(out, "*", "group=1")):
        import shutil

        shutil.rmtree(d)
    os.remove(os.path.join(out, "manifest.json"))

    resumed = build_index(spark, src, out, num_partitions=4, num_groups=2, resume=True)
    for key in ["doc_count", "sum_total_term_freq", "segments", "content_sha256_xor"]:
        assert resumed[key] == full[key], key
    assert read_manifest(out)["doc_count"] == 400


def test_global_term_ordinals(spark, t1_index):
    """OrdinalMap analog (clt/index/ordinal_map.rs): ordinal == rank of the
    term in the globally sorted dictionary, dense 0..n-1."""
    out, _ = t1_index
    import os

    t = spark.read.parquet(os.path.join(out, "terms")).select("term", "ordinal").toPandas()
    t = t.sort_values("term").reset_index(drop=True)
    assert (t["ordinal"].to_numpy() == np.arange(len(t))).all()


def test_block_impacts_frontier():
    """Competitive impacts: pareto frontier of (tf, dlq) pairs — every
    stored pair dominates some posting, and every posting is dominated."""
    from lucene_rust_spark.index.build import block_impacts

    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 30, 128)
    dlqs = rng.integers(0, 255, 128)
    imp_tf, imp_dlq = block_impacts(tfs, dlqs)
    # frontier pairs are actual postings
    pairs = set(zip(tfs.tolist(), dlqs.tolist()))
    assert all((t, q) in pairs for t, q in zip(imp_tf, imp_dlq))
    # no frontier pair dominated by another frontier pair
    for i in range(len(imp_tf)):
        for j in range(len(imp_tf)):
            if i != j:
                assert not (imp_tf[j] >= imp_tf[i] and imp_dlq[j] <= imp_dlq[i])
    # every posting dominated by some frontier pair
    for t, q in pairs:
        assert any(ft >= t and fq <= q for ft, fq in zip(imp_tf, imp_dlq))


@pytest.mark.parametrize("entry", ["build_index", "build_group_job"])
@pytest.mark.parametrize(
    "opt", [{"sort_key": "size"}, {"codec": "zstd"}, {"word_break": "icu"}],
    ids=["sort_key", "codec", "word_break"],
)
def test_bad_build_options_rejected_before_any_job(spark, tmp_path, entry, opt):
    """An unknown sort_key, codec or word_break is a ValueError on the
    driver before any Spark job starts — not a failure inside a DWPT task,
    nor (codec) FOR blocks written under a bogus manifest name."""
    from lucene_rust_spark.corpus import gen_corpus_pandas
    from lucene_rust_spark.index.build import build_group_job, build_index

    (name,) = opt
    src = spark.createDataFrame(gen_corpus_pandas(20).drop(columns=["row_id"]))
    out = str(tmp_path / "idx")
    sc = spark.sparkContext
    group = f"bad-build-option-{entry}-{name}"
    sc.setJobGroup(group, "bad build option")
    try:
        with pytest.raises(ValueError, match=name):
            if entry == "build_index":
                build_index(spark, src, out, num_partitions=2, **opt)
            else:
                build_group_job(spark, src, out, 0, 1, 2, **opt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_pfor_codec_build_rank_identity(spark, tmp_path, oracle_idx):
    """codec='pfor' (exception-patched blocks) must be decode-transparent:
    identical top-k and counts to the oracle, surviving a merge."""
    from lucene_rust_spark.corpus import gen_corpus_spark
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.oracle.bm25 import bool_query, oracle_search
    from lucene_rust_spark.search.searcher import IndexSearcher
    from tests.conftest import T1_PARTS, T1_ROWS

    out = str(tmp_path / "pfor")
    build_index(spark, gen_corpus_spark(spark, T1_ROWS, T1_PARTS), out,
                num_partitions=T1_PARTS, codec="pfor")
    s = IndexSearcher(spark, out, cache=True)
    qs = [{"type": "term", "term": "merge"}, bool_query(should=["merge", "window"]),
          bool_query(must=["value", "merge"])]
    for q in qs:
        want = oracle_search(oracle_idx, q, 10)
        got = s.search(q, 10)
        assert [d for d, _ in got] == [d for d, _ in want]
        assert all(np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want))
    merge_segments(spark, out, fan_in=4)
    s2 = IndexSearcher(spark, out)
    for q in qs:
        assert s2.search(q, 10) == s.search(q, 10)


def test_pfor_positions_build_phrase(spark, tmp_path):
    """codec='pfor' + positions=True: the per-block position stream holds
    sum-of-tf entries (384 here, > 256), so exception positions past index
    255 need the u16 wide marker — this exact build crashed with the 1-byte
    format. Phrase results must match a plain-FOR build byte-for-byte."""
    import pandas as pd

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import phrase_query
    from lucene_rust_spark.search.searcher import IndexSearcher

    rows = []
    for i in range(256):
        if i in (120, 125):  # outlier position delta deep in block 0
            text = "alpha " + ("pad " * 300) + "alpha beta"
        else:
            text = "alpha beta alpha gamma alpha"
        rows.append((f"r{i % 4}", f"p/{i}.py", "c0", "python", text))
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    )
    out_p = str(tmp_path / "pforpos")
    out_f = str(tmp_path / "forpos")
    build_index(spark, src, out_p, num_partitions=2, positions=True, codec="pfor")
    build_index(spark, src, out_f, num_partitions=2, positions=True, codec="for")
    sp = IndexSearcher(spark, out_p, cache=True)
    sf = IndexSearcher(spark, out_f, cache=True)
    q = phrase_query(["alpha", "beta"], slop=0)
    assert sp.search(q, 10) == sf.search(q, 10)
    assert sp.count(q) == sf.count(q) > 0


def test_uax29_build_rank_identity(spark, tmp_path):
    """Engine built with word_break='uax29' == oracle with the same
    analyzer on a non-ASCII corpus (apostrophes, number separators,
    Turkish İ, CJK) — rank + float32 score identity, including a phrase
    whose tokens only exist under UAX#29 joining."""
    import pandas as pd

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import (
        bool_query,
        build_oracle_index,
        oracle_search,
        phrase_query,
        term_query,
    )
    from lucene_rust_spark.search.searcher import IndexSearcher

    texts = [
        "can't stop the merge won't retry",
        "İstanbul lowering keeps one token can't",
        "pi is 3.14 and big is 1,000,000 can't argue",
        "漢字 tokens split per char カタカナ run intact",
        "foo.bar joins under uax29 can't split",
        "plain ascii merge window tokens here",
    ] * 30
    rows = [
        (f"r{i % 3}", f"p/{i:04d}", "c0", "xx", texts[i % len(texts)] + f" uniq_{i}")
        for i in range(180)
    ]
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    out = str(tmp_path / "uax")
    build_index(
        spark, spark.createDataFrame(pdf), out,
        num_partitions=4, positions=True, word_break="uax29",
    )
    oidx = build_oracle_index(pdf, 4, word_break="uax29")
    s = IndexSearcher(spark, out, cache=True)
    assert s.manifest["word_break"] == "uax29"
    assert s.term_stats(["can't"])["can't"]["doc_freq"] > 0
    assert "3.14" in s.term_stats(["3.14"])  # joined numeric survives
    for q in [
        term_query("can't"),
        term_query("漢"),
        term_query("3.14"),
        bool_query(should=["can't", "merge", "i̇stanbul"]),
        phrase_query(["can't", "stop"]),
    ]:
        got = s.search(q, 10)
        want = oracle_search(oidx, q, 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        assert all(
            np.float32(a) == np.float32(b) for (_, a), (_, b) in zip(got, want)
        ), q


def test_offsets_roundtrip_and_snippets(spark, tmp_path):
    """build_index(offsets=True): per-occurrence (start, end) char offsets
    decoded from the index equal a direct tokenize_spans() recompute, and
    survive a merge byte-for-byte; snippets() cuts the stored text around
    the first occurrence with one JVM substring."""
    import pandas as pd

    from lucene_rust_spark.functions.analysis import tokenize_spans
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.oracle.bm25 import assign_doc_ids, term_query
    from lucene_rust_spark.search.searcher import IndexSearcher

    from lucene_rust_spark.corpus import gen_corpus_pandas, gen_corpus_spark

    out = str(tmp_path / "off")
    n = 300
    build_index(
        spark, gen_corpus_spark(spark, n, 4), out,
        num_partitions=4, positions=True, offsets=True,
    )
    pdf = assign_doc_ids(gen_corpus_pandas(n), 4)
    s = IndexSearcher(spark, out, cache=True)

    def check(term):
        got = (
            s.term_offsets([term])
            .orderBy("doc_id", "pos")
            .select("doc_id", "start", "end")
            .collect()
        )
        want = []
        for did, text in zip(pdf["doc_id"], pdf["content"]):
            for tok, a, b in tokenize_spans(text):
                if tok == term:
                    want.append((int(did), a, b))
        assert [(r["doc_id"], r["start"], r["end"]) for r in got] == want, term

    check("merge")
    check("value")
    merge_segments(spark, out, fan_in=2)
    s2 = IndexSearcher(spark, out, cache=True)
    check_after = (
        s2.term_offsets(["merge"]).orderBy("doc_id", "pos").collect()
    )
    check_before = (
        s.term_offsets(["merge"]).orderBy("doc_id", "pos").collect()
    )
    assert check_after == check_before

    text_df = spark.createDataFrame(
        pdf[["doc_id", "content"]].rename(columns={"content": "text"})
    )
    snips = s2.snippets(term_query("merge"), text_df, k=5, window=10).collect()
    assert len(snips) == 5
    texts = dict(zip(pdf["doc_id"], pdf["content"]))
    for r in snips:
        t = texts[r["doc_id"]]
        lo = max(r["start"] - 10, 0)
        assert r["snippet"] == t[lo : r["end"] + 10]
        assert "merge" in r["snippet"]


def test_payloads_roundtrip_and_score(spark, tmp_path):
    """payloads=True stores the default token-type byte per occurrence;
    decode equals a direct recompute, survives a merge, and payload_score
    implements the PayloadFunction lattice (sum/max/min/avg)."""
    import pandas as pd

    from lucene_rust_spark.functions.analysis import default_payload_fn, tokenize
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.index.merge import merge_segments
    from lucene_rust_spark.oracle.bm25 import assign_doc_ids
    from lucene_rust_spark.search.searcher import IndexSearcher

    rows = []
    for i in range(120):
        text = f"alpha {i} mix{i % 3}x alpha beta {1000 + i}"
        rows.append((f"r{i % 2}", f"p/{i:03d}", "c", "py", text))
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    out = str(tmp_path / "pay")
    build_index(
        spark, spark.createDataFrame(pdf), out,
        num_partitions=2, positions=True, payloads=True,
    )
    adf = assign_doc_ids(pdf, 2)
    s = IndexSearcher(spark, out, cache=True)

    def expect_payloads(term):
        import numpy as np

        want = []
        for did, text in zip(adf["doc_id"], adf["content"]):
            toks = tokenize(text)
            pays = default_payload_fn(
                np.array(toks, dtype=object), np.arange(len(toks), dtype=np.int64)
            )
            for p, (t, y) in enumerate(zip(toks, pays)):
                if t == term:
                    want.append((int(did), p, int(y)))
        return want

    for term in ["alpha", "1000", "mix0x"]:
        got = [
            (r["doc_id"], r["pos"], r["payload"])
            for r in s.term_payloads([term]).orderBy("doc_id", "pos").collect()
        ]
        assert got == expect_payloads(term), term
    # token-type classification sanity: word=0, digits=1, mixed=2
    assert {r["payload"] for r in s.term_payloads(["alpha"]).collect()} == {0}
    assert {r["payload"] for r in s.term_payloads(["1000"]).collect()} == {1}
    assert {r["payload"] for r in s.term_payloads(["mix0x"]).collect()} == {2}

    merge_segments(spark, out, fan_in=2)
    s2 = IndexSearcher(spark, out)
    got2 = [
        (r["doc_id"], r["pos"], r["payload"])
        for r in s2.term_payloads(["alpha"]).orderBy("doc_id", "pos").collect()
    ]
    assert got2 == expect_payloads("alpha")

    # payload_score: alpha appears 3x per doc with payload 0 -> sum 0;
    # the numeric term scores 1 per occurrence
    sums = {r["doc_id"]: r["score"] for r in s2.payload_score("1000", "sum").collect()}
    assert set(sums.values()) == {1.0}
    avgs = {r["doc_id"]: r["score"] for r in s2.payload_score("alpha", "avg").collect()}
    assert set(avgs.values()) == {0.0}


@pytest.mark.parametrize("col", ["repo", "path", "commit"])
def test_null_metadata_rejected_up_front(spark, tmp_path, col):
    """A NULL docID-order column is a clear ValueError naming it, raised
    before the build writes anything (the DWPT kernel's lexsort would
    fail inside a task with a TypeError). append_batch checks the same."""
    from lucene_rust_spark.corpus import gen_corpus_pandas
    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.streaming.incremental import append_batch

    pdf = gen_corpus_pandas(40).drop(columns=["row_id"])
    pdf[col] = pdf[col].astype(object)
    pdf.loc[7, col] = None
    src = spark.createDataFrame(pdf)
    out = tmp_path / "idx"
    with pytest.raises(ValueError, match=f"'{col}'"):
        build_index(spark, src, str(out), num_partitions=2)
    assert not out.exists()
    if col == "repo":  # the append path runs the same check
        good = spark.createDataFrame(pdf.dropna())
        build_index(spark, good, str(out), num_partitions=2)
        with pytest.raises(ValueError, match="'repo'"):
            append_batch(spark, src, str(out), epoch=0, num_partitions=2)
