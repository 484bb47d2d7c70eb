"""r7 optimization round: the ASCII Arrow tokenize fast path and the
batched pack/impacts kernels must be byte-identical to the reference
implementations they replace (the regex path and the per-block kernels)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.index.build import (
    PARTITION_SHIFT,
    _count_batch,
    _count_batch_arrow,
    _dwpt_partition,
    block_impacts,
    block_impacts_batch,
)


def _pairs(out, positions):
    docs, segs, dlqs, codes, tfs, uniq, pos, dl = out[:8]
    pairs, off = {}, 0
    for i in range(len(docs)):
        pairs[(int(docs[i]), uniq[codes[i]])] = (
            int(segs[i]),
            int(dlqs[i]),
            int(tfs[i]),
            tuple(pos[off : off + tfs[i]].tolist()) if positions else (),
        )
        if positions:
            off += tfs[i]
    return pairs, dl.tolist()


@pytest.mark.parametrize("positions", [False, True])
def test_count_batch_arrow_identical(positions):
    rng = np.random.default_rng(7)
    alpha = list("ab_ 19.\t\n()Z")
    for _ in range(25):
        n = int(rng.integers(1, 40))
        docs = ["".join(rng.choice(alpha, size=int(rng.integers(0, 60)))) for _ in range(n)]
        docs[0] = ""  # empty doc
        if n > 2:
            docs[1] = "x" * 300 + " ok"  # >255-char token dropped
        s = pd.Series(docs)
        d = np.arange(n, dtype=np.int64)
        p = (d % 5).astype(np.int64)
        ref = _count_batch(d, p, s, positions)
        fast = _count_batch_arrow(d, p, pa.array(docs, type=pa.string()), positions)
        assert _pairs(ref, positions) == _pairs(fast, positions)


def test_count_batch_arrow_sliced_buffer():
    arr = pa.array(["zz qq", "abc", "def ghi"], type=pa.string()).slice(1, 2)
    f = _count_batch_arrow(
        np.array([0, 1], dtype=np.int64), np.zeros(2, dtype=np.int64), arr, False
    )
    toks = sorted((int(d), f[5][c]) for d, c in zip(f[0], f[3]))
    assert toks == [(0, "abc"), (1, "def"), (1, "ghi")]


def _meta_batch(docs, parts, base=0):
    n = len(docs)
    return pa.RecordBatch.from_pydict(
        {
            "part": pa.array(parts, type=pa.int32()),
            "repo": [f"r{i % 2}" for i in range(n)],
            "path": [f"p/{base + i}" for i in range(n)],
            "commit": [f"c{i:02d}" for i in range(n)],
            "lang": ["en"] * n,
            "content": pa.array(docs, type=pa.string()),
        }
    )


def test_dwpt_arrow_nonascii_falls_back_identically():
    # a non-ASCII batch routes through the regex path (an ASCII batch in
    # the same task takes the byte-LUT path): the kernel's blocks must
    # decode to the (term, doc, tf, positions) the regex reference counts,
    # and its norms and docmap hold every doc once, in doc_id order
    batches = [
        (["café naïve merge", "merge window", "λx x", "plain ascii only"], [0, 1, 0, 1]),
        (["merge plain", "window x x", ""], [1, 0, 1]),
    ]
    postings, norms, docmap = _dwpt_partition(
        iter([_meta_batch(d, p, 10 * i) for i, (d, p) in enumerate(batches)]),
        positions=True,
    )
    # row → doc_id through the docmap (paths are unique per row)
    dm = docmap.to_pandas()
    assert dm["doc_id"].is_monotonic_increasing
    assert norms.column("doc_id").to_pylist() == dm["doc_id"].tolist()
    paths = [f"p/{10 * i + j}" for i, (d, _) in enumerate(batches) for j in range(len(d))]
    row_doc = dm.set_index("path").loc[paths, "doc_id"].to_numpy()
    parts = np.array([p for _, b in batches for p in b], dtype=np.int64)
    assert ((row_doc >> PARTITION_SHIFT) == parts).all()
    got = {}
    keys = list(zip(postings["term"], postings["seg"], postings["block_no"]))
    assert keys == sorted(keys)  # string (term, seg, block_no) order
    for r in postings.itertuples():
        docs = r.first_doc + np.cumsum(K.for_unpack(r.docs_bin, r.n)).astype(np.int64)
        tfs = K.for_unpack(r.tfs_bin, r.n).astype(np.int64)
        pos = K.for_unpack(r.pos_bin, int(tfs.sum())).astype(np.int64)
        ends = np.cumsum(tfs)
        for d, tf, e, q in zip(docs, tfs, ends, r.dlq_bin):
            got[(int(d), r.term)] = (q, int(tf), tuple(np.cumsum(pos[e - tf : e]).tolist()))
    docs = [d for b, _ in batches for d in b]
    ref, dl = _pairs(_count_batch(np.arange(len(docs)), parts, pd.Series(docs), True), True)
    want = {(int(row_doc[row]), t): v[1:] for (row, t), v in ref.items()}
    assert got == want
    # norms: the exact token count of every doc, the empty one included
    nm = norms.to_pandas().set_index("doc_id").loc[row_doc]
    assert nm["dl"].tolist() == dl
    assert nm["dlq"].tolist() == K.int_to_byte4(np.array(dl)).tolist()


@pytest.mark.parametrize("num_groups", [1, 3])
@pytest.mark.parametrize("sort_key", [None, "content_len"])
def test_kernel_doc_id_assignment_content_len_utf16(spark, tmp_path, sort_key, num_groups):
    """In-kernel docID assignment ranks by (part[, content_len], repo,
    path, commit) exactly as the oracle does, content_len counted in
    UTF-16 code units (an astral char is TWO; Spark's length() would
    count one). Every build's docmap rows, (doc_id, identity,
    content_sha256), equal the same expected rows — so the single-group
    build (sha256 hashed in the kernel) and the staged three-group build
    (sha256 from Spark's sha2) agree with each other."""
    import hashlib

    from lucene_rust_spark.index.build import build_index
    from lucene_rust_spark.oracle.bm25 import assign_doc_ids, utf16_len

    rows = []
    for i in range(40):
        k = 1 + i % 5
        head = ("\U0001f389" * k, "é" * (k + 2), "x" * (k + 3))[i % 3]
        rows.append(
            {"repo": f"r{i%4}", "path": f"p/{i}", "commit": f"c{i:02d}",
             "lang": "en", "content": f"{head} w{i % 6}"}
        )
    pdf = pd.DataFrame(rows)
    oracle = assign_doc_ids(pdf, 4, sort_key=sort_key)
    # the corpus must tell the units apart: some segment holds two docs
    # that codepoint length and UTF-16 length order oppositely
    assert any(
        len(a) < len(b) and utf16_len(a) > utf16_len(b)
        for _, seg in oracle.groupby("part")
        for a in seg["content"] for b in seg["content"]
    )
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), idx, num_partitions=4,
                num_groups=num_groups, sort_key=sort_key)
    expected = sorted(
        (int(d), r, p, c, hashlib.sha256(x.encode()).hexdigest())
        for d, r, p, c, x in zip(oracle["doc_id"], oracle["repo"], oracle["path"],
                                 oracle["commit"], oracle["content"])
    )
    got = spark.read.parquet(f"{idx}/docmap").select(
        "doc_id", "repo", "path", "commit", "content_sha256"
    )
    assert sorted(map(tuple, got.collect())) == expected


def test_hnsw_driver_path_matches_distributed(spark, tmp_path):
    """r7 single-query KNN driver fast path: identical hits (ids, cos,
    order) to the distributed task-wave plan, with and without a filter."""
    import lucene_rust_spark.operators.hnsw as H

    rng = np.random.default_rng(11)
    n, dim = 600, 16
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pdf = pd.DataFrame({"id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))})
    emb = spark.createDataFrame(pdf)
    idx = str(tmp_path / "hnsw_idx")
    H.build_hnsw_index(emb, idx, n_shards=4, m=8, ef_construction=48)
    q = rng.normal(size=dim).astype(np.float32)
    flt = list(range(0, n, 3))
    for filter_ids in (None, flt):
        drv = H.hnsw_topk(spark, idx, q, k=12, filter_ids=filter_ids).collect()
        old = H.HNSW_DRIVER_MAX_BYTES
        H.HNSW_DRIVER_MAX_BYTES = 0
        try:
            dist = H.hnsw_topk(spark, idx, q, k=12, filter_ids=filter_ids).collect()
        finally:
            H.HNSW_DRIVER_MAX_BYTES = old
        assert [(r["id"], r["cos"]) for r in drv] == [(r["id"], r["cos"]) for r in dist]


def test_for_pack_batch_identical():
    rng = np.random.default_rng(3)
    for _ in range(25):
        nblk = int(rng.integers(1, 60))
        ns = rng.integers(1, 129, nblk)
        bstarts = np.concatenate(([0], np.cumsum(ns)[:-1])).astype(np.int64)
        bends = np.cumsum(ns).astype(np.int64)
        n = int(ns.sum())
        hi = int(rng.choice([1, 2, 300, 2**19, 2**45])) + 1
        v = rng.integers(0, hi, n).astype(np.uint64)
        assert K.for_pack_batch(v, bstarts, bends) == [
            K.for_pack(v[s:e]) for s, e in zip(bstarts, bends)
        ]


def test_for_unpack_batch_identical():
    rng = np.random.default_rng(5)
    for codec in ("for", "pfor"):
        pack = K.for_pack if codec == "for" else K.pfor_pack
        bufs, counts, refs = [], [], []
        for _ in range(120):
            n = int(rng.integers(0, 200))
            hi = int(rng.choice([1, 2, 300, 2**19, 2**45])) + 1
            v = rng.integers(0, hi, n).astype(np.uint64)
            bufs.append(pack(v))
            counts.append(n)
            refs.append(K.for_unpack(bufs[-1], n))
        got = K.for_unpack_batch(bufs, np.array(counts))
        for r, g in zip(refs, got):
            assert np.array_equal(r, g)


def test_block_impacts_batch_identical():
    rng = np.random.default_rng(4)
    for _ in range(25):
        nblk = int(rng.integers(1, 60))
        ns = rng.integers(1, 129, nblk)
        bstarts = np.concatenate(([0], np.cumsum(ns)[:-1])).astype(np.int64)
        bends = np.cumsum(ns).astype(np.int64)
        n = int(ns.sum())
        tfs = rng.integers(1, int(rng.choice([2, 9, 3000])), n).astype(np.int64)
        dlqs = rng.integers(0, 256, n).astype(np.int64)
        assert block_impacts_batch(tfs, dlqs, bstarts, bends) == [
            block_impacts(tfs[s:e], dlqs[s:e]) for s, e in zip(bstarts, bends)
        ]
