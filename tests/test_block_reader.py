"""search/block_reader.py and the reader task, without Spark: temp
postings parquet files written with small row groups."""

import os
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_rust_spark.functions import kernels as K
from lucene_rust_spark.search import block_reader as BR

SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("seg", pa.int32()),
        ("block_no", pa.int32()),
        ("n", pa.int32()),
        ("first_doc", pa.int64()),
        ("docs_bin", pa.binary()),
        ("tfs_bin", pa.binary()),
        ("dlq_bin", pa.binary()),
    ]
)


@pytest.fixture(autouse=True)
def empty_cache(monkeypatch):
    monkeypatch.setattr(BR, "_cache", OrderedDict())
    monkeypatch.setattr(BR, "_held", 0)


def block(term, seg, block_no, docs, tfs=None, dlqs=None):
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.ones(len(docs), np.int64) if tfs is None else np.asarray(tfs, np.int64)
    dlqs = np.full(len(docs), 3, np.uint8) if dlqs is None else np.asarray(dlqs, np.uint8)
    return {
        "term": term,
        "seg": seg,
        "block_no": block_no,
        "n": len(docs),
        "first_doc": int(docs[0]),
        "docs_bin": K.for_pack(np.diff(docs, prepend=docs[0])),
        "tfs_bin": K.for_pack(tfs),
        "dlq_bin": dlqs.tobytes(),
    }


def write(path, rows, row_group_size=2):
    pq.write_table(pa.Table.from_pylist(rows, SCHEMA), str(path), row_group_size=row_group_size)
    return str(path)


def keys(tab):
    """(term, first_doc) per row: the block order the reader returned."""
    return list(zip(tab.column("term").to_pylist(), tab.column("first_doc").to_pylist()))


def count_loads(monkeypatch):
    loads = []
    real = BR._row_group

    def counted(path, i):
        loads.append((path, i))
        return real(path, i)

    monkeypatch.setattr(BR, "_row_group", counted)
    return loads


def test_terms_over_disjoint_and_overlapping_files(tmp_path):
    """A term's blocks come from every file that holds it, in (term, seg,
    block_no) order whatever the file order; absent terms add nothing."""
    a = write(tmp_path / "a.parquet", [block(t, 0, 0, [i * 10 + 1]) for i, t in enumerate("abcde")])
    b = write(
        tmp_path / "b.parquet",
        [block("c", 1, 0, [200]), block("c", 1, 1, [300]), block("d", 1, 0, [400]),
         block("f", 1, 0, [500]), block("g", 1, 0, [600])],
    )
    c = write(tmp_path / "c.parquet", [block(t, 2, 0, [700 + i]) for i, t in enumerate("xyz")])
    got = BR.term_blocks([c, b, a], ["y", "d", "c", "absent", "c"])
    assert got.column_names == list(BR.COLUMNS)
    assert keys(got) == [("c", 21), ("c", 200), ("c", 300), ("d", 31), ("d", 400), ("y", 701)]
    assert BR.term_blocks([a, b, c], ["absent"]).num_rows == 0
    assert BR.term_blocks([], ["a"]).num_rows == 0


def test_row_groups_skipped_by_statistics(tmp_path, monkeypatch):
    """Only the row groups whose term min/max can hold a query term are
    read; a second query over them is served from the cache."""
    rows = [block(f"t{i:02d}", 0, 0, [i + 1]) for i in range(10)]
    path = write(tmp_path / "p.parquet", rows, row_group_size=2)
    assert pq.ParquetFile(path).metadata.num_row_groups == 5
    loads = count_loads(monkeypatch)
    got = BR.term_blocks([path], ["t07", "t03", "t035"])
    assert keys(got) == [("t03", 4), ("t07", 8)]
    assert sorted(i for _, i in loads) == [1, 3]
    assert keys(BR.term_blocks([path], ["t07"])) == [("t07", 8)]
    assert len(loads) == 2
    assert BR.term_blocks([path], ["a", "zz"]).num_rows == 0  # outside every range
    assert len(loads) == 2


def test_unsorted_row_group(tmp_path):
    """A row group whose terms are out of order (a tiered merge's
    passthrough blocks beside repacked ones) is sorted on load."""
    rows = [
        block("m", 0, 0, [5]), block("b", 3, 0, [9]), block("m", 3, 0, [11]),
        block("b", 0, 1, [7]), block("b", 0, 0, [1]), block("q", 1, 0, [2]),
    ]
    path = write(tmp_path / "u.parquet", rows, row_group_size=6)
    assert keys(BR.term_blocks([path], ["b", "m", "q"])) == [
        ("b", 1), ("b", 7), ("b", 9), ("m", 5), ("m", 11), ("q", 2),
    ]
    # a sorted group followed by an appended unsorted one, in one file
    path2 = write(tmp_path / "u2.parquet", [block("a", 0, 0, [1]), block("c", 0, 0, [2])] + rows, 2)
    assert keys(BR.term_blocks([path2], ["b", "c"])) == [("b", 1), ("b", 7), ("b", 9), ("c", 2)]


def test_lru_byte_bound_evicts(tmp_path, monkeypatch):
    """The cache holds at most CACHE_MAX_BYTES: the least recently used
    row groups go first and are read again when asked for."""
    rows = [block(f"t{i:02d}", 0, 0, np.arange(1, 200) * 1000) for i in range(8)]
    path = write(tmp_path / "p.parquet", rows, row_group_size=1)
    loads = count_loads(monkeypatch)
    BR.term_blocks([path], ["t00"])
    BR.term_blocks([path], ["t01"])
    monkeypatch.setattr(BR, "CACHE_MAX_BYTES", BR._held)  # footer + 2 groups
    for t in ("t02", "t03"):
        BR.term_blocks([path], [t])
        assert BR._held <= BR.CACHE_MAX_BYTES
    assert len(loads) == 4 and len(BR._cache) == 3
    BR.term_blocks([path], ["t03"])  # still cached
    assert len(loads) == 4
    BR.term_blocks([path], ["t00"])  # evicted: read again
    assert len(loads) == 5 and loads[-1][1] == 0


def test_rewritten_file_read_again(tmp_path):
    """An entry is keyed by path, st_mtime_ns and st_size: a file rewritten
    in place is read again, not served from the cache."""
    path = write(tmp_path / "p.parquet", [block("a", 0, 0, [1]), block("b", 0, 0, [2])])
    assert keys(BR.term_blocks([path], ["a"])) == [("a", 1)]
    write(tmp_path / "p.parquet", [block("a", 0, 0, [41]), block("a", 0, 1, [42, 43])])
    assert keys(BR.term_blocks([path], ["a"])) == [("a", 41), ("a", 42)]
    # same size, new mtime
    size = os.stat(path).st_size
    write(tmp_path / "p.parquet", [block("a", 0, 0, [51]), block("a", 0, 1, [52, 53])])
    st = os.stat(path)
    assert st.st_size == size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert keys(BR.term_blocks([path], ["a"])) == [("a", 51), ("a", 52)]


class Specs:
    """An input iterator that records whether it was read to its end."""

    def __init__(self, specs):
        self.it = iter(specs)
        self.exhausted = False

    def __iter__(self):
        return self

    def __next__(self):
        try:
            return next(self.it)
        except StopIteration:
            self.exhausted = True
            raise


class Broadcast:
    def __init__(self, value):
        self.value = value


def test_reader_task_drains_input_and_ranks(tmp_path):
    """The reader task consumes its whole input (PySpark reuses a worker
    only then) and ranks each spec with the shared kernel: the live-docs
    filter, the search_after keyset and the (score desc, doc_id asc) top-k
    match combine_bool_arrays + _top_k over the same postings."""
    from lucene_rust_spark.functions.similarities import get_similarity
    from lucene_rust_spark.search.searcher import _reader_task, _top_k, combine_bool_arrays

    rng = np.random.default_rng(7)
    postings = {}
    rows = []
    for t in ("alpha", "beta", "gamma"):
        docs = np.sort(rng.choice(np.arange(1, 400), 150, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 5, len(docs))
        dlqs = rng.integers(0, 60, len(docs))
        postings[t] = (docs, tfs.astype(np.int64), dlqs.astype(np.int64))
        for b, lo in enumerate(range(0, len(docs), 128)):
            rows.append(block(t, 0, b, docs[lo:lo + 128], tfs[lo:lo + 128], dlqs[lo:lo + 128]))
    path = write(tmp_path / "p.parquet", rows, row_group_size=2)
    sim = get_similarity("bm25", 400, 4000)
    idf = {"alpha": 1.25, "beta": 0.5}
    tomb = np.array([3, 50, 77, 120, 250], dtype=np.int64)
    spec = {"must": [], "should": ["alpha", "beta"], "not": ["gamma"], "msm": 0,
            "idf": idf, "k": 10, "after": None}
    page2 = {**spec, "after": [1.0, 17]}
    specs = Specs([spec, page2])
    out = list(_reader_task(0, specs, files=[path], sim=sim, tomb=Broadcast(tomb)))
    assert specs.exhausted and len(out) == 2

    docs, scores = combine_bool_arrays(
        postings, [], ["alpha", "beta"], ["gamma"], 0,
        {t: np.float32(v) for t, v in idf.items()}, sim,
    )
    live = ~np.isin(docs, tomb)
    for (got_docs, got_scores), after in zip(out, (None, (1.0, 17))):
        want_docs, want_scores = _top_k(docs[live], scores[live], 10, after)
        assert got_docs == want_docs.tolist()
        assert np.array_equal(np.array(got_scores, np.float32), want_scores)
        assert not set(got_docs) & set(tomb.tolist())
    assert len(out[0][0]) == 10
