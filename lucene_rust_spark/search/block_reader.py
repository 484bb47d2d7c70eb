"""Block reader: a query's packed postings blocks read straight from the
committed postings parquet files with pyarrow, no Spark plan — the read
primitive of the one-task reader job (searcher._reader_task).

Each process keeps one LRU, bounded in bytes by CACHE_MAX_BYTES, of what
it read: every file's per-row-group term ranges (footer statistics) and
the row groups themselves, still FOR-compressed, so a hot term costs a
binary search and the per-query decode (PAPERS.md, "Highly Efficient
String Similarity Search and Join over Compressed Indexes"). Entries are
keyed by the file's absolute path, st_mtime_ns and st_size: a rewritten
file is read again, an unchanged one is kept across searcher refreshes.

A row group whose term min/max cannot hold a query term is never read
(the terms-dict seek). Builds and merges write row groups term-sorted;
a group that is not (a tiered merge's passthrough blocks share files
with repacked ones) is sorted when it is loaded.
"""

from __future__ import annotations

import bisect
import operator
import os
from collections import OrderedDict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# per-process bound on the cached footers and row groups (estimated bytes)
CACHE_MAX_BYTES = 128 << 20

# the rows term_blocks returns; seg and block_no are read to order them
_SCHEMA = pa.schema(
    [("term", pa.string()), ("n", pa.int32()), ("first_doc", pa.int64()),
     ("docs_bin", pa.binary()), ("tfs_bin", pa.binary()), ("dlq_bin", pa.binary())]
)
COLUMNS = tuple(_SCHEMA.names)
_READ = [*COLUMNS, "seg", "block_no"]
_ORDER = [("term", "ascending"), ("seg", "ascending"), ("block_no", "ascending")]

# bisect over an arrow string column without a Python string per row
_as_py = operator.methodcaller("as_py")

_cache: OrderedDict = OrderedDict()  # key -> (value, estimated bytes)
_held = 0


def _cached(key, load):
    """The cached value of key, else load() -> (value, nbytes) stored under
    it; least recently used entries go once the bound is passed."""
    global _held
    hit = _cache.get(key)
    if hit is not None:
        _cache.move_to_end(key)
        return hit[0]
    value, nbytes = load()
    _cache[key] = (value, nbytes)
    _held += nbytes
    while _held > CACHE_MAX_BYTES and len(_cache) > 1:
        _key, (_value, n) = _cache.popitem(last=False)
        _held -= n
    return value


def _term_ranges(path: str) -> tuple[list, int]:
    """[(min term, max term)] per row group from the footer; (None, None)
    where a group carries no statistics (it is always read)."""
    md = pq.read_metadata(path)
    col = next(j for j in range(md.num_columns) if md.schema.column(j).path == "term")
    out = []
    for i in range(md.num_row_groups):
        st = md.row_group(i).column(col).statistics
        if st is not None and st.has_min_max:
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                lo, hi = lo.decode(), hi.decode()
            out.append((lo, hi))
        else:
            out.append((None, None))
    return out, 64 + sum(96 + len(lo or "") + len(hi or "") for lo, hi in out)


def _row_group(path: str, i: int) -> tuple[pa.Table, int]:
    """Row group i of a postings file, term-sorted, as one-chunk columns."""
    tab = pq.ParquetFile(path).read_row_group(i, columns=_READ)
    terms = tab.column("term")
    if len(terms) > 1 and not pc.all(
        pc.less_equal(terms[:-1], terms[1:])
    ).as_py():
        tab = tab.sort_by(_ORDER)
    tab = tab.combine_chunks()
    return tab, tab.nbytes


def term_blocks(files, terms) -> pa.Table:
    """The block rows (COLUMNS) of `terms` across the parquet `files`
    (absolute paths), in (term, seg, block_no) order."""
    want = sorted(set(terms))
    parts = []
    for path in files:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
        ranges = _cached(key, lambda p=path: _term_ranges(p))
        for i, (lo, hi) in enumerate(ranges):
            a = 0 if lo is None else bisect.bisect_left(want, lo)
            b = len(want) if hi is None else bisect.bisect_right(want, hi)
            if a >= b:
                continue  # the statistics rule every query term out
            tab = _cached((*key, i), lambda p=path, g=i: _row_group(p, g))
            if not tab.num_rows:
                continue
            col = tab.column("term").chunk(0)
            for t in want[a:b]:
                s = bisect.bisect_left(col, t, key=_as_py)
                e = bisect.bisect_right(col, t, lo=s, key=_as_py)
                if e > s:
                    parts.append(tab.slice(s, e - s))
    if not parts:
        return _SCHEMA.empty_table()
    return pa.concat_tables(parts).sort_by(_ORDER).select(list(COLUMNS))
