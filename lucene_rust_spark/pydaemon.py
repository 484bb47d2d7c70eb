"""PySpark daemon for the engine's Python workers: PySpark's stock daemon
plus a stat-guarded ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``). Where ``zipimporter`` re-reads
eagerly (CPython 3.11 and 3.12), that makes every zipimporter in
``sys.path_importer_cache`` re-parse its archive's central directory in
pure Python. Workers import pyspark from ``pyspark.zip`` (~1,300 entries)
through one importer per package path inside it: about 170 ms of worker
CPU per task, on the critical path of every one-task query.

The wrapper re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the one taken before the directory it holds was
read, so a rewritten zip is still picked up on the next invalidation.

Spark starts this module as ``python -m lucene_rust_spark.pydaemon`` when
``get_spark`` selects it through ``spark.python.daemon.module``. Workers
are forked from this process, so each runs patched from its first task.
Before the fork it imports only the standard library and
``pyspark.daemon``, and it leaves the allocator as the environment set it
(the package ``__init__`` skips its allocator block in this process).
"""

from __future__ import annotations

import os
import zipimport

_orig_read_directory = zipimport._read_directory
_orig_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stat signature taken before the read, directory dict)
_reads: dict = {}


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _read_directory(archive):
    """zipimport's central-directory reader, recording what it read."""
    sig = _signature(archive)
    try:
        files = _orig_read_directory(archive)
    except BaseException:
        _reads.pop(archive, None)
        raise
    _reads[archive] = (sig, files)
    return files


def invalidate_caches(self):
    """Adopt the last read of this archive while the file is unchanged;
    otherwise re-read it as zipimport does."""
    read = _reads.get(self.archive)
    if read is not None and read[0] is not None and read[0] == _signature(self.archive):
        self._files = read[1]
        zipimport._zip_directory_cache[self.archive] = read[1]
        return
    _orig_invalidate_caches(self)


def install() -> None:
    """Patch zipimport in this process (idempotent)."""
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    # install through the named module, so workers can check
    # `zipimporter.invalidate_caches is lucene_rust_spark.pydaemon.invalidate_caches`
    from lucene_rust_spark import pydaemon

    pydaemon.install()
    # record the importers the daemon already holds: forked workers inherit
    # the records, so even their first task skips the re-reads
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
