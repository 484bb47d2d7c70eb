"""The engine's session: the PySpark daemon its workers fork from
(lucene_rust_spark/pydaemon.py), the Unix-socket transport to them, and
local_rows_df's SQL literals."""

from __future__ import annotations

import importlib
import math
import os
import shutil
import socket
import stat
import sys
import tempfile
import zipfile
import zipimport

import numpy as np
import pytest

from lucene_rust_spark import pydaemon


def _install(monkeypatch):
    """pydaemon.install() for this test only: monkeypatch restores zipimport."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()


def _write_zip(path, members: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:  # rewrites the same file in place
        for name, src in members.items():
            z.writestr(name, src)


def test_invalidate_keeps_unchanged_archive_directory(tmp_path, monkeypatch):
    _install(monkeypatch)
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"lrs_zip_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    files = imp._files
    imp.invalidate_caches()
    assert imp._files is files
    pydaemon._orig_invalidate_caches(imp)  # what zipimport itself does: re-read
    assert imp._files is not files and imp._files == files


def test_rewritten_archive_member_becomes_importable(tmp_path, monkeypatch):
    _install(monkeypatch)
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"lrs_zip_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("lrs_zip_a").X == 1
        importlib.invalidate_caches()  # unchanged: the importer keeps its directory
        with pytest.raises(ImportError):
            importlib.import_module("lrs_zip_b")
        _write_zip(archive, {"lrs_zip_a.py": "X = 1\n", "lrs_zip_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("lrs_zip_b").Y == 2
    finally:
        for name in ("lrs_zip_a", "lrs_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def _daemon_report(batches):
    import zipimport

    import pandas as pd

    from lucene_rust_spark import pydaemon

    for _ in batches:
        pass
    patched = zipimport.zipimporter.invalidate_caches is pydaemon.invalidate_caches
    yield pd.DataFrame({"patched": [patched]})


def test_python_tasks_run_under_engine_daemon(spark):
    from lucene_rust_spark.session import DAEMON_MODULE, engine_daemon_usable

    if not engine_daemon_usable():
        pytest.skip("workers' interpreter re-reads zips lazily: stock daemon kept")
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    got = spark.range(0, 1, 1, 1).mapInPandas(_daemon_report, "patched boolean").collect()
    assert [r["patched"] for r in got] == [True]


def test_local_rows_df_literals_round_trip(spark):
    from lucene_rust_spark.session import local_rows_df

    rows = [
        (1, float("inf"), "it's"),
        (2, float("-inf"), "back\\slash"),
        (3, float("nan"), "quote ' and backslash \\' mixed"),
        (4, np.float32("nan"), "''"),
        (5, 0.1, None),
    ]
    got = local_rows_df(
        spark, rows, [("id", "BIGINT"), ("x", "DOUBLE"), ("s", "STRING")]
    ).orderBy("id").collect()
    assert [r["id"] for r in got] == [1, 2, 3, 4, 5]
    assert [r["s"] for r in got] == [s for _, _, s in rows]
    x = [r["x"] for r in got]
    assert x[0] == math.inf and x[1] == -math.inf
    assert math.isnan(x[2]) and math.isnan(x[3]) and x[4] == 0.1


def _fits(sock_dir: str) -> bool:
    """Spark's limit on the directory, and AF_UNIX's on a socket in it."""
    from lucene_rust_spark.session import SOCKET_DIR_MAX

    sock = os.path.join(sock_dir, ".00000000-0000-0000-0000-000000000000.sock")
    return len(sock_dir) <= SOCKET_DIR_MAX and len(os.fsencode(sock)) <= 107


def test_unix_socket_dir_without_af_unix(monkeypatch):
    from lucene_rust_spark.session import unix_socket_dir

    monkeypatch.delattr(socket, "AF_UNIX")
    assert unix_socket_dir() is None


def test_unix_socket_dir_never_over_long(tmp_path, monkeypatch):
    from lucene_rust_spark.session import unix_socket_dir

    deep = tmp_path / ("d" * 40)  # past Spark's socket-dir limit
    deep.mkdir()
    assert unix_socket_dir([str(deep)]) is None  # TCP: nothing fits
    short = tempfile.mkdtemp(prefix="s", dir="/tmp")
    try:
        got = unix_socket_dir([str(deep), short])  # falls through to short
        assert got is not None and os.path.dirname(got) == short and _fits(got)
    finally:
        shutil.rmtree(short)
    # a long TMPDIR (a benchmark's run directory) falls back to /tmp
    monkeypatch.setattr(tempfile, "tempdir", str(deep))
    got = unix_socket_dir()
    try:
        assert got is not None and os.path.dirname(got) == "/tmp" and _fits(got)
    finally:
        os.rmdir(got)


def test_unix_socket_dir_default():
    from lucene_rust_spark.session import unix_socket_dir

    got = unix_socket_dir()
    assert got is not None and _fits(got)
    try:
        st = os.stat(got)
        assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
        assert os.listdir(got) == []  # the bind probe cleaned up after itself
    finally:
        os.rmdir(got)


def test_python_tasks_run_over_unix_sockets(spark):
    if not hasattr(socket, "AF_UNIX"):
        pytest.skip("no AF_UNIX on this platform: get_spark keeps TCP")
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    assert _fits(conf.get("spark.python.unix.domain.socket.dir"))
    got = spark.range(0, 3, 1, 1).mapInPandas(lambda it: it, "id long").collect()
    assert [r["id"] for r in got] == [0, 1, 2]
