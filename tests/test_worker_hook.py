"""Spark-free tests of the Python worker bootstrap: the zipimport hook
(``tdigest_spark._worker``) and the worker socket directory.

The hook patches a stdlib class process-wide, so each hook check runs in
a fresh interpreter.
"""

import os
import shutil
import socket
import stat
import subprocess
import sys
import tempfile
import textwrap
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, tmp_path) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_hook_skips_unchanged_archive_and_keeps_stdlib_semantics(tmp_path):
    _run(
        """
        import importlib, os, sys, types, zipfile, zipimport

        def write(path, modules):
            with zipfile.ZipFile(path, "w") as z:
                for name, body in modules.items():
                    z.writestr(name + ".py", body)

        archive = os.path.abspath("lib.zip")
        write(archive, {"m": "X = 1\\n"})
        sys.path.insert(0, archive)

        sys.modules["pyspark.worker"] = types.ModuleType("pyspark.worker")
        import tdigest_spark
        assert zipimport.zipimporter.invalidate_caches.__module__ == "tdigest_spark._worker"
        import m
        assert m.X == 1

        reads = []
        stdlib_read = zipimport._read_directory
        def counting_read(path):
            reads.append(path)
            return stdlib_read(path)
        zipimport._read_directory = counting_read

        # first call per importer is a real read; then none while unchanged
        importlib.invalidate_caches()
        first = reads.count(archive)
        assert first >= 1, reads
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == first, reads

        # a rewritten archive (new size and mtime) is re-read
        st = os.stat(archive)
        write(archive, {"m": "X = 1\\n", "m2": "Y = 2\\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads.count(archive) == first + 1, reads
        import m2
        assert m2.Y == 2

        # a deleted archive behaves as in the stdlib: no crash, clean ImportError
        os.remove(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        try:
            import m3
        except ImportError:
            pass
        else:
            raise AssertionError("m3 imported from a deleted archive")

        # a re-created archive after the failed stat is read again
        write(archive, {"m4": "Z = 4\\n"})
        importlib.invalidate_caches()
        import m4
        assert m4.Z == 4

        # installing twice wraps once
        from tdigest_spark import _worker
        wrapper = zipimport.zipimporter.invalidate_caches
        _worker.install()
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is wrapper.__wrapped__
        """,
        tmp_path,
    )


def test_hook_not_installed_outside_spark_workers(tmp_path):
    _run(
        """
        import sys, zipimport
        import tdigest_spark
        assert callable(tdigest_spark.TDigest)
        assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
        assert "tdigest_spark._worker" not in sys.modules
        assert not any(k == "pyspark" or k.startswith("pyspark.") for k in sys.modules)
        """,
        tmp_path,
    )


def _check_socket_dir(d: str) -> None:
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    assert os.listdir(d) == []
    # the longest name Spark gives a socket in it binds
    path = os.path.join(d, f".{uuid.uuid4()}.sock")
    assert len(os.fsencode(path)) <= 107
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
        s.bind(path)


def test_socket_dir_private_short_and_fresh(tmp_path, monkeypatch):
    from tdigest_spark.spark.session import _socket_dir

    short = tempfile.mkdtemp(dir="/tmp")
    monkeypatch.setattr(tempfile, "tempdir", None)
    monkeypatch.setenv("TMPDIR", short)
    try:
        a, b = _socket_dir(), _socket_dir()
        assert a != b
        assert os.path.dirname(a) == short
        _check_socket_dir(a)
    finally:
        shutil.rmtree(short)

    # a TMPDIR too deep for a socket path falls back to /tmp
    deep = tmp_path / ("d" * 60) / ("e" * 60)
    deep.mkdir(parents=True)
    monkeypatch.setenv("TMPDIR", str(deep))
    monkeypatch.setattr(tempfile, "tempdir", None)
    d = _socket_dir()
    try:
        assert os.path.dirname(d) == "/tmp"
        _check_socket_dir(d)
        assert os.listdir(deep) == []  # the too-long candidate is gone
    finally:
        shutil.rmtree(d)


def test_python_worker_confs_resolve_daemon_module():
    from tdigest_spark.spark.session import python_worker_confs

    confs = python_worker_confs()
    assert confs["spark.python.unix.domain.socket.enabled"] == "true"
    assert os.path.isdir(confs["spark.python.unix.domain.socket.dir"])
    assert confs["spark.python.daemon.module"] == "tdigest_spark._daemon"
    assert os.path.isfile(
        os.path.join(confs["spark.executorEnv.PYTHONPATH"], "tdigest_spark", "_daemon.py")
    )
