"""Spark-free tests of the worker-side zipimport hook (``tdigest_spark._worker``).

The hook patches a stdlib class process-wide, so each check runs in a
fresh interpreter.
"""

import os
import subprocess
import sys
import textwrap

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
