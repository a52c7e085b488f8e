"""Session set-up: the Python-worker warm-up in engine/session.py raises
instead of swallowing its error, and every worker of a get_spark session
runs engine.pydaemon, which skips re-reading unchanged zip archives, and
imports engine from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import types
import zipfile
import zipimport

import pytest

from engine import pydaemon
from engine.session import _warm_python_workers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
py311 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 re-reads zips lazily"
)


def test_warmup_failure_raises():
    """A failing warm-up job raises from _warm_python_workers (and so from
    get_spark), and the session is not marked warmed."""
    def fail(*args, **kwargs):
        raise RuntimeError("warm-up job failed")

    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=2), range=fail
    )
    with pytest.raises(RuntimeError, match="warm-up job failed"):
        _warm_python_workers(spark)
    assert not getattr(spark, "_graft_warmed", False)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@py311
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """With the patch, importlib.invalidate_caches() reads no unchanged
    archive's directory again, and still re-reads one that was rewritten."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "__init__", cls.__init__)
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    pydaemon.install()
    monkeypatch.syspath_prepend(archive)
    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        assert reads == [archive]
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [archive]

        _write_zip(archive, ["m1", "m2"])
        importlib.invalidate_caches()
        assert reads == [archive, archive]
        assert importlib.import_module("m2").NAME == "m2"
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pydaemon._last_read.pop(archive, None)


@py311
def test_workers_run_the_patched_daemon(spark):
    """A task of the test session sees engine.pydaemon's invalidate_caches."""
    def probe(batches):
        import zipimport

        import pandas as pd

        f = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"module": [f.__module__], "name": [f.__qualname__]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "module string, name string").collect()[0]
    assert (row["module"], row["name"]) == ("engine.pydaemon", "_invalidate_caches")


def test_workers_import_engine_from_any_cwd(tmp_path):
    """A driver started outside the repository, without PYTHONPATH, runs a
    task that imports engine."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from engine.session import get_spark

        def task(batches):
            import engine
            import pandas as pd
            for _ in batches:
                yield pd.DataFrame({{"path": [engine.__file__]}})

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        rows = spark.range(1, numPartitions=1).mapInPandas(task, "path string").collect()
        spark.stop()
        assert rows[0]["path"].startswith({REPO!r}), rows
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
