"""The lazy zipimport invalidation in ``_pyworker``: a changed archive is
still re-read, an unchanged one is not, and an engine session's Python
workers get the fix by importing the package."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from kinesis_datastore_app_spark import _pyworker  # noqa: F401

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

lazy_interpreter = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter already invalidates lazily",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


class _CountingReads:
    """Counts ``zipimport._read_directory`` calls while active."""

    def __enter__(self):
        self.n = 0
        self._real = zipimport._read_directory

        def counting(path):
            self.n += 1
            return self._real(path)

        zipimport._read_directory = counting
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self._real


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding module ``pwz_a``, on sys.path and imported."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pwz_a": 1})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("pwz_a").VALUE == 1
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("pwz_a", "pwz_b"):
            sys.modules.pop(name, None)


def test_rewritten_archive_is_reread(zip_on_path):
    importlib.invalidate_caches()  # the importer has read this archive
    _write_zip(zip_on_path, {"pwz_a": 1, "pwz_b": 2})
    importlib.invalidate_caches()
    assert importlib.import_module("pwz_b").VALUE == 2


@lazy_interpreter
def test_unchanged_archive_is_not_reread(zip_on_path):
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)
    importlib.invalidate_caches()  # every importer now knows its signature
    with _CountingReads() as reads:
        importlib.invalidate_caches()
    assert reads.n == 0
    # a replaced archive is a new file: re-read on the next call
    _write_zip(zip_on_path + ".new", {"pwz_a": 1, "pwz_b": 2})
    os.replace(zip_on_path + ".new", zip_on_path)
    with _CountingReads() as reads:
        importlib.invalidate_caches()
    assert reads.n >= 1
    assert importlib.import_module("pwz_b").VALUE == 2


# Runs in a child process so the session has exactly one Python worker:
# each job reuses it, so the third job's task is that worker's third.
_WORKER_PROBE = """
import json
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType
from kinesis_datastore_app_spark.session import get_spark

@pandas_udf(StringType())
def reads(x):
    import importlib, sys, zipimport
    import pandas as pd
    import kinesis_datastore_app_spark  # what unpickling an engine UDF does
    n = [0]
    real = zipimport._read_directory
    def counting(path):
        n[0] += 1
        return real(path)
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    cached = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    return pd.Series([json.dumps([n[0], cached])] * len(x))

spark = get_spark(app_name="pyworker-probe", cpus=1)
runs = [
    json.loads(spark.range(1, numPartitions=1).select(reads("id")).first()[0])
    for _ in range(3)
]
spark.stop()
print("RUNS " + json.dumps(runs))
"""


@lazy_interpreter
def test_engine_python_worker_skips_unchanged_rereads(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    env["SPARK_GRAFT_SCRATCH"] = str(tmp_path / "scratch")
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    line = [s for s in out.stdout.splitlines() if s.startswith("RUNS ")][-1]
    runs = json.loads(line[len("RUNS "):])
    reads, cached = runs[2]
    if cached == 0:
        pytest.skip("the Python worker has no zipimporter cached")
    assert reads == 0, runs
