"""Worker daemon zip-cache guard (session.get_spark's
``spark.python.daemon.module``): unchanged archives are not re-read on
``importlib.invalidate_caches()``, changed ones are, and Python workers run
under the guard.  Counts, not timings."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from collections import Counter

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark import worker_daemon


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed in this process, with fresh stamps and count."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(worker_daemon, "rereads", Counter())
    return worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = tmp_path / "guard_probe.zip"
    _write_zip(path, {"guard_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    yield path
    for name in ("guard_probe_a", "guard_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)


def test_unchanged_zip_is_not_reread(guarded, zip_on_path):
    assert importlib.import_module("guard_probe_a").VALUE == 1
    importlib.invalidate_caches()  # the first guarded call stamps the archive
    assert guarded.rereads[str(zip_on_path)] == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert guarded.rereads[str(zip_on_path)] == 1


def test_rewritten_zip_is_reread(guarded, zip_on_path):
    importlib.import_module("guard_probe_a")
    importlib.invalidate_caches()
    _write_zip(
        zip_on_path, {"guard_probe_a": "VALUE = 1\n", "guard_probe_b": "VALUE = 2\n"}
    )
    importlib.invalidate_caches()
    assert guarded.rereads[str(zip_on_path)] == 2
    assert importlib.import_module("guard_probe_b").VALUE == 2


def test_add_py_file_zip_imports_in_pandas_udf(spark, tmp_path):
    # why pyspark invalidates import caches per task at all: archives
    # shipped after the workers started must import
    path = tmp_path / "guard_pyfile_probe.zip"
    _write_zip(path, {"guard_pyfile_probe": "def bump(s):\n    return s + 41\n"})
    spark.sparkContext.addPyFile(str(path))

    @F.pandas_udf("long")
    def bump(s):
        import guard_pyfile_probe

        return guard_pyfile_probe.bump(s)

    df = spark.range(1, 5, numPartitions=4).select(bump("id").alias("v"))
    got = [r.v for r in df.collect()]
    assert sorted(got) == [42, 43, 44, 45]


def test_worker_reread_count_stays_flat(spark):
    def probe(_):  # nested: pickled by value, workers cannot import tests/
        import os
        import zipimport

        from applications_analytics_midas_hbase_metrics_spark import worker_daemon as wd

        guarded = zipimport.zipimporter.invalidate_caches is wd._invalidate_caches
        yield os.getpid(), sum(wd.rereads.values()), guarded

    rdd = spark.sparkContext.parallelize(range(4), 4)
    first = rdd.mapPartitions(probe).collect()
    second = rdd.mapPartitions(probe).collect()
    assert all(g for _, _, g in first + second)
    before = {pid: n for pid, n, _ in first}
    after = {pid: n for pid, n, _ in second}
    reused = before.keys() & after.keys()
    assert reused
    assert all(after[pid] == before[pid] for pid in reused)
