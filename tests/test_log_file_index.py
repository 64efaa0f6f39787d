"""The log is the file list: routine table operations launch no Spark
job whose task count grows with the number of files the log names.

Spark's ``InMemoryFileIndex`` lists more than
``parallelPartitionDiscovery.threshold`` (32) paths with an eager
one-task-per-file job while a DataFrame is built. Every read of
log-named files goes through ``DeltaTable._read_files``, which builds
the relation without that job on ``file:``; VACUUM deletes below
``distributed_threshold`` files on the driver. Each check compares a
40-file table (past the threshold) with an 8-file one."""

import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from xdlake_spark import DeltaTable
from xdlake_spark.sources.readers import _session_conf
from xdlake_spark.sources.storage import (Location, _REGISTRY,
                                          register_filesystem)
from xdlake_spark.table import _LISTING_THRESHOLD, _delete_on_driver

from .emulated_store import EmulatedObjectStore
from .utils import jobs_during


def _write(spark, loc, n_files):
    """A table partitioned on ``p`` with exactly ``n_files`` files."""
    df = spark.sql(
        f"SELECT id, (id % {n_files}) % 4 AS p, id * 2 AS v, "
        f"id % {n_files} AS b FROM range({n_files * 25})")
    t = DeltaTable(spark, loc).write(
        df.repartitionByRange(n_files, "b").drop("b"), partition_by=["p"])
    assert len(t.adds) == n_files


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """Table paths by file count; tests mutate copies (``_copy``)."""
    root = tmp_path_factory.mktemp("file_index")
    for n in (8, 40):
        _write(spark, str(root / f"t{n}"), n)
    return {n: str(root / f"t{n}") for n in (8, 40)}


def _copy(spark, base, tmp_path, tag):
    dst = str(tmp_path / tag)
    shutil.copytree(base, dst)
    return DeltaTable(spark, dst)


def test_scan_and_time_travel_build_runs_no_job(spark, bases):
    for n, base in bases.items():
        t = DeltaTable(spark, base)
        df, jobs = jobs_during(spark, f"build-{n}", t.to_df)
        assert jobs == [], (n, jobs)
        _, jobs = jobs_during(
            spark, f"travel-{n}",
            lambda: DeltaTable(spark, base, version=0).to_df())
        assert jobs == [], (n, jobs)
        assert df.count() == n * 25
        assert df.where("p = 1").count() == \
            spark.range(n * 25).where(f"(id % {n}) % 4 = 1").count()


@pytest.mark.parametrize("name,op", [
    ("delete", lambda t: t.delete("id % 3 = 0", mode="copy-on-write")),
    ("update", lambda t: t.update({"v": "v + 1"}, "id % 7 = 0")),
    ("merge", lambda t: t.merge(
        t.spark.range(0, 40, 3).select(
            "id", (F.col("id") % 4).alias("p"),
            F.lit(-1).cast("long").alias("v")),
        "t.id = s.id AND t.p = s.p",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert={c: f"s.{c}" for c in ("id", "p", "v")})),
    ("optimize", lambda t: t.optimize()),
])
def test_dml_and_optimize_job_count_is_flat(spark, bases, tmp_path,
                                            name, op):
    jobs = {}
    for n, base in bases.items():
        t = _copy(spark, base, tmp_path, f"{name}{n}")
        jobs[n] = len(jobs_during(spark, f"{name}-{n}", lambda: op(t))[1])
    assert jobs[40] == jobs[8], jobs


def test_vacuum_below_threshold_runs_no_job(spark, bases, tmp_path):
    t = _copy(spark, bases[40], tmp_path, "vac").optimize()
    doomed = t.vacuum(retention_hours=0, dry_run=True)
    assert len(doomed) == 40
    gone, jobs = jobs_during(
        spark, "vacuum-40", lambda: t.vacuum(retention_hours=0))
    assert jobs == [], jobs
    assert sorted(gone) == sorted(doomed)
    assert not any(os.path.exists(os.path.join(t.location.path, p))
                   for p in doomed)
    assert t.to_df().count() == 40 * 25


def test_missing_file_still_fails_the_read(spark, bases, tmp_path):
    t = _copy(spark, bases[40], tmp_path, "miss")
    os.remove(t.location.join(sorted(t.adds)[0]).path)
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        DeltaTable(spark, t.location.path).to_df().count()
    assert spark.conf.get(_LISTING_THRESHOLD) == "32"


def test_threshold_restored_after_ops_and_errors(spark, bases, tmp_path):
    t = _copy(spark, bases[40], tmp_path, "thr")
    t.to_df().count()
    assert spark.conf.get(_LISTING_THRESHOLD) == "32"
    with pytest.raises(Exception):
        t.delete("no_such_column = 1")
    assert spark.conf.get(_LISTING_THRESHOLD) == "32"

    # concurrent reads on one session never leave it raised: without
    # the lock, one reader can save another's raised value as "prior"
    # and restore it last
    errors = []

    def read():
        try:
            for _ in range(2):
                DeltaTable(spark, t.location.path).to_df()
        except Exception as e:
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read)
                   for _ in range(2 * os.cpu_count())]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    assert spark.conf.get(_LISTING_THRESHOLD) == "32"


def test_session_conf_restores_or_unsets_on_error(spark):
    key = "spark.xdlake.test.scoped"
    with pytest.raises(RuntimeError):
        with _session_conf(spark, key, "a"):
            assert spark.conf.get(key) == "a"
            raise RuntimeError
    assert spark.conf.get(key, None) is None
    spark.conf.set(key, "before")
    try:
        with pytest.raises(RuntimeError):
            with _session_conf(spark, key, "b"):
                raise RuntimeError
        assert spark.conf.get(key) == "before"
    finally:
        spark.conf.unset(key)


def test_vacuum_tolerates_file_already_gone(spark, bases, tmp_path):
    t = _copy(spark, bases[8], tmp_path, "gone").optimize()
    doomed = t.vacuum(retention_hours=0, dry_run=True)
    os.remove(t.location.join(doomed[0]).path)
    assert sorted(t.vacuum(retention_hours=0)) == sorted(doomed)
    assert not any(os.path.exists(os.path.join(t.location.path, p))
                   for p in doomed)


def test_driver_delete_one_call_per_file_on_object_store():
    """On a store whose delete of a missing key raises, the driver
    delete still makes exactly one call per file and treats
    FileNotFoundError as already gone."""
    class CountingStore(EmulatedObjectStore):
        def __init__(self):
            super().__init__()
            self.calls = []

        def rm(self, path, recursive=False):
            self.calls.append(path)
            return super().rm(path, recursive)

        def exists(self, path):
            raise AssertionError("vacuum deletes without a stat")

    store = CountingStore()
    prefix = "emuVac://bucket"
    register_filesystem(prefix, store)
    try:
        rels = [f"t/p={i % 2}/f{i}.parquet" for i in range(20)]
        for r in rels[1:]:
            store.put_if_absent(f"{prefix}/{r}", b"x")
        _delete_on_driver(Location.resolve(prefix), rels)
        assert sorted(store.calls) == sorted(f"{prefix}/{r}" for r in rels)
        assert store.find(f"{prefix}/t") == []
    finally:
        _REGISTRY.pop(prefix, None)
