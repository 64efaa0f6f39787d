"""The DML rewrite core: delete, update, replaceWhere and merge share one
find → rewrite-or-mask → commit path.

Each DML path's Spark job count is pinned on the 8-file table of
``test_log_file_index.py`` (no path may run more jobs than the pinned
count), and the commit metrics count only rows a deletion vector has
not already masked."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from xdlake_spark import DeltaTable

from .test_log_file_index import _write
from .utils import jobs_during


@pytest.fixture(scope="module")
def base8(spark, tmp_path_factory):
    loc = str(tmp_path_factory.mktemp("dml_core") / "t8")
    _write(spark, loc, 8)
    return loc


def _merge(t, insert_only=False):
    src = t.spark.range(0, 40, 3).select(
        "id", (F.col("id") % 4).alias("p"),
        F.lit(-1).cast("long").alias("v"))
    ins = {c: f"s.{c}" for c in ("id", "p", "v")}
    if insert_only:
        return t.merge(src.withColumn("id", F.col("id") + 1000),
                       "t.id = s.id AND t.p = s.p",
                       when_not_matched_insert=ins)
    return t.merge(src, "t.id = s.id AND t.p = s.p",
                   when_matched_update={"v": "s.v"},
                   when_not_matched_insert=ins)


def _replace_where(t):
    new = t.spark.sql(
        "SELECT 1000 + 2 * id AS id, 1 AS p, -id AS v FROM range(10)")
    return t.write(new, mode="overwrite",
                   replace_where="p = 1 AND id % 2 = 0")


# The most Spark jobs each path may run on the 8-file table: what it ran
# before delete/update/replaceWhere/merge shared one core. The
# merge-on-read update that matches nothing sits one below its old 3: it
# wrote empty post-image files before masking, and now masks first.
DML_JOBS = {
    "delete-cow": (lambda t: t.delete("id % 3 = 0",
                                      mode="copy-on-write"), 3),
    "delete-mor": (lambda t: t.delete("id % 3 = 0",
                                      mode="merge-on-read"), 2),
    "delete-metadata-only": (lambda t: t.delete("p = 1"), 0),
    "delete-all": (lambda t: t.delete(), 0),
    "update-cow": (lambda t: t.update({"v": "v + 1"}, "id % 7 = 0",
                                      mode="copy-on-write"), 3),
    "update-mor": (lambda t: t.update({"v": "v + 1"}, "id % 7 = 0",
                                      mode="merge-on-read"), 3),
    "update-mor-no-match": (lambda t: t.update(
        {"v": "v + 1"}, "id % 7 = 100", mode="merge-on-read"), 2),
    "merge-upsert": (_merge, 10),
    "merge-insert-only": (lambda t: _merge(t, insert_only=True), 7),
    "replace-where": (_replace_where, 3),
}


@pytest.mark.parametrize("name", sorted(DML_JOBS))
def test_dml_path_job_count(spark, base8, tmp_path, name):
    op, pinned = DML_JOBS[name]
    dst = str(tmp_path / name)
    shutil.copytree(base8, dst)
    t = DeltaTable(spark, dst)
    _, jobs = jobs_during(spark, f"dml-{name}", lambda: op(t))
    assert len(jobs) <= pinned, (name, len(jobs), pinned)


def _metrics(t):
    return next(iter(t.history()))["operationMetrics"]


def _two_files(spark, loc):
    """100 rows in two files: ids 0-49 and 50-99."""
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    t = DeltaTable(spark, loc).write(df.repartitionByRange(2, "id"))
    assert len(t.adds) == 2
    return t


def test_update_copied_rows_skip_dv_masked_rows(spark, tmp_path):
    t = _two_files(spark, str(tmp_path / "t"))
    t = t.delete("id < 30", mode="merge-on-read")
    # the file holding id 35 has 20 live rows: 19 are copied
    t = t.update({"v": "v + 100"}, "id = 35", mode="copy-on-write")
    m = _metrics(t)
    assert (int(m["num_updated_rows"]), int(m["num_copied_rows"])) == (1, 19)
    assert t.to_df().count() == 70


def test_delete_all_counts_live_rows(spark, tmp_path):
    t = _two_files(spark, str(tmp_path / "t"))
    t = t.delete("id < 30", mode="merge-on-read")
    t2, jobs = jobs_during(spark, "delete-all-dv", t.delete)
    assert jobs == []
    assert int(_metrics(t2)["num_deleted_rows"]) == 70
    assert t2.to_df().count() == 0


def test_update_copied_rows_without_stats(spark, tmp_path):
    loc = str(tmp_path / "t")
    _two_files(spark, loc)
    log = os.path.join(loc, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(line) for line in open(log)]
    for obj in lines:
        if "add" in obj:
            obj["add"].pop("stats", None)
    open(log, "w").write("\n".join(json.dumps(o) for o in lines) + "\n")
    t = DeltaTable(spark, loc).update({"v": "v + 1"}, "id = 10",
                                     mode="copy-on-write")
    m = _metrics(t)
    assert (int(m["num_updated_rows"]), int(m["num_copied_rows"])) == (1, 49)
    # no stats, no live-row count: delete() still runs no job and
    # counts such a file as 0 rows
    t2, jobs = jobs_during(spark, "delete-all-nostats", t.delete)
    assert jobs == []
    assert int(_metrics(t2)["num_deleted_rows"]) == 50
