"""The ``xdlake`` format sinks commit through ``DeltaTable``'s commit
pipeline (``DeltaTable._commit_staged`` -> ``_commit``), the same one
``DeltaTable.write`` uses: a table the sink tasks cannot enforce is
refused at planning time, and every format commit gets the pipeline's
protocol features, row-tracking stamps, crc and checkpoints."""

import ast
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from xdlake_spark import DeltaTable
from xdlake_spark.sources.datasource import register

MODES = ["append", "overwrite", "stream"]


@pytest.fixture(scope="module")
def registered(spark):
    register(spark)
    return spark


def _frame(spark, ids, v):
    return spark.createDataFrame([(i, v) for i in ids], "id long, v long")


def _sink(spark, loc, mode, frames, scratch):
    """Write each frame through the format sink: one batch job per
    frame, or one stream with one micro-batch per frame."""
    if mode != "stream":
        for df in frames:
            df.write.format("xdlake").mode(mode).save(loc)
        return
    src = f"{scratch}/src"
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(src)
    q = (spark.readStream.schema(frames[0].schema)
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream.format("xdlake")
         .option("checkpointLocation", f"{scratch}/ckpt")
         .trigger(availableNow=True).start(loc))
    q.awaitTermination(180)
    if q.exception() is not None:
        raise Exception(str(q.exception()))


def _versions_have_valid_crc(spark, loc):
    t = DeltaTable(spark, loc)
    for v in range(t.version + 1):
        assert os.path.exists(f"{loc}/_delta_log/{v:020d}.crc"), v
        assert t.load_as_version(v).verify_checksum() == [], v


@pytest.mark.parametrize("mode", MODES)
def test_format_commits_go_through_the_table_pipeline(registered,
                                                      tmp_path, mode):
    spark = registered

    def base(name):
        loc = str(tmp_path / name)
        return loc, DeltaTable(spark, loc).write(_frame(spark, [1], 1))

    # 1. CHECK constraint: refused, table untouched
    loc, t = base("check")
    t = t.add_constraint("pos", "v > 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        _sink(spark, loc, mode, [_frame(spark, [2], -5)],
              tmp_path / "s1")
    t2 = DeltaTable(spark, loc)
    assert t2.version == t.version and t2.count() == 1

    # 2. appendOnly: an overwrite is refused, appends keep the old rows
    loc, t = base("ao")
    t = t.set_properties({"delta.appendOnly": "true"})
    if mode == "overwrite":
        with pytest.raises(Exception, match="append-only"):
            _sink(spark, loc, mode, [_frame(spark, [2], 2)],
                  tmp_path / "s2")
        assert DeltaTable(spark, loc).version == t.version
    else:
        _sink(spark, loc, mode, [_frame(spark, [2], 2)], tmp_path / "s2")
        assert sorted(r.id for r in
                      DeltaTable(spark, loc).to_df().collect()) == [1, 2]
    _versions_have_valid_crc(spark, loc)

    # 3. a nested timestamp_ntz create declares the feature
    loc = str(tmp_path / "ntz")
    nested = spark.createDataFrame(
        [(1, ("2024-01-02 03:04:05",))],
        "id long, s struct<ts: string>").select(
        "id", F.struct(F.col("s.ts").cast("timestamp_ntz")
                       .alias("ts")).alias("s"))
    _sink(spark, loc, mode, [nested], tmp_path / "s3")
    t = DeltaTable(spark, loc)
    proto = t.log.protocol()
    assert proto.minReaderVersion == 3 and proto.minWriterVersion == 7
    assert "timestampNtz" in proto.extra["readerFeatures"]
    assert "timestampNtz" in proto.extra["writerFeatures"]
    assert t.to_df().collect()[0]["s"]["ts"].year == 2024
    _versions_have_valid_crc(spark, loc)

    # 4. column mapping: refused (tasks write logical names)
    loc, t = base("cm")
    t = t.enable_column_mapping().rename_column("v", "w")
    renamed = spark.createDataFrame([(2, 2)], "id long, w long")
    with pytest.raises(Exception, match="column mapping"):
        _sink(spark, loc, mode, [renamed], tmp_path / "s4")
    assert DeltaTable(spark, loc).version == t.version

    # 5. row tracking: every new add carries a base row id
    loc, t = base("rt")
    t = t.enable_row_tracking()
    _sink(spark, loc, mode, [_frame(spark, [2, 3], 2)], tmp_path / "s5")
    t = DeltaTable(spark, loc)
    assert all((a.extra or {}).get("baseRowId") is not None
               for a in t.adds.values())
    ids = [r["_row_id"] for r in t.to_df_with_row_ids().collect()]
    assert len(ids) == len(set(ids)) == t.count()
    _versions_have_valid_crc(spark, loc)

    # 6. delta.checkpointInterval=2: 4 commits leave a checkpoint
    loc, t = base("ckpt")
    t = t.set_properties({"delta.checkpointInterval": "2"})
    _sink(spark, loc, mode,
          [_frame(spark, [10 + i], i) for i in range(4)],
          tmp_path / "s6")
    t = DeltaTable(spark, loc)
    assert t.version == 5
    last = json.load(open(f"{loc}/_delta_log/_last_checkpoint"))
    assert last["version"] == 4
    assert t.count() == (1 if mode == "overwrite" else 5)
    _versions_have_valid_crc(spark, loc)


def test_ten_stream_batches_write_a_checkpoint(registered, tmp_path):
    spark = registered
    loc = str(tmp_path / "t")
    DeltaTable(spark, loc).write(_frame(spark, [0], 0)).set_properties(
        {"delta.checkpointInterval": "10"})
    _sink(spark, loc, "stream",
          [_frame(spark, [i], i) for i in range(1, 11)], tmp_path / "s")
    t = DeltaTable(spark, loc)
    assert t.version == 11 and t.count() == 11
    assert os.path.exists(
        f"{loc}/_delta_log/{10:020d}.checkpoint.parquet")
    assert t.verify_checksum() == []


def test_stream_replay_deletes_its_files(tmp_path):
    """A replayed batchId commits nothing AND removes the files its
    tasks just wrote: no log references them, so vacuum never would.
    Driven directly on the sink writer (no session)."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from xdlake_spark.sources.datasource import _XdlakeStreamWriter

    loc = str(tmp_path / "t")
    w = _XdlakeStreamWriter(
        loc, StructType([StructField("id", LongType())]).json())

    def task():
        return w.write(iter([pa.RecordBatch.from_pydict(
            {"id": pa.array([1, 2], pa.int64())})]))

    w.commit([task()], 0)
    t = DeltaTable(None, loc)
    assert t.version == 0 and len(t.adds) == 1
    replay = task()
    path = f"{loc}/{replay.files[0].rel_path}"
    assert os.path.exists(path)
    w.commit([replay], 0)
    assert not os.path.exists(path)
    t = DeltaTable(None, loc)
    assert t.version == 0 and len(t.adds) == 1
    assert sorted(p.name for p in pathlib.Path(loc).glob("*.parquet")) \
        == sorted(t.adds)
    w.commit([task()], 1)
    assert DeltaTable(None, loc).version == 1


def test_commit_entry_has_one_caller():
    """Every commit in the library goes through DeltaTable._commit; a
    second private commit path must not creep back."""
    root = pathlib.Path(__file__).resolve().parent.parent / "xdlake_spark"
    callers = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())

        def walk(node, scope):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.ClassDef,
                                      ast.AsyncFunctionDef)):
                    walk(child, scope + [child.name])
                    continue
                if isinstance(child, ast.Call):
                    f = child.func
                    name = f.id if isinstance(f, ast.Name) else \
                        getattr(f, "attr", None)
                    if name == "commit_entry":
                        callers.append((path.name, ".".join(scope)))
                walk(child, scope)

        walk(tree, [])
    assert callers == [("table.py", "DeltaTable._commit")]
