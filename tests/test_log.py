"""Log kernel unit tests — no Spark session needed.

Golden fixtures are a three-version log written by hand from the Delta
protocol spec (tests/fixtures/README.md), an engine-neutral JSON corpus.
"""

import json
import os

import pytest
from pyspark.sql import types as T

from xdlake_spark.log import (
    Add,
    DeltaLog,
    DeltaLogEntry,
    Protocol,
    Remove,
    TableCommit,
    TableMetadata,
    UnknownAction,
    WriteMode,
    load_action,
    log_entry_filename,
)
from xdlake_spark.log.schema import (
    intersect_schemas,
    merge_schemas,
    schema_from_string,
    schema_to_string,
    schemas_equal,
)
from xdlake_spark.sources.storage import Location

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "_delta_log")


def golden_log(version=None):
    return DeltaLog.load(Location.resolve(FIXTURES), version=version)


class TestGoldenFixtures:
    def test_versions(self):
        assert golden_log().versions == [0, 1, 2]

    def test_replay_live_files(self):
        log = golden_log()
        live = log.add_actions()
        # v1 overwrote v0's file (add+remove); v2 appended one more
        assert len(live) == 2

    def test_schema_evolution_visible(self):
        log = golden_log()
        names = [f.name for f in log.schema().fields]
        assert "new_column" in names
        v1 = golden_log(version=1)
        assert "new_column" not in [f.name for f in v1.schema().fields]

    def test_pinned_version_truncates(self):
        assert golden_log(version=1).versions == [0, 1]

    def test_missing_version_raises(self):
        with pytest.raises(ValueError):
            golden_log(version=99)

    @pytest.mark.parametrize("make_dir", [False, True])
    def test_pinned_version_of_absent_log_raises(self, tmp_path, make_dir):
        log_dir = tmp_path / "_delta_log"
        if make_dir:
            log_dir.mkdir()
        with pytest.raises(ValueError):
            DeltaLog.load(Location.resolve(str(log_dir)), version=0)
        assert not DeltaLog.load(Location.resolve(str(log_dir)))

    def test_roundtrip_bytes(self):
        log = golden_log()
        for v, entry in log.entries.items():
            rt = DeltaLogEntry.from_bytes(entry.to_bytes())
            assert [type(a) for a in rt.actions] == \
                   [type(a) for a in entry.actions]
            # foreign fields survive in extra
            for orig, back in zip(entry.actions, rt.actions):
                assert orig.to_json() == back.to_json()

    def test_stats_parse(self):
        log = golden_log()
        add = next(iter(log.entries[1].adds))
        s = add.stats_dict
        assert s["numRecords"] == 11
        assert "minValues" in s and "nullCount" in s


class TestActions:
    def test_registry_dispatch(self):
        a = load_action({"add": {"path": "x.parquet", "size": 1,
                                 "modificationTime": 2,
                                 "partitionValues": {}, "dataChange": True}})
        assert isinstance(a, Add)

    def test_unknown_action_preserved(self):
        # checkpointMetadata is a real Delta action this engine keeps
        # opaque in JSON logs — it must round-trip verbatim, not drop
        raw = {"checkpointMetadata": {"version": 4, "tags": None}}
        a = load_action(raw)
        assert isinstance(a, UnknownAction)
        assert a.to_json() == raw

    def test_domain_metadata_roundtrip(self):
        from xdlake_spark.log import DomainMetadata
        raw = {"domainMetadata": {"domain": "d", "configuration": "{}",
                                  "removed": False}}
        a = load_action(raw)
        assert isinstance(a, DomainMetadata)
        assert a.domain == "d" and not a.removed
        assert a.to_json() == raw

    def test_cdc_action_roundtrip(self):
        raw = {"cdc": {"path": "_change_data/c0.parquet", "size": 9,
                       "partitionValues": {}, "dataChange": False,
                       "tags": {"x": "1"}}}
        a = load_action(raw)
        from xdlake_spark.log import Cdc
        assert isinstance(a, Cdc)
        assert a.extra["tags"] == {"x": "1"}
        assert a.to_json() == raw

    def test_tolerant_extra_fields_roundtrip(self):
        obj = {"path": "p", "size": 3, "modificationTime": 4,
               "partitionValues": {}, "dataChange": True,
               "deletionVector": None, "baseRowId": 7}
        a = Add.from_json(obj)
        assert a.extra["baseRowId"] == 7
        assert a.to_json()["add"]["baseRowId"] == 7

    def test_add_to_remove(self):
        a = Add(path="p", size=3, partitionValues={"c": "1"})
        r = a.to_remove()
        assert isinstance(r, Remove)
        assert r.path == "p" and r.partitionValues == {"c": "1"}
        assert r.size == 3

    def test_write_mode_coerce(self):
        assert WriteMode.coerce("append") is WriteMode.append
        assert WriteMode.coerce(WriteMode.error) is WriteMode.error
        with pytest.raises(ValueError):
            WriteMode.coerce("bogus")

    def test_log_entry_filename(self):
        assert log_entry_filename(7) == "00000000000000000007.json"
        assert len(log_entry_filename(7)) == len("00000000000000000007.json")


SCHEMA_A = T.StructType([
    T.StructField("a", T.IntegerType()),
    T.StructField("b", T.StringType()),
])
SCHEMA_B = T.StructType([
    T.StructField("b", T.StringType()),
    T.StructField("c", T.DoubleType()),
])


class TestSchema:
    def test_schema_string_roundtrip(self):
        s = schema_from_string(schema_to_string(SCHEMA_A))
        assert s == SCHEMA_A

    def test_merge_union_of_fields(self):
        m = merge_schemas([SCHEMA_A, SCHEMA_B])
        assert [f.name for f in m.fields] == ["a", "b", "c"]

    def test_merge_widens_numeric(self):
        a = T.StructType([T.StructField("x", T.IntegerType())])
        b = T.StructType([T.StructField("x", T.LongType())])
        assert merge_schemas([a, b])["x"].dataType == T.LongType()
        c = T.StructType([T.StructField("x", T.FloatType())])
        assert merge_schemas([a, c])["x"].dataType == T.FloatType()

    def test_merge_conflict_raises(self):
        a = T.StructType([T.StructField("x", T.StringType())])
        b = T.StructType([T.StructField("x", T.LongType())])
        with pytest.raises(ValueError):
            merge_schemas([a, b])

    def test_intersect(self):
        i = intersect_schemas([SCHEMA_A, SCHEMA_B])
        assert [f.name for f in i.fields] == ["b"]

    def test_order_insensitive_equality(self):
        shuffled = T.StructType(list(reversed(SCHEMA_A.fields)))
        assert schemas_equal(SCHEMA_A, shuffled)
        assert not schemas_equal(SCHEMA_A, SCHEMA_B)

    def test_arrow_mapping_narrows_unsigned(self):
        import pyarrow as pa

        from xdlake_spark.log.schema import arrow_schema_to_spark
        s = arrow_schema_to_spark(pa.schema([
            ("u", pa.uint64()), ("f", pa.float32()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("tsn", pa.timestamp("us")),
            ("emb", pa.list_(pa.float32())),
        ]))
        assert s["u"].dataType == T.LongType()
        assert s["f"].dataType == T.FloatType()
        assert s["ts"].dataType == T.TimestampType()
        assert s["tsn"].dataType == T.TimestampNTZType()
        assert s["emb"].dataType == T.ArrayType(T.FloatType())


class TestEvaluateSchema:
    def _log_with_schema(self, schema):
        from xdlake_spark.log import create_table_entry
        entry = create_table_entry(schema, [], "loc", [])
        return DeltaLog({0: entry})

    def test_append_same_ok(self):
        log = self._log_with_schema(SCHEMA_A)
        from xdlake_spark.log import SchemaMode
        out = log.evaluate_schema(SCHEMA_A, WriteMode.append,
                                  SchemaMode.overwrite)
        assert schemas_equal(out, SCHEMA_A)

    def test_append_mismatch_raises(self):
        log = self._log_with_schema(SCHEMA_A)
        from xdlake_spark.log import SchemaMode
        with pytest.raises(ValueError, match="mismatch"):
            log.evaluate_schema(SCHEMA_B, WriteMode.append,
                                SchemaMode.overwrite)

    def test_append_merge_unifies(self):
        log = self._log_with_schema(SCHEMA_A)
        from xdlake_spark.log import SchemaMode
        out = log.evaluate_schema(SCHEMA_B, WriteMode.append,
                                  SchemaMode.merge)
        assert [f.name for f in out.fields] == ["a", "b", "c"]

    def test_overwrite_incoming_wins(self):
        log = self._log_with_schema(SCHEMA_A)
        from xdlake_spark.log import SchemaMode
        out = log.evaluate_schema(SCHEMA_B, WriteMode.overwrite,
                                  SchemaMode.overwrite)
        assert schemas_equal(out, SCHEMA_B)


class TestPartitionValidation:
    def test_fixed_at_creation(self):
        from xdlake_spark.log import create_table_entry
        entry = create_table_entry(SCHEMA_A, ["a"], "loc", [])
        log = DeltaLog({0: entry})
        assert log.validate_partition_by(None) == ["a"]
        assert log.validate_partition_by(["a"]) == ["a"]
        with pytest.raises(ValueError):
            log.validate_partition_by(["b"])
        with pytest.raises(ValueError):
            log.validate_partition_by([])

    def test_delta_rs_json_string_quirk(self):
        ci = TableCommit.write(mode="Append", partition_by=["x", "y"])
        entry = DeltaLogEntry([ci])
        assert entry.partition_columns_hint() == ["x", "y"]


class TestForeignMaintenanceLogs:
    """Tolerant replay of delta-rs-written logs whose commits carry
    OPTIMIZE / MERGE / VACUUM commitInfo shapes (the reference reads such
    logs in its compat suite, /root/reference/tests/test_compatibility.py:
    112-154). Shapes synthesized verbatim from delta-rs output."""

    @staticmethod
    def _write_foreign_log(root):
        import os
        d = os.path.join(root, "_delta_log")
        os.makedirs(d)

        def w(v, lines):
            with open(os.path.join(d, f"{v:020d}.json"), "w") as f:
                f.write("\n".join(json.dumps(x) for x in lines))

        meta = {"metaData": {
            "id": "11111111-2222-3333-4444-555555555555",
            "name": None, "description": None,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "order", "type": "double", "nullable": True,
                 "metadata": {}},
                {"name": "float64", "type": "double", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "createdTime": 1700000000000,
            "configuration": {}}}
        add = lambda p, dc: {"add": {
            "path": p, "partitionValues": {}, "size": 1000,
            "modificationTime": 1700000000000, "dataChange": dc,
            "stats": json.dumps({"numRecords": 10, "minValues": {},
                                 "maxValues": {}, "nullCount": {}}),
            "tags": None, "deletionVector": None, "baseRowId": None,
            "defaultRowCommitVersion": None, "clusteringProvider": None}}
        rm = lambda p, dc: {"remove": {
            "path": p, "deletionTimestamp": 1700000001000,
            "dataChange": dc, "extendedFileMetadata": True,
            "partitionValues": {}, "size": 1000}}

        w(0, [{"commitInfo": {
                "timestamp": 1700000000000, "operation": "CREATE TABLE",
                "operationParameters": {"mode": "ErrorIfExists",
                                        "protocol": "{}",
                                        "metadata": json.dumps(
                                            meta["metaData"])},
                "clientVersion": "delta-rs.0.17.3"}},
              {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
              meta, add("part-00000-a.parquet", True)])
        w(1, [{"commitInfo": {
                "timestamp": 1700000002000, "operation": "WRITE",
                "operationParameters": {"mode": "Append",
                                        "partitionBy": "[]"},
                "clientVersion": "delta-rs.0.17.3"}},
              add("part-00001-b.parquet", True),
              add("part-00001-c.parquet", True)])
        # MERGE: rewrote file b, appended d
        w(2, [{"commitInfo": {
                "timestamp": 1700000003000, "operation": "MERGE",
                "operationParameters": {
                    "predicate": "source.order = target.order",
                    "matchedPredicates": "[{\"actionType\":\"update\"}]",
                    "notMatchedPredicates": "[{\"actionType\":\"insert\"}]",
                    "notMatchedBySourcePredicates": "[]"},
                "operationMetrics": {"num_target_rows_updated": 4,
                                     "num_target_rows_inserted": 2},
                "readVersion": 1, "clientVersion": "delta-rs.0.17.3"}},
              rm("part-00001-b.parquet", True),
              add("part-00002-b2.parquet", True),
              add("part-00002-d.parquet", True)])
        # OPTIMIZE compact: a + c + b2 + d -> e, dataChange=false
        w(3, [{"commitInfo": {
                "timestamp": 1700000004000, "operation": "OPTIMIZE",
                "operationParameters": {"targetSize": "268435456",
                                        "predicate": "[]"},
                "operationMetrics": {"numFilesAdded": 1,
                                     "numFilesRemoved": 4},
                "readVersion": 2, "clientVersion": "delta-rs.0.17.3"}},
              rm("part-00000-a.parquet", False),
              rm("part-00001-c.parquet", False),
              rm("part-00002-b2.parquet", False),
              rm("part-00002-d.parquet", False),
              add("part-00003-e.parquet", False)])
        w(4, [{"commitInfo": {
                "timestamp": 1700000005000, "operation": "VACUUM START",
                "operationParameters": {"retentionCheckEnabled": "true",
                                        "defaultRetentionMillis":
                                            "604800000",
                                        "specifiedRetentionMillis": "0"},
                "operationMetrics": {"numFilesToDelete": 4},
                "readVersion": 3, "clientVersion": "delta-rs.0.17.3"}}])
        w(5, [{"commitInfo": {
                "timestamp": 1700000006000, "operation": "VACUUM END",
                "operationParameters": {"status": "COMPLETED"},
                "operationMetrics": {"numDeletedFiles": 4},
                "readVersion": 4, "clientVersion": "delta-rs.0.17.3"}}])
        return os.path.join(root, "_delta_log")

    def test_replay(self, tmp_path):
        log_dir = self._write_foreign_log(str(tmp_path))
        log = DeltaLog.load(Location.resolve(log_dir))
        assert log.versions == [0, 1, 2, 3, 4, 5]
        # after MERGE + OPTIMIZE, the only live file is the compacted one
        assert sorted(log.add_actions()) == ["part-00003-e.parquet"]
        assert [f.name for f in log.schema().fields] == ["order", "float64"]
        assert log.partition_columns() == []

    def test_history_operations(self, tmp_path):
        log_dir = self._write_foreign_log(str(tmp_path))
        log = DeltaLog.load(Location.resolve(log_dir))
        ops = [h["operation"] for h in log.history(reverse=False)]
        assert ops == ["CREATE TABLE", "WRITE", "MERGE", "OPTIMIZE",
                       "VACUUM START", "VACUUM END"]

    def test_time_travel_across_maintenance(self, tmp_path):
        log_dir = self._write_foreign_log(str(tmp_path))
        # before OPTIMIZE: the four pre-compaction files are live
        v2 = DeltaLog.load(Location.resolve(log_dir), version=2)
        assert sorted(v2.add_actions()) == [
            "part-00000-a.parquet", "part-00001-c.parquet",
            "part-00002-b2.parquet", "part-00002-d.parquet"]
        # vacuum commits carry no file actions: v4/v5 match v3
        v5 = DeltaLog.load(Location.resolve(log_dir), version=5)
        v3 = DeltaLog.load(Location.resolve(log_dir), version=3)
        assert sorted(v5.add_actions()) == sorted(v3.add_actions())

    def test_roundtrip_preserves_foreign_fields(self, tmp_path):
        log_dir = self._write_foreign_log(str(tmp_path))
        log = DeltaLog.load(Location.resolve(log_dir))
        for entry in log.entries.values():
            rt = DeltaLogEntry.from_bytes(entry.to_bytes())
            for orig, back in zip(entry.actions, rt.actions):
                assert orig.to_json() == back.to_json()
        # delta-rs-specific merge params survive verbatim
        ci = log.entries[2].commit_info
        assert ci.operationParameters["matchedPredicates"] == \
            "[{\"actionType\":\"update\"}]"


class TestSetTransaction:
    def test_txn_roundtrip_and_watermark(self, tmp_path):
        from xdlake_spark.log import (SetTransaction, append_table_entry,
                                      commit_entry)
        log_loc = Location.resolve(str(tmp_path / "_delta_log"))
        a = Add(path="f0.parquet", size=1)
        e0 = DeltaLogEntry([Protocol(),
                            TableMetadata(schemaString="{}"), a])
        commit_entry(log_loc, 0, e0)
        commit_entry(log_loc, 1, append_table_entry(
            [Add(path="f1.parquet", size=1)], [],
            txn=SetTransaction(appId="appA", version=7)))
        commit_entry(log_loc, 2, append_table_entry(
            [Add(path="f2.parquet", size=1)], [],
            txn=SetTransaction(appId="appB", version=3)))
        log = DeltaLog.load(log_loc)
        assert log.latest_txn_version("appA") == 7
        assert log.latest_txn_version("appB") == 3
        assert log.latest_txn_version("ghost") is None
        # serialized under the protocol's "txn" key, parsed back typed
        rt = DeltaLogEntry.from_bytes(log.entries[1].to_bytes())
        txns = [x for x in rt.actions
                if type(x).__name__ == "SetTransaction"]
        assert txns and txns[0].appId == "appA" and txns[0].version == 7


class TestDynamicOverwriteTypedMatching:
    """dynamic_overwrite_entry compares partitionValues TYPED, not by
    exact string equality — a foreign writer's serialization of the
    same partition value must still match (ADVICE r9: stale rows were
    silently kept)."""

    def _entry(self, schema, pby, new_pv, old_pv):
        from xdlake_spark.log import dynamic_overwrite_entry
        new = Add(path="new.parquet", size=1, partitionValues=new_pv)
        old = Add(path="old.parquet", size=1, partitionValues=old_pv)
        return dynamic_overwrite_entry([new], [old], schema, pby)

    def test_timestamp_serialization_variants_match(self):
        schema = T.StructType([
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.LongType())])
        e = self._entry(schema, ["ts"],
                        {"ts": "2024-01-01 00:00:00"},
                        {"ts": "2024-01-01T00:00:00.000Z"})
        assert [r.path for r in e.removes] == ["old.parquet"]

    def test_decimal_trailing_zero_matches(self):
        schema = T.StructType([
            T.StructField("d", T.DecimalType(10, 2)),
            T.StructField("v", T.LongType())])
        e = self._entry(schema, ["d"], {"d": "1"}, {"d": "1.00"})
        assert [r.path for r in e.removes] == ["old.parquet"]

    def test_int_leading_zero_matches(self):
        schema = T.StructType([
            T.StructField("i", T.IntegerType()),
            T.StructField("v", T.LongType())])
        e = self._entry(schema, ["i"], {"i": "7"}, {"i": "07"})
        assert [r.path for r in e.removes] == ["old.parquet"]

    def test_bool_case_matches_and_distinct_stays_distinct(self):
        schema = T.StructType([
            T.StructField("b", T.BooleanType()),
            T.StructField("v", T.LongType())])
        e = self._entry(schema, ["b"], {"b": "true"}, {"b": "True"})
        assert [r.path for r in e.removes] == ["old.parquet"]
        e = self._entry(schema, ["b"], {"b": "true"}, {"b": "false"})
        assert [r.path for r in e.removes] == []

    def test_unparseable_falls_back_to_exact(self):
        schema = T.StructType([
            T.StructField("i", T.IntegerType()),
            T.StructField("v", T.LongType())])
        e = self._entry(schema, ["i"], {"i": "x"}, {"i": "x"})
        assert [r.path for r in e.removes] == ["old.parquet"]
        e = self._entry(schema, ["i"], {"i": "x"}, {"i": "y"})
        assert [r.path for r in e.removes] == []

    def test_null_partition_value(self):
        schema = T.StructType([
            T.StructField("i", T.IntegerType()),
            T.StructField("v", T.LongType())])
        e = self._entry(schema, ["i"], {"i": None}, {"i": None})
        assert [r.path for r in e.removes] == ["old.parquet"]


class TestStringStatsTruncation:
    """String min/max truncate to the Delta writer's 32-char prefix at
    serialization (log/statistics.py truncate_min/truncate_max):
    bounds only widen, so skipping stays sound, and long-text tables
    stop serializing whole documents into the manifest."""

    def test_prefix_and_bump(self):
        from xdlake_spark.log.statistics import (truncate_max,
                                                 truncate_min)
        assert truncate_min("a" * 40) == "a" * 32
        assert truncate_max("a" * 40) == "a" * 31 + "b"
        assert truncate_min("short") == "short"
        assert truncate_max("short") == "short"
        assert truncate_min(7) == 7 and truncate_max(7) == 7

    def test_bump_hops_surrogates_and_carries(self):
        from xdlake_spark.log.statistics import truncate_max
        s = "x" * 31 + chr(0xD7FF) + "tail"
        assert truncate_max(s) == "x" * 31 + chr(0xE000)
        s2 = "ab" + chr(0x10FFFF) * 30 + "zz"
        assert truncate_max(s2) == "ac"
        assert truncate_max(chr(0x10FFFF) * 33) is None

    def test_serialized_bounds_bracket_the_true_value(self):
        import json

        from xdlake_spark.log.statistics import Statistics
        v = "m" * 50
        st = Statistics(numRecords=1, minValues={"t": v},
                        maxValues={"t": v})
        d = json.loads(st.to_json())
        assert len(d["minValues"]["t"]) == 32
        assert d["minValues"]["t"] <= v <= d["maxValues"]["t"]
        # un-bumpable max drops to unbounded rather than lying
        st2 = Statistics(numRecords=1,
                         maxValues={"t": chr(0x10FFFF) * 40})
        assert "t" not in json.loads(st2.to_json())["maxValues"]

    def test_table_write_truncates_text_bounds(self, spark,
                                               tmp_table_dir):
        import json

        from xdlake_spark import DeltaTable
        # 40-char values: long enough to exceed the 32-char Delta
        # prefix, short enough that the parquet footer still records
        # min/max (Spark's writer drops very long binary stats)
        df = spark.createDataFrame(
            [(1, "alpha" * 8), (2, "omega" * 8)],
            "id long, text string").coalesce(1)
        t = DeltaTable(spark, tmp_table_dir).write(df)
        st = json.loads(next(iter(t.adds.values())).stats)
        assert len(st["minValues"]["text"]) <= 32
        assert len(st["maxValues"]["text"]) <= 32
        # the widened interval still brackets the data, so a filtered
        # scan with skipping stays exact
        assert t.to_df(where="text >= 'omega'").count() == 1


class TestTruncationProperty:
    def test_bounds_always_bracket(self):
        """Hypothesis over arbitrary unicode: the truncated min sorts
        <= s, the truncated max sorts >= s (or drops to unbounded),
        and both respect the 32-char cap."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from xdlake_spark.log.statistics import (truncate_max,
                                                 truncate_min)

        @settings(max_examples=500, deadline=None)
        @given(st.text(min_size=0, max_size=80))
        def run(s):
            mn = truncate_min(s)
            assert mn <= s and len(mn) <= 32
            mx = truncate_max(s)
            if mx is not None:
                assert mx >= s, (s, mx)
                assert len(mx) <= 32

        run()
