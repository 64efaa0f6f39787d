"""Delta row tracking: baseRowId assignment, the delta.rowTracking
domain-metadata watermark, stable _row_id reads, and checkpoint
survival. Parity target: the Delta protocol's Row Tracking + Domain
Metadata sections (the reference engine predates both)."""

import pytest
from pyspark.sql import functions as F

from xdlake_spark import DeltaTable
from xdlake_spark.log.actions import DomainMetadata


@pytest.fixture()
def nation(spark):
    return spark.read.parquet("/root/testdata/sf0.001/nation.parquet")


def _make(spark, tmpdir, df, **kw):
    return DeltaTable(spark, f"{tmpdir}/t").write(df, **kw)


class TestRowTracking:
    def test_enable_backfills_existing_files(self, spark, tmpdir,
                                             nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        assert t.row_tracking_enabled
        proto = t.log.protocol()
        wf = set((proto.extra or {}).get("writerFeatures") or [])
        assert {"rowTracking", "domainMetadata"} <= wf
        pdf = t.to_df_with_row_ids().toPandas()
        n = nation.count()
        assert sorted(pdf["_row_id"]) == list(range(n))
        assert t.log.row_id_high_watermark() == n - 1
        # enabling again is a no-op
        assert t.enable_row_tracking() is t

    def test_reenable_keeps_existing_row_ids(self, spark, tmpdir,
                                             nation):
        """Disable → re-enable must NOT reassign ids already stamped
        on live files — row-id stability is the feature's contract."""
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        before = (t.to_df_with_row_ids().toPandas()
                  .set_index("n_nationkey")["_row_id"])
        t2 = t.set_properties({"delta.enableRowTracking": None})
        assert not t2.row_tracking_enabled
        t3 = t2.enable_row_tracking()
        after = (t3.to_df_with_row_ids().toPandas()
                 .set_index("n_nationkey")["_row_id"])
        assert after.sort_index().tolist() \
            == before.sort_index().tolist()

    def test_append_continues_watermark(self, spark, tmpdir, nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        t2 = t.write(nation.limit(5), mode="append")
        pdf = t2.to_df_with_row_ids().toPandas()
        assert pdf["_row_id"].is_unique
        assert len(pdf) == nation.count() + 5
        assert pdf["_row_id"].max() == len(pdf) - 1
        assert set(pdf["_commit_version"]) == {1, 2}
        assert t2.log.row_id_high_watermark() == len(pdf) - 1

    def test_dv_delete_preserves_survivor_ids(self, spark, tmpdir,
                                              nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        before = t.to_df_with_row_ids().toPandas()
        t2 = t.delete("n_nationkey < 5", mode="merge-on-read")
        after = t2.to_df_with_row_ids().toPandas()
        dead = set(before[before.n_nationkey < 5]["_row_id"])
        assert set(after["_row_id"]) == set(before["_row_id"]) - dead
        # ids still map to the same rows
        m = before.set_index("_row_id")["n_name"]
        for rid, name in zip(after["_row_id"], after["n_name"]):
            assert m[rid] == name

    @pytest.mark.parametrize("label", ["a b", "50%"])
    def test_dv_delete_url_encoded_partition(self, spark, tmpdir,
                                             nation, label):
        """A partition value that needs URL encoding in the file URI
        (a space; a ``%``, which Spark also escapes in the directory
        name): the deletion-vector mask must still find its file, so
        masked rows are gone from the row-id scan and from ``to_df``,
        and survivors keep their ids."""
        df = nation.withColumn(
            "grp", F.when(F.col("n_regionkey") < 2, F.lit(label))
            .otherwise(F.lit("plain")))
        t = DeltaTable(spark, f"{tmpdir}/enc").write(
            df, partition_by=["grp"]).enable_row_tracking()
        before = t.to_df_with_row_ids().toPandas()
        t2 = t.delete("n_nationkey % 3 = 0", mode="merge-on-read")
        assert any((a.extra or {}).get("deletionVector")
                   for p, a in t2.adds.items() if "plain" not in p)
        after = t2.to_df_with_row_ids().toPandas()
        kept = before[before.n_nationkey % 3 != 0]
        assert sorted(after["n_nationkey"]) == sorted(kept["n_nationkey"])
        assert sorted(r[0] for r in t2.to_df().select("n_nationkey")
                      .collect()) == sorted(kept["n_nationkey"])
        assert (after.set_index("n_nationkey")["_row_id"].sort_index()
                .tolist()
                == kept.set_index("n_nationkey")["_row_id"].sort_index()
                .tolist())

    def test_cow_rewrite_assigns_fresh_ids(self, spark, tmpdir,
                                           nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        hw0 = t.log.row_id_high_watermark()
        t2 = t.delete("n_nationkey = 0", mode="copy-on-write")
        pdf = t2.to_df_with_row_ids().toPandas()
        assert pdf["_row_id"].is_unique
        # the surviving rows of the rewritten file moved past the old
        # watermark (fresh ids — the spec's non-materialized fallback)
        assert t2.log.row_id_high_watermark() > hw0
        assert len(pdf) == nation.count() - 1

    def test_checkpoint_preserves_ids_and_watermark(self, spark,
                                                    tmpdir, nation):
        from xdlake_spark.log.checkpoint import write_checkpoint

        t = _make(spark, tmpdir, nation).enable_row_tracking()
        t = t.write(nation.limit(3), mode="append")
        before = t.to_df_with_row_ids().toPandas()
        hw = t.log.row_id_high_watermark()
        write_checkpoint(t.log_location, t.log)
        t2 = DeltaTable(spark, t.location.url)
        # the reload reads ONLY the checkpoint for state
        assert t2.log.row_id_high_watermark() == hw
        after = t2.to_df_with_row_ids().toPandas()
        assert sorted(after["_row_id"]) == sorted(before["_row_id"])

    def test_restore_keeps_original_ids(self, spark, tmpdir, nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        v_enabled = t.version
        ids0 = set(t.to_df_with_row_ids().toPandas()["_row_id"])
        t = t.write(nation.limit(4), mode="append")
        t = t.restore(v_enabled)
        ids = set(t.to_df_with_row_ids().toPandas()["_row_id"])
        assert ids == ids0  # re-added files kept their baseRowId

    def test_stale_handle_append_no_id_collision(self, spark, tmpdir,
                                                 nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        stale = DeltaTable(spark, t.location.url)
        t.write(nation.limit(2), mode="append")
        # the stale handle lost the race; whatever the engine does
        # (retry/rebase or raise), committed row ids must never collide
        try:
            stale.write(nation.limit(3), mode="append")
        except FileExistsError:
            pass
        final = DeltaTable(spark, t.location.url)
        pdf = final.to_df_with_row_ids().toPandas()
        assert pdf["_row_id"].is_unique
        assert pdf["_row_id"].max() == \
            final.log.row_id_high_watermark()

    def test_partitioned_where_scan(self, spark, tmpdir, nation):
        t = DeltaTable(spark, f"{tmpdir}/p").write(
            nation, partition_by=["n_regionkey"]).enable_row_tracking()
        full = t.to_df_with_row_ids().toPandas()
        assert full["_row_id"].is_unique
        part = t.to_df_with_row_ids(where="n_regionkey = 2").toPandas()
        assert (part.n_regionkey == 2).all()
        sub = full[full.n_regionkey == 2]
        assert set(part["_row_id"]) == set(sub["_row_id"])

    def test_requires_enablement_and_stats(self, spark, tmpdir,
                                           nation):
        t = _make(spark, tmpdir, nation)
        with pytest.raises(ValueError, match="not enabled"):
            t.to_df_with_row_ids()

    def test_supported_but_not_enabled_still_stamps(self, spark,
                                                    tmpdir, nation):
        # spec: feature SUPPORTED (protocol) without delta.
        # enableRowTracking set -> writers must still assign fresh ids
        import json as _json

        t = _make(spark, tmpdir, nation).enable_row_tracking()
        t = t.set_properties({"delta.enableRowTracking": None})
        assert not t.row_tracking_enabled and t._row_tracking_supported
        t2 = t.write(nation.limit(3), mode="append")
        new_adds = [a for a in
                    t2.log.entries[t2.version].adds]
        assert new_adds and all(
            "baseRowId" in (a.extra or {}) for a in new_adds)
        dm = t2.log.domain_metadata("delta.rowTracking")
        assert _json.loads(dm.configuration)["rowIdHighWaterMark"] \
            == t2.log.row_id_high_watermark()

    def test_domain_metadata_replay(self, spark, tmpdir, nation):
        t = _make(spark, tmpdir, nation).enable_row_tracking()
        log = t.log
        dm = log.domain_metadata("delta.rowTracking")
        assert dm is not None and not dm.removed
        assert log.domain_metadata("nope") is None
        live = log.live_domain_metadata()
        assert set(live) == {"delta.rowTracking"}
        # a removed domain disappears from replay
        from xdlake_spark.log import DeltaLogEntry
        e = DeltaLogEntry([DomainMetadata(domain="delta.rowTracking",
                                          removed=True)])
        log.entries[max(log.entries) + 1] = e
        assert log.domain_metadata("delta.rowTracking") is None
        assert log.live_domain_metadata() == {}

    def test_foreign_writer_without_ids_detected(self, spark, tmpdir,
                                                 nation):
        import dataclasses

        t = _make(spark, tmpdir, nation).enable_row_tracking()
        # simulate a foreign engine that committed an add with no
        # baseRowId despite the feature: the read must refuse loudly
        path, add = next(iter(t.adds.items()))
        t.adds["foreign.parquet"] = dataclasses.replace(
            add, path="foreign.parquet",
            extra={k: v for k, v in (add.extra or {}).items()
                   if k not in ("baseRowId",
                                "defaultRowCommitVersion")})
        with pytest.raises(ValueError, match="no baseRowId"):
            t.to_df_with_row_ids()
