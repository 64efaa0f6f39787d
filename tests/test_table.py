"""DeltaTable end-to-end tests over Spark.

Operation matrix modeled on the reference's suite
(/root/reference/tests/test_xdlake.py:28-343).
"""

import json
import os

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from xdlake_spark import CommitConflictError, DeltaTable
from xdlake_spark.log import DeltaLog
from xdlake_spark.sources.storage import Location

from .utils import assert_frames_equivalent, gen_pdf, jobs_during


def write_rounds(spark, loc, n_rounds=3, partition_by=None, **kw):
    frames = []
    t = DeltaTable(spark, loc)
    for _ in range(n_rounds):
        pdf = gen_pdf()
        frames.append(pdf)
        t = t.write(spark.createDataFrame(pdf), partition_by=partition_by, **kw)
    return t, pd.concat(frames)


class TestWrite:
    def test_append_rounds(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t")
        assert t.version == 2
        assert_frames_equivalent(t.to_pandas(), expected)

    def test_append_partitioned(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t",
                                   partition_by=["cats", "bats"])
        got = t.to_pandas()
        assert_frames_equivalent(got, expected)
        # hive layout on disk
        assert any("cats=" in p for p in t.adds)
        assert all(set(a.partitionValues) == {"cats", "bats"}
                   for a in t.adds.values())

    def test_overwrite(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t")
        pdf = gen_pdf()
        t = t.write(spark.createDataFrame(pdf), mode="overwrite")
        assert_frames_equivalent(t.to_pandas(), pdf)

    def test_to_pyarrow_dataset_lazy(self, spark, tmp_table_dir):
        import pyarrow.dataset as pads
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        ds = t.to_pyarrow_dataset()
        assert isinstance(ds, pads.Dataset)  # lazy handle, no job ran
        got = ds.to_table().to_pandas()
        assert_frames_equivalent(got, pdf)
        # partition filter evaluates on fragment expressions: fragments
        # for other cats are pruned without reading them
        one = ds.to_table(filter=pads.field("cats") == "S").to_pandas()
        assert len(one) == (pdf["cats"] == "S").sum()
        pruned = ds.get_fragments(filter=pads.field("cats") == "S")
        assert len(list(pruned)) < len(list(ds.get_fragments()))

    def test_max_records_per_file(self, spark, tmp_table_dir):
        pdf = gen_pdf(100)
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf).coalesce(1),
                    max_records_per_file=25)
        # 100 rows / 25 per file = 4 files in this commit
        assert len(t.adds) == 4
        for a in t.adds.values():
            assert json.loads(a.stats)["numRecords"] <= 25
        assert_frames_equivalent(t.to_pandas(), pdf)
        # unconstrained write on one partition stays a single file
        t2 = t.write(spark.createDataFrame(gen_pdf(100)).coalesce(1))
        assert len(t2.adds) == 5

    def test_error_mode(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        with pytest.raises(FileExistsError):
            t.write(spark.createDataFrame(gen_pdf()), mode="error")

    def test_ignore_mode(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        t2 = t.write(spark.createDataFrame(gen_pdf()), mode="ignore")
        assert t2.version == t.version
        assert_frames_equivalent(t2.to_pandas(), expected)

    def test_partition_change_raises(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t",
                            1, partition_by=["cats"])
        with pytest.raises(ValueError):
            t.write(spark.createDataFrame(gen_pdf()), partition_by=["bats"])

    def test_schema_mismatch_raises(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        pdf = gen_pdf()
        pdf["extra"] = 1.0
        with pytest.raises(ValueError, match="mismatch"):
            t.write(spark.createDataFrame(pdf))

    def test_schema_merge_evolves(self, spark, tmp_table_dir):
        t, first = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        pdf = gen_pdf()
        pdf["extra"] = 1.5
        t = t.write(spark.createDataFrame(pdf), schema_mode="merge")
        got = t.to_pandas()
        assert "extra" in got.columns
        # old rows have null extra
        old = got[got["order"] < len(first)]
        assert old["extra"].isna().all()

    def test_write_mixed_inputs(self, spark, tmp_table_dir):
        pdf1, pdf2 = gen_pdf(), gen_pdf()
        arrow = pa.Table.from_pandas(gen_pdf())
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write([pdf1, spark.createDataFrame(pdf2), arrow])
        assert t.to_df().count() == len(pdf1) + len(pdf2) + arrow.num_rows


class TestTimeTravelAndHistory:
    def test_versions_and_travel(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 3)
        assert t.versions == [0, 1, 2]
        n0 = t.load_as_version(0).to_df().count()
        n2 = t.to_df().count()
        assert n2 == 3 * n0

    def test_history_order(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        hist = list(t.history())
        assert [h["version"] for h in hist] == [1, 0]
        assert hist[-1]["operation"] == "CREATE TABLE"

    def test_file_uris_absolute(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        uris = t.file_uris()
        assert uris and all(os.path.isabs(u) for u in uris)
        assert all(os.path.exists(u) for u in uris)


class TestDelete:
    def test_delete_predicate(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 3,
                                   partition_by=["cats"])
        t2 = t.delete("cats = 'S' AND f64 > 0.5")
        keep = expected[~((expected.cats == "S") & (expected.f64 > 0.5))]
        assert_frames_equivalent(t2.to_pandas(), keep)
        # untouched partitions keep their original files
        untouched = {p for p, a in t.adds.items()
                     if a.partitionValues.get("cats") != "S"}
        assert untouched <= set(t2.adds)

    def test_delete_all(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        t2 = t.delete()
        assert t2.to_df().count() == 0
        assert t2.adds == {}
        # schema survives
        assert t2.schema is not None

    def test_delete_none_match(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        t2 = t.delete("f64 > 2.0")
        assert set(t2.adds) == set(t.adds)
        assert_frames_equivalent(t2.to_pandas(), expected)

    def test_delete_metrics(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        t2 = t.delete("flag = true")
        h = next(t2.history())
        m = h["operationMetrics"]
        n_true = int((expected.flag).sum())
        assert m["num_deleted_rows"] == n_true
        # copied rows = survivors of rewritten files only; equals the row
        # count of the files added by the delete commit
        new_paths = set(t2.adds) - set(t.adds)
        copied = sum(t2.adds[p].stats_dict["numRecords"] for p in new_paths)
        assert m["num_copied_rows"] == copied
        assert t2.to_df().count() == len(expected) - n_true


class TestRestoreCloneImport:
    def test_restore(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 3)
        v1 = t.load_as_version(1).to_pandas()
        t2 = t.restore(1)
        assert t2.version == 3
        assert_frames_equivalent(t2.to_pandas(), v1)

    def test_restore_to_timestamp(self, spark, tmp_table_dir):
        import pytest
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 3)
        ts1 = list(t.history(reverse=False))[1]["timestamp"]
        v1 = t.load_as_version(1).to_pandas()
        t2 = t.restore(timestamp=ts1)  # epoch-ms form
        assert t2.version == 3
        assert_frames_equivalent(t2.to_pandas(), v1)
        # exactly one of version/timestamp
        with pytest.raises(ValueError, match="exactly one"):
            t.restore(1, timestamp=ts1)
        with pytest.raises(ValueError, match="exactly one"):
            t.restore()
        # timestamp before every commit raises like load_as_timestamp
        with pytest.raises(ValueError, match="at or before"):
            t.restore(timestamp=0)

    def test_restore_after_delete(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        t2 = t.delete("f64 > 0.5")
        t3 = t2.restore(1)
        assert_frames_equivalent(t3.to_pandas(), expected)

    def test_clone_preserves_content_and_history(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/src", 3,
                                   partition_by=["cats"])
        c = t.clone(f"{tmp_table_dir}/dst")
        assert_frames_equivalent(c.to_pandas(), expected)
        assert c.versions == t.versions
        # clone is writable without touching source
        pdf = gen_pdf()
        c2 = c.write(spark.createDataFrame(pdf), partition_by=["cats"])
        assert c2.to_df().count() == len(expected) + len(pdf)
        assert DeltaTable(spark, f"{tmp_table_dir}/src").to_df().count() \
            == len(expected)

    def test_deep_clone_copies_data_and_is_independent(
            self, spark, tmp_table_dir):
        import json as _json
        import os
        import shutil
        t, expected = write_rounds(spark, f"{tmp_table_dir}/src", 3,
                                   partition_by=["cats"])
        # a DV so the clone must carry the bitmap too
        t = t.delete("f64 > 2.0", mode="merge-on-read")
        want = t.to_pandas()
        c = t.clone(f"{tmp_table_dir}/deep", deep=True)
        assert_frames_equivalent(c.to_pandas(), want)
        # fresh history: ONE version, operation CLONE, new table id
        assert c.versions == [0]
        h = next(iter(c.history()))
        assert h["operation"] == "CLONE"
        assert h["operationParameters"]["isShallow"] == "false"
        assert c.log.metadata().id != t.log.metadata().id
        # every clone path is RELATIVE (data physically copied) and
        # stats carried over verbatim
        assert all("://" not in p and not p.startswith("/")
                   for p in c.adds)
        for p, a in c.adds.items():
            assert os.path.exists(f"{tmp_table_dir}/deep/{p}")
            src_stats = t.adds[p].stats
            assert _json.loads(a.stats) == _json.loads(src_stats)
        # deleting the SOURCE leaves the deep clone fully readable
        # (the shallow clone would break here)
        shutil.rmtree(f"{tmp_table_dir}/src")
        c2 = DeltaTable(spark, f"{tmp_table_dir}/deep")
        assert_frames_equivalent(c2.to_pandas(), want)
        # and it's independently writable
        pdf = gen_pdf()
        c3 = c2.write(spark.createDataFrame(pdf),
                      partition_by=["cats"])
        assert c3.count() == len(want) + len(pdf)

    def test_deep_clone_preserves_clustering_state(self, spark,
                                                   tmp_table_dir):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "a long, b double")
        t = DeltaTable(spark, f"{tmp_table_dir}/src").write(
            df.repartition(3))
        t = t.cluster_by(["a"])
        t = t.optimize(target_file_size=1 << 14, min_cube_size=0)
        v_src = t.version
        c = t.clone(f"{tmp_table_dir}/deep", deep=True)
        assert c.clustering_columns() == ["a"]
        # ZCube tags survived: a bare optimize on the clone is a no-op
        c2 = c.optimize(target_file_size=1 << 14, min_cube_size=0)
        assert c2.version == c.version
        assert t.version == v_src

    def test_deep_clone_refuses_existing_table(self, spark,
                                               tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/src").write(
            spark.range(5))
        t.clone(f"{tmp_table_dir}/dst", deep=True)
        with pytest.raises(FileExistsError):
            t.clone(f"{tmp_table_dir}/dst", deep=True)

    def test_import_refs_zero_copy(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        src = f"{tmp_table_dir}/foreign"
        spark.createDataFrame(pdf).write.partitionBy("cats").parquet(src)
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.import_refs(src, partition_by=["cats"])
        assert_frames_equivalent(t.to_pandas(), pdf)
        # no files copied under the table root
        assert all(p.startswith("/") for p in t.adds)

    def test_import_refs_unpartitioned(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        src = f"{tmp_table_dir}/flat"
        spark.createDataFrame(pdf).write.parquet(src)
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.import_refs(src, partitioning=None)
        assert_frames_equivalent(t.to_pandas(), pdf)

    def test_import_refs_partition_flavor_matrix(self, spark,
                                                 tmp_table_dir):
        """hive / filename / directory foreign layouts in ONE import —
        the reference's coverage (tests/test_xdlake.py:178-212)."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        def arrow_us(pdf):
            # parquet nanos are unreadable as Spark timestamp_ntz
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            return tbl.cast(pa.schema([
                pa.field(f.name, pa.timestamp("us")
                         if pa.types.is_timestamp(f.type) else f.type)
                for f in tbl.schema]))

        part_schema = pa.schema([("cats", pa.string()),
                                 ("bats", pa.string())])
        flavors = {
            "hive": pads.partitioning(part_schema, flavor="hive"),
            "filename": pads.partitioning(part_schema, flavor="filename"),
            "directory": pads.partitioning(part_schema, flavor=None),
        }
        frames, datasets = [], []
        for name, pt in flavors.items():
            pdf = gen_pdf()
            frames.append(pdf)
            loc = f"{tmp_table_dir}/{name}"
            pads.write_dataset(arrow_us(pdf), loc,
                               format="parquet", partitioning=pt)
            datasets.append(pads.dataset(loc, format="parquet",
                                         partitioning=pt))

        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.import_refs(datasets, partition_by=["cats", "bats"])
        expected = pd.concat(frames, ignore_index=True)
        assert_frames_equivalent(t.to_pandas(), expected)
        # zero-copy: every add is an absolute foreign path
        assert all(p.startswith("/") for p in t.adds)
        # partition values were recovered from all three layouts
        assert t.to_df(where="cats = 'S'").count() \
            == int((expected["cats"] == "S").sum())

        # the imported table stays fully mutable (reference runs
        # clone+delete+restore after import): CoW delete over foreign
        # absolute-path files, then restore
        before = len(expected)
        n_s = int((expected["cats"] == "S").sum())
        t2 = t.delete("cats = 'S'")
        assert t2.to_df().count() == before - n_s
        assert t2.restore(0).to_df().count() == before

    @pytest.mark.parametrize("flavor", ["filename", None])
    def test_import_refs_path_with_flavor(self, spark, tmp_table_dir,
                                          flavor):
        """Path-based import with an explicit non-hive partitioning."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        pt = pads.partitioning(pa.schema([("cats", pa.string())]),
                               flavor=flavor)
        pdf = gen_pdf()
        loc = f"{tmp_table_dir}/foreign"
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        tbl = tbl.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us")
                     if pa.types.is_timestamp(f.type) else f.type)
            for f in tbl.schema]))
        pads.write_dataset(tbl, loc, format="parquet", partitioning=pt)
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.import_refs(loc, partition_by=["cats"], partitioning=pt)
        assert_frames_equivalent(t.to_pandas(), pdf)


class TestConcurrency:
    def test_commit_collision(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        a = DeltaTable(spark, f"{tmp_table_dir}/t")
        b = DeltaTable(spark, f"{tmp_table_dir}/t")
        a.write(spark.createDataFrame(gen_pdf()))
        with pytest.raises(FileExistsError):
            b.write(spark.createDataFrame(gen_pdf()))


class TestMaintenance:
    def test_optimize_compacts(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 4)
        before = len(t.adds)
        t2 = t.optimize()
        assert len(t2.adds) < before
        assert_frames_equivalent(t2.to_pandas(), expected)
        h = next(t2.history())
        assert h["operation"] == "OPTIMIZE"

    def test_vacuum_removes_tombstoned(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        t2 = t.write(spark.createDataFrame(gen_pdf()), mode="overwrite")
        doomed = t2.vacuum(retention_hours=0)
        assert doomed
        for p in doomed:
            assert not os.path.exists(os.path.join(tmp_table_dir, "t", p))
        # live data unaffected
        t3 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t3.to_df().count() == t2.to_df().count()

    def test_vacuum_respects_retention(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        t2 = t.write(spark.createDataFrame(gen_pdf()), mode="overwrite")
        assert t2.vacuum(retention_hours=168, dry_run=True) == []

    def test_merge_upsert(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        upd = pdf.head(5).copy()
        upd["f64"] = 99.0
        new = gen_pdf(5)
        src = pd.concat([upd, new])
        t2 = t.merge(
            spark.createDataFrame(src), "t.order = s.order",
            when_matched_update={"f64": "s.f64"},
            when_not_matched_insert={c: f"s.{c}" for c in pdf.columns},
        )
        got = t2.to_pandas().sort_values("order")
        assert len(got) == len(pdf) + len(new)
        assert (got.head(5)["f64"] == 99.0).all()

    def test_merge_matched_despite_null_source_column(self, spark,
                                                      tmp_table_dir):
        # regression: matched-row detection must not key off any real
        # source column — a NULL in the source's first column used to make
        # the row look unmatched and silently skip the update
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        upd = pdf.head(3).copy()
        upd = upd[["txt"] + [c for c in upd.columns if c != "txt"]]
        # first source column NULL on two matched rows (one non-null so
        # Spark can still infer the column type)
        upd["txt"] = [None, None, "present"]
        upd["i64"] = 424242
        t2 = t.merge(
            spark.createDataFrame(upd), "t.order = s.order",
            when_matched_update={"i64": "s.i64"},
        )
        got = t2.to_pandas().sort_values("order")
        assert len(got) == len(pdf)
        assert (got.head(3)["i64"] == 424242).all()
        # non-updated columns untouched
        assert list(got.head(3)["txt"]) == list(pdf.head(3)["txt"])

    def test_merge_multiple_matches_raises(self, spark, tmp_table_dir):
        # Delta semantics: >1 source row matching one target row with an
        # update/delete clause is an error, not a silent row fan-out
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        dup = pd.concat([pdf.head(1), pdf.head(1)])
        with pytest.raises(ValueError, match="multiple source rows"):
            t.merge(spark.createDataFrame(dup), "t.order = s.order",
                    when_matched_update={"f64": "s.f64"})
        # insert-only merge is fine with duplicate matches (nothing to
        # rewrite non-deterministically); row count must not change
        t3 = t.merge(
            spark.createDataFrame(dup), "t.order = s.order",
            when_not_matched_insert={c: f"s.{c}" for c in pdf.columns})
        assert t3.to_df().count() == len(pdf)

    def test_merge_combined_clauses(self, spark, tmp_table_dir):
        # update + delete + insert in a single MERGE call, with
        # per-clause conditions (Delta whenMatched(cond) chain semantics)
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        lo = pdf["order"].min()
        src = pd.concat([pdf.head(4), gen_pdf(2)]).copy()
        src["i64"] = 777
        t2 = t.merge(
            spark.createDataFrame(src), "t.order = s.order",
            when_matched_update={"i64": "s.i64"},
            when_matched_update_condition=f"s.order < {lo + 2}",
            when_matched_delete=f"s.order >= {lo + 2}",
            when_not_matched_insert={c: f"s.{c}" for c in pdf.columns},
        )
        got = t2.to_pandas().sort_values("order").reset_index(drop=True)
        # 20 original - 2 deleted + 2 inserted
        assert len(got) == len(pdf)
        assert (got.head(2)["i64"] == 777).all()          # updated
        assert not got["order"].isin([lo + 2, lo + 3]).any()  # deleted
        assert got["order"].isin(src.tail(2)["order"]).sum() == 2  # inserted

    def test_merge_ordered_clause_list(self, spark, tmp_table_dir):
        """r11: when_matched=[...] — N ordered clauses, first-match-
        wins. A row satisfying BOTH the update and delete conditions
        takes the earlier (update) clause; an unconditional trailing
        update catches the rest."""
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        orders = sorted(pdf["order"])
        o0, o1, o2 = orders[0], orders[1], orders[2]
        src = pdf.head(3).copy()
        src["i64"] = 111
        t2 = t.merge(
            spark.createDataFrame(src), "t.order = s.order",
            when_matched=[
                {"update": {"i64": "222"},
                 "condition": f"s.order = {o0}"},
                # o0 ALSO satisfies this delete condition — first-
                # match-wins must keep it updated, and delete only o1
                {"delete": f"s.order IN ({o0}, {o1})"},
                {"update": {"i64": "s.i64"}},   # catch-all: o2
            ])
        got = t2.to_pandas().set_index("order")
        assert len(got) == len(pdf) - 1
        assert got.loc[o0, "i64"] == 222       # clause 1 won
        assert o1 not in got.index             # clause 2 deleted
        assert got.loc[o2, "i64"] == 111       # clause 3 caught
        rest = got.drop(index=[o0, o2])
        assert (rest["i64"] == pdf.set_index("order").loc[
            rest.index, "i64"]).all()          # unmatched untouched

    def test_merge_clause_order_changes_result(self, spark,
                                               tmp_table_dir):
        """Swapping two overlapping clauses must change the outcome —
        the list is ORDERED, not a set."""
        pdf = gen_pdf()
        o0 = int(sorted(pdf["order"])[0])
        src = pdf.head(1)
        for clauses, survives in (
                ([{"update": {"i64": "333"}}, {"delete": True}], True),
                ([{"delete": True}, {"update": {"i64": "333"}}], False)):
            t = DeltaTable(spark, f"{tmp_table_dir}/o{survives}")
            t = t.write(spark.createDataFrame(pdf))
            t2 = t.merge(spark.createDataFrame(src),
                         "t.order = s.order", when_matched=clauses)
            got = t2.to_pandas().set_index("order")
            if survives:
                assert got.loc[o0, "i64"] == 333
            else:
                assert o0 not in got.index

    def test_merge_clause_list_equals_kwargs_sugar(self, spark,
                                                   tmp_table_dir):
        pdf = gen_pdf()
        lo = int(pdf["order"].min())
        src = pdf.head(4).copy()
        src["i64"] = 777
        results = []
        for style in ("kwargs", "list"):
            t = DeltaTable(spark, f"{tmp_table_dir}/{style}")
            t = t.write(spark.createDataFrame(pdf))
            if style == "kwargs":
                t2 = t.merge(
                    spark.createDataFrame(src), "t.order = s.order",
                    when_matched_update={"i64": "s.i64"},
                    when_matched_update_condition=f"s.order < {lo + 2}",
                    when_matched_delete=f"s.order >= {lo + 2}")
            else:
                t2 = t.merge(
                    spark.createDataFrame(src), "t.order = s.order",
                    when_matched=[
                        {"update": {"i64": "s.i64"},
                         "condition": f"s.order < {lo + 2}"},
                        {"delete": f"s.order >= {lo + 2}"}])
            results.append(t2.to_pandas().sort_values("order")
                           .reset_index(drop=True))
        pd.testing.assert_frame_equal(results[0], results[1])

    def test_merge_clause_list_validation(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.createDataFrame(pdf))
        src = spark.createDataFrame(pdf.head(1))
        with pytest.raises(ValueError, match="not both"):
            t.merge(src, "t.order = s.order",
                    when_matched=[{"delete": True}],
                    when_matched_update={"i64": "1"})
        # r11 review: a stray condition kwarg must refuse too, not be
        # silently dropped (the clause would apply unconditionally)
        with pytest.raises(ValueError, match="not both"):
            t.merge(src, "t.order = s.order",
                    when_matched=[{"update": {"i64": "1"}}],
                    when_matched_update_condition="1=1")
        with pytest.raises(ValueError, match="exactly one"):
            t.merge(src, "t.order = s.order",
                    when_matched=[{"update": {"i64": "1"},
                                   "delete": True}])
        with pytest.raises(ValueError, match="exactly one"):
            t.merge(src, "t.order = s.order",
                    when_matched=[{"condition": "1=1"}])
        with pytest.raises(ValueError, match="unknown column"):
            t.merge(src, "t.order = s.order",
                    when_matched=[{"update": {"nope": "1"}}])

    def test_merge_not_matched_by_source_sync(self, spark, tmp_table_dir):
        # the mirror-from-source shape: update matched, insert new,
        # DELETE target rows the source no longer carries
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        src = pd.concat([pdf.head(6), gen_pdf(2)]).copy()
        src["i64"] = 555
        t2 = t.merge(
            spark.createDataFrame(src), "t.order = s.order",
            when_matched_update={"i64": "s.i64"},
            when_not_matched_insert={c: f"s.{c}" for c in pdf.columns},
            when_not_matched_by_source_delete=True,
        )
        got = t2.to_pandas().sort_values("order").reset_index(drop=True)
        # table IS the source now
        assert sorted(got["order"]) == sorted(src["order"])
        assert (got["i64"] == 555).all()
        h = next(t2.history())
        assert h["operation"] == "MERGE"

    def test_merge_not_matched_by_source_update_and_delete(
            self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        lo = int(pdf["order"].min())
        src = pdf.head(4).copy()
        src["i64"] = 999
        t2 = t.merge(
            spark.createDataFrame(src), "t.order = s.order",
            when_matched_update={"i64": "s.i64"},
            when_not_matched_by_source_update={"i64": "t.i64 + 10"},
            when_not_matched_by_source_update_condition=
            f"t.order < {lo + 8}",
            when_not_matched_by_source_delete=f"t.order >= {lo + 16}",
        )
        got = t2.to_pandas().sort_values("order").reset_index(drop=True)
        exp = pdf.sort_values("order").reset_index(drop=True)
        # rows >= lo+16 (not in source) deleted
        assert len(got) == len(pdf) - 4
        assert (got["order"] < lo + 16).all()
        # matched head updated to source value
        assert (got.head(4)["i64"] == 999).all()
        # unmatched rows under lo+8 demoted by +10, the rest untouched
        mid = got[(got["order"] >= lo + 4) & (got["order"] < lo + 8)]
        assert (mid["i64"].to_numpy()
                == exp[(exp["order"] >= lo + 4)
                       & (exp["order"] < lo + 8)]["i64"].to_numpy() + 10
                ).all()
        rest = got[(got["order"] >= lo + 8) & (got["order"] < lo + 16)]
        assert (rest["i64"].to_numpy()
                == exp[(exp["order"] >= lo + 8)
                       & (exp["order"] < lo + 16)]["i64"].to_numpy()).all()

    def test_merge_nmbs_untouched_files_not_rewritten(self, spark,
                                                      tmp_table_dir):
        # file granularity: a partition with no matched row and no
        # clause-affected row must keep its original data file
        pdf = gen_pdf()
        pdf["cat"] = ["a"] * 7 + ["b"] * 7 + ["c"] * 6
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf), partition_by=["cat"])
        before = {f for f in t.file_uris() if "/cat=c/" in f}
        src = pdf[pdf["cat"] == "a"].head(3).copy()
        src["i64"] = 1
        t2 = t.merge(
            spark.createDataFrame(src), "t.order = s.order",
            when_matched_update={"i64": "s.i64"},
            when_not_matched_by_source_delete="t.cat = 'b'",
        )
        after = {f for f in t2.file_uris() if "/cat=c/" in f}
        assert before == after          # partition c untouched on disk
        got = t2.to_pandas()
        assert not (got["cat"] == "b").any()       # b fully pruned
        assert (got["cat"] == "c").sum() == 6      # c intact


class TestUpdate:
    def test_predicate_update(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        t2 = t.update({"i64": "i64 + 1000000"}, "flag = true")
        got = t2.to_pandas().sort_values("order").reset_index(drop=True)
        exp = pdf.sort_values("order").reset_index(drop=True)
        flags = exp["flag"].to_numpy()
        assert (got["i64"].to_numpy()[flags]
                == exp["i64"].to_numpy()[flags] + 1000000).all()
        assert (got["i64"].to_numpy()[~flags]
                == exp["i64"].to_numpy()[~flags]).all()
        h = next(t2.history())
        assert h["operation"] == "UPDATE"
        assert h["operationMetrics"]["num_updated_rows"] == int(flags.sum())

    def test_update_untouched_files_not_rewritten(self, spark,
                                                  tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 3)
        before = dict(t.adds)
        lo = min(r["order"] for r in
                 t.to_df().select("order").collect())
        t2 = t.update({"i64": "0"}, f"order = {lo}")  # hits file 1 only
        kept = set(before) & set(t2.adds)
        assert len(kept) == len(before) - 1  # only one file rewritten

    def test_update_all_rows(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        t2 = t.update({"txt": "'X'"})
        assert (t2.to_pandas()["txt"] == "X").all()

    def test_update_partition_column_replaces(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        t2 = t.update({"cats": "'Z'"}, "cats = 'S'")
        assert t2.to_df().filter("cats = 'S'").count() == 0
        n_z = (pdf["cats"] == "S").sum()
        assert t2.to_df().filter("cats = 'Z'").count() == n_z
        # rows landed in the right hive directory
        assert any("cats=Z" in p for p in t2.adds)

    def test_update_rejects_unknown_column(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        with pytest.raises(ValueError, match="Unknown column"):
            t.update({"nope": "1"})


class TestConstraints:
    def test_add_enforce_drop(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        t = t.add_constraint("qty_bound", "i64 BETWEEN -1000 AND 1000")
        assert t.constraints == {"qty_bound": "i64 BETWEEN -1000 AND 1000"}
        assert next(t.history())["operation"] == "ADD CONSTRAINT"

        # a violating append aborts before any commit lands
        bad = gen_pdf()
        bad["i64"] = 5000
        with pytest.raises(Exception, match="qty_bound"):
            t.write(spark.createDataFrame(bad))
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.version == t.version  # nothing committed
        assert t2.to_df().count() == len(pdf)
        # no staged litter left behind by the aborted write
        assert not [d for d in os.listdir(f"{tmp_table_dir}/t")
                    if d.startswith("_staging")]

        # satisfying rows append fine; dropping re-admits anything
        t3 = t2.write(spark.createDataFrame(gen_pdf()))
        t4 = t3.drop_constraint("qty_bound")
        assert t4.constraints == {}
        t5 = t4.write(spark.createDataFrame(bad))
        assert t5.to_df().count() == 3 * len(pdf)

    def test_add_constraint_rejects_existing_violations(self, spark,
                                                        tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        with pytest.raises(ValueError, match="existing rows"):
            t.add_constraint("impossible", "i64 > 100000")
        # null evaluates as satisfied (SQL CHECK semantics)
        upd = pdf.copy()
        upd["txt"] = [None] * (len(pdf) - 1) + ["x"]
        t = t.write(spark.createDataFrame(upd))
        t = t.add_constraint("txtish", "length(txt) < 100")
        assert "txtish" in t.constraints

    def test_merge_enforces_constraints(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        t = t.add_constraint("qty_bound", "i64 <= 1000")
        src = pdf.head(3).copy()
        src["i64"] = 99999
        with pytest.raises(Exception, match="qty_bound"):
            t.merge(spark.createDataFrame(src), "t.order = s.order",
                    when_matched_update={"i64": "s.i64"})
        assert DeltaTable(spark, f"{tmp_table_dir}/t").version == t.version


class TestColumnDefaults:
    """Delta allowColumnDefaults writer feature (table.py
    set_column_default / drop_column_default): constant DEFAULT fills
    omitted columns on write; the DDL commit declares the feature."""

    def _table(self, spark, loc):
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)],
            "id long, name string, score int")
        return DeltaTable(spark, loc).write(df)

    def test_default_fills_omitted_column(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        t = t.set_column_default("score", "42")
        assert t.column_defaults == {"score": "42"}
        t = t.write(spark.createDataFrame([(3, "c")],
                                          "id long, name string"))
        got = {r["id"]: r["score"] for r in t.to_df().collect()}
        assert got == {1: 10, 2: 20, 3: 42}

    def test_protocol_declares_feature(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        t = t.set_column_default("name", "'anon'")
        proto = t.log.protocol()
        assert proto.minWriterVersion == 7
        assert "allowColumnDefaults" in \
            (proto.extra or {}).get("writerFeatures", [])

    def test_persists_across_handles(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        t.set_column_default("name", "'anon'")
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.column_defaults == {"name": "'anon'"}
        t2 = t2.write(spark.createDataFrame([(5, 50)],
                                            "id long, score int"))
        names = {r["id"]: r["name"] for r in t2.to_df().collect()}
        assert names[5] == "anon"

    def test_drop_default_restores_strictness(self, spark,
                                              tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        t = t.set_column_default("score", "42")
        t = t.drop_column_default("score")
        assert t.column_defaults == {}
        # without the default, omission is a schema mismatch again
        with pytest.raises(ValueError, match="[Ss]chema"):
            t.write(spark.createDataFrame([(9, "x")],
                                          "id long, name string"))

    def test_rejects_column_references(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        with pytest.raises(ValueError, match="constant"):
            t.set_column_default("score", "id + 1")

    def test_rejects_unknown_and_generated(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        with pytest.raises(ValueError, match="Unknown column"):
            t.set_column_default("nope", "1")
        with pytest.raises(ValueError, match="No DEFAULT"):
            t.drop_column_default("score")

    def test_explicit_value_beats_default(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        t = t.set_column_default("score", "42")
        t = t.write(spark.createDataFrame([(7, "g", 77)],
                                          "id long, name string, "
                                          "score int"))
        got = {r["id"]: r["score"] for r in t.to_df().collect()}
        assert got[7] == 77

    def test_merge_insert_fills_default(self, spark, tmp_table_dir):
        t = self._table(spark, f"{tmp_table_dir}/t")
        t = t.set_column_default("score", "42")
        src = spark.createDataFrame([(2, "B"), (9, "i")],
                                    "id long, name string")
        t = t.merge(src, "t.id = s.id",
                    when_matched_update={"name": "s.name"},
                    when_not_matched_insert={"id": "s.id",
                                             "name": "s.name"})
        got = {r["id"]: (r["name"], r["score"])
               for r in t.to_df().collect()}
        assert got[2] == ("B", 20)        # update keeps existing score
        assert got[9] == ("i", 42)        # insert fills the default


class TestDropFeature:
    """ALTER TABLE DROP FEATURE (table.py drop_feature — Delta 4.0
    checkpoint-protection flow): trace checks refuse while the feature
    is in use; the drop writes a protecting checkpoint, removes the
    feature from the protocol, declares checkpointProtection, and pins
    requireCheckpointProtectionBeforeVersion; metadata cleanup below
    the pin becomes all-or-nothing."""

    def test_deletion_vectors_roundtrip(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.range(100))
        t = t.delete("id % 10 = 0", mode="merge-on-read")
        with pytest.raises(ValueError, match="reorg_purge"):
            t.drop_feature("deletionVectors")
        t = t.reorg_purge()
        t = t.drop_feature("deletionVectors")
        p = t.log.protocol()
        extra = p.extra or {}
        assert "deletionVectors" not in set(
            extra.get("readerFeatures") or [])
        assert "deletionVectors" not in set(extra["writerFeatures"])
        assert "checkpointProtection" in set(extra["writerFeatures"])
        pin = t.log.metadata().configuration[
            "delta.requireCheckpointProtectionBeforeVersion"]
        assert int(pin) == t.version
        assert t.count() == 90
        assert DeltaTable(spark, f"{tmp_table_dir}/t").count() == 90
        # the protecting checkpoint exists at the pre-drop version
        import os
        names = os.listdir(f"{tmp_table_dir}/t/_delta_log")
        assert any(n.startswith(f"{t.version - 1:020d}.checkpoint")
                   for n in names)

    def test_column_defaults_roundtrip(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.createDataFrame([(1, 5)], "id long, score int"))
        t = t.set_column_default("score", "42")
        with pytest.raises(ValueError, match="DEFAULT"):
            t.drop_feature("allowColumnDefaults")
        t = t.drop_column_default("score")
        t = t.drop_feature("allowColumnDefaults")
        wf = set((t.log.protocol().extra or {})["writerFeatures"])
        assert "allowColumnDefaults" not in wf

    def test_undeclared_and_unknown_refused(self, spark,
                                            tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.range(3))
        with pytest.raises(ValueError, match="not droppable"):
            t.drop_feature("someFutureFeature")
        with pytest.raises(ValueError, match="does not declare"):
            t.drop_feature("deletionVectors")

    @staticmethod
    def _age_commit(table_dir, version, ts_ms=1000):
        """Doctor a commit's commitInfo timestamp so it reads as
        ancient under any retention window."""
        path = os.path.join(table_dir, "_delta_log",
                            f"{version:020d}.json")
        lines = []
        with open(path) as fh:
            for line in fh:
                obj = json.loads(line)
                if "commitInfo" in obj:
                    obj["commitInfo"]["timestamp"] = ts_ms
                lines.append(json.dumps(obj))
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")

    def test_cleanup_below_pin_is_all_or_nothing(self, spark,
                                                 tmp_table_dir):
        """While ANY pre-pin version is still inside the retention
        window, cleanup must delete NONE of them — a partial expiry
        could leave feature-bearing JSON for a partial replay. Once
        every pre-pin version is expired, the whole block goes."""
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.range(50))
        t = t.delete("id % 5 = 0", mode="merge-on-read")
        t = t.reorg_purge()
        t = t.drop_feature("deletionVectors")       # pin = 3
        for _ in range(12):                          # past a checkpoint
            t = t.write(spark.range(5))
        pin = int(t.log.metadata().configuration[
            "delta.requireCheckpointProtectionBeforeVersion"])
        # age only versions 0 and 1: version 2 (pre-pin) stays young,
        # so nothing below the pin may be deleted under a 1h window
        self._age_commit(f"{tmp_table_dir}/t", 0)
        self._age_commit(f"{tmp_table_dir}/t", 1)
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        doomed = t.cleanup_metadata(retention_hours=1.0,
                                    dry_run=True)
        assert all(int(d.split(".")[0]) >= pin for d in doomed
                   if d[0].isdigit())
        # expire the remaining pre-pin versions too: the whole block
        # (and everything else below the newest checkpoint) may go
        doomed = t.cleanup_metadata(retention_hours=0.0)
        assert any(int(d.split(".")[0]) < pin for d in doomed
                   if d[0].isdigit())
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.count() == t.count()


class TestVacuumRetentionProperty:
    def test_property_drives_default_window(self, spark,
                                            tmp_table_dir):
        """vacuum() with no argument reads
        delta.deletedFileRetentionDuration; 7 days when unset."""
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.range(10))
        t = t.delete("id >= 5")
        # default 7-day window: the fresh tombstone survives
        assert t.vacuum(dry_run=True) == []
        # 0-minute window via the table property: it goes
        t = t.set_properties(
            {"delta.deletedFileRetentionDuration":
             "interval 0 minutes"})
        doomed = t.vacuum(dry_run=True)
        assert len(doomed) >= 1       # CoW delete tombstoned the hits
        # explicit argument still wins over the property
        assert t.vacuum(retention_hours=168.0, dry_run=True) == []


class TestVacuumFull:
    """vacuum(full=True) — delta-spark's listing mode: untracked
    orphans (crashed-writer litter no log action references) older
    than the horizon are reclaimed by filesystem mtime; hidden paths,
    live adds, tombstoned paths and DV bitmaps are protected."""

    def test_untracked_orphan_reclaimed_tracked_files_survive(
            self, spark, tmp_table_dir):
        import os
        loc = f"{tmp_table_dir}/t"
        t = DeltaTable(spark, loc).write(spark.range(10))
        t = t.delete("id >= 5")           # fresh tombstone (young)
        # plant orphans: an untracked parquet at root and one in a
        # fake partition dir; backdate their mtimes past any horizon
        orphan1 = os.path.join(loc, "orphan-000.parquet")
        os.makedirs(os.path.join(loc, "cat=x"), exist_ok=True)
        orphan2 = os.path.join(loc, "cat=x", "orphan-001.parquet")
        staged = os.path.join(loc, "_staging-dead",
                              "part-000.parquet")
        os.makedirs(os.path.dirname(staged), exist_ok=True)
        for p in (orphan1, orphan2, staged):
            open(p, "wb").write(b"junk")
            os.utime(p, (0, 0))
        # log-only mode never sees them
        assert "orphan-000.parquet" not in t.vacuum(
            retention_hours=168.0, dry_run=True)
        doomed = t.vacuum(retention_hours=168.0, dry_run=True,
                          full=True)
        assert "orphan-000.parquet" in doomed
        assert "cat=x/orphan-001.parquet" in doomed
        # hidden (_staging) paths protected; young tombstones too
        assert all("_staging" not in d for d in doomed)
        assert all(not d.startswith("_delta_log") for d in doomed)
        live_before = t.count()
        t.vacuum(retention_hours=168.0, full=True)
        assert not os.path.exists(orphan1)
        assert not os.path.exists(orphan2)
        assert os.path.exists(staged)
        t2 = DeltaTable(spark, loc)
        assert t2.count() == live_before
        # tombstoned-but-young data survived full mode, so time
        # travel to the pre-delete version still scans
        assert t2.load_as_version(0).count() == 10

    def test_full_respects_mtime_horizon(self, spark, tmp_table_dir):
        import os
        loc = f"{tmp_table_dir}/t"
        t = DeltaTable(spark, loc).write(spark.range(5))
        fresh = os.path.join(loc, "fresh-orphan.parquet")
        open(fresh, "wb").write(b"junk")   # mtime = now
        doomed = t.vacuum(retention_hours=1.0, dry_run=True,
                          full=True)
        assert "fresh-orphan.parquet" not in doomed


class TestVacuumInventory:
    """vacuum(inventory=...) — delta-spark 3.3's VACUUM USING
    INVENTORY: the listing comes from a user-supplied DataFrame
    (path/isDir/modificationTime) instead of a directory walk, with
    the same orphan-reclaim + protection semantics; rows outside the
    table root are ignored, inventory timestamps are authoritative."""

    @staticmethod
    def _inv(spark, rows):
        return spark.createDataFrame(
            rows, "path string, isDir boolean, modificationTime long")

    def test_inventory_drives_reclaim_with_protections(
            self, spark, tmp_table_dir):
        import os
        from xdlake_spark.log.actions import timestamp_ms
        loc = f"{tmp_table_dir}/t"
        t = DeltaTable(spark, loc).write(spark.range(10))
        t = t.delete("id >= 5")            # young tombstones
        live = sorted(t.adds)[0]
        old = timestamp_ms() - 10 * 3600 * 1000
        now = timestamp_ms()
        orphan = os.path.join(loc, "orphan-inv.parquet")
        open(orphan, "wb").write(b"junk")
        # note: filesystem mtime of the orphan is NOW — only the
        # inventory says it is old, proving inventory authority
        inv = self._inv(spark, [
            (f"{loc}/orphan-inv.parquet", False, old),     # absolute
            ("rel-orphan.parquet", False, old),            # relative
            (f"{loc}/fresh-orphan.parquet", False, now),   # too young
            (f"{loc}/{live}", False, old),                 # live add
            (f"{loc}/_delta_log/00.json", False, old),     # hidden
            (f"{loc}/cat=x", True, old),                   # directory
            ("/elsewhere/other.parquet", False, old),      # outside
            ("s3://other-bucket/f.parquet", False, old),   # outside
        ])
        doomed = t.vacuum(retention_hours=1.0, dry_run=True,
                          inventory=inv)
        assert doomed == ["orphan-inv.parquet", "rel-orphan.parquet"]
        live_before = t.count()
        t.vacuum(retention_hours=1.0, inventory=inv)
        assert not os.path.exists(orphan)
        assert DeltaTable(spark, loc).count() == live_before

    def test_inventory_matches_full_listing(self, spark,
                                            tmp_table_dir):
        """An inventory mirroring the real directory walk reclaims
        exactly what full=True reclaims."""
        import os
        loc = f"{tmp_table_dir}/t"
        t = DeltaTable(spark, loc).write(spark.range(8))
        for name in ("orphan-a.parquet", "cat=x/orphan-b.parquet"):
            p = os.path.join(loc, name)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            open(p, "wb").write(b"junk")
            os.utime(p, (0, 0))
        rows = [(f"{loc}/{rel}", False, mtime) for rel, mtime
                in t.location.list_files_recursive_info()]
        inv = self._inv(spark, rows)
        want = t.vacuum(retention_hours=1.0, dry_run=True, full=True)
        got = t.vacuum(retention_hours=1.0, dry_run=True,
                       inventory=inv)
        assert got == want
        assert "orphan-a.parquet" in got

    def test_tombstones_still_reclaimed_alongside_inventory(
            self, spark, tmp_table_dir):
        """The log-only doomed set composes with the inventory path
        (old tombstones reclaim even if the inventory omits them)."""
        loc = f"{tmp_table_dir}/t"
        t = DeltaTable(spark, loc).write(spark.range(6))
        t = t.write(spark.range(6), mode="overwrite")
        inv = self._inv(spark, [])
        doomed = t.vacuum(retention_hours=0.0, dry_run=True,
                          inventory=inv)
        assert any(d.endswith(".parquet") for d in doomed)


class TestTypeFeatures:
    """Schema-driven protocol features (table.py _ensure_type_features):
    a schema containing timestamp_ntz or variant must declare the
    matching table feature on BOTH protocol sides per the Delta spec —
    silently committing under (1,2) would let conforming readers that
    lack the type misread the table."""

    def _features(self, t):
        p = t.log.protocol()
        extra = p.extra or {}
        return (p.minReaderVersion, p.minWriterVersion,
                set(extra.get("readerFeatures") or []),
                set(extra.get("writerFeatures") or []))

    def test_variant_create_declares_feature(self, spark,
                                             tmp_table_dir):
        df = spark.sql("SELECT id, parse_json(concat('{\"k\":', id, "
                       "'}')) AS v FROM range(5)")
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(df)
        mr, mw, rf, wf = self._features(t)
        assert (mr, mw) == (3, 7)
        assert "variantType" in rf and "variantType" in wf
        got = sorted(
            (r["id"], r["k"]) for r in t.to_df().select(
                "id", F.expr("variant_get(v, '$.k', 'long')")
                .alias("k")).collect())
        assert got == [(i, i) for i in range(5)]

    def test_ntz_create_declares_feature(self, spark, tmp_table_dir):
        df = spark.sql(
            "SELECT id, timestamp_ntz'2024-01-01 00:00:00' AS ts "
            "FROM range(3)")
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(df)
        _, _, rf, wf = self._features(t)
        assert "timestampNtz" in rf and "timestampNtz" in wf

    def test_plain_table_stays_legacy(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.range(3))
        mr, mw, rf, wf = self._features(t)
        assert (mr, mw) == (1, 2) and not rf and not wf

    def test_evolution_into_variant_upgrades(self, spark,
                                             tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.range(3))
        t = t.write(spark.sql("SELECT id, parse_json('1') AS j "
                              "FROM range(2)"), schema_mode="merge")
        _, _, rf, wf = self._features(t)
        assert "variantType" in rf and "variantType" in wf
        # legacy (1,2)-implied features enumerated per the upgrade rule
        assert {"appendOnly", "invariants"} <= wf

    def test_variant_add_gets_spark_side_stats(self, spark,
                                               tmp_table_dir):
        # pyarrow can't parse the variant footer, but the write path
        # falls back to ONE Spark aggregation over the staged files
        # (r9 VERDICT item 5) so the SCALAR columns keep min/max/
        # nullCount — skipping must not degrade to full scans on every
        # column of a variant-bearing table
        import json as _json
        df = spark.sql("SELECT id, parse_json(concat('[', id, ']')) "
                       "AS v FROM range(10)").coalesce(2)
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(df)
        adds = t.log.add_actions()
        assert all(a.stats for a in adds.values())
        stats = [_json.loads(a.stats) for a in adds.values()]
        assert sum(s["numRecords"] for s in stats) == 10
        for s in stats:
            assert "id" in s["minValues"] and "id" in s["maxValues"]
            assert s["nullCount"].get("id") == 0
            assert "v" not in s["minValues"]   # variant: no interval
        # metadata-only count works again (numRecords present)
        assert t.count() == 10
        t = t.delete("id >= 7")
        assert t.count() == 7

    def test_variant_table_skipping_prunes_on_scalar(self, spark,
                                                     tmp_table_dir):
        # two disjoint-id files: a predicate on the scalar column must
        # prune by the Spark-computed stats despite the variant column
        df1 = spark.sql("SELECT id, parse_json('1') AS v "
                        "FROM range(0, 50)").coalesce(1)
        df2 = spark.sql("SELECT id, parse_json('2') AS v "
                        "FROM range(1000, 1050)").coalesce(1)
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(df1)
        t = t.write(df2, mode="append")
        assert len(t.adds) == 2
        pruned = t.to_df(where="id >= 1000").inputFiles()
        assert len(pruned) == 1
        assert t.to_df(where="id >= 1000").count() == 50

    def test_nested_variant_detected(self, spark, tmp_table_dir):
        df = spark.sql("SELECT id, array(parse_json('2')) AS arr "
                       "FROM range(2)")
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(df)
        _, _, rf, wf = self._features(t)
        assert "variantType" in rf and "variantType" in wf

    def test_nested_variant_blocks_drop_feature(self, spark,
                                                tmp_table_dir):
        """drop_feature('variantType') must refuse while a variant
        hides inside a struct/array (r8 ADVICE): dropping it would
        stop declaring a type the schema still contains, and
        conforming foreign readers would misread the table."""
        df = spark.sql(
            "SELECT id, named_struct('inner', parse_json('1')) AS s "
            "FROM range(2)")
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(df)
        with pytest.raises(ValueError, match="variant"):
            t.drop_feature("variantType")
        # dropping the nested variant column unblocks the drop
        t = t.write(t.to_df().select("id"), mode="overwrite",
                    schema_mode="overwrite")
        t = t.drop_feature("variantType")
        _, _, rf, wf = self._features(t)
        assert "variantType" not in rf and "variantType" not in wf


class TestCommitRetry:
    def test_append_retries_past_conflict(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(pdf))
        # two stale handles at the same version: without retries the
        # second append must fail, with retries it lands at the next one
        a = DeltaTable(spark, tmp_table_dir)
        b = DeltaTable(spark, tmp_table_dir)
        a.write(spark.createDataFrame(gen_pdf()))
        import pytest as _pytest
        with _pytest.raises(FileExistsError):
            b.write(spark.createDataFrame(gen_pdf()))
        b2 = DeltaTable(spark, tmp_table_dir)  # stale again after a's win
        DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(gen_pdf()))  # advance head under b2
        out = b2.write(spark.createDataFrame(gen_pdf()),
                       max_commit_retries=3)
        # v0 initial, v1 a's append, v2 head advance, v3 b2's retried
        # append (b's unretried conflict never landed)
        assert out.version == 3
        assert out.to_df().count() == 4 * len(pdf)


class TestSchemaOps:
    def test_add_columns_metadata_only(self, spark, tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        files_before = set(t.adds)
        t2 = t.add_columns({"score": "double", "tags": "array<string>"})
        assert set(t2.adds) == files_before  # no data rewritten
        assert next(t2.history())["operation"] == "ADD COLUMNS"
        got = t2.to_df()
        assert "score" in got.columns and "tags" in got.columns
        assert got.filter("score IS NOT NULL").count() == 0
        # subsequent write can fill the new column
        new = gen_pdf()
        new["score"] = 1.5
        new["tags"] = [["a"]] * len(new)
        t3 = t2.write(spark.createDataFrame(new))
        assert t3.to_df().filter("score = 1.5").count() == len(new)
        with pytest.raises(ValueError, match="already exists"):
            t3.add_columns({"score": "double"})

    def test_describe_detail(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 2,
                                   partition_by=["cats"])
        d = t.describe_detail()
        assert d["numFiles"] == len(t.adds)
        assert d["numRecords"] == len(expected)
        assert d["partitionColumns"] == ["cats"]
        assert d["version"] == 1 and d["format"] == "delta"
        assert d["sizeInBytes"] > 0


class TestRobustnessProbes:
    def test_bad_write_mode_raises(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        with pytest.raises(ValueError):
            t.write(spark.createDataFrame(gen_pdf()), mode="upsert")

    def test_scan_nonexistent_table_raises(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/nothing-here")
        with pytest.raises(ValueError, match="No delta table"):
            t.to_df()

    def test_time_travel_missing_version_raises(self, spark,
                                                tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        with pytest.raises(ValueError, match="does not exist"):
            t.load_as_version(99)

    def test_delete_bogus_column_leaves_table_intact(self, spark,
                                                     tmp_table_dir):
        from pyspark.errors import AnalysisException
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 2)
        with pytest.raises(AnalysisException):
            t.delete("no_such_column > 5")
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.version == t.version
        assert_frames_equivalent(t2.to_pandas(), expected)

    def test_update_bogus_predicate_leaves_table_intact(self, spark,
                                                        tmp_table_dir):
        from pyspark.errors import AnalysisException
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        with pytest.raises(AnalysisException):
            t.update({"i64": "1"}, "ghost_col = 3")
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.version == t.version
        assert_frames_equivalent(t2.to_pandas(), expected)

    def test_delete_all_then_rewrite(self, spark, tmp_table_dir):
        t, _ = write_rounds(spark, f"{tmp_table_dir}/t", 1)
        t = t.delete()
        assert t.to_df().count() == 0
        pdf = gen_pdf()
        t = t.write(spark.createDataFrame(pdf))
        assert_frames_equivalent(t.to_pandas(), pdf)


class TestOptimizeWhere:
    def test_partial_compaction(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 4,
                                   partition_by=["cats"])
        other = {p for p, a in t.adds.items()
                 if a.partitionValues.get("cats") != "S"}
        t2 = t.optimize(where="cats = 'S'")
        # non-matching partitions untouched, matching partition compacted
        assert other <= set(t2.adds)
        s_before = sum(1 for a in t.adds.values()
                       if a.partitionValues.get("cats") == "S")
        s_after = sum(1 for a in t2.adds.values()
                      if a.partitionValues.get("cats") == "S")
        assert s_after < s_before
        assert_frames_equivalent(t2.to_pandas(), expected)

    def test_zorder_scoped(self, spark, tmp_table_dir):
        t, expected = write_rounds(spark, f"{tmp_table_dir}/t", 3,
                                   partition_by=["cats"])
        other = {p for p, a in t.adds.items()
                 if a.partitionValues.get("cats") != "S"}
        t2 = t.optimize(zorder_by=["i64", "f64"], where="cats = 'S'",
                        target_file_size=64 * 1024)
        assert other <= set(t2.adds)
        assert_frames_equivalent(t2.to_pandas(), expected)


class TestTimestampTravel:
    def test_load_as_timestamp(self, spark, tmp_table_dir):
        import datetime
        import time as _time

        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        sizes = []
        for _ in range(3):
            t = t.write(spark.createDataFrame(gen_pdf()))
            sizes.append(t.to_df().count())
            _time.sleep(0.05)
        stamps = {h["version"]: h["timestamp"] for h in t.history()}

        # exactly at v1's commit time -> v1
        got = t.load_as_timestamp(stamps[1])
        assert got.version == 1 and got.to_df().count() == sizes[1]
        # just before v2 -> still v1
        assert t.load_as_timestamp(stamps[2] - 1).version == 1
        # far future -> head; ISO string + datetime forms accepted
        assert t.load_as_timestamp(stamps[2] + 10_000).version == 2
        dt = datetime.datetime.fromtimestamp(
            (stamps[2] + 10_000) / 1000, tz=datetime.timezone.utc)
        assert t.load_as_timestamp(dt).version == 2
        assert t.load_as_timestamp(dt.isoformat()).version == 2
        # before the table existed -> error
        with pytest.raises(ValueError, match="at or before"):
            t.load_as_timestamp(stamps[0] - 60_000)


class TestReaderProtocolGate:
    @staticmethod
    def _graft_protocol(tmp_table_dir, proto: dict):
        log_file = f"{tmp_table_dir}/t/_delta_log/{0:020d}.json"
        lines = []
        with open(log_file) as fh:
            for line in fh:
                obj = json.loads(line)
                if "protocol" in obj:
                    obj["protocol"] = proto
                lines.append(json.dumps(obj))
        with open(log_file, "w") as fh:
            fh.write("\n".join(lines))

    def test_unknown_reader_feature_refuses_scan(self, spark,
                                                 tmp_table_dir):
        """A v3 protocol demanding a feature this engine does not
        implement (collations here — variantType graduated to the
        supported set in round 8) must refuse to scan — reading anyway
        could silently return wrong rows. Metadata ops stay
        available."""
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(gen_pdf()))
        self._graft_protocol(tmp_table_dir, {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["collations"],
            "writerFeatures": ["collations"]})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        with pytest.raises(NotImplementedError, match="collations"):
            t2.to_df().count()
        assert len(list(t2.history())) >= 1  # metadata still readable

    def test_supported_feature_set_scans(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(gen_pdf()))
        n = t.to_df().count()
        self._graft_protocol(tmp_table_dir, {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "deletionVectors"],
            "writerFeatures": ["timestampNtz", "deletionVectors"]})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.to_df().count() == n  # no live DVs -> readable

    def test_unknown_writer_feature_refuses_commit(self, spark,
                                                   tmp_table_dir):
        """Delta spec: a writer MUST refuse to commit unless it
        implements every writerFeature — our commits would silently
        break e.g. collation invariants for other engines (collations
        here; icebergCompatV2 graduated to the held set in r12). Reads
        stay available (reader protocol is v1 here)."""
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(gen_pdf()))
        n = t.to_df().count()
        self._graft_protocol(tmp_table_dir, {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["collations"]})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2.to_df().count() == n  # reading is fine
        with pytest.raises(NotImplementedError, match="collations"):
            t2.write(spark.createDataFrame(gen_pdf()), mode="append")
        with pytest.raises(NotImplementedError, match="collations"):
            t2.delete("f64 > 0.5")

    def test_supported_writer_features_commit(self, spark,
                                              tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(gen_pdf()))
        n = t.to_df().count()
        self._graft_protocol(tmp_table_dir, {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["appendOnly", "checkConstraints",
                               "timestampNtz"]})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        t3 = t2.write(spark.createDataFrame(gen_pdf()), mode="append")
        assert t3.to_df().count() == 2 * n

    def test_features_survive_checkpoint_roundtrip(self, spark,
                                                   tmp_table_dir):
        from xdlake_spark.log import DeltaLog
        from xdlake_spark.log.checkpoint import (
            read_checkpoint,
            write_checkpoint,
        )
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(gen_pdf()))
        self._graft_protocol(tmp_table_dir, {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"]})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        write_checkpoint(t2.log_location, t2.log)
        protos = [a for a in read_checkpoint(t2.log_location, t2.version)
                  if type(a).__name__ == "Protocol"]
        assert protos[0].minReaderVersion == 3
        assert protos[0].extra["readerFeatures"] == ["v2Checkpoint"]
        # and a checkpoint-fast-path load still refuses to scan
        log = DeltaLog.load(t2.log_location)
        assert log.protocol().extra.get("readerFeatures") \
            == ["v2Checkpoint"]


class TestDeletionVectorGuard:
    def test_corrupt_dv_descriptor_fails_loudly(self, spark,
                                                tmp_table_dir):
        """Valid deletion vectors are decoded and applied (see
        tests/test_dv.py); a descriptor whose bitmap cannot be resolved
        (garbage pathOrInlineDv here) must fail the scan loudly rather
        than silently return logically-deleted rows."""
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        # graft a DV onto the committed add, delta-spark style
        log_file = f"{tmp_table_dir}/t/_delta_log/{0:020d}.json"
        lines = []
        with open(log_file) as fh:
            for line in fh:
                obj = json.loads(line)
                if "add" in obj:
                    obj["add"]["deletionVector"] = {
                        "storageType": "u", "pathOrInlineDv": "ab^-aqEH.-t",
                        "offset": 1, "sizeInBytes": 36, "cardinality": 2}
                lines.append(json.dumps(obj))
        with open(log_file, "w") as fh:
            fh.write("\n".join(lines) + "\n")

        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        with pytest.raises(ValueError, match="deletion vector"):
            t2.to_df()
        with pytest.raises(ValueError, match="deletion vector"):
            t2.delete("flag = true")
        # a DV field that is null/absent stays readable
        assert t.to_df().count() == len(pdf)


class TestLegacyWriterVersionGate:
    """Legacy writer versions <7 imply fixed feature sets (Delta spec);
    they must flow through the same gate as v7's explicit list — a v6
    table with a live identity column, or a v4 CDF table receiving a
    copy-on-write DELETE, must be refused, while merely-declared-but-
    unused features stay vacuously committable."""

    @staticmethod
    def _graft(tmp_table_dir, proto: dict, field_meta: dict | None = None,
               config: dict | None = None):
        """Rewrite v0's protocol and optionally graft schema field
        metadata / table configuration onto the metaData action."""
        log_file = f"{tmp_table_dir}/t/_delta_log/{0:020d}.json"
        lines = []
        with open(log_file) as fh:
            for line in fh:
                obj = json.loads(line)
                if "protocol" in obj:
                    obj["protocol"] = proto
                if "metaData" in obj:
                    if config:
                        obj["metaData"].setdefault(
                            "configuration", {}).update(config)
                    if field_meta:
                        schema = json.loads(
                            obj["metaData"]["schemaString"])
                        for f in schema["fields"]:
                            if f["name"] in field_meta:
                                f["metadata"] = {
                                    **f.get("metadata", {}),
                                    **field_meta[f["name"]]}
                        obj["metaData"]["schemaString"] = \
                            json.dumps(schema)
                lines.append(json.dumps(obj))
        with open(log_file, "w") as fh:
            fh.write("\n".join(lines) + "\n")

    def _table(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        return t.write(spark.createDataFrame(gen_pdf()))

    def test_v6_identity_column_generates_on_append(self, spark,
                                                    tmp_table_dir):
        """Identity columns are now maintained, not refused: omitted
        values are generated past the high watermark; explicit values
        refuse when allowExplicitInsert=false (TestIdentityColumns has
        the full matrix)."""
        self._table(spark, tmp_table_dir)
        self._graft(tmp_table_dir,
                    {"minReaderVersion": 1, "minWriterVersion": 6},
                    field_meta={"i64": {"delta.identity.start": 1,
                                        "delta.identity.step": 1,
                                        "delta.identity.allowExplicitInsert":
                                            False}})
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        n = t.to_df().count()
        # explicit values refused
        with pytest.raises(ValueError, match="allowExplicitInsert"):
            t.write(spark.createDataFrame(gen_pdf()), mode="append")
        # omitted -> generated, all fresh and positive-grid
        t2 = t.write(spark.createDataFrame(
            gen_pdf().drop(columns=["i64"])), mode="append")
        assert t2.to_df().count() == 2 * n
        new = t2.to_df().filter("i64 >= 1").count()
        assert new >= n  # the generated half is on the identity grid

    def test_v6_without_identity_columns_commits(self, spark,
                                                 tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        n = t.to_df().count()
        self._graft(tmp_table_dir,
                    {"minReaderVersion": 1, "minWriterVersion": 6})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        t3 = t2.write(spark.createDataFrame(gen_pdf()), mode="append")
        assert t3.to_df().count() == 2 * n

    def test_v4_cdf_mutations_write_cdc(self, spark, tmp_table_dir):
        t = self._table(spark, tmp_table_dir)
        n = t.to_df().count()
        self._graft(tmp_table_dir,
                    {"minReaderVersion": 1, "minWriterVersion": 4},
                    config={"delta.enableChangeDataFeed": "true"})
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        # appends are CDC-derivable from add actions: allowed, no cdc
        t3 = t2.write(spark.createDataFrame(gen_pdf()), mode="append")
        assert t3.to_df().count() == 2 * n
        assert not t3.log.entries[t3.version].cdcs
        # every mutation writes real cdc files (see TestChangeDataFeed)
        t4 = t3.delete("flag = true")
        assert t4.log.entries[t4.version].cdcs

    def test_v4_without_cdf_mutates(self, spark, tmp_table_dir):
        self._table(spark, tmp_table_dir)
        self._graft(tmp_table_dir,
                    {"minReaderVersion": 1, "minWriterVersion": 4})
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t.delete("flag = true").to_df().count() >= 0

    def test_v2_invariant_enforced_on_append(self, spark,
                                             tmp_table_dir):
        """Writer-v2 column invariants are ENFORCED (Delta writer
        spec), not refused: violating appends abort, satisfying ones
        commit."""
        self._table(spark, tmp_table_dir)
        self._graft(
            tmp_table_dir,
            {"minReaderVersion": 1, "minWriterVersion": 2},
            field_meta={"i64": {"delta.invariants":
                                '{"expression":{"expression":"i64 > -2000"}}'}})
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        n = t.to_df().count()
        # gen_pdf i64 is in [-1000, 1000): satisfies > -2000
        t = t.write(spark.createDataFrame(gen_pdf()), mode="append")
        assert t.to_df().count() == 2 * n
        bad = gen_pdf()
        bad["i64"] = -5000
        with pytest.raises(Exception, match="invariant"):
            t.write(spark.createDataFrame(bad), mode="append")
        # failed write left the table intact
        assert DeltaTable(spark,
                          f"{tmp_table_dir}/t").to_df().count() == 2 * n

    def test_v7_generated_column_computed_and_verified(self, spark,
                                                       tmp_table_dir):
        """Generated columns are computed when omitted and verified
        when supplied (Delta writer spec)."""
        self._table(spark, tmp_table_dir)
        self._graft(
            tmp_table_dir,
            {"minReaderVersion": 1, "minWriterVersion": 7,
             "writerFeatures": ["generatedColumns"]},
            field_meta={"i32": {"delta.generationExpression":
                                "i64 + 1"}})
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        # omitted -> computed
        pdf = gen_pdf().drop(columns=["i32"])
        t = t.write(spark.createDataFrame(pdf), mode="append")
        new = t.to_df().filter(
            f"order >= {int(pdf['order'].min())}").collect()
        assert len(new) == len(pdf)
        assert all(r["i32"] == r["i64"] + 1 for r in new)
        # supplied-and-correct -> accepted
        ok_pdf = gen_pdf()
        ok_pdf["i32"] = (ok_pdf["i64"] + 1).astype("int32")
        t = t.write(spark.createDataFrame(ok_pdf), mode="append")
        # supplied-and-wrong -> refused
        bad = gen_pdf()
        bad["i32"] = 0
        with pytest.raises(Exception, match="generat"):
            t.write(spark.createDataFrame(bad), mode="append")

    def test_generated_column_recomputed_on_update(self, spark,
                                                   tmp_table_dir):
        self._table(spark, tmp_table_dir)
        self._graft(
            tmp_table_dir,
            {"minReaderVersion": 1, "minWriterVersion": 4},
            field_meta={"i32": {"delta.generationExpression":
                                "i64 + 1"}})
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        # existing rows violate i32 = i64+1 (random data), but UPDATE
        # recomputes every generated column on the rewritten files
        # (where=None rewrites them all)
        t = t.update(set={"i64": "100"})
        rows = t.to_df().collect()
        assert rows and all(r["i64"] == 100 and r["i32"] == 101
                            for r in rows)


class TestWriterOptions:
    def test_write_options_passthrough_zstd(self, spark, tmp_table_dir):
        import pyarrow.parquet as pq
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf),
                    write_options={"compression": "zstd"})
        assert len(t.adds) >= 1
        for rel in t.adds:
            meta = pq.ParquetFile(f"{tmp_table_dir}/t/{rel}").metadata
            codecs = {meta.row_group(g).column(c).compression
                      for g in range(meta.num_row_groups)
                      for c in range(meta.num_columns)}
            assert codecs == {"ZSTD"}
        assert_frames_equivalent(t.to_pandas(), pdf)


class TestCommitConflictDetection:
    """Commit-time logical conflict checks: snapshot-built entries
    (delete/update/merge/optimize) rebase past disjoint concurrent
    commits and raise CommitConflictError on true conflicts."""

    def _fixed_pdf(self, n=20):
        pdf = gen_pdf(n)
        pdf["cats"] = (["S"] * (n // 2)) + (["A"] * (n - n // 2))
        return pdf

    def test_disjoint_append_rebases_delete(self, spark, tmp_table_dir):
        pdf = self._fixed_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        stale = DeltaTable(spark, f"{tmp_table_dir}/t")
        # concurrent append of rows ONLY in partition cats='A' — provably
        # disjoint from a delete on cats='S'
        extra = self._fixed_pdf()
        extra = extra[extra["cats"] == "A"]
        t.write(spark.createDataFrame(extra), partition_by=["cats"])
        out = stale.delete("cats = 'S'")
        # both commits land: append at v1, rebased delete at v2
        assert out.version == 2
        fresh = DeltaTable(spark, f"{tmp_table_dir}/t")
        want = pd.concat([pdf[pdf["cats"] == "A"], extra])
        assert_frames_equivalent(fresh.to_pandas(), want)

    def test_matching_append_conflicts_delete(self, spark, tmp_table_dir):
        pdf = self._fixed_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        stale = DeltaTable(spark, f"{tmp_table_dir}/t")
        # concurrent append INTO the partition the delete reads
        extra = self._fixed_pdf()
        extra = extra[extra["cats"] == "S"]
        t.write(spark.createDataFrame(extra), partition_by=["cats"])
        with pytest.raises(CommitConflictError, match="match this"):
            stale.delete("cats = 'S'")
        # conflict left the winner's commit intact and added nothing
        fresh = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert fresh.version == 1
        assert_frames_equivalent(fresh.to_pandas(),
                                 pd.concat([pdf, extra]))

    def test_concurrent_remove_conflicts_optimize(self, spark,
                                                  tmp_table_dir):
        pdf = self._fixed_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        # two small files in one partition so optimize wants to compact
        t = t.write(spark.createDataFrame(pdf))
        t = t.write(spark.createDataFrame(self._fixed_pdf()))
        stale = DeltaTable(spark, f"{tmp_table_dir}/t")
        # a concurrent delete-all tombstones the files optimize compacts
        t.delete()
        with pytest.raises(CommitConflictError, match="removed"):
            stale.optimize(target_file_size=1 << 30)

    def test_append_rebases_optimize(self, spark, tmp_table_dir):
        pdf = self._fixed_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        t = t.write(spark.createDataFrame(self._fixed_pdf()))
        stale = DeltaTable(spark, f"{tmp_table_dir}/t")
        extra = self._fixed_pdf()
        t.write(spark.createDataFrame(extra))
        # compaction is metadata-only w.r.t. concurrent appends: rebase
        out = stale.optimize(target_file_size=1 << 30)
        assert out.version == 3
        fresh = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert fresh.to_df().count() == 60

    def test_concurrent_append_conflicts_merge(self, spark, tmp_table_dir):
        pdf = self._fixed_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        stale = DeltaTable(spark, f"{tmp_table_dir}/t")
        t.write(spark.createDataFrame(self._fixed_pdf()))
        with pytest.raises(CommitConflictError):
            stale.merge(spark.createDataFrame(pdf.head(2)),
                        "t.order = s.order",
                        when_matched_update={"i64": "s.i64"})


class TestMutatorConflicts:
    def test_stale_update_and_merge_conflict_cleanly(self, spark,
                                                     tmp_table_dir):
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        stale = DeltaTable(spark, f"{tmp_table_dir}/t")
        # another writer advances the head under the stale handle
        t.write(spark.createDataFrame(gen_pdf()))
        with pytest.raises(FileExistsError):
            stale.update({"i64": "0"}, "flag = true")
        with pytest.raises(FileExistsError):
            stale.merge(spark.createDataFrame(pdf.head(2)),
                        "t.order = s.order",
                        when_matched_update={"i64": "s.i64"})
        # the other writer's commit survives untouched
        fresh = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert fresh.version == 1
        assert fresh.to_df().count() == 2 * len(pdf)


class TestAppendOnly:
    def test_append_only_lifecycle(self, spark, tmp_table_dir):
        from tests.utils import gen_pdf
        pdf = gen_pdf()
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf))
        t = t.set_properties({"delta.appendOnly": "true"})
        assert t.append_only
        assert t.describe_detail()["properties"]["delta.appendOnly"] == "true"

        # appends still work
        t = t.write(spark.createDataFrame(gen_pdf(3)))
        assert t.to_df().count() == len(pdf) + 3

        # row-removing/modifying operations all refuse
        import pytest as _p
        with _p.raises(ValueError, match="append-only"):
            t.delete("flag = true")
        with _p.raises(ValueError, match="append-only"):
            t.update({"i64": "i64 + 1"}, "flag = true")
        with _p.raises(ValueError, match="append-only"):
            t.write(spark.createDataFrame(pdf), mode="overwrite")
        with _p.raises(ValueError, match="append-only"):
            t.restore(0)
        src = spark.createDataFrame(pdf.head(2))
        with _p.raises(ValueError, match="append-only"):
            t.merge(src, "t.order = s.order",
                    when_matched_update={"i64": "s.i64"})
        # insert-only MERGE is an append and stays allowed
        new = gen_pdf(2)
        t = t.merge(spark.createDataFrame(new), "t.order = s.order",
                    when_not_matched_insert={
                        c: f"s.{c}" for c in pdf.columns})
        assert t.to_df().count() == len(pdf) + 3 + 2

        # unset re-enables mutation; None removes the key
        t = t.set_properties({"delta.appendOnly": None})
        assert not t.append_only
        t = t.delete("flag = true")
        assert t.to_df().filter("flag = true").count() == 0
        h = next(t.load_as_version(t.version - 1).history())
        assert h["operation"] == "SET TBLPROPERTIES"


class TestColumnMappingRead:
    def _make_mapped_table(self, spark, loc, partitioned=True):
        """Hand-craft a 'name'-mode column-mapped table: parquet files
        carry physical col-<tag> names, the log carries the logical
        schema + per-field physicalName metadata (the layout modern
        delta-spark writes with delta.columnMapping.mode=name)."""
        import uuid as _uuid

        from pyspark.sql import functions as F
        os.makedirs(loc, exist_ok=True)

        def write_file(rows, rel):
            df = spark.createDataFrame(
                rows, "`col-aaa` long, `col-bbb` string").coalesce(1)
            stage = f"{loc}/_stage_{_uuid.uuid4().hex}"
            df.write.parquet(stage)
            part = [f for f in os.listdir(stage)
                    if f.endswith(".parquet")][0]
            os.makedirs(os.path.dirname(f"{loc}/{rel}"), exist_ok=True)
            os.replace(f"{stage}/{part}", f"{loc}/{rel}")

        fields = [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "val", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ]
        pcols = []
        if partitioned:
            fields.append(
                {"name": "part", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 3,
                              "delta.columnMapping.physicalName":
                                  "col-ccc"}})
            pcols = ["part"]
        schema_str = json.dumps({"type": "struct", "fields": fields})
        adds = []
        if partitioned:
            write_file([(1, "a"), (2, "b")], "x0.parquet")
            write_file([(3, "c")], "x1.parquet")
            adds = [
                {"path": "x0.parquet",
                 "partitionValues": {"col-ccc": "p0"},
                 "size": 1, "modificationTime": 0, "dataChange": True},
                {"path": "x1.parquet",
                 "partitionValues": {"col-ccc": "p1"},
                 "size": 1, "modificationTime": 0, "dataChange": True},
            ]
        else:
            write_file([(1, "a"), (2, "b"), (3, "c")], "x0.parquet")
            adds = [{"path": "x0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}]
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": str(_uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_str,
                "partitionColumns": pcols,
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "3"},
                "createdTime": 0}},
        ] + [{"add": a} for a in adds]
        os.makedirs(f"{loc}/_delta_log", exist_ok=True)
        with open(f"{loc}/_delta_log/"
                  f"00000000000000000000.json", "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions))

    def test_read_partitioned_mapped_table(self, spark, tmp_table_dir):
        loc = f"{tmp_table_dir}/cm"
        self._make_mapped_table(spark, loc, partitioned=True)
        t = DeltaTable(spark, loc)
        assert t.column_mapping_mode == "name"
        got = t.to_pandas().sort_values("id").reset_index(drop=True)
        assert list(got.columns) == ["id", "val", "part"]
        assert list(got["id"]) == [1, 2, 3]
        assert list(got["val"]) == ["a", "b", "c"]
        assert list(got["part"]) == ["p0", "p0", "p1"]
        # predicates on logical names work (manifest prune stays sound)
        sub = t.to_df(where="part = 'p1'").toPandas()
        assert list(sub["id"]) == [3]

    def test_read_unpartitioned_mapped_table(self, spark, tmp_table_dir):
        loc = f"{tmp_table_dir}/cmu"
        self._make_mapped_table(spark, loc, partitioned=False)
        got = DeltaTable(spark, loc).to_pandas().sort_values("id")
        assert list(got["val"]) == ["a", "b", "c"]

    def test_append_to_mapped_table_roundtrips(self, spark,
                                               tmp_table_dir):
        """Writes emit PHYSICAL column names into the files; the
        mapped read path resolves them back to logical."""
        loc = f"{tmp_table_dir}/cmw"
        self._make_mapped_table(spark, loc, partitioned=False)
        t = DeltaTable(spark, loc)
        pdf = pd.DataFrame({"id": [9], "val": ["z"]})
        t2 = t.write(spark.createDataFrame(pdf), mode="append")
        got = t2.to_pandas().sort_values("id")
        assert list(got["id"]) == [1, 2, 3, 9]
        assert list(got["val"]) == ["a", "b", "c", "z"]
        # the new file really carries physical names
        import pyarrow.parquet as pq
        new_add = [p for p in t2.adds if p.startswith("1-")][0]
        names = pq.read_schema(f"{loc}/{new_add}").names
        assert names == ["col-aaa", "col-bbb"]

    def test_append_to_partitioned_mapped_table(self, spark,
                                                tmp_table_dir):
        loc = f"{tmp_table_dir}/cmp"
        self._make_mapped_table(spark, loc, partitioned=True)
        t = DeltaTable(spark, loc)
        pdf = pd.DataFrame({"id": [9], "val": ["z"], "part": ["p1"]})
        t2 = t.write(spark.createDataFrame(pdf), mode="append",
                     partition_by=["part"])
        got = t2.to_pandas().sort_values("id")
        assert list(got["id"]) == [1, 2, 3, 9]
        assert list(got["part"]) == ["p0", "p0", "p1", "p1"]
        # hive dir + partitionValues use the physical name
        new_add, add = [(p, a) for p, a in t2.adds.items()
                        if p.split("/")[-1].startswith("1-")][0]
        assert new_add.startswith("col-ccc=p1/")
        assert add.partitionValues == {"col-ccc": "p1"}
        # logical-predicate reads still correct
        assert sorted(t2.to_df(where="part = 'p1'").toPandas()["id"]) \
            == [3, 9]

    def test_schema_evolution_on_mapped_table_refused(self, spark,
                                                      tmp_table_dir):
        loc = f"{tmp_table_dir}/cme"
        self._make_mapped_table(spark, loc, partitioned=False)
        t = DeltaTable(spark, loc)
        pdf = pd.DataFrame({"id": [9], "val": ["z"], "extra": [1.0]})
        with pytest.raises(NotImplementedError, match="physical"):
            t.write(spark.createDataFrame(pdf), mode="append",
                    schema_mode="merge")


class TestColumnMappingIdRead:
    """id-mode column mapping: columns resolve by parquet FIELD ID.
    The second data file's physical column names deliberately differ
    from the log's physicalName metadata — name-based resolution would
    misread it; field-id resolution must not."""

    def _make_id_mapped_table(self, loc):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(f"{loc}/_delta_log", exist_ok=True)

        def fschema(names):
            return pa.schema([
                pa.field(names[0], pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field(names[1], pa.string(),
                         metadata={b"PARQUET:field_id": b"2"})])

        s1 = fschema(["col-aaa", "col-bbb"])
        pq.write_table(
            pa.table({"col-aaa": [1, 2], "col-bbb": ["a", "b"]},
                     schema=s1), f"{loc}/x0.parquet")
        # drifted physical names, same field ids
        s2 = fschema(["col-zzz", "col-yyy"])
        pq.write_table(
            pa.table({"col-zzz": [3], "col-yyy": ["c"]}, schema=s2),
            f"{loc}/x1.parquet")

        fields = [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "val", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ]
        actions = [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": str(_uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2"},
                "createdTime": 0}},
            {"add": {"path": "x0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
            {"add": {"path": "x1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ]
        with open(f"{loc}/_delta_log/"
                  f"00000000000000000000.json", "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions))

    def test_read_resolves_by_field_id(self, spark, tmp_table_dir):
        loc = f"{tmp_table_dir}/cmid"
        self._make_id_mapped_table(loc)
        t = DeltaTable(spark, loc)
        assert t.column_mapping_mode == "id"
        got = t.to_pandas().sort_values("id").reset_index(drop=True)
        assert list(got.columns) == ["id", "val"]
        assert list(got["id"]) == [1, 2, 3]
        assert list(got["val"]) == ["a", "b", "c"]

    def test_missing_field_ids_refused(self, spark, tmp_table_dir):
        loc = f"{tmp_table_dir}/cmid2"
        self._make_id_mapped_table(loc)
        # strip the columnMapping.id from the log's schema metadata
        log_file = f"{loc}/_delta_log/00000000000000000000.json"
        lines = []
        for line in open(log_file):
            obj = json.loads(line)
            if "metaData" in obj:
                s = json.loads(obj["metaData"]["schemaString"])
                for f in s["fields"]:
                    f["metadata"].pop("delta.columnMapping.id", None)
                obj["metaData"]["schemaString"] = json.dumps(s)
            lines.append(json.dumps(obj))
        open(log_file, "w").write("\n".join(lines) + "\n")
        t = DeltaTable(spark, loc)
        with pytest.raises(NotImplementedError, match="columnMapping.id"):
            t.to_df().count()


class TestMergeNmbsMultiMatch:
    def test_multiply_matched_passthrough_not_duplicated(
            self, spark, tmp_table_dir):
        # regression: an NMBS-only merge must copy a target row matched
        # by SEVERAL source rows exactly once (a left-join rewrite
        # fanned it out into one copy per source match)
        target = spark.createDataFrame(
            pd.DataFrame({"key": [1, 2], "val": ["keep", "drop"]}))
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(target)
        src = spark.createDataFrame(
            pd.DataFrame({"key": [1, 1, 1], "x": [10, 20, 30]}))
        t2 = t.merge(src, "t.key = s.key",
                     when_not_matched_by_source_delete=True)
        got = t2.to_pandas()
        assert len(got) == 1
        assert list(got["key"]) == [1] and list(got["val"]) == ["keep"]

    def test_nmbs_only_update_with_multimatch(self, spark,
                                              tmp_table_dir):
        target = spark.createDataFrame(
            pd.DataFrame({"key": [1, 2, 3], "val": [0, 0, 0]}))
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(target)
        src = spark.createDataFrame(
            pd.DataFrame({"key": [1, 1]}))  # key 1 matched twice
        t2 = t.merge(src, "t.key = s.key",
                     when_not_matched_by_source_update={"val": "t.val + 7"})
        got = t2.to_pandas().sort_values("key").reset_index(drop=True)
        assert list(got["key"]) == [1, 2, 3]     # no duplication
        assert list(got["val"]) == [0, 7, 7]     # unmatched demoted


class TestColumnMappingIdWrite:
    def test_append_writes_field_ids(self, spark, tmp_table_dir):
        """id-mode writes attach parquet field ids so future files
        survive physical-name drift."""
        loc = f"{tmp_table_dir}/cmidw"
        TestColumnMappingIdRead()._make_id_mapped_table(loc)
        t = DeltaTable(spark, loc)
        pdf = pd.DataFrame({"id": [9], "val": ["z"]})
        t2 = t.write(spark.createDataFrame(pdf), mode="append")
        got = t2.to_pandas().sort_values("id")
        assert list(got["id"]) == [1, 2, 3, 9]
        assert list(got["val"]) == ["a", "b", "c", "z"]
        import pyarrow.parquet as pq
        new_add = [p for p in t2.adds if p.startswith("1-")][0]
        sch = pq.read_schema(f"{loc}/{new_add}")
        ids = {f.name: f.metadata.get(b"PARQUET:field_id")
               for f in sch}
        assert ids == {"col-aaa": b"1", "col-bbb": b"2"}


class TestChangeDataFeed:
    """Row-level CDF: DELETE/UPDATE write cdc files under
    _change_data/; change_feed() returns them per the Delta spec
    (commits with cdc actions yield exactly those rows; others derive
    insert/delete from add/remove actions)."""

    def _cdf_table(self, spark, loc, pdf):
        t = DeltaTable(spark, loc).write(spark.createDataFrame(pdf))
        return t.set_properties({"delta.enableChangeDataFeed": "true"})

    def test_delete_writes_cdc_and_feed_reads_it(self, spark,
                                                 tmp_table_dir):
        pdf = gen_pdf(30)
        t = self._cdf_table(spark, f"{tmp_table_dir}/t", pdf)
        t = t.delete("i64 > 0")  # v2
        entry = t.log.entries[t.version]
        assert entry.cdcs, "DELETE on a CDF table must emit cdc actions"
        assert all(c.path.startswith("_change_data/")
                   for c in entry.cdcs)
        feed = t.change_feed(1).toPandas()  # just the delete commit
        want = pdf[pdf["i64"] > 0]
        assert set(feed["_change_type"]) == {"delete"}
        assert sorted(feed["order"]) == sorted(want["order"])
        assert set(feed["_commit_version"]) == {2}
        # the post-delete table itself excludes those rows
        assert t.to_df().count() == len(pdf) - len(want)

    def test_update_writes_pre_and_post_images(self, spark,
                                               tmp_table_dir):
        pdf = gen_pdf(30)
        t = self._cdf_table(spark, f"{tmp_table_dir}/t", pdf)
        t = t.update({"i64": "i64 + 1000"}, "flag = true")
        feed = t.change_feed(1).toPandas()
        matched = pdf[pdf["flag"]]
        pre = feed[feed["_change_type"] == "update_preimage"]
        post = feed[feed["_change_type"] == "update_postimage"]
        assert len(pre) == len(post) == len(matched)
        by_order_pre = pre.set_index("order")["i64"]
        by_order_post = post.set_index("order")["i64"]
        for o, v in matched.set_index("order")["i64"].items():
            assert by_order_pre[o] == v
            assert by_order_post[o] == v + 1000

    def test_insert_derivation_without_cdc(self, spark, tmp_table_dir):
        pdf1, pdf2 = gen_pdf(10), gen_pdf(10)
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(pdf1))
        t = t.write(spark.createDataFrame(pdf2), mode="append")
        feed = t.change_feed(0).toPandas()
        assert set(feed["_change_type"]) == {"insert"}
        assert sorted(feed["order"]) == sorted(pdf2["order"])
        full = t.change_feed(-1).toPandas()
        assert len(full) == 20

    def test_cdc_files_partitioned_like_table(self, spark,
                                              tmp_table_dir):
        pdf = gen_pdf(40)
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.createDataFrame(pdf), partition_by=["flag"])
        t = t.set_properties({"delta.enableChangeDataFeed": "true"})
        t = t.delete("i64 > 0")
        entry = t.log.entries[t.version]
        assert entry.cdcs
        for c in entry.cdcs:
            assert "flag=" in c.path
            assert set(c.partitionValues) == {"flag"}
        feed = t.change_feed(t.version - 1).toPandas()
        want = pdf[pdf["i64"] > 0]
        assert sorted(feed["order"]) == sorted(want["order"])
        # partition column values survived the cdc roundtrip
        m = pdf.set_index("order")["flag"]
        for _, r in feed.iterrows():
            assert bool(r["flag"]) == bool(m[r["order"]])

    def test_vacuum_spares_cdc_files(self, spark, tmp_table_dir):
        import os as _os
        pdf = gen_pdf(20)
        t = self._cdf_table(spark, f"{tmp_table_dir}/t", pdf)
        t = t.delete("i64 > 0")
        doomed = t.vacuum(retention_hours=0.0)
        assert all(not p.startswith("_change_data") for p in doomed)
        cdc_dir = f"{tmp_table_dir}/t/_change_data"
        assert _os.path.isdir(cdc_dir)
        feed = t.change_feed(1)
        assert feed.count() == int((pdf["i64"] > 0).sum())


class TestMergeChangeDataFeed:
    """MERGE on CDF tables emits per-clause change rows: matched
    updates as pre/post-images, matched deletes as deletes, inserts as
    inserts — and insert-only merges no longer rewrite matched files."""

    def _table(self, spark, loc, pdf):
        t = DeltaTable(spark, loc).write(
            spark.createDataFrame(pdf).coalesce(1))
        return t.set_properties({"delta.enableChangeDataFeed": "true"})

    def test_upsert_merge_feed(self, spark, tmp_table_dir):
        pdf = gen_pdf(20)
        t = self._table(spark, f"{tmp_table_dir}/t", pdf)
        src = pdf.head(5).copy()
        src["i64"] = src["i64"] + 7
        new = gen_pdf(3)
        src = pd.concat([src, new])
        t = t.merge(spark.createDataFrame(src), "t.order = s.order",
                    when_matched_update={"i64": "s.i64"},
                    when_not_matched_insert={
                        c: f"s.{c}" for c in pdf.columns})
        entry = t.log.entries[t.version]
        assert entry.cdcs
        feed = t.change_feed(1).toPandas()
        counts = feed["_change_type"].value_counts().to_dict()
        assert counts == {"update_preimage": 5, "update_postimage": 5,
                          "insert": 3}
        post = feed[feed["_change_type"] == "update_postimage"] \
            .set_index("order")["i64"]
        pre = feed[feed["_change_type"] == "update_preimage"] \
            .set_index("order")["i64"]
        for o, v in pdf.head(5).set_index("order")["i64"].items():
            assert pre[o] == v and post[o] == v + 7
        assert sorted(feed[feed["_change_type"] == "insert"]["order"]) \
            == sorted(new["order"])

    def test_matched_delete_merge_feed(self, spark, tmp_table_dir):
        pdf = gen_pdf(20)
        t = self._table(spark, f"{tmp_table_dir}/t", pdf)
        src = pdf.head(4)
        t = t.merge(spark.createDataFrame(src), "t.order = s.order",
                    when_matched_delete=True)
        feed = t.change_feed(1).toPandas()
        assert set(feed["_change_type"]) == {"delete"}
        assert sorted(feed["order"]) == sorted(src["order"])
        assert t.to_df().count() == len(pdf) - 4

    def test_insert_only_merge_rewrites_nothing(self, spark,
                                                tmp_table_dir):
        pdf = gen_pdf(20)
        t = self._table(spark, f"{tmp_table_dir}/t", pdf)
        before = set(t.adds)
        src = pd.concat([pdf.head(5), gen_pdf(2)])
        t = t.merge(spark.createDataFrame(src), "t.order = s.order",
                    when_not_matched_insert={
                        c: f"s.{c}" for c in pdf.columns})
        entry = t.log.entries[t.version]
        # matched files untouched: no removes, only the insert add
        assert not entry.removes
        assert before <= set(t.adds)
        feed = t.change_feed(t.version - 1).toPandas()
        assert set(feed["_change_type"]) == {"insert"}
        assert len(feed) == 2

    def test_gated_update_matching_no_rows_still_carries_cdc(
            self, spark, tmp_table_dir):
        pdf = gen_pdf(20)
        t = self._table(spark, f"{tmp_table_dir}/t", pdf)
        src = pdf.head(3)
        t = t.merge(spark.createDataFrame(src), "t.order = s.order",
                    when_matched_update={"i64": "s.i64"},
                    when_matched_update_condition="s.i64 > 99999999")
        entry = t.log.entries[t.version]
        # files were rewritten (pass-through) but nothing changed:
        # the commit still carries a cdc action so CDF readers don't
        # mis-derive the copy-on-write churn
        if entry.removes:
            assert entry.cdcs
        assert t.change_feed(t.version - 1).count() == 0


class TestIdentityColumns:
    """Writer-v6 identity columns: omitted values generated past the
    high watermark, explicit values gated by allowExplicitInsert,
    watermark re-declared in the commit's metaData so other writers
    never reuse values."""

    @staticmethod
    def _graft_identity(table_dir, start=100, step=10,
                        allow_explicit=False):
        log_file = f"{table_dir}/t/_delta_log/{0:020d}.json"
        lines = []
        for line in open(log_file):
            obj = json.loads(line)
            if "metaData" in obj:
                s = json.loads(obj["metaData"]["schemaString"])
                for f in s["fields"]:
                    if f["name"] == "i64":
                        f["metadata"] = {
                            "delta.identity.start": start,
                            "delta.identity.step": step,
                            "delta.identity.allowExplicitInsert":
                                allow_explicit}
                obj["metaData"]["schemaString"] = json.dumps(s)
            lines.append(json.dumps(obj))
        open(log_file, "w").write("\n".join(lines) + "\n")

    def _fresh(self, spark, tmp_table_dir, **kw):
        t = DeltaTable(spark, f"{tmp_table_dir}/t")
        t = t.write(spark.createDataFrame(gen_pdf(10)))
        self._graft_identity(tmp_table_dir, **kw)
        return DeltaTable(spark, f"{tmp_table_dir}/t")

    def test_generation_grid_watermark_and_no_reuse(self, spark,
                                                    tmp_table_dir):
        t = self._fresh(spark, tmp_table_dir, start=100, step=10)
        t2 = t.write(spark.createDataFrame(
            gen_pdf(10).drop(columns=["i64"])), mode="append")
        # the appended rows' ids: unique, >= start, on the grid
        base = set(r["i64"] for r in t.to_df().collect())
        gen = [r["i64"] for r in t2.to_df().collect()
               if r["i64"] not in base]
        assert len(gen) == 10 and len(set(gen)) == 10
        assert all(v >= 100 and (v - 100) % 10 == 0 for v in gen)
        # watermark persisted in the new metaData
        ids = t2._identity_columns()
        assert ids["i64"]["highWaterMark"] == max(gen)
        # a second append starts past it — no reuse
        t3 = t2.write(spark.createDataFrame(
            gen_pdf(10).drop(columns=["i64"])), mode="append")
        gen2 = [r["i64"] for r in t3.to_df().collect()
                if r["i64"] not in base and r["i64"] not in set(gen)]
        assert len(gen2) == 10
        assert min(gen2) > max(gen)
        assert all((v - 100) % 10 == 0 for v in gen2)

    def test_explicit_insert_gate_and_off_grid_recovery(
            self, spark, tmp_table_dir):
        t = self._fresh(spark, tmp_table_dir, start=100, step=10,
                        allow_explicit=True)
        pdf = gen_pdf(5)
        pdf["i64"] = [1003, 1001, 1002, 1004, 1007]  # off the grid
        t2 = t.write(spark.createDataFrame(pdf), mode="append")
        assert t2._identity_columns()["i64"]["highWaterMark"] == 1007
        # generation resumes ABOVE 1007 and back ON the grid
        t3 = t2.write(spark.createDataFrame(
            gen_pdf(5).drop(columns=["i64"])), mode="append")
        known = set(r["i64"] for r in t2.to_df().collect())
        gen = [r["i64"] for r in t3.to_df().collect()
               if r["i64"] not in known]
        assert all(v > 1007 and (v - 100) % 10 == 0 for v in gen)

    def test_update_set_identity_refused(self, spark, tmp_table_dir):
        t = self._fresh(spark, tmp_table_dir)
        with pytest.raises(ValueError, match="identity"):
            t.update({"i64": "0"})

    def test_merge_insert_generates_identity(self, spark,
                                             tmp_table_dir):
        t = self._fresh(spark, tmp_table_dir, start=50, step=5)
        src = gen_pdf(3).drop(columns=["i64"])
        cols = [c for c in src.columns]
        t2 = t.merge(spark.createDataFrame(src), "t.order = s.order",
                     when_not_matched_insert={
                         c: f"s.{c}" for c in cols})
        base = set(r["i64"] for r in t.to_df().collect())
        gen = [r["i64"] for r in t2.to_df().collect()
               if r["i64"] not in base]
        assert len(gen) == 3 and len(set(gen)) == 3
        assert all(v >= 50 and (v - 50) % 5 == 0 for v in gen)
        assert t2._identity_columns()["i64"]["highWaterMark"] == max(gen)

    def test_identity_base_helper(self):
        from xdlake_spark.table import DeltaTable as DT
        assert DT._identity_base(
            {"start": 100, "step": 10, "highWaterMark": None}) == 100
        assert DT._identity_base(
            {"start": 100, "step": 10, "highWaterMark": 100}) == 110
        assert DT._identity_base(
            {"start": 100, "step": 10, "highWaterMark": 1007}) == 1010
        assert DT._identity_base(
            {"start": 0, "step": -5, "highWaterMark": None}) == 0
        assert DT._identity_base(
            {"start": 0, "step": -5, "highWaterMark": -20}) == -25
        assert DT._identity_base(
            {"start": 0, "step": -5, "highWaterMark": -23}) == -25


class TestInCommitTimestamps:
    """Delta's inCommitTimestamp writer feature: the commitInfo carries
    the table's authoritative monotonic clock."""

    def _mk(self, spark, path):
        return DeltaTable(spark, path).write(spark.range(10))

    def test_enablement_commit_shape(self, spark, tmp_table_dir):
        import json as _json
        import os

        t = self._mk(spark, f"{tmp_table_dir}/t")  # v0
        t = t.set_properties(
            {"delta.enableInCommitTimestamps": "true"})  # v1
        proto = t.log.protocol()
        assert proto.minWriterVersion == 7
        assert "inCommitTimestamp" in proto.extra["writerFeatures"]
        cfg = t.log.metadata().configuration
        assert cfg["delta.inCommitTimestampEnablementVersion"] == "1"
        ict = int(cfg["delta.inCommitTimestampEnablementTimestamp"])

        # the enabling commit file: commitInfo FIRST, carrying the ICT
        log_file = os.path.join(tmp_table_dir, "t", "_delta_log",
                                f"{1:020d}.json")
        first = _json.loads(open(log_file).readline())
        assert "commitInfo" in first
        assert first["commitInfo"]["inCommitTimestamp"] == ict

    def test_monotonic_across_commits(self, spark, tmp_table_dir):
        import json as _json
        import os

        t = self._mk(spark, f"{tmp_table_dir}/t")
        t = t.set_properties({"delta.enableInCommitTimestamps": "true"})
        t = t.write(spark.range(5))   # v2
        t = t.delete("id < 2")  # v3
        icts = []
        for v in (1, 2, 3):
            log_file = os.path.join(tmp_table_dir, "t", "_delta_log",
                                    f"{v:020d}.json")
            first = _json.loads(open(log_file).readline())
            assert "commitInfo" in first, f"v{v} commitInfo not first"
            icts.append(first["commitInfo"]["inCommitTimestamp"])
        assert icts == sorted(icts) and len(set(icts)) == 3

    def test_timestamp_travel_prefers_ict(self, spark, tmp_table_dir):
        import json as _json
        import os

        t = self._mk(spark, f"{tmp_table_dir}/t")
        t = t.set_properties({"delta.enableInCommitTimestamps": "true"})
        t = t.write(spark.range(7))  # v2
        ict2 = t._last_ict()
        # doctor v2's plain timestamp far into the future; ICT stays —
        # a reader keyed on `timestamp` would now miss v2
        log_file = os.path.join(tmp_table_dir, "t", "_delta_log",
                                f"{2:020d}.json")
        lines = [_json.loads(x) for x in open(log_file)]
        for o in lines:
            if "commitInfo" in o:
                o["commitInfo"]["timestamp"] = ict2 + 10 ** 9
        open(log_file, "w").write(
            "\n".join(_json.dumps(o) for o in lines))

        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        assert t2._version_at_timestamp(ict2) == 2
        assert t2.load_as_timestamp(ict2).to_df().count() == 17

    def test_streaming_sink_stamps_ict(self, spark, tmp_table_dir):
        import json as _json
        import os

        t = self._mk(spark, f"{tmp_table_dir}/t")
        t = t.set_properties({"delta.enableInCommitTimestamps": "true"})
        prev = t._last_ict()
        from xdlake_spark.sources.datasource import register
        register(spark)
        src = f"{tmp_table_dir}/src"
        spark.range(4).write.parquet(src)
        q = (spark.readStream.schema("id LONG").parquet(src)
             .writeStream.format("xdlake")
             .option("path", f"{tmp_table_dir}/t")
             .option("checkpointLocation", f"{tmp_table_dir}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        t2 = DeltaTable(spark, f"{tmp_table_dir}/t")
        log_file = os.path.join(
            tmp_table_dir, "t", "_delta_log",
            f"{t2.version:020d}.json")
        first = _json.loads(open(log_file).readline())
        assert "commitInfo" in first
        assert first["commitInfo"]["inCommitTimestamp"] > prev


class TestColumnMappingDDL:
    """enable_column_mapping / rename_column / drop_column — the
    metadata-only ALTERs the Delta column-mapping spec unlocks
    (delta-spark parity; beyond the reference, which has no mapping)."""

    def _mk(self, spark, loc, partition_by=None):
        pdf = pd.DataFrame({"id": [1, 2, 3], "val": [10.0, 20.0, 30.0],
                            "cat": ["a", "b", "a"]})
        return DeltaTable(spark, loc).write(
            spark.createDataFrame(pdf), partition_by=partition_by)

    def test_enable_assigns_ids_and_physical_names(self, spark,
                                                   tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t")
        t = t.enable_column_mapping()
        assert t.column_mapping_mode == "name"
        metas = {f.name: f.metadata for f in t.schema.fields}
        assert [metas[n]["delta.columnMapping.id"]
                for n in ("id", "val", "cat")] == [1, 2, 3]
        # upgrade keeps physical = logical so old files still resolve
        assert all(metas[n]["delta.columnMapping.physicalName"] == n
                   for n in metas)
        cfg = t.describe_detail()["properties"]
        assert cfg["delta.columnMapping.maxColumnId"] == "3"
        # protocol now declares the feature both sides
        proto = t.log.protocol()
        assert "columnMapping" in (proto.extra or {}).get(
            "writerFeatures", [])
        # pre-upgrade data still reads
        assert sorted(r["id"] for r in t.to_df().collect()) == [1, 2, 3]

    def test_enable_idempotent_and_id_mode_guard(self, spark,
                                                 tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t")
        t = t.enable_column_mapping()
        v = t.version
        assert t.enable_column_mapping().version == v  # no-op commit
        with pytest.raises(NotImplementedError):
            t.enable_column_mapping("id")  # mode switch
        t2 = self._mk(spark, f"{tmp_table_dir}/t2")
        with pytest.raises(NotImplementedError):
            t2.enable_column_mapping("id")  # has data files

    def test_rename_is_metadata_only_and_reads_back(self, spark,
                                                    tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t").enable_column_mapping()
        files_before = sorted(t.adds)
        t = t.rename_column("val", "amount")
        assert sorted(t.adds) == files_before  # no data rewritten
        got = {r["id"]: r["amount"] for r in t.to_df().collect()}
        assert got == {1: 10.0, 2: 20.0, 3: 30.0}
        # physical identity preserved
        f = next(f for f in t.schema.fields if f.name == "amount")
        assert f.metadata["delta.columnMapping.physicalName"] == "val"
        # time travel still shows the old name
        old = t.load_as_version(t.version - 1)
        assert "val" in old.to_df().columns

    def test_rename_partition_column(self, spark, tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t", partition_by=["cat"])
        t = t.enable_column_mapping().rename_column("cat", "category")
        assert t.partition_columns == ["category"]
        got = t.to_df().groupBy("category").count().collect()
        assert {r["category"]: r["count"] for r in got} == {"a": 2, "b": 1}

    def test_drop_column_and_id_burning(self, spark, tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t").enable_column_mapping()
        t = t.drop_column("val")
        assert [f.name for f in t.schema.fields] == ["id", "cat"]
        assert "val" not in t.to_df().columns
        # re-adding the same name gets a FRESH physical identity:
        # old bytes must not resurrect
        t = t.add_columns({"val": "double"})
        f = next(f for f in t.schema.fields if f.name == "val")
        assert f.metadata["delta.columnMapping.id"] == 4
        assert f.metadata["delta.columnMapping.physicalName"] \
            .startswith("col-")
        assert t.describe_detail()["properties"][
            "delta.columnMapping.maxColumnId"] == "4"
        vals = [r["val"] for r in t.to_df().collect()]
        assert vals == [None, None, None]

    def test_write_after_rename_and_add(self, spark, tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t").enable_column_mapping()
        t = t.rename_column("val", "amount")
        pdf = pd.DataFrame({"id": [4], "amount": [40.0], "cat": ["c"]})
        t = t.write(spark.createDataFrame(pdf))
        got = {r["id"]: r["amount"] for r in t.to_df().collect()}
        assert got == {1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0}

    def test_guards(self, spark, tmp_table_dir):
        t = self._mk(spark, f"{tmp_table_dir}/t", partition_by=["cat"])
        with pytest.raises(NotImplementedError):
            t.rename_column("val", "x")  # mapping not enabled
        with pytest.raises(NotImplementedError):
            t.drop_column("val")
        t = t.enable_column_mapping()
        with pytest.raises(ValueError):
            t.rename_column("nope", "x")
        with pytest.raises(ValueError):
            t.rename_column("val", "id")  # target exists
        with pytest.raises(ValueError):
            t.drop_column("cat")  # partition column
        t = t.add_constraint("positive", "val > 0")
        with pytest.raises(ValueError):
            t.rename_column("val", "x")  # constraint references it
        with pytest.raises(ValueError):
            t.drop_column("val")


class TestDescribeDetail:
    def test_detail_fields(self, spark, tmp_table_dir, lineitem):
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(100), partition_by=["l_returnflag"])
        t = t.set_properties({"k": "v"})
        d = t.detail().collect()[0]
        assert d["format"] == "delta"
        assert d["partitionColumns"] == ["l_returnflag"]
        assert d["numFiles"] == len(t.adds)
        assert d["sizeInBytes"] == sum(
            a.size for a in t.adds.values())
        assert d["minReaderVersion"] >= 1
        assert json.loads(d["properties"]).get("k") == "v"
        assert d["lastModified"] is not None


class TestDataSkippingStatsProperties:
    """delta.dataSkippingStatsColumns / dataSkippingNumIndexedCols:
    new adds carry min/max/nullCount only for the configured columns
    (numRecords always kept — metadata-only COUNT/DELETE depend on
    it); pre-existing adds keep their stats; skipping still prunes on
    a kept column."""

    def test_explicit_stats_columns(self, spark, tmp_table_dir,
                                    lineitem):
        t = DeltaTable(spark, tmp_table_dir).write(lineitem.limit(50))
        t = t.set_properties({"delta.dataSkippingStatsColumns":
                              "l_orderkey, l_quantity"})
        t = t.write(lineitem.limit(50).withColumn(
            "l_orderkey", F.col("l_orderkey") + 10_000_000),
            mode="append")
        stats = {a.path: json.loads(a.stats) for a in t.adds.values()}
        wide = [s for s in stats.values()
                if "l_extendedprice" in s["minValues"]]
        narrow = [s for s in stats.values()
                  if set(s["minValues"]) <= {"l_orderkey",
                                             "l_quantity"}]
        assert wide and narrow           # old files keep, new restrict
        assert all(s["numRecords"] > 0 for s in stats.values())
        # pruning on the kept column still skips the old-key files
        pruned = t.to_df(where="l_orderkey >= 10000000").inputFiles()
        assert len(pruned) < len(t.adds)
        # correctness unchanged
        assert t.to_df(where="l_orderkey >= 10000000").count() == 50

    def test_num_indexed_cols(self, spark, tmp_table_dir, lineitem):
        t = DeltaTable(spark, tmp_table_dir).write(lineitem.limit(10))
        t = t.set_properties(
            {"delta.dataSkippingNumIndexedCols": "2"})
        t = t.write(lineitem.limit(10), mode="append")
        newest = json.loads(
            t.adds[sorted(t.adds)[-1]].stats)
        first_two = t.schema.fieldNames()[:2]
        assert set(newest["minValues"]) <= set(first_two)
        # -1 = all columns again
        t = t.set_properties(
            {"delta.dataSkippingNumIndexedCols": "-1"})
        t = t.write(lineitem.limit(10), mode="append")
        newest = json.loads(t.adds[sorted(t.adds)[-1]].stats)
        assert "l_extendedprice" in newest["minValues"]


class TestReplaceWhere:
    """replaceWhere selective overwrite (write(replace_where=) — the
    delta-spark option, r9): predicate-scoped removal (metadata-only
    for partition-proved files), survivor rewrite for mixed files, new
    data in the same atomic commit, conformance check before any file
    lands."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "id long, cat string, v double")

    def test_partition_scoped_replace(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(i, "abc"[i % 3], float(i))
                             for i in range(30)]),
            partition_by=["cat"])
        untouched = {p for p, a in t.adds.items()
                     if a.partitionValues.get("cat") != "a"}
        t = t.write(self._df(spark, [(100 + i, "a", -1.0)
                                     for i in range(5)]),
                    mode="overwrite", replace_where="cat = 'a'")
        got = sorted(r.id for r in t.to_df(where="cat = 'a'").collect())
        assert got == [100, 101, 102, 103, 104]
        assert t.to_df(where="cat != 'a'").count() == 20
        # non-replaced partitions' files are byte-identical (no rewrite)
        assert untouched <= set(t.adds)
        h = next(iter(t.history()))
        assert h["operation"] == "WRITE"
        assert h["operationParameters"]["predicate"] == "cat = 'a'"
        # time travel still sees the pre-replace state
        assert t.load_as_version(0).count() == 30

    def test_mixed_file_survivors_kept(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(i, "x", float(i)) for i in range(20)]))
        t = t.write(self._df(spark, [(900, "x", 99.0)]),
                    mode="overwrite", replace_where="v >= 10")
        ids = sorted(r.id for r in t.to_df().collect())
        assert ids == list(range(10)) + [900]

    def test_conformance_violation_raises_before_commit(
            self, spark, tmp_table_dir):
        # enforcement is row-level INSIDE the write job (assert_true,
        # like delta-spark) so even a non-deterministic source cannot
        # pass a pre-check and then write violating rows; the failed
        # job aborts before any commit and stages no litter
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(1, "a", 1.0)]))
        v = t.version
        with pytest.raises(Exception, match="replaceWhere"):
            t.write(self._df(spark, [(2, "b", 2.0)]),
                    mode="overwrite", replace_where="cat = 'a'")
        assert DeltaTable(spark, tmp_table_dir).version == v
        # no staged or orphaned parquet litter from the failed write
        import os
        litter = [p for p in os.listdir(tmp_table_dir)
                  if p.startswith("_staging")]
        assert litter == []
        with pytest.raises(ValueError, match="overwrite"):
            t.write(self._df(spark, [(2, "a", 2.0)]),
                    mode="append", replace_where="cat = 'a'")

    def test_no_match_predicate_just_appends_new(self, spark,
                                                 tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
        t = t.write(self._df(spark, [(3, "c", 3.0)]),
                    mode="overwrite", replace_where="cat = 'c'")
        assert sorted(r.id for r in t.to_df().collect()) == [1, 2, 3]


class TestDynamicPartitionOverwrite:
    """partition_overwrite_mode='dynamic' (Spark's
    partitionOverwriteMode, r9): overwrite exactly the partitions the
    written data lands in — manifest-level removes, no predicate."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "id long, cat string, v double")

    def test_replaces_only_touched_partitions(self, spark,
                                              tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(i, "abc"[i % 3], float(i))
                             for i in range(30)]),
            partition_by=["cat"])
        keep_c = {p for p, a in t.adds.items()
                  if a.partitionValues.get("cat") == "c"}
        t = t.write(self._df(spark, [(100, "a", 1.0), (200, "b", 2.0)]),
                    mode="overwrite", partition_overwrite_mode="dynamic")
        ids = sorted(r.id for r in t.to_df().collect())
        c_ids = [i for i in range(30) if "abc"[i % 3] == "c"]
        assert ids == sorted(c_ids + [100, 200])
        assert keep_c <= set(t.adds)          # untouched files survive
        h = next(iter(t.history()))
        assert h["operationParameters"].get(
            "partitionOverwriteMode") == "dynamic"
        assert t.load_as_version(0).count() == 30

    def test_unpartitioned_degrades_to_full_overwrite(
            self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
        t = t.write(self._df(spark, [(9, "z", 9.0)]),
                    mode="overwrite", partition_overwrite_mode="dynamic")
        assert sorted(r.id for r in t.to_df().collect()) == [9]

    def test_mutually_exclusive_and_mode_gated(self, spark,
                                               tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            self._df(spark, [(1, "a", 1.0)]))
        with pytest.raises(ValueError, match="mutually exclusive"):
            t.write(self._df(spark, [(2, "a", 2.0)]), mode="overwrite",
                    replace_where="cat = 'a'",
                    partition_overwrite_mode="dynamic")
        with pytest.raises(ValueError, match="dynamic"):
            t.write(self._df(spark, [(2, "a", 2.0)]), mode="append",
                    partition_overwrite_mode="dynamic")


class TestConvertToDelta:
    """CONVERT TO DELTA (DeltaTable.convert_to_delta, r9): in-place
    conversion of a hive-partitioned parquet directory — relative
    adds, footer stats, Spark-inferred partition types; the converted
    table supports the full lifecycle and refuses double conversion.
    Contrast import_refs (absolute-path zero-copy references)."""

    def test_convert_partitioned_dir(self, spark, tmp_path, lineitem):
        raw = str(tmp_path / "raw")
        li = lineitem.select("l_orderkey", "l_returnflag",
                             "l_quantity").limit(200)
        li.write.partitionBy("l_returnflag").parquet(raw)
        t = DeltaTable.convert_to_delta(spark, raw)
        assert t.version == 0
        assert t.count() == 200
        assert t.partition_columns == ["l_returnflag"]
        assert next(iter(t.history()))["operation"] == "CONVERT"
        assert all(not a.path.startswith("file:")
                   for a in t.adds.values())      # relative adds
        assert all(a.stats for a in t.adds.values())
        # pruning + lifecycle on the converted table
        assert len(t.to_df(where="l_returnflag = 'R'")
                   .inputFiles()) < len(t.adds)
        t = t.delete("l_quantity > 40")
        assert DeltaTable(spark, raw).count() == t.count()
        with pytest.raises(ValueError, match="already has"):
            DeltaTable.convert_to_delta(spark, raw)

    def test_convert_flat_dir_and_values_match(self, spark, tmp_path,
                                               lineitem):
        raw = str(tmp_path / "flat")
        li = lineitem.select("l_orderkey", "l_quantity").limit(100)
        li.write.parquet(raw)
        t = DeltaTable.convert_to_delta(spark, raw)
        assert t.partition_columns == []
        got = sorted((r.l_orderkey, r.l_quantity)
                     for r in t.to_df().collect())
        want = sorted((r.l_orderkey, r.l_quantity)
                      for r in li.collect())
        assert got == want

    def test_convert_empty_dir_refused(self, spark, tmp_path):
        import os
        d = str(tmp_path / "empty")
        os.makedirs(d)
        with pytest.raises(ValueError, match="no parquet"):
            DeltaTable.convert_to_delta(spark, d)


class TestOverwriteMetadataPreserved:
    """Data-replacing commits must keep the table IDENTITY — id,
    configuration, createdTime (r9 review): a fresh TableMetadata
    would mint a new uuid and wipe every table property, silently
    disabling CDF/column-mapping/ICT."""

    def _seeded(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame([(1, "a")], "id long, cat string"))
        return t.set_properties({"custom.x": "1",
                                 "delta.appendOnly": "false"})

    def _check(self, t, before):
        md = t.log.metadata()
        assert md.id == before.id
        assert md.configuration.get("custom.x") == "1"
        assert md.createdTime == before.createdTime

    def test_plain_overwrite(self, spark, tmp_table_dir):
        t = self._seeded(spark, tmp_table_dir)
        before = t.log.metadata()
        t = t.write(spark.createDataFrame([(2, "b")],
                                          "id long, cat string"),
                    mode="overwrite")
        self._check(t, before)

    def test_replace_where(self, spark, tmp_table_dir):
        t = self._seeded(spark, tmp_table_dir)
        before = t.log.metadata()
        t = t.write(spark.createDataFrame([(3, "a")],
                                          "id long, cat string"),
                    mode="overwrite", replace_where="cat = 'a'")
        self._check(t, before)

    def test_dynamic_overwrite(self, spark, tmp_table_dir):
        t = self._seeded(spark, tmp_table_dir)
        before = t.log.metadata()
        t = t.write(spark.createDataFrame([(3, "a")],
                                          "id long, cat string"),
                    mode="overwrite",
                    partition_overwrite_mode="dynamic")
        self._check(t, before)


class TestReplaceWhereCdf:
    def test_cdf_records_deletes_and_inserts_only(self, spark,
                                                  tmp_table_dir):
        """On a CDF table, replaceWhere writes cdc actions: deletes
        for the replaced rows, inserts for the new data — survivor
        rows must NOT appear as spurious delete+insert churn
        (r9 review)."""
        df = spark.createDataFrame(
            [(i, "ab"[i % 2], float(i)) for i in range(10)],
            "id long, cat string, v double")
        t = DeltaTable(spark, tmp_table_dir).write(df)       # v0
        t = t.set_properties(
            {"delta.enableChangeDataFeed": "true"})          # v1
        new = spark.createDataFrame([(100, "a", -1.0)],
                                    "id long, cat string, v double")
        t = t.write(new, mode="overwrite",
                    replace_where="cat = 'a'")               # v2
        cf = t.change_feed(1, 2)
        rows = [(r.id, r._change_type) for r in cf.collect()]
        a_ids = {i for i in range(10) if "ab"[i % 2] == "a"}
        assert set(rows) == {(i, "delete") for i in a_ids} \
            | {(100, "insert")}
        # survivors ('b' rows) emit nothing
        assert all(i not in {r[0] for r in rows}
                   for i in range(10) if "ab"[i % 2] == "b")
        # table state correct too
        got = {r.id for r in t.to_df().collect()}
        assert got == {100} | {i for i in range(10)
                               if "ab"[i % 2] == "b"}


class TestConvertPartitionOrder:
    def test_nested_order_preserved(self, spark, tmp_path, lineitem):
        """partitionColumns must record the DIRECTORY NESTING order,
        not alphabetical (r9 review): a month=/year= inversion would
        corrupt every later write's layout."""
        raw = str(tmp_path / "raw")
        df = spark.createDataFrame(
            [(i, 2024, 5 + i % 2) for i in range(20)],
            "id long, year int, month int")
        # 'year' > 'month' alphabetically — ordering bug would flip
        df.write.partitionBy("year", "month").parquet(raw)
        t = DeltaTable.convert_to_delta(spark, raw)
        assert t.partition_columns == ["year", "month"]
        assert t.count() == 20
        # later writes follow the same layout
        t = t.write(spark.createDataFrame([(99, 2025, 1)],
                                          "id long, year int, month int"),
                    mode="append")
        assert t.to_df(where="year = 2025").count() == 1


class TestWriteTxn:
    def test_write_txn_idempotence(self, spark, tmp_table_dir):
        """write(txn=(app, version)) — delta-spark's txnAppId/
        txnVersion as a public API parameter (r9): the watermark
        commits atomically, a replay is a pure no-op, a later version
        applies."""
        df = spark.createDataFrame([(1,), (2,)], "id long")
        t = DeltaTable(spark, tmp_table_dir).write(
            df, txn=("job-a", 1))
        assert t.count() == 2 and t.txn_version("job-a") == 1
        v = t.version
        t2 = t.write(df, txn=("job-a", 1))      # replay: no-op
        assert t2.version == v and t2.count() == 2
        t3 = t2.write(df, txn=("job-a", 2))
        assert t3.count() == 4 and t3.txn_version("job-a") == 2
        # and through overwrite too
        t4 = t3.write(df, mode="overwrite", txn=("job-a", 3))
        assert t4.count() == 2 and t4.txn_version("job-a") == 3
        assert t4.write(df, mode="overwrite",
                        txn=("job-a", 3)).version == t4.version


class TestGenerateSymlinkManifest:
    """GENERATE symlink_format_manifest (r9 — delta-spark parity):
    per-partition text manifests of absolute live-file URIs for
    Presto/Trino/Athena SymlinkTextInputFormat readers; regeneration
    drops stale partitions; DV tables refuse (the foreign engine
    would resurrect deleted rows)."""

    def test_manifests_match_live_set(self, spark, tmp_table_dir):
        import os
        df = spark.createDataFrame(
            [(i, "ab"[i % 2]) for i in range(10)],
            "id long, cat string")
        t = DeltaTable(spark, tmp_table_dir).write(
            df, partition_by=["cat"])
        t = t.generate()
        mdir = f"{tmp_table_dir}/_symlink_format_manifest"
        for part in ("cat=a", "cat=b"):
            uris = open(f"{mdir}/{part}/manifest").read().split()
            want = sorted(
                t.location.absloc(a.path).url
                for a in t.adds.values()
                if a.partitionValues.get("cat") == part[-1])
            assert uris == want
        # the foreign-engine contract: reading the manifest's files
        # directly reproduces the partition exactly
        import duckdb
        paths = [u.replace("file://", "") for u in
                 open(f"{mdir}/cat=b/manifest").read().split()]
        n = duckdb.sql("SELECT count(*) FROM read_parquet("
                       f"{paths!r})").fetchone()[0]
        assert n == t.to_df(where="cat = 'b'").count()
        # stale partitions drop on regeneration
        t = t.delete("cat = 'a'")
        t = t.generate()
        assert not os.path.exists(f"{mdir}/cat=a/manifest")
        assert os.path.exists(f"{mdir}/cat=b/manifest")

    def test_unpartitioned_single_manifest(self, spark,
                                           tmp_table_dir):
        import os
        t = DeltaTable(spark, tmp_table_dir).write(spark.range(5))
        t.generate()
        p = f"{tmp_table_dir}/_symlink_format_manifest/manifest"
        assert os.path.exists(p)
        assert len(open(p).read().split()) == len(t.adds)

    def test_dv_table_refused(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(spark.range(50))
        t = t.delete("id % 5 = 0", mode="merge-on-read")
        with pytest.raises(ValueError, match="deletion vector"):
            t.generate()
        with pytest.raises(ValueError, match="unsupported"):
            t.generate("incremental")

    def test_hive_path_escaping_and_stale_dirs(self, spark,
                                               tmp_table_dir):
        """Partition dirs use Hive's escapePathName (space literal,
        '/', '%', '=' escaped); stale partition DIRECTORIES vanish on
        regeneration (r9 review)."""
        import os
        df = spark.createDataFrame(
            [(1, "a b"), (2, "x/y"), (3, "plain")],
            "id long, cat string")
        t = DeltaTable(spark, tmp_table_dir).write(
            df, partition_by=["cat"])
        t = t.generate()
        mdir = f"{tmp_table_dir}/_symlink_format_manifest"
        dirs = set(os.listdir(mdir))
        assert "cat=a b" in dirs          # space stays literal
        assert "cat=x%2Fy" in dirs        # slash escapes
        assert "cat=plain" in dirs
        t = t.delete("cat = 'plain'")
        t.generate()
        assert "cat=plain" not in set(os.listdir(mdir))

    def test_retry_rechecks_txn_after_lost_race(self, spark,
                                                tmp_table_dir):
        """A retryable append that loses the OCC race to a CONCURRENT
        replay of the same txn must no-op on reload, not double-apply
        (r9 review)."""
        df = spark.createDataFrame([(1,), (2,)], "id long")
        t = DeltaTable(spark, tmp_table_dir).write(spark.range(0))
        a = DeltaTable(spark, tmp_table_dir)   # two stale handles
        b = DeltaTable(spark, tmp_table_dir)
        a.write(df, txn=("job", 7))            # wins the race
        out = b.write(df, txn=("job", 7), max_commit_retries=3)
        assert out.count() == 2                # not 4
        assert out.txn_version("job") == 7
        # the loser's already-staged parquet files must be DELETED —
        # no log entry references them, and vacuum only reclaims
        # tombstoned paths, so they would otherwise leak forever
        # (ADVICE r9)
        import os
        on_disk = set()
        for root, _dirs, names in os.walk(tmp_table_dir):
            if "_delta_log" in root:
                continue
            for n in names:
                if n.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, n),
                                          tmp_table_dir)
                    on_disk.add(rel.replace(os.sep, "/"))
        referenced = set(out.adds)
        for v in out.log.entries.values():
            referenced.update(ad.path for ad in v.adds)
            referenced.update(rm.path for rm in v.removes)
        assert on_disk <= referenced, \
            f"orphaned data files: {sorted(on_disk - referenced)}"

    def test_empty_txn_append_records_watermark(self, spark,
                                                tmp_table_dir):
        """An EMPTY write with txn still commits the watermark (the
        orchestrator's 'version applied' signal must not depend on
        the batch being non-empty)."""
        t = DeltaTable(spark, tmp_table_dir).write(spark.range(3))
        t = t.write(spark.range(0), txn=("job", 1))
        assert t.txn_version("job") == 1
        assert t.count() == 3


class TestShowPartitions:
    """partitions() (r10): SHOW PARTITIONS + per-partition file stats
    as a zero-job manifest fold."""

    def test_counts_and_types(self, spark, lineitem, tmp_table_dir):
        from pyspark.sql import functions as F
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem, partition_by=["l_returnflag"])
        rows = {r["l_returnflag"]: r for r in t.partitions().collect()}
        want = {r["l_returnflag"]: r["n"] for r in
                lineitem.groupBy("l_returnflag")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert set(rows) == set(want)
        for k, r in rows.items():
            assert r["num_rows"] == want[k]
            assert r["num_files"] >= 1
            assert r["total_bytes"] > 0

    def test_typed_partition_values(self, spark, lineitem,
                                    tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(500), partition_by=["l_linenumber"])
        out = t.partitions()
        assert dict(out.dtypes)["l_linenumber"] in ("int", "bigint")
        assert sum(r["num_rows"] for r in out.collect()) == 500

    def test_tracks_partition_delete(self, spark, lineitem,
                                     tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(1000), partition_by=["l_returnflag"])
        t = t.delete("l_returnflag = 'A'")
        flags = {r["l_returnflag"] for r in t.partitions().collect()}
        assert "A" not in flags and flags

    def test_unpartitioned_raises(self, spark, lineitem,
                                  tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(lineitem.limit(10))
        with pytest.raises(ValueError, match="not partitioned"):
            t.partitions()


class TestRecomputeStats:
    """recompute_stats() (r10) — ANALYZE TABLE COMPUTE DELTA
    STATISTICS parity: stats-less adds gain footer statistics through
    one Spark aggregation and a dataChange=False re-add commit."""

    def _strip_stats(self, loc):
        """Simulate a foreign stats-less writer: drop stats from every
        add in the log."""
        import json as _json
        log_dir = os.path.join(loc, "_delta_log")
        for name in os.listdir(log_dir):
            if not name.endswith(".json"):
                continue
            path = os.path.join(log_dir, name)
            out = []
            for line in open(path):
                obj = _json.loads(line)
                if "add" in obj:
                    obj["add"].pop("stats", None)
                out.append(_json.dumps(obj))
            open(path, "w").write("\n".join(out) + "\n")

    def test_fills_missing_stats_and_restores_skipping(
            self, spark, lineitem, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(2000).repartition(4))
        self._strip_stats(tmp_table_dir)
        t = DeltaTable(spark, tmp_table_dir)
        assert all(a.stats is None for a in t.adds.values())
        t2 = t.recompute_stats()
        assert t2.version == t.version + 1
        assert all(a.stats is not None for a in t2.adds.values())
        import json as _json
        st = _json.loads(next(iter(t2.adds.values())).stats)
        assert {"numRecords", "minValues", "maxValues",
                "nullCount"} <= set(st)
        # skipping prunes on the recomputed stats: an impossible
        # predicate now eliminates every file driver-side
        from xdlake_spark.plans.skipping import prune_manifest
        pruned = prune_manifest(t2.adds, "l_quantity > 1000000",
                                t2.partition_columns,
                                t2._partition_types())
        assert len(pruned) == 0
        # and the scan is unchanged
        assert t2.to_df().count() == 2000

    def test_physical_row_counts_match(self, spark, lineitem,
                                       tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(lineitem.limit(500))
        import json as _json
        want = {a.path: _json.loads(a.stats)["numRecords"]
                for a in t.adds.values()}
        self._strip_stats(tmp_table_dir)
        t2 = DeltaTable(spark, tmp_table_dir).recompute_stats()
        got = {a.path: _json.loads(a.stats)["numRecords"]
               for a in t2.adds.values()}
        assert got == want

    def test_all_files_mode_and_noop(self, spark, lineitem,
                                     tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(lineitem.limit(100))
        assert t.recompute_stats() is t        # nothing missing
        t2 = t.recompute_stats(all_files=True)
        assert t2.version == t.version + 1
        hist = next(iter(t2.history()))
        assert hist["operation"] == "COMPUTE STATISTICS"
        # dataChange=False re-adds: CDF-style append feed sees nothing
        assert t2.table_changes(t.version).count() == 0
        assert t2.verify_checksum() == []

    def test_partitioned_table(self, spark, lineitem, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(1000), partition_by=["l_returnflag"])
        self._strip_stats(tmp_table_dir)
        t2 = DeltaTable(spark, tmp_table_dir).recompute_stats()
        assert all(a.stats is not None for a in t2.adds.values())
        assert t2.to_df(where="l_returnflag = 'A'").count() == \
            t.to_df(where="l_returnflag = 'A'").count()


class TestMetadataOnlyJobCounts:
    """Round-10 metadata ops must stay job-free on the driver:
    partitions() and verify_checksum() run zero Spark jobs."""

    def test_partitions_is_zero_jobs(self, spark, lineitem,
                                     tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(500), partition_by=["l_returnflag"])
        # building the DataFrame must not scan anything; collecting
        # it runs exactly the local-relation job Spark charges for
        # createDataFrame, never a table read
        df, jobs = jobs_during(
            spark, "show-partitions-probe", t.partitions)
        assert jobs == [], jobs

    def test_verify_checksum_is_zero_jobs(self, spark, lineitem,
                                          tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(lineitem.limit(200))
        out, jobs = jobs_during(
            spark, "verify-checksum-probe", t.verify_checksum)
        assert out == [] and jobs == [], (out, jobs)


class TestRecomputeStatsConcurrency:
    def test_lost_race_recomputes_instead_of_rebasing(
            self, spark, lineitem, tmp_table_dir):
        """A concurrent commit between snapshot and COMPUTE STATISTICS
        must NOT resurrect files: the op re-reads and recomputes
        against the fresh snapshot (here the concurrent winner is a
        metadata-only partition delete — the case the generic rebase
        check cannot see)."""
        import json as _json
        import os as _os
        t = DeltaTable(spark, tmp_table_dir).write(
            lineitem.limit(1000), partition_by=["l_returnflag"])
        # strip stats so there is something to recompute
        log_dir = _os.path.join(tmp_table_dir, "_delta_log")
        for name in _os.listdir(log_dir):
            if name.endswith(".json"):
                path = _os.path.join(log_dir, name)
                out = []
                for line in open(path):
                    obj = _json.loads(line)
                    if "add" in obj:
                        obj["add"].pop("stats", None)
                    out.append(_json.dumps(obj))
                open(path, "w").write("\n".join(out) + "\n")
        stale = DeltaTable(spark, tmp_table_dir)   # snapshot at v0
        # concurrent winner: metadata-only partition delete of 'A'
        DeltaTable(spark, tmp_table_dir).delete("l_returnflag = 'A'")
        t2 = stale.recompute_stats()               # loses the race
        assert t2.version == 2
        flags = {a.partitionValues.get("l_returnflag")
                 for a in t2.adds.values()}
        assert "A" not in flags                    # NOT resurrected
        assert all(a.stats is not None for a in t2.adds.values())
        assert t2.to_df(where="l_returnflag = 'A'").count() == 0


class TestCdfTimestampBounds:
    """r12 (delta-spark parity): change_feed/table_changes accept
    startingTimestamp/endingTimestamp bounds resolved against the
    commit clock (ICT-aware), and the feed carries _commit_timestamp
    alongside _commit_version."""

    def test_commit_timestamp_column(self, spark, tmp_table_dir):
        pdf = gen_pdf(20)
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.createDataFrame(pdf))
        t = t.write(spark.createDataFrame(gen_pdf(5)), mode="append")
        feed = t.change_feed(-1).toPandas()
        assert "_commit_timestamp" in feed.columns
        by_v = feed.groupby("_commit_version")["_commit_timestamp"]
        # one timestamp per version, matching the history clock
        assert (by_v.nunique() == 1).all()
        hist = {h["version"]:
                h.get("inCommitTimestamp", h.get("timestamp"))
                for h in t.history()}
        for v, ts in by_v.first().items():
            assert int(ts.timestamp() * 1000) == int(hist[v])

    def test_timestamp_bounds_select_versions(self, spark,
                                              tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.createDataFrame(gen_pdf(10)))          # v0
        t = t.write(spark.createDataFrame(gen_pdf(3)),
                    mode="append")                       # v1
        t = t.write(spark.createDataFrame(gen_pdf(4)),
                    mode="append")                       # v2
        hist = {h["version"]:
                int(h.get("inCommitTimestamp", h.get("timestamp")))
                for h in t.history()}
        # starting at exactly v1's commit time includes v1 onward
        feed = t.change_feed(starting_timestamp=hist[1]).toPandas()
        assert set(feed["_commit_version"]) == {1, 2}
        assert len(feed) == 7
        # ending at v1's time stops there
        feed = t.change_feed(starting_timestamp=hist[0],
                             ending_timestamp=hist[1]).toPandas()
        assert set(feed["_commit_version"]) == {0, 1}
        # table_changes takes the same bounds
        got = t.table_changes(starting_timestamp=hist[2]).count()
        assert got == 4
        # a start after every commit raises (nothing at or after)
        import pytest
        with pytest.raises(ValueError, match="at or after"):
            t.change_feed(starting_timestamp=hist[2] + 10_000)

    def test_bound_validation(self, spark, tmp_table_dir):
        t = DeltaTable(spark, f"{tmp_table_dir}/t").write(
            spark.createDataFrame(gen_pdf(5)))
        import pytest
        with pytest.raises(ValueError, match="not both"):
            t.change_feed(0, starting_timestamp=0)
        with pytest.raises(ValueError, match="not both"):
            t.change_feed(-1, 0, ending_timestamp=0)
        with pytest.raises(ValueError, match="needs start_version"):
            t.change_feed()
        with pytest.raises(ValueError, match="needs start_version"):
            t.table_changes()


class TestCloneVersionAsOf:
    """r12 (delta-spark CLONE source VERSION AS OF n): cloning a
    time-traveled handle clones AT that version — shallow copies
    history up to the pin, deep snapshots the pinned live set."""

    def test_shallow_clone_of_pinned_version(self, spark,
                                             tmp_table_dir):
        pdf = gen_pdf(10)
        t = DeltaTable(spark, f"{tmp_table_dir}/src").write(
            spark.createDataFrame(pdf))                    # v0
        t = t.write(spark.createDataFrame(gen_pdf(5)),
                    mode="append")                         # v1
        t = t.delete("i64 > 0")                            # v2
        pinned = DeltaTable(spark, f"{tmp_table_dir}/src", version=1)
        c = pinned.clone(f"{tmp_table_dir}/c1")
        assert c.version == 1                  # history stops at the pin
        assert c.to_df().count() == 15         # pre-delete state
        # the source head is unaffected and differs
        assert DeltaTable(spark, f"{tmp_table_dir}/src").version == 2
        # unpinned clone still carries the whole history
        full = t.clone(f"{tmp_table_dir}/c2")
        assert full.version == 2
        assert full.to_df().count() == t.to_df().count()

    def test_deep_clone_of_pinned_version(self, spark, tmp_table_dir):
        pdf = gen_pdf(8)
        t = DeltaTable(spark, f"{tmp_table_dir}/src").write(
            spark.createDataFrame(pdf))                    # v0
        t = t.write(spark.createDataFrame(gen_pdf(4)),
                    mode="append")                         # v1
        pinned = DeltaTable(spark, f"{tmp_table_dir}/src", version=0)
        c = pinned.clone(f"{tmp_table_dir}/d", deep=True)
        assert c.version == 0
        assert c.to_df().count() == 8          # v0 snapshot only
