"""Metadata-only DELETE: partition-predicate deletes tombstone files
straight from the manifest — zero Spark jobs (plans/skipping.py
split_certain_matches + table.py delete fast path)."""

import json

import pytest

from xdlake_spark import DeltaTable
from xdlake_spark.plans.skipping import split_certain_matches

from .utils import gen_pdf, jobs_during


class TestSplitCertain:
    """Driver-side proof logic, no Spark needed."""

    def _adds(self, spark, tmp_path, partition_by=("cats",)):
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(gen_pdf(60)),
                    partition_by=list(partition_by))
        return t

    def test_equality_on_partition_column(self, spark, tmp_path):
        t = self._adds(spark, tmp_path)
        certain, rest = split_certain_matches(
            t.adds, "cats = 'S'", t.partition_columns,
            t._partition_types())
        assert certain and rest
        assert all(a.partitionValues["cats"] == "S"
                   for a in certain.values())
        assert all(a.partitionValues["cats"] != "S"
                   for a in rest.values())

    def test_in_not_in_and_or(self, spark, tmp_path):
        t = self._adds(spark, tmp_path)
        c, _ = split_certain_matches(t.adds, "cats IN ('S', 'A')",
                                     t.partition_columns,
                                     t._partition_types())
        assert {a.partitionValues["cats"] for a in c.values()} == \
            {"S", "A"}
        c, _ = split_certain_matches(t.adds, "cats NOT IN ('S')",
                                     t.partition_columns,
                                     t._partition_types())
        assert {a.partitionValues["cats"] for a in c.values()} == \
            {"A", "D"}
        c, _ = split_certain_matches(
            t.adds, "cats = 'S' OR cats = 'D'", t.partition_columns,
            t._partition_types())
        assert {a.partitionValues["cats"] for a in c.values()} == \
            {"S", "D"}
        c, _ = split_certain_matches(
            t.adds, "cats = 'S' AND cats = 'D'", t.partition_columns,
            t._partition_types())
        assert not c

    def test_non_partition_column_never_certain(self, spark, tmp_path):
        t = self._adds(spark, tmp_path)
        c, rest = split_certain_matches(t.adds, "i64 > -100000",
                                        t.partition_columns,
                                        t._partition_types())
        assert not c and len(rest) == len(t.adds)
        # mixed: the partition conjunct alone cannot prove the AND
        c, _ = split_certain_matches(
            t.adds, "cats = 'S' AND i64 > 0", t.partition_columns,
            t._partition_types())
        assert not c

    def test_unparseable_degrades_to_no_fast_path(self, spark,
                                                  tmp_path):
        t = self._adds(spark, tmp_path)
        c, rest = split_certain_matches(
            t.adds, "substr(cats, 1, 1) = 'S'", t.partition_columns,
            t._partition_types())
        assert not c and len(rest) == len(t.adds)

    def test_null_partition_value_kleene(self, spark, tmp_path):
        import pandas as pd
        pdf = gen_pdf(30)
        pdf.loc[:9, "cats"] = None
        t = DeltaTable(spark, str(tmp_path / "tn"))
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        # col != 'S' is SQL NULL on the null partition: NOT certain
        c, _ = split_certain_matches(t.adds, "cats != 'S'",
                                     t.partition_columns,
                                     t._partition_types())
        assert all(a.partitionValues.get("cats") is not None
                   for a in c.values())
        # and NOT(...) over it must not manufacture certainty either
        c, _ = split_certain_matches(t.adds, "NOT (cats = 'S')",
                                     t.partition_columns,
                                     t._partition_types())
        assert all(a.partitionValues.get("cats") is not None
                   for a in c.values())
        # IS NULL is a real boolean on partitions: exactly certain
        c, rest = split_certain_matches(t.adds, "cats IS NULL",
                                        t.partition_columns,
                                        t._partition_types())
        assert c and all(a.partitionValues.get("cats") is None
                         for a in c.values())

    def test_numeric_partition_string_literal_not_lexicographic(
            self, spark, tmp_path):
        """ADVICE r7 (high): part_num > '100' on a NUMERIC partition
        must compare numerically ('99' > '100' lexicographically would
        tombstone non-matching files -> permanent data loss)."""
        import pandas as pd
        pdf = pd.DataFrame({"part_num": [99] * 5 + [150] * 5,
                            "v": list(range(10))})
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(pdf),
                    partition_by=["part_num"])
        c, rest = split_certain_matches(
            t.adds, "part_num > '100'", t.partition_columns,
            t._partition_types())
        assert c, "150 > 100 numerically: file must be certain"
        assert all(a.partitionValues["part_num"] == "150"
                   for a in c.values())
        # end-to-end: DELETE agrees with Spark's own cast semantics
        t2 = t.delete("part_num > '100'")
        assert t2.to_df().count() == 5
        assert t2.to_df().filter("part_num = 99").count() == 5
        # and metadata-only COUNT matches too
        assert t.count("part_num > '100'") == 5

    def test_bigint_partition_past_2_53_exact(self, spark, tmp_path):
        """int partition values must not round-trip through float:
        2^53 + 1 and 2^53 are distinct."""
        import pandas as pd
        big = 9007199254740993  # 2^53 + 1
        pdf = pd.DataFrame({"k": [big] * 3 + [big - 1] * 3,
                            "v": list(range(6))})
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(pdf), partition_by=["k"])
        c, _ = split_certain_matches(
            t.adds, f"k = {big}", t.partition_columns,
            t._partition_types())
        assert {a.partitionValues["k"] for a in c.values()} == {str(big)}
        assert t.count(f"k = {big}") == 3

    def test_no_schema_refuses_certainty_on_comparisons(self):
        """Without partition types the exact path must refuse every
        comparison proof (a wrong one deletes rows); IS NULL still
        proves — it needs no coercion."""
        from xdlake_spark.log.actions import Add
        adds = {"f": Add(path="f", partitionValues={"p": "99"},
                         stats=json.dumps({"numRecords": 1})),
                "g": Add(path="g", partitionValues={"p": None},
                         stats=json.dumps({"numRecords": 1}))}
        c, rest = split_certain_matches(adds, "p > '100'", ["p"])
        assert not c and set(rest) == {"f", "g"}
        c, rest = split_certain_matches(adds, "p = '99'", ["p"])
        assert not c
        c, rest = split_certain_matches(adds, "p IS NULL", ["p"])
        assert set(c) == {"g"}


class TestMetadataOnlyDelete:
    def test_zero_jobs_and_correct(self, spark, tmp_table_dir):
        pdf = gen_pdf(90)
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        want_deleted = int((pdf["cats"] == "S").sum())

        t2, jobs = jobs_during(
            spark, "meta-delete", lambda: t.delete("cats = 'S'"))
        assert jobs == [], f"metadata-only delete ran jobs: {jobs}"
        assert t2.to_df().filter("cats = 'S'").count() == 0
        assert t2.to_df().count() == 90 - want_deleted
        h = next(iter(t2.history()))
        m = h["operationMetrics"]
        assert int(m["num_deleted_rows"]) == want_deleted
        assert int(m["num_added_files"]) == 0
        assert int(m["num_copied_rows"]) == 0

    def test_range_and_in_predicates(self, spark, tmp_path):
        pdf = gen_pdf(90)
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(pdf), partition_by=["bats"])
        t2, jobs = jobs_during(
            spark, "meta-delete-in",
            lambda: t.delete("bats IN ('1', '3')"))
        assert jobs == []
        assert set(r.bats for r in
                   t2.to_df().select("bats").distinct().collect()) \
            == {"2"}

    def test_mixed_predicate_scans_only_uncertain(self, spark,
                                                  tmp_path):
        pdf = gen_pdf(90)
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(pdf), partition_by=["cats"])
        # cats='S' files are certain; the i64 disjunct forces a scan of
        # the OTHER files only — correctness is the full predicate
        t2 = t.delete("cats = 'S' OR i64 > 500")
        import pandas as pd
        kept = pdf[~((pdf["cats"] == "S") | (pdf["i64"] > 500))]
        assert t2.to_df().count() == len(kept)
        h = next(iter(t2.history()))
        assert int(h["operationMetrics"]["num_deleted_rows"]) == \
            90 - len(kept)

    def test_dv_mode_partition_delete_tombstones_without_dv(
            self, spark, tmp_path):
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(gen_pdf(90)),
                    partition_by=["cats"])
        t = t.set_properties({"delta.enableDeletionVectors": "true"})
        t2, jobs = jobs_during(
            spark, "meta-delete-dv", lambda: t.delete("cats = 'D'"))
        assert jobs == []
        assert t2.to_df().filter("cats = 'D'").count() == 0
        # no DV descriptor anywhere, and no spurious protocol upgrade
        assert not any((a.extra or {}).get("deletionVector")
                       for a in t2.adds.values())
        proto = t2.log.protocol()
        assert "deletionVectors" not in \
            ((proto.extra or {}).get("writerFeatures") or [])

    def test_cdf_table_still_scans_and_feeds_changes(self, spark,
                                                     tmp_path):
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(gen_pdf(60)),
                    partition_by=["cats"])
        t = t.set_properties({"delta.enableChangeDataFeed": "true"})
        v_before = t.version
        t2 = t.delete("cats = 'A'")
        ch = t2.change_feed(v_before, v_before + 1)
        deleted = ch.filter("_change_type = 'delete'")
        assert deleted.count() > 0
        assert deleted.filter("cats != 'A'").count() == 0

    def test_statless_foreign_add_falls_back(self, spark, tmp_path):
        t = DeltaTable(spark, str(tmp_path / "t"))
        t = t.write(spark.createDataFrame(gen_pdf(60)),
                    partition_by=["cats"])
        # strip stats from every add in the log (foreign-writer shape)
        log_file = f"{tmp_path}/t/_delta_log/{0:020d}.json"
        lines = []
        for line in open(log_file):
            obj = json.loads(line)
            if "add" in obj:
                obj["add"].pop("stats", None)
            lines.append(json.dumps(obj))
        open(log_file, "w").write("\n".join(lines) + "\n")
        t = DeltaTable(spark, str(tmp_path / "t"))
        n_s = t.to_df().filter("cats = 'S'").count()
        t2, jobs = jobs_during(
            spark, "meta-delete-nostats",
            lambda: t.delete("cats = 'S'"))
        assert jobs != []  # must scan: no row counts to report
        assert t2.to_df().filter("cats = 'S'").count() == 0
        h = next(iter(t2.history()))
        assert int(h["operationMetrics"]["num_deleted_rows"]) == n_s


class TestMetadataOnlyCount:
    def test_plain_count_runs_zero_jobs(self, spark, tmp_table_dir):
        t = DeltaTable(spark, tmp_table_dir).write(
            spark.createDataFrame(gen_pdf(90)), partition_by=["cats"])
        n, jobs = jobs_during(spark, "meta-count", t.count)
        assert jobs == [] and n == 90

    def test_partition_predicate_count_zero_jobs(self, spark,
                                                 tmp_path):
        pdf = gen_pdf(90)
        t = DeltaTable(spark, str(tmp_path / "t")).write(
            spark.createDataFrame(pdf), partition_by=["cats"])
        want = int((pdf["cats"] == "S").sum())
        n, jobs = jobs_during(spark, "meta-count-p",
                               lambda: t.count("cats = 'S'"))
        assert jobs == [] and n == want

    def test_mixed_predicate_scans_only_rest(self, spark, tmp_path):
        pdf = gen_pdf(90)
        t = DeltaTable(spark, str(tmp_path / "t")).write(
            spark.createDataFrame(pdf), partition_by=["cats"])
        want = int(((pdf["cats"] == "S") | (pdf["i64"] > 0)).sum())
        assert t.count("cats = 'S' OR i64 > 0") == want

    def test_dv_cardinality_subtracted(self, spark, tmp_path):
        t = DeltaTable(spark, str(tmp_path / "t")).write(
            spark.createDataFrame(gen_pdf(60)).coalesce(2))
        t = t.delete("flag = true", mode="merge-on-read")
        live = t.to_df().count()
        n, jobs = jobs_during(spark, "meta-count-dv", t.count)
        assert jobs == [] and n == live
