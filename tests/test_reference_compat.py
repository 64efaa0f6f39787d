"""Differential tests against the REFERENCE implementation itself.

The reference (xbrianh/xdlake, read-only at /root/reference) is a pure
Python/PyArrow library, so it can serve as a live oracle exactly the way
it uses delta-rs in its own test suite: OUR engine writes a delta table,
THE REFERENCE opens and reads it (and vice versa), and the contents must
match. This is execution of the reference as a black box — no code is
copied — and it is the strongest possible log-format parity check.

Runs against a minimal local-only fsspec shim (tests/fsspec_shim.py) when
the real fsspec is absent; skipped only if the reference itself is gone.
"""

import sys

import pytest
from pyspark.sql import functions as F

from xdlake_spark import DeltaTable

try:
    import fsspec  # noqa: F401 — prefer the real one when installed
except ModuleNotFoundError:
    from . import fsspec_shim
    fsspec_shim.install()

sys.path.insert(0, "/root/reference")
xdlake_ref = pytest.importorskip(
    "xdlake", reason="the reference implementation (xbrianh/xdlake) is not "
    "installed, so there is no second engine to compare against")


def _ref_read_sorted(loc):
    t = xdlake_ref.DeltaTable(loc).to_pandas()
    return t.sort_values(list(sorted(t.columns))).reset_index(drop=True)


class TestReferenceReadsOurTables:
    def test_plain_write(self, spark, tmp_table_dir, lineitem):
        li = lineitem.select("l_orderkey", "l_linenumber", "l_quantity",
                             "l_returnflag").limit(500)
        DeltaTable(spark, tmp_table_dir).write(li)
        ref = _ref_read_sorted(tmp_table_dir)
        assert len(ref) == 500
        ours = li.toPandas().sort_values(
            list(sorted(ref.columns))).reset_index(drop=True)
        assert (ref["l_orderkey"].to_numpy()
                == ours["l_orderkey"].to_numpy()).all()
        assert abs(ref["l_quantity"].sum() - ours["l_quantity"].sum()) < 1e-6

    def test_partitioned_append_overwrite_delete(self, spark,
                                                 tmp_table_dir, lineitem):
        li = lineitem.select("l_orderkey", "l_quantity",
                             "l_returnflag").limit(600)
        t = DeltaTable(spark, tmp_table_dir).write(
            li.limit(300), partition_by=["l_returnflag"])
        t = t.write(li.subtract(li.limit(300)))
        t = t.delete("l_quantity > 30")
        expect = t.to_df().count()
        ref_t = xdlake_ref.DeltaTable(tmp_table_dir)
        pdf = ref_t.to_pandas()
        assert len(pdf) == expect
        assert (pdf["l_quantity"] <= 30).all()
        # the reference replays versions too: time travel both engines
        assert len(xdlake_ref.DeltaTable(tmp_table_dir, version=0)
                   .to_pandas()) == 300

    def test_reference_reads_after_restore_and_optimize(self, spark,
                                                        tmp_table_dir,
                                                        lineitem):
        li = lineitem.select("l_orderkey", "l_quantity").limit(400)
        t = DeltaTable(spark, tmp_table_dir).write(li)
        t = t.write(li.limit(50), mode="overwrite")
        t = t.restore(0)
        t = t.optimize(target_file_size=64 * 1024)
        assert len(_ref_read_sorted(tmp_table_dir)) == t.to_df().count()


class TestWeReadReferenceTables:
    def test_roundtrip_from_reference_write(self, spark, tmp_table_dir):
        import pyarrow as pa
        tbl = pa.table({
            "id": pa.array(range(100), pa.int64()),
            "v": pa.array([float(i) * 1.5 for i in range(100)]),
            "cat": pa.array([str(i % 3) for i in range(100)]),
        })
        xdlake_ref.DeltaTable(tmp_table_dir).write(tbl)
        xdlake_ref.DeltaTable(tmp_table_dir).write(tbl, mode="append")
        ours = DeltaTable(spark, tmp_table_dir)
        assert ours.to_df().count() == 200
        assert ours.version == 1
        got = ours.to_df(where="cat = '1'").count()
        assert got == 2 * sum(1 for i in range(100) if i % 3 == 1)

    def test_mixed_writers_interleave(self, spark, tmp_table_dir):
        import pyarrow as pa
        tbl = pa.table({"id": pa.array(range(10), pa.int64())})
        xdlake_ref.DeltaTable(tmp_table_dir).write(tbl)          # v0 ref
        t = DeltaTable(spark, tmp_table_dir)
        t = t.write(spark.range(10, 20).select(
            F.col("id").cast("long")))                           # v1 ours
        xdlake_ref.DeltaTable(tmp_table_dir).write(
            tbl, mode="append")                                  # v2 ref
        final = DeltaTable(spark, tmp_table_dir)
        assert final.to_df().count() == 30
        assert len(_ref_read_sorted(tmp_table_dir)) == 30


class TestReferenceReadsMaintenanceCommits:
    """The reference must replay tables whose logs contain our
    beyond-parity commits (MERGE / UPDATE / constraint metadata) — the
    same tolerance it shows delta-rs maintenance logs
    (/root/reference/tests/test_compatibility.py:112-154)."""

    def test_reference_reads_after_merge(self, spark, tmp_table_dir,
                                         lineitem):
        from pyspark.sql import functions as F
        li = lineitem.select("l_orderkey", "l_linenumber",
                             "l_quantity").limit(400)
        t = DeltaTable(spark, tmp_table_dir).write(li)
        src = (li.filter("l_linenumber = 1").limit(50)
               .select("l_orderkey", "l_linenumber",
                       (F.col("l_quantity") * 0 + 99.0).alias("q")))
        t = t.merge(src,
                    "t.l_orderkey = s.l_orderkey AND "
                    "t.l_linenumber = s.l_linenumber",
                    when_matched_update={"l_quantity": "s.q"})
        ref = _ref_read_sorted(tmp_table_dir)
        assert len(ref) == t.to_df().count()
        assert (ref["l_quantity"] == 99.0).sum() == 50

    def test_reference_reads_after_nmbs_merge(self, spark, tmp_table_dir,
                                              lineitem):
        # MERGE with the NOT MATCHED BY SOURCE clause family: the
        # resulting log (removes + rewritten adds) must replay cleanly
        # in the reference reader
        li = lineitem.select("l_orderkey", "l_linenumber",
                             "l_quantity").limit(400)
        t = DeltaTable(spark, tmp_table_dir).write(li)
        src = li.filter("l_linenumber = 1").limit(50) \
            .select("l_orderkey", "l_linenumber")
        t = t.merge(src,
                    "t.l_orderkey = s.l_orderkey AND "
                    "t.l_linenumber = s.l_linenumber",
                    when_matched_update={"l_quantity": "t.l_quantity"},
                    when_not_matched_by_source_delete=True)
        ref = _ref_read_sorted(tmp_table_dir)
        assert len(ref) == 50 == t.to_df().count()

    def test_reference_reads_after_update_and_constraints(
            self, spark, tmp_table_dir, lineitem):
        li = lineitem.select("l_orderkey", "l_quantity").limit(300)
        t = DeltaTable(spark, tmp_table_dir).write(li)
        t = t.add_constraint("nonneg", "l_quantity >= 0")
        t = t.update({"l_quantity": "l_quantity + 1000"},
                     "l_quantity > 40")
        ref = _ref_read_sorted(tmp_table_dir)
        assert len(ref) == 300
        ours = t.to_pandas()
        assert ref["l_quantity"].sum() == pytest.approx(
            ours["l_quantity"].sum())
        # constraint metadata rides along without breaking the reference
        assert (ref["l_quantity"] >= 1000).sum() == \
            (ours["l_quantity"] > 1000).sum()


class TestPartitionedInterop:
    def test_we_read_reference_partitioned_table(self, spark,
                                                 tmp_table_dir):
        import pyarrow as pa
        tbl = pa.table({
            "id": pa.array(range(90), pa.int64()),
            "v": pa.array([float(i) for i in range(90)]),
            "cat": pa.array([str(i % 3) for i in range(90)]),
        })
        xdlake_ref.DeltaTable(tmp_table_dir).write(
            tbl, partition_by=["cat"])
        ours = DeltaTable(spark, tmp_table_dir)
        assert ours.partition_columns == ["cat"]
        assert ours.to_df().count() == 90
        # partition predicate prunes to one reference-written partition
        one = ours.to_df(where="cat = '2'")
        assert one.count() == 30
        assert len(one.inputFiles()) < len(ours.to_df().inputFiles())
        # and our delete works against the reference's layout
        t2 = ours.delete("cat = '0'")
        assert t2.to_df().count() == 60
        assert len(_ref_read_sorted(tmp_table_dir)) == 60
