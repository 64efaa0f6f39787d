"""Extension operators (dedup, similarity, text, multimodal).

These extend the reference's surface (xbrianh/xdlake has no relational or
pipeline operators — see SURVEY §2.4); mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _as_int(x) -> int:
    # py4j hands back Python ints for some numeric returns and
    # JavaObjects (scala BigInt) for others
    try:
        return int(x)
    except TypeError:
        return int(x.toString())


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40}


def _parse_bytes(s: str) -> int:
    s = str(s).strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[:-len(suf)])) * _BYTE_SUFFIX[suf]
    return int(float(s))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the input
    (likely) arrives with fewer splits.

    Small parquet inputs land as a single split, which serializes every
    expensive projection downstream. At cluster scale the repartition is
    a no-op (file inputs already carry >= defaultParallelism splits).

    The split count is estimated from plan statistics
    (``sizeInBytes / spark.sql.files.maxPartitionBytes`` — pure
    metadata), NOT from ``df.rdd.getNumPartitions()``: the rdd probe
    forces a full non-AQE physical-plan compile per call, a flat
    ~0.1-0.3 s tax on every small query. Derived plans (joins/aggs)
    inflate sizeInBytes, which errs toward NOT repartitioning — the
    safe direction, since those plans already carry shuffle
    parallelism. The rdd probe remains only as the no-stats fallback.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        size = _as_int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = None
    if size is None:
        if df.rdd.getNumPartitions() < par:
            return df.repartition(par)
        return df
    try:
        max_pb = _parse_bytes(spark.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
    except Exception:
        max_pb = 134217728
    est_splits = max(1, (size + max_pb - 1) // max_pb)
    if est_splits < par:
        return df.repartition(par)
    return df


#: Parquet-compressed bytes per document row, calibrated on the test
#: corpora (sf0.001: 131 B/doc, sf0.1: 119 B/doc). Only used to turn a
#: plan's sizeInBytes into a row-order-of-magnitude guess.
_BYTES_PER_ROW_GUESS = 128


def plan_row_estimate(df: DataFrame) -> "int | None":
    """Catalyst's row estimate for ``df`` from plan statistics —
    metadata only, NEVER runs a job.

    The JVM-vs-Arrow physical-strategy gates (minhash/simhash/winnow)
    previously ran an eager ``df.count()`` at plan-build time, which on
    a derived input recomputes the whole upstream pipeline. Plan stats
    are free: the exact ``rowCount`` when Catalyst carries one (CBO,
    LocalRelation), else ``sizeInBytes`` — for file scans that is the
    sum of file sizes from the (already loaded) file index — divided by
    a per-row byte guess. Estimation errors only flip which of two
    result-identical plans runs; joins/aggregates inflate sizeInBytes,
    which errs toward Arrow — the right direction at scale. Returns
    None when no statistic is available.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return _as_int(rc.get())
        size = _as_int(stats.sizeInBytes())
        if size > 0:
            return size // _BYTES_PER_ROW_GUESS
    except Exception:
        pass
    return None


def plan_max_rows(df: DataFrame) -> "int | None":
    """Catalyst's hard upper bound on the rows of ``df`` (the optimized
    plan's ``maxRows``) — metadata only, NEVER runs a job and is never
    an estimate. Defined for a ``LocalRelation``, a ``limit``, and the
    operators that cannot add rows to a bounded child (filter, project,
    left semi/anti join, ...). A ``localCheckpoint`` (``LogicalRDD``)
    has no bound, so callers take it before they checkpoint. Returns
    None when the plan carries no bound."""
    try:
        mr = df._jdf.queryExecution().optimizedPlan().maxRows()
        if mr.isDefined():
            return _as_int(mr.get())
    except Exception:
        pass
    return None


def arrow_gate(df: DataFrame, threshold: int = 2000) -> bool:
    """True when ``df`` is (estimated) large enough that the Arrow
    physical plan beats the JVM-HOF one. Plan-statistics first (no
    job); the count job only as a last resort."""
    est = plan_row_estimate(df)
    if est is None:
        est = df.count()
    return est >= threshold


def snapped_avg(sum_col, count_col, decimals: int = 6):
    """Cross-engine-stable small-count average:
    ``floor(round(sum, 2) / count * 10^decimals) / 10^decimals``.

    A raw ``round(avg(x), N)`` diverges between Spark and an oracle
    engine two ways: (1) independently accumulated sums differ by ulps,
    and (2) Spark's ``round()`` rounds the double's shortest decimal
    repr (HALF_UP on "...5") while DuckDB rounds the true binary value
    — 2-decimal data summed and divided by power-of-two counts lands on
    those "...5" boundaries constantly. Snapping the SUM to 2 decimals
    first makes both engines divide (almost always) identical doubles,
    and the floor truncation is pure float arithmetic — bit-identical
    given identical inputs. Residual risk: the snap itself flips only
    when the sum sits within an ulp of a .005 boundary, orders of
    magnitude rarer than the average-boundary case (and absent from
    terminating 2-decimal data). Oracles must mirror the exact same
    expression. Used by every small-count-average query (gapfill,
    tumbling, trailing windows).
    """
    from pyspark.sql import functions as F

    scale = 10 ** decimals
    return F.floor(F.round(sum_col, 2) / count_col * scale) / scale
