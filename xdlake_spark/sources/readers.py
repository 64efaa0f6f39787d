"""Testdata/table readers with type-edge handling.

Spark (through 4.x) rejects parquet INT64 TIMESTAMP(NANOS) columns
(PARQUET_TYPE_ILLEGAL) that other engines (pyarrow, DuckDB) write freely.
``read_parquet_any`` degrades gracefully: on a nanos column it re-reads
with ``spark.sql.legacy.parquet.nanosAsLong`` and rebuilds a proper
``timestamp_ntz`` with integer division (exact — no double rounding).
"""

from __future__ import annotations

import contextlib

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nanos_timestamp_cols(path: str) -> list[str]:
    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    import pyarrow as pa
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


@contextlib.contextmanager
def _session_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the body only. On exit, even when the
    body raises, the prior value comes back, or the key is unset if it
    had none, so the session's other work keeps its configuration."""
    conf = spark.conf
    prev = conf.get(key, None)
    conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


def read_parquet_any(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet that also handles ns-precision timestamps."""
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    with _session_conf(spark, "spark.sql.legacy.parquet.nanosAsLong",
                       "true"):
        df = spark.read.parquet(path)
        for c in ns_cols:
            # ns since epoch (long) -> us via integer division -> ntz
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                .cast("timestamp_ntz"))
        return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish tables from an sf directory."""
    names = names or ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"]
    return {n: read_parquet_any(spark, f"{sf_dir}/{n}.parquet")
            for n in names}
