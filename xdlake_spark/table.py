"""DeltaTable: the user-facing API, Spark-native.

Parity target: /root/reference/xdlake/__init__.py:32-446 (the reference's
entire ``DeltaTable``). Architecture per SURVEY §7.1: every operation is
(a) driver-side log/manifest computation (pure Python, microseconds) plus
(b) at most two Spark jobs (scan/agg + write). Data never flows through the
driver; only the KB-scale JSON log and the file manifest do.

Scale design (100 TB / 1000 executors):
- Scans are a single parquet relation over the manifest's live files,
  built by ``DeltaTable._read_files``; the log is the file list, so on
  ``file:``/``hdfs:`` no Spark job lists them. Catalyst handles
  predicate pushdown, column pruning, and row-group skipping; the
  driver additionally prunes whole files from the manifest with
  partition values + min/max stats (plans/skipping.py) *before* a plan
  exists.
- Writes go straight from executors to the table directory via
  ``df.write.partitionBy(...).parquet`` — hive layout identical to the
  reference (/root/reference/xdlake/__init__.py:381-394).
- Copy-on-write delete touches only files the predicate can hit: manifest
  pruning first, then one agg job to find true hit-files, then one write
  job rewriting survivors of those files only (reference semantics,
  __init__.py:259-315, at file granularity).
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import json
import logging
import os
import posixpath
import re
import threading
import urllib.parse
import uuid
from typing import Any, Callable, Generator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .log import (
    Add,
    Cdc,
    DeltaLog,
    DeltaLogEntry,
    SchemaMode,
    WriteMode,
    append_table_entry,
    commit_entry,
    create_table_entry,
    delete_table_entry,
    log_entry_filename,
    merge_table_entry,
    optimize_table_entry,
    overwrite_table_entry,
    dynamic_overwrite_entry,
    replaced_metadata,
    Protocol,
    properties_table_entry,
    restore_table_entry,
    TableCommit,
    TableMetadata,
    timestamp_ms,
    update_table_entry,
)
from .log.schema import partition_value_to_python, schema_to_string
from .log.statistics import Statistics
from .plans.skipping import (Comparison as _SkipComparison,
                             derive_partition_nodes, prune_manifest,
                             prune_with_nodes, split_certain_matches)
from .sources.inputs import union_dataframe
from .sources.readers import _session_conf
from .sources.storage import Location

_logger = logging.getLogger(__name__)

# Spark lists more than this many paths with a one-task-per-path job.
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# schemes whose per-file stat is a cheap metadata call (see _read_files)
_DRIVER_STAT_SCHEMES = frozenset({"file", "hdfs"})
# one scoped raise of the session-wide threshold at a time, so
# concurrent reads on one session never leave it changed
_listing_lock = threading.Lock()


def _arrow_conversion(spark):
    """Temporarily enable Arrow for driver<->JVM DataFrame conversion
    (createDataFrame-from-pandas / toPandas). The pickled-row fallback
    serializes one row at a time and, schemaless, runs type inference
    per value — seconds of driver time at tens of thousands of rows
    (guide §6: arrow.pyspark.enabled is the documented fix; scoped here
    so the session's other conversions keep configured behavior)."""
    return _session_conf(spark, "spark.sql.execution.arrow.pyspark.enabled",
                         "true")


class CommitConflictError(FileExistsError):
    """A concurrent commit logically conflicts with this operation's read
    snapshot (it removed files this operation rewrites, or added files
    this operation's predicate reads). The operation must be redone
    against a fresh handle — replaying the same entry would lose the
    concurrent writer's update. Subclasses ``FileExistsError`` so callers
    catching the documented optimistic-concurrency signal keep working.
    """


def _delete_if_present(loc: Location) -> None:
    """One storage call: delete ``loc``; a file that is already gone
    counts as deleted."""
    with contextlib.suppress(FileNotFoundError):
        loc.delete()


#: deletes in flight at once when vacuum deletes on the driver; object-
#: store deletes are latency-bound, local ones cost microseconds
_DELETE_THREADS = 8


def _delete_on_driver(root: Location, rels: "list[str]") -> None:
    """Delete the files ``rels`` under ``root`` from the driver through
    a small thread pool — no Spark job."""
    if not rels:
        return
    with concurrent.futures.ThreadPoolExecutor(
            min(_DELETE_THREADS, len(rels))) as pool:
        list(pool.map(lambda p: _delete_if_present(root.join(p)), rels))


def _strip_scheme(url: str) -> str:
    """Normalize a URL to a bare path for file-identity joins (s3 vs s3a
    vs file:// spellings of the same object must compare equal)."""
    m = re.match(r"^[a-zA-Z0-9+.-]+://", url)
    if m:
        return "/" + url[m.end():].lstrip("/")
    return url


class DeltaTable:
    """Immutable snapshot handle over a Delta table; mutators return a new
    ``DeltaTable`` (reference semantics, __init__.py:190,229,257,315,333)."""

    def __init__(self, spark: "SparkSession | None",
                 location: "str | Location",
                 log_location: "str | Location | None" = None,
                 version: int | None = None,
                 storage_options: dict | None = None):
        """``storage_options``: per-table credentials threaded into both
        the data and log Locations (reference __init__.py:35-48,
        storage.py:61-76) — takes effect when no registered filesystem
        prefix matches the URL.

        ``spark=None`` gives a LOG-ONLY handle: log replay, table
        properties, ``verify_checksum`` and the commit pipeline
        (``_commit``/``_commit_staged``: protocol checks, stamps, crc,
        checkpoint, UniForm) never touch Spark, so a Python worker
        without a session (the ``xdlake`` format sinks' ``commit``)
        commits through the same code as :meth:`write`. Anything that
        scans or writes data needs a session."""
        self.spark = spark
        self.storage_options = storage_options
        self.location = Location.resolve(location, storage_options)
        self.log_location = (Location.resolve(log_location, storage_options)
                             if log_location is not None
                             else self.location.join("_delta_log"))
        self.pinned_version = version
        self.log = DeltaLog.load(self.log_location, version=version)
        self._version_to_write = self.log.version_to_write
        self.adds: dict[str, Add] = self.log.add_actions()
        self.partition_columns: list[str] = (
            self.log.partition_columns() if self.log else [])
        self.schema: T.StructType | None = (
            self.log.schema() if self.log else None)

    # -- metadata ------------------------------------------------------------

    @property
    def version(self) -> int:
        return self.log.version

    @property
    def versions(self) -> list[int]:
        return self.log.versions

    def history(self, reverse: bool = True) -> Generator[dict, None, None]:
        return self.log.history(reverse=reverse)

    def history_df(self) -> DataFrame:
        """DESCRIBE HISTORY-style DataFrame of commitInfo records."""
        rows = [{"version": h.get("version"),
                 "timestamp": h.get("timestamp"),
                 "operation": h.get("operation"),
                 "operationParameters": json.dumps(
                     h.get("operationParameters") or {}),
                 "operationMetrics": json.dumps(
                     h.get("operationMetrics") or {})}
                for h in self.history()]
        schema = ("version LONG, timestamp LONG, operation STRING, "
                  "operationParameters STRING, operationMetrics STRING")
        return self.spark.createDataFrame(rows, schema=schema)

    def load_as_version(self, version: int) -> "DeltaTable":
        """Time travel (reference __init__.py:73-82)."""
        return DeltaTable(self.spark, self.location, self.log_location,
                          version=version)

    def load_as_timestamp(self, ts: Any) -> "DeltaTable":
        """Time travel to the newest version committed at or before
        ``ts`` — Delta's ``timestampAsOf`` (the reference supports only
        version pinning). ``ts``: epoch milliseconds, ``datetime``, or
        ISO-8601 string (naive values read as UTC). Raises if every
        known commit is later than ``ts``. Under a checkpointed load,
        commits collapsed into the checkpoint resolve with the
        checkpoint's own timestamp — older targets than that raise.
        """
        return self.load_as_version(self._version_at_timestamp(ts))

    @staticmethod
    def _ts_to_ms(ts: Any) -> int:
        """epoch ms / datetime / ISO string -> epoch ms (naive
        datetimes read as UTC)."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            return int(ts.timestamp() * 1000)
        return int(ts)

    def _version_at_timestamp(self, ts: Any) -> int:
        """Newest version committed at or before ``ts`` (epoch ms /
        datetime / ISO string; naive datetimes read as UTC) — shared by
        timestamp time travel and RESTORE TO TIMESTAMP."""
        ms = self._ts_to_ms(ts)
        best: int | None = None
        for h in self.history(reverse=False):
            # in-commit timestamps, when present, are the table's
            # authoritative clock (monotonic by construction; file
            # mtimes drift under copies/restores)
            t = h.get("inCommitTimestamp", h.get("timestamp"))
            if t is not None and int(t) <= ms:
                best = h["version"]
        if best is None:
            raise ValueError(
                f"No version of {self.location.url} exists at or before "
                f"timestamp {ms} (epoch ms)")
        return best

    def _first_version_at_or_after(self, ts: Any) -> int:
        """Earliest version committed at or after ``ts`` — delta-spark's
        ``startingTimestamp`` resolution for CDF reads."""
        ms = self._ts_to_ms(ts)
        for h in self.history(reverse=False):
            t = h.get("inCommitTimestamp", h.get("timestamp"))
            if t is not None and int(t) >= ms:
                return h["version"]
        raise ValueError(
            f"No version of {self.location.url} exists at or after "
            f"timestamp {ms} (epoch ms)")

    def file_uris(self) -> list[str]:
        """Absolute URIs of live files (reference __init__.py:122-125)."""
        return [self.location.absloc(p).url for p in self.adds]

    def txn_version(self, app_id: str) -> int | None:
        """Latest ``txn`` watermark committed for ``app_id`` (Delta
        protocol streaming idempotence; see DeltaLog.latest_txn_version)."""
        return self.log.latest_txn_version(app_id)

    # -- scan ------------------------------------------------------------------

    def to_df(self, where: str | None = None) -> DataFrame:
        """Snapshot scan as a DataFrame.

        ``where`` (SQL string) is applied as both a driver-side manifest
        prune (file skipping via partition values + min/max stats — the
        reference's unimplemented TODO, __init__.py:104) and an exact
        row-level ``filter`` that Catalyst pushes into the parquet scan.
        """
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        adds = self._pruned_adds(where)
        df = self._scan(adds)
        if where:
            df = df.filter(where)
        return df

    def count(self, where: "str | None" = None) -> int:
        """Row count, metadata-only whenever provable (delta-spark's
        OptimizeMetadataOnlyQuery for COUNT(*)): without a predicate
        the answer is the sum of footer-stat ``numRecords`` minus
        deletion-vector cardinalities — zero Spark jobs on a 100 TB
        table. With a predicate, files whose partition values prove
        every row matches count from stats, files pruned out count
        zero, and only the uncertain remainder scans (with the exact
        row filter). Falls back to a scan for stats-less foreign adds
        so the answer is always exact."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        adds = self._pruned_adds(where)
        certain, rest = (split_certain_matches(
            adds, where, self.partition_columns,
            self._partition_types())
            if where else (adds, {}))
        total = 0
        for p, a in list(certain.items()):
            n = self._live_row_count(a)
            if n is None:
                rest[p] = a  # no stats: this file must scan
            else:
                total += n
        if rest:
            df = self._scan(rest)
            if where:
                df = df.filter(where)
            total += df.count()
        return total

    def _pruned_adds(self, where: "str | None") -> dict:
        """Manifest prune for a scan predicate: partition values +
        min/max stats, PLUS generated-column partition pruning
        (delta-spark's OptimizeGeneratedColumn) — a filter on a raw
        timestamp prunes partitions GENERATED from it (CAST AS DATE /
        YEAR / DATE_FORMAT / DATE_TRUNC) without the query mentioning
        the partition column (plans/skipping.py
        derive_partition_nodes)."""
        if not where:
            return self.adds
        ptypes = self._partition_types()
        adds = prune_manifest(self.adds, where, self.partition_columns,
                              ptypes)
        gp = {c: e for c, e in self._generated_columns().items()
              if c in self.partition_columns}
        if gp and adds:
            nodes = derive_partition_nodes(where, gp)
            if nodes:
                adds = prune_with_nodes(adds, nodes,
                                        self.partition_columns, ptypes)
        return adds

    def _partition_types(self) -> dict:
        """Partition column -> Spark type name (``simpleString``):
        the schema handle that makes manifest pruning and the
        metadata-only DELETE/COUNT proofs coerce literals against the
        COLUMN's type instead of the literal's (Spark-faithful; a
        string literal vs a numeric partition column must not compare
        lexicographically)."""
        if self.schema is None:
            return {}
        names = set(self.schema.fieldNames())
        return {c: self.schema[c].dataType.simpleString()
                for c in self.partition_columns if c in names}

    #: Delta reader features this engine actually implements. Anything
    #: else declared by a minReaderVersion>=3 protocol (v2Checkpoint,
    #: type widening, ...) would be silently misread — refuse instead.
    SUPPORTED_READER_FEATURES = frozenset(
        {"columnMapping", "timestampNtz", "deletionVectors",
         "v2Checkpoint",         # UUID-named manifests + sidecar reads
         "vacuumProtocolCheck",  # reader side is a spec'd no-op
         "typeWidening",         # integer/float upcasts on scan
         "typeWidening-preview",
         "variantType",          # Spark-native variant scan
         "variantType-preview",
         })

    def _check_reader_protocol(self) -> None:
        """Delta protocol gate: a reader MUST refuse tables whose
        protocol demands features it does not implement (the reference
        ignores protocol entirely; modern tables would be misread).
        minReaderVersion 1-2 are fully handled (2 = column mapping,
        gated separately by mode); 3 enumerates readerFeatures — each
        must be one we implement. deletionVectors is genuinely
        implemented: _scan decodes each live add's bitmap and
        anti-joins the deleted row positions out (log/dv.py)."""
        proto = self.log.protocol()
        if proto.minReaderVersion <= 2:
            return
        feats = set((proto.extra or {}).get("readerFeatures") or [])
        unknown = feats - self.SUPPORTED_READER_FEATURES
        if proto.minReaderVersion > 3 or unknown:
            why = (f"unsupported features {sorted(unknown)}" if unknown
                   else f"reader version {proto.minReaderVersion} is "
                        "newer than this engine understands")
            raise NotImplementedError(
                f"table requires reader version "
                f"{proto.minReaderVersion} with features "
                f"{sorted(feats)}; {why}. Reading anyway could "
                "silently return wrong rows.")
        if feats & {"typeWidening", "typeWidening-preview"}:
            self._check_type_widening_readable()

    def _read_files(self, paths: "list[str]",
                    schema: "T.StructType | None", *,
                    base_path: "str | None" = None) -> DataFrame:
        """One parquet relation over files the log (or an Iceberg
        manifest) names. Every Spark read of such files goes through
        here.

        The log already is the file list, yet Spark's
        ``InMemoryFileIndex`` stats each path while the DataFrame is
        built, and above ``parallelPartitionDiscovery.threshold`` (32)
        it does so as an eager Spark job with one task per file. For
        ``file:`` and ``hdfs:`` paths the threshold is raised to the
        path count while the relation is built, then restored, so the
        driver stats the files serially and no job runs. On a shared
        4-core host (``local[4]``, local FS, 10 runs each) building a
        partitioned table's DataFrame took 0.72–1.21 s with the job
        and 65–172 ms without at 70 files, and 2.28–2.82 s against
        134–352 ms at 320 files (under 1.1 ms per file of driver
        stats); counts were unchanged. A file the log names but
        storage lacks still fails the read (``PATH_NOT_FOUND``).

        On an object store each of those serial stats is one request,
        so other schemes keep Spark's parallel listing job. A file
        index built from the log's ``size``/``modificationTime``, with
        no stat at all, would close that gap (ROADMAP item 6,
        mechanism 2)."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        if not {urllib.parse.urlsplit(p).scheme or "file"
                for p in paths} <= _DRIVER_STAT_SCHEMES:
            return reader.parquet(*paths)
        with _listing_lock, _session_conf(self.spark, _LISTING_THRESHOLD,
                                          str(len(paths))):
            return reader.parquet(*paths)

    def _scan(self, adds: dict[str, Add]) -> DataFrame:
        schema = self.schema
        assert schema is not None
        self._check_reader_protocol()
        # Deletion vectors (written by modern delta-rs / delta-spark —
        # or by our own merge-on-read DELETE) mark rows within a live
        # file as deleted. Decode each referenced bitmap (log/dv.py,
        # pure-numpy roaring reader) and anti-join the DV'd files' scan
        # on (file, _metadata.row_index); DV-free files scan untouched.
        deleted = self._deleted_rows(adds)
        if deleted:
            clean = {p: a for p, a in adds.items() if p not in deleted}
            df = self._apply_deletion_vectors(
                self._scan({p: _without_dv(adds[p]) for p in deleted}),
                deleted)
            if clean:
                df = self._scan(clean).unionByName(df)
            return df
        cm = self.column_mapping_mode
        if cm in ("name", "id"):
            return self._scan_column_mapped(adds, by_id=(cm == "id"))
        if cm not in ("none", ""):
            raise NotImplementedError(
                f"column mapping mode {cm!r} is not supported "
                "(name- and id-mode reads are)")
        if not adds:
            return self.spark.createDataFrame([], schema)
        pcols = [c for c in self.partition_columns if c in schema.fieldNames()]
        data_schema = T.StructType(
            [f for f in schema.fields if f.name not in pcols])

        if not pcols:
            files = [self.location.absloc(p).url for p in adds]
            return self._read_files(files, schema)

        # Fast path: every live file is table-relative in hive layout ->
        # ONE parquet relation with basePath; Spark derives partition
        # columns from the key=value dirs natively (single FileScan, native
        # dynamic partition pruning).
        if all(self._is_hive_relative(p, pcols) for p in adds):
            files = [self.location.join(p).url for p in adds]
            df = self._read_files(files, schema,
                                  base_path=self.location.url)
            return df.select(schema.fieldNames())

        # General path (clone / import_refs absolute paths, foreign
        # layouts): ONE scan over all files + a broadcast join against the
        # driver's manifest to attach partition values. Scales to any
        # number of distinct partition values — a per-partition-group
        # union would blow up the plan at 10k partitions. Join key = the
        # scheme-stripped, url-decoded file path.
        files = [self.location.absloc(p).url for p in adds]
        mrows = [(_strip_scheme(self.location.absloc(p).url),
                  *[(add.partitionValues or {}).get(c) for c in pcols])
                 for p, add in adds.items()]
        mschema = T.StructType(
            [T.StructField("__xdl_path", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols])
        manifest = self.spark.createDataFrame(mrows, mschema)
        scan = self._read_files(files, data_schema)
        raw = F.regexp_replace(F.input_file_name(), "^[a-zA-Z0-9+.-]+://?", "/")
        raw = F.regexp_replace(raw, "^//+", "/")
        scan = scan.withColumn(
            "__xdl_path", F.coalesce(F.try_url_decode(raw), raw))
        out = scan.join(F.broadcast(manifest), "__xdl_path")
        for c in pcols:
            out = out.withColumn(
                c, F.col(f"__pv_{c}").cast(schema[c].dataType))
        return out.select(schema.fieldNames())

    @property
    def column_mapping_mode(self) -> str:
        """delta.columnMapping.mode of the table ('none' when unset)."""
        if not self.log:
            return "none"
        cfg = self.log.metadata().configuration or {}
        return cfg.get("delta.columnMapping.mode", "none")

    def _physical_names(self) -> dict[str, str]:
        """logical column name -> physical (parquet) column name, from
        the per-field delta.columnMapping.physicalName metadata."""
        assert self.schema is not None
        return {f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name)
                for f in self.schema.fields}

    def _scan_column_mapped(self, adds: dict[str, Add],
                            by_id: bool = False) -> DataFrame:
        """Read a column-mapped table (written by modern
        delta-spark/delta-rs with `delta.columnMapping.mode` = name or
        id): parquet files and add.partitionValues use per-field
        PHYSICAL names (`col-<uuid>`), the logical schema lives only in
        the log. Scan with the physical data schema, rename to logical,
        attach partition values via the broadcast-manifest join
        (tolerating either physical- or logical-keyed partitionValues).
        One scan relation, same shape as the general absolute-path scan
        path.

        ``by_id`` (mode = id): columns resolve by parquet FIELD ID, not
        name — the read schema's fields carry ``parquet.field.id``
        metadata (from the log's ``delta.columnMapping.id``) and
        Spark's native field-id resolution
        (``spark.sql.parquet.fieldId.read.enabled``) matches them
        against the files' footers, so files whose physical column
        names have drifted still read correctly.
        """
        schema = self.schema
        assert schema is not None
        if not adds:
            return self.spark.createDataFrame([], schema)
        phys = self._physical_names()
        pcols = [c for c in self.partition_columns
                 if c in schema.fieldNames()]
        data_fields = [f for f in schema.fields if f.name not in pcols]
        if by_id:
            ids = {f.name: (f.metadata or {}).get("delta.columnMapping.id")
                   for f in schema.fields}
            missing = [n for n in ids
                       if ids[n] is None and n not in pcols]
            if missing:
                raise NotImplementedError(
                    f"id-mode column mapping but columns {missing} "
                    "carry no delta.columnMapping.id — cannot resolve")
            self.spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true")
            phys_schema = T.StructType([
                T.StructField(phys[f.name], f.dataType, f.nullable,
                              {"parquet.field.id": int(ids[f.name])})
                for f in data_fields])
        else:
            phys_schema = T.StructType([
                T.StructField(phys[f.name], f.dataType, f.nullable)
                for f in data_fields])
        files = [self.location.absloc(p).url for p in adds]
        scan = self._read_files(files, phys_schema)
        renamed = [F.col(phys[f.name]).alias(f.name) for f in data_fields]
        if not pcols:
            return scan.select(renamed)

        def pv(add: Add, c: str):
            d = add.partitionValues or {}
            return d.get(phys[c], d.get(c))

        mrows = [(_strip_scheme(self.location.absloc(p).url),
                  *[pv(add, c) for c in pcols])
                 for p, add in adds.items()]
        mschema = T.StructType(
            [T.StructField("__xdl_path", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols])
        manifest = self.spark.createDataFrame(mrows, mschema)
        raw = F.regexp_replace(F.input_file_name(),
                               "^[a-zA-Z0-9+.-]+://?", "/")
        raw = F.regexp_replace(raw, "^//+", "/")
        scan = scan.withColumn(
            "__xdl_path", F.coalesce(F.try_url_decode(raw), raw))
        out = scan.join(F.broadcast(manifest), "__xdl_path")
        cols = {f.name: F.col(phys[f.name]).alias(f.name)
                for f in data_fields}
        cols.update({c: F.col(f"__pv_{c}").cast(schema[c].dataType)
                     .alias(c) for c in pcols})
        return out.select([cols[n] for n in schema.fieldNames()])

    def _is_hive_relative(self, path: str, pcols: list[str]) -> bool:
        if "://" in path or path.startswith("/"):
            return False
        segs = path.split("/")[:-1]
        keys = [s.split("=", 1)[0] for s in segs if "=" in s]
        return keys == pcols

    def table_changes(self, start_version: "int | None" = None,
                      end_version: int | None = None, *,
                      starting_timestamp: Any = None,
                      ending_timestamp: Any = None) -> DataFrame:
        """Rows appended in versions ``(start_version, end_version]`` —
        incremental (CDC-lite) consumption for downstream pipelines.
        Timestamp bounds accepted like :meth:`change_feed` (r12).

        Scans only the data files ADDED with ``dataChange`` in that
        version window; compaction rewrites (``dataChange=false``) are
        excluded. Row-level deletes are not replayed as retractions —
        this is the append stream, the common feed for training-data
        ingestion. Delete/update commits re-emit their surviving rows
        (copy-on-write rewrites and deletion-vector re-adds behave
        identically); use :meth:`change_feed` for true row-level
        semantics, or the streaming source's ``skipChangeCommits`` to
        drop such commits wholesale. The scan is manifest-driven: no
        listing, no diffing.
        """
        if starting_timestamp is not None:
            if start_version is not None:
                raise ValueError("give start_version or "
                                 "starting_timestamp, not both")
            start_version = self._first_version_at_or_after(
                starting_timestamp) - 1
        if ending_timestamp is not None:
            if end_version is not None:
                raise ValueError("give end_version or "
                                 "ending_timestamp, not both")
            end_version = self._version_at_timestamp(ending_timestamp)
        if start_version is None:
            raise ValueError("table_changes needs start_version or "
                             "starting_timestamp")
        full = DeltaLog.load(self.log_location, use_checkpoint=False)
        end = end_version if end_version is not None else full.version
        changed: dict[str, Add] = {}
        for v in sorted(full.entries):
            if start_version < v <= end:
                for add in full.entries[v].adds:
                    if add.dataChange:
                        changed[add.path] = add
        if not changed:
            return self.spark.createDataFrame([], self.schema)
        return self._scan(changed)

    #: CDF change-type column name (Delta protocol).
    _CHANGE_TYPE = "_change_type"

    @property
    def cdf_enabled(self) -> bool:
        """True when delta.enableChangeDataFeed='true' is set."""
        if not self.log:
            return False
        cfg = self.log.metadata().configuration or {}
        return str(cfg.get("delta.enableChangeDataFeed", "false")
                   ).lower() == "true"

    @property
    def ict_enabled(self) -> bool:
        """True when delta.enableInCommitTimestamps='true' is set."""
        if not self.log:
            return False
        cfg = self.log.metadata().configuration or {}
        return str(cfg.get("delta.enableInCommitTimestamps", "false")
                   ).lower() == "true"

    def _last_ict(self) -> int | None:
        """Newest commit's inCommitTimestamp, if it carries one."""
        return self.log.last_ict() if self.log else None

    def _stamp_ict(self, entry: DeltaLogEntry) -> None:
        """Delta's inCommitTimestamp writer feature: the commit's own
        commitInfo carries a monotonically increasing timestamp that is
        the table's authoritative clock (file modification times drift
        under copies/restores). The spec demands strictly-greater-than
        -previous and commitInfo as the FIRST action in the file."""
        prev = self._last_ict()
        ict = max(timestamp_ms(), (prev + 1) if prev is not None else 0)
        ci = entry.commit_info
        if ci is None:
            ci = TableCommit(operation="WRITE")
            entry.actions.append(ci)
        ci.extra["inCommitTimestamp"] = ict
        ci.timestamp = ict
        entry.actions.remove(ci)
        entry.actions.insert(0, ci)

    def _write_change_data(self, df: DataFrame) -> list[Cdc]:
        """Write a change-data frame (table schema + ``_change_type``)
        under ``_change_data/`` and return the cdc actions. Same
        stage-and-rename shape as ``_write_data``; hive-partitioned on
        the table's partition columns so cdc files prune like data
        files. No stats (cdc files are never data-skipped)."""
        root = self.location
        staging = root.join(f"_staging-cdc-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        pcols = [c for c in self.partition_columns
                 if c in df.columns]
        if pcols:
            writer = writer.partitionBy(*pcols)
        try:
            writer.parquet(staging.url)
        except Exception:
            staging.delete_dir()
            raise
        written = sorted(
            rel for rel in staging.list_files_recursive()
            if rel.endswith(".parquet")
            and not posixpath.basename(rel).startswith((".", "_")))
        version, token = self._version_to_write, uuid.uuid4().hex[:12]
        cdcs: list[Cdc] = []
        if not written:
            # zero-row change set (e.g. a MERGE whose clause gates
            # matched no rows but still rewrote files): the commit MUST
            # still carry a cdc action, or CDF readers fall back to
            # mis-deriving the copy-on-write add/remove churn. Write an
            # explicit empty parquet with the cdc schema.
            import io as _io

            import pyarrow.parquet as _pq
            buf = _io.BytesIO()
            _pq.write_table(df.limit(0).toArrow(), buf)
            dst_rel = posixpath.join("_change_data",
                                     f"cdc-{version}-{token}-0.parquet")
            root.join(dst_rel).write_bytes(buf.getvalue())
            staging.delete_dir()
            return [Cdc(path=dst_rel,
                        size=root.join(dst_rel).file_size())]
        for i, rel in enumerate(written):
            hive_dir = posixpath.dirname(rel)
            base = f"cdc-{version}-{token}-{i}.parquet"
            dst_rel = posixpath.join("_change_data", hive_dir, base) \
                if hive_dir else posixpath.join("_change_data", base)
            staging.join(rel).rename(root.join(dst_rel))
            pvals = {}
            for seg in rel.split("/")[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    v = urllib.parse.unquote(v)
                    pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                        else v
            cdcs.append(Cdc(path=dst_rel,
                            size=root.join(dst_rel).file_size(),
                            partitionValues=pvals))
        staging.delete_dir()
        return cdcs

    def change_feed(self, start_version: "int | None" = None,
                    end_version: int | None = None, *,
                    starting_timestamp: Any = None,
                    ending_timestamp: Any = None) -> DataFrame:
        """Row-level Change Data Feed for versions
        ``(start_version, end_version]``: table schema plus
        ``_change_type`` (insert / delete / update_preimage /
        update_postimage), ``_commit_version`` and
        ``_commit_timestamp`` (r12 — delta-spark emits all three).

        Timestamp bounds (r12, delta-spark's startingTimestamp /
        endingTimestamp): ``starting_timestamp`` includes changes from
        the EARLIEST commit at or after it; ``ending_timestamp``
        includes changes up to the latest commit at or before it.
        Epoch ms / datetime / ISO string accepted; give a version or a
        timestamp per bound, not both.

        Per the Delta CDF spec: a commit WITH cdc actions yields exactly
        its cdc files' rows; a commit without them derives changes from
        its add/remove actions (adds with dataChange -> insert;
        removes with dataChange -> delete, scanning the tombstoned file,
        which is valid until VACUUM expires it).
        """
        if starting_timestamp is not None:
            if start_version is not None:
                raise ValueError("give start_version or "
                                 "starting_timestamp, not both")
            # first commit at-or-after the timestamp is INCLUDED in
            # the exclusive-start (start, end] window
            start_version = self._first_version_at_or_after(
                starting_timestamp) - 1
        if ending_timestamp is not None:
            if end_version is not None:
                raise ValueError("give end_version or "
                                 "ending_timestamp, not both")
            end_version = self._version_at_timestamp(ending_timestamp)
        if start_version is None:
            raise ValueError(
                "change_feed needs start_version or starting_timestamp")
        schema = self.schema
        assert schema is not None
        full = DeltaLog.load(self.log_location, use_checkpoint=False)
        end = end_version if end_version is not None else full.version

        def commit_ts_ms(v: int) -> "int | None":
            ci = full.entries[v].commit_info
            if ci is None:
                return None
            ict = (ci.extra or {}).get("inCommitTimestamp")
            return int(ict if ict is not None else ci.timestamp)

        out: DataFrame | None = None

        def stack(df: DataFrame, v: int):
            nonlocal out
            df = (df.withColumn("_commit_version", F.lit(v))
                  .withColumn("_commit_timestamp",
                              F.timestamp_millis(
                                  F.lit(commit_ts_ms(v)))))
            out = df if out is None else out.unionByName(df)

        cols = schema.fieldNames()
        for v in sorted(full.entries):
            if not (start_version < v <= end):
                continue
            entry = full.entries[v]
            cdcs = entry.cdcs
            if cdcs:
                files = [self.location.absloc(c.path).url for c in cdcs]
                cdc_schema = T.StructType(
                    list(schema.fields)
                    + [T.StructField(self._CHANGE_TYPE, T.StringType())])
                df = self._read_files(files, cdc_schema)
                # hive-partitioned cdc files: re-attach partition values
                pcols = [c for c in self.partition_columns if c in cols]
                if pcols:
                    by_path = {}
                    for c in cdcs:
                        by_path[_norm_uri(
                            self.location.absloc(c.path).url)] = c
                    raw = F.regexp_replace(
                        F.input_file_name(),
                        "^[a-zA-Z0-9+.-]+://?", "/")
                    raw = F.regexp_replace(raw, "^//+", "/")
                    df = df.withColumn(
                        "__xdl_path",
                        F.coalesce(F.try_url_decode(raw), raw))
                    mrows = [(p, *[(c.partitionValues or {}).get(pc)
                                   for pc in pcols])
                             for p, c in by_path.items()]
                    mschema = T.StructType(
                        [T.StructField("__xdl_path", T.StringType())]
                        + [T.StructField(f"__pv_{pc}", T.StringType())
                           for pc in pcols])
                    manifest = self.spark.createDataFrame(mrows, mschema)
                    df = df.join(F.broadcast(manifest), "__xdl_path")
                    for pc in pcols:
                        df = df.withColumn(
                            pc, F.col(f"__pv_{pc}")
                            .cast(schema[pc].dataType))
                df = df.select(*cols, self._CHANGE_TYPE)
                stack(df, v)
                continue
            ins = {a.path: a for a in entry.adds if a.dataChange}
            if ins:
                stack(self._scan(ins)
                      .withColumn(self._CHANGE_TYPE, F.lit("insert")),
                      v)
            dels = {r.path: None for r in entry.removes if r.dataChange}
            if dels:
                # the removed files' content: find their add actions in
                # earlier versions (still on disk until VACUUM)
                add_of: dict[str, Add] = {}
                for pv in sorted(full.entries):
                    if pv >= v:
                        break
                    for a in full.entries[pv].adds:
                        if a.path in dels:
                            add_of[a.path] = a
                if add_of:
                    stack(self._scan(add_of)
                          .withColumn(self._CHANGE_TYPE,
                                      F.lit("delete")), v)
        if out is None:
            cdc_schema = T.StructType(
                list(schema.fields)
                + [T.StructField(self._CHANGE_TYPE, T.StringType()),
                   T.StructField("_commit_version", T.LongType()),
                   T.StructField("_commit_timestamp",
                                 T.TimestampType())])
            return self.spark.createDataFrame([], cdc_schema)
        return out

    def create_or_replace_view(self, name: str) -> "DeltaTable":
        """Register this snapshot as a temp view so the full Spark SQL
        surface (joins, windows, CTEs) runs over the delta scan:
        ``table.create_or_replace_view("t"); spark.sql("SELECT ... FROM t")``.
        """
        self.to_df().createOrReplaceTempView(name)
        return self

    def to_pandas(self, where: str | None = None):
        return self.to_df(where).toPandas()

    def to_arrow(self, where: str | None = None):
        """Materialize the snapshot as a pyarrow Table (reference
        ``to_pyarrow_table``, __init__.py:145-151)."""
        return self.to_df(where).toArrow()

    def to_pyarrow_dataset(self):
        """LAZY pyarrow dataset over the live files (reference
        ``to_pyarrow_dataset``, __init__.py:127-143) — no Spark job, no
        data I/O until the caller scans. Each live file becomes a
        fragment whose partition expression carries the hive partition
        values, so pyarrow evaluates filters on partition columns
        without touching the file."""
        import functools
        import operator

        import pyarrow.dataset as pads

        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        # this path hands raw file fragments to the caller — row-level
        # deletes and physical-name mapping CANNOT be applied lazily
        # here, so refuse rather than silently return wrong data (the
        # Spark scan handles both: use to_df()/to_arrow() instead)
        dv = [p for p, a in self.adds.items()
              if (a.extra or {}).get("deletionVector")]
        if dv:
            raise NotImplementedError(
                f"{len(dv)} live file(s) carry deletion vectors (e.g. "
                f"{dv[0]!r}); a raw pyarrow dataset would resurrect "
                "deleted rows — use to_df()/to_arrow(), which apply "
                "the bitmaps.")
        if self.column_mapping_mode in ("name", "id"):
            raise NotImplementedError(
                "column-mapped tables expose physical parquet names; "
                "use to_df()/to_arrow(), which resolve the mapping.")
        try:
            from pyspark.sql.pandas.types import to_arrow_schema
            full = to_arrow_schema(self.schema)
        except ImportError:  # pragma: no cover - fallback, tiny job
            full = self.spark.createDataFrame([], self.schema) \
                .toArrow().schema
        import pyarrow.fs as pafs

        physical = pads.ParquetFileFormat()
        fs = pafs.LocalFileSystem()
        frags = []
        for rel, add in self.adds.items():
            exprs = []
            for k, v in (add.partitionValues or {}).items():
                typ = self.schema[k].dataType
                exprs.append(pads.field(k) == partition_value_to_python(v, typ))
            path = self.location.absloc(rel).path
            if exprs:
                frags.append(physical.make_fragment(
                    path, filesystem=fs,
                    partition_expression=functools.reduce(operator.and_,
                                                          exprs)))
            else:
                frags.append(physical.make_fragment(path, filesystem=fs))
        return pads.FileSystemDataset(
            frags, schema=full, format=physical, filesystem=fs)

    # -- schema / detail -------------------------------------------------------

    def add_columns(self, columns: "dict[str, str] | T.StructType",
                    custom_metadata: dict | None = None) -> "DeltaTable":
        """ALTER TABLE ADD COLUMNS: metadata-only commit — no data files
        are touched; existing rows read the new columns as NULL (the
        scan schema-fills missing parquet columns). ``columns`` maps
        name -> Spark SQL type string (``"bigint"``, ``"array<float>"``)
        or is a StructType."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        import dataclasses

        from .log.schema import schema_to_string
        if isinstance(columns, T.StructType):
            new_fields = list(columns.fields)
        else:
            new_fields = [
                T.StructField(name, T._parse_datatype_string(spec))
                for name, spec in columns.items()]
        existing = {f.name for f in self.schema.fields}
        for f in new_fields:
            if f.name in existing:
                raise ValueError(f"Column already exists: {f.name!r}")
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        if self.column_mapping_mode in ("name", "id"):
            # column-mapped tables: every new field needs a fresh
            # physical name and a field id past the high watermark
            # (delta.columnMapping.maxColumnId), per the spec — ids are
            # never reused even across drops
            next_id = int(cfg.get("delta.columnMapping.maxColumnId", 0))
            mapped = []
            for f in new_fields:
                next_id += 1
                fmeta = dict(f.metadata or {})
                fmeta["delta.columnMapping.id"] = next_id
                fmeta["delta.columnMapping.physicalName"] = \
                    f"col-{uuid.uuid4()}"
                mapped.append(T.StructField(f.name, f.dataType,
                                            f.nullable, fmeta))
            new_fields = mapped
            cfg["delta.columnMapping.maxColumnId"] = str(next_id)
        schema = T.StructType(list(self.schema.fields) + new_fields)
        md = dataclasses.replace(md, schemaString=schema_to_string(schema),
                                 configuration=cfg)
        entry = properties_table_entry(
            md, "ADD COLUMNS",
            {"columns": json.dumps([f.name for f in new_fields])},
            self.version, custom_metadata)
        return self._commit(entry)

    #: Delta typeWidening transitions this engine supports end-to-end:
    #: Spark's parquet reader upcasts the narrow physical type to the
    #: wide table schema natively, so old files need no rewrite. The
    #: spec's date->timestampNTZ and decimal widenings need per-file
    #: conversion Spark does not do implicitly — refused loudly.
    SUPPORTED_WIDENINGS = frozenset({
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("byte", "double"), ("short", "integer"), ("short", "long"),
        ("short", "double"), ("integer", "long"),
        ("integer", "double"), ("float", "double"),
    })

    _DELTA_TYPE_NAMES = {"ByteType": "byte", "ShortType": "short",
                         "IntegerType": "integer", "LongType": "long",
                         "FloatType": "float", "DoubleType": "double"}

    def widen_column(self, column: str, new_type: str,
                     custom_metadata: dict | None = None
                     ) -> "DeltaTable":
        """ALTER TABLE ALTER COLUMN TYPE — Delta's ``typeWidening``
        table feature: a metadata-only commit moves the column to a
        wider type; files already written keep their narrow physical
        type and upcast on read (Spark's parquet reader does
        byte/short/int -> int/long/double and float -> double
        natively), new writes use the wide type. The widening history
        is recorded in the field's ``delta.typeChanges`` metadata per
        the spec, and the protocol gains the feature on both sides.
        """
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        import dataclasses

        from .log.schema import schema_to_string
        names = [f.name for f in self.schema.fields]
        if column not in names:
            raise ValueError(f"Unknown column: {column!r}")
        old = self.schema[column]
        to_t = T._parse_datatype_string(new_type)
        frm = self._DELTA_TYPE_NAMES.get(type(old.dataType).__name__)
        to = self._DELTA_TYPE_NAMES.get(type(to_t).__name__)
        if (frm, to) not in self.SUPPORTED_WIDENINGS:
            raise ValueError(
                f"unsupported type widening {column!r}: "
                f"{old.dataType.simpleString()} -> "
                f"{to_t.simpleString()} (supported: byte/short/int "
                "-> wider integer or double, float -> double)")
        if column in self.partition_columns:
            raise ValueError(
                f"cannot widen partition column {column!r} (directory "
                "values would no longer round-trip)")
        fmeta = dict(old.metadata or {})
        changes = list(fmeta.get("delta.typeChanges") or [])
        changes.append({"fromType": frm, "toType": to})
        fmeta["delta.typeChanges"] = changes
        fields = [T.StructField(f.name, to_t, f.nullable, fmeta)
                  if f.name == column else f
                  for f in self.schema.fields]
        md = self.log.metadata()
        md = dataclasses.replace(
            md, schemaString=schema_to_string(T.StructType(fields)))
        entry = properties_table_entry(
            md, "CHANGE COLUMN",
            {"column": column, "fromType": frm, "toType": to},
            self.version, custom_metadata)
        up = self._feature_protocol_action({"typeWidening"},
                                           {"typeWidening"})
        if up is not None:
            entry.actions.insert(0, up)
        return self._commit(entry)

    def _check_type_widening_readable(self) -> None:
        """A table carrying the typeWidening feature may hold widenings
        we cannot read (date -> timestampNTZ, decimal growth): the
        parquet scan would fail or — worse — misread. Verify every
        recorded transition is in the natively-upcast family. The spec
        records ``delta.typeChanges`` on NESTED StructFields too (with
        a fieldPath), so the walk recurses through struct/array/map."""
        def check_fields(fields, prefix):
            for f in fields:
                for ch in ((f.metadata or {}).get("delta.typeChanges")
                           or []):
                    pair = (ch.get("fromType"), ch.get("toType"))
                    if pair not in self.SUPPORTED_WIDENINGS:
                        raise NotImplementedError(
                            f"column {prefix + f.name!r} was widened "
                            f"{pair[0]} -> {pair[1]}; only "
                            "integer/float widenings are readable by "
                            "this engine")
                check_type(f.dataType, prefix + f.name + ".")

        def check_type(dt, prefix):
            if isinstance(dt, T.StructType):
                check_fields(dt.fields, prefix)
            elif isinstance(dt, T.ArrayType):
                check_type(dt.elementType, prefix + "element.")
            elif isinstance(dt, T.MapType):
                check_type(dt.keyType, prefix + "key.")
                check_type(dt.valueType, prefix + "value.")

        check_fields(self.schema.fields if self.schema else [], "")

    def enable_column_mapping(self, mode: str = "name",
                              custom_metadata: dict | None = None
                              ) -> "DeltaTable":
        """Upgrade the table to column mapping (``delta.columnMapping.
        mode`` = ``name`` or ``id``), unlocking :meth:`rename_column` /
        :meth:`drop_column` as metadata-only operations.

        Per the Delta spec's upgrade rule: every existing field gets
        ``delta.columnMapping.id`` (1..n in schema order) and
        ``delta.columnMapping.physicalName`` = its CURRENT name — so
        parquet files written before the upgrade keep resolving —
        ``delta.columnMapping.maxColumnId`` records the id high
        watermark, and the enabling commit carries a protocol upgrade
        declaring columnMapping as a reader AND writer feature
        (readers that ignore mapping would misread renamed tables).

        ``id`` mode resolves columns by parquet FIELD ID, which files
        written before the upgrade do not carry — so id mode is only
        allowed while the table has no live data files (same posture
        as delta-spark, which restricts id mode to new tables).
        Columns added later get ``col-<uuid>`` physical names.
        """
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if mode not in ("name", "id"):
            raise ValueError(
                f"column mapping mode must be 'name' or 'id': {mode!r}")
        cur = self.column_mapping_mode
        if cur == mode:
            return self
        if cur not in ("none", ""):
            raise NotImplementedError(
                f"cannot switch column mapping {cur!r} -> {mode!r}")
        if mode == "id" and self.adds:
            raise NotImplementedError(
                "id-mode column mapping resolves by parquet field id, "
                "which files written before the upgrade do not carry — "
                "enable id mode only on a table with no data files "
                "(use mode='name' here)")
        import dataclasses
        fields = []
        for i, f in enumerate(self.schema.fields, start=1):
            fmeta = dict(f.metadata or {})
            fmeta["delta.columnMapping.id"] = i
            fmeta["delta.columnMapping.physicalName"] = f.name
            fields.append(T.StructField(f.name, f.dataType, f.nullable,
                                        fmeta))
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        cfg["delta.columnMapping.mode"] = mode
        cfg["delta.columnMapping.maxColumnId"] = str(len(fields))
        md = dataclasses.replace(
            md, schemaString=schema_to_string(T.StructType(fields)),
            configuration=cfg)
        entry = properties_table_entry(
            md, "SET TBLPROPERTIES",
            {"properties": json.dumps({"delta.columnMapping.mode": mode})},
            self.version, custom_metadata)
        up = self._feature_protocol_action({"columnMapping"},
                                           {"columnMapping"})
        if up is not None:
            entry.actions.insert(0, up)
        return self._commit(entry)

    def _check_column_unreferenced(self, name: str, op: str) -> None:
        """Refuse rename/drop when a CHECK constraint or generated
        column expression references the column — the stored SQL text
        would silently break (delta-spark blocks the same way)."""
        import re as _re
        pat = _re.compile(rf"\b{_re.escape(name)}\b", _re.IGNORECASE)
        for cname, expr in self.constraints.items():
            if pat.search(expr):
                raise ValueError(
                    f"{op} {name!r}: CHECK constraint {cname!r} "
                    f"references it ({expr}); drop the constraint first")
        for f in self.schema.fields:
            gexpr = (f.metadata or {}).get("delta.generationExpression")
            if gexpr and f.name != name and pat.search(gexpr):
                raise ValueError(
                    f"{op} {name!r}: generated column {f.name!r} "
                    f"references it ({gexpr})")

    def rename_column(self, old: str, new: str,
                      custom_metadata: dict | None = None
                      ) -> "DeltaTable":
        """ALTER TABLE RENAME COLUMN — metadata-only: the logical name
        changes in the log while the field keeps its physical name and
        id, so no data file is touched and concurrent readers of older
        versions still resolve. Requires column mapping
        (:meth:`enable_column_mapping`); renaming a partition column
        updates ``partitionColumns`` too (add.partitionValues are
        physically keyed, so existing files keep working)."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if self.column_mapping_mode not in ("name", "id"):
            raise NotImplementedError(
                "RENAME COLUMN requires column mapping — call "
                "enable_column_mapping() first (without it, parquet "
                "files are keyed by the logical name)")
        names = [f.name for f in self.schema.fields]
        if old not in names:
            raise ValueError(f"No such column: {old!r}")
        if new in names:
            raise ValueError(f"Column already exists: {new!r}")
        self._check_column_unreferenced(old, "cannot rename")
        import dataclasses
        fields = [f if f.name != old
                  else T.StructField(new, f.dataType, f.nullable,
                                     dict(f.metadata or {}))
                  for f in self.schema.fields]
        md = self.log.metadata()
        pcols = [new if c == old else c for c in md.partitionColumns]
        md = dataclasses.replace(
            md, schemaString=schema_to_string(T.StructType(fields)),
            partitionColumns=pcols)
        entry = properties_table_entry(
            md, "RENAME COLUMN",
            {"from": old, "to": new}, self.version, custom_metadata)
        return self._commit(entry)

    def drop_column(self, name: str,
                    custom_metadata: dict | None = None) -> "DeltaTable":
        """ALTER TABLE DROP COLUMN — metadata-only: the field leaves
        the logical schema; its data stays in the parquet files
        (readable via time travel) but no longer scans. Requires
        column mapping; partition columns and the last remaining
        column cannot be dropped. The field's id stays burned
        (maxColumnId never decreases), so a later same-named column
        gets a fresh physical identity instead of resurrecting the
        old bytes."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if self.column_mapping_mode not in ("name", "id"):
            raise NotImplementedError(
                "DROP COLUMN requires column mapping — call "
                "enable_column_mapping() first")
        names = [f.name for f in self.schema.fields]
        if name not in names:
            raise ValueError(f"No such column: {name!r}")
        if name in self.partition_columns:
            raise ValueError(f"Cannot drop partition column {name!r}")
        if len(names) == 1:
            raise ValueError("Cannot drop the only column")
        self._check_column_unreferenced(name, "cannot drop")
        import dataclasses
        fields = [f for f in self.schema.fields if f.name != name]
        md = dataclasses.replace(
            self.log.metadata(),
            schemaString=schema_to_string(T.StructType(fields)))
        entry = properties_table_entry(
            md, "DROP COLUMN", {"column": name},
            self.version, custom_metadata)
        return self._commit(entry)

    def set_properties(self, props: dict[str, "str | None"],
                       custom_metadata: dict | None = None) -> "DeltaTable":
        """SET/UNSET TBLPROPERTIES: metadata-only commit merging
        ``props`` into the table configuration; a None value removes
        the key. Recognized behavior keys take effect immediately —
        ``delta.appendOnly='true'`` makes every subsequent
        delete/update/row-modifying-merge/overwrite/restore raise
        (Delta's append-only table contract)."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        import dataclasses
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        for k, v in props.items():
            if v is None:
                cfg.pop(k, None)
            else:
                cfg[k] = str(v)
        # Enabling in-commit timestamps on an existing table: the spec
        # requires the enabling commit itself to (a) declare the writer
        # feature, (b) carry an inCommitTimestamp, and (c) record the
        # enablement version + timestamp as table properties so readers
        # know where the ICT clock starts.
        # Enabling UniForm Iceberg / icebergCompatV2: the enabling
        # commit declares the writer feature, and a table with live
        # deletion vectors refuses enablement (the Iceberg snapshot
        # cannot represent DVs — purge first; delta-spark's rule)
        enabling_iceberg = (
            ("iceberg" in str(props.get(
                "delta.universalFormat.enabledFormats", "") or ""
                ).lower()
             or str(props.get("delta.enableIcebergCompatV2", "")
                    ).lower() == "true")
            and not self.iceberg_compat_enabled)
        if enabling_iceberg:
            dv_live = [p for p, a in self.adds.items()
                       if (a.extra or {}).get("deletionVector")]
            if dv_live:
                raise ValueError(
                    "cannot enable icebergCompatV2/UniForm Iceberg: "
                    f"{len(dv_live)} live file(s) carry deletion "
                    "vectors the Iceberg snapshot cannot represent — "
                    "run reorg_purge() first (delta-spark refuses this "
                    "combination too)")
        enabling_ict = (
            str(props.get("delta.enableInCommitTimestamps", "")
                ).lower() == "true" and not self.ict_enabled)
        ict = None
        if enabling_ict:
            prev = self._last_ict()
            ict = max(timestamp_ms(),
                      (prev + 1) if prev is not None else 0)
            cfg.setdefault("delta.inCommitTimestampEnablementVersion",
                           str(self.version + 1))
            cfg.setdefault("delta.inCommitTimestampEnablementTimestamp",
                           str(ict))
        md = dataclasses.replace(md, configuration=cfg)
        entry = properties_table_entry(
            md, "SET TBLPROPERTIES",
            {"properties": json.dumps(
                {k: v for k, v in props.items()})},
            self.version, custom_metadata)
        if enabling_iceberg:
            up = self._feature_protocol_action(set(),
                                               {"icebergCompatV2"})
            if up is not None:
                entry.actions.insert(0, up)
        if enabling_ict:
            up = self._feature_protocol_action(set(),
                                               {"inCommitTimestamp"})
            if up is not None:
                entry.actions.insert(0, up)
            ci = entry.commit_info
            ci.extra["inCommitTimestamp"] = ict
            ci.timestamp = ict
            entry.actions.remove(ci)
            entry.actions.insert(0, ci)
        return self._commit(entry)

    @property
    def append_only(self) -> bool:
        """True when delta.appendOnly='true' is set on the table."""
        if not self.log:
            return False
        cfg = self.log.metadata().configuration or {}
        return str(cfg.get("delta.appendOnly", "false")).lower() == "true"

    def _require_mutable(self, op: str) -> None:
        if self.append_only:
            raise ValueError(
                f"{op} is not allowed: table is append-only "
                "(delta.appendOnly=true); unset the property first")

    @property
    def iceberg_compat_enabled(self) -> bool:
        """True when the icebergCompatV2 invariants are active:
        ``delta.enableIcebergCompatV2=true``, or UniForm Iceberg
        (``delta.universalFormat.enabledFormats`` containing
        ``iceberg``) which requires V2 compat in delta-spark. While
        active, commits must not write deletion vectors — the
        generated Iceberg snapshot cannot represent them, so an
        Iceberg reader would resurrect the deleted rows."""
        if not self.log:
            return False
        cfg = self.log.metadata().configuration or {}
        if str(cfg.get("delta.enableIcebergCompatV2", "false")
               ).lower() == "true":
            return True
        return "iceberg" in str(
            cfg.get("delta.universalFormat.enabledFormats", "")).lower()

    @property
    def row_tracking_enabled(self) -> bool:
        """True when delta.enableRowTracking='true' is set."""
        if not self.log:
            return False
        cfg = self.log.metadata().configuration or {}
        return str(cfg.get("delta.enableRowTracking", "false")
                   ).lower() == "true"

    @property
    def _row_tracking_supported(self) -> bool:
        """True when the writer protocol declares the rowTracking
        feature. Spec: a writer on such a table MUST assign fresh row
        ids to every new add even if delta.enableRowTracking is unset
        (supported != enabled — enablement only governs whether
        readers may rely on the ids)."""
        if not self.log:
            return False
        proto = self.log.protocol()
        wf = set((proto.extra or {}).get("writerFeatures") or [])
        return "rowTracking" in wf

    def enable_row_tracking(self,
                            custom_metadata: dict | None = None
                            ) -> "DeltaTable":
        """Enable Delta row tracking: every subsequently-committed add
        carries ``baseRowId`` / ``defaultRowCommitVersion``, the row-id
        high watermark is maintained in the ``delta.rowTracking``
        domain metadata, and :meth:`to_df_with_row_ids` surfaces stable
        ``_row_id`` / ``_commit_version`` columns (fresh row id =
        baseRowId + physical row index — no materialized column
        needed until a row is rewritten).

        The enabling commit upgrades the writer protocol to (.., 7)
        with the ``rowTracking`` + ``domainMetadata`` features (spec:
        rowTracking requires domainMetadata). Files written BEFORE
        enablement have no ids; this engine backfills them in the
        enabling commit by assigning base ids to every live add (in
        path order) so the whole table is immediately addressable.

        Limitation (documented, loud): without materialized row-id
        columns, a rewrite (OPTIMIZE / copy-on-write DELETE-update
        survivors) assigns FRESH ids to the rewritten rows — this
        matches the spec's fresh-row-id fallback, not its row-id
        preservation guarantee.
        """
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if self.row_tracking_enabled:
            return self
        import dataclasses
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        cfg["delta.enableRowTracking"] = "true"
        md = dataclasses.replace(md, configuration=cfg)
        entry = properties_table_entry(
            md, "SET TBLPROPERTIES",
            {"properties": json.dumps({"delta.enableRowTracking":
                                       "true"})},
            self.version, custom_metadata)
        up = self._feature_protocol_action(
            set(), {"rowTracking", "domainMetadata"})
        if up is not None:
            entry.actions.insert(0, up)
        # backfill: re-add live files LACKING a base id so
        # pre-enablement data gets row ids in the same commit; a file
        # that already carries baseRowId (disable → re-enable cycle)
        # keeps its ids — row-id stability over reassignment, matching
        # _stamp_row_tracking's keep-existing-id behavior
        hw = self.log.row_id_high_watermark()
        for path in sorted(self.adds):
            add = self.adds[path]
            if (add.extra or {}).get("baseRowId") is not None:
                continue
            n = (add.stats_dict or {}).get("numRecords")
            if n is None:
                raise ValueError(
                    f"cannot enable row tracking: live file {path!r} "
                    "has no numRecords statistics to size its row-id "
                    "range")
            new = dataclasses.replace(
                add, dataChange=False,
                extra={**(add.extra or {}), "baseRowId": hw + 1,
                       "defaultRowCommitVersion": self.version + 1})
            hw += int(n)
            entry.actions.append(new)
        from .log.actions import DomainMetadata
        entry.actions.append(DomainMetadata(
            domain="delta.rowTracking",
            configuration=json.dumps({"rowIdHighWaterMark": hw})))
        return self._commit(entry)

    def _stamp_row_tracking(self, entry: DeltaLogEntry) -> None:
        """Assign fresh row ids to this commit's new adds (row tracking
        enabled): consecutive baseRowId ranges from the current high
        watermark, in add order, sized by each file's numRecords;
        defaultRowCommitVersion = the version being committed; the
        watermark advances via a ``delta.rowTracking`` domainMetadata
        action in the same commit.

        Re-entrant for the OCC retry path: the set of adds stamped by
        the FIRST attempt is remembered on the entry, so a rebase
        re-stamps exactly those adds from the rebased log's watermark
        (an add that already carried an id from a prior commit — e.g.
        a restore re-adding an old file — keeps it)."""
        from .log.actions import DomainMetadata

        stamped = getattr(entry, "_rt_paths", None)
        if stamped is None:
            stamped = {a.path for a in entry.adds
                       if "baseRowId" not in (a.extra or {})}
            entry._rt_paths = stamped
        if not stamped:
            return  # e.g. RESTORE re-adding already-tracked files
        hw = self.log.row_id_high_watermark()
        for add in entry.adds:
            if add.path not in stamped:
                continue
            n = (add.stats_dict or {}).get("numRecords")
            if n is None:
                raise ValueError(
                    f"row tracking requires numRecords statistics on "
                    f"every add: {add.path!r} has none")
            add.extra = {**(add.extra or {}), "baseRowId": hw + 1,
                         "defaultRowCommitVersion":
                             self._version_to_write}
            hw += int(n)
        entry.actions = [a for a in entry.actions
                         if not (isinstance(a, DomainMetadata)
                                 and a.domain == "delta.rowTracking")]
        entry.actions.append(DomainMetadata(
            domain="delta.rowTracking",
            configuration=json.dumps({"rowIdHighWaterMark": hw})))

    def to_df_with_row_ids(self, where: str | None = None) -> DataFrame:
        """Snapshot scan with row tracking columns: the table schema
        plus ``_row_id`` (stable fresh row id = add.baseRowId +
        physical ``_metadata.row_index``) and ``_commit_version``
        (the add's defaultRowCommitVersion).

        One scan over all live files + a broadcast manifest join keyed
        on the file path (the same shape as the general partition-
        attach path — manifest-sized driver state, never row-sized).
        Deletion vectors compose through the scan's own mask
        (:meth:`_apply_deletion_vectors`), which keys on the physical
        ``_metadata.row_index``, so surviving rows keep their original
        physical index and therefore their original row id."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if not self.row_tracking_enabled:
            raise ValueError(
                "row tracking is not enabled on this table — call "
                "enable_row_tracking() first")
        if self.column_mapping_mode not in ("none", ""):
            raise NotImplementedError(
                "row-id reads on column-mapped tables are not "
                "supported yet")
        self._check_reader_protocol()
        schema = self.schema
        adds = self._pruned_adds(where)
        if not adds:
            out_schema = T.StructType(
                schema.fields
                + [T.StructField("_row_id", T.LongType()),
                   T.StructField("_commit_version", T.LongType())])
            return self.spark.createDataFrame([], out_schema)
        pcols = [c for c in self.partition_columns
                 if c in schema.fieldNames()]
        data_schema = T.StructType(
            [f for f in schema.fields if f.name not in pcols])
        files = [self.location.absloc(p).url for p in adds]
        mrows = []
        for p, add in adds.items():
            base = (add.extra or {}).get("baseRowId")
            if base is None:
                raise ValueError(
                    f"live file {p!r} has no baseRowId — it was "
                    "committed by an engine that ignored the row "
                    "tracking feature; the table's row ids are not "
                    "trustworthy")
            mrows.append(
                (_strip_scheme(self.location.absloc(p).url), int(base),
                 int((add.extra or {}).get("defaultRowCommitVersion")
                     or -1),
                 *[(add.partitionValues or {}).get(c) for c in pcols]))
        mschema = T.StructType(
            [T.StructField("__xdl_path", T.StringType()),
             T.StructField("__base_rid", T.LongType()),
             T.StructField("__dcv", T.LongType())]
            + [T.StructField(f"__pv_{c}", T.StringType())
               for c in pcols])
        manifest = self.spark.createDataFrame(mrows, mschema)
        raw = F.regexp_replace(F.input_file_name(),
                               "^[a-zA-Z0-9+.-]+://?", "/")
        raw = F.regexp_replace(raw, "^//+", "/")
        # tag file and position on the raw scan, before the DV mask:
        # past _DV_BROADCAST_MAX the anti-join shuffles the scan, and
        # input_file_name() above that exchange reads ''
        scan = self._apply_deletion_vectors(
            self._read_files(files, data_schema).withColumns({
                "__xdl_pos": F.col("_metadata.row_index"),
                "__xdl_path": F.coalesce(F.try_url_decode(raw), raw)}),
            self._deleted_rows(adds))
        out = scan.join(F.broadcast(manifest), "__xdl_path")
        for c in pcols:
            out = out.withColumn(
                c, F.col(f"__pv_{c}").cast(schema[c].dataType))
        out = (out.withColumn("_row_id",
                              F.col("__base_rid") + F.col("__xdl_pos"))
               .withColumn("_commit_version", F.col("__dcv")))
        out = out.select(*schema.fieldNames(), "_row_id",
                         "_commit_version")
        if where:
            out = out.filter(where)
        return out

    def describe_detail(self) -> dict:
        """DESCRIBE DETAIL-style summary of the current snapshot."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        md = self.log.metadata()
        return {
            "format": "delta",
            "id": md.id,
            "location": self.location.url,
            "createdTime": md.createdTime,
            "numFiles": len(self.adds),
            "sizeInBytes": sum(a.size or 0 for a in self.adds.values()),
            "numRecords": sum((a.stats_dict or {}).get("numRecords", 0)
                              for a in self.adds.values()),
            # physical numRecords minus DV cardinality = logical rows
            "numDeletionVectors": sum(
                1 for a in self.adds.values()
                if (a.extra or {}).get("deletionVector")),
            "numDeletedRecords": sum(
                int(((a.extra or {}).get("deletionVector") or {})
                    .get("cardinality") or 0)
                for a in self.adds.values()),
            "partitionColumns": list(self.partition_columns),
            "properties": dict(md.configuration or {}),
            "minReaderVersion": self.log.protocol().minReaderVersion,
            "minWriterVersion": self.log.protocol().minWriterVersion,
            "version": self.version,
        }

    # -- constraints -----------------------------------------------------------

    #: Table-property prefix for CHECK constraints — the Delta protocol's
    #: own key shape, so delta-spark reads/enforces the same constraints.
    _CONSTRAINT_PREFIX = "delta.constraints."

    @property
    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name -> SQL expression."""
        if not self.log:
            return {}
        cfg = self.log.metadata().configuration or {}
        p = self._CONSTRAINT_PREFIX
        return {k[len(p):]: v for k, v in cfg.items() if k.startswith(p)}

    def add_constraint(self, name: str, expr: str,
                       custom_metadata: dict | None = None) -> "DeltaTable":
        """ADD CONSTRAINT (CHECK): existing rows must already satisfy
        ``expr`` (one scan job that stops at the first violation), then
        a metadata-only commit records it; every subsequent write/merge
        enforces it inline. NULL evaluates as satisfied (SQL CHECK
        semantics, same as Delta)."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        name = name.lower()
        if name in self.constraints:
            raise ValueError(f"Constraint {name!r} already exists")
        ok = F.coalesce(F.expr(expr), F.lit(True))
        if self.to_df().filter(~ok).limit(1).count():
            raise ValueError(
                f"Cannot add CHECK constraint {name!r}: existing rows "
                f"violate ({expr})")
        import dataclasses
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        cfg[self._CONSTRAINT_PREFIX + name] = expr
        md = dataclasses.replace(md, configuration=cfg)
        entry = properties_table_entry(
            md, "ADD CONSTRAINT", {"name": name, "expr": expr},
            self.version, custom_metadata)
        return self._commit(entry)

    def drop_constraint(self, name: str,
                        custom_metadata: dict | None = None) -> "DeltaTable":
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        name = name.lower()
        if name not in self.constraints:
            raise ValueError(f"No such constraint: {name!r}")
        import dataclasses
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        expr = cfg.pop(self._CONSTRAINT_PREFIX + name)
        md = dataclasses.replace(md, configuration=cfg)
        entry = properties_table_entry(
            md, "DROP CONSTRAINT", {"name": name, "expr": expr},
            self.version, custom_metadata)
        return self._commit(entry)

    # -- column defaults -------------------------------------------------------

    @property
    def column_defaults(self) -> dict[str, str]:
        """Active column DEFAULTs: name -> SQL expression, from the
        field metadata key ``CURRENT_DEFAULT`` (the Delta
        ``allowColumnDefaults`` feature's storage, shared with Spark's
        own DEFAULT implementation)."""
        if self.schema is None:
            return {}
        out: dict[str, str] = {}
        for f in self.schema.fields:
            d = (f.metadata or {}).get("CURRENT_DEFAULT")
            if d is not None:
                out[f.name] = d
        return out

    def set_column_default(self, column: str, expr: str,
                           custom_metadata: dict | None = None
                           ) -> "DeltaTable":
        """ALTER TABLE ALTER COLUMN SET DEFAULT — Delta's
        ``allowColumnDefaults`` writer feature: a metadata-only commit
        records a constant SQL expression in the field's
        ``CURRENT_DEFAULT`` metadata; every subsequent :meth:`write`
        that omits the column fills it with the default instead of
        NULL. Per the spec (and Spark), the expression must be
        CONSTANT — column references are rejected at DDL time by
        analyzing it against a zero-column plan. Defaults only apply
        to columns that already existed when rows were written
        (existence defaults — backfilling an added column — are
        explicitly unsupported by the Delta feature). Generated and
        identity columns already have a writer-supplied value, so a
        default on one is contradictory and refused."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        import dataclasses

        from .log.schema import schema_to_string
        names = [f.name for f in self.schema.fields]
        if column not in names:
            raise ValueError(f"Unknown column: {column!r}")
        if column in self._generated_columns():
            raise ValueError(
                f"column {column!r} is a generated column — its value "
                "is always computed; a DEFAULT would never apply")
        if column in self._identity_columns():
            raise ValueError(
                f"column {column!r} is an identity column — its value "
                "is always generated; a DEFAULT would never apply")
        # constant-fold check: analyze against a columnless plan so any
        # column reference fails resolution, then cast to the column
        # type so an incompatible default is refused now, not at write
        try:
            self.spark.sql(f"SELECT CAST(({expr}) AS "
                           f"{self.schema[column].dataType.simpleString()})"
                           ).collect()
        except Exception as exc:
            raise ValueError(
                f"DEFAULT for {column!r} must be a constant expression "
                f"castable to {self.schema[column].dataType.simpleString()}"
                f": {expr!r} ({exc})") from None
        fields = []
        for f in self.schema.fields:
            if f.name == column:
                fmeta = dict(f.metadata or {})
                fmeta["CURRENT_DEFAULT"] = expr
                f = T.StructField(f.name, f.dataType, f.nullable, fmeta)
            fields.append(f)
        md = self.log.metadata()
        md = dataclasses.replace(
            md, schemaString=schema_to_string(T.StructType(fields)))
        entry = properties_table_entry(
            md, "ALTER COLUMN", {"column": column, "default": expr},
            self.version, custom_metadata)
        up = self._feature_protocol_action(set(),
                                           {"allowColumnDefaults"})
        if up is not None:
            entry.actions.insert(0, up)
        return self._commit(entry)

    def drop_column_default(self, column: str,
                            custom_metadata: dict | None = None
                            ) -> "DeltaTable":
        """ALTER TABLE ALTER COLUMN DROP DEFAULT (metadata-only; the
        feature stays declared — spec features are one-way)."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if column not in self.column_defaults:
            raise ValueError(f"No DEFAULT on column: {column!r}")
        import dataclasses

        from .log.schema import schema_to_string
        fields = []
        for f in self.schema.fields:
            if f.name == column:
                fmeta = dict(f.metadata or {})
                expr = fmeta.pop("CURRENT_DEFAULT")
                f = T.StructField(f.name, f.dataType, f.nullable, fmeta)
            fields.append(f)
        md = self.log.metadata()
        md = dataclasses.replace(
            md, schemaString=schema_to_string(T.StructType(fields)))
        entry = properties_table_entry(
            md, "ALTER COLUMN", {"column": column, "dropDefault": expr},
            self.version, custom_metadata)
        return self._commit(entry)

    def _invariants(self) -> dict[str, str]:
        """Column invariants (legacy writer-v2 feature): schema field
        metadata ``delta.invariants`` holds
        ``{"expression": {"expression": "<sql>"}}``. Enforced on every
        data-adding path exactly like CHECK constraints."""
        if self.schema is None:
            return {}
        out: dict[str, str] = {}
        for f in self.schema.fields:
            inv = (f.metadata or {}).get("delta.invariants")
            if not inv:
                continue
            try:
                out[f.name] = json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                raise NotImplementedError(
                    f"unparseable delta.invariants on column "
                    f"{f.name!r}: {inv!r} — refusing to write without "
                    "enforcing it")
        return out

    def _generated_columns(self) -> dict[str, str]:
        """Generated columns (writer-v4 feature): schema field metadata
        ``delta.generationExpression`` -> SQL expression over the other
        columns. The writer computes them when absent from the input and
        verifies them when provided (Delta writer spec)."""
        if self.schema is None:
            return {}
        return {f.name: (f.metadata or {})["delta.generationExpression"]
                for f in self.schema.fields
                if (f.metadata or {}).get("delta.generationExpression")}

    def _identity_columns(self) -> dict[str, dict]:
        """Identity columns (writer-v6 feature): per-field
        ``delta.identity.start`` / ``delta.identity.step`` /
        ``delta.identity.allowExplicitInsert`` /
        ``delta.identity.highWaterMark`` metadata. The writer generates
        values when the column is omitted and maintains the high
        watermark (Delta spec; the previous posture refused commits)."""
        if self.schema is None:
            return {}
        out: dict[str, dict] = {}
        for f in self.schema.fields:
            md = f.metadata or {}
            if "delta.identity.start" not in md \
                    and "delta.identity.step" not in md:
                continue
            step = int(md.get("delta.identity.step", 1))
            if step == 0:
                raise ValueError(
                    f"identity column {f.name!r} has step 0")
            out[f.name] = {
                "start": int(md.get("delta.identity.start", 1)),
                "step": step,
                "allowExplicitInsert": bool(
                    md.get("delta.identity.allowExplicitInsert", False)),
                "highWaterMark": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md else None),
            }
        return out

    @staticmethod
    def _identity_base(spec: dict) -> int:
        """First value to generate: ``start`` on a fresh column, else
        the smallest (largest, for negative step) value strictly past
        the high watermark that stays congruent to ``start`` mod
        ``step`` — explicit inserts may have pushed the watermark off
        the grid, and generated values must return to it (Delta
        identity spec)."""
        start, step, hwm = spec["start"], spec["step"], \
            spec["highWaterMark"]
        if hwm is None:
            return start
        r = (start - hwm) % step  # python %: sign follows step
        return hwm + (r if r != 0 else step)

    def _generate_identity(self, df: DataFrame, provided: set
                           ) -> tuple[DataFrame, list[str]]:
        """Fill omitted identity columns with fresh unique values past
        the watermark; validate explicit values are allowed. Returns
        (df, names of identity columns present in this write).
        Generation is ``base + step * monotonically_increasing_id()``
        — distributed, no coordination; gaps are allowed by the spec
        (the id space is per-partition blocks), uniqueness and
        congruence are guaranteed."""
        ids = self._identity_columns()
        if not ids:
            return df, []
        touched = []
        for c, spec in sorted(ids.items()):
            touched.append(c)
            if c in provided:
                if not spec["allowExplicitInsert"]:
                    raise ValueError(
                        f"identity column {c!r} has "
                        "allowExplicitInsert=false; omit it to have "
                        "values generated")
                continue
            base = self._identity_base(spec)
            df = df.withColumn(
                c, (F.lit(base) + F.lit(spec["step"])
                    * F.monotonically_increasing_id())
                .cast(self.schema[c].dataType))
        return df, touched

    def _identity_watermark_schema(self, new_adds: list[Add],
                                   touched: list[str]
                                   ) -> "T.StructType | None":
        """After a write involving identity columns, advance each high
        watermark from the new files' footer stats (no extra job) and
        return an updated schema to re-declare in the commit's
        metaData; None when nothing advanced."""
        if not touched or not new_adds:
            return None
        ids = self._identity_columns()
        changed = False
        new_fields = []
        for f in self.schema.fields:
            if f.name not in ids or f.name not in touched:
                new_fields.append(f)
                continue
            spec = ids[f.name]
            step = spec["step"]
            vals, missing = [], []
            for a in new_adds:
                st = a.stats_dict or {}
                key = "maxValues" if step > 0 else "minValues"
                v = (st.get(key) or {}).get(f.name)
                if v is None:
                    missing.append(a.path)
                else:
                    vals.append(int(v))
            if missing:
                # footer stats absent for some file: one agg job over
                # just those files — the watermark MUST advance, or the
                # next write would regenerate the same values
                files = [self.location.absloc(p).url for p in missing]
                agg = F.max(f.name) if step > 0 else F.min(f.name)
                # explicit schema: no footer-inference job
                col_schema = T.StructType(
                    [T.StructField(f.name, f.dataType)])
                row = (self._read_files(files, col_schema)
                       .agg(agg.alias("v")).collect()[0])
                if row["v"] is not None:
                    vals.append(int(row["v"]))
            if not vals:
                new_fields.append(f)
                continue
            extreme = max(vals) if step > 0 else min(vals)
            hwm = spec["highWaterMark"]
            if hwm is None or (step > 0 and extreme > hwm) \
                    or (step < 0 and extreme < hwm):
                md = dict(f.metadata or {})
                md["delta.identity.highWaterMark"] = extreme
                new_fields.append(T.StructField(
                    f.name, f.dataType, f.nullable, md))
                changed = True
            else:
                new_fields.append(f)
        return T.StructType(new_fields) if changed else None

    def _apply_constraints(self, df: DataFrame) -> DataFrame:
        """Inline CHECK + column-invariant enforcement: an always-true
        filter built from ``assert_true`` — zero extra scan of the
        incoming data; the write job itself raises on the first
        violating row (violations abort the commit; the staged files
        are cleaned up). NULL satisfies (SQL CHECK semantics, matching
        Delta)."""
        checks = [(f"CHECK constraint {n} ({e})", e)
                  for n, e in sorted(self.constraints.items())]
        checks += [(f"column invariant on {c} ({e})", e)
                   for c, e in sorted(self._invariants().items())]
        if not checks:
            return df
        pred = F.lit(True)
        for label, e in checks:
            ok = F.coalesce(F.expr(e), F.lit(True))
            pred = pred & F.assert_true(
                ok, F.lit(f"{label} violated")).isNull()
        return df.filter(pred)

    def _apply_generated_columns(self, df: DataFrame,
                                 provided: "set[str] | None" = None,
                                 recompute_all: bool = False) -> DataFrame:
        """Compute absent generated columns and verify provided ones.

        ``provided``: column names the caller actually supplied (before
        null-fill alignment). Absent generated columns are computed from
        their generation expression; provided ones are verified
        null-safe-equal to it inline (``assert_true``, fused into the
        write job). ``recompute_all`` recomputes every generated column
        instead (the UPDATE rewrite path, where dependencies may have
        changed) — deterministic expressions leave untouched rows'
        values identical.
        """
        gens = self._generated_columns()
        if not gens:
            return df
        out = df
        verify: list[tuple[str, str]] = []
        for name, expr in sorted(gens.items()):
            dt = out.schema[name].dataType
            if recompute_all or (provided is not None
                                 and name not in provided):
                out = out.withColumn(name, F.expr(expr).cast(dt))
            else:
                verify.append((name, expr))
        if verify:
            pred = F.lit(True)
            for name, expr in verify:
                ok = F.col(name).eqNullSafe(
                    F.expr(expr).cast(out.schema[name].dataType))
                pred = pred & F.assert_true(ok, F.lit(
                    f"generated column {name} does not match its "
                    f"generation expression ({expr}); omit the column "
                    "to have it computed")).isNull()
            out = out.filter(pred)
        return out

    # -- write -----------------------------------------------------------------

    def write(self, data: Any, mode: "str | WriteMode" = "append",
              schema_mode: "str | SchemaMode" = "overwrite",
              partition_by: list[str] | None = None,
              custom_metadata: dict | None = None,
              max_commit_retries: int = 0,
              max_records_per_file: int | None = None,
              write_options: dict | None = None,
              optimize_write: bool = False,
              target_file_size: int = 128 * 1024 * 1024,
              replace_where: "str | None" = None,
              partition_overwrite_mode: "str | None" = None,
              txn: "tuple[str, int] | None" = None,
              _extra_actions: list | None = None,
              _operation: "str | None" = None,
              _operation_params: dict | None = None) -> "DeltaTable":
        """Write data (reference __init__.py:153-190).

        ``data``: DataFrame | pandas | pyarrow Table/RecordBatch | parquet
        path(s) | iterable mix. Modes: append / overwrite / error / ignore.

        ``max_commit_retries``: for APPEND commits only, retry a commit
        that lost the optimistic-concurrency race at the next version
        (appends commute, so replaying the same entry is safe — the data
        files are already on disk and are not rewritten); a creating
        append that loses to a concurrent create of the same schema
        becomes an append. Non-append modes always surface
        FileExistsError: their entries were built against a snapshot
        that no longer is the head (see :meth:`_commit_staged`).

        ``max_records_per_file``: cap rows per output file — Spark's
        ``maxRecordsPerFile`` writer option, executor-side roll-over with
        no extra shuffle (the reference's ``write_arrow_dataset_options``
        knob, __init__.py:159,170). For a byte-size target instead, see
        ``optimize(target_file_size=...)``.

        ``write_options``: arbitrary Spark parquet writer options passed
        through verbatim (``compression``, ``parquet.block.size``, ...) —
        the general analogue of the reference's
        ``write_arrow_dataset_options`` dict (__init__.py:159,170).

        ``replace_where`` (delta-spark's ``replaceWhere`` option,
        overwrite mode only): atomically replace ONLY the rows matching
        the predicate — files fully covered are tombstoned from the
        manifest (metadata-only when partition values prove it),
        partially-covered files are rewritten keeping their
        non-matching rows, and the new data lands in the same commit.
        Every incoming row must satisfy the predicate (validated before
        any file is written; delta-spark's conformance check). The
        daily-partition reload — ``mode="overwrite",
        replace_where="ds = '2024-06-01'"`` on a 100 TB table —
        touches only that partition's files.

        ``partition_overwrite_mode="dynamic"`` (Spark's
        ``partitionOverwriteMode``, overwrite mode only): replace
        exactly the partitions the written data lands in — no
        predicate needed, the data itself declares the scope. Purely
        manifest-level: removes are chosen by partitionValues, zero
        extra jobs. Mutually exclusive with ``replace_where``.

        ``txn=(app_id, version)`` (delta-spark's txnAppId/txnVersion,
        same contract as :meth:`merge`): a SetTransaction watermark
        commits atomically with the write, and a call whose version
        the table has already recorded for that app is a PURE NO-OP —
        the manual idempotence handle for orchestrator retries.
        """
        mode = WriteMode.coerce(mode)
        schema_mode_e = SchemaMode.coerce(schema_mode)

        if self._txn_applied(txn):
            return self                # idempotent replay: no-op
        if replace_where is not None and mode != WriteMode.overwrite:
            raise ValueError(
                "replace_where requires mode='overwrite'")
        if partition_overwrite_mode not in (None, "static", "dynamic"):
            raise ValueError(
                "partition_overwrite_mode: 'static' or 'dynamic'")
        dynamic = partition_overwrite_mode == "dynamic"
        if dynamic:
            if mode != WriteMode.overwrite:
                raise ValueError("partition_overwrite_mode='dynamic' "
                                 "requires mode='overwrite'")
            if replace_where is not None:
                raise ValueError("replace_where and dynamic partition "
                                 "overwrite are mutually exclusive")
        if self.log:
            if mode == WriteMode.error:
                raise FileExistsError(
                    f"Table already exists at {self.location.url}")
            if mode == WriteMode.ignore:
                return self
            if mode == WriteMode.overwrite:
                self._require_mutable("OVERWRITE")

        partition_by = self.log.validate_partition_by(partition_by)

        df = union_dataframe(self.spark, data,
                             schema_mode=schema_mode_e.value
                             if schema_mode_e == SchemaMode.merge else "common")
        provided_cols = set(df.columns)
        # compute absent generated columns BEFORE schema evaluation so
        # omitting them doesn't read as a schema mismatch (Delta writer
        # spec: the writer supplies them when the input doesn't)
        for c, e in sorted(self._generated_columns().items()):
            if c not in provided_cols:
                df = df.withColumn(
                    c, F.expr(e).cast(self.schema[c].dataType))
        # column DEFAULTs (allowColumnDefaults): omitted columns fill
        # with their constant default BEFORE schema evaluation — a
        # default makes the omission legal where it would otherwise be
        # a schema mismatch
        if self.log:
            for c, e in sorted(self.column_defaults.items()):
                if c not in provided_cols:
                    df = df.withColumn(
                        c, F.expr(e).cast(self.schema[c].dataType))
        # identity columns: generate omitted values past the watermark,
        # validate explicit ones (also pre-schema-evaluation)
        df, id_touched = self._generate_identity(df, provided_cols) \
            if self.log else (df, [])
        schema = self.log.evaluate_schema(df.schema, mode, schema_mode_e)
        # align to evolved schema (fill missing columns with nulls)
        if [f.name for f in schema.fields] != df.columns or \
                schema != df.schema:
            df = df.select([
                F.col(f.name).cast(f.dataType) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields])
        df = self._apply_generated_columns(df, provided=provided_cols)

        if replace_where is not None and self.log:
            # conformance enforced INSIDE the write job itself (same
            # assert_true fusion as CHECK constraints): a separate
            # pre-check count() would let a non-deterministic source
            # (rand(), changing files) pass the check and then write
            # rows violating the predicate — row-level enforcement
            # during the write is how delta-spark guarantees the
            # "replace only these rows" contract, and it saves the
            # extra scan of the incoming data
            ok = F.coalesce(F.expr(replace_where), F.lit(False))
            df = df.filter(F.assert_true(ok, F.lit(
                "replaceWhere: written data contains rows that do "
                f"not match the predicate {replace_where!r}")).isNull())

        if optimize_write:
            df = self._optimize_write_partitions(df, partition_by,
                                                 target_file_size)
            with _session_conf(
                    self.spark,
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                    str(target_file_size)):
                new_adds = self._write_data(
                    self._apply_constraints(df), partition_by,
                    max_records_per_file=max_records_per_file,
                    write_options=write_options)
        else:
            new_adds = self._write_data(
                self._apply_constraints(df), partition_by,
                max_records_per_file=max_records_per_file,
                write_options=write_options)

        # advance identity high watermarks (footer stats, no extra job)
        # — the updated schema must be re-declared in this commit's
        # metaData or the next writer would regenerate the same values
        wm_schema = self._identity_watermark_schema(new_adds, id_touched) \
            if id_touched else None
        if wm_schema is not None:
            schema = wm_schema

        return self._commit_staged(
            new_adds, schema, partition_by, mode, dynamic=dynamic,
            replace_where=replace_where, new_df=df,
            custom_metadata=custom_metadata, txn=txn,
            max_commit_retries=max_commit_retries,
            redeclare_schema=wm_schema is not None,
            extra_actions=_extra_actions, operation=_operation,
            operation_params=_operation_params,
        )._maybe_auto_compact(new_adds)

    def _txn_applied(self, txn: "tuple[str, int] | None") -> bool:
        """True when this snapshot already recorded ``txn=(app_id,
        version)``, or a later version of the same app."""
        if txn is None or not self.log:
            return False
        seen = self.txn_version(str(txn[0]))
        return seen is not None and seen >= int(txn[1])

    def _commit_staged(self, new_adds: "list[Add]", schema: T.StructType,
                       partition_by: list[str],
                       mode: WriteMode, *,
                       dynamic: bool = False,
                       replace_where: "str | None" = None,
                       new_df: "DataFrame | None" = None,
                       custom_metadata: dict | None = None,
                       txn: "tuple[str, int] | None" = None,
                       max_commit_retries: int = 0,
                       redeclare_schema: bool = False,
                       extra_actions: list | None = None,
                       operation: "str | None" = None,
                       operation_params: dict | None = None
                       ) -> "DeltaTable":
        """Commit data files a writer already staged: the one commit
        tail of :meth:`write` and the ``xdlake`` format sinks, which
        call it on a log-only ``DeltaTable(None, path)`` (only
        ``replace_where``'s survivor scan needs a session). A ``txn``
        already recorded is a no-op that deletes the staged files —
        checked again after every lost race, since the winner may be a
        replay of this txn. A lost append replays the same entry up to
        ``max_commit_retries`` times; a lost create in append mode
        becomes an append when the winner created the same schema and
        partitioning; overwrites never replay. ``redeclare_schema``
        forces the append's metaData (identity watermarks); the last
        three arguments go to :meth:`_decorate_entry`."""
        if txn is not None:
            from .log.actions import SetTransaction
            extra_actions = list(extra_actions or []) + [
                SetTransaction(appId=str(txn[0]), version=int(txn[1]),
                               lastUpdated=timestamp_ms())]

        def build(t: "DeltaTable") -> DeltaLogEntry:
            if not t.log:
                entry = create_table_entry(schema, partition_by,
                                           t.location.url, new_adds,
                                           custom_metadata)
            elif mode == WriteMode.overwrite and replace_where is not None:
                entry = t._replace_where_entry(
                    new_adds, replace_where, schema, partition_by,
                    custom_metadata, new_df=new_df)
            elif mode == WriteMode.overwrite and dynamic:
                # tombstone exactly the partitions the new data
                # landed in, chosen from partitionValues (no scan)
                entry = dynamic_overwrite_entry(
                    new_adds, t.adds.values(), schema, partition_by,
                    base_metadata=t.log.metadata(),
                    custom_metadata=custom_metadata)
            elif mode == WriteMode.overwrite:
                entry = overwrite_table_entry(
                    new_adds, t.adds.values(), schema, partition_by,
                    custom_metadata, base_metadata=t.log.metadata())
            else:
                evolved = schema if (redeclare_schema or not
                                     schemas_match(schema, t.schema)) \
                    else None
                entry = append_table_entry(new_adds, partition_by,
                                           schema=evolved,
                                           custom_metadata=custom_metadata)
            self._decorate_entry(entry, extra_actions, operation,
                                 operation_params)
            return entry

        handle, entry = self, None
        for attempt in range(max_commit_retries + 1):
            if handle._txn_applied(txn):
                _delete_on_driver(self.location,
                                  [a.path for a in new_adds])
                return handle
            if entry is None:
                entry = build(handle)
            try:
                return handle._commit(entry)
            except FileExistsError:
                if mode != WriteMode.append \
                        or attempt == max_commit_retries:
                    raise
                created = not handle.log
                handle = type(self)(self.spark, self.location,
                                    self.log_location)
                if created:
                    if handle.partition_columns != list(partition_by) \
                            or not schemas_match(schema, handle.schema):
                        raise
                    entry = None      # rebuild as an append
        raise AssertionError("unreachable")

    def _replace_where_entry(self, new_adds: "list[Add]",
                             where_sql: str, schema, partition_by,
                             custom_metadata: dict | None,
                             new_df: "DataFrame | None" = None
                             ) -> DeltaLogEntry:
        """Build the commit for a replaceWhere overwrite: removes for
        the predicate's files (metadata-only where partition values
        prove every row matches — the daily-partition reload runs zero
        extra jobs), survivor rewrites for partially-matched files,
        plus the already-written ``new_adds``. The new data never
        rescans; only genuinely mixed files pay a rewrite."""
        pred = F.coalesce(F.expr(where_sql), F.lit(False))
        candidates = self._pruned_adds(where_sql)
        if self.cdf_enabled:
            # CDF must materialize the replaced rows as cdc deletes
            # (and the incoming rows as inserts) — the spec says
            # readers use ONLY cdc for a commit that has them, and
            # deriving from this commit's add/remove pairs would
            # report survivor rows as spurious delete+insert churn.
            # Fully-matched files therefore scan here too, same
            # tradeoff as the CDF delete path.
            certain, rest = {}, candidates
        else:
            certain, rest = split_certain_matches(
                candidates, where_sql, self.partition_columns,
                self._partition_types())
        removes = [a.to_remove() for a in certain.values()]
        survivor_adds: list[Add] = []
        if rest:
            hit_adds, _, n_survivors = self._touched_files(rest, pred)
            if n_survivors > 0:
                survivor_adds = self._write_data(
                    self._scan(hit_adds).filter(~pred),
                    self.partition_columns)
            removes.extend(a.to_remove() for a in hit_adds.values())
        md = replaced_metadata(self.log.metadata(), schema,
                               partition_by)
        commit = TableCommit.write(mode=WriteMode.overwrite.value,
                                   partition_by=partition_by,
                                   metadata=custom_metadata)
        commit.operationParameters["predicate"] = where_sql
        commit.operationMetrics = {
            "numFiles": len(new_adds) + len(survivor_adds),
            "numRemovedFiles": len(removes),
            "numCopiedFiles": len(survivor_adds),
        }
        entry = DeltaLogEntry([md, *removes, *new_adds,
                               *survivor_adds, commit])
        if self.cdf_enabled:
            removed_rels = {r.path for r in removes}
            replaced = self._scan(
                {p: a for p, a in self.adds.items()
                 if p in removed_rels}).filter(pred) \
                .withColumn(self._CHANGE_TYPE, F.lit("delete")) \
                if removed_rels else None
            cdc_frames = []
            if replaced is not None:
                cdc_frames.append(replaced)
            if new_df is not None:
                cdc_frames.append(
                    new_df.withColumn(self._CHANGE_TYPE,
                                      F.lit("insert")))
            for frame in cdc_frames:
                entry.actions.extend(self._write_change_data(frame))
        return entry

    def _maybe_auto_compact(self, written: "list[Add]") -> "DeltaTable":
        """delta's ``autoOptimize.autoCompact``: when the table property
        ``delta.autoOptimize.autoCompact`` is ``'true'`` and the
        partitions THIS write touched hold at least
        ``xdlake.autoCompact.minNumFiles`` (default 8) live files under
        ``xdlake.autoCompact.smallFileSize`` (default 32 MiB), run the
        standard OPTIMIZE bin-packing on those partitions right after
        the commit — small-file debt is paid continuously instead of
        accruing until someone remembers to OPTIMIZE. Scoping to the
        written partitions is the point at scale: a daily append to a
        100 TB table compacts today's partition, never the history.
        The compaction is its own ``dataChange=false`` commit, so
        streams tailing the table skip it; the trigger check is
        manifest-only (footer sizes already in the log), free when the
        threshold isn't met."""
        if not self.log:
            return self
        cfg = self.log.metadata().configuration or {}
        if str(cfg.get("delta.autoOptimize.autoCompact", "false")
               ).lower() != "true":
            return self
        min_files = int(cfg.get("xdlake.autoCompact.minNumFiles", "8"))
        small_max = int(cfg.get("xdlake.autoCompact.smallFileSize",
                                str(32 * 1024 * 1024)))
        # scope: the hive partitions this commit wrote into
        touched = {tuple(sorted((a.partitionValues or {}).items()))
                   for a in written}
        in_scope = [a for a in self.adds.values()
                    if tuple(sorted((a.partitionValues or {}).items()))
                    in touched]
        small = sum(1 for a in in_scope if (a.size or 0) < small_max)
        if small < min_files:
            return self
        where = None
        pcols = self.partition_columns
        if pcols:
            # Scope strictly to the touched partitions — null partition
            # values get IS NULL disjuncts instead of widening to a
            # full-table compaction (a severe cost cliff at 100 TB and
            # it would touch history this write never wrote).
            vals = {c: {dict(pv).get(c) for pv in touched}
                    for c in pcols}
            conjuncts = []
            for c in pcols:
                vs = sorted(v for v in vals[c] if v is not None)
                terms = []
                if vs:
                    terms.append("{} IN ({})".format(
                        c, ", ".join("'{}'".format(v.replace("'", "''"))
                                     for v in vs)))
                if None in vals[c]:
                    terms.append(f"{c} IS NULL")
                conjuncts.append("(" + " OR ".join(terms) + ")"
                                 if len(terms) > 1 else terms[0])
            where = " AND ".join(conjuncts)
        return self.optimize(
            where=where,
            custom_metadata={"auto": True, "trigger": "autoCompact"})

    def _optimize_write_partitions(self, df: DataFrame,
                                   partition_by: list[str],
                                   target_file_size: int) -> DataFrame:
        """delta-spark ``optimizeWrite`` analogue: REBALANCE the write
        so a fragmented upstream plan doesn't spray thousands of tiny
        files (the small-files problem OPTIMIZE exists to undo —
        cheaper to not create them). Spark's AQE rebalance is the
        purpose-built mechanism: it coalesces small post-shuffle
        partitions AND splits skewed ones toward
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
        (``target_file_size`` here, scoped to this plan via the
        per-write session override the caller holds), clustered on the
        table's hive partition columns when it has them so each
        partition dir gets contiguous writers. Runtime-measured sizes,
        not plan-stats guesses — exact even for local relations and
        post-join plans where ``sizeInBytes`` is unknown."""
        if partition_by:
            return df.hint("rebalance", *partition_by)
        return df.hint("rebalance")

    @staticmethod
    def _decorate_entry(entry: DeltaLogEntry, extra_actions, operation,
                        operation_params) -> None:
        """Internal write() hook: graft extra actions (e.g. a metadata
        domain that must commit ATOMICALLY with the data) and/or
        rebrand the commitInfo operation (COPY INTO). Idempotent across
        the append retry loop (the same entry object is replayed)."""
        if extra_actions:
            # An extra Protocol action REPLACES the entry's default one
            # (a commit must not carry two protocol actions — e.g. COPY
            # INTO creating a table upgrades the v0 protocol in place)
            if any(isinstance(a, Protocol) for a in extra_actions):
                entry.actions = [a for a in entry.actions
                                 if not isinstance(a, Protocol)]
            existing = set(map(id, entry.actions))
            entry.actions.extend(a for a in extra_actions
                                 if id(a) not in existing)
        if operation or operation_params:
            for a in entry.actions:
                if isinstance(a, TableCommit):
                    if operation:
                        a.operation = operation
                    if operation_params:
                        a.operationParameters = {
                            **(a.operationParameters or {}),
                            **operation_params}

    def _write_data(self, df: DataFrame, partition_by: list[str],
                    max_records_per_file: int | None = None,
                    write_options: dict | None = None) -> list[Add]:
        """Physical write via a per-commit staging directory.

        Executors write hive-partitioned parquet under
        ``_staging-<uuid>/``; the driver then moves each file into the
        table layout under a versioned basename
        (``{version}-{token}-{i}.parquet``, the reference's template,
        __init__.py:385-394) and reads its footer for stats
        (delta_log/statistics.py:14-36). Listing + rename cost is
        O(files written), never O(table size), and concurrent writers
        cannot cross-claim each other's files the way a before/after
        directory diff would (commit atomicity itself comes from the
        put-if-absent log write).
        """
        cm = self.column_mapping_mode
        if cm in ("name", "id"):
            # emit PHYSICAL column names (and, in id mode, parquet
            # field ids) into the files, per the Delta column-mapping
            # spec — the logical schema lives only in the log. Hive
            # partition dirs and add.partitionValues follow the
            # physical names automatically. Stats read back from the
            # footers stay physically-keyed, matching delta-spark;
            # logical predicates then skip no files (safe fallback) but
            # read correctly through the mapped scan.
            phys = self._physical_names()
            unmapped = [c for c in df.columns if c not in phys]
            if unmapped:
                raise NotImplementedError(
                    f"schema evolution on a column-mapped table would "
                    f"need new physical names/ids for {unmapped} "
                    "(maxColumnId bookkeeping) — not supported; write "
                    "with the table's existing columns")
            if cm == "id":
                ids = {f.name: (f.metadata or {}).get(
                           "delta.columnMapping.id")
                       for f in self.schema.fields}
                no_id = [c for c in df.columns if ids.get(c) is None]
                if no_id:
                    raise NotImplementedError(
                        f"id-mode table but columns {no_id} carry no "
                        "delta.columnMapping.id")
                self.spark.conf.set(
                    "spark.sql.parquet.fieldId.write.enabled", "true")
                df = df.select([
                    F.col(c).alias(phys[c], metadata={
                        "parquet.field.id": int(ids[c])})
                    for c in df.columns])
            else:
                df = df.select([F.col(c).alias(phys[c])
                                for c in df.columns])
            partition_by = [phys[c] for c in partition_by]
        elif cm not in ("none", ""):
            raise NotImplementedError(
                f"writing to a table with column mapping mode {cm!r} "
                "is not supported")
        root = self.location
        staging = root.join(f"_staging-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile",
                                   int(max_records_per_file))
        if write_options:
            writer = writer.options(**write_options)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(staging.url)
        except Exception:
            staging.delete_dir()  # failed job leaves no staged litter
            raise

        written = sorted(rel for rel in staging.list_files_recursive()
                         if rel.endswith(".parquet")
                         and not posixpath.basename(rel).startswith((".", "_")))
        version, token = self._version_to_write, uuid.uuid4().hex[:12]

        def move_one(args: tuple[int, str]) -> Add:
            i, rel = args
            hive_dir = posixpath.dirname(rel)
            dst_rel = posixpath.join(hive_dir, f"{version}-{token}-{i}.parquet") \
                if hive_dir else f"{version}-{token}-{i}.parquet"
            staging.join(rel).rename(root.join(dst_rel))
            return self._add_for_relpath(dst_rel)

        jobs = list(enumerate(written))
        # moves + footer reads are independent ~KB I/Os: a thread pool
        # keeps the driver out of the critical path even at thousands of
        # files per commit
        if len(jobs) > 8:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=16) as pool:
                adds = list(pool.map(move_one, jobs))
        else:
            adds = [move_one(j) for j in jobs]
        staging.delete_dir()
        if any(a.stats is None for a in adds):
            adds = self._stats_via_spark(adds, df.schema, partition_by)
        return adds

    def _stats_via_spark(self, adds: "list[Add]", schema,
                         partition_by: list[str]) -> "list[Add]":
        """Footer-stats fallback for files whose parquet footers
        pyarrow cannot parse — Spark's VARIANT logical type is the
        known case. Without it, variant-bearing adds commit stats-less
        and skipping degrades to full scans on EVERY column of such
        tables. ONE Spark aggregation grouped on
        ``_metadata.file_path`` computes numRecords plus
        min/max/nullCount for the orderable top-level scalar columns
        (the variant column itself carries no interval — correct: it
        has no total order), so the scalar columns keep their skipping
        power. One job for ALL stat-less files of the commit, never
        one per file."""
        from pyspark.sql import types as T

        from .log.statistics import _UNREPRESENTABLE, _json_safe

        todo = {posixpath.basename(a.path): a for a in adds
                if a.stats is None}
        if not todo:
            return adds
        orderable = (T.NumericType, T.StringType, T.DateType,
                     T.TimestampType, T.TimestampNTZType,
                     T.BooleanType)
        cols = [f.name for f in schema.fields
                if isinstance(f.dataType, orderable)
                and f.name not in partition_by]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, c in enumerate(cols):
            aggs += [F.min(c).alias(f"__mn_{i}"),
                     F.max(c).alias(f"__mx_{i}"),
                     F.sum(F.col(c).isNull().cast("long"))
                      .alias(f"__nc_{i}")]
        paths = [self.location.absloc(a.path).url
                 for a in todo.values()]
        # explicit schema (files hold the non-partition fields): no
        # footer-inference job, so the whole fallback is a constant
        # number of jobs regardless of file count (plan-pinned)
        file_schema = T.StructType(
            [f for f in schema.fields if f.name not in partition_by])
        rows = (self._read_files(paths, file_schema)
                .groupBy(F.col("_metadata.file_path").alias("__f"))
                .agg(*aggs).collect())
        keep = self._stats_columns()
        by_base = {}
        for r in rows:
            base = posixpath.basename(
                urllib.parse.urlparse(r["__f"]).path)
            by_base[urllib.parse.unquote(base)] = r
        for base, a in todo.items():
            r = by_base.get(base)
            if r is None:
                continue  # zero-row file never groups; leave stats-less
            st = Statistics(numRecords=int(r["__n"]))
            for i, c in enumerate(cols):
                st.nullCount[c] = int(r[f"__nc_{i}"] or 0)
                mn = _json_safe(r[f"__mn_{i}"])
                mx = _json_safe(r[f"__mx_{i}"])
                if (mn is None or mx is None
                        or mn is _UNREPRESENTABLE
                        or mx is _UNREPRESENTABLE):
                    continue   # all-null or NaN/inf: interval unbounded
                st.minValues[c] = mn
                st.maxValues[c] = mx
            if keep is not None:
                st = st.restrict(keep)
            a.stats = st.to_json()
        return adds

    def recompute_stats(self, all_files: bool = False) -> "DeltaTable":
        """ANALYZE TABLE ... COMPUTE DELTA STATISTICS (delta-spark 3.x
        parity): derive per-file statistics for live adds that lack
        them — zero-copy imports (:meth:`import_refs`,
        :meth:`convert_to_delta`) and foreign stats-less writers leave
        skipping blind, turning every filtered scan into a full scan —
        and commit stat-bearing re-adds with ``dataChange=False`` (the
        logical content is untouched; per-path last-action-wins replay
        swaps the entries in place, no data is rewritten or moved).

        ``all_files=True`` re-derives statistics for EVERY live file
        (delta-spark's full recompute — e.g. after changing
        ``delta.dataSkippingStatsColumns``). Cost is ONE Spark
        aggregation over the target files regardless of file count
        (the :meth:`_stats_via_spark` plan), plus a KB-scale commit;
        at 100 TB this is the one-job alternative to re-reading
        footers file-by-file on the driver. Returns the new handle
        (``self`` unchanged if nothing needed stats).
        """
        import copy

        if self.log is None:
            raise ValueError(f"No delta table at {self.location.url}")
        targets = [copy.copy(a) for a in self.adds.values()
                   if all_files or a.stats is None]
        if not targets:
            return self
        for a in targets:
            a.stats = None
        filled = self._stats_via_spark(targets, self.schema,
                                       self.partition_columns)
        updated = [a for a in filled if a.stats is not None]
        if not updated:
            return self
        read_version = self.version
        entry = optimize_table_entry(
            updated, [], read_version,
            {"numFilesAnalyzed": len(updated)})
        self._decorate_entry(entry, None, "COMPUTE STATISTICS",
                             {"allFiles": bool(all_files)})
        try:
            return self._commit(entry)
        except FileExistsError:
            # lost the optimistic-concurrency race. NEVER rebase this
            # entry: replaying stat-bearing re-adds past a concurrent
            # DELETE would resurrect files the winner removed
            # (metadata-only partition deletes carry no adds, so the
            # generic rebase check cannot see the overlap). Recompute
            # against the fresh snapshot instead — files that
            # disappeared drop out of the target set.
            fresh = type(self)(self.spark, self.location,
                               self.log_location)
            return fresh.recompute_stats(all_files=all_files)

    def partitions(self) -> DataFrame:
        """SHOW PARTITIONS, with per-partition file statistics (the
        delta-spark command plus the detail a maintenance planner
        actually wants): one row per live partition — typed partition
        values, file count, total bytes, and total rows (null when any
        contributing add lacks numRecords stats). Pure manifest fold
        on the driver, zero Spark jobs, zero data reads — at 100 TB
        this is how you find skewed or fragmented partitions WITHOUT
        scanning them. Raises on an unpartitioned table, like the SQL
        command."""
        import json as _json

        if self.log is None:
            raise ValueError(f"No delta table at {self.location.url}")
        pcols = self.partition_columns
        if not pcols:
            raise ValueError(
                "SHOW PARTITIONS is not allowed on a table that is "
                "not partitioned")
        agg: dict[tuple, list] = {}
        for add in self.adds.values():
            key = tuple((add.partitionValues or {}).get(c)
                        for c in pcols)
            slot = agg.setdefault(key, [0, 0, 0, False])
            slot[0] += 1
            slot[1] += int(add.size or 0)
            n = None
            if add.stats:
                try:
                    n = _json.loads(add.stats).get("numRecords")
                except (ValueError, TypeError):
                    n = None
            if n is None:
                slot[3] = True          # rows unknowable
            else:
                slot[2] += int(n)
        ptypes = self._partition_types()
        rows = []
        for key, (nf, nb, nr, unknown) in sorted(
                agg.items(), key=lambda kv: [
                    (v is None, v) for v in kv[0]]):
            rows.append(tuple(key) + (
                nf, nb, None if unknown else nr))
        schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in pcols]
            + [T.StructField("num_files", T.LongType()),
               T.StructField("total_bytes", T.LongType()),
               T.StructField("num_rows", T.LongType())])
        out = self.spark.createDataFrame(rows, schema)
        # partition values are log-encoded strings; surface them with
        # the table's declared types (same coercion the scan applies)
        for c in pcols:
            t = ptypes.get(c)
            if t is not None:
                out = out.withColumn(c, F.col(c).cast(t))
        return out

    def verify_checksum(self) -> "list[str] | None":
        """Validate this snapshot against its stored per-version
        checksum (``{version}.crc``, delta-spark VersionChecksum
        parity — written by every commit this engine performs,
        log/checksum.py). Returns ``None`` when no checksum exists
        for the snapshot's version (foreign writer, expired by log
        cleanup), an empty list when the reconstructed state matches,
        else human-readable mismatch descriptions — a non-empty
        result means log corruption or a replay defect and the table
        should not be trusted. Pure driver-side metadata: one
        KB-scale file read, no Spark job, no data listing — the
        cheapest state validation there is at 100 TB."""
        from .log.checksum import read_checksum, verify_checksum
        if self.log is None:
            raise ValueError(f"No delta table at {self.location.url}")
        crc = read_checksum(self.log_location, self.version)
        if crc is None:
            return None
        return verify_checksum(self.log, crc)

    def detail(self) -> DataFrame:
        """DESCRIBE DETAIL (delta-spark ``DeltaTable.detail()``): one
        row of table metadata — format, id, name, description,
        location, createdAt/lastModified (epoch ms), partition and
        clustering columns, live numFiles/sizeInBytes, properties,
        protocol versions and feature lists. Pure log metadata — no
        data job runs."""
        md = self.log.metadata()
        p = self.log.protocol()
        extra = p.extra or {}
        hist = list(self.history())
        last = hist[0].get("timestamp") if hist else None
        adds = self.adds
        row = {
            "format": "delta",
            "id": md.id,
            "name": md.name,
            "description": md.description,
            "location": self.location.url,
            "createdAt": md.createdTime,
            "lastModified": last,
            "partitionColumns": list(self.partition_columns),
            "clusteringColumns": self.clustering_columns(),
            "numFiles": len(adds),
            "sizeInBytes": sum(a.size or 0 for a in adds.values()),
            "properties": json.dumps(md.configuration or {}),
            "minReaderVersion": p.minReaderVersion,
            "minWriterVersion": p.minWriterVersion,
            "readerFeatures": sorted(extra.get("readerFeatures")
                                     or []),
            "writerFeatures": sorted(extra.get("writerFeatures")
                                     or []),
        }
        schema = ("format STRING, id STRING, name STRING, "
                  "description STRING, location STRING, "
                  "createdAt LONG, lastModified LONG, "
                  "partitionColumns ARRAY<STRING>, "
                  "clusteringColumns ARRAY<STRING>, numFiles LONG, "
                  "sizeInBytes LONG, properties STRING, "
                  "minReaderVersion INT, minWriterVersion INT, "
                  "readerFeatures ARRAY<STRING>, "
                  "writerFeatures ARRAY<STRING>")
        return self.spark.createDataFrame([row], schema=schema)

    def _stats_columns(self) -> "list[str] | None":
        """Columns to carry footer stats for, per the Delta data-
        skipping table properties: ``delta.dataSkippingStatsColumns``
        (explicit comma-separated list; wins when set) or
        ``delta.dataSkippingNumIndexedCols`` (first N schema columns;
        -1 = all). None = keep stats for every column (this engine's
        historical default — Delta's own default of 32 applies only
        when a user sets the property, so narrow tables keep full
        skipping power without surprise)."""
        if self.schema is None or not self.log:
            return None
        cfg = self.log.metadata().configuration or {}
        explicit = cfg.get("delta.dataSkippingStatsColumns")
        if explicit:
            return [c.strip().strip("`") for c in explicit.split(",")
                    if c.strip()]
        n = cfg.get("delta.dataSkippingNumIndexedCols")
        if n is None:
            return None
        n = int(n)
        if n < 0:
            return None
        return self.schema.fieldNames()[:n]

    def _add_for_relpath(self, rel: str) -> Add:
        loc = self.location.join(rel)
        stats = Statistics.try_from_parquet_file(loc.path)
        if stats is not None:
            keep = self._stats_columns()
            if keep is not None:
                stats = stats.restrict(keep)
        pvals = {}
        for seg in rel.split("/")[:-1]:
            if "=" in seg:
                k, v = seg.split("=", 1)
                v = urllib.parse.unquote(v)
                # Delta protocol: null partition value is JSON null, not
                # Spark/Hive's directory sentinel
                pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        return Add(path=rel, size=loc.file_size(),
                   modificationTime=timestamp_ms(),
                   partitionValues=pvals,
                   stats=stats.to_json() if stats is not None else None)

    def commit_context(self, version: int):
        """Overridable concurrency guard around a commit (reference
        __init__.py:425-442: pluggable lock via context-manager override).

        The default is a no-op context; the atomicity comes from the
        put-if-absent write of the version file itself. Subclasses may
        return e.g. a DynamoDB/ZooKeeper lock for object stores whose
        create-exclusive is not atomic.
        """
        import contextlib
        return contextlib.nullcontext()

    #: Write a parquet checkpoint every N commits (0 disables). Keeps
    #: table opens O(recent commits) instead of O(all commits).
    checkpoint_interval: int = 10

    #: Rows per checkpoint file (0 = single file). At 100 TB a table's
    #: manifest is millions of adds; capping rows per part switches to
    #: the spec's multi-part layout so the checkpoint is written and
    #: read as parallel chunks instead of one monolithic parquet.
    checkpoint_part_size: int = 0

    #: Delta writer features this engine honors unconditionally when
    #: committing. Anything else declared by a minWriterVersion>=7
    #: protocol (rowTracking, icebergCompatV2, ...) would have its
    #: invariants silently broken by our commits — refuse instead.
    SUPPORTED_WRITER_FEATURES = frozenset(
        {"appendOnly", "checkConstraints", "timestampNtz",
         "columnMapping",     # physical-name (+field-id) writes
         "invariants",        # enforced inline (_apply_constraints)
         "generatedColumns",  # computed/verified on write+update
         "changeDataFeed",    # DELETE/UPDATE/MERGE write cdc files
         "identityColumns",   # generated + high watermark maintained
         "deletionVectors",   # merge-on-read DELETE writes DV bitmaps
         "v2Checkpoint",      # commits checkpoint in v2 manifest form
         "vacuumProtocolCheck",  # vacuum() runs this gate pre-delete
         "inCommitTimestamp",    # monotonic commitInfo clock maintained
         "domainMetadata",    # replayed, checkpointed, conflict-safe
         "rowTracking",       # baseRowId assignment + watermark domain
         "typeWidening",      # widen_column DDL + upcast-on-scan
         "typeWidening-preview",
         "clustering",        # CLUSTER BY domain + clustered OPTIMIZE
         "allowColumnDefaults",  # CURRENT_DEFAULT fill on write
         "variantType",       # Spark-native variant physical layout
         "variantType-preview",
         "checkpointProtection",  # cleanup_metadata honors the pin
         "icebergCompatV2",   # DV writes refused while active (_commit)
         })

    #: Features we can commit under only when the table doesn't
    #: actually USE them (checked against schema field metadata /
    #: table configuration / the operation being committed). Empty
    #: since identityColumns graduated; the machinery stays for the
    #: next partially-supportable feature.
    CONDITIONAL_WRITER_FEATURES = frozenset()

    #: Delta spec's legacy writer-version table: each version <7
    #: implies the union of these feature sets up to and including it.
    LEGACY_WRITER_IMPLIED: dict[int, frozenset] = {
        2: frozenset({"appendOnly", "invariants"}),
        3: frozenset({"checkConstraints"}),
        4: frozenset({"changeDataFeed", "generatedColumns"}),
        5: frozenset({"columnMapping"}),
        6: frozenset({"identityColumns"}),
    }

    def _check_writer_protocol(self, entry: DeltaLogEntry | None = None
                               ) -> None:
        """Delta spec: a writer MUST refuse to commit unless it
        implements every feature the table's writer protocol demands
        (the reference ignores protocol entirely). Legacy versions <7
        imply fixed feature sets (v2 appendOnly+invariants, v3 CHECK
        constraints, v4 CDF+generated columns, v5 column mapping, v6
        identity columns) — mapped here through the same gate as v7's
        explicit writerFeatures list, so e.g. a v6 table with a real
        identity column is refused rather than silently committed
        (identity writers must maintain the high watermark; ours
        can't)."""
        proto = self.log.protocol()
        if proto.minWriterVersion >= 7:
            demanded = set((proto.extra or {}).get("writerFeatures") or [])
        else:
            demanded = set()
            for v, feats in self.LEGACY_WRITER_IMPLIED.items():
                if proto.minWriterVersion >= v:
                    demanded |= feats
        unknown = (demanded - self.SUPPORTED_WRITER_FEATURES
                   - self.CONDITIONAL_WRITER_FEATURES)
        if unknown:
            raise NotImplementedError(
                f"table requires writer features {sorted(demanded)}; this "
                f"engine does not implement {sorted(unknown)} — "
                "committing would break the table's invariants for "
                "other engines.")
        conditional = demanded & self.CONDITIONAL_WRITER_FEATURES
        if conditional:
            self._check_conditional_writer_features(conditional, entry)

    def _check_conditional_writer_features(self, feats: set,
                                           entry: DeltaLogEntry | None
                                           ) -> None:
        """Refuse commits that would break a feature the table actively
        uses; a merely-declared-but-unused feature is vacuously safe.
        Currently empty: invariants and generatedColumns are enforced/
        computed on the write paths (``_apply_constraints`` /
        ``_apply_generated_columns``), changeDataFeed mutations write
        cdc files, and identityColumns are generated with the high
        watermark maintained (``_generate_identity``). The machinery
        stays for the next partially-supportable feature.
        """
        md_keys: dict[str, tuple] = {}
        try:
            fields = self.log.schema().fields
        except ValueError:  # no metaData yet (first commit): nothing used
            fields = []
        for feat, keys in md_keys.items():
            if feat not in feats:
                continue
            used = [f.name for f in fields
                    if any(k in (f.metadata or {}) for k in keys)]
            if used:
                raise NotImplementedError(
                    f"table uses writer feature '{feat}' on column(s) "
                    f"{used}; this engine cannot maintain it — refusing "
                    "to commit.")

    #: DROP FEATURE trace checks: feature -> method name returning a
    #: human-readable blocker description, or None when trace-free.
    _DROPPABLE_FEATURES = frozenset(
        {"deletionVectors", "typeWidening", "typeWidening-preview",
         "changeDataFeed", "inCommitTimestamp", "rowTracking",
         "allowColumnDefaults", "variantType", "variantType-preview",
         "v2Checkpoint", "domainMetadata", "checkConstraints",
         "generatedColumns", "identityColumns", "invariants",
         "appendOnly", "clustering"})

    def _drop_feature_blocker(self, name: str) -> "str | None":
        """What still USES the feature (None when trace-free). The
        drop flow refuses while traces exist — a conforming engine
        lacking the feature would misread them."""
        cfg = self.log.metadata().configuration or {}

        def prop_on(key):
            return str(cfg.get(key, "false")).lower() == "true"

        if name == "deletionVectors":
            if prop_on("delta.enableDeletionVectors"):
                return "delta.enableDeletionVectors is true"
            if any((a.extra or {}).get("deletionVector")
                   for a in self.adds.values()):
                return ("live files carry deletion vectors — run "
                        "reorg_purge() first")
        elif name in ("typeWidening", "typeWidening-preview"):
            def has_changes(dt):
                if isinstance(dt, T.StructType):
                    return any((f.metadata or {}).get("delta.typeChanges")
                               or has_changes(f.dataType)
                               for f in dt.fields)
                if isinstance(dt, T.ArrayType):
                    return has_changes(dt.elementType)
                if isinstance(dt, T.MapType):
                    return has_changes(dt.keyType) \
                        or has_changes(dt.valueType)
                return False
            if has_changes(self.schema):
                return ("schema records delta.typeChanges — files "
                        "must be rewritten to the wide type first")
        elif name == "changeDataFeed":
            if prop_on("delta.enableChangeDataFeed"):
                return "delta.enableChangeDataFeed is true"
        elif name == "inCommitTimestamp":
            if prop_on("delta.enableInCommitTimestamps"):
                return "delta.enableInCommitTimestamps is true"
        elif name == "rowTracking":
            if prop_on("delta.enableRowTracking"):
                return "delta.enableRowTracking is true"
        elif name == "allowColumnDefaults":
            if self.column_defaults:
                return (f"columns still carry DEFAULTs: "
                        f"{sorted(self.column_defaults)}")
        elif name in ("variantType", "variantType-preview"):
            # recurse: a variant nested in a struct/array/map blocks the
            # drop too — the protocol must keep declaring every type the
            # schema contains anywhere, not just at top level
            def has_variant(dt):
                if hasattr(T, "VariantType") \
                        and isinstance(dt, T.VariantType):
                    return True
                if isinstance(dt, T.StructType):
                    return any(has_variant(f.dataType) for f in dt.fields)
                if isinstance(dt, T.ArrayType):
                    return has_variant(dt.elementType)
                if isinstance(dt, T.MapType):
                    return has_variant(dt.keyType) \
                        or has_variant(dt.valueType)
                return False
            if self.schema is not None and has_variant(self.schema):
                return "schema still contains variant columns"
        elif name == "clustering":
            if self.clustering_columns():
                return ("table is clustered by "
                        f"{self.clustering_columns()}"
                        " — cluster_by([]) first")
        elif name == "domainMetadata":
            live = self.log.live_domain_metadata()
            if live:
                return f"live metadata domains remain: {sorted(live)}"
        elif name == "checkConstraints":
            if self.constraints:
                return f"constraints remain: {sorted(self.constraints)}"
        elif name == "generatedColumns":
            if self._generated_columns():
                return ("generated columns remain: "
                        f"{sorted(self._generated_columns())}")
        elif name == "identityColumns":
            if self._identity_columns():
                return ("identity columns remain: "
                        f"{sorted(self._identity_columns())}")
        elif name == "invariants":
            if self._invariants():
                return f"invariants remain: {sorted(self._invariants())}"
        elif name == "appendOnly":
            if prop_on("delta.appendOnly"):
                return "delta.appendOnly is true"
        return None

    def drop_feature(self, name: str,
                     custom_metadata: dict | None = None
                     ) -> "DeltaTable":
        """ALTER TABLE DROP FEATURE — the Delta 4.0 checkpoint-
        protection flow: (1) refuse while the table still carries the
        feature's traces (the per-feature checks name what blocks and
        how to clear it); (2) write a checkpoint at the current head,
        so no future reader needs the pre-drop JSON history; (3) one
        commit removes the feature from the protocol, declares
        ``checkpointProtection``, and pins
        ``delta.requireCheckpointProtectionBeforeVersion`` — metadata
        cleanup below that version is all-or-nothing thereafter (see
        :meth:`cleanup_metadata`), so an engine lacking the dropped
        feature can never partially replay history that still used it.
        """
        if self.log is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if name not in self._DROPPABLE_FEATURES:
            raise ValueError(
                f"feature {name!r} is not droppable by this engine "
                f"(droppable: {sorted(self._DROPPABLE_FEATURES)})")
        proto = self.log.protocol()
        extra = proto.extra or {}
        rf = set(extra.get("readerFeatures") or [])
        wf = set(extra.get("writerFeatures") or [])
        if proto.minWriterVersion < 7 or (name not in wf
                                          and name not in rf):
            raise ValueError(
                f"table does not declare feature {name!r}")
        blocker = self._drop_feature_blocker(name)
        if blocker is not None:
            raise ValueError(
                f"cannot drop {name!r}: {blocker}")
        import dataclasses

        from .log.checkpoint import write_checkpoint
        # the protecting checkpoint: everything before the drop commit
        # replays from it, never from feature-bearing JSON
        write_checkpoint(self.log_location, self.log,
                         part_size=self.checkpoint_part_size,
                         v2=("v2Checkpoint" in wf
                             and name != "v2Checkpoint"))
        new_wf = (wf | {"checkpointProtection"}) - {name}
        new_rf = rf - {name}
        protect_before = self.version + 1
        up = Protocol(minReaderVersion=3 if new_rf else 1,
                      minWriterVersion=7)
        up.extra = {"writerFeatures": sorted(new_wf)}
        if new_rf:
            up.extra["readerFeatures"] = sorted(new_rf)
        md = self.log.metadata()
        cfg = dict(md.configuration or {})
        cfg["delta.requireCheckpointProtectionBeforeVersion"] = \
            str(protect_before)
        md = dataclasses.replace(md, configuration=cfg)
        entry = properties_table_entry(
            md, "DROP FEATURE", {"featureName": name},
            self.version, custom_metadata)
        entry.actions.insert(0, up)
        return self._commit(entry)

    def _ensure_type_features(self, entry: DeltaLogEntry) -> None:
        """Delta spec: a schema containing ``timestamp_ntz`` or
        ``variant`` (anywhere, including nested) requires the
        ``timestampNtz`` / ``variantType`` table feature on BOTH
        protocol sides — committing such a metaData under a plain
        (1,2) protocol is a spec violation (conforming readers that
        lack the type would misread). Inspects any TableMetadata this
        entry declares and attaches/merges the protocol upgrade."""
        mds = [a for a in entry.actions if isinstance(a, TableMetadata)]
        if not mds:
            return
        from .log.schema import schema_from_string
        need: set = set()
        type_feats = [(T.TimestampNTZType, "timestampNtz")]
        if hasattr(T, "VariantType"):
            type_feats.append((T.VariantType, "variantType"))

        def walk(dt):
            for cls, feat in type_feats:
                if isinstance(dt, cls):
                    need.add(feat)
            if isinstance(dt, T.StructType):
                for f in dt.fields:
                    walk(f.dataType)
            elif isinstance(dt, T.ArrayType):
                walk(dt.elementType)
            elif isinstance(dt, T.MapType):
                walk(dt.keyType)
                walk(dt.valueType)

        for md in mds:
            walk(schema_from_string(md.schemaString))
        if not need:
            return
        self._ensure_entry_features(entry, need)

    def _ensure_entry_features(self, entry: DeltaLogEntry,
                               need: set) -> None:
        """Attach/merge a protocol upgrade declaring ``need`` on BOTH
        feature sides into this entry — against the table's current
        protocol when none rides the entry, else by upgrading the
        entry's own protocol action (create path / another feature's
        upgrade this commit), with legacy writer versions mapped to
        their implied feature sets."""
        protos = [a for a in entry.actions if isinstance(a, Protocol)]
        if self.log and not protos:
            up = self._feature_protocol_action(need, need)
            if up is not None:
                entry.actions.insert(0, up)
            return
        if protos:
            # merge into the entry's own protocol action (create path's
            # default, or one attached by another feature this commit)
            p = protos[0]
            extra = dict(p.extra or {})
            rf = set(extra.get("readerFeatures") or [])
            wf = set(extra.get("writerFeatures") or [])
            if p.minWriterVersion >= 7 and need <= wf \
                    and p.minReaderVersion >= 3 and need <= rf:
                return
            if p.minWriterVersion < 7:
                for v, feats in self.LEGACY_WRITER_IMPLIED.items():
                    if p.minWriterVersion >= v:
                        wf |= feats
            if p.minReaderVersion == 2:
                rf |= {"columnMapping"}
            rf |= need
            wf |= need
            idx = entry.actions.index(p)
            np_ = Protocol(minReaderVersion=3, minWriterVersion=7)
            np_.extra = {"readerFeatures": sorted(rf),
                         "writerFeatures": sorted(wf)}
            entry.actions[idx] = np_

    def _advance(self, entry: DeltaLogEntry) -> "DeltaTable":
        """Post-commit snapshot handle built from the in-memory log +
        the just-committed entry (log.with_entry) — no directory
        re-list, no re-read of every JSON commit. A lifecycle query
        that lands V commits previously re-read O(V²) log files across
        its refreshes; driver time, pure overhead (guide §7.3 — the
        "nothing is running" gap between Spark jobs). Checkpoint and
        log-cleanup writes still reload fully (they change which files
        back the state)."""
        new = object.__new__(type(self))
        new.spark = self.spark
        new.storage_options = self.storage_options
        new.location = self.location
        new.log_location = self.log_location
        new.pinned_version = None
        new.log = self.log.with_entry(self._version_to_write, entry)
        new._version_to_write = new.log.version_to_write
        new.adds = new.log.add_actions()
        new.partition_columns = (new.log.partition_columns()
                                 if new.log else [])
        new.schema = new.log.schema() if new.log else None
        return new

    def _commit(self, entry: DeltaLogEntry) -> "DeltaTable":
        self._ensure_type_features(entry)
        self._check_writer_protocol(entry)
        if self.log and self.iceberg_compat_enabled:
            # icebergCompatV2 invariant (delta-spark UniForm parity):
            # no deletion vectors while active — the Iceberg snapshot
            # regenerated after this commit cannot represent them, and
            # an Iceberg reader would resurrect the deleted rows
            dv_adds = [a.path for a in entry.adds
                       if (a.extra or {}).get("deletionVector")]
            if dv_adds:
                raise ValueError(
                    "icebergCompatV2 is active (UniForm Iceberg): "
                    "deletion vectors cannot be written "
                    f"({len(dv_adds)} DV add(s)) — use copy-on-write "
                    "deletes/updates, or unset "
                    "delta.universalFormat.enabledFormats / "
                    "delta.enableIcebergCompatV2 first "
                    "(delta-spark refuses this combination too)")
        if entry.adds and (self.row_tracking_enabled
                           or self._row_tracking_supported):
            self._stamp_row_tracking(entry)
        if self.ict_enabled:
            self._stamp_ict(entry)
        with self.commit_context(self._version_to_write):
            commit_entry(self.log_location, self._version_to_write, entry)
        new = self._advance(entry)
        # delta-spark parity: a {version}.crc VersionChecksum rides
        # every commit (best-effort — never a commit failure). The
        # committed entry + the pre-commit live-file dict enable the
        # O(commit) incremental derivation; self.adds is only looked
        # up by path, never iterated (log/checksum.py).
        from .log.checksum import write_version_checksum
        write_version_checksum(self.log_location, new.log,
                               entry=entry, prev_adds=self.adds)
        # interval: the delta.checkpointInterval table property wins
        # over the handle attribute (delta-spark's knob)
        interval = self.checkpoint_interval
        cfg = (new.log.metadata().configuration or {}) if new.log \
            else {}
        raw = cfg.get("delta.checkpointInterval")
        if raw is not None:
            try:
                interval = int(raw)
            except (TypeError, ValueError):
                pass          # malformed property: keep the default
        if interval and new.version > 0 \
                and new.version % interval == 0:
            from .log.checkpoint import write_checkpoint
            try:
                # a table whose writer protocol demands v2Checkpoint
                # must not gain classic-format checkpoints
                proto = new.log.protocol()
                wf = set((proto.extra or {}).get("writerFeatures") or [])
                write_checkpoint(new.log_location, new.log,
                                 part_size=self.checkpoint_part_size,
                                 v2="v2Checkpoint" in wf)
                new = type(self)(self.spark, self.location,
                                 self.log_location)
                # delta parity: expired-log cleanup rides the
                # checkpoint unless explicitly disabled (the 30-day
                # default retention keeps young history safe)
                if str(cfg.get("delta.enableExpiredLogCleanup",
                               "true")).lower() == "true":
                    new.cleanup_metadata()
                    new = type(self)(self.spark, self.location,
                                     self.log_location)
            except Exception:
                pass  # a checkpoint is an optimization, never a failure
        # UniForm (delta-spark parity): tables declaring
        # delta.universalFormat.enabledFormats=iceberg regenerate
        # their Iceberg snapshot after every commit. Generation is
        # derived state so a failure never fails the COMMIT — but a
        # silently-stale snapshot serves old data to Iceberg readers
        # indefinitely, so a failure is WARNED with the delta version
        # that failed, and recorded durably next to the metadata
        # (_conversion_stale.json) so tools can detect the staleness.
        # DV-bearing commits can no longer reach here on UniForm
        # tables (icebergCompatV2 refuses them in _commit); a DV left
        # by a FOREIGN writer still surfaces through this path.
        fmts = str(cfg.get("delta.universalFormat.enabledFormats",
                           "")).lower()
        if "iceberg" in fmts:
            from .log.iceberg import generate_iceberg_metadata
            try:
                generate_iceberg_metadata(new)
                with contextlib.suppress(Exception):
                    _delete_if_present(new.location.join(
                        "metadata").join("_conversion_stale.json"))
            except Exception as e:
                _logger.warning(
                    "UniForm: Iceberg snapshot generation FAILED at "
                    "delta version %s of %s — Iceberg readers keep "
                    "seeing the previous snapshot until a later "
                    "commit or generate('iceberg') succeeds: %s",
                    new.version, new.location.url, e)
                try:
                    meta_dir = new.location.join("metadata")
                    meta_dir.mkdir()
                    meta_dir.join("_conversion_stale.json").write_bytes(
                        json.dumps({
                            "failed_delta_version": new.version,
                            "error": str(e)[:500]}).encode("utf-8"))
                except Exception:
                    pass
        return new

    def _commit_checked(self, entry: DeltaLogEntry, read_version: int,
                        where_sql: str | None = None,
                        reads_table: bool = True,
                        max_commit_retries: int = 2) -> "DeltaTable":
        """Commit with Delta-style logical conflict detection — the
        rebase path for snapshot-built entries (delete/update/merge/
        optimize/restore). Losing the optimistic-concurrency race does
        not by itself invalidate such an entry; it depends on WHAT the
        winners did. On a version collision, examine every commit that
        landed after ``read_version``:

        - a winner REMOVED a file this entry also removes → the data we
          rewrote/compacted is gone: ``CommitConflictError``;
        - ``reads_table`` and a winner ADDED files this operation's
          predicate could match (manifest prune over the new files'
          stats + partition values; ``where_sql=None`` = the whole
          table was read, so any add matches) → our result was computed
          without those rows and replaying it would clobber them:
          ``CommitConflictError``;
        - otherwise the winners are logically disjoint (typically
          appends the predicate provably cannot touch): REBASE — replay
          the identical entry at the next version.

        Conservative by construction: a checkpoint entry that collapsed
        history into a version above ``read_version`` reports all its
        live files as concurrent adds, which can only produce a
        spurious conflict, never a lost update.
        """
        our_removes = {r.path for r in entry.removes}
        handle = self
        for attempt in range(max_commit_retries + 1):
            try:
                return handle._commit(entry)
            except CommitConflictError:
                raise
            except FileExistsError:
                handle = type(self)(self.spark, self.location,
                                    self.log_location)
                conc_adds: dict[str, Add] = {}
                conc_removed: set[str] = set()
                for v, e in handle.log.entries.items():
                    if v <= read_version:
                        continue
                    for a in e.adds:
                        conc_adds[a.path] = a
                    for r in e.removes:
                        conc_removed.add(r.path)
                clobbered = our_removes & conc_removed
                if clobbered:
                    raise CommitConflictError(
                        f"concurrent commit removed {len(clobbered)} "
                        "file(s) this operation rewrites — re-read the "
                        "table and redo the operation")
                if reads_table and conc_adds:
                    matching = (prune_manifest(
                        conc_adds, where_sql, handle.partition_columns,
                        handle._partition_types())
                        if where_sql else conc_adds)
                    if matching:
                        raise CommitConflictError(
                            f"{len(matching)} concurrently-added file(s) "
                            "match this operation's read predicate — "
                            "re-read the table and redo the operation")
                if attempt == max_commit_retries:
                    raise
        raise AssertionError("unreachable")

    # -- the DML core: delete / update / replaceWhere / merge -----------------
    #
    # Every row-level operation is find → rewrite-or-mask → commit: a
    # manifest prune, one touched-file job or deletion-vector mask, a
    # rewrite of only the hit files, and one conflict-checked commit.

    def _dml_mode(self, mode: str, op: str) -> str:
        """Resolve a DELETE/UPDATE ``mode``: ``auto`` is merge-on-read
        when the table property ``delta.enableDeletionVectors`` is
        ``true`` (the delta-spark opt-in convention), copy-on-write
        otherwise. icebergCompatV2 forbids DV writes, so ``auto`` falls
        back to copy-on-write there (an explicit ``merge-on-read`` still
        fails loudly at commit)."""
        if mode not in ("auto", "copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown {op} mode {mode!r}")
        if mode != "auto":
            return mode
        cfg = self.log.metadata().configuration or {}
        dv = str(cfg.get("delta.enableDeletionVectors", "false")
                 ).lower() == "true"
        return "merge-on-read" if dv and not self.iceberg_compat_enabled \
            else "copy-on-write"

    def _touched_files(self, candidates: dict[str, Add], pred
                       ) -> "tuple[dict[str, Add], int, int]":
        """The touched-file job: one aggregation over the candidate files
        grouped on ``input_file_name()``. Returns the files holding a
        ``pred``-matching row (sorted by path), the matching rows, and
        the other rows of those files — the rows a copy-on-write rewrite
        copies. Rows a deletion vector masks never reach the scan, so
        neither count includes them."""
        rel_of = self._rel_by_uri(candidates)
        per_file = (self._scan(candidates)
                    .withColumn("__xdl_file", F.input_file_name())
                    .groupBy("__xdl_file")
                    .agg(F.count(F.lit(1)).alias("total"),
                         F.sum(pred.cast("long")).alias("hits"))
                    .collect())  # one row per candidate file: driver-safe
        hit = [r for r in per_file if (r["hits"] or 0) > 0]
        hit_adds = {p: candidates[p]
                    for p in sorted(rel_of(r["__xdl_file"]) for r in hit)}
        n_hit = sum(int(r["hits"]) for r in hit)
        return hit_adds, n_hit, sum(int(r["total"]) for r in hit) - n_hit

    def _post_image(self, df: DataFrame, assign: dict[str, str],
                    pred: "Column | None" = None) -> DataFrame:
        """UPDATE's post-image of ``df``: each ``assign`` column set to
        its SQL expression — only on rows matching ``pred`` when given,
        so a copy-on-write rewrite copies the others verbatim — and cast
        to the column type. Generated columns not SET are recomputed (a
        SET may have changed their inputs); SET ones are verified."""
        sel = []
        for f in self.schema.fields:
            if f.name not in assign:
                sel.append(F.col(f.name))
                continue
            v = F.expr(assign[f.name])
            if pred is not None:
                v = F.when(pred, v).otherwise(F.col(f.name))
            sel.append(v.cast(f.dataType).alias(f.name))
        return self._apply_generated_columns(df.select(sel),
                                             provided={*assign})

    def _dml(self, mode: str, candidates: dict[str, Add], pred,
             where_sql: "str | None", predicate: str,
             custom_metadata: dict | None, *,
             assign: "dict[str, str] | None" = None,
             certain: "dict[str, Add] | None" = None) -> "DeltaTable":
        """The DML core: DELETE (``assign=None``) or UPDATE ``SET
        assign`` of the rows of ``candidates`` that match ``pred``, by
        the resolved ``mode`` (strategies: :meth:`delete`). Files in
        ``certain`` are proven fully matched from partition values and
        are tombstoned from the manifest alone.

        Copy-on-write runs the touched-file job, then rewrites only the
        hit files. Merge-on-read masks the matched rows first
        (:meth:`_dv_mask_files`) and then appends their post-images, so
        an UPDATE that matches nothing writes nothing. Both commit
        through :meth:`_dml_commit`, with the deleted rows or the update
        pre- and post-images as change data on CDF tables."""
        update = assign is not None
        adds: list[Add] = []
        removes: list = []
        hit_adds: dict[str, Add] = {}
        n_hit = n_copied = 0
        n_dv = None                    # DV re-adds; None when no mask ran
        if candidates and mode == "merge-on-read":
            adds, removes, n_hit, hit_rels = \
                self._dv_mask_files(candidates, pred)
            n_dv = len(adds)
            hit_adds = {r: self.adds[r] for r in hit_rels}
            if update and hit_adds:
                adds += self._write_data(self._apply_constraints(
                    self._post_image(self._scan(hit_adds).filter(pred),
                                     assign)), self.partition_columns)
        elif candidates:
            hit_adds, n_hit, n_copied = self._touched_files(candidates,
                                                            pred)
            if update and hit_adds:
                adds = self._write_data(self._apply_constraints(
                    self._post_image(self._scan(hit_adds), assign, pred)),
                    self.partition_columns)
            elif n_copied:
                adds = self._write_data(
                    self._scan(hit_adds).filter(~pred),
                    self.partition_columns)
            removes = [a.to_remove() for a in hit_adds.values()]
        certain = certain or {}
        removes += [a.to_remove() for a in certain.values()]
        n_hit += sum(self._live_row_count(a) or 0 for a in certain.values())

        metrics = {"num_added_files": len(adds) - (n_dv or 0),
                   "num_removed_files": len(removes) - (n_dv or 0)}
        metrics.update({"num_updated_rows": n_hit,
                        "num_copied_rows": n_copied} if update else
                       {"num_copied_rows": n_copied,
                        "num_deleted_rows": n_hit})
        if n_dv is not None and removes:
            metrics["num_deletion_vectors_added"] = n_dv
        cdc = None
        if self.cdf_enabled and hit_adds:
            matched = self._scan(hit_adds).filter(pred)
            cdc = matched.withColumn(
                self._CHANGE_TYPE,
                F.lit("update_preimage" if update else "delete"))
            if update:
                cdc = cdc.unionByName(
                    self._post_image(matched, assign).withColumn(
                        self._CHANGE_TYPE, F.lit("update_postimage")))
        entry_of = update_table_entry if update else delete_table_entry
        return self._dml_commit(
            entry_of(adds, removes, predicate, self.version, metrics,
                     custom_metadata),
            self.version, cdc=cdc, where_sql=where_sql)

    def _dml_commit(self, entry: DeltaLogEntry, read_version: int, *,
                    cdc: "DataFrame | None" = None,
                    where_sql: "str | None" = None) -> "DeltaTable":
        """The DML commit tail: the deletionVectors protocol upgrade
        when ``entry`` commits a DV descriptor (a commit that only
        tombstones files needs none), the change-data files of ``cdc``,
        and a conflict-checked commit read at ``read_version``."""
        if any((a.extra or {}).get("deletionVector") for a in entry.adds):
            proto_up = self._dv_protocol_action()
            if proto_up is not None:
                entry.actions.insert(0, proto_up)
        if cdc is not None:
            entry.actions.extend(self._write_change_data(cdc))
        return self._commit_checked(entry, read_version,
                                    where_sql=where_sql)

    def delete(self, where: "str | Column | None" = None,
               custom_metadata: dict | None = None,
               mode: str = "auto") -> "DeltaTable":
        """Predicate delete; ``where=None`` deletes everything as a pure
        log commit (reference __init__.py:259-315).

        DELETE and :meth:`update` share one core (:meth:`_dml`);
        ``mode`` picks its physical strategy:

        - ``"copy-on-write"`` (file-granular): manifest prune + one agg
          job grouped on ``input_file_name()`` finds the files that
          truly hold matching rows; one write job rewrites only those
          files — deleted rows dropped, or updated rows SET and the rest
          copied verbatim.  A file left with no row is tombstoned
          without a rewrite.
        - ``"merge-on-read"``: deletion vectors (Delta reader v3 /
          writer v7 feature).  No data file is rewritten — each hit
          file gets a roaring bitmap of its matched row positions (spec
          DV file layout, log/dv.py) and is re-added with the
          descriptor; an update appends only the post-images of those
          rows.  At 100 TB this turns "delete 10 rows from a 1 GB file"
          from a 1 GB rewrite into a KB-sized bitmap write; every read
          surface anti-joins the positions back out (:meth:`_scan`).
          Fully-masked files are tombstoned directly (no pointless DV).
        - ``"auto"`` (default): merge-on-read when the table property
          ``delta.enableDeletionVectors`` is ``true`` (the delta-spark
          opt-in convention), copy-on-write otherwise.

        Metadata-only fast path (delta-spark's partition-predicate
        DELETE): a file whose PARTITION VALUES prove every row matches
        is tombstoned straight from the manifest — no scan, no rewrite,
        no DV. `DELETE WHERE date_part < '2023-01'` on a 100 TB
        date-partitioned table is a pure log commit with ZERO Spark
        jobs. Files without a usable live-row count scan instead, so
        numDeletedRows stays exact; CDF tables always scan (the change
        feed must materialize the deleted rows anyway).
        """
        self._require_mutable("DELETE")
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        mode = self._dml_mode(mode, "delete")
        if where is None:
            return self._dml(mode, {}, None, None, "true", custom_metadata,
                             certain=self.adds)

        where_sql = where if isinstance(where, str) else None
        pred = F.expr(where) if isinstance(where, str) else where
        pred = F.coalesce(pred, F.lit(False))  # null predicate keeps the row
        candidates = self._pruned_adds(where_sql)
        certain: dict[str, Add] = {}
        if where_sql and not self.cdf_enabled:
            certain, candidates = split_certain_matches(
                candidates, where_sql, self.partition_columns,
                self._partition_types())
            unknown = {p: a for p, a in certain.items()
                       if self._live_row_count(a) is None}
            candidates = {**candidates, **unknown}
            certain = {p: a for p, a in certain.items() if p not in unknown}
        return self._dml(mode, candidates, pred, where_sql,
                         where_sql or "<expr>", custom_metadata,
                         certain=certain)

    def _dv_protocol_action(self) -> "Protocol | None":
        """Protocol upgrade for the first deletion-vector commit:
        (3, 7) with ``deletionVectors`` in BOTH feature lists.
        Returns None when the table already declares the feature."""
        return self._feature_protocol_action({"deletionVectors"},
                                             {"deletionVectors"})

    def _feature_protocol_action(self, rf_new: set, wf_new: set
                                 ) -> "Protocol | None":
        """Protocol upgrade adding table features: (3, 7) with the new
        reader/writer features merged in, legacy implied features
        enumerated per the spec's upgrade rule. Writer-only features
        pass ``rf_new=set()`` (minReaderVersion still moves to 3 only
        if it must — spec keeps reader version untouched when no
        reader feature is added and the table predates features).
        Returns None when the table already declares everything."""
        proto = self.log.protocol()
        extra = proto.extra or {}
        rf = set(extra.get("readerFeatures") or [])
        wf = set(extra.get("writerFeatures") or [])
        if proto.minWriterVersion >= 7 and wf_new <= wf \
                and (not rf_new
                     or (proto.minReaderVersion >= 3 and rf_new <= rf)):
            return None
        # legacy versions imply feature sets; enumerate them explicitly
        # when crossing to the table-features protocol
        implied_w = {2: {"appendOnly", "invariants"},
                     3: {"checkConstraints"},
                     4: {"changeDataFeed", "generatedColumns"},
                     5: {"columnMapping"},
                     6: {"identityColumns"}}
        if proto.minWriterVersion < 7:
            for v, feats in implied_w.items():
                if proto.minWriterVersion >= v:
                    wf |= feats
        wf |= wf_new
        min_r = proto.minReaderVersion
        if rf_new or min_r >= 3:
            if min_r == 2 or "columnMapping" in wf:
                rf |= {"columnMapping"}
            rf |= rf_new
            min_r = 3
        up = Protocol(minReaderVersion=min_r, minWriterVersion=7)
        up.extra = {"writerFeatures": sorted(wf)}
        if min_r >= 3:
            up.extra["readerFeatures"] = sorted(rf)
        return up

    def _dv_mask_files(self, candidates: dict[str, Add], pred):
        """The DML core's merge-on-read step (:meth:`_dml`): mask every
        pred-matching row out of its file via deletion vectors.

        One job: scan the candidate files (old DVs anti-joined out so
        already-deleted rows can't re-match), tag each row with its
        file and physical ``_metadata.row_index``, filter the
        predicate, and serialize ONE roaring bitmap per file
        executor-side (``applyInPandas`` groupBy file) — the driver
        collects only (file, bitmap bytes, count), manifest-sized, not
        positions.  Per hit file: union with any existing DV, write the
        spec-layout ``.bin``, re-add the file with the descriptor
        (stats kept — min/max stay conservative for skipping), and
        tombstone the old add.  A file whose every physical row is
        masked is tombstoned outright instead of carrying a 100%% DV.

        Returns ``(new_adds, removes, n_hit_rows, hit_rels)``.
        """
        import dataclasses

        import pandas as pd

        from .log.dv import (deserialize_dv_data, serialize_dv_data,
                             write_dv_files_packed)

        # each old DV is read once: for the anti-join that keeps masked
        # rows from re-matching, and for the union into the new bitmap
        old_dvs = self._deleted_rows(candidates)
        rel_of = self._rel_by_uri(candidates)
        tagged = self._apply_deletion_vectors(self._scan(
            {p: _without_dv(a) if p in old_dvs else a
             for p, a in candidates.items()}).withColumns({
                 "__xdl_file": F.input_file_name(),
                 "__xdl_pos": F.col("_metadata.row_index"),
             }), old_dvs)

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            data = serialize_dv_data(pdf["__xdl_pos"].tolist())
            return pd.DataFrame({"file": [pdf["__xdl_file"].iloc[0]],
                                 "dv": [bytearray(data)],
                                 "hits": [len(pdf)]})

        packed = (tagged.filter(pred)
                  .select("__xdl_file", "__xdl_pos")
                  .groupBy("__xdl_file")
                  .applyInPandas(pack,
                                 "file string, dv binary, hits long")
                  .collect())  # one bitmap-sized row per hit file

        removes = []
        n_hit = 0
        now = timestamp_ms()
        keep: list[tuple[Add, set]] = []     # (old add, merged indexes)
        for row in packed:
            rel = rel_of(row["file"])
            old = self.adds[rel]
            new_idx = deserialize_dv_data(bytes(row["dv"]))
            n_hit += int(row["hits"])
            all_idx = {int(i) for i in new_idx} | \
                {int(i) for i in old_dvs.get(rel, ())}
            removes.append(old.to_remove())
            total = (old.stats_dict or {}).get("numRecords")
            if total is not None and len(all_idx) >= int(total):
                continue                   # fully masked: tombstone only
            keep.append((old, all_idx))
        # ONE packed .bin for the whole commit (delta-spark convention):
        # a delete touching thousands of files costs one PUT, not
        # thousands — each descriptor points at its offset
        descs = write_dv_files_packed(
            self.location, [sorted(idx) for _, idx in keep]) \
            if keep else []
        new_adds: list[Add] = []
        for (old, _idx), desc in zip(keep, descs):
            add = dataclasses.replace(old, modificationTime=now)
            add.extra = {**{k: v for k, v in (old.extra or {}).items()},
                         "deletionVector": desc}
            # spec: stats under a DV are no longer tight row bounds
            sd = add.stats_dict
            if sd is not None and "tightBounds" not in sd:
                import json as _json
                add = dataclasses.replace(
                    add, stats=_json.dumps({**sd, "tightBounds": False}))
                add.extra = {**{k: v
                                for k, v in (old.extra or {}).items()},
                             "deletionVector": desc}
            new_adds.append(add)
        hit_rels = sorted(rel_of(r["file"]) for r in packed)
        return new_adds, removes, n_hit, hit_rels

    @staticmethod
    def _live_row_count(add: Add) -> "int | None":
        """Rows still visible in a file: footer-stat numRecords minus
        the cardinality of any attached deletion vector. None when the
        add carries no stats (foreign log) — callers needing exact
        delete metrics must then scan."""
        nr = (add.stats_dict or {}).get("numRecords")
        if nr is None:
            return None
        desc = (add.extra or {}).get("deletionVector") or {}
        return int(nr) - int(desc.get("cardinality") or 0)

    def update(self, set: dict[str, str],
               where: "str | Column | None" = None,
               custom_metadata: dict | None = None,
               mode: str = "auto") -> "DeltaTable":
        """UPDATE ... SET (standard Delta operation; beyond reference
        parity like MERGE/OPTIMIZE/VACUUM).

        ``set`` maps target column -> SQL expression over the row's
        current values.  UPDATE runs the core of :meth:`delete`, whose
        docstring gives the ``mode`` strategies: copy-on-write rewrites
        only the hit files, and merge-on-read masks the old versions of
        matching rows and appends only their post-images — an update
        of 10 rows in a 1 GB file writes a KB bitmap plus a 10-row file
        instead of a 1 GB rewrite.

        Untouched files keep their add actions.  CHECK constraints are
        enforced on every written row.  Updating a partition column
        re-places rows into the right hive directories automatically.
        """
        self._require_mutable("UPDATE")
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if not set:
            raise ValueError("update() needs at least one SET column")
        for c in set:
            if c not in [f.name for f in self.schema.fields]:
                raise ValueError(f"Unknown column in SET: {c!r}")
            if c in self._identity_columns():
                raise ValueError(
                    f"cannot UPDATE identity column {c!r} (Delta "
                    "identity semantics: values are system-maintained)")
        where_sql = where if isinstance(where, str) else None
        if where is None:
            pred = F.lit(True)
        else:
            pred = F.expr(where) if isinstance(where, str) else where
            pred = F.coalesce(pred, F.lit(False))  # null pred skips row
        mode = self._dml_mode(mode, "update")
        return self._dml(mode, self._pruned_adds(where_sql), pred,
                         where_sql, where_sql or "true", custom_metadata,
                         assign=set)

    #: Deleted-position count above which the DV anti-join degrades
    #: from a driver-built broadcast to a shuffle join (every DV
    #: read/mutation path shares this gate via _dv_positions_frame).
    _DV_BROADCAST_MAX = 2_000_000

    #: Source rows up to which MERGE broadcast-hints its source — the
    #: small-upsert case, where the probe and rewrite joins then never
    #: shuffle the target scan.
    _MERGE_BROADCAST_MAX_ROWS = 4_000_000

    def _dv_positions_frame(self, rows: "list[tuple[str, int]]"):
        """(file, position) deleted-row pairs → join-ready DataFrame.
        Broadcast while small; past ``_DV_BROADCAST_MAX`` positions it
        stays a plain frame (shuffle join) so a heavily-DV'd table
        can't OOM the driver or executors on the broadcast.

        The schema is EXPLICIT and the pandas→Spark hop goes through
        Arrow (r13, guide §4/§6): schemaless createDataFrame inferred
        and merged types over every decoded position — 3.2 s of pure
        driver time at 46k positions (cProfile: _merge_type dominated
        delta_iceberg_bucket_equality_import) — and the pickled-row
        fallback serialized each pair individually. Arrow moves the
        whole frame in one columnar batch; the conf is restored so the
        session's other conversions keep their configured behavior."""
        import pandas as pd
        pdf = pd.DataFrame(rows, columns=["__dv_file", "__dv_pos"])
        with _arrow_conversion(self.spark):
            df = self.spark.createDataFrame(
                pdf, schema="__dv_file string, __dv_pos bigint")
        if len(rows) <= self._DV_BROADCAST_MAX:
            df = F.broadcast(df)
        return df

    def _deleted_rows(self, adds: dict[str, Add]) -> dict:
        """Manifest path -> deleted row positions of each add carrying a
        deletion vector: its roaring bitmap decoded driver-side (DVs are
        per-file deleted-row sets, orders of magnitude smaller than the
        data; cardinality-checked)."""
        from .log.dv import deleted_row_indexes
        return {p: deleted_row_indexes(self.location,
                                       a.extra["deletionVector"])
                for p, a in adds.items()
                if (a.extra or {}).get("deletionVector")}

    def _apply_deletion_vectors(self, df: DataFrame,
                                deleted: dict) -> DataFrame:
        """Filter logically-deleted rows out of a scan of DV-bearing
        files: build a (file, row_index) frame of the ``deleted``
        positions (:meth:`_deleted_rows`) and LEFT ANTI join it against
        the scan keyed on ``_metadata.file_path`` +
        ``_metadata.row_index``. Broadcast when small; past ~2M
        positions it degrades to a shuffle join, still correct. Paths
        meet in the manifest-join convention of :meth:`_scan`: the
        log's (literal) path scheme-stripped, Spark's file URI
        scheme-stripped and url-decoded once. Decoding the literal path
        too would turn a partition directory Spark escaped
        (``p=50%25``) into a path that does not exist (``p=50%``).
        """
        rows = [(_strip_scheme(self.location.absloc(p).url), int(i))
                for p, idx in deleted.items() for i in idx]
        if not rows:
            return df
        dead = self._dv_positions_frame(rows)
        norm_file = F.url_decode(F.regexp_replace(F.regexp_replace(
            F.col("_metadata.file_path"),
            "^[a-zA-Z0-9+.-]+://?", "/"), "^//+", "/"))
        tagged = df.withColumns({
            "__xdl_dv_file": norm_file,
            "__xdl_dv_pos": F.col("_metadata.row_index"),
        })
        cond = (F.col("__xdl_dv_file") == F.col("__dv_file")) & \
            (F.col("__xdl_dv_pos") == F.col("__dv_pos"))
        return (tagged.join(dead, cond, "left_anti")
                .drop("__xdl_dv_file", "__xdl_dv_pos"))

    def _rel_by_uri(self, adds: dict[str, Add]) -> Callable[[str], str]:
        """Constant-time map from ``input_file_name()`` URIs back to
        manifest-relative paths (same normalization as the scan's
        manifest join: scheme stripped, url-decoded)."""
        norm = _norm_uri
        table = {norm(self.location.absloc(p).url): p for p in adds}

        def rel_of(uri: str) -> str:
            hit = table.get(norm(uri))
            if hit is not None:
                return hit
            for u, r in table.items():  # fallback for exotic encodings
                if norm(uri).endswith("/" + r) or u.endswith(norm(uri)):
                    return r
            raise KeyError(uri)

        return rel_of

    # -- restore / clone / import ------------------------------------------------

    def restore(self, restore_version: int | None = None,
                custom_metadata: dict | None = None, *,
                timestamp: Any = None) -> "DeltaTable":
        """Reinstate a previous version's add-set as a new commit
        (reference __init__.py:317-333). Pass either a version or
        ``timestamp=`` (Delta's RESTORE TO TIMESTAMP — epoch ms /
        datetime / ISO string, resolved to the newest version committed
        at or before it)."""
        if (restore_version is None) == (timestamp is None):
            raise ValueError(
                "pass exactly one of restore_version or timestamp")
        if timestamp is not None:
            restore_version = self._version_at_timestamp(timestamp)
        self._require_mutable("RESTORE")
        try:
            # pinned load handles restore targets older than the newest
            # checkpoint (falls back to full JSON replay)
            target = DeltaLog.load(self.log_location,
                                   version=restore_version)
        except ValueError:
            target = DeltaLog()
        if not target:
            raise ValueError(f"Version {restore_version} does not exist")
        cur = self.adds
        tgt = target.add_actions()
        # re-add a path when it is not live OR its live entry differs
        # from the target version's (e.g. a deletion-vector re-add kept
        # the path alive with different metadata — value equality
        # covers extra fields like the DV descriptor)
        re_adds = [a for p, a in tgt.items()
                   if p not in cur or cur[p] != a]
        removes = [a.to_remove() for p, a in cur.items() if p not in tgt]
        entry = restore_table_entry(re_adds, removes, target.metadata(),
                                    restore_version, self.version,
                                    custom_metadata)
        return self._commit_checked(entry, self.version)

    def generate(self, mode: str = "symlink_format_manifest"
                 ) -> "DeltaTable":
        """``GENERATE symlink_format_manifest`` (delta-spark parity):
        write Hive-symlink manifest files under
        ``_symlink_format_manifest/`` — one text file per partition
        (or one at the root for unpartitioned tables) listing the
        ABSOLUTE URIs of the partition's live data files — so
        Presto / Trino / Athena / Hive read the table's current
        snapshot through their SymlinkTextInputFormat without any
        Delta support. Each call rewrites the manifests from the live
        file set and removes manifests of partitions that no longer
        exist (stale manifests would resurrect deleted data in the
        foreign engine). Manifest-scale driver I/O only; no Spark job.

        ``mode="iceberg"`` (r11, delta-spark UniForm parity): write an
        Iceberg v2 snapshot — ``metadata/vN.metadata.json`` + Avro
        manifest list + manifest + ``version-hint.text`` — describing
        the current live file set, so Iceberg readers scan the same
        parquet without Delta support (log/iceberg.py; Avro encoded
        from the published spec in log/avro.py).
        """
        if mode == "iceberg":
            from .log.iceberg import generate_iceberg_metadata
            generate_iceberg_metadata(self)
            return self
        if mode != "symlink_format_manifest":
            raise ValueError(
                f"unsupported generate mode {mode!r} "
                "(only 'symlink_format_manifest' or 'iceberg')")
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        if any((a.extra or {}).get("deletionVector")
               for a in self.adds.values()):
            raise ValueError(
                "symlink manifests cannot represent deletion vectors "
                "— the foreign engine would resurrect deleted rows; "
                "run reorg_purge() first (delta-spark refuses too)")
        root = self.location.join("_symlink_format_manifest")
        pcols = self.partition_columns

        def hive_escape(v: str) -> str:
            # Hive's FileUtils.escapePathName: percent-encode ONLY the
            # reserved set (control chars, '"#%\'*/:=?\\{[]^'); a space
            # stays literal — quote(safe='') would encode it and Athena/
            # Hive partition discovery would parse the value as 'a%20b'
            reserved = set('"#%\'*/:=?\\{[]^\u007f') \
                | {chr(i) for i in range(0x20)}
            return "".join(f"%{ord(ch):02X}" if ch in reserved else ch
                           for ch in v)

        by_part: dict[str, list[str]] = {}
        for a in self.adds.values():
            if pcols:
                pv = a.partitionValues or {}
                segs = []
                for c in pcols:
                    v = pv.get(c)
                    segs.append(
                        f"{c}=__HIVE_DEFAULT_PARTITION__" if v is None
                        else f"{c}={hive_escape(str(v))}")
                key = "/".join(segs)
            else:
                key = ""
            by_part.setdefault(key, []).append(
                self.location.absloc(a.path).url)
        # drop stale partition manifests first (deleted partitions) —
        # directory included, or MSCK/partition discovery would keep
        # registering a phantom empty partition
        live_keys = set(by_part)
        for rel in list(root.list_files_recursive()) \
                if root.exists() else []:
            key = posixpath.dirname(rel)
            if posixpath.basename(rel) == "manifest" \
                    and key not in live_keys:
                stale = root.join(rel)
                stale.delete()
                if stale.scheme == "file":
                    try:
                        os.removedirs(os.path.dirname(stale.path))
                    except OSError:
                        pass          # shared parent still in use
        def write_one(item):
            key, uris = item
            dst = root.join(f"{key}/manifest" if key else "manifest")
            dst.write_bytes(("\n".join(sorted(uris)) + "\n").encode())

        items = list(by_part.items())
        # manifests are independent ~KB writes: thread-pool them the
        # same way _write_data pools its renames, so a 10k-partition
        # GENERATE is bounded by store latency / 16, not serial RTTs
        if len(items) > 8:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=16) as pool:
                list(pool.map(write_one, items))
        else:
            for it in items:
                write_one(it)
        return self

    @classmethod
    def convert_to_delta(cls, spark, path: "str | Location",
                         custom_metadata: dict | None = None
                         ) -> "DeltaTable":
        """IN-PLACE conversion of an existing parquet directory
        (hive-partitioned or flat) into a delta table — delta-spark's
        ``CONVERT TO DELTA``: a ``_delta_log`` is created inside the
        directory with RELATIVE adds, so the converted table supports
        the full lifecycle (delete/optimize/vacuum/time travel) and
        any delta reader opens it. Contrast :meth:`import_refs`, which
        registers foreign files by ABSOLUTE path into a table that
        lives elsewhere (zero-copy reference, the source directory
        stays authoritative).

        Schema and partition-column types come from Spark's own
        parquet + hive-dir inference (one driver-side schema read);
        per-file stats come from the footers. Manifest-scale work
        only — no data job, no file moves. Refuses when a
        ``_delta_log`` already exists."""
        loc = Location.resolve(path) if isinstance(path, str) else path
        if DeltaLog.load(loc.join("_delta_log")):
            raise ValueError(
                f"{loc.url} already has a _delta_log — it IS a delta "
                "table (use DeltaTable(spark, path) to open it)")
        rels = sorted(
            rel for rel in loc.list_files_recursive()
            if rel.endswith(".parquet")
            and not posixpath.basename(rel).startswith((".", "_"))
            and not rel.startswith("_"))
        if not rels:
            raise ValueError(f"no parquet files under {loc.url}")
        # Spark's inference types the partition columns (int dirs read
        # back as int), matching what a delta-spark CONVERT records
        df = (spark.read.option("basePath", loc.url)
              .parquet(loc.url))
        # partition columns must follow the DIRECTORY NESTING ORDER
        # (year=/month=, not alphabetical) — the log's partitionColumns
        # drive every later write's layout and the hive-relative scan
        # fast path, and all files must agree on that order
        pcols: list[str] = []
        for rel in rels:
            keys = [seg.split("=", 1)[0] for seg in rel.split("/")[:-1]
                    if "=" in seg]
            if len(keys) > len(pcols):
                if keys[:len(pcols)] != pcols:
                    raise ValueError(
                        "inconsistent hive partition nesting: "
                        f"{keys} vs {pcols}")
                pcols = keys
            elif keys != pcols[:len(keys)]:
                raise ValueError(
                    "inconsistent hive partition nesting: "
                    f"{keys} vs {pcols}")
        t = cls(spark, loc)
        adds = [t._add_for_relpath(rel) for rel in rels]
        entry = create_table_entry(df.schema, pcols, loc.url, adds)
        ci = entry.commit_info
        ci.operation = "CONVERT"       # delta-spark's operation name
        ci.operationParameters["numFiles"] = len(adds)
        if custom_metadata:
            ci.extra.update(custom_metadata)
        return t._commit(entry)

    def clone(self, dst_location: "str | Location",
              dst_log_location: "str | Location | None" = None,
              deep: bool = False,
              distributed_threshold: int = 64) -> "DeltaTable":
        """Shallow clone: copy the log, rewriting relative data paths to
        absolute source URLs; zero data copy; full history preserved
        (reference __init__.py:231-257).

        Cloning a time-traveled handle clones AT that version
        (delta-spark's ``CLONE source VERSION AS OF n``): shallow
        copies history up to the pin, deep snapshots the pinned live
        file set.

        ``deep=True`` is delta-spark's DEEP CLONE: copy the LIVE
        snapshot's data files (and their deletion-vector bitmaps) into
        the destination under the same relative paths and commit ONE
        version-0 entry — protocol, the source metaData under a fresh
        table id (a clone must not collide with the source's streaming
        checkpoints), and every add verbatim (stats, partitionValues,
        ZCube tags, DV descriptors all carry over, so skipping and
        incremental clustering keep working on the clone). History is
        NOT cloned — the clone starts fresh, per DEEP CLONE semantics.
        File copies go DISTRIBUTED past ``distributed_threshold``
        (one Spark job for a million-file table, not a million driver
        round-trips)."""
        if deep:
            return self._deep_clone(dst_location, dst_log_location,
                                    distributed_threshold)
        dst = Location.resolve(dst_location)
        dst_log = (Location.resolve(dst_log_location)
                   if dst_log_location is not None
                   else dst.join("_delta_log"))
        import dataclasses

        from .log import Remove
        # full-history copy: bypass the checkpoint fast path so versions
        # collapsed into it are cloned verbatim. A time-traveled handle
        # (DeltaTable(..., version=n) / load_as_version) clones history
        # only UP TO its pinned version — delta-spark's
        # ``CLONE src VERSION AS OF n`` (r12)
        full = DeltaLog.load(self.log_location, use_checkpoint=False)
        for v in full.versions:
            if self.pinned_version is not None \
                    and v > self.pinned_version:
                break
            src_entry = full.entries[v]
            actions = []
            for a in src_entry.actions:
                if isinstance(a, (Add, Remove)) and "://" not in a.path \
                        and not a.path.startswith("/"):
                    a = dataclasses.replace(
                        a, path=self.location.join(a.path).url)
                actions.append(a)
            dst_log.join(log_entry_filename(v)).put_if_absent(
                DeltaLogEntry(actions).to_bytes())
        return DeltaTable(self.spark, dst, dst_log)

    def _deep_clone(self, dst_location: "str | Location",
                    dst_log_location: "str | Location | None",
                    distributed_threshold: int) -> "DeltaTable":
        import dataclasses

        from .log.dv import dv_relative_path

        dst = Location.resolve(dst_location, self.storage_options)
        dst_log = (Location.resolve(dst_log_location)
                   if dst_log_location is not None
                   else dst.join("_delta_log"))
        if dst_log.join(log_entry_filename(0)).exists():
            raise FileExistsError(
                f"deep clone target already a table: {dst.url}")
        # live data files + every DV bitmap a live add references
        rels = list(self.adds)
        for a in self.adds.values():
            desc = (a.extra or {}).get("deletionVector")
            if desc and desc.get("storageType") == "u":
                rels.append(dv_relative_path(desc["pathOrInlineDv"]))
        src_url, dst_url = self.location.url, dst.url
        opts = self.storage_options

        def _cp(paths):
            import os as _os
            import shutil as _shutil

            from xdlake_spark.sources.storage import Location as L
            s_root = L.resolve(src_url, opts)
            d_root = L.resolve(dst_url, opts)
            for p in paths:
                s, d = s_root.join(p), d_root.join(p)
                if s.scheme == "file" and d.scheme == "file":
                    # stream, never buffer a whole file in memory
                    _os.makedirs(_os.path.dirname(d.path),
                                 exist_ok=True)
                    _shutil.copyfile(s.path, d.path)
                else:
                    d.write_bytes(s.read_bytes())

        if len(rels) >= max(1, distributed_threshold):
            _foreach_slice(self.spark, rels, _cp)
        else:
            _cp(rels)
        md = dataclasses.replace(self.log.metadata(),
                                 id=str(uuid.uuid4()),
                                 createdTime=timestamp_ms())
        now = timestamp_ms()
        adds = [dataclasses.replace(a, modificationTime=now)
                for a in self.adds.values()]
        commit = TableCommit(
            operation="CLONE",
            operationParameters={"sourceTable": self.location.url,
                                 "sourceVersion": str(self.version),
                                 "isShallow": "false"},
            operationMetrics={"numCopiedFiles": len(rels),
                              "copiedFilesSize":
                                  sum(a.size or 0
                                      for a in self.adds.values())})
        entry = DeltaLogEntry([self.log.protocol(), md, *adds, commit])
        # domain metadata survives the clone (clustering columns,
        # row-id watermark) — same rule as checkpoints
        for dm in self.log.live_domain_metadata().values():
            entry.actions.append(dm)
        dst_log.join(log_entry_filename(0)).put_if_absent(
            entry.to_bytes())
        return DeltaTable(self.spark, dst, dst_log)

    #: Metadata domain tracking files already loaded by copy_into.
    COPY_INTO_DOMAIN = "xdlake.copyInto"

    def copy_into(self, source: "str | list[str]",
                  custom_metadata: dict | None = None) -> "DeltaTable":
        """COPY INTO-style idempotent parquet ingestion (delta-spark's
        COPY INTO semantics, beyond the reference): each source file
        loads into the table EXACTLY ONCE — a retried or repeated call
        skips files already ingested, so load jobs are safely
        re-runnable.

        ``source``: a directory (all ``*.parquet`` under it,
        recursively) or an explicit list of file paths. Already-loaded
        files are identified by an md5 digest of (url, size); the
        digest set lives in the ``xdlake.copyInto`` metadata domain and
        commits ATOMICALLY with the appended data, so a crash between
        "data visible" and "file marked loaded" cannot happen and a
        retry cannot double-load. Returns ``self`` untouched when
        nothing is new.

        Scale note: the domain carries one 32-hex digest per ingested
        file — fine into the tens of thousands of loads; a pipeline
        cycling millions of files should VACUUM the source instead
        (or window it) rather than grow table metadata unboundedly.
        """
        from .log.actions import DomainMetadata

        srcs = [source] if isinstance(source, str) else list(source)
        files: list[Location] = []
        for s in srcs:
            loc = Location.resolve(s, self.storage_options)
            names = ([n for n in loc.list_files_recursive()
                      if n.endswith(".parquet")
                      and not n.startswith("_")]
                     if not loc.url.endswith(".parquet") else None)
            if names is None:
                files.append(loc)
            else:
                files.extend(loc.join(n) for n in sorted(names))
        if not files:
            raise ValueError(f"no parquet files under {srcs!r}")

        import hashlib
        dm = self.log.domain_metadata(self.COPY_INTO_DOMAIN) \
            if self.log else None
        seen = set()
        if dm is not None and not dm.removed:
            seen = set(json.loads(dm.configuration or "{}")
                       .get("ingested", []))
        new: list[tuple[Location, str]] = []
        for f in files:
            digest = hashlib.md5(
                f"{f.url}|{f.file_size()}".encode()).hexdigest()
            if digest not in seen:
                new.append((f, digest))
        if not new:
            return self

        df = union_dataframe(self.spark, [f.url for f, _ in new])
        marker = DomainMetadata(
            domain=self.COPY_INTO_DOMAIN,
            configuration=json.dumps(
                {"ingested": sorted(seen | {d for _, d in new})},
                separators=(",", ":")))
        extra = [marker]
        if self.log:
            up = self._feature_protocol_action(set(),
                                               {"domainMetadata"})
        else:
            # Creating commit: the v0 protocol itself must declare the
            # domainMetadata writer feature — a domainMetadata action
            # under plain (1,2) violates the spec, and conforming
            # foreign writers could drop the domain (breaking COPY
            # INTO's exactly-once guarantee). Writer version 7
            # enumerates the features version 2 implied.
            up = Protocol(minReaderVersion=1, minWriterVersion=7)
            up.extra = {"writerFeatures": sorted(
                {"appendOnly", "invariants", "domainMetadata"})}
        if up is not None:
            extra.insert(0, up)
        return self.write(
            df, mode="append", custom_metadata=custom_metadata,
            _extra_actions=extra, _operation="COPY INTO",
            _operation_params={"numSourceFiles": len(new),
                               "skippedSourceFiles":
                                   len(files) - len(new)})

    def fsck(self, dry_run: bool = True):
        """FSCK REPAIR TABLE (delta-spark parity, beyond the
        reference): detect add entries whose data file — or whose
        deletion-vector file — is missing from storage, and with
        ``dry_run=False`` commit removes for them so scans stop failing
        on manifest-vs-storage drift (a misbehaving lifecycle policy,
        a partial restore, an out-of-band rm).

        Returns the sorted list of broken relative paths when
        ``dry_run`` (or when nothing is broken), else the repaired
        table handle. The check is manifest-driven: one existence
        probe per live file, no data read, no Spark job — at 100 TB
        this is a metadata sweep, not a scan.
        """
        from .log.dv import dv_relative_path

        read_version = self.version
        broken: list[str] = []
        for rel, add in (self.adds or {}).items():
            if not self.location.absloc(rel).exists():
                broken.append(rel)
                continue
            desc = (add.extra or {}).get("deletionVector")
            if desc and desc.get("storageType") == "u":
                dv_rel = dv_relative_path(desc["pathOrInlineDv"])
                if not self.location.absloc(dv_rel).exists():
                    broken.append(rel)
        broken.sort()
        if dry_run or not broken:
            return broken
        removes = [self.adds[r].to_remove() for r in broken]
        entry = delete_table_entry(
            [], removes, "<fsck>", read_version,
            {"num_added_files": 0, "num_removed_files": len(removes),
             "num_copied_rows": 0,
             "num_missing_files": len(broken)})
        self._decorate_entry(entry, None, "FSCK",
                             {"numMissingFiles": len(broken),
                              "dryRun": False})
        return self._commit_checked(entry, read_version)

    def import_refs(self, refs: Any, mode: "str | WriteMode" = "append",
                    schema_mode: "str | SchemaMode" = "overwrite",
                    partition_by: list[str] | None = None,
                    partitioning: Any = "hive",
                    custom_metadata: dict | None = None) -> "DeltaTable":
        """Zero-copy import of foreign parquet: register absolute-path adds
        with footer stats; no data is read or moved
        (reference __init__.py:192-229, 398-423).

        ``refs``: file/dir path(s) and/or prebuilt ``pyarrow.dataset``
        objects (the reference accepts both, tests/test_xdlake.py:179-212).
        Partition values are discovered via pyarrow dataset partitioning
        inference — driver-side listing + footer reads only.

        ``partitioning``: how foreign directory layouts encode partition
        values — ``"hive"`` (``cats=S/``), a
        ``pyarrow.dataset.partitioning(schema, flavor="filename")``
        object (``S_part.parquet``), a ``flavor=None`` partitioning
        object (bare ``S/`` directories), or ``None`` for unpartitioned
        data. Ignored for refs that are already datasets (they carry
        their own).
        """
        import pyarrow.dataset as pads

        mode = WriteMode.coerce(mode)
        schema_mode_e = SchemaMode.coerce(schema_mode)
        if self.log and mode == WriteMode.error:
            raise FileExistsError(f"Table already exists at {self.location.url}")
        if self.log and mode == WriteMode.ignore:
            return self

        if isinstance(refs, (str, Location)) or hasattr(refs, "get_fragments"):
            refs = [refs]
        datasets = [
            r if hasattr(r, "get_fragments")
            else pads.dataset(Location.resolve(r).path, format="parquet",
                              partitioning=partitioning)
            for r in refs]

        from .log.schema import arrow_schema_to_spark, merge_schemas
        incoming = merge_schemas(
            [arrow_schema_to_spark(ds.schema) for ds in datasets])
        partition_by = self.log.validate_partition_by(partition_by)
        schema = self.log.evaluate_schema(incoming, mode, schema_mode_e)

        new_adds: list[Add] = []
        for ds in datasets:
            for frag in ds.get_fragments():
                pvals = {k: str(v) for k, v in pads.get_partition_keys(
                    frag.partition_expression).items()}
                stats = Statistics.from_parquet_metadata(frag.metadata)
                floc = Location.resolve(frag.path)
                new_adds.append(Add(
                    path=floc.url, size=floc.file_size(),
                    modificationTime=timestamp_ms(),
                    partitionValues=pvals, stats=stats.to_json()))

        if not self.log:
            entry = create_table_entry(schema, partition_by,
                                       self.location.url, new_adds,
                                       custom_metadata)
        elif mode == WriteMode.overwrite:
            entry = overwrite_table_entry(
                new_adds, self.adds.values(), schema, partition_by,
                custom_metadata, base_metadata=self.log.metadata())
        else:
            evolved = schema if not schemas_match(schema, self.schema) else None
            entry = append_table_entry(new_adds, partition_by,
                                       schema=evolved,
                                       custom_metadata=custom_metadata)
        return self._commit(entry)

    def import_iceberg(self, source: "str | Location",
                       mode: "str | WriteMode" = "error",
                       schema_mode: "str | SchemaMode" = "overwrite",
                       custom_metadata: dict | None = None
                       ) -> "DeltaTable":
        """CONVERT FROM ICEBERG (r11 — the read half of
        ``generate('iceberg')``): register an Iceberg table's CURRENT
        snapshot as zero-copy absolute-path adds. ``source`` is the
        Iceberg table root (resolved via HadoopCatalog
        ``metadata/version-hint.text``) or a specific
        ``*.metadata.json``. Schema, identity partition spec, per-file
        record counts and sizes all come from the Iceberg metadata
        (parsed with the from-spec Avro reader in log/avro.py) — no
        data is read or moved, no Spark job runs for the data files.
        Iceberg v2 POSITION deletes convert to Delta deletion vectors
        (r11): each delete parquet's (file_path, pos) rows become
        roaring bitmaps packed into ONE spec-layout DV file under this
        table's root, descriptors attach to the matching adds, and the
        protocol declares ``deletionVectors`` — merge-on-read state
        survives the conversion instead of refusing. EQUALITY deletes
        (r12) convert too: one Spark job per equality-column set semi-
        joins the affected data files (``_metadata.row_index``)
        against the broadcast delete tuples and the matching positions
        become DVs (:meth:`_iceberg_equality_delete_map`). Non-identity
        partition transforms — ``bucket[N]``, ``truncate[W]``,
        ``year``/``month``/``day``/``hour``, ``void`` (r12) — drop out
        of the Delta partition declaration (a pure-bucket spec imports
        unpartitioned, a mixed spec keeps its identity columns;
        Iceberg stores every column in the data files, so scans stay
        correct — only partition-level pruning narrows). Unknown
        transforms and non-parquet data still refuse loudly. Stats carry ``numRecords`` (physical
        rows, per DV semantics — ``count()`` subtracts DV
        cardinality); run :meth:`recompute_stats` afterwards for
        min/max skipping."""
        from .log.iceberg import read_iceberg_snapshot
        mode = WriteMode.coerce(mode)
        if self.log and mode == WriteMode.error:
            raise FileExistsError(
                f"Table already exists at {self.location.url}")
        if self.log and mode == WriteMode.ignore:
            return self
        snap = read_iceberg_snapshot(Location.resolve(source))
        # same compatibility gates as import_refs: appending into an
        # existing table must match its partitioning and schema —
        # never a silent commit of mismatched adds
        partition_by = self.log.validate_partition_by(
            snap["partition_columns"])
        schema = self.log.evaluate_schema(
            snap["schema"], mode, SchemaMode.coerce(schema_mode))
        new_adds = [Add(path=f["path"], size=f["file_size"],
                        modificationTime=timestamp_ms(),
                        partitionValues={k: v for k, v
                                         in f["partition"].items()
                                         if v is not None},
                        stats=json.dumps(
                            {"numRecords": f["record_count"]}))
                    for f in snap["files"]]
        file_seq = {f["path"]: f.get("seq", 0) for f in snap["files"]}
        dv_map: dict = {}
        if snap.get("position_deletes"):
            dv_map = self._iceberg_position_delete_map(
                snap["position_deletes"], file_seq)
        if snap.get("equality_deletes"):
            for p, s in self._iceberg_equality_delete_map(
                    snap["equality_deletes"], file_seq).items():
                dv_map.setdefault(p, set()).update(s)
        has_dv = bool(dv_map)
        if has_dv:
            self._attach_iceberg_dv_map(new_adds, dv_map)
        if not self.log:
            entry = create_table_entry(schema, partition_by,
                                       self.location.url, new_adds,
                                       custom_metadata)
        elif mode == WriteMode.overwrite:
            entry = overwrite_table_entry(
                new_adds, self.adds.values(), schema, partition_by,
                custom_metadata, base_metadata=self.log.metadata())
        else:
            entry = append_table_entry(new_adds, partition_by,
                                       custom_metadata=custom_metadata)
        if has_dv:
            self._ensure_entry_features(entry, {"deletionVectors"})
        return self._commit(entry)

    def _iceberg_position_delete_map(self, deletes: "list[dict]",
                                     file_seq: "dict[str, int]"
                                     ) -> "dict[str, set]":
        """Iceberg v2 position-delete parquet -> {data path: deleted
        row positions} (helper of :meth:`import_iceberg`). Reads go
        through the Location layer (registered filesystems /
        storage_options honored) — delete files are KB-scale relative
        to data.

        Applicability follows the spec's sequence-number rule: a
        position delete applies only to data files whose sequence
        number is <= the delete's; rows targeting rewritten/absent
        files are INERT (real readers ignore them until delete
        compaction), never an error."""
        import io as _io

        import pyarrow.parquet as pq

        per_file: dict = {}
        for d in deletes:
            data = Location.resolve(d["path"]).read_bytes()
            tbl = pq.read_table(_io.BytesIO(data),
                                columns=["file_path", "pos"])
            dseq = int(d.get("seq", 0))
            for fp, pos in zip(tbl.column("file_path").to_pylist(),
                               tbl.column("pos").to_pylist()):
                if fp in file_seq and file_seq[fp] <= dseq:
                    per_file.setdefault(fp, set()).add(int(pos))
        return per_file

    def _iceberg_equality_delete_map(self, deletes: "list[dict]",
                                     file_seq: "dict[str, int]"
                                     ) -> "dict[str, set]":
        """Iceberg v2 EQUALITY-delete files -> {data path: deleted row
        positions} (r12, helper of :meth:`import_iceberg`): equality
        deletes name VALUES, not positions, so conversion to Delta DVs
        needs ONE Spark job per equality-column set — scan only the
        data files the spec says are affected (sequence number
        STRICTLY below a delete's) with ``_metadata.row_index``, semi-
        join against the broadcast delete tuples (null-safe equality,
        per spec NULL matches NULL), and keep the matching positions.
        At 100 TB the job touches only the affected files once and the
        delete tuples ride a broadcast — never an all-pairs shape."""
        from functools import reduce

        groups: dict = {}
        for d in deletes:
            groups.setdefault(tuple(sorted(d["columns"])),
                              []).append(d)
        per_file: dict = {}
        norm_of = {_norm_uri(p): p for p in file_seq}
        for cols, group in sorted(groups.items()):
            max_dseq = max(int(d.get("seq", 0)) for d in group)
            affected = {p: s for p, s in file_seq.items()
                        if s < max_dseq}
            if not affected:
                continue
            dd = None
            for d in group:
                one = (self._read_files([d["path"]], None)
                       .select(*[F.col(c).alias(f"__d_{c}")
                                 for c in cols])
                       .withColumn("__dseq",
                                   F.lit(int(d.get("seq", 0)))))
                dd = one if dd is None else dd.unionByName(one)
            # the manifests already carry the delete files' row counts:
            # broadcast only genuinely small tuple sets; a huge
            # equality-delete backlog falls back to a shuffle join
            # instead of OOMing every executor on the broadcast
            n_del_rows = sum(int(d.get("record_count") or 0)
                             for d in group)
            if n_del_rows <= 4_000_000:
                dd = F.broadcast(dd)
            seq_df = self.spark.createDataFrame(
                [(_norm_uri(p), int(s)) for p, s in affected.items()],
                "__nfp string, __fseq long")
            data = (self._read_files(sorted(affected), None)
                    .select(
                        F.regexp_replace(
                            F.regexp_replace(
                                F.col("_metadata.file_path"),
                                r"^[a-zA-Z0-9+.-]+://?", "/"),
                            r"^//+", "/").alias("__nfp"),
                        F.col("_metadata.row_index").alias("__pos"),
                        *cols))
            cond = reduce(lambda a, b: a & b,
                          [F.col(c).eqNullSafe(F.col(f"__d_{c}"))
                           for c in cols])
            # Arrow toPandas, not collect(): the matched positions are
            # tens of thousands of (path, pos) pairs and the pickled
            # Row path serialized each one individually (r13 cProfile:
            # 1.4 s of the import's driver time)
            with _arrow_conversion(self.spark):
                hits = (data.join(dd, cond, "inner")
                        .join(F.broadcast(seq_df), "__nfp")
                        .filter(F.col("__fseq") < F.col("__dseq"))
                        .select("__nfp", "__pos").distinct().toPandas())
            for nfp, pos in zip(hits["__nfp"].to_numpy(),
                                hits["__pos"].to_numpy()):
                p = norm_of.get(nfp)
                if p is not None:
                    per_file.setdefault(p, set()).add(int(pos))
        return per_file

    def _attach_iceberg_dv_map(self, new_adds: "list[Add]",
                               per_file: "dict[str, set]") -> None:
        """Pack {data path: deleted positions} into ONE spec-layout DV
        file under this table's root and attach the descriptors to the
        matching adds."""
        import numpy as np

        from .log.dv import write_dv_files_packed
        by_path = {a.path: a for a in new_adds}
        targets = sorted(p for p in per_file if p in by_path)
        descs = write_dv_files_packed(
            self.location,
            [np.array(sorted(per_file[p]), dtype=np.int64)
             for p in targets])
        for p, desc in zip(targets, descs):
            a = by_path[p]
            a.extra = {**(a.extra or {}), "deletionVector": desc}

    # -- maintenance (SURVEY §2.5 stretch ops) ------------------------------------

    #: Metadata domain holding a clustered table's column set (Delta
    #: protocol "Clustered Table" / liquid clustering).
    CLUSTERING_DOMAIN = "delta.clustering"

    def clustering_columns(self) -> list[str]:
        """LOGICAL clustering columns of a clustered (liquid) table,
        from the ``delta.clustering`` metadata domain; ``[]`` when the
        table is not clustered (or was ``CLUSTER BY NONE``'d). The
        domain stores physical names under column mapping (spec), so
        they map back through the schema here."""
        dm = self.log.domain_metadata(self.CLUSTERING_DOMAIN)
        if dm is None or dm.removed:
            return []
        try:
            stored = json.loads(dm.configuration or "{}") \
                .get("clusteringColumns", [])
        except json.JSONDecodeError:
            return []
        back = {p: l for l, p in self._physical_names().items()}
        out = []
        for path in stored:
            name = path[0] if isinstance(path, list) else path
            out.append(back.get(name, name))
        return out

    def cluster_by(self, columns: list[str],
                   custom_metadata: dict | None = None) -> "DeltaTable":
        """ALTER TABLE ... CLUSTER BY (liquid clustering, delta-spark
        parity; the reference has no clustering at all — beyond
        parity). Records the clustering column set in the
        ``delta.clustering`` metadata domain (physical names under
        column mapping, per spec) and upgrades the writer protocol to
        hold ``clustering`` + ``domainMetadata``. ``columns=[]`` is
        CLUSTER BY NONE. Data is NOT rewritten here — a later
        :meth:`optimize` picks the domain up and Hilbert-clusters the
        live files, which is exactly delta-spark's lazy model (writes
        stay cheap; clustering is maintained by maintenance runs)."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        names = {f.name for f in self.schema.fields}
        unknown = [c for c in columns if c not in names]
        if unknown:
            raise ValueError(f"CLUSTER BY columns not in schema: "
                             f"{unknown}")
        overlap = [c for c in columns if c in self.partition_columns]
        if overlap:
            raise ValueError("clustering columns cannot also be "
                             f"partition columns: {overlap}")
        if len(columns) > 4:
            raise ValueError("Delta supports at most 4 clustering "
                             f"columns, got {len(columns)}")
        phys = self._physical_names()
        stored = [[phys.get(c, c)] for c in columns]
        commit = TableCommit(
            operation="CLUSTER BY",
            operationParameters={"clusterBy":
                                 json.dumps([c for c in columns])},
            readVersion=self.version)
        commit.extra.update(custom_metadata or {})
        from .log.actions import DomainMetadata
        entry = DeltaLogEntry([
            DomainMetadata(
                domain=self.CLUSTERING_DOMAIN,
                configuration=json.dumps(
                    {"clusteringColumns": stored},
                    separators=(",", ":"))),
            commit,
        ])
        up = self._feature_protocol_action(
            set(), {"clustering", "domainMetadata"})
        if up is not None:
            entry.actions.insert(0, up)
        return self._commit(entry)

    #: Minimum stable ZCube size for incremental clustering
    #: maintenance — delta-spark's
    #: spark.databricks.io.skipping.mdc.minCubeSize default. A cube at
    #: or above this is FINAL: routine OPTIMIZE never rewrites it.
    MIN_CUBE_SIZE = 100 * 1024 * 1024 * 1024

    def optimize(self, target_file_size: int = 128 * 1024 * 1024,
                 custom_metadata: dict | None = None,
                 zorder_by: list[str] | None = None,
                 hilbert_by: list[str] | None = None,
                 where: str | None = None,
                 full: bool = False,
                 min_cube_size: "int | None" = None) -> "DeltaTable":
        """Compaction: coalesce small files per partition into ~target-size
        files; a metadata-only change (``dataChange=false``).

        ``zorder_by``: cluster ALL live files on the interleaved-bit
        Z-value of these columns instead of just coalescing — after it,
        per-file min/max intervals are tight on every Z-order column, so
        manifest pruning (plans/skipping.py) skips files for predicates
        on any of them, not only the first sort key.

        ``hilbert_by``: same rewrite but ordered along the Hilbert
        curve (plans/hilbert.py) — consecutive rows are always
        L1-adjacent in rank space, so per-file bounding boxes come out
        tighter than Z-order's (which jumps across the space at bit
        seams); the better default for multi-column skipping at scale.

        ``where``: OPTIMIZE ... WHERE — restrict the operation to files
        matched by a partition predicate (manifest prune; non-partition
        predicates keep every file they might match). The way a 100 TB
        table compacts its hot partitions daily without rewriting cold
        history.

        On a CLUSTERED (liquid) table a bare ``optimize()`` maintains
        the declared clustering INCREMENTALLY (delta-spark semantics):
        files rewritten by clustering carry a ZCube identity in
        ``add.tags`` (``ZCUBE_ID`` / ``ZCUBE_ZORDER_BY`` /
        ``ZCUBE_ZORDER_CURVE``) plus the spec's ``clusteringProvider``
        field, and the next ``optimize()`` rewrites ONLY files that
        are not yet in a cube matching the current clustering columns,
        plus cubes still below ``min_cube_size`` (default
        ``MIN_CUBE_SIZE``, delta-spark's 100 GB: small cubes keep
        merging with new data until stable). Routine maintenance cost
        is therefore proportional to NEW data, never table size; a
        second bare ``optimize()`` with nothing new is a no-op.
        ``full=True`` forces the old whole-table re-cluster (delta's
        ``OPTIMIZE ... FULL``).
        """
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        scope = self._pruned_adds(where)
        if zorder_by and hilbert_by:
            raise ValueError("pass zorder_by or hilbert_by, not both")
        provider = None
        if not zorder_by and not hilbert_by:
            # clustered (liquid) table: OPTIMIZE maintains the declared
            # clustering — delta-spark semantics — via the Hilbert path
            clustered = self.clustering_columns()
            if clustered:
                hilbert_by = clustered
                provider = "liquidClustering"
                if not full:
                    scope = self._clustering_candidates(
                        scope, clustered,
                        self.MIN_CUBE_SIZE if min_cube_size is None
                        else min_cube_size)
                    if not scope:
                        return self
        if zorder_by:
            return self._zorder(zorder_by, target_file_size,
                                custom_metadata, scope=scope)
        if hilbert_by:
            return self._zorder(hilbert_by, target_file_size,
                                custom_metadata, scope=scope,
                                curve="hilbert",
                                clustering_provider=provider)
        small = {p: a for p, a in scope.items()
                 if a.size < target_file_size}
        # group by partition; only partitions with >1 small file benefit
        by_part: dict[tuple, list[str]] = {}
        for p, a in small.items():
            key = tuple(sorted((a.partitionValues or {}).items()))
            by_part.setdefault(key, []).append(p)
        to_compact = {p: self.adds[p]
                      for paths in by_part.values() if len(paths) > 1
                      for p in paths}
        if not to_compact:
            return self
        total_bytes = sum(a.size for a in to_compact.values())
        n_out = max(1, round(total_bytes / target_file_size))
        df = self._scan(to_compact)
        if self.partition_columns:
            df = df.repartition(n_out, *self.partition_columns)
        else:
            df = df.repartition(n_out)
        new_adds = self._write_data(df, self.partition_columns)
        removes = [a.to_remove() for a in to_compact.values()]
        metrics = {"numFilesAdded": len(new_adds),
                   "numFilesRemoved": len(removes)}
        entry = optimize_table_entry(new_adds, removes, self.version,
                                     metrics, custom_metadata)
        return self._commit_checked(entry, self.version,
                                    reads_table=False)

    def reorg_purge(self, where: str | None = None,
                    custom_metadata: dict | None = None) -> "DeltaTable":
        """REORG TABLE ... APPLY (PURGE) (delta-spark parity): rewrite
        ONLY the files carrying deletion vectors, materializing their
        soft deletes into clean parquet and dropping the bitmaps.
        DV-free files are untouched — the targeted complement to
        merge-on-read DELETE/UPDATE: deletes stay cheap day-to-day,
        and a periodic purge bounds the DV read-time anti-join cost.
        ``where`` restricts to a partition predicate (manifest prune).
        Superseded DV ``.bin`` files become VACUUM-reclaimable via the
        descriptors carried on the tombstones."""
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        self._require_mutable("REORG PURGE")
        scope = self._pruned_adds(where)
        dv_files = {p: a for p, a in scope.items()
                    if (a.extra or {}).get("deletionVector")}
        if not dv_files:
            return self
        df = self._scan(dv_files)            # DV anti-join applied
        new_adds = self._write_data(df, self.partition_columns)
        removes = [a.to_remove() for a in dv_files.values()]
        metrics = {"numFilesAdded": len(new_adds),
                   "numFilesRemoved": len(removes),
                   "numDeletionVectorsRemoved": len(dv_files)}
        entry = optimize_table_entry(new_adds, removes, self.version,
                                     metrics, custom_metadata)
        return self._commit_checked(entry, self.version,
                                    reads_table=False)

    def _clustering_candidates(self, scope: "dict[str, Add]",
                               columns: list[str],
                               min_cube_size: int
                               ) -> "dict[str, Add]":
        """Select the files a bare ``optimize()`` on a clustered table
        must rewrite (delta-spark's incremental ZCube model):

        - files with NO matching ZCube identity — new appends, CoW
          rewrites from DELETE/UPDATE/MERGE, or files clustered under
          DIFFERENT columns (after an ALTER ... CLUSTER BY) — always
          re-cluster;
        - files in cubes still below ``min_cube_size`` keep merging
          with new data until the cube is stable;
        - stable cubes (>= ``min_cube_size``, matching columns) are
          FINAL and never rewritten by routine maintenance.

        Idempotence: when there are no unclustered files and at most
        one partial cube, re-running the rewrite would reproduce the
        same single cube — return nothing instead, so back-to-back
        ``optimize()`` is a metadata no-op, never a 100 TB rewrite.
        """
        want = json.dumps(list(columns), separators=(",", ":"))
        untagged: dict[str, Add] = {}
        cubes: dict[str, dict[str, Add]] = {}
        for p, a in scope.items():
            ex = a.extra or {}
            tags = ex.get("tags") or {}
            zid = tags.get("ZCUBE_ID")
            if (not zid
                    or tags.get("ZCUBE_ZORDER_BY") != want
                    or tags.get("ZCUBE_ZORDER_CURVE") != "hilbert"
                    or not ex.get("clusteringProvider")):
                untagged[p] = a
            else:
                cubes.setdefault(zid, {})[p] = a
        partial = [files for files in cubes.values()
                   if sum(a.size for a in files.values())
                   < min_cube_size]
        if not untagged and len(partial) <= 1:
            return {}
        out = dict(untagged)
        for files in partial:
            out.update(files)
        return out

    def _zorder(self, columns: list[str], target_file_size: int,
                custom_metadata: dict | None,
                scope: dict[str, Add] | None = None,
                curve: str = "z",
                clustering_provider: "str | None" = None
                ) -> "DeltaTable":
        """Space-filling-curve clustering rewrite (Z-order or Hilbert).

        Per column: 256 approx-quantile boundaries (one lightweight agg
        job) map values to an 8-bit rank; ranks and the curve key are
        computed together in ONE Arrow-batched numpy kernel
        (plans/hilbert.py curve_key_udf — searchsorted ranks, then bit
        interleave for ``curve="z"`` or Skilling's transpose for
        ``curve="hilbert"``; the Hilbert key gives tighter per-file
        bounding boxes — consecutive rows are always L1-adjacent in
        rank space, no Z-order seams).
        Either way a range repartition + in-partition sort on the curve
        key places similar (c1, c2, ...) rows in the same files. No
        global sort through one reducer — range partitioning samples
        boundaries the same way orderBy does, and all heavy work is
        executor-side.
        """
        # keep the curve key inside a signed long for both curves
        n_bits = min(8, 63 // max(1, len(columns)))
        scope = self.adds if scope is None else scope
        df = self._scan(scope)
        probs = [i / (1 << n_bits) for i in range(1, 1 << n_bits)]
        # ONE quantile job for ALL curve columns (multi-column
        # approxQuantile) — the per-column form re-scanned the input
        # once per column, a 2-4x planning-cost tax on every rewrite.
        # relativeError 0.02, not 0.01 (r13): the sketch's per-row
        # insert/compress cost dominates this job (measured 2.2 s ->
        # 1.4 s on the bench lineitem) and 0.01 already collapsed the
        # 255 requested probes to ~75 distinct cuts — rank boundaries
        # only steer file layout (equi-depth-ish cube fill and min/max
        # tightness), never query results, and delta-spark's own range
        # partitioning samples far coarser than either setting.
        all_cuts = df.approxQuantile(list(columns), probs, 0.02)
        # ranks + curve key in ONE Arrow-batched numpy kernel (r13,
        # guide §4.2): the per-cut JVM higher-order filter
        # (size(filter(cuts, b -> col > b)) per column) plus the
        # 2*n_bits*d-term shift/add Z chain were interpreted per row;
        # searchsorted + vectorized interleave computes the identical
        # integers 4x faster (2.5 -> 0.6 s on the bench lineitem).
        import numpy as _np
        from .plans.hilbert import curve_key_udf as _curve_key_udf
        cut_arrays = [_np.array(sorted(set(cuts)), dtype=_np.float64)
                      for cuts in all_cuts]
        z = _curve_key_udf(cut_arrays, n_bits, curve)(
            *[F.col(c) for c in columns])
        ranked = df

        total_bytes = sum(a.size for a in scope.values())
        n_out = max(1, -(-total_bytes // target_file_size))  # ceil
        # materialize the curve key ONCE (lazily): repartitionByRange
        # samples its input to pick range boundaries, so without the
        # checkpoint the scan + rank filters + curve kernel ran THREE
        # times per rewrite — once for the sample, once for the
        # exchange, (plus the quantile scan above) — and the Hilbert
        # pandas-UDF recompute dominated the rewrite (r13 profile:
        # 3 × ~3.5 s jobs in delta_zorder_scan). The sample pass now
        # doubles as the materializer and the exchange re-reads the
        # persisted blocks. Memory is bounded by the rewrite scope
        # (incremental maintenance rewrites new data, never the table).
        keyed_src = ranked.withColumn("__z", z) \
            .localCheckpoint(eager=False)
        clustered = (keyed_src
                     .repartitionByRange(n_out, "__z")
                     .sortWithinPartitions("__z")
                     .drop("__z"))
        new_adds = self._write_data(clustered, self.partition_columns)
        # stamp the ZCube identity on every rewritten add (add.tags,
        # tolerantly round-tripped through JSON commits AND parquet
        # checkpoints) — what makes the NEXT clustered optimize()
        # incremental instead of a full-table rewrite
        cube_id = uuid.uuid4().hex
        cube_tags = {
            "ZCUBE_ID": cube_id,
            "ZCUBE_ZORDER_BY": json.dumps(list(columns),
                                          separators=(",", ":")),
            "ZCUBE_ZORDER_CURVE": curve,
        }
        for a in new_adds:
            a.extra = {**(a.extra or {}),
                       "tags": {**((a.extra or {}).get("tags") or {}),
                                **cube_tags}}
            if clustering_provider:
                a.extra["clusteringProvider"] = clustering_provider
        removes = [a.to_remove() for a in scope.values()]
        key = "hilbertClusterBy" if curve == "hilbert" else "zOrderBy"
        metrics = {"numFilesAdded": len(new_adds),
                   "numFilesRemoved": len(removes),
                   key: ",".join(columns)}
        entry = optimize_table_entry(new_adds, removes, self.version,
                                     metrics, custom_metadata)
        return self._commit_checked(entry, self.version,
                                    reads_table=False)

    def vacuum(self, retention_hours: "float | None" = None,
               dry_run: bool = False,
               distributed_threshold: int = 1000,
               full: bool = False,
               inventory: "DataFrame | None" = None) -> list[str]:
        """Physically delete tombstoned files older than the retention
        window. Returns deleted (or would-delete) relative paths.

        ``retention_hours`` defaults from the table's
        ``delta.deletedFileRetentionDuration`` property (same interval
        grammar as log retention), else delta's 7-day default.

        The default mode is log-only (delta 3.3's "VACUUM LITE"): the
        doomed set comes purely from tombstones — zero directory
        listing, the cheap routine mode at 100 TB. ``full=True`` adds
        delta-spark's listing semantics: untracked files (crashed-
        writer orphans no log action references) older than the
        horizon by filesystem mtime are reclaimed too; hidden
        (``_``/``.``-segment) paths, live adds, tombstoned paths and
        referenced DV bitmaps are protected in raw and URL-decoded
        spellings.

        Below ``distributed_threshold`` doomed files the driver deletes
        them through a small thread pool, one storage call per file (a
        file already gone counts as deleted), and no Spark job runs.
        From the threshold on, one Spark job deletes them, each
        partition its slice; delta-spark likewise deletes on the driver
        unless ``spark.databricks.delta.vacuum.parallelDelete.enabled``
        is set. Measured on a shared 4-core host (``local[4]``, 3 runs
        each): on the local FS the pool took 15–36 ms / 143–164 ms /
        0.59–0.89 s at 200 / 1000 / 5000 files against 1.2–1.4 s /
        4.1–4.8 s / 17–18 s for the job; with a 20 ms delete (the
        emulated object store) the pool took 0.52 s / 2.5 s / 12.7 s
        against 2.0 s / 9.2 s / 43.6 s. So the pool wins at every
        size on such a host. On the 20 ms store the job costs 0.33 s
        to start plus about 35 ms of executor-slot time per file, and
        the pool 2.54 ms of wall time per file. So the job wins only
        on a cluster with more than 14 free slots, and with 16 it
        breaks even at about 950 files: the default of 1000.

        ``inventory`` (delta-spark 3.3's VACUUM ... USING INVENTORY)
        supplies the listing as a DataFrame with columns ``path``
        (absolute URL under the table root, or root-relative),
        ``isDir`` and ``modificationTime`` (epoch ms) — e.g. an S3
        Inventory report — replacing the recursive directory walk,
        which IS the vacuum bottleneck on a 100 TB table (billions of
        LIST calls vs a bulk report the store produces nightly for
        free). Implies the ``full`` untracked-orphan semantics with
        identical protection rules; the inventory is prefiltered
        DISTRIBUTED (directory rows, fresh files, hidden paths and
        protected paths drop via one anti-join before anything reaches
        the driver). Rows outside the table root are ignored — this
        engine never deletes what the table does not own."""
        from .log.dv import dv_relative_path

        if retention_hours is None:
            retention_hours = self._interval_property_hours(
                "delta.deletedFileRetentionDuration", 168.0)
        # Delta's vacuumProtocolCheck feature pins exactly this: VACUUM
        # must run the writer-protocol gate BEFORE deleting, so an
        # engine that doesn't understand a feature can't destroy files
        # that feature still references (e.g. un-modeled sidecars).
        if not dry_run:
            self._check_writer_protocol()
        now = timestamp_ms()
        horizon = now - int(retention_hours * 3600 * 1000)
        live = set(self.adds)
        # DV files referenced by LIVE adds must survive regardless of
        # any tombstone that mentions the same bitmap
        live_dvs = set()
        for a in self.adds.values():
            desc = (a.extra or {}).get("deletionVector")
            if desc and desc.get("storageType") == "u":
                live_dvs.add(dv_relative_path(desc["pathOrInlineDv"]))
        candidates: dict[str, int] = {}
        # entries only: under a checkpointed load the pre-checkpoint
        # tombstones are carried inside the checkpoint entry itself
        for v in sorted(self.log.entries):
            for rm in self.log.entries[v].removes:
                if rm.path not in live and "://" not in rm.path \
                        and not rm.path.startswith("/"):
                    candidates[rm.path] = rm.deletionTimestamp or 0
                # a tombstone carrying a DV descriptor orphans that
                # bitmap file (unless a live add still references it —
                # e.g. a remove of a fully-superseded old version)
                desc = (rm.extra or {}).get("deletionVector")
                if desc and desc.get("storageType") == "u":
                    rel = dv_relative_path(desc["pathOrInlineDv"])
                    if rel not in live_dvs:
                        candidates[rel] = rm.deletionTimestamp or 0
        if full or inventory is not None:
            # VACUUM FULL (delta-spark's default listing mode, our
            # opt-in): list the table directory and reclaim UNTRACKED
            # files older than the horizon — orphans from crashed
            # writers that no add or tombstone references, which the
            # log-only walk above can never see. Protection rules,
            # delta-spark parity: any path with a hidden ('_'/'.')
            # segment is skipped (that shields _delta_log,
            # _change_data, _symlink_format_manifest, and in-flight
            # _staging-* dirs); live adds, every tombstoned path, and
            # every DV bitmap referenced anywhere are protected in
            # both raw and URL-decoded spellings (foreign writers
            # URL-encode add.path). Age comes from filesystem mtime —
            # the only timestamp an untracked file has.
            protected = set(live) | set(candidates) | live_dvs
            protected |= {urllib.parse.unquote(p) for p in list(protected)}
            listing = (self._inventory_listing(inventory, protected,
                                               horizon)
                       if inventory is not None
                       else self.location.list_files_recursive_info())
            for rel, mtime in listing:
                if any(seg.startswith(("_", "."))
                       for seg in rel.split("/")):
                    continue
                if rel in protected \
                        or urllib.parse.unquote(rel) in protected:
                    continue
                if mtime <= horizon:
                    candidates[rel] = mtime
        doomed = sorted(p for p, ts in candidates.items() if ts <= horizon)
        if not dry_run:
            if len(doomed) >= max(1, distributed_threshold):
                base, opts = self.location.url, self.storage_options

                def _rm(paths):
                    from xdlake_spark.sources.storage import Location
                    root = Location.resolve(base, opts)
                    for p in paths:
                        _delete_if_present(root.join(p))

                _foreach_slice(self.spark, doomed, _rm)
            else:
                _delete_on_driver(self.location, doomed)
        return doomed

    def _inventory_listing(self, inventory, protected: set,
                           horizon: int) -> "list[tuple[str, int]]":
        """Distributed prefilter of a VACUUM inventory DataFrame down
        to candidate orphans: resolve paths relative to the table
        root, drop directories, fresh files, hidden (``_``/``.``
        segment) paths and anything in the protected set (one
        left-anti join) — all executor-side, so only genuine garbage
        paths ever reach the driver. Rows outside the table root are
        skipped. The caller's final driver-side pass re-applies every
        rule including URL-decoded protected spellings."""
        root = self.location.url.rstrip("/") + "/"
        p = F.col("path").cast("string")
        rel = F.when(p.startswith(root),
                     F.substring(p, len(root) + 1, 1 << 30)) \
            .when(~p.contains("://") & ~p.startswith("/"), p)
        hidden = F.exists(
            F.split(F.col("rel"), "/"),
            lambda s: s.startswith("_") | s.startswith("."))
        prot = self.spark.createDataFrame(
            [(x,) for x in sorted(protected)], "rel string") \
            if protected else None
        inv = (inventory
               .select(rel.alias("rel"),
                       F.col("isDir").cast("boolean").alias("__d"),
                       F.col("modificationTime").cast("long")
                       .alias("__m"))
               .filter(F.col("rel").isNotNull() & (F.col("rel") != "")
                       & ~F.col("__d") & (F.col("__m") <= horizon)
                       & ~hidden))
        if prot is not None:
            inv = inv.join(prot, "rel", "left_anti")
        return [(r["rel"], r["__m"]) for r in inv.collect()]

    _DEFAULT_LOG_RETENTION_HOURS = 30 * 24.0   # delta's 30-day default

    def _interval_property_hours(self, key: str,
                                 default: float) -> float:
        """Parse an interval-valued table property ("interval N
        minutes|hours|days|weeks", delta-spark's grammar) into hours;
        ``default`` when unset."""
        cfg = (self.log.metadata().configuration or {}) if self.log \
            else {}
        raw = cfg.get(key)
        if not raw:
            return default
        import re as _re
        m = _re.fullmatch(
            r"\s*(?:interval\s+)?(\d+)\s*"
            r"(minute|hour|day|week)s?\s*", str(raw).lower())
        if not m:
            raise ValueError(
                f"unparseable {key}: {raw!r} "
                "(expected 'interval N minutes|hours|days|weeks')")
        n = int(m.group(1))
        return n * {"minute": 1 / 60.0, "hour": 1.0, "day": 24.0,
                    "week": 168.0}[m.group(2)]

    def _log_retention_hours(self) -> float:
        return self._interval_property_hours(
            "delta.logRetentionDuration",
            self._DEFAULT_LOG_RETENTION_HOURS)

    def compact_log(self, start: "int | None" = None,
                    end: "int | None" = None) -> str:
        """Minor log compaction (delta-spark's
        ``{start}.{end}.compacted.json``): write one reconciled
        net-effect file for the commit range so subsequent snapshot
        loads read ONE file instead of ``end - start + 1`` JSONs
        (log/__init__.py compact_entries — per-path last action wins,
        newest metadata/protocol, per-app txn watermarks, domain
        tombstones). The original JSONs are NOT deleted — history()
        and CDF still re-read them; log retention expires them later.

        Between checkpoints this is the log-replay scale lever: a
        busy 100 TB table committing every few seconds accumulates
        thousands of JSONs per checkpoint interval, and every open
        pays one small-file read per commit; compaction makes the
        replay cost O(compactions), and VACUUM-style maintenance can
        run it opportunistically. Defaults: the full range from the
        first available version to the current head. Write is
        put-if-absent (idempotent; concurrent compactors agree).
        Returns the log-relative filename.
        """
        import re as _re

        from .log import (DeltaLogEntry, compact_entries,
                          compacted_filename)

        if self.log is None:
            raise ValueError(f"No delta table at {self.location.url}")
        # read ONLY the range's JSON files: on a long-lived table the
        # log may hold millions of commits, and compacting the recent
        # thousand must not replay them all
        json_names = {
            int(m.group(1)): n
            for n in self.log_location.list_files()
            if (m := _re.match(r"^(\d+)\.json$", n))}
        versions = sorted(json_names)
        if not versions:
            raise ValueError("no JSON commits to compact")
        if start is None:
            # the loader only consumes compacted ranges that start
            # strictly AFTER the newest checkpoint (log/__init__.py
            # lo = cp_v + 1), so a default full-range compaction on a
            # checkpointed table would write a file no replay ever
            # reads — default past the checkpoint instead
            from .log.checkpoint import last_checkpoint_version
            cp_v = last_checkpoint_version(self.log_location)
            s = versions[0] if cp_v is None \
                else max(versions[0], cp_v + 1)
        else:
            s = int(start)
        e = self.version if end is None else int(end)
        if s >= e:
            raise ValueError(
                f"compaction range [{s}, {e}] must span >= 2 versions")
        entries = {}
        for v in range(s, e + 1):
            if v not in json_names:
                raise ValueError(
                    f"version {v} missing from the log — cannot "
                    f"compact [{s}, {e}]")
            entries[v] = DeltaLogEntry.from_bytes(
                self.log_location.join(json_names[v]).read_bytes())
        entry = compact_entries(entries, s, e)
        name = compacted_filename(s, e)
        try:
            self.log_location.join(name).put_if_absent(entry.to_bytes())
        except FileExistsError:
            pass                  # concurrent compactor: same content
        return name

    def cleanup_metadata(self, retention_hours: "float | None" = None,
                         dry_run: bool = False) -> list[str]:
        """Expire log files superseded by the newest checkpoint —
        delta-spark's metadata cleanup (``delta.logRetentionDuration``,
        default 30 days). Without it the ``_delta_log`` grows one JSON
        per commit forever; at 100 TB scale that is millions of files
        the next log replay has to list.

        A version's file (its ``.json`` and any checkpoint files FOR
        that version) is deleted when BOTH (a) it predates the newest
        checkpoint — replay from the checkpoint never needs it — and
        (b) its COMMIT timestamp (in-commit timestamps authoritative;
        never file mtimes, which drift under copies) is older than the
        retention window. Sidecar files under ``_delta_log/_sidecars``
        survive while any retained checkpoint manifest references
        them. ``_last_checkpoint`` and everything at or after the
        checkpoint version are never touched. Time travel to an
        expired version fails afterwards — that is the documented
        trade of log retention, and why the horizon is time-gated, not
        just checkpoint-gated. Returns the deleted (or would-delete)
        log-relative names."""
        if self.log is None:
            raise ValueError(f"No delta table at {self.location.url}")
        import re as _re

        from .log.checkpoint import last_checkpoint_version
        ckpt_v = last_checkpoint_version(self.log_location)
        if ckpt_v is None:
            return []               # nothing is superseded yet
        if retention_hours is None:
            retention_hours = self._log_retention_hours()
        horizon = timestamp_ms() - int(retention_hours * 3600 * 1000)
        commit_ts: dict[int, int] = {}
        for h in self.log.history(reverse=False):
            t = h.get("inCommitTimestamp", h.get("timestamp"))
            if t is not None:
                commit_ts[h["version"]] = int(t)
        pat = _re.compile(r"^(\d{20})\.(json|crc|checkpoint(\.|$).*|"
                          r"checkpoint\.parquet)$")
        from .log import _COMPACTED_RE
        doomed: list[str] = []
        kept_ckpts: list[str] = []
        expired = {}
        for name in self.log_location.list_files():
            m = pat.match(name)
            if not m:
                # compacted log files expire by their END version's
                # age, outside the all-at-once protection bookkeeping:
                # they are derived replay accelerators, so deleting
                # one never loses information
                mc = _COMPACTED_RE.match(name)
                if mc:
                    b = int(mc.group(2))
                    # no surviving timestamp for b means an earlier
                    # cleanup already expired the covered JSONs — the
                    # compacted file accelerates replay of versions
                    # that are no longer reachable, so it is expired
                    # too (otherwise it would be retained forever)
                    ts = commit_ts.get(b)
                    if b < ckpt_v and (ts is None or ts <= horizon):
                        doomed.append(name)
                continue
            v = int(m.group(1))
            is_ckpt = ".checkpoint" in name
            if v >= ckpt_v or commit_ts.get(v, horizon + 1) > horizon:
                if is_ckpt:
                    kept_ckpts.append(name)
                expired[name] = False
                continue
            doomed.append(name)
            expired[name] = True
        # checkpointProtection (written by DROP FEATURE): history below
        # the pinned version may only be removed ALL AT ONCE — a
        # partial expiry could leave feature-bearing JSON that an
        # engine lacking the dropped feature would replay and misread
        cfg = (self.log.metadata().configuration or {})
        raw_p = cfg.get("delta.requireCheckpointProtectionBeforeVersion")
        if raw_p is not None:
            try:
                protect = int(raw_p)
            except (TypeError, ValueError):
                protect = None
            if protect is not None and protect > 0:
                below = [n for n in expired
                         if int(pat.match(n).group(1)) < min(protect,
                                                             ckpt_v)]
                if below and not all(expired[n] for n in below):
                    # compacted names (no pat match) stay doomed:
                    # they are derived files, protection-exempt
                    doomed = [n for n in doomed
                              if pat.match(n) is None
                              or int(pat.match(n).group(1)) >= protect]
                    kept_ckpts = [n for n in expired
                                  if ".checkpoint" in n
                                  and n not in set(doomed)]
        # sidecars: referenced-by-retained-manifests survive
        side_dir = self.log_location.join("_sidecars")
        sidecars = set(side_dir.list_files())
        if sidecars:
            referenced: set[str] = set()
            import pyarrow.parquet as _pq
            for name in kept_ckpts:
                try:
                    path = self.log_location.join(name).path
                    if "sidecar" not in _pq.read_schema(path).names:
                        continue          # classic layout: no sidecars
                    tbl = _pq.read_table(path, columns=["sidecar"])
                except Exception:
                    referenced = sidecars     # unreadable: keep all
                    break
                for rec in tbl.column("sidecar").to_pylist():
                    if rec and rec.get("path"):
                        referenced.add(rec["path"])
            doomed.extend(f"_sidecars/{s}"
                          for s in sorted(sidecars - referenced))
        doomed = sorted(doomed)
        if not dry_run:
            # in version order, so an interrupted clean-up leaves
            # the retained log contiguous
            for rel in doomed:
                _delete_if_present(self.log_location.join(rel))
        return doomed

    def merge(self, source: Any, condition: str,
              *, when_matched_update: dict[str, str] | None = None,
              when_matched_update_condition: str | None = None,
              when_matched_delete: "bool | str" = False,
              when_matched: "list[dict] | None" = None,
              when_not_matched_insert: dict[str, str] | None = None,
              when_not_matched_insert_condition: str | None = None,
              when_not_matched: "list[dict] | None" = None,
              when_not_matched_by_source_update: dict[str, str] | None = None,
              when_not_matched_by_source_update_condition: str | None = None,
              when_not_matched_by_source_delete: "bool | str" = False,
              when_not_matched_by_source: "list[dict] | None" = None,
              custom_metadata: dict | None = None,
              txn: "tuple[str, int] | None" = None,
              schema_evolution: bool = False) -> "DeltaTable":
        """MERGE INTO (SURVEY §2.5): join-on-condition + conditional rewrite.

        ``txn=(app_id, version)`` stamps a SetTransaction action into
        the SAME commit (Delta's idempotent-writes contract): a
        streaming upsert replaying a micro-batch checks
        ``txn_version(app_id)`` and skips batches already applied —
        exactly-once MERGE effects on at-least-once batch delivery.

        ``schema_evolution=True`` (delta-spark's
        ``withSchemaEvolution``): source columns absent from the target
        join the table schema in the same commit — existing rows read
        them as NULL, update/insert clauses may assign them, and the
        metaData action re-declares the evolved schema atomically with
        the data.

        Copy-on-write at file granularity: only files containing matched
        target rows are rewritten; inserts append. Clause semantics follow
        Delta's MERGE: ``when_matched_update`` maps target column ->
        SQL expression over ``s.`` (source) / ``t.`` (target);
        ``when_not_matched_insert`` maps target column -> expression over
        ``s.``, gated by ``when_not_matched_insert_condition``
        (delta-spark's ``whenNotMatchedInsert(condition=...)`` — an
        unmatched source row failing the gate is dropped, not
        inserted). Like Delta, raises if multiple source rows match one
        target row while an update/delete clause is present (the
        rewrite would otherwise fan the target row out
        non-deterministically).

        Ordered clause lists (r11 — delta-spark's full
        ``whenMatched(c1).update(...).whenMatched(c2).delete()
        .whenMatched().update(...)`` chain): pass
        ``when_matched=[{"update": {...}, "condition": "..."},
        {"delete": True, "condition": "..."}, {"update": {...}}, ...]``
        — any number of clauses, evaluated FIRST-MATCH-WINS per the
        Delta spec: a matched row takes the first clause whose
        condition holds (a missing condition always holds; a NULL
        condition means "does not apply" and falls through), later
        clauses never see it, and a matched row satisfying no clause
        passes through unchanged. ``{"delete": "cond"}`` is sugar for
        ``{"delete": True, "condition": "cond"}``.

        The scalar kwargs remain sugar for the common two-clause shape:
        ``when_matched_update`` (gated by
        ``when_matched_update_condition``) then ``when_matched_delete``
        as a condition string — update-first, exactly
        ``when_matched=[{update...}, {delete...}]``.
        ``when_matched_delete=True`` keeps the original unconditional
        form. Passing both ``when_matched`` and the scalar kwargs is an
        error.

        All THREE clause families accept ordered lists (r12 —
        delta-spark's full builder chain). ``when_not_matched=[
        {"insert": {...}, "condition": "..."}, ...]``: an unmatched
        source row takes the FIRST insert clause whose condition holds
        (missing condition = always; NULL = does not apply); a row
        satisfying no clause is dropped, not inserted. Columns a
        clause leaves unassigned take their column DEFAULT, else NULL.
        A generated/identity column must be assigned by ALL insert
        clauses or by NONE (mixed assignment would make
        verify-vs-compute ambiguous per row — refused loudly).
        ``when_not_matched_by_source=[{"update": {...}} | {"delete":
        True|"cond"}, ...]`` mirrors ``when_matched``'s shape and
        first-match-wins evaluation over target rows with no source
        match. The scalar kwargs remain sugar for the single-clause
        (insert) and update-then-delete (by-source) shapes; mixing a
        list with its scalar kwargs is an error.

        ``WHEN NOT MATCHED BY SOURCE`` (Delta's third clause family —
        mirror upstream deletes/demotions): target rows with NO matching
        source row are updated (``when_not_matched_by_source_update``,
        expressions over ``t.`` only, gated by
        ``when_not_matched_by_source_update_condition``) or deleted
        (``when_not_matched_by_source_delete``, True or a ``t.``
        condition string; update clause wins when both apply). Only
        files actually holding an affected row are rewritten — detected
        with one anti-join probe.

        Scale: the source is counted once and broadcast-hinted up to
        ``_MERGE_BROADCAST_MAX_ROWS`` rows (the canonical small-upsert
        case — avoids shuffling the full target scan in both the probe
        and rewrite joins); matched-row detection
        uses an injected always-true marker column on the source, so a NULL
        in any real source column can never masquerade as "unmatched".
        """
        if self.schema is None:
            raise ValueError(f"No delta table at {self.location.url}")
        # every clause family as an ordered [(kind, assignments|None,
        # condition|None), ...] list — evaluated first-match-wins
        # (_first_match) regardless of which sugar produced it
        matched_clauses = _merge_clauses(
            "when_matched", when_matched, when_matched_update,
            when_matched_update_condition, when_matched_delete)
        nmbs_clauses = _merge_clauses(
            "when_not_matched_by_source", when_not_matched_by_source,
            when_not_matched_by_source_update,
            when_not_matched_by_source_update_condition,
            when_not_matched_by_source_delete)
        insert_clauses = _merge_clauses(
            "when_not_matched", when_not_matched, when_not_matched_insert,
            when_not_matched_insert_condition)
        if matched_clauses or nmbs_clauses:
            # insert-only MERGE is pure append and stays allowed
            self._require_mutable("MERGE with update/delete clauses")
        read_version = self.version
        # __xdl_matched: guaranteed-non-null marker — after a left join,
        # NULL here means "no source row matched", regardless of NULLs in
        # real source columns.
        src = (union_dataframe(self.spark, source)
               .withColumn("__xdl_matched", F.lit(True)))

        # Dynamic file pruning (delta-spark's MERGE DFP): for a pure
        # conjunction with equi terms t.X = s.Y, the source-count job
        # ALSO collects each key's [min, max]; target files whose
        # stats/partition values provably cannot intersect any source
        # key drop out of the probe, the rewrite AND the insert
        # anti-join (a source key inside its own global bounds cannot
        # match a row in a file disjoint from those bounds). The CDC
        # shape — a small upsert batch into a 100 TB keyed table —
        # scans only the overlapping files instead of the whole table.
        # NOT-MATCHED-BY-SOURCE clauses inspect every target row, so
        # they keep the full scan.
        eq: list = []
        if not nmbs_clauses:
            eq = [(tc, sc) for tc, sc in _equi_join_pairs(condition)
                  if tc in self.schema.fieldNames()
                  and sc in src.columns]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (_, sc) in enumerate(eq):
            aggs.append(F.min(F.col(f"`{sc}`")).alias(f"__mn{i}"))
            aggs.append(F.max(F.col(f"`{sc}`")).alias(f"__mx{i}"))
        bounds = src.agg(*aggs).collect()[0]
        n_src = bounds["__n"]
        scan_adds = self.adds
        nodes = []
        for i, (tc, _) in enumerate(eq):
            mn, mx = bounds[f"__mn{i}"], bounds[f"__mx{i}"]
            # NaN bounds would evaluate every stats comparison False
            # and prune ALL files (all comparisons against NaN are
            # false) — matched rows would be re-inserted as
            # duplicates. Skip bound derivation for NaN-touched keys.
            if mn is None or mn != mn or mx != mx:
                continue
            nodes.append(_SkipComparison(tc, ">=", mn))
            nodes.append(_SkipComparison(tc, "<=", mx))
        if nodes:
            scan_adds = prune_with_nodes(self.adds, nodes,
                                         self.partition_columns,
                                         self._partition_types())

        if n_src <= self._MERGE_BROADCAST_MAX_ROWS:
            src = F.broadcast(src)
        src = src.alias("s")
        cond = F.expr(condition)

        target_all = self._scan(scan_adds).withColumn(
            "__xdl_file", F.input_file_name())
        t = target_all.alias("t")

        # phase 1: which files contain matched rows, and does any target
        # row match more than one source row?  One job: inner-probe join,
        # per-(file, target-row) match counts, then per-file max.
        t_probe = target_all.withColumn(
            "__xdl_tid", F.monotonically_increasing_id()).alias("t")
        probe = (t_probe.join(src, cond, "inner")
                 .groupBy("__xdl_file", "__xdl_tid")
                 .agg(F.count(F.lit(1)).alias("__xdl_n"))
                 .groupBy("__xdl_file")
                 .agg(F.max("__xdl_n").alias("__xdl_max_n"))
                 .collect())
        matched_files = [r["__xdl_file"] for r in probe]
        if matched_clauses and any(
                r["__xdl_max_n"] > 1 for r in probe):
            raise ValueError(
                "MERGE failed: multiple source rows matched a single "
                "target row; update/delete would be non-deterministic "
                "(same error condition as Delta Lake MERGE)")
        rel_of = self._rel_by_uri(self.adds)
        hit_rels = sorted({rel_of(u) for u in matched_files})

        # schema evolution: source-only columns join the table schema;
        # the rewrite/insert paths fill them with NULL wherever the
        # target has no value, and the commit re-declares metaData
        new_fields: list = []
        if schema_evolution:
            tgt_names = {f.name for f in self.schema.fields}
            new_fields = [f for f in src.schema.fields
                          if f.name not in tgt_names
                          and f.name != "__xdl_matched"]
        evolved_schema = T.StructType(
            list(self.schema.fields) + new_fields) if new_fields \
            else self.schema
        typ = {f.name: f.dataType for f in evolved_schema.fields}
        t_has = {f.name for f in self.schema.fields}

        def tcol(c):
            """Target-side value of column c: NULL for columns the
            target gained only in this merge."""
            return F.col(f"t.{c}") if c in t_has \
                else F.lit(None).cast(typ[c])
        # matched files only need rewriting when a matched clause can
        # change them — an insert-only MERGE leaves them untouched
        # (previously they were rewritten as identical copies: wasted
        # I/O, and spurious add/remove churn for CDF readers)
        rewrite_rels = set(hit_rels) if matched_clauses else set()
        if nmbs_clauses:
            # phase 1c: which files hold a target row with NO source
            # match that satisfies a BY SOURCE clause gate — only those
            # need a rewrite (a file of fully-matched or gate-failing
            # rows stays untouched). One anti-join job. Clause ORDER is
            # irrelevant here: any gate holding marks the file.
            any_gate = _any_of(F.expr(cnd) if cnd else F.lit(True)
                               for _, _, cnd in nmbs_clauses)
            aff = (t.join(src, cond, "left_anti")
                   .filter(F.coalesce(any_gate, F.lit(False)))
                   .select("__xdl_file").distinct().collect())
            rewrite_rels |= {rel_of(r["__xdl_file"]) for r in aff}
        rewrite_rels = sorted(rewrite_rels)

        out_cols = [f.name for f in evolved_schema.fields]
        # an assignment to a column the (possibly evolved) schema does
        # not hold was previously ignored silently — refuse instead
        for name, clauses in (("when_matched", matched_clauses),
                              ("when_not_matched", insert_clauses),
                              ("when_not_matched_by_source",
                               nmbs_clauses)):
            for i, (kind, assigns, _) in enumerate(clauses):
                for c in (assigns or {}):
                    if c not in out_cols:
                        hint = ("" if schema_evolution else
                                " (pass schema_evolution=True to adopt "
                                "source-only columns)")
                        raise ValueError(
                            f"{name} clause {i + 1} ({kind}) assigns "
                            f"unknown column {c!r}{hint}")
        new_adds: list[Add] = []
        cdc_df: DataFrame | None = None  # CDF rows accumulated per clause

        def cdc_add(df: DataFrame, change_type: str):
            nonlocal cdc_df
            df = df.withColumn(self._CHANGE_TYPE, F.lit(change_type))
            cdc_df = df if cdc_df is None else cdc_df.unionByName(df)

        def fold(rows: DataFrame, acts: list) -> DataFrame:
            """``rows`` with the active update/delete clauses ``acts``
            applied: a deleted row drops, an updated row takes its
            clause's assignments, any other row copies. CDF captures
            the update pre- and post-images and the deleted rows."""
            drop = _any_of(a for kind, _, a in acts if kind == "delete")
            sel = [_case_assign(acts, c, tcol(c)).cast(typ[c]).alias(c)
                   for c in out_cols]
            if self.cdf_enabled:
                t_sel = [tcol(c).cast(typ[c]).alias(c) for c in out_cols]
                upd = rows.filter(
                    _any_of(a for kind, _, a in acts if kind == "update"))
                cdc_add(upd.select(t_sel), "update_preimage")
                cdc_add(upd.select(sel), "update_postimage")
                cdc_add(rows.filter(drop).select(t_sel), "delete")
            return rows.filter(~drop).select(sel)

        if rewrite_rels:
            hit_adds = {r: self.adds[r] for r in rewrite_rels}
            th = self._scan(hit_adds).alias("t")
            if matched_clauses:
                joined = th.join(src, cond, "left")
                is_matched = F.col("s.__xdl_matched").isNotNull()
                # the BY SOURCE chain runs over the unmatched rows of
                # the same join — disjoint from the matched chain
                rewritten = fold(joined,
                                 _first_match(matched_clauses, is_matched)
                                 + _first_match(nmbs_clauses, ~is_matched))
            else:
                # NMBS-only merge: matched rows pass through UNCHANGED,
                # so the multi-match guard does not fire (Delta's rule
                # covers modified rows only) — and a left join would
                # fan a multiply-matched pass-through row into N
                # copies. Semi/anti joins preserve multiplicity by
                # construction: matched rows copy verbatim, unmatched
                # rows take the BY SOURCE clauses first-match-wins.
                keep = (th.join(src, cond, "left_semi")
                        .select([tcol(c).alias(c) for c in out_cols]))
                rewritten = keep.unionByName(fold(
                    th.join(src, cond, "left_anti"),
                    _first_match(nmbs_clauses, F.lit(True))))
            # generated columns: VERIFIED on the matched-rewrite path
            # (an UPDATE clause that broke one fails loudly with a
            # message naming the expression) — clause semantics make a
            # silent recompute ambiguous here
            rewritten = self._apply_generated_columns(
                rewritten, provided=set(out_cols))
            new_adds.extend(self._write_data(
                self._apply_constraints(rewritten),
                self.partition_columns))

        wm_schema = None
        if insert_clauses:
            # an unmatched source row takes the FIRST insert clause
            # whose condition holds; a row satisfying no clause is
            # dropped, not inserted (a CDC apply must NOT insert a
            # delete row whose key the target never held). Columns a
            # clause leaves unassigned take their column DEFAULT, else
            # NULL (delta-spark parity).
            defaults = self.column_defaults
            acts = _first_match(
                [(kind, {c: assigns.get(c, defaults.get(c, "NULL"))
                         for c in out_cols}, cnd)
                 for kind, assigns, cnd in insert_clauses], F.lit(True))
            ins = (src.join(t, cond, "left_anti")
                   .filter(_any_of(a for _, _, a in acts))
                   .select([_case_assign(acts, c).cast(typ[c]).alias(c)
                            for c in out_cols]))
            # generated columns: COMPUTED for columns no insert clause
            # assigns, verified for ones every clause assigns; a
            # generated/identity column assigned by SOME clauses only
            # would be verify-vs-compute ambiguous per row — refused
            # here. Identity columns likewise generated past the
            # watermark.
            assigned_sets = [set(a) for _, a, _ in insert_clauses]
            all_assigned = set.union(*assigned_sets)
            every_assigned = set.intersection(*assigned_sets)
            special = (set(self._generated_columns())
                       | set(self._identity_columns()))
            mixed = sorted((all_assigned - every_assigned) & special)
            if mixed:
                raise ValueError(
                    f"generated/identity column(s) {mixed} must be "
                    "assigned by ALL when_not_matched insert clauses "
                    "or by none")
            ins = self._apply_generated_columns(
                ins, provided=every_assigned)
            ins, id_touched = self._generate_identity(
                ins, provided=every_assigned)
            ins_adds = self._write_data(
                self._apply_constraints(ins), self.partition_columns)
            new_adds.extend(ins_adds)
            if id_touched:
                wm_schema = self._identity_watermark_schema(ins_adds,
                                                            id_touched)
            if self.cdf_enabled:
                cdc_add(ins, "insert")

        removes = [self.adds[r].to_remove() for r in rewrite_rels]
        metrics = {"numTargetFilesAdded": len(new_adds),
                   "numTargetFilesRemoved": len(removes)}
        entry = merge_table_entry(new_adds, removes, condition,
                                  read_version, metrics, custom_metadata)
        if txn is not None:
            from .log.actions import SetTransaction
            entry.actions.insert(0, SetTransaction(
                appId=str(txn[0]), version=int(txn[1]),
                lastUpdated=timestamp_ms()))
        decl = None
        if wm_schema is not None:
            # identity watermark advanced by the insert clause
            decl = T.StructType(list(wm_schema.fields) + new_fields) \
                if new_fields else wm_schema
        elif new_fields:
            decl = evolved_schema
        if decl is not None:
            # re-declare metaData in this commit (evolved columns
            # and/or identity watermark), atomic with the data
            import dataclasses
            md = dataclasses.replace(
                self.log.metadata(),
                schemaString=schema_to_string(decl))
            entry.actions.insert(0, md)
        # cdc_df covers every clause (update pre/post, deletes, inserts);
        # its presence — even zero-row when all gates filtered — keeps
        # CDF readers off the add/remove fallback, which would mis-derive
        # the copy-on-write churn as changes. MERGE reads the whole
        # target (probe + anti joins): any concurrent add conflicts, so
        # no where_sql narrowing here
        return self._dml_commit(entry, read_version, cdc=cdc_df)


def _merge_clauses(name: str, clauses: "list[dict] | None",
                   assign: "dict[str, str] | None" = None,
                   condition: "str | None" = None,
                   delete: "bool | str" = False) -> list:
    """One MERGE clause family as an ordered ``[(kind, assignments |
    None, condition | None), ...]`` list. ``when_not_matched`` holds
    insert clauses; ``when_matched`` and ``when_not_matched_by_source``
    hold update and delete clauses. ``clauses`` is the list form; the
    scalar kwargs are sugar for ``[{kind: assign, "condition":
    condition}, {"delete": delete}]`` — update first, so "the update
    clause wins when both apply" is first-match-wins over that order.
    Passing both forms is an error."""
    kinds = ("insert",) if name == "when_not_matched" \
        else ("update", "delete")
    if clauses is None:
        clauses = []
        if assign:
            clauses.append({kinds[0]: assign, "condition": condition})
        if delete:
            clauses.append({"delete": delete if isinstance(delete, str)
                            else True})
    elif assign or condition or delete:
        kwargs = [f"{name}_{k}" for k in (kinds[0], f"{kinds[0]}_condition",
                                         *kinds[1:])]
        raise ValueError(f"pass either {name}=[...] or the "
                         f"{'/'.join(kwargs)} kwargs, not both")
    need = f"'{kinds[0]}'" if len(kinds) == 1 else \
        "exactly one of " + "/".join(f"'{k}'" for k in kinds)
    out: list = []
    for cl in clauses:
        if not isinstance(cl, dict):
            raise ValueError(f"{name} clause must be a dict, got "
                             f"{type(cl).__name__}")
        actions = [k for k in kinds if k in cl]
        if len(actions) != 1 or set(cl) - {*kinds, "condition"}:
            raise ValueError(
                f"each {name} clause needs {need} (+ optional "
                f"'condition'); got keys {sorted(cl)}")
        kind, cond = actions[0], cl.get("condition")
        if kind != "delete":
            assigns = cl[kind]
            if not isinstance(assigns, dict) or not assigns:
                raise ValueError(f"{name} {kind} clause must map "
                                 "column -> SQL expression")
            out.append((kind, dict(assigns), cond))
            continue
        if isinstance(cl["delete"], str):
            if cond is not None:
                raise ValueError(
                    "give the delete condition once — either "
                    "delete='cond' or condition='cond'")
            cond = cl["delete"]
        elif cl["delete"] is not True:
            raise ValueError(f"{name} delete clause must be True or a "
                             "condition string")
        out.append(("delete", None, cond))
    return out


def _first_match(clauses: list, scope: Column) -> list:
    """Activation predicates of an ordered MERGE clause list, first-
    match-wins per the Delta spec: a row where ``scope`` holds takes the
    first clause whose condition is TRUE — a missing condition always
    holds, a NULL one means "does not apply" and falls through — and
    later clauses never see it. Returns ``[(kind, assignments, active),
    ...]`` with mutually exclusive ``active`` predicates."""
    claimed = F.lit(False)
    out = []
    for kind, assigns, cnd in clauses:
        gate = F.expr(cnd) if cnd else F.lit(True)
        act = scope & ~claimed & F.coalesce(gate, F.lit(False))
        out.append((kind, assigns, act))
        claimed = claimed | act
    return out


def _any_of(preds) -> Column:
    """OR of the ``preds`` columns; FALSE when there are none."""
    out = F.lit(False)
    for p in preds:
        out = out | p
    return out


def _case_assign(acts: list, col: str,
                 otherwise: "Column | None" = None) -> Column:
    """CASE WHEN for column ``col`` over :func:`_first_match`'s
    mutually exclusive actives: one branch per clause assigning ``col``
    (its SQL expression); a row no such clause claims takes
    ``otherwise`` (NULL when omitted)."""
    branches = [(act, assigns[col]) for kind, assigns, act in acts
                if kind != "delete" and col in assigns]
    if not branches:
        return otherwise
    expr = F.when(branches[0][0], F.expr(branches[0][1]))
    for act, v in branches[1:]:
        expr = expr.when(act, F.expr(v))
    return expr if otherwise is None else expr.otherwise(otherwise)


_EQUI_TERM = re.compile(
    r"^\s*(?:t\.`?(\w+)`?\s*=\s*s\.`?(\w+)`?"
    r"|s\.`?(\w+)`?\s*=\s*t\.`?(\w+)`?)\s*$", re.I)


def _equi_join_pairs(condition: str) -> "list[tuple[str, str]]":
    """(target_col, source_col) equi pairs from a MERGE condition that
    is a pure top-level conjunction; [] when OR/parentheses make
    per-conjunct reasoning unsound. Non-equi conjuncts are simply
    skipped — every match must still satisfy each equi conjunct, so
    any equi term prunes regardless of what else is ANDed on."""
    if re.search(r"\bOR\b|[()]", condition, re.I):
        return []
    out = []
    for term in re.split(r"\bAND\b", condition, flags=re.I):
        m = _EQUI_TERM.match(term)
        if m:
            tc, sc = (m.group(1), m.group(2)) if m.group(1) \
                else (m.group(4), m.group(3))
            out.append((tc, sc))
    return out


def _foreach_slice(spark: SparkSession, items: list, fn) -> None:
    """Run ``fn`` over slices of ``items`` on the executors, one slice
    per task slot: a task costs far more than the per-file storage
    call it runs."""
    sc = spark.sparkContext
    sc.parallelize(items, max(1, min(len(items), sc.defaultParallelism))) \
        .foreachPartition(fn)


def _without_dv(add: Add) -> Add:
    """``add`` without its deletion vector: a scan of it sees every
    physical row."""
    import dataclasses
    return dataclasses.replace(
        add, extra={k: v for k, v in (add.extra or {}).items()
                    if k != "deletionVector"})


def _norm_uri(u: str) -> str:
    """Scheme stripped, leading slashes collapsed, url-decoded — the
    canonical form for matching Spark-reported file URIs against
    manifest paths."""
    u = re.sub(r"^[a-zA-Z0-9+.-]+://?", "/", u)
    u = re.sub(r"^//+", "/", u)
    try:
        return urllib.parse.unquote(u)
    except Exception:
        return u


def schemas_match(a: T.StructType | None, b: T.StructType | None) -> bool:
    from .log.schema import schemas_equal
    if a is None or b is None:
        return a is b
    return schemas_equal(a, b)
