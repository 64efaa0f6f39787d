"""``xdlake`` as a first-class Spark data source (Python DataSource API).

Registers a format usable as both a batch source and — the real point —
a STREAMING source that tails the transaction log by version:

    from xdlake_spark.sources.datasource import register
    register(spark)
    df = spark.read.format("xdlake").load(path)              # snapshot
    s  = (spark.readStream.format("xdlake").load(path)       # tail
          .writeStream...)

Offsets are ``(version, file-index, snapshot-version)`` tuples
(delta-spark's reservoir design): a fresh stream pins its initial
snapshot to the table's LIVE file set (rewrites deduped, deletes
honored), then tails the log version by version reading exactly the
``dataChange`` adds of each commit (compaction rewrites are skipped) —
the same incremental contract as ``DeltaTable.table_changes``.
``maxFilesPerTrigger`` bounds each micro-batch's file admission so a
deep backlog is consumed in rate-limited steps. One InputPartition per
file: executors read their file with pyarrow and yield Arrow batches,
the driver only plans manifests. The reference is batch-only (SURVEY
§2.4 — streaming absent); this extends it.

For heavy batch analytics prefer ``DeltaTable.to_df`` — that path scans
parquet natively in the JVM. This source trades a Python/Arrow hop for
incremental semantics, which is the right trade for a streaming tail.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (DataSource, DataSourceArrowWriter,
                                    DataSourceReader,
                                    DataSourceStreamArrowWriter,
                                    DataSourceStreamReader,
                                    InputPartition,
                                    WriterCommitMessage)
from pyspark.sql.types import StructType

from ..log import Add, DeltaLog, WriteMode, timestamp_ms
from ..table import DeltaTable
from .storage import Location


class _FilePartition(InputPartition):
    def __init__(self, url: str, partition_values: dict,
                 schema_json: str, fixed_change: "str | None" = None,
                 commit_version: "int | None" = None,
                 deleted_rows: "list[int] | None" = None,
                 size: int = 0):
        self.url = url
        self.partition_values = partition_values
        self.schema_json = schema_json
        #: manifest file size — driver-side admission control only
        self.size = size
        #: CDF mode: constant _change_type for derived changes
        #: ("insert"/"delete"); None = the file itself carries the
        #: column (a cdc file) or the stream is not in CDF mode.
        self.fixed_change = fixed_change
        #: CDF mode: _commit_version value; None outside CDF mode.
        self.commit_version = commit_version
        #: Deletion-vector row indexes for this file (decoded on the
        #: driver — per-file KB/MB scale); executor drops them.
        self.deleted_rows = deleted_rows


def _read_file_partition(part: _FilePartition):
    """Executor-side: one parquet file -> arrow batches aligned to the
    table schema (partition columns re-attached from the manifest; in
    CDF mode ``_change_type``/``_commit_version`` attached from the
    partition plan or read from the cdc file itself)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType as _St

    from ..log.schema import partition_value_to_python, spark_type_to_arrow

    spark_schema = _St.fromJson(json.loads(part.schema_json))
    cdf = part.commit_version is not None
    arrow_schema = pa.schema([
        pa.field(f.name, spark_type_to_arrow(f.dataType), f.nullable)
        for f in spark_schema.fields
        if f.name not in ("_change_type", "_commit_version")])
    path = part.url
    if path.startswith("file://"):
        path = path[len("file://"):]
    flt = getattr(part, "row_filters", None)
    expr = None
    if flt:
        import pyarrow.dataset as pds
        for col, op, v in flt:
            f = pds.field(col)
            e = (f.isin(list(v)) if op == "in" else
                 {"=": f == v, ">": f > v, ">=": f >= v,
                  "<": f < v, "<=": f <= v}[op])
            expr = e if expr is None else expr & e
    try:
        table = pq.read_table(path, filters=expr) if expr is not None \
            else pq.read_table(path)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
        # uncomparable literal/column combination: read unfiltered —
        # Spark re-applies the exact predicate, pushdown is I/O-only
        table = pq.read_table(path)
    if part.deleted_rows:
        import numpy as np
        mask = np.ones(table.num_rows, dtype=bool)
        idx = np.asarray(part.deleted_rows, dtype=np.int64)
        mask[idx[idx < table.num_rows]] = False
        table = table.filter(pa.array(mask))
    n = table.num_rows
    cols = []
    for field in arrow_schema:
        if field.name in table.column_names:
            cols.append(table.column(field.name).cast(field.type))
        else:
            v = partition_value_to_python(
                part.partition_values.get(field.name),
                spark_schema[field.name].dataType)
            cols.append(pa.array([v] * n).cast(field.type))
    fields = list(arrow_schema)
    if cdf:
        if part.fixed_change is not None:
            change = pa.array([part.fixed_change] * n)
        elif "_change_type" in table.column_names:
            change = table.column("_change_type").cast(pa.string())
        else:
            raise ValueError(
                f"cdc file {part.url} lacks a _change_type column")
        cols.append(change)
        fields.append(pa.field("_change_type", pa.string()))
        cols.append(pa.array([part.commit_version] * n, pa.int64()))
        fields.append(pa.field("_commit_version", pa.int64()))
    out = pa.table(cols, schema=pa.schema(fields))
    for batch in out.to_batches(max_chunksize=65536):
        yield batch


def _dv_rows(loc, add) -> "list[int] | None":
    """Decode an add's deletion vector (if any) into row indexes —
    driver-side, per-file KB/MB scale."""
    desc = (add.extra or {}).get("deletionVector")
    if not desc:
        return None
    from ..log.dv import deleted_row_indexes
    return [int(i) for i in deleted_row_indexes(loc, desc)]


def _iter_units(location_url: str, skip_change_commits: bool,
                lo_v: int, hi_v: int):
    """Driver-side unit lists for the stream offset model: yields
    ``(version, [Add], loc, schema_json)`` for versions in
    ``[lo_v, hi_v]`` in version order — each version's ``dataChange``
    adds in log order (deterministic, so an index into the list is a
    durable offset).

    ``skip_change_commits`` is Delta's ``skipChangeCommits``: a commit
    that REMOVES data (delete/update/merge — copy-on-write rewrites
    and deletion-vector re-adds alike) is skipped wholesale, so the
    stream emits only pure appends and never re-emits rows a rewrite
    or DV re-add carried. Without it such commits re-emit their
    surviving rows (matching Delta's ignoreChanges).
    """

    loc = Location.resolve(location_url)
    log = DeltaLog.load(loc.join("_delta_log"), use_checkpoint=False)
    if not log:
        return
    schema_json = log.schema().json()
    for v in sorted(log.entries):
        if not (lo_v <= v <= hi_v):
            continue
        entry = log.entries[v]
        if skip_change_commits and any(
                rm.dataChange for rm in entry.removes):
            yield (v, [], loc, schema_json)
            continue
        yield (v, [a for a in entry.adds if a.dataChange],
               loc, schema_json)


def _unit_sizes(location_url: str, skip_change_commits: bool,
                lo_v: int, hi_v: int) -> "list[tuple[int, list]]":
    """``(version, [file size, ...])`` pairs for latestOffset's
    admission walk — manifest-scale, no data touched."""
    return [(v, [a.size or 0 for a in units]) for v, units, _, _ in
            _iter_units(location_url, skip_change_commits, lo_v, hi_v)]


def _plan_span(location_url: str, skip_change_commits: bool,
               start_v: int, start_i: int,
               end_v: int, end_i: int) -> "list[_FilePartition]":
    """Files between offsets (start_v, start_i) exclusive and
    (end_v, end_i) inclusive. Index ``-1`` means the whole version."""
    parts: list[_FilePartition] = []
    for v, units, loc, schema_json in _iter_units(
            location_url, skip_change_commits, max(start_v, 0), end_v):
        if v < start_v:
            continue
        lo = (len(units) if start_i == -1 else start_i) \
            if v == start_v else 0
        hi = (len(units) if end_i == -1 else end_i) \
            if v == end_v else len(units)
        for add in units[lo:hi]:
            parts.append(_FilePartition(
                loc.absloc(add.path).url,
                dict(add.partitionValues or {}), schema_json,
                deleted_rows=_dv_rows(loc, add)))
    return parts


def _plan_live_snapshot(location_url: str, version: int
                        ) -> "list[_FilePartition]":
    """A fresh stream's initial snapshot: the LIVE file set at
    ``version`` (path-sorted) — every add replayed against its removes,
    so historical rewrites emit once and deleted files not at all."""

    if version < 0:
        return []
    loc = Location.resolve(location_url)
    log = DeltaLog.load(loc.join("_delta_log"), version=version,
                        use_checkpoint=False)
    if not log:
        return []
    schema_json = log.schema().json()
    live = log.add_actions()
    return [_FilePartition(
        loc.absloc(p).url,
        dict(live[p].partitionValues or {}), schema_json,
        deleted_rows=_dv_rows(loc, live[p]))
        for p in sorted(live)]


def _iter_cdf_units(location_url: str, lo_v: int, hi_v: int):
    """Per version in [lo_v, hi_v], the CDF scan units in a
    DETERMINISTIC order (cdc files in log order when the commit has
    them, else dataChange adds in log order then delete-derived
    tombstone scans in first-add order) — the fixed unit order is what
    lets a (version, index) offset split a version across capped
    micro-batches. Yields ``(version, [_FilePartition, ...])``;
    manifest-scale, no data touched."""

    loc = Location.resolve(location_url)
    log = DeltaLog.load(loc.join("_delta_log"), use_checkpoint=False)
    if not log:
        return
    schema_json = log.schema().json()
    # ONE forward pass: maintain path -> latest add as we go, so
    # delete-derivation is O(total adds) over the whole walk instead
    # of an O(prior versions) rescan per delete-bearing version
    latest_add: dict = {}
    for v in sorted(log.entries):
        if v > hi_v:
            break
        if v < lo_v:
            for add in log.entries[v].adds:
                latest_add[add.path] = add
            continue
        entry = log.entries[v]
        units: list[_FilePartition] = []
        cdcs = entry.cdcs
        if cdcs:
            for c in cdcs:
                units.append(_FilePartition(
                    loc.absloc(c.path).url,
                    dict(c.partitionValues or {}), schema_json,
                    fixed_change=None, commit_version=v,
                    size=c.size or 0))
        else:
            for add in entry.adds:
                if add.dataChange:
                    units.append(_FilePartition(
                        loc.absloc(add.path).url,
                        dict(add.partitionValues or {}), schema_json,
                        fixed_change="insert", commit_version=v,
                        size=add.size or 0))
            dels = [r.path for r in entry.removes if r.dataChange]
            for pth in dels:
                a = latest_add.get(pth)
                if a is not None:
                    units.append(_FilePartition(
                        loc.absloc(a.path).url,
                        dict(a.partitionValues or {}), schema_json,
                        fixed_change="delete", commit_version=v,
                        size=a.size or 0))
        for add in entry.adds:
            latest_add[add.path] = add
        yield v, units


def _plan_cdf_partitions(location_url: str, start_v: int, start_i: int,
                         end_v: int, end_i: int,
                         unit_walk=None) -> list[_FilePartition]:
    """Driver-side CDF planner between offsets (start_v, start_i)
    exclusive and (end_v, end_i) inclusive (index -1 = whole version):
    per version, cdc files when the commit has them, else
    insert-derivation from dataChange adds and delete-derivation from
    dataChange removes (scanning the tombstoned file — valid until
    VACUUM), matching ``DeltaTable.change_feed``. ``unit_walk``
    (a cached ``[(version, units)]`` list from the reader's own
    latestOffset walk) skips the second log pass per micro-batch."""
    parts: list[_FilePartition] = []
    walk = unit_walk if unit_walk is not None else \
        _iter_cdf_units(location_url, max(start_v, 0), end_v)
    for v, units in walk:
        if v < start_v or v > end_v:
            continue
        lo = (len(units) if start_i == -1 else start_i) \
            if v == start_v else 0
        hi = (len(units) if end_i == -1 else end_i) \
            if v == end_v else len(units)
        parts.extend(units[lo:hi])
    return parts


class _XdlakeStreamReader(DataSourceStreamReader):
    """Log-tailing stream source with delta-spark-style offsets.

    Offsets are ``{"version": v, "index": i}``: versions before ``v``
    fully consumed, plus the first ``i`` ``dataChange`` adds of ``v``
    in log order (``i == -1`` = all of ``v``; checkpoints from older
    releases lack the field and resume identically). A fresh stream's
    ``initialOffset`` additionally carries the marker ``snapshot: -2``;
    a batch starting there plans the table's LIVE file set at the end
    offset's version — rewrites deduped and deletes honored, matching
    delta-spark's initial snapshot — instead of replaying every add
    ever committed.

    ``max_files`` (``maxFilesPerTrigger``) caps how many files each
    micro-batch admits — a stream tailing a busy table consumes its
    commits in bounded steps instead of unbounded batches. Python's
    DataSource API passes ``latestOffset`` no start offset, so the cap
    rides on reader-tracked state and the FIRST batch of any run is
    uncapped (fresh stream: the whole initial snapshot; checkpoint
    restart: one catch-up to current — the reader learns its position
    only when Spark hands the start offset to ``partitions``).
    Exception: ``capped_start`` + ``starting_version`` pin the first
    position WITHOUT a snapshot, so even batch 0 is capped — safe only
    on fresh checkpoints (streaming/backfill.py gates it).
    ``ending_version`` clamps admission at a fixed version — the
    pinned target of an AvailableNow-style drain.

    ``trigger(availableNow=True)`` works but runs as ONE batch:
    Spark's AvailableNow wrapper snapshots ``latestOffset()`` once and
    jumps straight to it (the Python DataSource API exposes no
    admission control to the wrapper). For a rate-limited backfill
    that stops when caught up, use
    ``streaming.backfill.available_now_backfill``.
    """

    def __init__(self, path: str, read_change_feed: bool = False,
                 skip_change_commits: bool = False,
                 max_files: "int | None" = None,
                 max_bytes: "int | None" = None,
                 starting_version: "int | str | None" = None,
                 ending_version: "int | None" = None,
                 capped_start: bool = False):
        self.path = path
        self.read_change_feed = read_change_feed
        self.skip_change_commits = skip_change_commits
        self.max_files = max_files
        self.max_bytes = max_bytes
        self.starting_version = starting_version
        self.ending_version = ending_version
        self.capped_start = capped_start
        self._last: "dict | None" = None

    def _current_version(self) -> int:
        log = DeltaLog.load(
            Location.resolve(self.path).join("_delta_log"))
        return log.version if log else -1

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            # delta's startingVersion: no initial snapshot — tail the
            # log from this version on ("latest" = only new commits)
            sv = (self._current_version() + 1
                  if self.starting_version == "latest"
                  else int(self.starting_version))
            off = {"version": sv - 1, "index": -1}
        else:
            off = {"version": -1, "index": 0, "snapshot": -2}
        if self._last is None:
            # the engine asks for latestOffset BEFORE initialOffset on
            # a fresh stream; never regress state already advanced
            self._last = off
        return off

    def latestOffset(self) -> dict:
        cur = self._current_version()
        if self.ending_version is not None:
            cur = min(cur, self.ending_version)
        if self.read_change_feed:
            return self._latest_cdf_offset(cur)
        last = self._last
        if last is None and self.capped_start \
                and self.starting_version is not None:
            # cappedStart (set by streaming/backfill.py for FRESH
            # checkpoints only): startingVersion pins the position
            # WITHOUT an initial snapshot, so the very first batch can
            # honor the rate limits — an AvailableNow backfill from
            # version 0 drains in capped steps instead of one
            # unbounded batch. Never enabled on a restart: a capped
            # blind offset could land BEHIND the checkpointed
            # position and regress the stream.
            sv = (cur + 1 if self.starting_version == "latest"
                  else int(self.starting_version))
            last = self._last = {"version": sv - 1, "index": -1}
        if last is None or int(last.get("snapshot", -1)) == -2:
            # fresh snapshot stream (or blind restart): one uncapped
            # batch up to the current version; capping starts once we
            # know our position
            if last is not None and cur < 0:
                return last  # fresh stream over an empty table
            off = {"version": cur, "index": -1}
            self._last = off
            return off
        return self._admission_walk(last, cur, _unit_sizes(
            self.path, self.skip_change_commits,
            int(last["version"]), cur))

    def _latest_cdf_offset(self, cur: int) -> dict:
        """CDF latestOffset: the same (version, index) admission walk
        as the add-tailing path, over the CDF unit order
        (cdc files / derived insert adds / derived tombstone scans) —
        maxFilesPerTrigger / maxBytesPerTrigger compose with
        readChangeFeed, splitting big change commits across capped
        micro-batches. Pre-r9 checkpoints carry index-less
        ``{"version": v}`` offsets and resume identically (missing
        index = whole version consumed)."""
        last = self._last
        if last is None and self.capped_start \
                and self.starting_version is not None:
            sv = (cur + 1 if self.starting_version == "latest"
                  else int(self.starting_version))
            last = self._last = {"version": sv - 1, "index": -1}
        if last is None or int(last.get("snapshot", -1)) == -2:
            # blind restart or fresh stream: one uncapped catch-up
            if last is not None and cur < 0:
                return last
            off = {"version": cur, "index": -1}
            self._last = off
            return off
        lo = int(last["version"])
        walk = list(_iter_cdf_units(self.path, lo, cur))
        # partitions() for the SAME span reuses this walk — the log is
        # loaded and derived once per micro-batch, not twice
        self._cdf_walk = (lo, cur, walk)
        return self._admission_walk(
            last, cur, [(v, [p.size for p in units])
                        for v, units in walk])

    def _admission_walk(self, last: dict, cur: int,
                        unit_sizes) -> dict:
        """Walk ``(version, [sizes])`` pairs from the last offset,
        admitting files until the rate caps stop the batch."""
        lv, li = int(last["version"]), int(last.get("index", -1))
        admitted, taken_bytes = 0, 0
        v, i = lv, li
        stop = False
        for uv, sizes in unit_sizes:
            n = len(sizes)
            done = (n if li == -1 else li) if uv == lv else 0
            if n - done <= 0:
                if uv > v:
                    v, i = uv, n  # advance past empty/consumed commits
                continue
            pos = done
            while pos < n:
                # at least one file always admits (progress guarantee);
                # past that, both caps gate further admission
                if admitted > 0 and (
                        (self.max_files is not None
                         and admitted >= self.max_files)
                        or (self.max_bytes is not None
                            and taken_bytes >= self.max_bytes)):
                    stop = True
                    break
                taken_bytes += sizes[pos]
                admitted += 1
                pos += 1
            if pos > done:
                v, i = uv, pos
            if stop:
                break
        if (v, i) == (lv, li):
            return self._last  # nothing new: same offset, no batch
        off = {"version": v, "index": i}
        self._last = off
        return off

    def partitions(self, start: dict, end: dict):
        if self.read_change_feed:
            sv, si = int(start["version"]), int(start.get("index", -1))
            ev, ei = int(end["version"]), int(end.get("index", -1))
            # same backwards-pin guard as the add path: cappedStart on
            # a RESUMED checkpoint can pin behind the checkpointed
            # start; silently planning the empty backwards span would
            # rewind _last and redeliver already-processed versions
            if self.capped_start and (
                    (ev, float("inf") if ei == -1 else ei)
                    < (sv, float("inf") if si == -1 else si)):
                raise ValueError(
                    "cappedStart pinned a CDF offset behind this "
                    f"query's checkpointed position (start={start}, "
                    f"end={end}); cappedStart is only valid on a "
                    "fresh checkpoint — remove the option (or drop "
                    "startingVersion) when resuming")
            self._last = dict(end)
            cached = getattr(self, "_cdf_walk", None)
            walk = None
            if cached and cached[0] <= max(sv, 0) \
                    and cached[1] >= ev:
                walk = cached[2]
            return _plan_cdf_partitions(self.path, sv, si, ev, ei,
                                        unit_walk=walk)
        # cappedStart is only restart-safe on a FRESH checkpoint (the
        # backfill helper gates this, but users can set the option by
        # hand): on a resumed query the blind pin can land BEHIND the
        # checkpointed start, making latestOffset regress the stream.
        # Spark hands the checkpointed start here — refuse loudly
        # instead of planning a backwards batch.
        def _k(o: dict):
            i = int(o.get("index", -1))  # -1 = all of the version
            return (int(o["version"]),
                    float("inf") if i == -1 else i)
        if self.capped_start and _k(end) < _k(start) \
                and int(start.get("snapshot", -1)) != -2:
            raise ValueError(
                "cappedStart pinned an offset behind this query's "
                f"checkpointed position (start={start}, end={end}); "
                "cappedStart is only valid on a fresh checkpoint — "
                "remove the option (or drop startingVersion) when "
                "resuming an existing stream")
        self._last = dict(end)
        if int(start.get("snapshot", -1)) == -2:
            # fresh stream's first batch: the LIVE set at the end
            # version IS the initial snapshot
            return _plan_live_snapshot(self.path, int(end["version"]))
        return _plan_span(self.path, self.skip_change_commits,
                          int(start["version"]),
                          int(start.get("index", -1)),
                          int(end["version"]),
                          int(end.get("index", -1)))

    def read(self, partition) -> Iterator:
        yield from _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        self._last = dict(end)  # offsets are durable in the checkpoint


class _XdlakeBatchReader(DataSourceReader):
    """Snapshot reads with FILTER PUSHDOWN (Spark 4.1 Python DataSource
    API): planned filters translate into the same three-valued skipping
    nodes the native scan path uses, pruning files from the manifest
    (partition values + footer min/max) before any partition is
    created, and — for files WITHOUT deletion vectors — into pyarrow
    row filters applied inside the executor read. Every filter is also
    returned to Spark (``pushFilters`` contract), so Spark re-applies
    the exact predicate: the pushdown is pure I/O reduction, never a
    semantics change. DV'd files skip the row-level push because the
    deletion bitmap indexes physical row positions — filtering first
    would misalign the mask."""

    def __init__(self, path: str, version: "int | None" = None):
        self.path = path
        self.version = version
        self._nodes: list = []
        self._row_filters: list = []

    def pushFilters(self, filters):
        from pyspark.sql import datasource as DS

        from ..plans.skipping import Comparison, InList
        from ..plans.skipping import IsNull as SkipIsNull
        ops = {DS.EqualTo: "=", DS.GreaterThan: ">",
               DS.GreaterThanOrEqual: ">=", DS.LessThan: "<",
               DS.LessThanOrEqual: "<="}
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                continue
            col = attr[0]
            node = None
            for cls, op in ops.items():
                if type(f) is cls:
                    node = Comparison(col, op, f.value)
                    break
            if node is None and type(f) is DS.In:
                node = InList(col, list(f.value))
            if node is None and type(f) is DS.IsNull:
                node = SkipIsNull(col)
            if node is None and type(f) is DS.IsNotNull:
                node = SkipIsNull(col, negated=True)
            if node is not None:
                self._nodes.append(node)
                if not isinstance(node, SkipIsNull):
                    self._row_filters.append(
                        (col, "in" if isinstance(node, InList)
                         else node.op, f.value))
        return filters  # Spark re-applies everything: pruning only

    def partitions(self):
        from ..plans.skipping import prune_with_nodes
        log = DeltaLog.load(
            Location.resolve(self.path).join("_delta_log"),
            version=self.version)
        if not log:
            return []
        loc = Location.resolve(self.path)
        schema_json = log.schema().json()
        live = log.add_actions()
        pcols = log.partition_columns()
        if self._nodes:
            sch = log.schema()
            ptypes = {c: sch[c].dataType.simpleString()
                      for c in pcols if c in sch.fieldNames()}
            live = prune_with_nodes(live, self._nodes, pcols, ptypes)
        # row filters only on non-partition columns (partition values
        # are not in the files) — per-file exclusion of DV'd files
        # happens at read time
        row_filters = [(c, op, v) for c, op, v in self._row_filters
                       if c not in pcols]
        out = []
        for p, a in live.items():
            part = _FilePartition(loc.absloc(p).url,
                                  dict(a.partitionValues or {}),
                                  schema_json,
                                  deleted_rows=_dv_rows(loc, a))
            part.row_filters = row_filters if not part.deleted_rows \
                else None
            out.append(part)
        return out

    def read(self, partition) -> Iterator:
        if partition is None:
            return  # every file pruned: Spark still runs one task
        yield from _read_file_partition(partition)


class XdlakeDataSource(DataSource):
    """Spark format name ``xdlake``: batch + streaming reads of a delta
    table written by this library (or any flat-schema delta table)."""

    @classmethod
    def name(cls) -> str:
        return "xdlake"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("xdlake source requires .load(<table path>)")
        return path

    def _cdf(self) -> bool:
        return str(self.options.get("readChangeFeed", "false")
                   ).lower() == "true"

    def _time_travel_version(self) -> "int | None":
        """Batch time travel: ``versionAsOf`` / ``timestampAsOf``
        reader options (delta-spark parity). Timestamps resolve to the
        newest version committed at or before the target against the
        log's own clock — in-commit timestamps, when present, are
        authoritative (file mtimes drift under copies/restores)."""
        v = self.options.get("versionAsOf")
        ts = self.options.get("timestampAsOf")
        if v is not None and ts is not None:
            raise ValueError(
                "versionAsOf and timestampAsOf are mutually exclusive")
        if v is not None:
            try:
                return int(v)
            except (TypeError, ValueError):
                raise ValueError(f"invalid versionAsOf: {v!r}")
        if ts is None:
            return None
        import datetime as _dt
        try:
            ms = int(ts)
        except (TypeError, ValueError):
            d = _dt.datetime.fromisoformat(str(ts))
            if d.tzinfo is None:
                d = d.replace(tzinfo=_dt.timezone.utc)
            ms = int(d.timestamp() * 1000)
        log = DeltaLog.load(
            Location.resolve(self._path()).join("_delta_log"))
        best = None
        for h in log.history(reverse=False):
            t = h.get("inCommitTimestamp", h.get("timestamp"))
            if t is not None and int(t) <= ms:
                best = h["version"]
        if best is None:
            raise ValueError(
                f"no version committed at or before timestampAsOf={ts!r}")
        return best

    def _rate_limits(self) -> "tuple[int | None, int | None]":
        """Validated maxFilesPerTrigger / maxBytesPerTrigger — checked
        in ``schema()`` too so a bad value fails at ``.load()`` instead
        of asynchronously inside the stream."""
        out = []
        for opt in ("maxFilesPerTrigger", "maxBytesPerTrigger"):
            raw = self.options.get(opt)
            if raw is None:
                out.append(None)
                continue
            val = int(raw)
            if val < 1:
                raise ValueError(f"{opt} must be >= 1")
            out.append(val)
        return out[0], out[1]

    def _starting_version(self) -> "int | str | None":
        """Validated startingVersion: a version number or 'latest'.
        ``startingTimestamp`` (r12, delta-spark parity) resolves to the
        EARLIEST version committed at or after the timestamp against
        the log's own clock (ICT-aware) and then behaves exactly like
        startingVersion."""
        raw = self.options.get("startingVersion")
        ts = self.options.get("startingTimestamp")
        if raw is not None and ts is not None:
            raise ValueError("startingVersion and startingTimestamp "
                             "are mutually exclusive")
        if ts is not None:
            import datetime as _dt
            try:
                ms = int(ts)
            except (TypeError, ValueError):
                d = _dt.datetime.fromisoformat(str(ts))
                if d.tzinfo is None:
                    d = d.replace(tzinfo=_dt.timezone.utc)
                ms = int(d.timestamp() * 1000)
            log = DeltaLog.load(
                Location.resolve(self._path()).join("_delta_log"))
            for h in log.history(reverse=False):
                t = h.get("inCommitTimestamp", h.get("timestamp"))
                if t is not None and int(t) >= ms:
                    return h["version"]
            raise ValueError("no version committed at or after "
                             f"startingTimestamp={ts!r}")
        if raw is None:
            return None
        if str(raw).lower() == "latest":
            return "latest"
        sv = int(raw)
        if sv < 0:
            raise ValueError("startingVersion must be >= 0 or "
                             "'latest'")
        return sv

    def _ending_version(self) -> "int | None":
        """Validated endingVersion: the stream never admits commits
        past it (streaming/backfill.py pins its AvailableNow drain
        target with this)."""
        raw = self.options.get("endingVersion")
        if raw is None:
            return None
        ev = int(raw)
        if ev < 0:
            raise ValueError("endingVersion must be >= 0")
        return ev

    def schema(self) -> StructType:
        self._rate_limits()
        self._starting_version()
        from pyspark.sql.types import LongType, StringType, StructField

        log = DeltaLog.load(
            Location.resolve(self._path()).join("_delta_log"),
            version=self._time_travel_version())
        if not log:
            raise ValueError(f"No delta table at {self._path()}")
        cm = (log.metadata().configuration or {}).get(
            "delta.columnMapping.mode", "none")
        if cm in ("name", "id"):
            raise NotImplementedError(
                "the xdlake format reads files by logical column name; "
                f"this table uses column mapping mode {cm!r} — use "
                "DeltaTable.to_df(), which resolves the mapping.")
        schema = log.schema()
        if self._cdf():
            schema = StructType(
                list(schema.fields)
                + [StructField("_change_type", StringType()),
                   StructField("_commit_version", LongType())])
        return schema

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a STREAMING option "
                "(spark.readStream); for batch use "
                "DeltaTable.change_feed(start, end)")
        return _XdlakeBatchReader(self._path(),
                                  version=self._time_travel_version())

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        skip = str(self.options.get("skipChangeCommits", "false")
                   ).lower() == "true"
        mf, mb = self._rate_limits()
        return _XdlakeStreamReader(self._path(),
                                   read_change_feed=self._cdf(),
                                   skip_change_commits=skip,
                                   max_files=mf, max_bytes=mb,
                                   starting_version=
                                   self._starting_version(),
                                   ending_version=
                                   self._ending_version(),
                                   capped_start=str(
                                       self.options.get("cappedStart",
                                                        "false")
                                   ).lower() == "true")

    def _sink_pcols(self, t, schema: StructType,
                    overwrite: bool) -> list:
        """Shared sink validation (batch + streaming) against the
        log-only planning handle ``t``: refuse what the sink tasks
        cannot enforce and an overwrite of an append-only table,
        resolve the table's partition columns (or the ``partitionBy``
        option on a creating write) and check the incoming schema
        matches."""
        if t.log:
            _refuse_unenforceable(t)
            if overwrite:
                t._require_mutable("OVERWRITE")
            if self.options.get("partitionBy"):
                raise ValueError(
                    "partitionBy only applies when the sink CREATES "
                    "the table; this table already exists with "
                    f"partition columns {t.partition_columns}")
            pcols = t.partition_columns
            want = {f.name: f.dataType for f in t.schema.fields}
            got = {f.name: f.dataType for f in schema.fields}
            if want != got:
                raise ValueError(
                    "write schema does not match the table schema: "
                    f"table={t.schema.simpleString()} "
                    f"df={schema.simpleString()}")
        else:
            pb = self.options.get("partitionBy")
            pcols = [c.strip() for c in str(pb).split(",")
                     if c.strip()] if pb else []
        missing = [c for c in pcols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"write schema lacks the table's partition "
                f"columns: {missing}")
        return pcols

    def writer(self, schema: StructType,
               overwrite: bool) -> "DataSourceArrowWriter":
        """Batch SINK: df.write.format("xdlake").mode("append" |
        "overwrite").save(path) — one ACID commit per job through the
        ``DeltaTable`` commit pipeline (see ``_XdlakeBatchWriter``); a
        missing table is created from the df schema + ``partitionBy``
        option. ``partitionOverwriteMode=dynamic`` scopes an overwrite
        to the partitions the data lands in (manifest-only removes,
        like Spark's own option). Refused, pointing at
        ``DeltaTable.write``: ``replaceWhere`` (its conformance scan
        needs the session), tables with CHECK constraints, column
        invariants, generated or identity columns or column mapping
        ``name``/``id``, and an overwrite of a ``delta.appendOnly``
        table. The commit skips auto-compaction
        (``delta.autoOptimize.autoCompact``): compacting rewrites data,
        which needs a session the commit does not have, so run
        ``DeltaTable.optimize()`` after format writes to such a
        table."""
        pom = str(self.options.get("partitionOverwriteMode",
                                   "static")).lower()
        if pom not in ("static", "dynamic"):
            raise ValueError(
                f"partitionOverwriteMode: static or dynamic, got {pom!r}")
        if self.options.get("replaceWhere"):
            raise ValueError(
                "replaceWhere is not supported through the format "
                "writer (the conformance scan needs the session) — "
                "use DeltaTable.write(replace_where=...)")
        # delta-spark's idempotent-write options: a (txnAppId,
        # txnVersion) pair makes the commit a no-op when the app has
        # already applied this or a later version
        app_id = self.options.get("txnAppId")
        ver = self.options.get("txnVersion")
        if (app_id is None) != (ver is None):
            raise ValueError(
                "txnAppId and txnVersion must be set together")
        txn = (str(app_id), int(ver)) if app_id is not None else None
        t = DeltaTable(None, self._path())
        pcols = self._sink_pcols(t, schema, overwrite)
        # planning-time replay check (driver-side, like delta-spark):
        # an already-applied txn version skips the file writes
        # entirely — executors emit nothing, commit no-ops, no orphans
        return _XdlakeBatchWriter(self._path(), schema.json(),
                                  partition_cols=pcols,
                                  overwrite=overwrite,
                                  dynamic=(pom == "dynamic"
                                           and overwrite),
                                  txn=txn, skip=t._txn_applied(txn),
                                  stats_cols=t._stats_columns())

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> "DataSourceStreamArrowWriter":
        """Streaming SINK: one ACID append commit per micro-batch
        through the ``DeltaTable`` commit pipeline, partitioned or not
        (each task splits its slice by the table's partition columns
        and the adds carry partitionValues); replayed batch ids are
        no-ops. A missing table is CREATED by the first batch
        (delta-spark writeStream parity) using the stream schema and
        the optional ``partitionBy`` option (comma-separated); an
        existing table's schema must match the stream's (name -> type,
        order-insensitive) — a drifted stream is refused, never
        silently written. Tables with CHECK constraints, column
        invariants, generated or identity columns or column mapping
        ``name``/``id`` are refused, pointing at ``DeltaTable.write``."""
        t = DeltaTable(None, self._path())
        pcols = self._sink_pcols(t, schema, overwrite=False)
        return _XdlakeStreamWriter(self._path(), schema.json(),
                                   partition_cols=pcols,
                                   stats_cols=t._stats_columns())


def _refuse_unenforceable(t) -> None:
    """The sink tasks are Python workers without a Spark session: they
    cannot evaluate data-level checks (CHECK constraints, column
    invariants, generated and identity columns), and they write
    logical column names, which a column-mapped table would read back
    as NULL. Refuse such tables loudly instead of committing rows
    nothing checked."""
    found = [label for label, present in (
        ("CHECK constraints", t.constraints),
        ("column invariants", t._invariants()),
        ("generated columns", t._generated_columns()),
        ("identity columns", t._identity_columns()),
        (f"column mapping mode {t.column_mapping_mode!r}",
         t.column_mapping_mode in ("name", "id"))) if present]
    if found:
        raise NotImplementedError(
            "the xdlake format sink cannot write this table: it has "
            f"{', '.join(found)}, which the sink's Python tasks cannot "
            "enforce or map — use DeltaTable.write(), which does")


def register(spark) -> None:
    """Register the ``xdlake`` format on a SparkSession (and enable
    the Python-data-source filter pushdown the batch reader
    implements — Spark refuses a pushFilters reader while
    ``spark.sql.python.filterPushdown.enabled`` is false)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(XdlakeDataSource)


# ---------------------------------------------------------------------------
# Streaming sink: writeStream.format("xdlake") with per-batch ACID commits
# ---------------------------------------------------------------------------


@dataclass
class _WrittenFile(WriterCommitMessage):
    rel_path: str
    size: int
    stats_json: str
    num_rows: int
    partition_values: "dict | None" = None


@dataclass
class _WrittenFiles(WriterCommitMessage):
    """One message per task: the task may emit several files when the
    table is partitioned (one per distinct partition combo)."""
    files: list


class _XdlakeStreamWriter(DataSourceStreamArrowWriter):
    """Each executor task writes its partition slice to parquet files
    under the table root — one file per distinct table-partition combo,
    Hive-encoded directories matching the batch writer's layout — and
    the driver composes add actions (with partitionValues) into ONE log
    commit per micro-batch through ``DeltaTable._commit_staged`` (see
    ``_XdlakeBatchWriter``), with batch-id idempotence so a replayed
    batch after a failure is a no-op that deletes the files its tasks
    wrote (exactly-once table contents on at-least-once task
    execution).

    Arrow-native (r13, guide §4.1): tasks receive ``pa.RecordBatch``es
    straight from the JVM instead of pickled Rows — the old row path
    paid a per-row pickle + ``Row.asDict()`` + pure-Python regrouping +
    ``Table.from_pylist`` re-inference on every task; now the bytes
    arrive columnar and partition grouping is a vectorized mask per
    distinct partition combo."""

    def __init__(self, path: str, schema_json: str,
                 partition_cols: "list[str] | None" = None,
                 stats_cols: "list[str] | None" = None):
        self.path = path
        self.schema_json = schema_json
        self.partition_cols = list(partition_cols or [])
        #: resolved on the DRIVER from the table's skipping properties
        #: (workers have no session); None = keep stats for all columns
        self.stats_cols = list(stats_cols) if stats_cols is not None \
            else None

    @staticmethod
    def _pv_str(v) -> "str | None":
        """Serialize a partition value to Delta's string conventions
        (what Spark's own partitionBy writer and delta-spark record):
        lowercase booleans, ISO dates, space-separated timestamps with
        the zero fraction trimmed. Python ``str()`` would write
        'True'/'False', which foreign engines comparing partitionValues
        exactly (or parsing Hive dirs) would mismatch."""
        import datetime as _dt
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, _dt.datetime):
            s = v.strftime("%Y-%m-%d %H:%M:%S")
            if v.microsecond:
                s += f".{v.microsecond:06d}".rstrip("0")
            return s
        if isinstance(v, _dt.date):
            return v.isoformat()
        return str(v)

    @classmethod
    def _part_dir(cls, pcols: list, key: tuple) -> str:
        import urllib.parse
        segs = []
        for c, v in zip(pcols, key):
            if v is None:
                segs.append(f"{c}=__HIVE_DEFAULT_PARTITION__")
            else:
                segs.append(
                    f"{c}="
                    f"{urllib.parse.quote(cls._pv_str(v), safe='')}")
        return "/".join(segs)

    def write(self, iterator) -> _WrittenFiles:
        import json
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType as _St

        from ..log.schema import spark_type_to_arrow
        from ..log.statistics import Statistics

        spark_schema = _St.fromJson(json.loads(self.schema_json))
        pcols = self.partition_cols
        # delta convention: partition columns live in the directory +
        # partitionValues, never in the data file bytes
        arrow_schema = pa.schema([
            pa.field(f.name, spark_type_to_arrow(f.dataType), f.nullable)
            for f in spark_schema.fields if f.name not in pcols])
        batches = list(iterator)
        if not batches:
            return _WrittenFiles([])
        full = pa.Table.from_batches(batches)
        if full.num_rows == 0:
            return _WrittenFiles([])
        # one vectorized filter per distinct partition combo (tasks see
        # few combos); the old row path materialized every row as a
        # Python dict and re-inferred types via Table.from_pylist
        if pcols:
            keys = (full.select(pcols)
                    .group_by(pcols).aggregate([]).to_pylist())
            groups = []
            for kd in keys:
                mask = None
                for c in pcols:
                    e = (pc.is_null(full.column(c)) if kd[c] is None
                         else pc.equal(full.column(c),
                                       pa.scalar(kd[c],
                                                 full.schema.field(c)
                                                 .type)))
                    mask = e if mask is None else pc.and_kleene(mask, e)
                groups.append((tuple(kd[c] for c in pcols),
                               full.filter(mask)))
        else:
            groups = [((), full)]
        out = []
        for key, grp in sorted(groups, key=lambda kv: str(kv[0])):
            table = grp.select([f.name for f in arrow_schema]) \
                .cast(arrow_schema)
            # no leading underscore: Spark's parquet reader treats _/.-
            # prefixed basenames as hidden and would skip them on scan
            name = f"streaming-{_uuid.uuid4().hex}.parquet"
            rel = f"{self._part_dir(pcols, key)}/{name}" if pcols \
                else name
            loc = Location.resolve(self.path).join(rel)
            if loc.scheme == "file":
                os.makedirs(os.path.dirname(loc.path), exist_ok=True)
                pq.write_table(table, loc.path)
                size = os.path.getsize(loc.path)
                stats = Statistics.from_parquet_file(loc.path)
            else:  # object stores: buffer then put
                import io
                buf = io.BytesIO()
                pq.write_table(table, buf)
                data = buf.getvalue()
                loc.write_bytes(data)
                size = len(data)
                stats = Statistics.from_parquet_metadata(
                    pq.ParquetFile(io.BytesIO(data)).metadata)
            if self.stats_cols is not None:
                # same delta.dataSkippingStatsColumns /
                # NumIndexedCols restriction the native write path
                # applies (table.py _add_for_relpath)
                stats = stats.restrict(self.stats_cols)
            pvals = {c: self._pv_str(v) for c, v in zip(pcols, key)}
            out.append(_WrittenFile(rel, size, stats.to_json(),
                                    table.num_rows, pvals))
        return _WrittenFiles(out)

    def commit(self, messages, batchId: int) -> None:
        # idempotence via the Delta protocol's txn watermark: a Spark
        # retry re-runs the same batchId -> no-op regardless of any
        # commits other writers landed in between (stronger than
        # checking only the newest commitInfo)
        app_id = f"xdlake-streaming:{Location.resolve(self.path).url}"
        adds = self._adds(messages)
        if adds:
            self._commit(DeltaTable(None, self.path), adds,
                         mode=WriteMode.append, txn=(app_id, batchId),
                         custom_metadata={"streamingBatchId": batchId})

    def _adds(self, messages) -> list:
        return [Add(path=f.rel_path, size=f.size,
                    modificationTime=timestamp_ms(),
                    partitionValues=f.partition_values or {},
                    stats=f.stats_json)
                for m in messages if m is not None for f in m.files
                if f.num_rows > 0]

    def _commit(self, t, adds: list, **kw) -> None:
        """Both sinks' commit. An existing table keeps its declared
        schema (the sink's matches it by name and type); a missing one
        is created from the sink's."""
        import json

        _refuse_unenforceable(t)
        schema = t.schema if t.log else StructType.fromJson(
            json.loads(self.schema_json))
        t._commit_staged(adds, schema, self.partition_cols,
                         max_commit_retries=4, **kw)

    def abort(self, messages, batchId: "int | None" = None) -> None:
        for m in messages:
            for wf in (m.files if m is not None else []):
                if wf.rel_path:
                    f = Location.resolve(self.path).join(wf.rel_path)
                    if f.exists():
                        f.delete()


# ---------------------------------------------------------------------------
# Batch sink: df.write.format("xdlake") — append / overwrite
# ---------------------------------------------------------------------------


class _XdlakeBatchWriter(_XdlakeStreamWriter, DataSourceArrowWriter):
    """Batch ``df.write.format("xdlake")``: executor tasks reuse the
    streaming sink's file writer (Hive-encoded partition dirs, footer
    stats, partitionValues on every add), and the driver lands ONE
    ACID commit — CREATE TABLE when the path is empty (schema +
    ``partitionBy`` option), append otherwise, or a full overwrite for
    ``mode("overwrite")``.

    Both sinks commit through ``DeltaTable._commit_staged`` on a
    log-only ``DeltaTable(None, path)``, the pipeline
    ``DeltaTable.write`` uses (protocol checks, row-tracking and ICT
    stamps, type features, crc, checkpoints, UniForm); appends retry
    up to 4 times, overwrites never. Auto-compaction does not run: it
    rewrites data, and the worker has no session. Refused at planning
    time (``XdlakeDataSource._sink_pcols``), since the tasks cannot
    enforce or map them: tables with CHECK constraints, column
    invariants, generated or identity columns or column mapping
    ``name``/``id``, and an overwrite of a ``delta.appendOnly``
    table — use ``DeltaTable.write`` for those."""

    def __init__(self, path: str, schema_json: str,
                 partition_cols: "list[str] | None",
                 overwrite: bool, dynamic: bool = False,
                 txn: "tuple[str, int] | None" = None,
                 skip: bool = False,
                 stats_cols: "list[str] | None" = None):
        super().__init__(path, schema_json, partition_cols,
                         stats_cols=stats_cols)
        self.overwrite = overwrite
        #: dynamic partition overwrite: remove only the partitions
        #: the new adds landed in (manifest-level, sink-worker-safe)
        self.dynamic = dynamic
        #: (txnAppId, txnVersion): SetTransaction idempotence — a
        #: replayed job with the same pair is a pure no-op
        self.txn = txn
        #: replay detected at PLANNING time: tasks write nothing
        self.skip = skip

    def write(self, iterator) -> "_WrittenFiles":
        if self.skip:
            return _WrittenFiles([])   # replay: no files, no work
        return super().write(iterator)

    def commit(self, messages) -> None:
        t = DeltaTable(None, self.path)
        adds = self._adds(messages)
        if not adds and t.log and not self.overwrite \
                and self.txn is None:
            return      # empty plain append: no-op (a txn append
            #             still commits, recording the watermark)
        self._commit(t, adds, mode=WriteMode.overwrite if self.overwrite
                     else WriteMode.append, dynamic=self.dynamic,
                     txn=self.txn)
