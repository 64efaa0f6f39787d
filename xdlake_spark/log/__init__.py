"""Delta transaction log: load, replay, evaluate, commit.

Driver-side kernel (parity target: /root/reference/xdlake/delta_log/
__init__.py:1-429). The log is a directory of ``{version:020}.json`` files,
each newline-delimited JSON with one action per line. A table snapshot is the
replay of adds minus removes up to a (possibly pinned) version.

Nothing here touches Spark: the log is KB-scale metadata and the replay is
O(#files) dict operations. The snapshot's file manifest feeds
``spark.read.parquet`` in table.py.
"""

from __future__ import annotations

import enum
import json
import re
from typing import Any, Generator, Iterable

from pyspark.sql import types as T

from .actions import (
    Action,
    Add,
    Cdc,
    DomainMetadata,
    Operation,
    Protocol,
    Remove,
    SetTransaction,
    TableCommit,
    TableMetadata,
    UnknownAction,
    load_action,
    timestamp_ms,
)
from .schema import merge_schemas, schema_from_string, schema_to_string, schemas_equal

_LOG_ENTRY_RE = re.compile(r"^(\d+)\.json$")
_COMPACTED_RE = re.compile(r"^(\d+)\.(\d+)\.compacted\.json$")


def log_entry_filename(version: int) -> str:
    """``{version:020}.json`` (reference utils.py:9-10)."""
    return f"{version:020}.json"


def compacted_filename(start: int, end: int) -> str:
    """``{start:020}.{end:020}.compacted.json`` — delta-spark minor
    log compaction layout."""
    return f"{start:020}.{end:020}.compacted.json"


class WriteMode(enum.Enum):
    """Write disposition (reference delta_log/__init__.py:15-19)."""

    append = "Append"
    overwrite = "Overwrite"
    error = "ErrorIfExists"
    ignore = "Ignore"

    @classmethod
    def coerce(cls, mode: "str | WriteMode") -> "WriteMode":
        if isinstance(mode, WriteMode):
            return mode
        try:
            return cls[mode]
        except KeyError:
            raise ValueError(
                f"Invalid write mode {mode!r}; expected one of "
                f"{[m.name for m in cls]}") from None


class SchemaMode(enum.Enum):
    overwrite = "overwrite"
    merge = "merge"

    @classmethod
    def coerce(cls, mode: "str | SchemaMode") -> "SchemaMode":
        return mode if isinstance(mode, SchemaMode) else cls[mode]


class DeltaLogEntry:
    """One committed version: an ordered list of actions."""

    def __init__(self, actions: list[Action] | None = None):
        self.actions: list[Action] = actions or []

    # -- (de)serialization ---------------------------------------------------

    @classmethod
    def from_bytes(cls, data: bytes) -> "DeltaLogEntry":
        actions = [load_action(json.loads(line))
                   for line in data.decode("utf-8").splitlines() if line.strip()]
        return cls(actions)

    def to_bytes(self) -> bytes:
        lines = [json.dumps(a.to_json(), separators=(",", ":"), default=str)
                 for a in self.actions]
        return ("\n".join(lines) + "\n").encode("utf-8")

    # -- accessors -----------------------------------------------------------

    def _of(self, kind: type) -> list[Any]:
        return [a for a in self.actions if isinstance(a, kind)]

    @property
    def adds(self) -> list[Add]:
        return self._of(Add)

    @property
    def removes(self) -> list[Remove]:
        return self._of(Remove)

    @property
    def cdcs(self) -> "list[Cdc]":
        return self._of(Cdc)

    @property
    def metadata(self) -> TableMetadata | None:
        md = self._of(TableMetadata)
        return md[-1] if md else None

    @property
    def commit_info(self) -> TableCommit | None:
        ci = self._of(TableCommit)
        return ci[-1] if ci else None

    def partition_columns_hint(self) -> list[str] | None:
        """Partition columns declared by this entry, if any.

        From metaData.partitionColumns, or commitInfo.operationParameters
        ``partitionBy`` (which delta-rs writes as a JSON string — the quirk
        handled at reference delta_log/__init__.py:86-98).
        """
        md = self.metadata
        if md is not None:
            return list(md.partitionColumns or [])
        ci = self.commit_info
        if ci is not None:
            pb = ci.operationParameters.get("partitionBy")
            if pb is None:
                return None
            if isinstance(pb, str):
                try:
                    pb = json.loads(pb)
                except ValueError:
                    pb = [pb]
            return list(pb)
        return None


# ---------------------------------------------------------------------------
# Entry builders (reference delta_log/__init__.py:114-224)
# ---------------------------------------------------------------------------


def create_table_entry(schema: T.StructType, partition_by: list[str],
                       location: str, adds: list[Add],
                       custom_metadata: dict | None = None) -> DeltaLogEntry:
    md = TableMetadata(schemaString=schema_to_string(schema),
                       partitionColumns=list(partition_by or []))
    commit = TableCommit.create(location=location, metadata=custom_metadata,
                                table_metadata=md)
    return DeltaLogEntry([Protocol(), md, *adds, commit])


def append_table_entry(adds: list[Add], partition_by: list[str],
                       schema: T.StructType | None = None,
                       custom_metadata: dict | None = None,
                       txn: SetTransaction | None = None) -> DeltaLogEntry:
    actions: list[Action] = []
    if txn is not None:  # streaming idempotence watermark
        actions.append(txn)
    if schema is not None:  # schema evolution: re-declare metaData
        actions.append(TableMetadata(schemaString=schema_to_string(schema),
                                     partitionColumns=list(partition_by or [])))
    actions.extend(adds)
    actions.append(TableCommit.write(mode=WriteMode.append.value,
                                     partition_by=partition_by,
                                     metadata=custom_metadata))
    return DeltaLogEntry(actions)


def replaced_metadata(base: "TableMetadata | None",
                      schema: T.StructType,
                      partition_by: list[str]) -> TableMetadata:
    """The metaData action for a data-replacing commit: schema and
    partition columns may change, but the table IDENTITY — id, name,
    description, configuration, createdTime — must survive (delta-spark
    parity; a fresh TableMetadata would mint a new uuid and wipe every
    table property, silently disabling CDF/column-mapping/ICT)."""
    import dataclasses
    if base is None:
        return TableMetadata(schemaString=schema_to_string(schema),
                             partitionColumns=list(partition_by or []))
    return dataclasses.replace(
        base, schemaString=schema_to_string(schema),
        partitionColumns=list(partition_by or []))


def overwrite_table_entry(adds: list[Add], existing_adds: Iterable[Add],
                          schema: T.StructType, partition_by: list[str],
                          custom_metadata: dict | None = None,
                          base_metadata: "TableMetadata | None" = None
                          ) -> DeltaLogEntry:
    md = replaced_metadata(base_metadata, schema, partition_by)
    removes = [a.to_remove() for a in existing_adds]
    commit = TableCommit.write(mode=WriteMode.overwrite.value,
                               partition_by=partition_by,
                               metadata=custom_metadata)
    return DeltaLogEntry([md, *removes, *adds, commit])


def dynamic_overwrite_entry(adds: list[Add],
                            existing_adds: Iterable[Add],
                            schema: T.StructType,
                            partition_by: list[str],
                            base_metadata: "TableMetadata | None" = None,
                            custom_metadata: dict | None = None
                            ) -> DeltaLogEntry:
    """Dynamic partition overwrite (Spark's partitionOverwriteMode):
    remove only the files whose partitionValues match a partition the
    new adds landed in — pure manifest work, shared by the table API
    and the format sink (no session needed). Partition values are
    compared TYPED (canonical_partition_value), not as raw strings:
    a foreign writer's '2024-01-01T00:00:00.000Z' must match this
    engine's '2024-01-01 00:00:00' or the overwrite silently keeps
    stale rows in a partition it was supposed to replace."""
    from ..plans.skipping import canonical_partition_value

    ptypes = {}
    if schema is not None:
        names = set(schema.fieldNames())
        ptypes = {c: schema[c].dataType.simpleString()
                  for c in (partition_by or []) if c in names}

    def _key(a: Add) -> tuple:
        return tuple(sorted(
            (k, canonical_partition_value(v, ptypes.get(k)))
            for k, v in (a.partitionValues or {}).items()))

    touched = {_key(a) for a in adds}
    removes = [a.to_remove() for a in existing_adds
               if _key(a) in touched]
    md = replaced_metadata(base_metadata, schema, partition_by)
    commit = TableCommit.write(mode=WriteMode.overwrite.value,
                               partition_by=partition_by,
                               metadata=custom_metadata)
    commit.operationParameters["partitionOverwriteMode"] = "dynamic"
    return DeltaLogEntry([md, *removes, *adds, commit])


def delete_table_entry(adds: list[Add], removes: list[Remove],
                       predicate: str, read_version: int,
                       metrics: dict[str, Any],
                       custom_metadata: dict | None = None) -> DeltaLogEntry:
    commit = TableCommit.delete(predicate=predicate, read_version=read_version,
                                metrics=metrics, metadata=custom_metadata)
    return DeltaLogEntry([*removes, *adds, commit])


def update_table_entry(adds: list[Add], removes: list[Remove],
                       predicate: str, read_version: int,
                       metrics: dict[str, Any],
                       custom_metadata: dict | None = None) -> DeltaLogEntry:
    commit = TableCommit.update(predicate=predicate,
                                read_version=read_version,
                                metrics=metrics, metadata=custom_metadata)
    return DeltaLogEntry([*removes, *adds, commit])


def restore_table_entry(adds: list[Add], removes: list[Remove],
                        metadata: TableMetadata,
                        restore_version: int, read_version: int,
                        custom_metadata: dict | None = None) -> DeltaLogEntry:
    """RESTORE reinstates the target version's FULL metaData — schema,
    partitioning AND configuration (Delta's RESTORE semantics). A
    schema-only rebuild here would silently drop table properties like
    delta.columnMapping.mode and misread every restored file."""
    import dataclasses
    md = dataclasses.replace(metadata)
    commit = TableCommit.restore(restore_version=restore_version,
                                 read_version=read_version,
                                 metadata=custom_metadata)
    return DeltaLogEntry([md, *removes, *adds, commit])


def optimize_table_entry(adds: list[Add], removes: list[Remove],
                         read_version: int, metrics: dict[str, Any],
                         custom_metadata: dict | None = None) -> DeltaLogEntry:
    # dataChange=False: compaction rewrites bytes, not logical content
    for a in adds:
        a.dataChange = False
    for r in removes:
        r.dataChange = False
    commit = TableCommit.optimize(read_version=read_version, metrics=metrics,
                                  metadata=custom_metadata)
    return DeltaLogEntry([*removes, *adds, commit])


def properties_table_entry(metadata: TableMetadata, operation: str,
                           params: dict[str, Any], read_version: int,
                           custom_metadata: dict | None = None
                           ) -> DeltaLogEntry:
    """Metadata-only commit (ADD/DROP CONSTRAINT, SET TBLPROPERTIES):
    a fresh metaData action plus a commitInfo, no file actions."""
    commit = TableCommit(operation=operation, operationParameters=params,
                         readVersion=read_version)
    commit.extra.update(custom_metadata or {})
    return DeltaLogEntry([metadata, commit])


def merge_table_entry(adds: list[Add], removes: list[Remove],
                      predicate: str, read_version: int,
                      metrics: dict[str, Any],
                      custom_metadata: dict | None = None) -> DeltaLogEntry:
    commit = TableCommit.merge(predicate=predicate, read_version=read_version,
                               metrics=metrics, metadata=custom_metadata)
    return DeltaLogEntry([*removes, *adds, commit])


# ---------------------------------------------------------------------------
# DeltaLog
# ---------------------------------------------------------------------------


class DeltaLog:
    """Parsed log: version -> entry, with replay and commit.

    Reference parity: delta_log/__init__.py:232-429.
    """

    def __init__(self, entries: dict[int, DeltaLogEntry] | None = None):
        self.entries: dict[int, DeltaLogEntry] = dict(
            sorted((entries or {}).items()))
        #: versions represented by the loaded checkpoint whose JSON entry
        #: was skipped; filename kept for lazy history() reads
        self._lazy_json: dict[int, str] = {}
        self._location = None
        #: (start, end) ranges served by compacted files in this load
        self._compacted_used: list[tuple[int, int]] = []

    # -- load ----------------------------------------------------------------

    @classmethod
    def load(cls, log_location, version: int | None = None,
             use_checkpoint: bool = True) -> "DeltaLog":
        """List the log dir and parse entries, optionally stopping at a
        pinned version (reference delta_log/__init__.py:250-277).

        With ``use_checkpoint`` (default), a ``_last_checkpoint`` pointer
        short-circuits replay: the checkpoint parquet supplies the state
        at its version and only newer JSON entries are parsed — O(recent
        commits) instead of O(all commits) per open. Time travel to a
        version before the checkpoint falls back to the full JSON replay
        (entries are never deleted by checkpointing).

        A pinned ``version`` the log does not hold raises ``ValueError``,
        also when the log is empty or missing.
        """
        from .checkpoint import last_checkpoint_version, read_checkpoint

        json_names: dict[int, str] = {}
        comp_names: dict[tuple[int, int], str] = {}
        for name in log_location.list_files():
            m = _LOG_ENTRY_RE.match(name)
            if m:
                json_names[int(m.group(1))] = name
                continue
            m = _COMPACTED_RE.match(name)
            if m:
                comp_names[(int(m.group(1)), int(m.group(2)))] = name

        cp_v = last_checkpoint_version(log_location) if use_checkpoint \
            else None
        if cp_v is not None and version is not None and version < cp_v:
            cp_v = None  # pinned before the checkpoint: full replay

        entries: dict[int, DeltaLogEntry] = {}
        lazy: dict[int, str] = {}
        if cp_v is not None:
            try:
                entries[cp_v] = DeltaLogEntry(
                    read_checkpoint(log_location, cp_v))
            except Exception:
                # Unreadable (or feature-stripped — see read_checkpoint)
                # checkpoint: fall back to full JSON replay, but only
                # when the JSON log still reaches back to version 0 —
                # replaying a cleaned-up tail would silently drop the
                # protocol/metaData the checkpoint was supposed to carry.
                if json_names and 0 not in json_names:
                    raise
                cp_v = None

        # minor log compaction (delta-spark {a}.{b}.compacted.json):
        # a compacted file carries the reconciled net actions of
        # versions [a, b], so replay can read ONE file instead of
        # b-a+1 JSONs. Like the checkpoint fast path it rides
        # use_checkpoint — per-version consumers (CDF, history diffs)
        # load with use_checkpoint=False and never see collapsed
        # entries. Greedy non-overlapping cover, longest range first
        # at each start; covered JSONs stay lazily re-readable for
        # history(). An unreadable compacted file falls back to JSON.
        compacted_used: list[tuple[int, int]] = []
        covered: set[int] = set()
        if use_checkpoint and comp_names:
            lo = cp_v + 1 if cp_v is not None else 0
            hi = version if version is not None \
                else max(json_names, default=-1)
            reach = lo - 1
            for (a, b), name in sorted(
                    comp_names.items(),
                    key=lambda kv: (kv[0][0], -kv[0][1])):
                if a < lo or b > hi or a > b or a <= reach:
                    continue
                try:
                    entries[b] = DeltaLogEntry.from_bytes(
                        log_location.join(name).read_bytes())
                except Exception:
                    continue
                compacted_used.append((a, b))
                covered.update(range(a, b + 1))
                reach = b

        for v, name in json_names.items():
            if version is not None and v > version:
                continue
            if (cp_v is not None and v <= cp_v) or v in covered:
                lazy[v] = name
                continue
            entries[v] = DeltaLogEntry.from_bytes(
                log_location.join(name).read_bytes())

        known = set(entries) | set(lazy) | covered
        if version is not None and version not in known:
            raise ValueError(f"Version {version} does not exist in log")
        log = cls(entries)
        log._lazy_json = lazy
        log._location = log_location
        log._compacted_used = compacted_used
        return log

    def with_entry(self, version: int, entry: DeltaLogEntry
                   ) -> "DeltaLog":
        """Snapshot state after committing ``entry`` at ``version``,
        WITHOUT re-listing or re-reading the log directory: the
        put-if-absent commit either wrote exactly these bytes or
        raised, and version numbering is dense, so this log plus the
        one committed entry IS the on-disk state. O(1) per commit
        instead of the O(versions) re-read a full reload pays — on a
        multi-commit lifecycle operation the reload cost is quadratic
        in commit count, and at 100 TB each reload is a remote LIST
        plus one GET per JSON commit.
        """
        new = DeltaLog({**self.entries, version: entry})
        new._lazy_json = dict(self._lazy_json)
        new._location = self._location
        new._compacted_used = list(self._compacted_used)
        return new

    # -- snapshot state ------------------------------------------------------

    def __bool__(self) -> bool:
        return bool(self.entries)

    @property
    def version(self) -> int:
        if not self.entries:
            raise ValueError("Empty log has no version")
        return max(self.entries)

    @property
    def versions(self) -> list[int]:
        return sorted(set(self.entries) | set(self._lazy_json))

    @property
    def version_to_write(self) -> int:
        return (max(self.entries) + 1) if self.entries else 0

    def add_actions(self) -> dict[str, Add]:
        """Replay: live files = adds minus removes in ACTION order, per
        version (reference delta_log/__init__.py:336-346).

        Within one commit the last action for a path wins — a commit
        may legitimately carry remove+add of the SAME path (deletion-
        vector re-adds, delta-spark's DV/metadata rewrites), where the
        remove tombstones the previous version's entry and the add
        establishes the new one.  Applying all adds then all removes
        would wrongly drop such files."""
        live: dict[str, Add] = {}
        for v in sorted(self.entries):
            for action in self.entries[v].actions:
                if isinstance(action, Add):
                    live[action.path] = action
                elif isinstance(action, Remove):
                    live.pop(action.path, None)
        return live

    def schema(self) -> T.StructType:
        """Newest metaData wins (reference delta_log/__init__.py:328-334)."""
        for v in sorted(self.entries, reverse=True):
            md = self.entries[v].metadata
            if md is not None:
                return schema_from_string(md.schemaString)
        raise ValueError("No metaData action in log")

    def metadata(self) -> TableMetadata:
        for v in sorted(self.entries, reverse=True):
            md = self.entries[v].metadata
            if md is not None:
                return md
        raise ValueError("No metaData action in log")

    def partition_columns(self) -> list[str]:
        """Newest entry that declares partitioning wins (reference
        delta_log/__init__.py:348-355)."""
        for v in sorted(self.entries, reverse=True):
            hint = self.entries[v].partition_columns_hint()
            if hint is not None:
                return hint
        return []

    def latest_txn_version(self, app_id: str) -> int | None:
        """Highest ``txn`` version recorded for ``app_id`` (Delta
        protocol idempotence watermark), or None if the application has
        never committed. Streaming sinks consult this before applying a
        replayed micro-batch."""
        best: int | None = None
        for v in sorted(self.entries, reverse=True):
            for a in self.entries[v].actions:
                if isinstance(a, SetTransaction) and a.appId == app_id:
                    if best is None or a.version > best:
                        best = a.version
        return best

    def domain_metadata(self, domain: str) -> DomainMetadata | None:
        """Newest ``domainMetadata`` action for ``domain`` per log
        replay (latest wins), or None if never set or tombstoned by a
        ``removed=True`` action."""
        for v in sorted(self.entries, reverse=True):
            for a in self.entries[v].actions:
                if isinstance(a, DomainMetadata) and a.domain == domain:
                    return None if a.removed else a
        return None

    def live_domain_metadata(self) -> "dict[str, DomainMetadata]":
        """All live domains (newest non-removed action per domain) —
        the set a checkpoint must carry forward."""
        out: dict[str, DomainMetadata] = {}
        seen: set[str] = set()
        for v in sorted(self.entries, reverse=True):
            for a in self.entries[v].actions:
                if isinstance(a, DomainMetadata) and a.domain not in seen:
                    seen.add(a.domain)
                    if not a.removed:
                        out[a.domain] = a
        return out

    def row_id_high_watermark(self) -> int:
        """Highest row id ever assigned (Delta row tracking), from the
        ``delta.rowTracking`` domain; -1 before any assignment."""
        dm = self.domain_metadata("delta.rowTracking")
        if dm is None:
            return -1
        try:
            return int(json.loads(dm.configuration or "{}")
                       .get("rowIdHighWaterMark", -1))
        except (ValueError, TypeError):
            return -1

    def last_ict(self) -> int | None:
        """Newest commit's inCommitTimestamp if it carries one (lazy
        JSON re-read under a checkpointed load)."""
        if not self.entries:
            return None
        e = self._history_entry(self.version)
        ci = e.commit_info if e is not None else None
        if ci is None:
            return None
        ict = (ci.extra or {}).get("inCommitTimestamp")
        return int(ict) if ict is not None else None

    def protocol(self) -> Protocol:
        """Newest protocol action; spec default if none recorded."""
        for v in sorted(self.entries, reverse=True):
            for a in self.entries[v].actions:
                if isinstance(a, Protocol):
                    return a
        return Protocol()

    def _history_entry(self, v: int) -> DeltaLogEntry | None:
        """Entry for history purposes; versions collapsed into a loaded
        checkpoint re-read their JSON lazily (commitInfo lives only
        there)."""
        if v in self._lazy_json and self._location is not None:
            try:
                return DeltaLogEntry.from_bytes(
                    self._location.join(self._lazy_json[v]).read_bytes())
            except OSError:
                pass
        return self.entries.get(v)

    def history(self, reverse: bool = True) -> Generator[dict, None, None]:
        """commitInfo dicts + version, newest-first by default (reference
        delta_log/__init__.py:312-318)."""
        for v in sorted(set(self.entries) | set(self._lazy_json),
                        reverse=reverse):
            e = self._history_entry(v)
            ci = e.commit_info if e is not None else None
            info = dict(ci.to_json()["commitInfo"]) if ci else {}
            info["version"] = v
            yield info

    # -- validation ----------------------------------------------------------

    def validate_partition_by(self, partition_by: list[str] | None) -> list[str]:
        """Partition columns are fixed at creation; later writes must use the
        same set, order-insensitive (reference delta_log/__init__.py:357-371)."""
        existing = self.partition_columns() if self.entries else []
        if not self.entries:
            return list(partition_by or [])
        if partition_by is None:
            return existing
        if set(partition_by) != set(existing):
            raise ValueError(
                f"Expected partition columns {existing}, got {list(partition_by)}")
        return existing

    def evaluate_schema(self, schema: T.StructType, write_mode: WriteMode,
                        schema_mode: SchemaMode) -> T.StructType:
        """Append+merge unifies; append+mismatch raises; otherwise the
        incoming schema wins (reference delta_log/__init__.py:373-394)."""
        if not self.entries:
            return schema
        existing = self.schema()
        if write_mode == WriteMode.append:
            if schema_mode == SchemaMode.merge:
                return merge_schemas([existing, schema])
            if not schemas_equal(existing, schema):
                raise ValueError(
                    f"Schema mismatch: table={existing.simpleString()} "
                    f"incoming={schema.simpleString()}; "
                    "pass schema_mode='merge' to evolve")
            return existing
        return schema


def compact_entries(entries: dict[int, DeltaLogEntry], start: int,
                    end: int) -> DeltaLogEntry:
    """Reconcile versions ``[start, end]`` into one net-effect entry —
    the payload of a ``{start}.{end}.compacted.json`` minor log
    compaction (delta-spark parity). Replaying the compacted entry at
    version ``end`` must produce exactly the state of replaying the
    individual commits in order:

    - per path, the LAST file action wins (a remove-then-re-add stays
      an add, an add-then-remove stays a tombstone — carried verbatim
      so VACUUM keeps seeing its deletion-vector descriptor);
    - newest metaData / protocol in the window, if any;
    - per appId, the highest-version SetTransaction (idempotence
      watermarks chain across compactions, like checkpoints);
    - per domain, the last domainMetadata action (removed tombstones
      included);
    - cdc actions carried verbatim (state replay ignores them; CDF
      readers load with use_checkpoint=False and never read compacted
      files);
    - commitInfo dropped (history() lazily re-reads the original
      JSONs, which compaction never deletes — log retention does).

    Unknown foreign actions are carried verbatim, last-per-serialized-
    form — the same tolerance rule as checkpoints.
    """
    if start > end:
        raise ValueError(f"start {start} > end {end}")
    last_file: dict[str, Action] = {}
    md = None
    proto = None
    txns: dict[str, SetTransaction] = {}
    domains: dict[str, DomainMetadata] = {}
    cdcs: list[Cdc] = []
    unknown: dict[str, UnknownAction] = {}
    for v in range(start, end + 1):
        e = entries.get(v)
        if e is None:
            raise ValueError(
                f"version {v} missing from the log — cannot compact "
                f"[{start}, {end}]")
        for a in e.actions:
            if isinstance(a, (Add, Remove)):
                last_file[a.path] = a
            elif isinstance(a, TableMetadata):
                md = a
            elif isinstance(a, Protocol):
                proto = a
            elif isinstance(a, SetTransaction):
                best = txns.get(a.appId)
                if best is None or a.version >= best.version:
                    txns[a.appId] = a
            elif isinstance(a, DomainMetadata):
                domains[a.domain] = a
            elif isinstance(a, Cdc):
                cdcs.append(a)
            elif isinstance(a, TableCommit):
                pass
            elif isinstance(a, UnknownAction):
                unknown[json.dumps(a.to_json(), sort_keys=True,
                                   default=str)] = a
    actions: list[Action] = []
    if proto is not None:
        actions.append(proto)
    if md is not None:
        actions.append(md)
    actions.extend(txns[k] for k in sorted(txns))
    actions.extend(domains[k] for k in sorted(domains))
    actions.extend(a for a in last_file.values()
                   if isinstance(a, Remove))
    actions.extend(a for a in last_file.values() if isinstance(a, Add))
    actions.extend(cdcs)
    actions.extend(unknown.values())
    return DeltaLogEntry(actions)


def commit_entry(log_location, version: int, entry: DeltaLogEntry) -> None:
    """Optimistic-concurrency commit: put-if-absent of ``{version:020}.json``
    (reference delta_log/__init__.py:422-429 + __init__.py:425-446).

    Raises FileExistsError on collision; callers may retry at a new version
    or surface the conflict.
    """
    log_location.join(log_entry_filename(version)).put_if_absent(
        entry.to_bytes())


__all__ = [
    "Action", "Add", "Cdc", "DomainMetadata", "Remove", "Protocol",
    "SetTransaction",
    "TableMetadata", "TableCommit",
    "UnknownAction", "Operation", "WriteMode", "SchemaMode", "DeltaLog",
    "DeltaLogEntry", "load_action", "log_entry_filename",
    "compacted_filename", "compact_entries", "timestamp_ms",
    "create_table_entry", "append_table_entry", "overwrite_table_entry",
    "dynamic_overwrite_entry", "replaced_metadata",
    "delete_table_entry", "restore_table_entry", "optimize_table_entry",
    "merge_table_entry", "properties_table_entry", "update_table_entry",
    "commit_entry",
]
