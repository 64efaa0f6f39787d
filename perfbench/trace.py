"""Outside-in tracing for the per-layer metrics (``--trace 1``).

Nothing in the library is edited. The public entry points of each layer
are wrapped, for the duration of the timed window, at the name their
caller looks up:

``log``              ``DeltaLog.load``, ``table.commit_entry`` and the
                     ``write_checkpoint`` / ``write_version_checksum``
                     module attributes that ``DeltaTable._commit``
                     imports at call time
``plans.skipping``   ``table.prune_manifest``
``sources.storage``  ``Location`` I/O methods
``operators``        ``operators.dedup.arrow_gate`` and the dedup entry
                     points the workload calls

Each span carries its parent span and the op it ran under; spans stay in
memory and are written to ``.perfbench_out/`` at exit. Spark figures
come from the event log (each op's jobs carry a job group the benchmark
sets), JVM GC time from its MXBeans, and CPU split by process (this
driver, the JVM, the ``pyspark.daemon`` workers) from ``/proc``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import resource
import time

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")

_STORAGE_KINDS = {
    "list_files": "list", "list_files_recursive": "list",
    "list_files_recursive_info": "list", "read_bytes": "read",
    "write_bytes": "put", "put_if_absent": "put", "rename": "rename",
    "delete": "delete", "delete_dir": "delete", "exists": "stat",
    "file_size": "stat", "file_mtime_ms": "stat",
}
_OPERATOR_ENTRY_POINTS = ("minhash_dedup", "cross_corpus_dedup",
                          "simhash_pairs")


def _stat_fields(pid: int) -> "list[str] | None":
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _cpu_ms(fields: "list[str]", children: bool) -> float:
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks * _TICK_MS


def _jvm_pid(gateway_pid: int) -> int:
    """The java process behind the py4j gateway (``spark-submit`` may
    be a shell that execs or forks it)."""
    def comm(pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    if comm(gateway_pid) == "java":
        return gateway_pid
    for path in glob.glob("/proc/[0-9]*/stat"):
        pid = int(path.split("/")[2])
        fields = _stat_fields(pid)
        if fields and int(fields[1]) == gateway_pid and comm(pid) == "java":
            return pid
    return gateway_pid


class ProcessCpu:
    """CPU milliseconds of the driver, the JVM, and the Python workers
    (every descendant of the JVM; a worker that exits is reaped into its
    parent's children-time, so its CPU is not lost)."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid

    def sample(self) -> "tuple[float, float, float]":
        driver = time.process_time() * 1000.0
        parent, fields_of = {}, {}
        for path in glob.glob("/proc/[0-9]*/stat"):
            pid = int(path.split("/")[2])
            fields = _stat_fields(pid)
            if fields:
                parent[pid] = int(fields[1])
                fields_of[pid] = fields
        jvm = _cpu_ms(fields_of[self.jvm], False) \
            if self.jvm in fields_of else 0.0
        workers = 0.0
        for pid, fields in fields_of.items():
            p = parent.get(pid)
            while p and p != self.jvm:
                p = parent.get(p)
            if p == self.jvm:
                # the daemon's children-time holds its reaped workers
                workers += _cpu_ms(fields, parent[pid] == self.jvm)
        return driver, jvm, workers

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


class Tracer:
    def __init__(self, spark):
        from pyspark import SparkContext
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.cpu = ProcessCpu(_jvm_pid(SparkContext._gateway.proc.pid))
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: "int | None" = None
        self._undo: list = []
        self._jvm_peak = 0.0

    # -- wrapping ------------------------------------------------------

    def _wrap(self, layer: str, name: str, fn, attrs=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            span = {"id": len(tracer.spans), "op": tracer._op,
                    "parent": tracer._stack[-1] if tracer._stack else None,
                    "layer": layer, "name": name,
                    "t0": time.perf_counter()}
            tracer.spans.append(span)
            tracer._stack.append(span["id"])
            try:
                result = fn(*args, **kwargs)
            except BaseException as e:
                span["error"] = type(e).__name__
                raise
            finally:
                span["t1"] = time.perf_counter()
                tracer._stack.pop()
            if attrs:
                span.update(attrs(args, result))
            return result
        return wrapper

    def _patch(self, owner, attr: str, layer: str, name: str,
               attrs=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        if isinstance(orig, classmethod):
            new = classmethod(self._wrap(layer, name, orig.__func__, attrs))
        else:
            new = self._wrap(layer, name, orig, attrs)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        import xdlake_spark.log.checkpoint as checkpoint
        import xdlake_spark.log.checksum as checksum
        import xdlake_spark.operators.dedup as dedup
        import xdlake_spark.table as table
        from xdlake_spark.log import DeltaLog, log_entry_filename
        from xdlake_spark.sources.storage import Location

        def commit_attrs(args, _):
            loc = args[0].join(log_entry_filename(args[1]))
            return {"adds": len(args[2].adds),
                    "bytes": os.path.getsize(loc.path)}

        self._patch(DeltaLog, "load", "log", "load",
                    lambda _, log: {"entries": len(log.entries)})
        self._patch(table, "commit_entry", "log", "commit", commit_attrs)
        self._patch(checkpoint, "write_checkpoint", "log", "checkpoint")
        self._patch(checksum, "write_version_checksum", "log", "checksum")
        self._patch(table, "prune_manifest", "plans.skipping", "prune",
                    lambda args, out: {"files_in": len(args[0]),
                                       "files_out": len(out)})
        for method, kind in _STORAGE_KINDS.items():
            self._patch(Location, method, "sources.storage", kind)
        self._patch(dedup, "arrow_gate", "operators", "arrow_gate",
                    lambda _, use: {"arrow": bool(use)})
        for fn in _OPERATOR_ENTRY_POINTS:
            self._patch(dedup, fn, "operators", fn)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self._jvm_peak = self.cpu.jvm_peak_rss_mb()

    # -- ops -------------------------------------------------------------

    def _gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def begin_op(self, cls: str, name: str) -> None:
        op = {"id": len(self.ops), "cls": cls, "name": name,
              "cpu0": self.cpu.sample(), "gc0": self._gc_ms()}
        self.ops.append(op)
        self.sc.setLocalProperty("spark.jobGroup.id", f"op{op['id']}")
        self._op = op["id"]
        op["epoch0"] = time.time() * 1000.0
        op["t0"] = time.perf_counter()

    def end_op(self, result) -> None:
        op = self.ops[-1]
        op["t1"] = time.perf_counter()
        op["epoch1"] = time.time() * 1000.0
        self._op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        op["gc"] = self._gc_ms() - op.pop("gc0")
        cpu1 = self.cpu.sample()
        op["cpu"] = [b - a for a, b in zip(op.pop("cpu0"), cpu1)]
        if isinstance(result, int):
            op["rows_returned"] = result

    # -- metrics -----------------------------------------------------------

    def metrics(self, admit_ratio: float, work: str, out: str) -> dict:
        """Per-layer metrics of the timed window. Call after the Spark
        session has stopped (the event log is complete then)."""
        jobs = _parse_event_log(os.path.join(work, "eventlog"))
        self._write(out, jobs)
        ops, spans = self.ops, self.spans
        n = max(1, len(ops))
        by = {}
        for s in spans:
            by.setdefault((s["layer"], s["name"]), []).append(s)

        def dur(ss):
            return sum(s["t1"] - s["t0"] for s in ss) * 1000.0

        def mean(total, count):
            return total / count if count else 0.0

        loads = by.get(("log", "load"), [])
        commits = by.get(("log", "commit"), [])
        prunes = by.get(("plans.skipping", "prune"), [])
        gates = by.get(("operators", "arrow_gate"), [])
        storage = [s for s in spans if s["layer"] == "sources.storage"]
        outer_storage = [s for s in storage if s["parent"] is None
                         or spans[s["parent"]]["layer"] != "sources.storage"]
        entry_ops = [s for s in spans if s["layer"] == "operators"
                     and s["name"] in _OPERATOR_ENTRY_POINTS]
        wall = {o["id"]: (o["t1"] - o["t0"]) * 1000.0 for o in ops}
        top = {o["id"]: [] for o in ops}  # child spans, on the epoch clock
        for s in spans:
            if s["parent"] is None:
                o = ops[s["op"]]
                top[s["op"]].append(
                    (o["epoch0"] + (s["t0"] - o["t0"]) * 1000.0,
                     o["epoch0"] + (s["t1"] - o["t0"]) * 1000.0))

        op_jobs = {o["id"]: [] for o in ops}
        for j in jobs.values():
            if j["group"] in op_jobs:
                op_jobs[j["group"]].append(j)
        writes = [o for o in ops if o["cls"] == "write"]
        gaps, table_self, read_rows, returned = [], [], 0, 0
        for o in ops:
            js = [(j["t0"], j["t1"]) for j in op_jobs[o["id"]]]
            lo, hi = o["epoch0"], o["epoch1"]
            gaps.append(wall[o["id"]] - _union_ms(js, lo, hi))
            table_self.append(wall[o["id"]] - _union_ms(
                js + top[o["id"]], lo, hi))
            if "rows_returned" in o:
                returned += o["rows_returned"]
                read_rows += sum(j["records_read"]
                                 for j in op_jobs[o["id"]])
        all_jobs = [j for js in op_jobs.values() for j in js]

        def per_op(total):
            return total / n

        m = {
            "log.load_ms": mean(dur(loads), len(loads)),
            "log.loads_per_op": per_op(len(loads)),
            "log.entries_parsed_per_load": mean(
                sum(s.get("entries", 0) for s in loads), len(loads)),
            "log.commit_ms": mean(dur(commits), len(commits)),
            "log.commit_retries": sum(
                1 for s in commits if s.get("error") == "FileExistsError"),
            "log.checkpoint_ms_per_op": per_op(
                dur(by.get(("log", "checkpoint"), []))),
            "log.checksum_ms_per_op": per_op(
                dur(by.get(("log", "checksum"), []))),
            "log.bytes_per_commit": mean(
                sum(s.get("bytes", 0) for s in commits), len(commits)),
            "plans.skipping.prune_ms": mean(dur(prunes), len(prunes)),
            "plans.skipping.files_kept_ratio": mean(
                sum(s.get("files_out", 0) for s in prunes),
                sum(s.get("files_in", 0) for s in prunes)),
            "plans.skipping.rows_read_per_row_returned": mean(
                read_rows, returned),
            "sources.storage.calls_per_op": per_op(len(storage)),
            "sources.storage.ms_per_op": per_op(dur(outer_storage)),
            "table.self_ms_per_op": per_op(sum(table_self)),
            "spark.jobs_per_op": per_op(len(all_jobs)),
            "spark.jobs_per_write": mean(
                sum(len(op_jobs[o["id"]]) for o in writes), len(writes)),
            "spark.tasks_per_op": per_op(sum(j["tasks"] for j in all_jobs)),
            "spark.job_ms_per_op": per_op(
                sum(j["t1"] - j["t0"] for j in all_jobs)),
            "spark.shuffle_bytes_per_op": per_op(
                sum(j["shuffle_bytes"] for j in all_jobs)),
            "spark.executor_cpu_ms_per_op": per_op(
                sum(j["cpu_ns"] for j in all_jobs) / 1e6),
            "spark.gc_ms_per_op": per_op(sum(o["gc"] for o in ops)),
            "spark.driver_gap_ms_per_op": per_op(sum(gaps)),
            "spark.files_written_per_commit": mean(
                sum(s.get("adds", 0) for s in commits), len(commits)),
            "operators.calls_per_op": per_op(len(entry_ops)),
            "operators.wall_share": mean(dur(entry_ops),
                                         sum(wall.values())),
            "operators.arrow_path_share": mean(
                sum(1 for s in gates if s.get("arrow")), len(gates)),
            "operators.admit_ratio": admit_ratio,
            "driver.py_cpu_ms_per_op": per_op(sum(o["cpu"][0] for o in ops)),
            "jvm.cpu_ms_per_op": per_op(sum(o["cpu"][1] for o in ops)),
            "pyworker.cpu_ms_per_op": per_op(sum(o["cpu"][2] for o in ops)),
            "driver.peak_rss_mb": resource.getrusage(
                resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm.peak_rss_mb": self._jvm_peak,
            "trace.ops_per_s": len(ops) / max(1e-9, sum(wall.values())
                                              / 1000.0),
        }
        for kind in sorted(set(_STORAGE_KINDS.values())):
            m[f"sources.storage.{kind}_per_op"] = per_op(
                sum(1 for s in storage if s["name"] == kind))
        return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}

    def _write(self, out: str, jobs: dict) -> None:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            for o in self.ops:
                f.write(json.dumps({"kind": "op", **o}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **s}) + "\n")
            for jid, j in sorted(jobs.items()):
                f.write(json.dumps({"kind": "job", "id": jid, **j}) + "\n")


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _parse_event_log(ev_dir: str) -> dict:
    """job id -> group, wall interval, tasks, executor CPU, shuffle
    bytes written and input records read, from an uncompressed,
    non-rolling Spark event log."""
    jobs, stage_job = {}, {}
    for path in glob.glob(os.path.join(ev_dir, "*")):
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    jobs[ev["Job ID"]] = {
                        "group": int(group[2:]) if group.startswith("op")
                        else None,
                        "t0": ev["Submission Time"],
                        "t1": ev["Submission Time"], "tasks": 0,
                        "cpu_ns": 0, "shuffle_bytes": 0,
                        "records_read": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    j["shuffle_bytes"] += (tm.get("Shuffle Write Metrics")
                                           or {}).get(
                        "Shuffle Bytes Written", 0)
                    j["records_read"] += (tm.get("Input Metrics")
                                          or {}).get("Records Read", 0)
    return jobs


UNITS = {
    "log.load_ms": "ms", "log.loads_per_op": "count",
    "log.entries_parsed_per_load": "count", "log.commit_ms": "ms",
    "log.commit_retries": "count", "log.checkpoint_ms_per_op": "ms",
    "log.checksum_ms_per_op": "ms", "log.bytes_per_commit": "B",
    "plans.skipping.prune_ms": "ms",
    "plans.skipping.files_kept_ratio": "ratio",
    "plans.skipping.rows_read_per_row_returned": "ratio",
    "sources.storage.calls_per_op": "count",
    "sources.storage.ms_per_op": "ms",
    "table.self_ms_per_op": "ms",
    "spark.jobs_per_op": "count", "spark.jobs_per_write": "count",
    "spark.tasks_per_op": "count", "spark.job_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "B",
    "spark.executor_cpu_ms_per_op": "ms", "spark.gc_ms_per_op": "ms",
    "spark.driver_gap_ms_per_op": "ms",
    "spark.files_written_per_commit": "count",
    "operators.calls_per_op": "count", "operators.wall_share": "ratio",
    "operators.arrow_path_share": "ratio",
    "operators.admit_ratio": "ratio",
    "driver.py_cpu_ms_per_op": "ms", "jvm.cpu_ms_per_op": "ms",
    "pyworker.cpu_ms_per_op": "ms", "driver.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB", "trace.ops_per_s": "1/s",
    **{f"sources.storage.{k}_per_op": "count"
       for k in set(_STORAGE_KINDS.values())},
}
