"""Stateful table benchmark for xdlake_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload commit_churn --seed 1 \
        --seconds 20 --trace 0

One closed-loop client (this process) drives one table through a fixed
cycle of operations on ``local[<nproc>]``. After set-up (repeated, see
``SETUPS``) and one untimed warm-up cycle, the run measures a whole
number of cycles: ``--seconds`` divided by the workload's nominal cycle length,
rounded, at least one. Every run of a workload thus measures the same
op sequence, on any host and at any speed of the library. Every op is checked against an
independent oracle; the final table is gated too. The last stdout line
is one JSON object; with ``--trace 0`` it carries the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run.
Exit status is non-zero when a correctness gate fails. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
#: how many times set-up runs; ``setup_s`` is their median
SETUPS = 7
#: op classes every run must time; the ``*_p50_ms`` metrics read them
OP_CLASSES = ("write", "dml", "read", "travel")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small tables, one set-up, no warm-up "
                        "(self-test mode)")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    """The benchmark's Spark configuration (see README.md)."""
    from pyspark.sql import SparkSession
    n = cpu_count()
    tmp = os.path.join(work, "tmp")
    builder = (SparkSession.builder.master(f"local[{n}]")
               .appName("perfbench")
               .config("spark.sql.shuffle.partitions", str(n))
               .config("spark.default.parallelism", str(n))
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.driver.memory", "2g")
               .config("spark.serializer",
                       "org.apache.spark.serializer.KryoSerializer")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.local.dir", os.path.join(work, "spark-local"))
               .config("spark.sql.warehouse.dir",
                       os.path.join(work, "warehouse"))
               .config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={tmp} "
                       f"-Dderby.system.home={tmp} "
                       "-XX:-UsePerfData")  # no /tmp/hsperfdata_* file
               .config("spark.eventLog.enabled", str(trace).lower()))
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev)
        builder = (builder.config("spark.eventLog.dir", ev)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(samples, measured, setups, amps) -> dict:
    """The end-to-end metrics; see BENCHMARK.json. ``samples`` holds the
    successful ops; ``measured`` is the time of all ops, failed ones
    too."""
    def ms(cls):
        vals = [dt for c, dt in samples if c == cls]
        return {"value": statistics.median(vals) * 1000.0, "unit": "ms"}

    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "ops_per_s": {"value": len(samples) / measured, "unit": "1/s"},
        "write_p50_ms": ms("write"),
        "dml_p50_ms": ms("dml"),
        "read_p50_ms": ms("read"),
        "travel_p50_ms": ms("travel"),
        "stored_bytes_per_live_byte": {"value": max(amps), "unit": "ratio"},
    }


def run(args, work: str) -> int:
    from perfbench.oracle import GateError
    from perfbench.workloads import WORKLOADS

    spark = start_spark(work, bool(args.trace))
    tracer = None
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.tiny)
        correct, gate_msg = True, ""
        samples, amps, failed, names = [], [], 0, []
        measured = 0.0
        try:
            setups = []
            for i in range(1 if args.tiny else SETUPS):
                t0 = time.perf_counter()
                wl.setup(i)
                setups.append(time.perf_counter() - t0)
            wl.keep(len(setups) - 1)
            log(f"setup: {[round(s, 3) for s in setups]}")
            if not args.tiny:
                # one untimed cycle on the kept table: compiles every
                # query shape, spawns the Python workers, writes the first
                # checkpoint and lists the table's files before timing
                t0 = time.perf_counter()
                for op in wl.cycle():
                    op.after(op.act())
                log(f"warm-up cycle: {time.perf_counter() - t0:.2f}s")
            if args.trace:
                from perfbench.trace import Tracer
                tracer = Tracer(spark)
                tracer.install()
            t_start = time.perf_counter()
            cycles = 1 if args.tiny else max(
                1, round(args.seconds / wl.cycle_seconds))
            for _ in range(cycles):
                for op in wl.cycle():
                    if tracer:
                        tracer.begin_op(op.cls, op.name)
                    t0 = time.perf_counter()
                    try:
                        res = op.act()
                        ok = True
                    except Exception:
                        log(f"op {op.name} failed:\n{traceback.format_exc()}")
                        failed += 1
                        ok = False
                    dt = time.perf_counter() - t0
                    if tracer:
                        tracer.end_op(res if ok else None)
                    measured += dt
                    if ok:
                        # a failed op's time is in ``measured`` only
                        samples.append((op.cls, dt))
                        names.append(op.name)
                        op.after(res)
                    amps.append(wl.space_amplification())
            wall = time.perf_counter() - t_start
            log(f"measured {len(samples)} ops ({failed} failed) in "
                f"{measured:.2f}s ({wall:.2f}s wall)")
            by_name: dict = {}
            for n, (_, dt) in zip(names, samples):
                by_name.setdefault(n, []).append(round(dt * 1000))
            log(f"op ms: {by_name}")
            if tracer:
                tracer.uninstall()
            gate_msg = wl.gate()
            missing = sorted(set(OP_CLASSES) - {c for c, _ in samples})
            if missing:
                raise GateError(f"no successful op of class {missing}")
        except GateError as e:
            correct, gate_msg = False, f"FAILED: {e}"
        print(f"gate {args.workload}: {gate_msg}", flush=True)
        wl.close()
    finally:
        stop_spark(spark)
    if not correct:
        metrics = {}
    elif args.trace:
        metrics = tracer.metrics(
            wl.admit_ratio(), work, os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = end_to_end(samples, measured, setups, amps)
    result = {"correct": correct, "attempted": len(samples) + failed,
              "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xdlake_spark", "__init__.py")):
        log("perfbench: run from the root of an xdlake_spark checkout "
            "(no xdlake_spark/ package here)")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
