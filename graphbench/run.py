#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 graphbench/run.py --workload match_read --seed 1 --seconds 6 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
wraps every engine call in spans and job groups, enables the Spark event
log, and prints the per-layer metrics instead. See graphbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from metrics import check_names, end_to_end, median, per_layer  # noqa: E402

#: setup repetitions per run; setup_s is their median
SETUPS = 3
#: a run with more hypervisor steal than this is labelled not comparable
MAX_STEAL = 0.05
#: driver JVM heap, both initial and maximum
HEAP = "1g"


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def _cpu_s(spark) -> float:
    """CPU seconds used so far by the driver JVM and this process. Time
    the hypervisor steals from the guest is not charged here."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    me = os.times()
    return jvm + me.user + me.system


def _jobs_started(spark) -> int:
    """Spark jobs submitted so far in this session, in any job group."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _session(work: str, trace: bool):
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every file the run writes inside its work directory: Python and
    # JVM temp files, Spark's scratch space, and no hsperfdata in /tmp
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a fixed-size heap: the JVM's resident set then does not depend on
    # when G1 decides to grow the heap
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    from tundradb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("graphbench", cpus=os.cpu_count() or 4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run_cycles(cycles, tr, n_cycles=None, seconds=None, start_id=0):
    """Run whole cycles: ``n_cycles`` of them, or at least one and until
    ``seconds`` have passed. Returns (records, pending checks, wall
    seconds)."""
    from workloads import Record

    records, fails = [], []
    op_id = start_id
    t_start = time.perf_counter()
    done = 0
    while True:
        if n_cycles is not None and done >= n_cycles:
            break
        if seconds is not None and done and time.perf_counter() - t_start >= seconds:
            break
        for op in next(cycles):
            rec = Record(op_id, op.kind, op.name, 0.0, op.hops)
            with tr.span(f"op.{op.kind}", op_id=op_id):
                t0 = time.perf_counter()
                try:
                    got = op.call(tr)
                except Exception as exc:  # an engine error counts as a failed op
                    got, rec.error = None, f"{type(exc).__name__}: {exc}"[:300]
                rec.ms = 1e3 * (time.perf_counter() - t0)
            if rec.error is None and op.check is not None:
                fails.append((rec, op.check, got))
            records.append(rec)
            op_id += 1
        done += 1
    return records, fails, time.perf_counter() - t_start


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the engine and the load probes come from the checkout; without them
    # the benchmark cannot run and says so with a non-zero exit
    try:
        import tundradb_spark  # noqa: F401
        from bench import _load_probe, _steal_ticks
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"graphbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"graphbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    check_names()

    load_start = _load_probe()
    steal0, wall0 = _steal_ticks(), time.time()
    work = os.path.join(ROOT, ".graphbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        trace = bool(args.trace)
        spark = _session(work, trace)
        from tracing import Tracer, event_log_jobs, jvm_gc, rdd_storage_mb

        off = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        stamps = {"session": time.time() - wall0}
        wl.inputs()
        stamps["inputs"] = time.time() - wall0
        setup_s = median([wl.setup(i) for i in range(SETUPS)])
        stamps["setup"] = time.time() - wall0
        cycles = wl.cycles()
        warm, warm_fails, _ = run_cycles(cycles, off, n_cycles=1)  # untimed warm-up
        stamps["warm"] = time.time() - wall0

        gc0 = jvm_gc(spark)
        cpu0, job0 = _cpu_s(spark), _jobs_started(spark)
        if trace:
            # half the window plain, half traced: the overhead of tracing
            plain, plain_fails, _ = run_cycles(cycles, off, seconds=args.seconds / 2,
                                               start_id=len(warm))
            tr = Tracer(spark, enabled=True)
            timed, fails, wall = run_cycles(cycles, tr, seconds=args.seconds / 2,
                                            start_id=len(warm) + len(plain))
            fails += plain_fails
        else:
            plain = []
            tr = off
            timed, fails, wall = run_cycles(cycles, tr, seconds=args.seconds, start_id=len(warm))
        gc1 = jvm_gc(spark)
        cpu1, job1 = _cpu_s(spark), _jobs_started(spark)
        stamps["timed"] = time.time() - wall0
        block_mb = rdd_storage_mb(spark)
        final = wl.finish(tr)
        stamps["finish"] = time.time() - wall0

        mismatches = [r.error for r in warm + plain + timed if r.error]
        for rec, check, got in warm_fails + fails:
            msg = check(got)
            if msg:
                rec.error = msg
                mismatches.append(msg)
        mismatches += [f"{name}: {msg}" for name, msg in final if msg]
        attempted = len(warm) + len(plain) + len(timed) + len(final)
        peak = _peak_rss_mb(spark)
        if trace:
            _stop(spark)  # flushes the event log
            spark = None
            jobs = event_log_jobs(os.path.join(work, "eventlog"))
            metrics = per_layer(wl, timed, plain, tr, jobs, gc1, gc0, block_mb, wall)
            os.makedirs(os.path.join(ROOT, ".graphbench_out"), exist_ok=True)
            tr.dump(os.path.join(ROOT, ".graphbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(timed, setup_s, cpu1 - cpu0, job1 - job0, peak)
        steal = (_steal_ticks() - steal0) / max(1.0, 100 * (time.time() - wall0) * (os.cpu_count() or 1))
        label = {
            "load1_start": load_start[0], "foreign_procs_start": load_start[1],
            "load1_end": os.getloadavg()[0], "steal_frac": round(steal, 4),
            "comparable": steal <= MAX_STEAL, "timed_ops": len(timed),
            "warm_ops": len(warm), "mismatches": mismatches[:5],
            "op_ms": {
                f"{r.kind}.{r.name}": round(median(x.ms for x in timed if (x.kind, x.name) == (r.kind, r.name)))
                for r in timed
            },
            "elapsed_at": {k: round(t, 1) for k, t in stamps.items()},
        }
        print(json.dumps({"label": label}))
        print(json.dumps({
            "correct": not mismatches,
            "attempted": attempted,
            "failed": len(mismatches),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
