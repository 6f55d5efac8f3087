"""Metric names, units and how each is computed from a run's records and
spans. BENCHMARK.json lists the same names; tests/test_graphbench.py
keeps the two in step.
"""

from __future__ import annotations

import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

#: The regression gate. CPU time and job counts, not wall-clock latency:
#: on a shared host, steal and noisy neighbours move every op's wall time
#: together by 30-50% between runs, while CPU time (stolen time is not
#: charged to the guest) and Spark jobs per op hold within about 10% and
#: 2%. Wall-clock latency is reported with the per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "jobs_per_op": "count",
    "peak_rss_mb": "MB",
}

#: the ``__spark_entry__`` rows match_read runs
CORPUS_ROWS = ("q_markov",)

PER_LAYER = {
    "ql.parse_ms": "ms",
    "match.build_ms": "ms",
    "match.build_jobs": "count",
    "match.hops": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.rows_out": "count",
    **{f"database.write_ms.{k}": "ms" for k in ("create", "connect", "update", "delete")},
    "database.jobs_per_write": "count",
    "database.block_mb": "MB",
    "temporal.asof_ms": "ms",
    "temporal.versions_per_id": "count",
    "snapshot.commit_ms": "ms",
    "snapshot.bytes_written": "bytes",
    "snapshot.files_written": "count",
    "snapshot.tables_rewritten": "count",
    "snapshot.restore_ms": "ms",
    "snapshot.restore_jobs": "count",
    **{f"algorithms.jobs_per_call.{a}": "count" for a in ("cc", "bfs", "pagerank")},
    "algorithms.jobs_per_round": "count",
    "algorithms.ms_per_round": "ms",
    **{
        f"corpus.{m}.{row}": ("ms" if m.endswith("ms") else "count")
        for row in CORPUS_ROWS
        for m in ("build_ms", "build_jobs", "exec_ms", "exec_jobs")
    },
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    # wall-clock latencies: what a user waits for, reported here because
    # they move with the host (see END_TO_END); the per-op-type ones exist
    # on one workload or two
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "match_p50_ms": "ms",
    "asof_p50_ms": "ms",
    "write_p50_ms": "ms",
    "write_p90_ms": "ms",
    "commit_s": "s",
    "restore_s": "s",
    "store_bytes_per_user_byte": "ratio",
    "cc_s": "s",
    "bfs_s": "s",
    "pagerank_s": "s",
    "trace.overhead_ratio": "ratio",
}


def check_names() -> None:
    for name in list(END_TO_END) + list(PER_LAYER):
        if not NAME_RE.fullmatch(name) or len(name) > 64:
            raise ValueError(f"bad metric name {name!r}")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def p90_or_median(xs) -> float:
    """The 90th percentile when at least 100 samples back it (so at least
    10 lie beyond it), else the median."""
    xs = sorted(xs)
    if len(xs) >= 100:
        return float(statistics.quantiles(xs, n=10)[8])
    return median(xs)


def end_to_end(timed, setup_s: float, cpu_s: float, n_jobs: int, peak_mb: float) -> dict:
    """``cpu_s`` and ``n_jobs``: CPU seconds and Spark jobs over the timed
    phase."""
    values = {
        "setup_s": setup_s,
        "cpu_ms_per_op": 1e3 * cpu_s / len(timed),
        "jobs_per_op": n_jobs / len(timed),
        "peak_rss_mb": peak_mb,
    }
    return {k: (values[k], END_TO_END[k]) for k in END_TO_END}


def per_layer(wl, timed, plain, tr, jobs, gc1, gc0, block_mb, wall) -> dict:
    from tracing import JobStats

    by_id = {r.op_id: r for r in timed}
    kids: dict[int, dict[str, list]] = {}
    for s in tr.spans:
        if s.parent is not None and s.op_id in by_id:
            kids.setdefault(s.op_id, {}).setdefault(s.name, []).append(s)

    def spans_of(name, keep=lambda r: True):
        """Child spans called ``name`` of the timed ops ``keep`` selects."""
        return [s for oid, d in kids.items() if keep(by_id[oid]) for s in d.get(name, [])]

    def ms(spans):
        return [1e3 * (s.end - s.start) for s in spans]

    def njobs(spans):
        return [len(s.jobs) for s in spans]

    def recs(kind, name=None):
        return [r.ms for r in timed if r.kind == kind and (name is None or r.name == name)]

    def job_total(oid):
        return sum(len(s.jobs) for d in [kids.get(oid, {})] for ss in d.values() for s in ss)

    v: dict[str, float] = {}
    v["ql.parse_ms"] = median(ms(spans_of("parse")))
    builds = spans_of("build", lambda r: r.kind in ("match", "asof"))
    v["match.build_ms"] = median(ms(builds))
    v["match.build_jobs"] = mean(njobs(builds))
    v["match.hops"] = mean(r.hops for r in timed if r.kind in ("match", "asof"))

    execs = spans_of("exec")
    for phase in ("analysis", "optimization", "planning"):
        v[f"plan.{phase}_ms"] = median(s.phases.get(phase, 0.0) for s in execs)
    v["exec.ms"] = median(ms(execs))
    v["exec.jobs"] = mean(njobs(execs))
    per_exec = []
    for s in execs:
        agg = JobStats()
        for j in s.jobs:
            if j in jobs:
                agg.add(jobs[j])
        per_exec.append(agg)
    for key, attr in (
        ("stages", "stages"), ("tasks", "tasks"), ("task_run_ms", "run_ms"),
        ("task_gc_ms", "gc_ms"), ("shuffle_read_bytes", "shuffle_read"),
        ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill"),
    ):
        v[f"exec.{key}"] = mean(getattr(a, attr) for a in per_exec)
    v["exec.rows_out"] = mean(s.rows for s in execs)

    for k in ("create", "connect", "update", "delete"):
        v[f"database.write_ms.{k}"] = median(recs("write", k))
    v["database.jobs_per_write"] = mean(job_total(r.op_id) for r in timed if r.kind == "write")
    v["database.block_mb"] = block_mb

    v["temporal.asof_ms"] = median(recs("asof"))
    v["temporal.versions_per_id"] = wl.extra.get("versions_per_id", 0.0)

    commits = getattr(wl, "commits", [])
    v["snapshot.commit_ms"] = median(c[0] for c in commits)
    v["snapshot.bytes_written"] = mean(c[1] for c in commits)
    v["snapshot.files_written"] = mean(c[2] for c in commits)
    v["snapshot.tables_rewritten"] = mean(c[3] for c in commits)
    restores = [s for s in tr.spans if s.name == "restore"]
    v["snapshot.restore_ms"] = wl.extra.get("restore_ms", 0.0)
    v["snapshot.restore_jobs"] = mean(njobs(restores))

    rounds_total = ms_total = jobs_total = 0.0
    for algo in ("cc", "bfs", "pagerank"):
        calls = [r for r in timed if r.kind == algo]
        v[f"algorithms.jobs_per_call.{algo}"] = mean(job_total(r.op_id) for r in calls)
        rounds = getattr(wl, "rounds", {})
        per_call = median(rounds.get("bfs_list", [])) if algo == "bfs" else rounds.get(algo, 0)
        rounds_total += per_call * len(calls)
        ms_total += sum(r.ms for r in calls)
        jobs_total += sum(job_total(r.op_id) for r in calls)
    v["algorithms.jobs_per_round"] = jobs_total / rounds_total if rounds_total else 0.0
    v["algorithms.ms_per_round"] = ms_total / rounds_total if rounds_total else 0.0

    for row in CORPUS_ROWS:
        b = spans_of("build", lambda r: r.kind == "corpus" and r.name == row)
        e = spans_of("exec", lambda r: r.kind == "corpus" and r.name == row)
        v[f"corpus.build_ms.{row}"] = median(ms(b))
        v[f"corpus.build_jobs.{row}"] = mean(njobs(b))
        v[f"corpus.exec_ms.{row}"] = median(ms(e))
        v[f"corpus.exec_jobs.{row}"] = mean(njobs(e))

    v["jvm.gc_ms"] = gc1[0] - gc0[0]
    v["jvm.gc_count"] = float(gc1[1] - gc0[1])

    writes = recs("write")
    v["ops_per_s"] = len(timed) / wall
    v["op_p50_ms"] = median(r.ms for r in timed)
    v["op_p90_ms"] = p90_or_median([r.ms for r in timed])
    v["match_p50_ms"] = median(recs("match"))
    v["asof_p50_ms"] = median(recs("asof"))
    v["write_p50_ms"] = median(writes)
    v["write_p90_ms"] = p90_or_median(writes)
    v["commit_s"] = v["snapshot.commit_ms"] / 1e3
    v["restore_s"] = v["snapshot.restore_ms"] / 1e3
    v["store_bytes_per_user_byte"] = wl.extra.get("store_bytes_per_user_byte", 0.0)
    for algo in ("cc", "bfs", "pagerank"):
        v[f"{algo}_s"] = median(recs(algo)) / 1e3
    plain_s = sum(r.ms for r in plain)
    # mean op time traced over plain; both halves run whole cycles
    v["trace.overhead_ratio"] = (
        (sum(r.ms for r in timed) / len(timed)) / (plain_s / len(plain)) if plain_s else 0.0
    )
    return {k: (float(v[k]), PER_LAYER[k]) for k in PER_LAYER}

