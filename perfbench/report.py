"""Reduce samples, spans and Spark jobs to the benchmark's metrics.

End-to-end metrics come from the untraced samples; per-layer metrics are
the median over traced operations of each operation's total, so a layer
number reads "per workload operation".  A layer the workload does not
exercise reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Job, Span, Tracer, job_op

# Every gated timing is CPU seconds (user + system of the driver, its JVM
# and their workers, JIT compiler threads left out; workloads.CpuMeter):
# on a shared host wall time swings with neighbours' load, CPU time far
# less.  Wall times are in the run's detail line.  The two phase metrics
# name one phase of each workload (see each workload's phase_metrics).
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "op_cpu_tail_s": "s",
    "prepare_or_first_cpu_s": "s",
    "scan_or_repeat_cpu_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "session.self_s": "s",
    "app.prepare_s": "s",
    "app.cleanup_s": "s",
    "app.self_s": "s",
    "generator.plan_s": "s",
    "generator.calls": "count",
    "table.append_batches_s": "s",
    "table.pos_deletes_s": "s",
    "table.eq_deletes_s": "s",
    "table.files_written": "count",
    "table.bytes_written": "bytes",
    "table.spark_jobs": "count",
    "table.stored_bytes_per_row": "bytes",
    "table.scan_plan_s": "s",
    "table.scan_exec_s": "s",
    "table.full_scan_s": "s",
    "table.pruned_scan_s": "s",
    "table.time_travel_scan_s": "s",
    "table.files_scanned": "count",
    "table.files_pruned": "count",
    "table.self_s": "s",
    "catalog.ddl_s": "s",
    "catalog.meta_load_s": "s",
    "catalog.meta_save_s": "s",
    "catalog.meta_saves": "count",
    "catalog.meta_bytes": "bytes",
    "catalog.commit_conflicts": "count",
    "catalog.self_s": "s",
    "operators.build_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.first_s": "s",
    "operators.repeat_s": "s",
    "operators.eager_jobs": "count",
    "operators.exchanges": "count",
    "operators.self_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.op_cpu_s": "s",
    "trace.untraced_op_cpu_s": "s",
    "trace.overhead_cpu_s": "s",
    "trace.spans": "count",
}

# span (layer, name) -> per-layer metric holding the summed durations
_SPAN_TIME = {
    ("session", "load_tables"): "session.load_tables_s",
    ("app", "prepare"): "app.prepare_s",
    ("app", "cleanup"): "app.cleanup_s",
    ("generator", "generate"): "generator.plan_s",
    ("table", "append_batches"): "table.append_batches_s",
    ("table", "add_position_deletes"): "table.pos_deletes_s",
    ("table", "add_equality_deletes"): "table.eq_deletes_s",
    ("table", "scan"): "table.scan_plan_s",
    ("table", "full_scan"): "table.full_scan_s",
    ("table", "pruned_scan"): "table.pruned_scan_s",
    ("table", "time_travel_scan"): "table.time_travel_scan_s",
    ("catalog", "ddl"): "catalog.ddl_s",
    ("catalog", "meta_load"): "catalog.meta_load_s",
    ("catalog", "meta_save"): "catalog.meta_save_s",
    ("operators", "build"): "operators.build_s",
    ("operators", "plan"): "operators.plan_s",
    ("operators", "exec"): "operators.exec_s",
}
_WRITES = ("append_batches", "add_position_deletes", "add_equality_deletes")
_READS = ("full_scan", "pruned_scan", "time_travel_scan")
_JOB_FIELDS = (
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def phase_median(samples, phase: str, i: int) -> float:
    """Median wall (``i=0``) or CPU (``i=1``) seconds of one phase."""
    return median([s.phases[phase][i] for s in samples if phase in s.phases])


def tail(xs) -> tuple[float, float]:
    """``(value, percentile)``: the highest percentile with at least ten
    samples beyond it; with ten or fewer samples there is none, and the
    maximum (percentile 100) is reported instead."""
    xs = sorted(xs)
    n = len(xs)
    if n > 10:
        return xs[n - 11], 100.0 * (n - 10) / n
    return (xs[-1], 100.0) if xs else (0.0, 100.0)


def _outer(span: Span) -> bool:
    """True unless an ancestor span has the same layer and name (a memo
    build calling another operator is counted once)."""
    p = span.parent
    while p is not None:
        if (p.layer, p.name) == (span.layer, span.name):
            return False
        p = p.parent
    return True


def _within(job: Job, spans) -> bool:
    return any(s.start <= job.submitted <= s.end for s in spans)


def per_op(tracer: Tracer, jobs: list[Job]) -> dict[int, dict[str, float]]:
    """Every per-layer quantity summed within each traced operation."""
    ops = {op.id: dict(op.counts) for op in tracer.ops}
    covered: dict[int, float] = {}  # id(span) -> time its children cover
    for s in tracer.spans:
        if s.parent is not None:
            covered[id(s.parent)] = covered.get(id(s.parent), 0.0) + s.end - s.start
    job_ops = [(job, job_op(job, tracer.ops)) for job in jobs]
    by_op: dict[int, list[Span]] = {i: [] for i in ops}
    for s in tracer.spans:
        if s.op in by_op:
            by_op[s.op].append(s)
    for op_id, spans in by_op.items():
        m = ops[op_id]

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0) + v

        for s in spans:
            dur = s.end - s.start
            self_t = max(0.0, dur - covered.get(id(s), 0.0))
            add(f"{s.layer}.self_s", self_t)
            key = _SPAN_TIME.get((s.layer, s.name))
            if key and _outer(s):
                add(key, dur)
            if s.layer == "generator":
                add("generator.calls", 1)
            if s.name in _READS:
                add("table.scan_exec_s", self_t)
            if s.name in _WRITES:
                for k in ("files_written", "bytes_written"):
                    add(f"table.{k}", s.counts.get(k, 0))
            if s.name == "meta_save":
                add("catalog.meta_saves", 1)
                add("catalog.meta_bytes", s.counts.get("meta_bytes", 0))
                if s.counts.get("error") == "CommitConflictError":
                    add("catalog.commit_conflicts", 1)
        writes = [s for s in spans if s.name in _WRITES]
        builds = [s for s in spans if s.name == "build" and _outer(s)]
        for job, owner in job_ops:
            if owner != op_id:
                continue
            add("exec.jobs", 1)
            for f in _JOB_FIELDS:
                add(f"exec.{f}", getattr(job, f))
            if _within(job, writes):
                add("table.spark_jobs", 1)
            if _within(job, builds):
                add("operators.eager_jobs", 1)
    return ops


def layer_metrics(tracer: Tracer, jobs: list[Job], untraced, traced) -> dict[str, float]:
    ops = per_op(tracer, jobs)
    out = {}
    for name in PER_LAYER:
        out[name] = median([m.get(name, 0) for m in ops.values()])
    for kind in ("first", "repeat"):
        out[f"operators.{kind}_s"] = median(
            [op.end - op.start for op in tracer.ops if op.kind == f"query:{kind}"]
        )
    get_spark = [s.end - s.start for s in tracer.spans if s.name == "get_spark"]
    out["session.get_spark_s"] = sum(get_spark)
    for suffix, field in (("s", "seconds"), ("cpu_s", "cpu")):
        u = median([getattr(s, field) for s in untraced])
        t = median([getattr(s, field) for s in traced])
        out[f"trace.untraced_op_{suffix}"] = u
        out[f"trace.op_{suffix}"] = t
        out[f"trace.overhead_{suffix}"] = t - u
    out["trace.spans"] = len(tracer.spans)
    return out
