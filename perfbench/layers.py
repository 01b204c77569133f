"""Per-layer metrics of a traced run, from its per-execution records.

Sums are scaled to one pass of the workload (``per pass``): the sum over
traced executions times entries-per-pass over traced executions, so they
compare directly with ``suite_s``.  Ratios are taken over the same sums.
"""

from __future__ import annotations

from perfbench import stats

# name -> unit, in the order BENCHMARK.json lists them.
PER_PASS = {
    "queries.build_s": "s", "queries.py4j_calls": "count",
    "catalog.calls": "count", "catalog.s": "s",
    "catalyst.parse_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s",
    "exec.job_span_s": "s", "exec.task_s": "s", "exec.task_cpu_s": "s",
    "exec.failed_tasks": "count", "exec.scan_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes", "exec.broadcast_bytes": "bytes",
    "exec.broadcast_build_s": "s", "exec.agg_s": "s", "exec.sort_s": "s",
    "mat.jobs": "count", "mat.s": "s", "mat.bytes_written": "bytes",
    "fetch.rows": "count", "fetch.s": "s", "driver.self_s": "s",
}
OTHER = {
    "exec.core_util": "ratio", "exec.peak_exec_mem_bytes": "bytes",
    "trace.coverage_min": "ratio", "trace.overhead_s": "s",
    "trace.records": "count", "check.failed_frac": "ratio",
}
UNITS = {**PER_PASS, **OTHER}
# Measured by run.py around the worker process.
RUN_UNITS = {"run.peak_rss_mb": "MB", "run.scratch_left_mb": "MB"}


def tracing_overhead(runner) -> float:
    """Per pass: the sum over entries of (median traced latency - median
    untraced latency), over the entries that have both, scaled to a pass."""
    traced = stats.entry_medians(runner.executions, traced=True)
    plain = stats.entry_medians(runner.executions, traced=False)
    both = sorted(set(traced) & set(plain))
    if not both:
        return float("nan")
    diff = sum(traced[k] - plain[k] for k in both)
    return diff * len(runner.wl.entries) / len(both)


def layer_metrics(runner, records: list[dict]) -> dict[str, float]:
    """Every per-layer metric of one traced run (name -> value)."""
    if not records:
        raise ValueError("a traced run produced no records")
    scale = len(runner.wl.entries) / len(records)
    out = {k: scale * sum(r[k] for r in records) for k in PER_PASS}
    task_s = sum(r["exec.task_s"] for r in records)
    span = sum(r["exec.job_span_s"] for r in records)
    out["exec.core_util"] = task_s / (runner.tracer.cores * span) if span > 0 else 0.0
    out["exec.peak_exec_mem_bytes"] = max(r["exec.peak_exec_mem_bytes"] for r in records)
    out["trace.coverage_min"] = min(r["coverage"] for r in records)
    out["trace.overhead_s"] = tracing_overhead(runner)
    out["trace.records"] = len(records)
    attempted = len(runner.executions)
    failed = sum(1 for e in runner.executions if not e.ok)
    out["check.failed_frac"] = stats.failed_frac(attempted, failed)
    return out
