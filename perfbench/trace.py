"""The traced run: per-execution layer spans and counters, read from outside
the program.

Spans are recorded around the calls the benchmark makes into each layer,
and counters are read from Spark's public status and metrics APIs after
each execution:

* ``queries`` - the builder call ``QUERIES[name](spark, sf)``; its self
  time excludes the ``catalog`` calls and the jobs (``mat``) it runs.
* ``catalog`` - calls into ``datafusion_spark.catalog``'s public functions
  made during the build (outermost calls only).
* ``catalyst`` - ``queryExecution().tracker()`` phase times and top rules;
  the span forces ``executedPlan`` before ``collect()``, which reuses it.
* ``codegen`` - JVM-global deltas of the count of ``CodegenMetrics``'
  compilation-time histogram and of ``CodeGenerator.compileTime``, exact
  because executions run one at a time.
* ``sched``, ``exec``, ``mat`` - the status store's job and last-attempt
  stage data for the execution's job group, plus the ``SQLMetric``s of the
  final adaptive plan (descending into query stages and subqueries).
* ``fetch`` - from the end of the last job to the return of ``collect()``.

Records are kept in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

# SQLMetric names summed over the final plan's operators, to the record key.
PLAN_TIMINGS = {"aggTime": "agg_s", "sortTime": "sort_s"}
BROADCAST_NODE = "BroadcastExchangeExec"
BROADCAST_METRICS = {"dataSize": "broadcast_bytes", "buildTime": "broadcast_build_s"}

RECORD_KEYS = (
    "id", "workload", "entry", "rep", "wall_s", "spans", "coverage",
    "queries.build_s", "queries.py4j_calls", "catalog.calls", "catalog.s",
    "catalyst.parse_ms", "catalyst.analysis_ms", "catalyst.optimize_ms",
    "catalyst.plan_ms", "catalyst.top_rules", "codegen.compiles",
    "codegen.compile_s", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.delay_s", "exec.job_span_s", "exec.task_s", "exec.task_cpu_s",
    "exec.failed_tasks", "exec.core_util", "exec.scan_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_fetch_wait_s", "exec.spill_bytes",
    "exec.broadcast_bytes", "exec.broadcast_build_s", "exec.agg_s", "exec.sort_s",
    "exec.peak_exec_mem_bytes", "mat.jobs", "mat.s", "mat.bytes_written",
    "fetch.rows", "fetch.s", "driver.self_s",
)
SPAN_NAMES = ("build", "catalog", "mat", "catalyst", "jobs", "fetch")
_PHASES = {"parsing": "catalyst.parse_ms", "analysis": "catalyst.analysis_ms",
           "optimization": "catalyst.optimize_ms", "planning": "catalyst.plan_ms"}


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Collects one record per execution.  ``install`` patches counting
    wrappers into the catalog module and the py4j client; ``uninstall``
    restores them."""

    def __init__(self, spark, cores: int, workload: str):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.cores = cores
        self.workload = workload
        self.records: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._cg_compile = (self.jvm.org.apache.spark.metrics.source.CodegenMetrics
                            .METRIC_COMPILATION_TIME())
        self._codegen_gen = (self.jvm.org.apache.spark.sql.catalyst.expressions
                             .codegen.CodeGenerator)
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    # -- counting wrappers -------------------------------------------------
    def _state(self):
        st = self._local
        if not hasattr(st, "calls"):
            st.calls = None  # None: not inside a traced build
            st.depth = 0
        return st

    def install(self) -> None:
        import datafusion_spark.catalog as catalog

        originals = {
            name: fn for name, fn in vars(catalog).items()
            if callable(fn) and not name.startswith("_")
            and getattr(fn, "__module__", None) == catalog.__name__
            and not isinstance(fn, type)
        }
        # Modules that imported a function by name hold their own reference:
        # patch every datafusion_spark module's reference, not just catalog's.
        wrapped = {id(fn): (fn, self._wrap_catalog(fn)) for fn in originals.values()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("datafusion_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                fn, wrapper = wrapped.get(id(val), (None, None))
                if fn is val:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            st = self._state()
            if st.calls is not None:
                st.calls["py4j"] += 1
            return send(*args, **kwargs)

        self._patched.append((client, "send_command", None))
        client.send_command = counting_send

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._patched):
            if val is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, val)
        self._patched.clear()

    def _wrap_catalog(self, fn):
        def wrapper(*args, **kwargs):
            st = self._state()
            if st.calls is None or st.depth:
                return fn(*args, **kwargs)
            st.depth += 1
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                st.depth -= 1
                st.calls["catalog"] += 1
                st.catalog_spans.append((t0, time.time()))

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        return wrapper

    # -- one execution -----------------------------------------------------
    def execute(self, build, group: str, entry: str, rep: int):
        """Build, plan and collect one execution under job group ``group``;
        returns ``(df, rows, latency_s)``.  The latency runs from setting
        the group to the return of ``collect()``; reading the status store
        and the plan afterwards is left out, like the output check."""
        start = time.perf_counter()
        self.sc.setJobGroup(group, group)
        st = self._state()
        st.calls = Counter()
        st.catalog_spans = []
        compiles0 = self._cg_compile.getCount()
        compile_ns0 = self._codegen_gen.compileTime()
        t0 = time.time()
        try:
            df = build()
        finally:
            calls, catalog_spans = st.calls, st.catalog_spans
            st.calls = None
        t1 = time.time()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.time()
        rows = df.collect()
        t3 = time.time()
        latency_s = time.perf_counter() - start
        self._bus.waitUntilEmpty()
        compiles = self._cg_compile.getCount() - compiles0
        compile_s = (self._codegen_gen.compileTime() - compile_ns0) / 1e9
        rec = self._record(group, entry, rep, qe, (t0, t1, t2, t3), calls,
                           catalog_spans, len(rows))
        rec["codegen.compiles"] = int(compiles)
        rec["codegen.compile_s"] = compile_s
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.records.append(rec)
        return df, rows, latency_s

    def _record(self, group, entry, rep, qe, times, calls, catalog_spans, n_rows):
        t0, t1, t2, t3 = times
        rec: dict = {"id": group, "workload": self.workload, "entry": entry,
                     "rep": rep, "wall_s": t3 - t0}
        # catalyst
        phases = self._conv.asJava(qe.tracker().phases())
        for phase, key in _PHASES.items():
            rec[key] = float(phases[phase].durationMs()) if phase in phases else 0.0
        top = self._conv.asJava(qe.tracker().topRulesByTime(3))
        rec["catalyst.top_rules"] = [
            [t._1(), t._2().totalTimeNs() / 1e6] for t in top]
        # jobs and stages
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            stages = [self._stage(int(s)) for s in self._conv.asJava(jd.stageIds())]
            jobs.append((start, end if end is not None else t3,
                         [s for s in stages if s is not None]))
        mat = [j for j in jobs if j[0] is not None and j[0] < t1]
        run = [j for j in jobs if j not in mat]
        all_stages = [s for j in jobs for s in j[2]]
        rec["sched.jobs"] = len(jobs)
        rec["sched.stages"] = len(all_stages)
        rec["sched.tasks"] = sum(s["tasks"] for s in all_stages)
        rec["sched.delay_s"] = sum(s["delay_s"] for s in all_stages)
        span = union_length([(a, b) for a, b, _ in jobs if a is not None])
        rec["exec.job_span_s"] = span
        for key, field in (("exec.task_s", "run_s"), ("exec.task_cpu_s", "cpu_s"),
                           ("exec.failed_tasks", "failed"),
                           ("exec.scan_bytes", "input_bytes"),
                           ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                           ("exec.shuffle_fetch_wait_s", "fetch_wait_s"),
                           ("exec.spill_bytes", "spill_bytes")):
            rec[key] = sum(s[field] for s in all_stages)
        rec["exec.peak_exec_mem_bytes"] = max(
            (s["peak_mem"] for s in all_stages), default=0)
        rec["exec.core_util"] = (
            rec["exec.task_s"] / (self.cores * span) if span > 0 else 0.0)
        rec.update(self._plan_metrics(qe))
        mat_stages = [s for j in mat for s in j[2]]
        rec["mat.jobs"] = len(mat)
        mat_span = union_length([(a, b) for a, b, _ in mat])
        rec["mat.s"] = mat_span
        rec["mat.bytes_written"] = sum(s["output_bytes"] for s in mat_stages)
        # spans
        catalog_s = sum(b - a for a, b in catalog_spans)
        last_end = max([b for _, b, _ in run] + [t2])
        last_end = min(last_end, t3)
        # The build's children may overlap (a catalog call can run a job).
        children_s = union_length(catalog_spans + [(a, b) for a, b, _ in mat])
        rec["queries.build_s"] = max(0.0, (t1 - t0) - children_s)
        rec["queries.py4j_calls"] = calls["py4j"]
        rec["catalog.calls"] = calls["catalog"]
        rec["catalog.s"] = catalog_s
        rec["fetch.rows"] = n_rows
        rec["fetch.s"] = t3 - last_end
        rec["driver.self_s"] = max(0.0, rec["wall_s"] - span)
        rec["spans"] = (
            [{"name": "build", "parent": group, "start": t0, "end": t1}]
            + [{"name": "catalog", "parent": "build", "start": a, "end": b}
               for a, b in catalog_spans]
            + [{"name": "mat", "parent": "build", "start": a, "end": b}
               for a, b, _ in mat]
            + [{"name": "catalyst", "parent": group, "start": t1, "end": t2},
               {"name": "jobs", "parent": group, "start": t2, "end": last_end},
               {"name": "fetch", "parent": group, "start": last_end, "end": t3}])
        self_times = (rec["queries.build_s"] + children_s + (t2 - t1)
                      + (last_end - t2) + rec["fetch.s"])
        rec["coverage"] = self_times / rec["wall_s"] if rec["wall_s"] > 0 else 1.0
        return rec

    def _stage(self, stage_id: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # a skipped stage has no attempt
            return None
        sub, first = _opt_ms(sd.submissionTime()), _opt_ms(sd.firstTaskLaunchedTime())
        return {
            "tasks": sd.numTasks(),
            "failed": sd.numFailedTasks(),
            "delay_s": (first - sub) if sub is not None and first is not None else 0.0,
            "run_s": sd.executorRunTime() / 1000.0,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": sd.inputBytes(),
            "output_bytes": sd.outputBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "fetch_wait_s": sd.shuffleFetchWaitTime() / 1000.0,
            "spill_bytes": sd.diskBytesSpilled(),
            "peak_mem": sd.peakExecutionMemory(),
        }

    def _plan_metrics(self, qe) -> dict:
        out = {f"exec.{k}": 0.0
               for k in (*PLAN_TIMINGS.values(), *BROADCAST_METRICS.values())}
        seen: set[int] = set()
        stack = [qe.executedPlan()]
        while stack:
            node = stack.pop()
            if node.id() in seen:
                continue
            seen.add(node.id())
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if cls == "ReusedExchangeExec":
                continue  # its metrics belong to the exchange it reuses
            metrics = self._conv.asJava(node.metrics())
            wanted = dict(PLAN_TIMINGS)
            if cls == BROADCAST_NODE:
                wanted.update(BROADCAST_METRICS)
            for name, key in wanted.items():
                if name in metrics:
                    m = metrics[name]
                    kind = m.metricType()
                    scale = {"timing": 1e3, "nsTiming": 1e9}.get(kind, 1.0)
                    out[f"exec.{key}"] += m.value() / scale
            stack.extend(self._conv.asJava(node.children()))
            stack.extend(self._conv.asJava(node.subqueries()))
        return out
