"""One workload in one process: set up, warm up, run the timed closed loop,
check every timed execution's output, and write the results as JSON.

Started by ``run.py`` with the run's private environment; not meant to be
run by hand.  ``PERFBENCH_T0`` carries the epoch time at which ``run.py``
started this process, so ``setup_s`` counts the interpreter and JVM start.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import time
import traceback

from perfbench import stats
from perfbench.data import SF_DIRS
from perfbench.fingerprint import fingerprint, mismatch
from perfbench.workloads import WORKLOADS, load_fingerprints


class Execution:
    __slots__ = ("entry", "latency_s", "ok", "error", "traced")

    def __init__(self, entry: str, traced: bool):
        self.entry, self.traced = entry, traced
        self.latency_s = 0.0
        self.ok = False
        self.error: str | None = None


class Runner:
    """One client in a closed loop: it sends the next execution only after
    the previous one returned and was checked."""

    def __init__(self, spark, workload, seed: int, tracer=None):
        from datafusion_spark.queries import QUERIES

        self.spark = spark
        self.wl = workload
        self.seed = seed
        self.sf_dir = SF_DIRS[workload.sf]
        self.queries = QUERIES
        self.want = load_fingerprints()[workload.sf]
        self.tracer = tracer
        self.executions: list[Execution] = []
        self.suites: list[float] = []  # per untraced pass: summed latency
        self.warm_s: dict[str, float] = {}
        self.check_s = 0.0

    def order(self, pass_no: int) -> list[str]:
        """The seeded entry order of one pass (negative passes warm up)."""
        names = list(self.wl.entries)
        random.Random(f"{self.seed}:{pass_no}").shuffle(names)
        return names

    def traced(self, name: str, pass_no: int) -> bool:
        """A traced run traces each entry in every other pass, half of the
        entries starting with pass 0, so each entry has traced and untraced
        executions to compare."""
        return (self.tracer is not None
                and (pass_no + self.wl.entries.index(name)) % 2 == 0)

    def run_one(self, name: str, pass_no: int) -> Execution:
        """One timed execution, then its output check outside the timing."""
        ex = Execution(name, self.traced(name, pass_no))
        build = lambda: self.queries[name](self.spark, self.sf_dir)  # noqa: E731
        try:
            if ex.traced:
                group = f"{self.wl.name}:{name}:{pass_no}"
                df, rows, ex.latency_s = self.tracer.execute(build, group, name, pass_no)
            else:
                t0 = time.perf_counter()
                df = build()
                rows = df.collect()
                ex.latency_s = time.perf_counter() - t0
            t1 = time.perf_counter()
            why = mismatch(fingerprint(df.columns, rows), self.want[name])
            self.check_s += time.perf_counter() - t1
        except Exception as e:  # noqa: BLE001 - a failed execution is counted, not fatal
            ex.error = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            return ex
        ex.ok = why is None
        ex.error = why
        return ex

    def warm_up(self) -> None:
        """Unchecked passes over the entries, one per warm-up dataset: the
        first pays the JVM's, codegen's and the scans' cold costs on sf0.1,
        the second lets the JIT settle on the workload's own data."""
        for p, sf in enumerate(self.wl.warm):
            sf_dir = SF_DIRS[sf]
            for name in self.order(-1 - p):
                t0 = time.perf_counter()
                self.queries[name](self.spark, sf_dir).collect()
                self.warm_s[f"{name}.{p}"] = time.perf_counter() - t0

    def timed(self, seconds: float) -> float:
        """Whole passes until ``seconds`` have passed (the pass under way
        finishes; a traced run makes at least two); returns the timed
        region's wall time without the output checks."""
        start = time.perf_counter()
        min_passes = 2 if self.tracer is not None else 1
        pass_no = 0
        while pass_no < min_passes or time.perf_counter() - start < seconds:
            suite = 0.0
            for name in self.order(pass_no):
                ex = self.run_one(name, pass_no)
                self.executions.append(ex)
                suite += ex.latency_s
            if self.tracer is None:
                self.suites.append(suite)
            pass_no += 1
        return time.perf_counter() - start - self.check_s


def summarize(runner: Runner, region_s: float, setup_s: float, session_s: float) -> dict:
    exs = runner.executions
    ok = [e for e in exs if e.ok]
    failed = len(exs) - len(ok)
    plain = [e.latency_s for e in ok if not e.traced]
    tail_v, tail_p, tail_n = stats.tail(plain) if plain else (float("nan"), 0.0, 0)
    return {
        "attempted": len(exs),
        "failed": failed,
        "failures": sorted({f"{e.entry}: {e.error}" for e in exs if not e.ok}),
        "end_to_end": {
            "setup_s": setup_s,
            "suite_s": stats.median(runner.suites) if runner.suites else float("nan"),
            "queries_per_min": stats.per_minute(len(ok), region_s),
        },
        "detail": {
            "query_p50_s": stats.median(plain) if plain else float("nan"),
            "query_tail_s": tail_v,
            "session_s": session_s,
            "warm_s": runner.warm_s,
            "latency_s": {n: [round(e.latency_s, 4) for e in exs if e.entry == n]
                          for n in runner.wl.entries},
            "passes": len(runner.suites),
            "executions": len(exs),
            "region_s": region_s,
            "check_s": runner.check_s,
            "tail_percentile": tail_p,
            "tail_samples": tail_n,
            "failed_frac": stats.failed_frac(len(exs), failed),
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--records", default=None)
    args = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])
    wl = WORKLOADS[args.workload]
    result: dict = {"ok": False}
    from datafusion_spark import get_spark

    spark = get_spark("perfbench")
    session_s = time.time() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, int(os.environ["SPARK_GRAFT_CPUS"]), wl.name)
        runner = Runner(spark, wl, args.seed, tracer)
        runner.warm_up()
        # Start the timed region from a collected heap on both sides.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        setup_s = time.time() - t0
        if tracer is not None:
            tracer.install()
        try:
            region_s = runner.timed(args.seconds)
        finally:
            if tracer is not None:
                tracer.uninstall()
        result = summarize(runner, region_s, setup_s, session_s)
        if tracer is not None:
            from perfbench.layers import layer_metrics

            result["per_layer"] = layer_metrics(runner, tracer.records)
            if args.records:
                with open(args.records, "w") as f:
                    for rec in tracer.records:
                        f.write(json.dumps(rec, separators=(",", ":")) + "\n")
        result["ok"] = True
    except Exception:  # noqa: BLE001 - reported to run.py, which exits non-zero
        result["error"] = traceback.format_exc()
    finally:
        spark.stop()
        with open(args.out, "w") as f:
            json.dump(result, f)


if __name__ == "__main__":
    main()
