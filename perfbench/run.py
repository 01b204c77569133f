"""The repository's benchmark: one workload, one fresh worker process.

    python3 perfbench/run.py --workload sf01_serial --seed 1 --seconds 5 --trace 0

Prints as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Lines before it give the detail
(tail percentile and sample count, failures, pass count).

Each run:

1. builds the input datasets under ``.perfbench/data`` and the program's
   derived artifacts for them, if missing (``perfbench/data.py``), so every
   run starts from one stated state: datasets and artifacts present, no
   scratch;
2. runs ``perfbench/worker.py`` in a child process with
   ``SPARK_GRAFT_CPUS`` set to the host's core count and a private run
   directory for ``TMPDIR``, ``SPARK_LOCAL_DIRS``, ``java.io.tmpdir`` and
   the working directory, sampling the peak RSS of the child and its JVM;
3. measures what the program left in the private scratch dirs, then
   deletes the run directory whatever happened.

A traced run writes one JSON record per execution to
``.perfbench/traces/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The program and the files the benchmark needs from it; without them the
# benchmark refuses to run.
REQUIRED = ("datafusion_spark/__init__.py", "datafusion_spark/queries/__init__.py",
            "tools/make_scale_data.py")
WORKER_TIMEOUT_S = 165
# The program's default Spark driver heap is 8g; half of it holds every workload
# here and leaves room on a shared 15 GB host.
DRIVER_MEM = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait until none of ``pids`` is alive (a zombie counts as gone)."""
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(pid)
        if not alive:
            return
        time.sleep(0.1)
    raise TimeoutError(f"processes {sorted(pids)} outlived the worker")


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total / 1e6


def run_worker(args, run_dir: str, records: str | None) -> tuple[dict, float]:
    """Run the worker; returns its result and the peak RSS (MB) of its
    process tree, the sum over processes of each one's high-water mark."""
    tmp, local, cwd = (os.path.join(run_dir, d) for d in ("tmp", "local", "cwd"))
    for d in (tmp, local, cwd):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SF_DIR", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",  # string-set iteration order is the same every run
        "PERFBENCH_T0": repr(time.time()),
    })
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out]
    if records:
        cmd += ["--records", records]
    log = os.path.join(run_dir, "worker.log")
    with open(log, "wb") as log_f:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log_f, stderr=log_f,
                                start_new_session=True)
    hwm: dict[int, int] = {}
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    try:
        while proc.poll() is None:
            for pid in tree_pids(proc.pid):
                hwm[pid] = max(hwm.get(pid, 0), peak_rss_kb(pid))
            if time.monotonic() > deadline:
                raise TimeoutError(f"worker ran past {WORKER_TIMEOUT_S} s")
            time.sleep(0.2)
    finally:
        # The JVM shares the worker's session: stop both and wait for them.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_gone(set(hwm) - {proc.pid})
    if not os.path.exists(out):
        with open(log, "rb") as f:
            tail = f.read().decode(errors="replace")[-2000:]
        raise RuntimeError(f"worker exited {proc.returncode} without a result\n{tail}")
    with open(out) as f:
        result = json.load(f)
    if not result.get("ok"):
        raise RuntimeError(f"worker failed:\n{result.get('error')}")
    return result, sum(hwm.values()) / 1024.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not here (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    from perfbench import data
    from perfbench.layers import RUN_UNITS, UNITS
    from perfbench.workloads import E2E_UNITS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    runs = os.path.join(data.WORK, "runs")
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    records = None
    if args.trace:
        os.makedirs(os.path.join(data.WORK, "traces"), exist_ok=True)
        records = os.path.join(data.WORK, "traces", f"{args.workload}-{args.seed}.jsonl")
    try:
        os.makedirs(run_dir)
        prep = os.path.join(run_dir, "prepare")
        os.makedirs(prep)
        os.environ.update({"SPARK_GRAFT_CPUS": str(cores()),
                           "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM, "TMPDIR": prep,
                           "SPARK_LOCAL_DIRS": prep, "TZ": "UTC"})
        data.prepare()
        shutil.rmtree(prep)
        result, rss_mb = run_worker(args, run_dir, records)
        scratch_mb = dir_mb(os.path.join(run_dir, "tmp")) + dir_mb(os.path.join(run_dir, "local"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail = result["detail"]
    detail["peak_rss_mb"] = rss_mb
    detail["scratch_left_mb"] = scratch_mb
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail,
                      "failures": result["failures"]}))
    if args.trace:
        values = {**result["per_layer"], "run.peak_rss_mb": rss_mb,
                  "run.scratch_left_mb": scratch_mb}
        units = {**UNITS, **RUN_UNITS}
    else:
        values = result["end_to_end"]
        units = E2E_UNITS
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        print(f"perfbench: no value for {', '.join(bad)}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
