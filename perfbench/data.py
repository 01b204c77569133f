"""The benchmark's input datasets, kept in the checkout under ``.perfbench/``.

* ``perfbench_sf0.1`` is a byte copy of the repository's sf0.1 dataset,
  the source that ``tools/make_scale_data.py`` scales.
* ``perfbench_sf1`` is that copy scaled 10x by ``tools/make_scale_data.py``'s
  own ``scale_table``, reading the copy.

Both basenames are the benchmark's own: the program keys its derived
artifacts (``spark-warehouse/derived_*/<basename>``) by the dataset's
basename, so no other tool can hand the benchmark a stale artifact.

The build also runs every workload entry once on its dataset, so that the
program's derived artifacts (BM25 index, TPC-H overlays) exist before the
first timed run.  Every run then starts from one stated state: datasets and
derived artifacts present, nothing else.

Each step writes to a temporary name and renames (or marks) when done, so
an interrupted build leaves nothing a later run would mistake for its output.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data")
SF_DIRS = {
    "sf0.1": os.path.join(DATA, "perfbench_sf0.1"),
    "sf1": os.path.join(DATA, "perfbench_sf1"),
}
ARTIFACTS_DONE = os.path.join(DATA, "artifacts.done")
SF1_REPLICAS = 10


def scale_tool():
    """``tools/make_scale_data.py`` as a module (``tools`` is no package)."""
    path = os.path.join(ROOT, "tools", "make_scale_data.py")
    spec = importlib.util.spec_from_file_location("make_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def table_names() -> list[str]:
    from datafusion_spark.catalog import TABLES

    return list(TABLES)


def _copy_sf01(dest: str) -> None:
    src = scale_tool().SRC
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for t in table_names():
        name = f"{t}.parquet"
        if os.path.isdir(os.path.join(src, name)):
            shutil.copytree(os.path.join(src, name), os.path.join(tmp, name))
        else:
            shutil.copyfile(os.path.join(src, name), os.path.join(tmp, name))
    os.replace(tmp, dest)


def _child(*args: str) -> None:
    """Run ``python -m perfbench.data ARGS`` with its own SparkSession (the
    caller's environment picks cores and scratch dirs)."""
    subprocess.run([sys.executable, "-m", "perfbench.data", *args],
                   cwd=ROOT, check=True, timeout=600, stdout=subprocess.DEVNULL)


def prepare() -> None:
    """Build whatever is missing; a no-op once everything exists."""
    os.makedirs(DATA, exist_ok=True)
    if not os.path.isdir(SF_DIRS["sf0.1"]):
        _copy_sf01(SF_DIRS["sf0.1"])
    if not os.path.isdir(SF_DIRS["sf1"]):
        tmp = SF_DIRS["sf1"] + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _child("--scale", SF_DIRS["sf0.1"], tmp)
        os.replace(tmp, SF_DIRS["sf1"])
    if not os.path.exists(ARTIFACTS_DONE):
        _child("--artifacts")
        with open(ARTIFACTS_DONE, "w"):
            pass


def _artifacts() -> None:
    from datafusion_spark import get_spark
    from datafusion_spark.queries import QUERIES
    from perfbench.workloads import WORKLOADS

    spark = get_spark("perfbench_artifacts")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for wl in WORKLOADS.values():
            for name in wl.entries:
                for sf in {wl.sf, *wl.warm}:
                    QUERIES[name](spark, SF_DIRS[sf]).collect()
    finally:
        spark.stop()


def _scale(src: str, out: str) -> None:
    from datafusion_spark import get_spark

    tool = scale_tool()
    tool.SRC = src
    spark = get_spark("perfbench_make_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in table_names():
            df = tool.scale_table(spark, name, SF1_REPLICAS)
            n_files = 1 if name in ("region", "nation") else SF1_REPLICAS
            df.repartition(n_files).write.mode("overwrite").parquet(
                os.path.join(out, f"{name}.parquet"))
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--scale":
        _scale(sys.argv[2], sys.argv[3])
    elif sys.argv[1:] == ["--artifacts"]:
        _artifacts()
    else:
        sys.exit("usage: python -m perfbench.data (--scale SRC OUT | --artifacts)")
