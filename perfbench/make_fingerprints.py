"""Regenerate ``perfbench/fingerprints.json`` from the DuckDB oracle.

For every entry of every workload, at the workload's scale factor, this runs
``ORACLES[name]`` in DuckDB over the benchmark's own copy of the dataset and
records the result's fingerprint (``perfbench/fingerprint.py``).  DuckDB
reads a Spark-written table directory through ``<table>.parquet/*.parquet``.

    python3 -m perfbench.make_fingerprints            # write the file
    python3 -m perfbench.make_fingerprints --check    # also run Spark, report

``--check`` runs each entry once in Spark and prints ``ok`` or ``FAIL`` with
the mismatch, the same check the benchmark applies to every timed execution.
Run it from the repository root after one benchmark run has built the
datasets under ``.perfbench/data``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb

from perfbench.data import SF_DIRS, table_names
from perfbench.fingerprint import fingerprint, mismatch
from perfbench.workloads import CANDIDATES, FINGERPRINTS, WORKLOADS


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in table_names():
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_fingerprint(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return fingerprint(cols, cur.fetchall())


def entries_by_sf() -> dict[str, list[str]]:
    out: dict[str, set[str]] = {}
    for wl in WORKLOADS.values():
        out.setdefault(wl.sf, set()).update(wl.entries)
    for sf, names in CANDIDATES.items():
        out.setdefault(sf, set()).update(names)
    return {sf: sorted(names) for sf, names in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    from datafusion_spark.queries import ORACLES

    result: dict[str, dict[str, dict]] = {}
    for sf, names in entries_by_sf().items():
        con = duck_connection(SF_DIRS[sf])
        result[sf] = {n: oracle_fingerprint(con, ORACLES[n]) for n in names}
        con.close()
        print(f"{sf}: {len(names)} fingerprints", flush=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    if not args.check:
        return 0
    from datafusion_spark import get_spark
    from datafusion_spark.queries import QUERIES

    spark = get_spark("perfbench_fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    try:
        for sf, names in entries_by_sf().items():
            for n in names:
                rows = QUERIES[n](spark, SF_DIRS[sf]).collect()
                cols = list(rows[0].__fields__) if rows else result[sf][n]["columns"]
                why = mismatch(fingerprint(cols, rows), result[sf][n])
                bad += why is not None
                print(f"{sf} {n}: {'ok' if why is None else 'FAIL ' + why}", flush=True)
    finally:
        spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
