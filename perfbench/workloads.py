"""The benchmark's workloads and end-to-end metric units.

Every workload is one client in a closed loop: it sends its next execution
only after the previous one returned.  The seed shuffles the entry order of
each pass (and of each warm-up pass); the program sees only the entries and
their data.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")

E2E_UNITS = {
    "setup_s": "s",
    "suite_s": "s",
    "queries_per_min": "1/min",
}


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # key of perfbench.data.SF_DIRS
    entries: tuple[str, ...]
    warm: tuple[str, ...]  # dataset of each warm-up pass


# Fixed-cost-dominated at sf0.1, one entry per program module family:
# DataFrame TPC-H, SQL-text TPC-H over the catalog's temp views, ClickBench
# on events behind the two-level-distinct guard, text (derived BM25 index),
# similarity, a window with a 100k-row fetch, a TPC-DS text entry that
# materializes scratch, and a top-k whose cost is almost all fixed.
SF01_ENTRIES = (
    "tpch_q1", "tpch_official_q10", "cb_overview_counts", "text_bm25_index_compact",
    "similarity_cosine_topk", "h2o_window_global_ordered", "tpcds_q4",
    "sort_pushdown_topk_desc",
)

# Execution-dominated at sf1: a filtered 6M-row scan and aggregate, a
# three-table join with a top-k, a six-table join with exchanges, and a wide
# aggregate over events.
SF1_ENTRIES = ("tpch_q6", "tpch_q3", "tpch_q9", "cb_wide_aggregate")

WORKLOADS = {
    w.name: w for w in (
        Workload("sf01_serial", "sf0.1", SF01_ENTRIES, ("sf0.1", "sf0.1")),
        Workload("sf1_heavy", "sf1", SF1_ENTRIES, ("sf0.1", "sf1")),
    )
}

# Entries fingerprinted and checked by make_fingerprints.py beyond the
# workloads.  Both fail the output check at sf1 (float sums not bit-exact
# against DuckDB: tpcds_q14 sum_sales, tpch_q1 sum_charge), known program
# defects kept visible there; a workload holds no entry that fails.
CANDIDATES = {"sf1": ("tpcds_q14", "tpch_q1")}


def load_fingerprints() -> dict[str, dict[str, dict]]:
    with open(FINGERPRINTS) as f:
        return json.load(f)
