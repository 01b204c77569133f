"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider

The trace-schema test starts a local SparkSession and runs two entries on
the repository's sf0.1 dataset (the one ``tools/make_scale_data.py`` reads).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import pytest

from perfbench import stats
from perfbench.fingerprint import canon, fingerprint, mismatch
from perfbench.layers import RUN_UNITS, UNITS, layer_metrics
from perfbench.trace import RECORD_KEYS, SPAN_NAMES, union_length
from perfbench.workloads import E2E_UNITS, WORKLOADS, load_fingerprints

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


# -- fingerprint -------------------------------------------------------------

def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["b", "a"], [(1, "x"), (2, "y")])
    b = fingerprint(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a["columns"] == ["a", "b"] and a["rows"] == 2


def test_fingerprint_counts_duplicate_rows():
    once = fingerprint(["a"], [(1,), (2,)])
    twice = fingerprint(["a"], [(1,), (1,), (2,)])
    assert mismatch(twice, once) == "rows 3 != 2"
    swapped = fingerprint(["a"], [(1,), (2,), (2,)])
    assert twice["rows"] == swapped["rows"]
    assert twice["hash"] != swapped["hash"]


def test_fingerprint_is_bit_exact_on_floats():
    base = fingerprint(["x"], [(0.1 + 0.2,)])
    assert base != fingerprint(["x"], [(0.3,)])
    assert fingerprint(["x"], [(-0.0,)]) != fingerprint(["x"], [(0.0,)])


def test_canon_keeps_ints_and_floats_apart_but_joins_decimal_and_float():
    assert canon(5) != canon(5.0)
    assert canon(Decimal("2.50")) == canon(2.5)
    assert canon(True) != canon(1)


def test_canon_null_likes_and_timestamps():
    assert canon(None) == canon(float("nan"))
    naive = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    aware = naive.replace(tzinfo=dt.timezone.utc).astimezone(
        dt.timezone(dt.timedelta(hours=2)))
    assert canon(naive) == canon(aware)
    assert canon(dt.date(2024, 1, 2)) == "d2024-01-02"
    assert canon(bytearray(b"\x01\xff")) == canon(b"\x01\xff") == "x01ff"


def test_mismatch_reports_columns_first():
    want = fingerprint(["a"], [(1,)])
    assert mismatch(fingerprint(["b"], [(1,)]), want).startswith("columns")
    assert mismatch(fingerprint(["a"], [(2,)]), want).startswith("value hash")
    assert mismatch(fingerprint(["a"], [(1,)]), want) is None


def test_committed_fingerprints_cover_every_workload_entry():
    fps = load_fingerprints()
    for wl in WORKLOADS.values():
        for name in wl.entries:
            fp = fps[wl.sf][name]
            assert fp["rows"] >= 0 and len(fp["hash"]) == 16 and fp["columns"]


# -- arithmetic ---------------------------------------------------------------

def test_quantile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.quantile(xs, 0.5) == 2.5
    assert stats.quantile(xs, 0.0) == 1.0 and stats.quantile(xs, 1.0) == 4.0
    assert stats.quantile(xs, 0.25) == pytest.approx(1.75)
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, n = stats.tail(xs)
    assert (pct, n) == (75.0, 40)
    assert sum(1 for x in xs if x > value) == 10
    value, pct, n = stats.tail(xs[:8])  # too few for any tail: the median
    assert (value, pct, n) == (4.5, 50.0, 8)


def test_failed_frac_and_rate():
    assert stats.failed_frac(12, 1) == pytest.approx(1 / 12)
    assert stats.failed_frac(5, 0) == 0.0
    for bad in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.failed_frac(*bad)
    assert stats.per_minute(30, 15.0) == 120.0


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0


# -- BENCHMARK.json agrees with the code ---------------------------------------

def test_benchmark_json_names_match_the_code():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {**UNITS, **RUN_UNITS}


# -- traced-record schema on two entries ----------------------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from datafusion_spark import get_spark

    s = get_spark("perfbench_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_trace_record_schema_on_two_entries(spark):
    from datafusion_spark.queries import QUERIES
    from perfbench.data import scale_tool
    from perfbench.trace import Tracer

    sf = scale_tool().SRC
    tracer = Tracer(spark, 2, "test")
    tracer.install()
    try:
        for name in ("tpch_q1", "tpch_official_q10"):
            df, rows, latency = tracer.execute(lambda n=name: QUERIES[n](spark, sf),
                                               f"test:{name}:0", name, 0)
            assert len(rows) > 0 and df.columns and latency > 0
    finally:
        tracer.uninstall()
    assert len(tracer.records) == 2
    for rec in tracer.records:
        assert set(rec) == set(RECORD_KEYS)
        assert rec["fetch.rows"] > 0 and rec["sched.jobs"] >= 1
        assert rec["sched.tasks"] >= rec["sched.stages"] >= 1
        assert rec["exec.task_s"] > 0 and rec["exec.scan_bytes"] > 0
        assert 0.9 <= rec["coverage"] <= 1.001
        assert {s["name"] for s in rec["spans"]} <= set(SPAN_NAMES)
        assert all(s["end"] >= s["start"] for s in rec["spans"])
        assert len(rec["catalyst.top_rules"]) == 3
    sql_rec = tracer.records[1]  # SQL text over the catalog's temp views
    assert sql_rec["catalyst.parse_ms"] >= 0 and sql_rec["catalog.calls"] >= 1

    from types import SimpleNamespace

    runner = SimpleNamespace(
        wl=SimpleNamespace(entries=("a", "b", "c", "d")), tracer=tracer,
        executions=[
            SimpleNamespace(entry="a", ok=True, traced=True, latency_s=1.0),
            SimpleNamespace(entry="a", ok=True, traced=False, latency_s=0.9),
            SimpleNamespace(entry="b", ok=False, traced=False, latency_s=0.5)])
    layers = layer_metrics(runner, tracer.records)
    assert set(layers) == set(UNITS)
    assert layers["trace.records"] == 2 and layers["check.failed_frac"] == pytest.approx(1 / 3)
    # one paired entry, 0.1 s apart, scaled to a four-entry pass
    assert layers["trace.overhead_s"] == pytest.approx(0.4)
    # per-pass sums: two records scaled to a four-entry pass
    assert layers["fetch.rows"] == 2 * sum(r["fetch.rows"] for r in tracer.records)
