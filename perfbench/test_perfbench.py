"""Tests of the benchmark's own checks and trace readers (no Spark).

Run: ``python3 -m pytest perfbench -q``
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks, layers  # noqa: E402


# --- crawl oracle ------------------------------------------------------------


@pytest.fixture(scope="module")
def sim():
    from scalpel_spark.crawl.simulator import simulate_crawl
    from scalpel_spark.datagen.world import WorldParams, generate_world

    w = generate_world(WorldParams(seed=5, n_hosts=4, n_pages=60, n_images=10))
    pages = {p["url"]: p for p in w["pages"]}
    robots = {r["host"]: r for r in w["robots"]}
    res = simulate_crawl(pages, w["seeds"], robots, max_rounds=4)
    assert len(res.fetch_log) > 5 and res.images
    return res


def _engine_view(sim):
    """What a correct engine returns, in arbitrary row order."""
    log = list(reversed(checks.sim_fetch_log(sim)))
    seen = list(sim.seen.items())
    images = list(reversed(sim.images))
    return log, seen, images


def test_crawl_check_accepts_exact_result(sim):
    assert checks.crawl_mismatches(sim, *_engine_view(sim)) == []


def test_crawl_check_rejects_reordered_fetch_log(sim):
    log, seen, images = _engine_view(sim)
    log = sorted(log)
    a, b = log[0], log[1]
    log[0], log[1] = (a[0],) + b[1:], (b[0],) + a[1:]
    assert any("fetch log" in p for p in checks.crawl_mismatches(sim, log, seen, images))


def test_crawl_check_rejects_wrong_round(sim):
    log, seen, images = _engine_view(sim)
    r = log[0]
    log[0] = (r[0], r[1] + 1) + r[2:]
    assert any("fetch log" in p for p in checks.crawl_mismatches(sim, log, seen, images))


def test_crawl_check_rejects_missing_seen_url(sim):
    log, seen, images = _engine_view(sim)
    assert any("seen set" in p for p in checks.crawl_mismatches(sim, log, seen[1:], images))


def test_crawl_check_rejects_wrong_caption(sim):
    log, seen, images = _engine_view(sim)
    page, iid, src, cap = images[0]
    images[0] = (page, iid, src, cap + "x")
    assert any("images" in p for p in checks.crawl_mismatches(sim, log, seen, images))


# --- catalog oracle ----------------------------------------------------------


def _oracle():
    want = pd.DataFrame({"id_a": [1, 2, 3], "id_b": [4, 5, 6], "cos_i4": [3600, 9000, 5000]})
    return list(want.columns), checks.norm_rows(want)


def test_catalog_check_is_order_insensitive():
    got = pd.DataFrame({"cos_i4": [5000, 3600, 9000], "id_b": [6, 4, 5], "id_a": [3, 1, 2]})
    assert checks.catalog_mismatch("row", got, *_oracle()) is None


def test_catalog_check_survives_a_json_round_trip():
    cols, rows = json.loads(json.dumps(_oracle()))
    got = pd.DataFrame({"id_a": [1, 2, 3], "id_b": [4, 5, 6], "cos_i4": [3600, 9000, 5000]})
    assert checks.catalog_mismatch("row", got, cols, rows) is None


@pytest.mark.parametrize(
    "got",
    [
        pd.DataFrame({"id_a": [1, 2, 3], "id_b": [4, 5, 6], "cos_i4": [3600, 9001, 5000]}),
        pd.DataFrame({"id_a": [1, 2], "id_b": [4, 5], "cos_i4": [3600, 9000]}),
        pd.DataFrame({"id_a": [1, 2, 3], "id_b": [4, 5, 6], "cos": [3600, 9000, 5000]}),
        pd.DataFrame({"id_a": [1, 2, 3], "id_b": [4, 5, None], "cos_i4": [3600, 9000, 5000]}),
    ],
    ids=["value", "missing_row", "column", "null"],
)
def test_catalog_check_rejects_perturbed_result(got):
    assert checks.catalog_mismatch("row", got, *_oracle()) is not None


# --- trace readers -----------------------------------------------------------


def test_union_of_spans():
    assert layers._union_s([(0, 1000), (500, 1500), (3000, 4000)]) == 2.5
    assert layers._union_s([]) == 0.0


_PLAN = (
    "== Physical Plan ==\n* Project (3)\n\n"
    "(4) Execute InsertIntoHadoopFsRelationCommand\n"
    "Input: []\n"
    "Arguments: file:/x/rounds/r00001/{table}, false, Parquet, [path=/x]\n"
)


def _events():
    """Two rounds stamped at t=10 s, 20 s, 30 s (epoch ms below)."""
    ev = []

    def job(j, s, e):
        ev.append({"Event": "SparkListenerJobStart", "Job ID": j, "Submission Time": s})
        ev.append({"Event": "SparkListenerJobEnd", "Job ID": j, "Completion Time": e})

    def write(x, table, s, e):
        ev.append({"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                   "executionId": x, "time": s,
                   "physicalPlanDescription": _PLAN.format(table=table)})
        ev.append({"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
                   "executionId": x, "time": e})

    job(0, 11_000, 14_000)
    job(1, 15_000, 17_000)
    write(0, "round_data", 11_000, 14_000)
    write(1, "frontier_delta", 15_000, 17_000)
    job(2, 21_000, 26_000)
    job(3, 27_000, 28_000)
    job(4, 27_500, 29_000)
    write(2, "round_data", 21_000, 26_000)
    write(3, "frontier_delta", 27_000, 29_000)
    ev.append({
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": 21_000, "Failed": False, "Accumulables": [
            {"ID": 7, "Name": "data sent to Python workers", "Update": "100"},
            {"ID": 8, "Name": "time to run Python workers", "Update": "1500"},
        ]},
        "Task End Reason": {"Reason": "Success"},
        "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 10**9,
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 6},
                         "Input Metrics": {"Bytes Read": 7},
                         "Output Metrics": {"Bytes Written": 8},
                         "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0},
    })
    return ev


def test_engine_phases_split_rounds_and_actions():
    got = layers.engine_phases(_events(), [[10.0, 20.0, 30.0]])
    assert got["crawl.engine.jobs_per_round"][0] == 2.5
    assert got["crawl.engine.round_data_s"][0] == 4.0  # median of 3 s and 5 s
    assert got["crawl.engine.frontier_delta_s"][0] == 2.0
    assert got["crawl.engine.compact_s"][0] == 0.0
    # gaps: round 1 = 10 - 5 = 5 s, round 2 = 10 - 7 = 3 s
    assert got["crawl.engine.gap_s"][0] == 4.0


def test_event_log_metrics_window_and_units():
    got = layers.event_log_metrics(_events(), 20.0, 30.0, n_passes=2)
    assert got["spark.jobs"][0] == 1.5
    assert got["spark.tasks"][0] == 0.5
    assert got["spark.executor_run_s"][0] == 1.0
    assert got["spark.shuffle_read_bytes"][0] == 2.5
    assert got["spark.arrow.bytes_to_python"][0] == 50
    assert got["spark.python.run_s"][0] == 0.75  # 'timing' metrics are ms
    assert got["spark.driver_gap_s"][0] == (10 - 7) / 2


def test_criterion_shape_query_counts_every_nested_tag():
    from scalpel_spark import chroots, pure, scrape_html, tag

    assert scrape_html(layers.nested_html(50), chroots(tag("tag"), pure(1)).map(sum)) == 50


# --- BENCHMARK.json ----------------------------------------------------------


def test_benchmark_json_matches_the_code():
    from perfbench import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
