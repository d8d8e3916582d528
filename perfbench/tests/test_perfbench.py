"""Tests of the benchmark itself: seeding, expected counts and the traced
run's job attribution. Run from the repository root with

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import json
import os

import pytest

from perfbench import run
from perfbench.ledger import LAYER_METRICS, EntryTrace, Ledger, _covered_ms
from perfbench.workloads import PINNED_ROWS, SF_DIR, TARGET_ENTRIES, WORKLOADS

SF = str(run.ROOT / SF_DIR)


def test_seed_permutes_entry_order_only():
    entries = list(WORKLOADS["relational"].entries)
    a = list(itertools.islice(run.pass_orders(entries, 7), 4))
    b = list(itertools.islice(run.pass_orders(entries, 7), 4))
    c = list(itertools.islice(run.pass_orders(entries, 8), 4))
    assert a == b
    assert a != c
    for order in a + c:
        assert sorted(order) == sorted(entries)


def test_covered_ms_clips_and_merges_overlaps():
    # two overlapping jobs, one outside the window, one straddling its end
    jobs = [(10, 30), (20, 40), (200, 300), (90, 150)]
    assert _covered_ms(jobs, 0, 100) == 30 + 10
    assert _covered_ms([], 0, 100) == 0


def test_benchmark_json_declares_what_a_run_reports():
    doc = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    trace = EntryTrace(dict.fromkeys(LAYER_METRICS, 1.0))
    traced = {
        "traced": True,
        "pass_s": 1.0,
        "release_s": 0.0,
        "tmp_left_mb": 0.0,
        "entries": [{"name": n, "trace": trace} for n in TARGET_ENTRIES],
    }
    layers = run.layer_metrics([dict(traced, traced=False), traced])
    assert {(k, u) for k, (_, u) in layers.items()} == {
        (m["name"], m["unit"]) for m in doc["per_layer"]
    }


def test_every_entry_has_an_expected_count():
    names = sorted({n for w in WORKLOADS.values() for n in w.entries})
    want = run.expected_rows(names, SF)
    assert set(want) == set(names)
    assert all(n > 0 for n in want.values())
    # a pinned count is only used where no oracle SQL exists
    from mlb_win_predictor_spark.queries import QUERIES

    assert all(QUERIES[n].sql is None for n in PINNED_ROWS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    saved = dict(os.environ)
    run_dir = tmp_path_factory.mktemp("perfbench_run")
    (run_dir / "tmp").mkdir()
    session = run.start_spark(run_dir, cpus=2)
    try:
        yield session
    finally:
        run.stop_spark(session)
        os.environ.clear()
        os.environ.update(saved)


def _traced(spark, name: str):
    from mlb_win_predictor_spark.queries import QUERIES
    from mlb_win_predictor_spark.session import release_caches

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ledger = Ledger(spark, jvm_pid)
    try:
        n, trace = ledger.run(QUERIES[name].fn, spark, SF)
    finally:
        release_caches(spark)
        ledger.close()
    return n, trace


def test_fixed_shape_entry_job_count_repeats(spark):
    counts = [_traced(spark, "q1_pricing_summary")[1].metrics["spark.jobs"] for _ in range(3)]
    assert counts == [4, 4, 4]


def test_streaming_thread_jobs_are_counted(spark):
    n, trace = _traced(spark, "llm_dataset_pipeline_stream")
    assert n == PINNED_ROWS["llm_dataset_pipeline_stream"]
    caller = trace.job_groups[None]
    stream = sum(v for k, v in trace.job_groups.items() if k is not None)
    # the micro-batches run under the stream's own job group
    assert stream > 0
    assert trace.metrics["spark.jobs"] == caller + stream
    assert trace.metrics["streaming.queries"] >= 1
    assert trace.metrics["streaming.batches"] >= 1
