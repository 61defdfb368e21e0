"""Tests of the benchmark's own logic. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

import gen
import layers
from spans import Span, Tracer, covered, self_times
from stats import read_event_log, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_self_time_subtracts_children_covered_interval():
    spans = [
        Span("tick", 0.0, 10.0, None, "t"),
        Span("listing", 1.0, 4.0, 0, "t"),
        Span("materialize:sync.diff", 5.0, 7.0, 0, "t"),
        Span("inner", 5.5, 6.0, 2, "t"),
        # a child overlapping its sibling counts once
        Span("overlap", 3.0, 4.5, 0, "t"),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.5 - 2.0)
    assert selfs[2] == pytest.approx(1.5)
    assert selfs[1] == pytest.approx(3.0)
    assert covered([(1, 4), (3, 4.5), (5, 7)]) == pytest.approx(5.5)


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(1, 201)]  # 200 samples
    pct, value = tail(samples)
    assert pct == pytest.approx(95.0)
    assert sum(s > value for s in samples) == 10
    pct, value = tail(list(reversed(samples[:11])))
    assert value == 1.0 and sum(s > value for s in samples[:11]) == 10
    with pytest.raises(ValueError):
        tail(samples[:10])


def test_event_log_charges_tasks_to_the_job_that_ran_the_stage(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Shuffle Read Metrics": {"Local Bytes Read": 2**20, "Remote Bytes Read": 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Disk Bytes Spilled": 3 * 2**20}},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    group, stages, totals = read_event_log(str(tmp_path))
    assert group == {0: "pb3", 1: None}
    assert stages == {0: {0, 1}, 1: {2}}
    assert totals[0]["tasks"] == 2 and totals[0]["task_failures"] == 1
    assert totals[0]["run_s"] == pytest.approx(1.5) and totals[0]["cpu_s"] == pytest.approx(1.0)
    assert totals[0]["shuffle_write_mib"] == 1 and totals[0]["shuffle_read_mib"] == 2
    assert totals[1]["spill_mib"] == 3


def _bucket_and_ledger(root, seed):
    bucket = gen.make_bucket(str(root), seed, 40, 0.1, small=64, large=256)
    ledgers = []
    for tick in (1, 2):
        drift = gen.plan_drift(bucket, seed, tick)
        gen.apply_drift(bucket, drift, small=64)
        ledgers.append(drift)
    return gen.tree_digest(str(root)), ledgers


def test_same_seed_gives_same_bucket_and_ledger(tmp_path):
    a = _bucket_and_ledger(tmp_path / "a", 7)
    b = _bucket_and_ledger(tmp_path / "b", 7)
    c = _bucket_and_ledger(tmp_path / "c", 8)
    assert a == b
    assert a != c
    digest, ledgers = a
    drift = ledgers[0]
    assert drift.expected_counts == {
        "copy_success": len(drift.modified) + len(drift.new),
        "delete_success": len(drift.deleted),
        "skip": 40 - len(drift.modified) - len(drift.deleted),
    }
    assert sum(size == 256 for size, _ in digest.values()) >= 3


def test_drift_mtimes_change_etags(tmp_path):
    bucket = gen.make_bucket(str(tmp_path), 1, 20, 0.0, small=64)
    drift = gen.plan_drift(bucket, 1, 1)
    before = {n: os.stat(tmp_path / n).st_mtime_ns for n in drift.modified}
    gen.apply_drift(bucket, drift, small=64)
    assert all(os.stat(tmp_path / n).st_mtime_ns != t for n, t in before.items())
    assert not any((tmp_path / n).exists() for n in drift.deleted)


def test_tables_are_seeded(tmp_path):
    a = gen.make_tables(str(tmp_path / "a"), 3, 0.001)
    gen.make_tables(str(tmp_path / "b"), 3, 0.001)
    assert a["lineitem"] > 0
    for name in a:
        pa = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert pa == (tmp_path / "b" / f"{name}.parquet").read_bytes()


def test_installer_replaces_every_bound_alias():
    from cloud_data_sync_spark import runner, tables
    from cloud_data_sync_spark.operators import corpus, relational, similarity
    from cloud_data_sync_spark.sources import listing

    originals = (listing.list_objects, tables.session_substrate, tables.materialize)
    tracer = Tracer()
    tracer.install()
    try:
        bound = tracer.bindings()
        for alias in (
            "cloud_data_sync_spark.runner.list_objects",
            "cloud_data_sync_spark.runner.materialize",
            "cloud_data_sync_spark.runner.sync_diff",
            "cloud_data_sync_spark.runner.execute_plan",
            "cloud_data_sync_spark.runner.count_actions",
            "cloud_data_sync_spark.operators.relational.session_substrate",
            "cloud_data_sync_spark.operators.corpus.session_substrate",
            "cloud_data_sync_spark.operators.similarity.session_substrate",
        ):
            assert alias in bound
        assert runner.list_objects is not originals[0]
        assert runner.list_objects is listing.list_objects
        assert relational.session_substrate is tables.session_substrate
        assert corpus.session_substrate is similarity.session_substrate
    finally:
        tracer.uninstall()
    assert (listing.list_objects, tables.session_substrate, tables.materialize) == originals
    assert runner.list_objects is originals[0]


def test_wrappers_record_spans_and_name_materialize_by_producer():
    def produce():
        return object()

    def consume(df, *, eager):
        return df

    tracer = Tracer()
    wrapped_produce = tracer.wrap("sync.diff", produce, "sync.diff")
    wrapped_consume = tracer.wrap("tables.materialize", consume, None)
    wrapped_consume(wrapped_produce(), eager=True)  # inactive: nothing recorded
    assert tracer.spans == []
    tracer.begin("tick-1")
    wrapped_consume(wrapped_produce(), eager=True)
    wrapped_consume(object(), eager=True)
    tracer.end()
    assert [s.name for s in tracer.spans] == [
        "sync.diff",
        "materialize:sync.diff",
        "materialize:other",
    ]
    assert {s.trace_id for s in tracer.spans} == {"tick-1"}


def test_sync_layer_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    spans = [
        Span("tick", 0.0, 4.0, None, "op-0"),
        Span("listing", 0.5, 1.0, 0, "op-0"),
        Span("executor", 1.0, 1.1, 0, "op-0"),
        Span("materialize:executor", 1.1, 1.5, 0, "op-0"),
    ]
    ix = layers.SpanIndex(spans, {0: "pb0"}, {0: {3}}, {0: {"tasks": 4.0}})
    facts = [{"listed": 10, "copied_mib": 1.0, "objects": 5, "report": {"copy_success": 5}}]
    computed = set(layers.spark_metrics(ix, [0], 1)) - {"spark.gc_s"}
    computed |= set(layers.materialize_metrics(ix, 1))
    computed |= set(layers.sync_metrics(ix, facts))
    computed |= {
        "session.start_s",
        "driver.peak_rss_mib",
        "jvm.peak_rss_mib",
        "jvm.heap_live_mib",
        "jvm.nonheap_mib",
        "workers.peak_rss_mib",
        "bench.external_cores",
        "bench.load_start",
        "trace.overhead_s",
    }
    assert computed == set(declared)
    assert all(layers.unit_of(name) == unit for name, unit in declared.items())
    registry = layers.registry_metrics(ix, {"q_a": "operators.text"}, 1, [0.5], {"q_a": (1.0, 2.0)})
    assert "operators.text.s" in registry and layers.unit_of("operators.text.s") == "s"
