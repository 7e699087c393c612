"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import lakehouse  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from registry import stable_name  # noqa: E402
from spans import EventLog, Tracer, covered, self_time  # noqa: E402


def test_landing_order_is_seeded_and_covers_the_fixed_block_set(tmp_path):
    from near_public_lakehouse_spark.sources.fixtures import generate_fixtures

    generate_fixtures(str(tmp_path), lakehouse.N_BLOCKS, lakehouse.N_SHARDS)
    a = lakehouse.landing_order(3)
    assert a == lakehouse.landing_order(3)
    assert a != lakehouse.landing_order(4)
    assert len(a) == lakehouse.N_BLOCKS * (1 + lakehouse.N_SHARDS)
    assert set(a) == set(os.listdir(tmp_path))
    for seed in range(5):
        assert sorted(lakehouse.landing_order(seed)) == sorted(a)


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0, 10, 0),
        ([(1, 3), (2, 5)], 0, 10, 4),  # overlap counted once
        ([(1, 9), (2, 3)], 0, 10, 8),  # nested
        ([(-5, 2), (8, 20)], 0, 10, 4),  # clipped at both ends
        ([(11, 12), (-3, -1)], 0, 10, 0),  # outside
        ([(1, 2), (2, 4), (6, 7)], 0, 10, 4),  # touching
    ],
)
def test_covered(intervals, lo, hi, want):
    assert covered(intervals, lo, hi) == pytest.approx(want)


def test_self_time_is_duration_minus_child_cover():
    assert self_time(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert self_time(0, 10, []) == pytest.approx(10)


def test_refresh_splits_into_node_self_times_and_runner_overhead():
    tr = Tracer()
    refresh = tr.open("refresh", "refresh")
    nodes = []
    for name, layer in (("a", "plans.silver"), ("b", "operators.merge")):
        nodes.append(tr.open(name, "node", layer=layer))
        if name == "b":
            with tr.span("b.probe", "probe") as probe:
                pass
        tr.close(nodes[-1])
    tr.close(refresh)
    refresh.start, refresh.end = 0.0, 10.0
    (nodes[0].start, nodes[0].end), (nodes[1].start, nodes[1].end) = (1.0, 4.0), (4.0, 9.5)
    probe.start, probe.end = 4.2, 4.5  # a tracer size probe, outside every job
    log = EventLog(jobs=[
        {"id": 0, "start": 1.5, "end": 2.5},
        {"id": 1, "start": 2.0, "end": 3.0},  # overlaps job 0
        {"id": 2, "start": 5.0, "end": 9.0},
    ])
    m, rows = layers.pipeline_round(tr, log, refresh, raw_bytes=1)
    assert m["plans.silver.wall_s"] == pytest.approx(1.5)
    assert m["operators.merge.wall_s"] == pytest.approx(4.0)
    assert m["streaming.runner.overhead_s"] == pytest.approx(4.2)
    assert m["trace_probe_s"] == pytest.approx(0.3)
    total = sum(r["self_s"] for r in rows) + m["streaming.runner.overhead_s"] + m["trace_probe_s"]
    assert total == pytest.approx(10.0)
    assert m["plans.silver.jobs"] == 2 and m["streaming.runner.jobs"] == 3


def test_output_hash_ignores_row_order_and_publish_stamp():
    cols = ["k", "v", "_processed_time"]
    rows = [(1, "x", "2026-01-01 10:00:00"), (2, "y", "2026-01-01 10:00:00")]
    later = [(2, "y", "2026-01-02 11:00:00"), (1, "x", "2026-01-02 11:00:00")]
    assert lakehouse.table_hash(cols, rows) == lakehouse.table_hash(cols, later)
    assert lakehouse.table_hash(cols, rows) != lakehouse.table_hash(cols, [(1, "x", None), (2, "z", None)])


def test_tracing_overhead_is_traced_minus_untraced_round(tmp_path):
    rec = tmp_path / "batch_refresh-seed1-trace0.json"
    assert run.tracing_overhead(str(rec), {"round_s": 30.0}) is None
    rec.write_text(json.dumps({"end_to_end": {"round_s": 28.5}}))
    assert run.tracing_overhead(str(rec), {"round_s": 30.0}) == pytest.approx(1.5)


def test_alias_prefix_is_stripped():
    assert stable_name("a15_substring_dedup_clean") == "substring_dedup_clean"
    assert stable_name("a9_top_revenue_orders") == "top_revenue_orders"
    assert stable_name("graph_pagerank") == "graph_pagerank"
    assert stable_name("a_b") == "a_b"


def test_benchmark_json_names_the_metrics_the_benchmark_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == {"batch_refresh", "registry"}


def test_every_pipeline_node_maps_to_a_plans_or_operators_layer():
    from near_public_lakehouse_spark.plans.pipeline import build_pipeline

    p = build_pipeline(None, "unused", processed_time="1970-01-01 00:00:00")
    got = {t.name: lakehouse.node_layer(t) for t in p.tables.values()}
    assert "plans.other" not in got.values()
    assert got["silver_blocks"] == "plans.silver"
    assert got["silver_deployed_contracts"] == "plans.balances"
    assert got["silver_execution_outcome_ft_event_logs"] == "plans.events"
    assert got["silver_accounts"] == "operators.scd"
    assert got["public_actions"] == "operators.merge"
