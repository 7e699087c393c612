"""Adversarial-skew pins for the graph trio (VERDICT r12 task #4).

r12 hardened dedup against hot keys; the graph queries have the same
exposure on power-law degree — one hot node's edges land in one contrib
partition, and TPC-H's uniform generator never shows it. The fixture
(`testing/skewed.skewed_graph`) puts one supplier on 90% of all
(customer, supplier) pairs; the quantitative wall/max-task exponents live
in SCALE.md (tools/skew_probe_graph.py). What pytest pins:

1. CORRECTNESS under skew is plan-independent: the rank/score vectors are
   bit-identical between the default (AQE-broadcast) regime and the
   forced shuffle-join regime — the per-iteration rounding discipline
   holds regardless of join strategy or partitioning.
2. The DEFAULT plan broadcasts the O(nodes) rank side (hot join keys are
   moot — no shuffle on src at all).
3. In the state-exceeds-broadcast regime (broadcast disabled), the hot
   partition is byte-PROPORTIONAL skew (each edge meets exactly one rank
   row — no row multiplication, unlike dedup's quadratic case), so AQE's
   byte-based skew split SEES it: with thresholds lowered to what the
   same row skew weighs at real scale, the final adaptive plan carries
   `skew=true`, output identical.
4. The aggregate side needs no mitigation at all: sum/min/dsum are
   algebraic, so a hot dst's contributions collapse in map-side partial
   aggregation — pinned by the partial_ prefix in the physical plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from near_public_lakehouse_spark.queries.graph import (
    _bfs_round,
    _hits_half,
    _hits_raw,
    _pr_round,
    _pr_rounds,
    _pr_setup,
    _state_broadcastable,
)
from near_public_lakehouse_spark.testing.skewed import skewed_graph

N_PAIRS = 400

# what the fixture's ~90% row skew looks like to AQE at real scale,
# shrunk to probe bytes (same emulation discipline as test_skew_dedup)
AQE_EMULATE_SCALE = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128b",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def _with_confs(spark, confs):
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    return prev


def test_pagerank_identical_across_join_regimes_under_skew(spark):
    """Rank vector bit-identical: default (broadcast) vs forced-SMJ vs
    forced-SMJ-with-AQE-skew-split, on the hot-node graph. The rounding
    discipline (PR_DP after every iteration) is what makes this exact —
    any plan-dependent drift would compound over 10 rounds and fail."""
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    contrib, rank0, n, _bc = _pr_setup(pairs)

    def run():
        out = _pr_rounds(contrib, rank0, n, iters=4)
        return sorted((r.node, r.rank) for r in out.collect())

    base = run()
    hot_mass = next(r for n_, r in base if n_ == "S0")
    cold_mass = max(r for n_, r in base if n_.startswith("S") and n_ != "S0")
    assert hot_mass > 10 * cold_mass  # the skew is real: S0 dominates

    prev = _with_confs(spark, AQE_EMULATE_SCALE)
    try:
        assert run() == base
    finally:
        _with_confs(spark, prev)

    prev = _with_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        assert run() == base
    finally:
        _with_confs(spark, prev)


def test_default_regime_broadcasts_rank_side(spark):
    """While the O(nodes) state fits a broadcast, every round's join is a
    BroadcastHashJoin — there is NO shuffle on src, so a hot src key
    cannot straggle. This is the plan the 100 TB design runs until state
    exceeds broadcast; beyond it, the skew-split pin below takes over."""
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    contrib, rank0, n, _bc = _pr_setup(pairs)
    one = _pr_round(contrib, rank0, n)
    one.collect()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_smj_regime_aqe_skew_split_engages(spark):
    """The state-exceeds-broadcast regime: broadcast disabled, byte
    thresholds lowered to what the fixture's 90%-hot-src partition weighs
    at real scale -> the final adaptive plan of the PRODUCTION round
    carries `skew=true` (AQE splits the hot partition), and the round's
    output is identical to the default plan's. This is why the graph trio
    needs no salted-join wiring: unlike dedup's row-quadratic expansion,
    the per-round join output is row-LINEAR in the hot key, so the skew
    is byte-visible exactly where it hurts."""
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    contrib, rank0, n, _bc = _pr_setup(pairs)
    base = _pr_round(contrib, rank0, n)
    want = sorted((r.node, r.rank) for r in base.collect())

    prev = _with_confs(spark, AQE_EMULATE_SCALE)
    try:
        # broadcast_state=False is what `_pr_setup`'s auto-pick returns
        # under these confs (threshold -1 -> _state_broadcastable False);
        # since r15 the broadcastable regime binds an EXPLICIT
        # F.broadcast (which would override the conf emulation), so the
        # merge regime must be requested the way production requests it —
        # through the pick's flag, not by hoping the planner notices.
        assert not _state_broadcastable(
            spark, int(n), int(n) * 8
        ), "fixture should be over-threshold under AQE_EMULATE_SCALE"
        one = _pr_round(contrib, rank0, n, broadcast_state=False)
        got = sorted((r.node, r.rank) for r in one.collect())
        plan = one._jdf.queryExecution().executedPlan().toString()
    finally:
        _with_confs(spark, prev)
    assert got == want
    assert "skew=true" in plan, plan[:3000]


def test_round_aggregates_are_map_side_partial(spark):
    """The OTHER skew surface — a hot dst receiving 90% of contributions
    — is already collapsed before the shuffle: sum (PageRank), min (BFS)
    and dsum (HITS) are algebraic, so the physical plan runs a partial
    aggregate upstream of the exchange and the hot dst ships one partial
    row per map partition, not one row per edge."""
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    contrib, rank0, n, _bc = _pr_setup(pairs)

    frames = {
        "pagerank": _pr_round(contrib, rank0, n),
        "bfs": _bfs_round(
            contrib.select("src", "dst"),
            contrib.sparkSession.createDataFrame(
                [("S0", 0)], "node string, hops bigint"
            ),
        ),
        # `_hits_raw`, not `_hits_half`: the half lazily checkpoints the
        # join-aggregate (r15), which hides it behind an RDD scan in the
        # executed plan — the raw frame is the one carrying the partials.
        "hits": _hits_raw(
            pairs.select(F.col("a").alias("cust"), F.col("b").alias("supp"), "w"),
            pairs.select(F.col("b").alias("node")).distinct().select(
                "node", F.lit(1.0).alias("score")
            ),
            "supp",
            "cust",
        ),
    }
    for name, df in frames.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_" in plan, (name, plan[:2000])


def test_bfs_and_hits_outputs_plan_independent_under_skew(spark):
    """BFS hops and HITS scores identical between the broadcast and
    forced-shuffle regimes on the hot-node graph (BFS is all-integer;
    HITS relies on the dsum + max-normalize + round discipline)."""
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )
    bi = pairs.select(
        F.col("a").alias("cust"), F.col("b").alias("supp"), "w"
    ).localCheckpoint()
    dist0 = spark.createDataFrame([("S0", 0)], "node string, hops bigint")
    auth0 = bi.select(F.col("supp").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("score")
    )

    def run():
        hops = sorted(
            (r.node, r.hops) for r in _bfs_round(edges, dist0).collect()
        )
        hub = sorted(
            (r.node, r.score) for r in _hits_half(bi, auth0, "supp", "cust").collect()
        )
        return hops, hub

    base = run()
    # the hot node reaches every customer in one hop
    assert sum(1 for n_, h in base[0] if h == 1) >= int(0.9 * N_PAIRS)
    prev = _with_confs(spark, AQE_EMULATE_SCALE)
    try:
        assert run() == base
    finally:
        _with_confs(spark, prev)


# --- r14: round-join regime auto-select (VERDICT r13 task #1) ---------------


def test_state_broadcastable_threshold_math(spark):
    from near_public_lakehouse_spark.queries.graph import (
        STATE_ROW_OVERHEAD,
        _parse_size_bytes,
        _state_broadcastable,
    )

    assert _parse_size_bytes("10MB") == 10 * 1024**2
    assert _parse_size_bytes("10m") == 10 * 1024**2
    assert _parse_size_bytes("10485760") == 10 * 1024**2
    assert _parse_size_bytes("64KB") == 64 * 1024
    assert _parse_size_bytes("-1") == -1
    assert _parse_size_bytes("garbage") == -1

    prev = _with_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "10MB"})
    try:
        # ~16k TPC-H-graph nodes: well under -> broadcast regime
        assert _state_broadcastable(spark, 16_000, 16_000 * 7)
        # 1M nodes (the measured SMJ-wins size): over -> merge regime
        assert not _state_broadcastable(spark, 1_000_000, 1_000_000 * 7)
        boundary = (10 * 1024**2) // (STATE_ROW_OVERHEAD + 7)
        assert _state_broadcastable(spark, boundary, boundary * 7)
    finally:
        _with_confs(spark, prev)
    # broadcast disabled entirely -> never broadcast the state
    prev = _with_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})
    try:
        assert not _state_broadcastable(spark, 10, 70)
    finally:
        _with_confs(spark, prev)


def test_auto_pick_responds_to_session_threshold(spark):
    """The regime the production setup picks follows the session's
    broadcast threshold: default confs -> broadcast (today's bench
    plans), tiny threshold (emulating nodes~edges at real scale) ->
    merge. Both PageRank's setup and the shared per-state `_regimes`
    pick (HITS' two halves, BFS' frontier)."""
    from near_public_lakehouse_spark.queries.graph import _regimes

    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    bi = pairs.select(
        F.col("a").alias("cust"), F.col("b").alias("supp"), "w"
    ).localCheckpoint()

    *_, bc = _pr_setup(pairs)
    assert bc is True
    assert _regimes(bi, "supp", "cust") == (True, True)

    prev = _with_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "1KB"})
    try:
        *_, bc_small = _pr_setup(pairs)
        assert bc_small is False
        assert _regimes(bi, "supp", "cust") == (False, False)
    finally:
        _with_confs(spark, prev)


def test_regime_estimate_applies_approx_headroom(spark):
    """The approximate distinct count binds a hard broadcast, so the
    shared estimator inflates it by APPROX_HEADROOM: with the threshold
    set between the raw estimate and the inflated one, the pick is merge,
    where a pick on the raw approx count (the old BFS and HITS picks)
    would still broadcast."""
    from near_public_lakehouse_spark.queries.graph import (
        APPROX_HEADROOM,
        STATE_ROW_OVERHEAD,
        _regimes,
    )

    n = 1000
    edges = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    ).localCheckpoint()
    approx = edges.agg(F.approx_count_distinct("src")).first()[0]
    raw_bytes = approx * (8 + STATE_ROW_OVERHEAD)
    inflated = int(APPROX_HEADROOM * approx) * (8 + STATE_ROW_OVERHEAD)
    thr = (raw_bytes + inflated) // 2
    assert raw_bytes <= thr < inflated
    prev = _with_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": str(thr)})
    try:
        assert _state_broadcastable(spark, approx, approx * 8)  # raw pick
        assert _regimes(edges, "src") == (False,)
    finally:
        _with_confs(spark, prev)


def test_merge_regime_pins_smj_even_where_aqe_would_broadcast(spark):
    """The load-bearing physical guarantee: when the auto-pick says the
    state exceeds broadcast, the merge hint must hold under AQE — at
    probe bytes AQE WOULD runtime-convert this join to a broadcast (the
    default-regime pin above proves it), so SortMergeJoin appearing here
    proves the hint survives adaptive re-planning. Outputs bit-identical
    to the broadcast regime (the per-iteration rounding discipline)."""
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    contrib, rank0, n, _bc = _pr_setup(pairs)

    base = _pr_round(contrib, rank0, n, broadcast_state=True)
    want = sorted((r.node, r.rank) for r in base.collect())

    one = _pr_round(contrib, rank0, n, broadcast_state=False)
    got = sorted((r.node, r.rank) for r in one.collect())
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert got == want
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_hits_merge_regime_pins_smj_and_matches(spark):
    pairs = skewed_graph(spark, N_PAIRS).localCheckpoint()
    bi = pairs.select(
        F.col("a").alias("cust"), F.col("b").alias("supp"), "w"
    ).localCheckpoint()
    auth0 = bi.select(F.col("supp").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("score")
    )
    want = sorted(
        (r.node, r.score)
        for r in _hits_half(bi, auth0, "supp", "cust", True).collect()
    )
    got = sorted(
        (r.node, r.score)
        for r in _hits_half(bi, auth0, "supp", "cust", False).collect()
    )
    # plan pin on `_hits_raw` — the frame that contains the join;
    # `_hits_half` lazily checkpoints it (r15), hiding the join behind
    # an RDD scan in the half's own executed plan
    one = _hits_raw(bi, auth0, "supp", "cust", False)
    one.collect()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert got == want
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]
