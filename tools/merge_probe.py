#!/usr/bin/env python
"""Merge-regime layout probe (r16, VERDICT r15 item 2): sf0.1 graphs
always broadcast, so the per-round SMJ cost that `_merge_layout` removes
is only measurable on a synthetic graph whose O(nodes) state exceeds the
broadcast threshold. This builds a deterministic N-pair pseudo-random
graph (~N distinct nodes -> state ≫ 10 MB for N >= 2M; the session's
broadcast threshold is -1, so every regime pick lands in MERGE at any
N), runs the REAL iteration frames (`_pr_setup`/`_pr_rounds`; BFS
through `_undirected`/`_regimes`/`_bfs_rounds`/`_release`;
`dedup._min_label_cc`) with the layout ON (HEAD) and OFF (monkeypatched
identity), and prints walls + stage shuffle evidence.

Usage:
    python tools/merge_probe.py [--pairs 4000000] [--iters 5] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from near_public_lakehouse_spark.session import get_spark  # noqa: E402


def _api(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}", timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=4_000_000)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(
        app_name="merge_probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    import near_public_lakehouse_spark.queries.graph as G
    import near_public_lakehouse_spark.queries.dedup as D

    N = args.pairs
    # deterministic pseudo-random bipartite-ish pair list; ~N distinct
    # nodes total so the (id, value) state is far past the default
    # broadcast threshold at N >= 2M
    pairs = spark.range(N).select(
        F.col("id").alias("a"),
        (((F.col("id") * 2654435761) % N) + N).alias("b"),
        F.lit(1.0).alias("w"),
    )

    real_layout = G._merge_layout
    plain_layout = lambda edges, key, n_rows: edges  # noqa: E731

    def pr_run():
        # NOTE: the r16 A/B this probe recorded REJECTED the PR layout
        # (wall 33 -> 36-49 s, shuffle 606 -> 855 MB: AQE already
        # pipelines PR's cadence-5 round chains), so `_pr_setup` no
        # longer routes through `_merge_layout` and both modes measure
        # the kept plain path here. Re-add the branch in `_pr_setup` to
        # reproduce the rejected variant.
        contrib, rank, n, bcast = G._pr_setup(pairs)
        assert not bcast, "probe graph unexpectedly broadcastable"
        out = G._pr_rounds(contrib, rank, n, bcast, iters=args.iters)
        out.write.format("noop").mode("overwrite").save()
        if hasattr(contrib, "unpersist"):
            contrib.unpersist()

    def bfs_run():
        # the production merge-regime path of `graph_bfs_hops`
        edges = G._undirected(pairs.select("a", "b"))
        (bcast,) = G._regimes(edges, "src")
        assert not bcast, "probe graph unexpectedly broadcastable"
        lay = G._merge_layout(edges, "src", N * 2)
        dist = G.inline_rows_df(
            spark, [(0, 0)], [("node", "bigint"), ("hops", "bigint")]
        )
        (out,) = G._release(
            [lay], G._bfs_rounds(lay, dist, iters=args.iters, broadcast_state=False)
        )
        out.write.format("noop").mode("overwrite").save()

    def cc_run():
        # the CC engine takes (doc_a, doc_b); cap rounds via the edge set
        # size (min-label converges in O(log n) with doubling)
        D._min_label_cc(
            pairs.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        ).write.format("noop").mode("overwrite").save()

    jobs = [("pagerank", pr_run), ("bfs", bfs_run), ("min_label_cc", cc_run)]
    for mode, lay in (("layout", real_layout), ("plain", plain_layout)):
        G._merge_layout = lay
        for name, fn in jobs:
            for run_i in range(args.runs):
                st0 = {s["stageId"] for s in _api(spark, "stages")}
                spark.sparkContext.setJobDescription(f"{name} {mode} run{run_i}")
                t0 = time.perf_counter()
                fn()
                wall = time.perf_counter() - t0
                new = [s for s in _api(spark, "stages") if s["stageId"] not in st0]
                shw = sum(s.get("shuffleWriteBytes", 0) for s in new) / 2**20
                tt = sum(s.get("executorRunTime", 0) for s in new) / 1000.0
                print(
                    f"{name:13s} {mode:6s} run{run_i}: wall={wall:7.2f}s "
                    f"stages={len(new):3d} task_time={tt:7.1f}s "
                    f"shuffle_write={shw:8.1f}MB",
                    flush=True,
                )
    G._merge_layout = real_layout


if __name__ == "__main__":
    main()
