#!/usr/bin/env python3
"""Benchmark of the lakehouse engine: full refreshes of the NEAR medallion
pipeline and passes over the query registry.

    python3 perfbench/run.py --workload batch_refresh --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run starts its own Spark session on
local[<cores available>], sets up, times one round (a refresh or a pass
over the queries, each longer than `--seconds`), checks every output and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
run also writes the Spark event log and reports per-layer metrics. The
full record of a run (raw walls, environment, spans) is written to
.perfbench_work/records/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()

import lakehouse  # noqa: E402  (this directory is on sys.path when run as a script)
import registry  # noqa: E402
from layers import layer_metrics  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"

QUERIES = (
    "corpus_prep",
    "daily_active_users",
    "embedding_topk_cosine",
    "graph_bfs_hops",
    "graph_pagerank",
    "link_analysis_hits",
    "near_dup_assignments",
    "pricing_summary",
    "regional_supplier_revenue",
    "retrieval_hybrid_rrf",
    "returned_item_customers",
    "self_dedup_clean",
    "substring_dedup_clean",
    "top_revenue_orders",
)
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "call_geomean_s": "s",
    "retained_heap_mb": "MB",
}
NODE_SUFFIXES = {
    "wall_s": "s", "task_s": "s", "jobs": "count",
    "shuffle_mb": "MB", "input_mb": "MB", "output_mb": "MB",
}
QUERY_SUFFIXES = {"s": "s", "task_s": "s", "stages": "count", "shuffle_mb": "MB", "input_mb": "MB"}
PLAN_LAYERS = ("plans.silver", "plans.events")
OPERATOR_LAYERS = ("operators.scd", "operators.merge")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the benchmark reports, with its unit."""
    units = {"sources.json_input_mb": "MB", "sources.reparse_ratio": "ratio"}
    for layer in PLAN_LAYERS + OPERATOR_LAYERS:
        units.update({f"{layer}.{k}": u for k, u in NODE_SUFFIXES.items()})
        if layer in OPERATOR_LAYERS:
            units[f"{layer}.write_amp"] = "ratio"
    units.update({"streaming.runner.overhead_s": "s", "streaming.runner.jobs": "count"})
    units.update({"outputs.files": "count", "outputs.storage_ratio": "ratio"})
    for q in QUERIES:
        units.update({f"queries.{q}.{k}": u for k, u in QUERY_SUFFIXES.items()})
    return units


# --- environment ----------------------------------------------------------------


def cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:9]))
    return dict(zip(("user", "nice", "sys", "idle", "iowait", "irq", "softirq", "steal"), v))


def tick_delta(a: dict, b: dict) -> dict[str, float]:
    """Share of all CPU ticks between two /proc/stat samples, per field."""
    d = {k: b[k] - a[k] for k in a}
    total = sum(d.values()) or 1
    return {k: round(v / total, 4) for k, v in d.items()}


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 1024


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections: what the
    session keeps (caches, broadcasts, plan and status state)."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.5)
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def point_temp_dirs_at(work: str) -> None:
    """Keep temp files, the warehouse and JVM perf data inside `work`;
    set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_spark(cores: int, event_log: str | None):
    from near_public_lakehouse_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- workloads ------------------------------------------------------------------


class Run:
    """What one benchmark run timed, attempted and failed."""

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.dir = run_dir
        self.rounds: list[float] = []  # wall of each timed round
        self.calls: list[float] = []  # wall of each refresh or query call in them
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.record: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def expected(workload: str) -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)[workload]


class BatchRefresh:
    """Set-up lands the raw files; the run times one full refresh over
    them, the session's first, as in a refresh job. Later refreshes in the
    same session run on a warmer JIT and would time something else."""

    def __init__(self, run: Run):
        self.run = run
        d = run.dir
        self.src, self.raw, self.out = (os.path.join(d, x) for x in ("src", "raw", "out"))

    def setup(self, spark) -> None:
        from near_public_lakehouse_spark.sources.fixtures import generate_fixtures

        generate_fixtures(self.src, lakehouse.N_BLOCKS, lakehouse.N_SHARDS)
        files = lakehouse.landing_order(self.run.seed)
        self.raw_bytes = lakehouse.land(self.src, self.raw, files)
        self.run.record["raw_bytes"] = self.raw_bytes
        os.makedirs(self.out)

    def measure(self, spark, tracer) -> None:
        run = self.run
        run.attempted += 1
        t0 = time.time()
        try:
            lakehouse.refresh(spark, self.raw, self.out, tracer)
        except Exception as e:  # counted as a failed refresh
            run.fail(f"refresh: {e!r}")
            return
        run.rounds.append(time.time() - t0)
        run.calls.append(run.rounds[-1])  # one call per round: call_geomean_s == round_s
        run.record["blocks_per_s"] = lakehouse.N_BLOCKS / run.rounds[-1]

    def check(self, spark) -> None:
        run, want = self.run, expected("batch_refresh")
        if not run.rounds:
            return  # the failed refresh is already counted
        got = lakehouse.output_hashes(spark, self.out)
        run.record["output_hashes"] = got
        run.attempted += 1
        bad = sorted(k for k in want if got.get(k) != want[k])
        if bad:
            run.fail(f"published tables differ from expected.json: {bad}")
        files = lakehouse.data_files(self.out)
        run.layers["outputs.files"] = len(files)
        run.layers["outputs.storage_ratio"] = sum(map(os.path.getsize, files)) / self.raw_bytes


class Registry:
    """Set-up absorbs the JVM's first-call cost with one untimed call; a
    round is one pass over the bench queries, each query's first call in
    the session, as when the registry is called once per session. The
    tables are the committed `perfbench/data`."""

    def __init__(self, run: Run):
        self.run = run
        self.data = registry.DATA

    def setup(self, spark) -> None:
        self.queries = registry.bench_queries(QUERIES)
        first = next(iter(self.queries.values()))
        first.fn(spark, self.data).limit(1).collect()

    def measure(self, spark, tracer) -> None:
        run = self.run
        t0 = time.time()
        self.results = registry.run_pass(spark, self.data, self.queries, tracer)
        run.rounds.append(time.time() - t0)
        run.attempted += len(self.results)
        for r in self.results:
            if "error" in r:
                run.fail(f"{r['name']}: {r['error']}")
            else:
                run.calls.append(r["s"])
        run.record["query_walls"] = {r["name"]: r.get("s") for r in self.results}

    def check(self, spark) -> None:
        run, want = self.run, expected("registry")
        for r in self.results:
            if "error" in r:
                continue
            run.attempted += 1
            got = registry.result_digest(r.pop("result"))
            if got != want[r["name"]]:
                run.fail(f"{r['name']}: result hash {got} != oracle hash {want[r['name']]}")


def tracing_overhead(untraced_record: str, traced: dict) -> float | None:
    """Traced minus untraced `round_s` of the same workload and seed, if
    an untraced record exists."""
    try:
        with open(untraced_record) as f:
            untraced = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    return traced["round_s"] - untraced["round_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch_refresh", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "near_public_lakehouse_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, "run")
    for d in ("run", "tmp", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(run_dir)
    point_temp_dirs_at(WORK)
    event_log = os.path.join(WORK, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)

    cores = len(os.sched_getaffinity(0))
    ticks0 = cpu_ticks()
    spark = start_spark(cores, event_log)
    session_s = time.time() - T0
    tracer = Tracer() if args.trace else None
    run = Run(args.seed, run_dir)
    workload = {"batch_refresh": BatchRefresh, "registry": Registry}[args.workload](run)
    try:
        workload.setup(spark)
        setup_s = time.time() - T0
        ticks1, t_measure = cpu_ticks(), time.time()
        workload.measure(spark, tracer)
        measure_s, ticks2 = time.time() - t_measure, cpu_ticks()
        retained = retained_heap_mb(spark)
        workload.check(spark)
    finally:
        stop_spark(spark)

    end_to_end = {
        "setup_s": setup_s,
        "round_s": statistics.median(run.rounds) if run.rounds else 0.0,
        "call_geomean_s": statistics.geometric_mean(run.calls) if run.calls else 0.0,
        "retained_heap_mb": retained,
    }
    run.record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rounds": run.rounds, "errors": run.errors,
        "measure_s": measure_s, "end_to_end": end_to_end,
        "setup_phases_s": {"session": session_s, "workload": setup_s - session_s},
        "env": {
            "cores": cores, "master": f"local[{cores}]", "driver_memory": DRIVER_MEMORY,
            "mem_total_mb": round(mem_total_mb()),
            "cpu_share_setup": tick_delta(ticks0, ticks1),
            "cpu_share_measure": tick_delta(ticks1, ticks2),
        },
    })
    metrics, units = end_to_end, END_TO_END
    if args.trace:
        units = per_layer_units()
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(run.layers)
        traced = layer_metrics(args.workload, tracer, event_log, run.record)
        metrics.update({k: v for k, v in traced.items() if k in units})
        run.record["other_layers"] = {k: v for k, v in traced.items() if k not in units}
        run.record["spans"] = tracer.as_json()
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    if args.trace:
        run.record["tracing_overhead_s"] = tracing_overhead(
            os.path.join(records, f"{args.workload}-seed{args.seed}-trace0.json"), end_to_end
        )
    rec = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec, "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
