"""DLT-replacement pipeline runner: a DAG of table definitions executed in
dependency order, batch or incrementally (SURVEY §4: the only "engine"
pieces the rebuild needs, item (a)).

Each node declares (name, deps, build_fn); the runner materializes each
table to parquet partitioned by `block_date`. In batch mode it schedules
by frontier, as DLT schedules from table references: every node whose
deps are built runs on a thread pool as wide as the session's
`defaultParallelism`, its Spark jobs tagged with the node's name as job
group; the first failure stops new nodes from starting and propagates
once the running ones finish. In incremental mode the fact-side bronze
source is a Structured Streaming file/parquet stream with
`trigger(availableNow=True)` and a checkpoint —
the same resume contract as DLT's streaming live tables (T2/T3) — while
dimension-side inputs are re-read per micro-batch (stream-static join; the
blocks side of J1 is complete by the time a shard batch lands, because the
runner orders block ingestion first).

Scale notes: availableNow + checkpoint gives exactly-once file processing
without a scheduler; per-table checkpoints make every table independently
restartable; `maxFilesPerTrigger` bounds batch size. foreachBatch nodes
(SCD1, FT/NFT with rank columns) get batch semantics per micro-batch,
which is how OSS expresses APPLY CHANGES (SURVEY §2.5 A8).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class TableDef:
    name: str
    deps: list[str]
    build: Callable[..., DataFrame]  # (spark, {dep: DataFrame}) -> DataFrame
    partition_by: str | None = "block_date"
    # foreachBatch apply fn for stateful nodes: (spark, updates_df, target_path)
    apply: Callable[..., None] | None = None


@dataclass
class Pipeline:
    spark: SparkSession
    out_dir: str
    tables: dict[str, TableDef] = field(default_factory=dict)

    def table(
        self,
        name: str,
        deps: list[str],
        partition_by: str | None = "block_date",
        apply: Callable[..., None] | None = None,
    ):
        def deco(fn):
            self.tables[name] = TableDef(name, deps, fn, partition_by, apply)
            return fn

        return deco

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _sidecar(self, name: str) -> str:
        return os.path.join(self.out_dir, name + ".schema.json")

    def _save_schema(self, name: str, df: DataFrame, merge: bool = False) -> None:
        """Write the schema sidecar. With `merge=True` (incremental mode)
        the new schema UNIONS with the existing sidecar — T8 field
        addition: a column added mid-stream widens the sidecar, and
        reads of pre-addition parquet files (which lack the column)
        null-backfill through the union schema; a column that disappears
        stays in the sidecar (drift-as-nulls, never a drop)."""
        schema = df.schema
        sidecar = self._sidecar(name)
        if merge and os.path.exists(sidecar):
            import json

            from pyspark.sql.types import StructType

            from near_public_lakehouse_spark.streaming.evolution import merge_schemas

            with open(sidecar) as f:
                prior = StructType.fromJson(json.loads(f.read()))
            schema = merge_schemas(prior, schema)
        with open(sidecar, "w") as f:
            f.write(schema.json())

    def _topo_order(self) -> list[TableDef]:
        order: list[TableDef] = []
        done: set[str] = set()

        def visit(name: str, stack: tuple = ()):
            if name in done:
                return
            if name in stack:
                raise ValueError(f"cycle at {name}")
            t = self.tables.get(name)
            if t is None:  # external source, nothing to build
                done.add(name)
                return
            for d in t.deps:
                visit(d, stack + (name,))
            order.append(t)
            done.add(name)

        for name in self.tables:
            visit(name)
        return order

    def read(self, name: str) -> DataFrame:
        """Read a materialized table. The schema sidecar (written at build
        time) makes empty tables readable — a schema-less parquet read of a
        zero-file directory cannot infer one, and a foreachBatch node whose
        availableNow stream processed ZERO batches never created the
        directory at all (sidecar present, path absent — r13 review):
        both read as an empty frame with the declared schema."""
        sidecar = self._sidecar(name)
        if os.path.exists(sidecar):
            from pyspark.sql.types import StructType

            with open(sidecar) as f:
                schema = StructType.fromJson(__import__("json").loads(f.read()))
            if not os.path.isdir(self.path(name)):
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(self.path(name))
        return self.spark.read.parquet(self.path(name))

    def run_batch(self, sources: dict[str, DataFrame]) -> None:
        """Full refresh: build every table and parquet it, scheduling by
        frontier. Every node whose deps are all built runs at once on a
        thread pool as wide as the session's `defaultParallelism`, so
        independent nodes overlap their driver-side planning and their
        Spark jobs; each node's jobs carry its name as their job group.

        Deps are checked before any node runs: a dep that is neither a
        table nor a supplied source raises `ValueError` naming it. When a
        node raises, no further node starts (its dependents never do),
        nodes already running finish, and the first exception propagates.

        Stateful (apply-fn) nodes are refreshed into a FRESH path and
        swapped in: applying straight onto a previously populated target
        would fold the new change feed into the old state — rows deleted
        upstream would survive a "full refresh". The swap is
        park-then-install renames with recovery at entry: a crash between
        the two renames leaves the old table PARKED, and the next run
        restores it before doing anything else (the merge._recover
        discipline — r13 review: the prior form had a window where
        neither copy existed and the next run deleted the parked copy
        before the rebuild succeeded).
        """
        missing = sorted(
            {d for t in self.tables.values() for d in t.deps} - self.tables.keys() - sources.keys()
        )
        if missing:
            raise ValueError(f"deps that are neither a table nor a source: {missing}")
        waiting = self._topo_order()
        built: dict[str, DataFrame] = dict(sources)
        running: dict[Future, str] = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(self.spark.sparkContext.defaultParallelism) as pool:
            while True:
                if error is None:
                    for t in [t for t in waiting if all(d in built for d in t.deps)]:
                        waiting.remove(t)
                        inputs = {d: built[d] for d in t.deps}
                        running[pool.submit(self._refresh_node, t, inputs)] = t.name
                if not running:
                    break  # every node is built, or a failure left the rest unstarted
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for f in done:
                    name, exc = running.pop(f), f.exception()
                    if exc is None:
                        built[name] = f.result()
                    else:
                        error = error or exc
        if error is not None:
            raise error

    def _refresh_node(self, t: TableDef, inputs: dict[str, DataFrame]) -> DataFrame:
        """One full-refresh node: build, sidecar, then the stateful swap
        or a parquet overwrite; returns the table read back."""
        self.spark.sparkContext.setJobGroup(t.name, t.name)
        df = t.build(self.spark, inputs)
        self._save_schema(t.name, df)
        if t.apply is not None:
            import shutil

            path = self.path(t.name)
            tmp, parked = path + ".__refresh__", path + ".__old__"
            # recovery: a parked dir with no live table is the only
            # copy (crash between park and install) — restore first
            if os.path.isdir(parked) and not os.path.isdir(path):
                os.rename(parked, path)
            shutil.rmtree(tmp, ignore_errors=True)
            t.apply(self.spark, df, tmp)
            shutil.rmtree(parked, ignore_errors=True)
            if os.path.isdir(path):
                os.rename(path, parked)
            os.rename(tmp, path)
            shutil.rmtree(parked, ignore_errors=True)
        else:
            w = df.write.mode("overwrite")
            if t.partition_by and t.partition_by in df.columns:
                w = w.partitionBy(t.partition_by)
            w.parquet(self.path(t.name))
        return self.read(t.name)

    def run_incremental(
        self,
        stream_sources: dict[str, Callable[[SparkSession, bool], DataFrame]],
        checkpoint_dir: str,
        stream_root: str | None = None,
    ) -> None:
        """Incremental refresh: tables whose root source supports streaming
        run as availableNow streams; every query drains before its
        dependents start (topo order = DLT's DAG scheduling).

        `stream_sources[name](spark, streaming)` returns the source as a
        stream or batch frame. `stream_root` names the ONE dep treated as
        the streaming fact side per table (default: first dep that is a
        stream source); remaining deps are read as static parquet.
        """
        for t in self._topo_order():
            # the caller's explicit fact side wins (r13 review: the
            # parameter was documented but never consulted, so the first
            # stream-capable dep silently became the checkpointed stream)
            if (
                stream_root is not None
                and stream_root in t.deps
                and stream_root in stream_sources
            ):
                root = stream_root
            else:
                root = None
                for d in t.deps:
                    if d in stream_sources:
                        root = d
                        break
            inputs: dict[str, DataFrame] = {}
            for d in t.deps:
                if d == root:
                    inputs[d] = stream_sources[d](self.spark, True)
                elif d in stream_sources:
                    inputs[d] = stream_sources[d](self.spark, False)
                else:
                    inputs[d] = self.read(d)
            df = t.build(self.spark, inputs)
            self._save_schema(t.name, df, merge=True)
            ckpt = os.path.join(checkpoint_dir, t.name)
            if not df.isStreaming:
                # No streamable dep: batch rebuild (stateful nodes still go
                # through their apply fn — SCD state must fold, not be
                # replaced by the raw change feed).
                if t.apply is not None:
                    t.apply(self.spark, df, self.path(t.name))
                else:
                    w = df.write.mode("overwrite")
                    if t.partition_by and t.partition_by in df.columns:
                        w = w.partitionBy(t.partition_by)
                    w.parquet(self.path(t.name))
                continue
            if t.apply is not None:
                apply_fn, spark, path = t.apply, self.spark, self.path(t.name)

                def _fb(batch_df: DataFrame, _bid: int, _a=apply_fn, _s=spark, _p=path):
                    _a(_s, batch_df, _p)

                q = (
                    df.writeStream.foreachBatch(_fb)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
            else:
                writer = (
                    df.writeStream.format("parquet")
                    .option("path", self.path(t.name))
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                )
                if t.partition_by and t.partition_by in df.columns:
                    writer = writer.partitionBy(t.partition_by)
                q = writer.start()
            q.awaitTermination()
