"""The `batch_refresh` workload's pieces: raw NEAR JSON files, full
refreshes through `plans.pipeline.run_batch`, and the published tables.

Raw files come from the package's deterministic fixture generator. The
seed only decides the order in which they land in the raw directory
(their modification times), so every seed refreshes the same block set
and must publish the same tables (`expected.json`).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
import shutil
import types

N_BLOCKS = 40  # the fixture covers every scenario in its first 40 heights
N_SHARDS = 4

_PKG = "near_public_lakehouse_spark"


def landing_order(seed: int, n_blocks: int = N_BLOCKS, n_shards: int = N_SHARDS) -> list[str]:
    """Every raw file of the block set once, in the seed's landing order."""
    files = [f"{h:012d}.block.json" for h in range(n_blocks)] + [
        f"{h:012d}.shard.{s}.json" for h in range(n_blocks) for s in range(n_shards)
    ]
    random.Random(seed).shuffle(files)
    return files


def land(src_dir: str, raw_dir: str, files: list[str]) -> int:
    """Copy `files` into the raw directory in order; return bytes landed."""
    os.makedirs(raw_dir, exist_ok=True)
    for f in files:
        shutil.copy(os.path.join(src_dir, f), os.path.join(raw_dir, f))
    return sum(os.path.getsize(os.path.join(raw_dir, f)) for f in files)


def data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def data_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def node_layer(t) -> str:
    """The module a pipeline node belongs to: its apply operator when it
    is stateful, otherwise the plans module its build function calls."""
    if t.apply is not None:
        names = t.apply.__code__.co_names
        return "operators.scd" if "apply_changes" in names else "operators.merge"
    g = t.build.__globals__
    for n in t.build.__code__.co_names:
        m = g.get(n)
        # a module imported inside the build function appears by its bare name
        name = m.__name__ if isinstance(m, types.ModuleType) else f"{_PKG}.plans.{n}"
        if "." not in n and name.startswith(f"{_PKG}.plans.") and importlib.util.find_spec(name):
            return name[len(_PKG) + 1 :]
    return "plans.other"


def refresh(spark, raw_dir: str, out_dir: str, tracer=None) -> None:
    """One full refresh through `plans.pipeline.run_batch`. With a tracer,
    the refresh gets a span, and every node one from the start of its
    build to the start of the next node's build, with build and apply
    child spans."""
    from near_public_lakehouse_spark.plans import pipeline

    if tracer is None:
        pipeline.run_batch(spark, raw_dir, out_dir)
        return
    original = pipeline.build_pipeline
    current: list = []

    def traced_build_pipeline(*args, **kwargs):
        p = original(*args, **kwargs)
        for t in p.tables.values():
            _instrument(t, tracer, current)
        return p

    with tracer.span("refresh", "refresh") as r:
        pipeline.build_pipeline = traced_build_pipeline
        try:
            pipeline.run_batch(spark, raw_dir, out_dir)
        finally:
            pipeline.build_pipeline = original
            if current:
                tracer.close(current.pop())
    if not any(c.kind == "node" for c in tracer.children(r)):
        raise RuntimeError("run_batch no longer builds its nodes through build_pipeline")


def _instrument(t, tracer, current: list) -> None:
    layer = node_layer(t)
    build = t.build

    def traced_build(spark, inputs):
        if current:
            tracer.close(current.pop())
        current.append(tracer.open(t.name, "node", layer=layer))
        with tracer.span(f"{t.name}.build", "build"):
            return build(spark, inputs)

    t.build = traced_build
    if t.apply is not None:
        apply = t.apply

        def traced_apply(spark, df, path):
            # the size probes are tracing cost, kept out of the runner's overhead
            with tracer.span(f"{t.name}.probe", "probe"):
                before = data_bytes(path)
            with tracer.span(f"{t.name}.apply", "apply") as s:
                apply(spark, df, path)
            with tracer.span(f"{t.name}.probe", "probe"):
                s.attrs["net_new_b"] = data_bytes(path) - before

        t.apply = traced_apply


def table_hash(cols, rows) -> str:
    """`testing.compare.result_hash` without the hour-truncated
    `_processed_time` publish stamp: order-independent and stable across
    refreshes."""
    from near_public_lakehouse_spark.testing.compare import result_hash

    keep = [i for i, c in enumerate(cols) if c != "_processed_time"]
    return result_hash([cols[i] for i in keep], [[r[i] for i in keep] for r in rows])


def output_hashes(spark, out_dir: str) -> dict[str, str]:
    """`table_hash` of every published table, plus `*` over all of them."""
    from near_public_lakehouse_spark.plans.pipeline import build_pipeline

    p = build_pipeline(spark, out_dir, processed_time="1970-01-01 00:00:00")
    out = {}
    for name in sorted(p.tables):
        df = p.read(name)
        out[name] = table_hash(df.columns, df.collect())
    out["*"] = hashlib.md5(
        "".join(f"{k}:{v}\n" for k, v in sorted(out.items())).encode()
    ).hexdigest()
    return out
