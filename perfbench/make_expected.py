#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the outputs the benchmark checks.

    python3 perfbench/make_expected.py

- `batch_refresh`: the result hash of every published table after a full
  refresh (`run_batch`) over the fixture block set.
- `registry`: the result hash of each bench query's DuckDB oracle on the
  committed tables in `perfbench/data`. The file is written only if the engine's
  results hash the same.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import lakehouse  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402


def main() -> int:
    shutil.rmtree(run.WORK, ignore_errors=True)
    os.makedirs(os.path.join(run.WORK, "tmp"))
    run.point_temp_dirs_at(run.WORK)
    spark = run.start_spark(len(os.sched_getaffinity(0)), None)
    try:
        from near_public_lakehouse_spark.plans.pipeline import run_batch
        from near_public_lakehouse_spark.sources.fixtures import generate_fixtures

        raw, out = os.path.join(run.WORK, "raw"), os.path.join(run.WORK, "out")
        generate_fixtures(raw, lakehouse.N_BLOCKS, lakehouse.N_SHARDS)
        os.makedirs(out)
        run_batch(spark, raw, out)
        pipeline = lakehouse.output_hashes(spark, out)

        data = registry.DATA
        queries = registry.bench_queries(run.QUERIES)
        oracle = registry.oracle_digests(data, queries)
        engine = {
            r["name"]: registry.result_digest(r["result"])
            for r in registry.run_pass(spark, data, queries)
        }
    finally:
        run.stop_spark(spark)
    bad = sorted(n for n in oracle if engine.get(n) != oracle[n])
    if bad:
        print(f"engine results differ from their oracles: {bad}", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"batch_refresh": pipeline, "registry": oracle}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(pipeline) - 1} table hashes and {len(oracle)} query hashes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
