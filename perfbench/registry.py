"""The `registry` workload: passes over the registry's bench queries.

Inputs are the ten scale-factor-0.01 parquet tables in `perfbench/data`
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings): the fixed dataset the registry's queries are
graded on, committed so that a run needs nothing outside its checkout.
Each query's result hash is checked against the hash of its DuckDB oracle
on the same tables (`expected.json`, written by `make_expected.py`).
"""

from __future__ import annotations

import os
import re
import time
from contextlib import nullcontext

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

_ALIAS = re.compile(r"^a\d+_")


def stable_name(name: str) -> str:
    """Registry name without its driver-window alias prefix (`a15_x` -> `x`),
    so a later rotation does not rename a metric."""
    return _ALIAS.sub("", name)


def bench_queries(names) -> dict:
    """{stable name: registry Query} for `names`, which must all be
    registered (under their own name or a driver-window alias)."""
    from near_public_lakehouse_spark.queries import all_queries

    found = {stable_name(n): q for n, q in all_queries().items() if stable_name(n) in names}
    missing = set(names) - set(found)
    if missing:
        raise KeyError(f"queries not in the registry: {sorted(missing)}")
    return {n: found[n] for n in names}


def run_pass(spark, data_dir: str, queries: dict, tracer=None) -> list[dict]:
    """Call each query once; the timed call collects the result to the
    driver (through pandas, as the oracle comparison does). One record per
    query: name and wall, and the result or the error."""
    out = []
    for name, q in queries.items():
        rec = {"name": name}
        t0 = time.time()
        try:
            with tracer.span(f"queries.{name}", "query") if tracer else nullcontext():
                rec["result"] = q.fn(spark, data_dir).toPandas()
            rec["s"] = time.time() - t0
        except Exception as e:  # counted as a failed operation by the caller
            rec["error"] = repr(e)
        out.append(rec)
    return out


def result_digest(pdf) -> str:
    """`testing.compare.result_hash` of a result collected through pandas."""
    from near_public_lakehouse_spark.testing.compare import result_hash

    return result_hash(list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)])


def oracle_digests(data_dir: str, queries: dict) -> dict[str, str]:
    """The same hash over each query's DuckDB oracle result."""
    from near_public_lakehouse_spark.testing.compare import (
        duckdb_oracle,
        oracle_rows_pandas,
        result_hash,
    )

    con = duckdb_oracle(data_dir)
    try:
        return {n: result_hash(*oracle_rows_pandas(con, q.oracle)) for n, q in queries.items()}
    finally:
        con.close()
