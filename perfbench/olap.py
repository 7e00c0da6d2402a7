"""``olap``: the registered relational queries, two clients, closed loop.

Each client runs its own seeded permutation of the 13 queries per pass;
each query is the registered DataFrame function plus a collect of its
result, which is checked against the query's DuckDB oracle over the same
tables. All 13 plans are JVM-only (no Python nodes), share
``lineitem``/``orders`` and spend a large share of each query before any
task runs (table loading and DataFrame construction), so this is the
workload that exercises the ``sources``, ``plans`` and ``operators``
layers and shows whether that work serializes across clients.
"""

from __future__ import annotations

import os
import random

import gen
from check import duckdb_for, oracle_digest
from ops import query_op

CLIENTS = 2
#: Scale factor of the generated star schema (lineitem ~ 6M * SF rows).
SF = 0.02
QUERIES = (
    "q05_equality_filter",
    "q06_join3_theta_sort",
    "q13_groupby_agg",
    "q14_argmax_window",
    "q23_outer_join_agg",
    "q25_cumulative_window",
    "q26_time_bucket_agg",
    "xq01_shipping_priority",
    "xq02_local_supplier_volume",
    "xq04_large_volume_customers",
    "xq06_nation_volume_shipping",
    "yq09_product_profit",
    "yq21_sole_return_supplier",
)
OPS_PER_PASS = len(QUERIES)


def prepare(run_dir: str, seed: int) -> dict:
    """Generate the tables and the oracle digest of every query."""
    from spotify_tags_etl_spark.plans import registry

    sf_dir = os.path.join(run_dir, "tpch")
    counts = gen.write_tpch(sf_dir, seed, SF)
    con = duckdb_for(sf_dir)
    try:
        expected = {q: oracle_digest(con, registry.get(q).oracle) for q in QUERIES}
    finally:
        con.close()
    return {"sf_dir": sf_dir, "expected": expected, "sizes": {"sf": SF, **counts}}


def pass_ops(ctx, rng: random.Random) -> list:
    from spotify_tags_etl_spark.plans import registry

    sf_dir = ctx.inputs["sf_dir"]
    return [
        query_op(ctx, q, lambda b=registry.get(q).builder: b(ctx.spark, sf_dir), ctx.inputs["expected"][q])
        for q in rng.sample(QUERIES, len(QUERIES))
    ]


def warm_lanes(ops: list) -> list[list]:
    """The warm pass runs each query once, split over the clients."""
    return [ops[c::CLIENTS] for c in range(CLIENTS)]


def traced_extras(ctx) -> dict[str, float]:
    return {}
