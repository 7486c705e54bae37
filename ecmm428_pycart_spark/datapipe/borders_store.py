"""Write-once store for the Queen-contiguity borders of the two unit
grids the graph and dorling queries start from (protocol:
``datapipe/store.py``).

Round-9 performance program (VERDICT r8 next-4): the heaviest registry
queries (g10 pagerank, g17 k-core, g19 LPA, g22 PPR, g29 HITS, g31
modularity) all derive the SAME dataset before doing any of their own
work — the queen-contiguity borders of the customer unit grid
(``geo_queries._customer_grid`` → ``operators.borders.get_borders``).
That build is three Arrow-UDF stages (WKT→WKB parse, vertex explode,
shared-border-length weight) plus a vertex-keyed shuffle, repeated
identically per query. r14 added the 50x50 orders grid g14's scalable
dorling runs over as a second table.

- ``customer_borders(spark, sf_dir)`` / ``orders2500_borders(...)``
  return ``get_borders``' exact output (focal, neighbor, weight,
  focal_id, neighbor_id) for their grid. Files are hashed + sorted by
  ``focal``, so a node-keyed consumer reads node-clustered row groups.
- Each entry is keyed by its grid's region-id set (count + min/max +
  sum/bit_xor digest, ``c``/``o`` tagged) and by the source of the grid
  builder, the borders operator, the geometry modules and the table's
  fresh builder, so editing any of them invalidates old entries instead
  of silently serving stale edges.
- The store holds EXACTLY the fresh build's rows (a deterministic edge
  SET for a given grid — pinned by tests/test_borders_store.py).
"""

from __future__ import annotations

import inspect
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecmm428_pycart_spark.datapipe import store
from ecmm428_pycart_spark.session import load_table

# region-id fingerprints per sf_dir, memoized per process so repeated
# calls in one gate/bench session pay the fingerprint agg once
_FP_MEMO: dict[str, str] = {}
_FP_MEMO_O: dict[str, str] = {}


def _sources(grid: str, fresh: Callable) -> Callable[[], list[str]]:
    """Everything that determines a grid table's contents (ADVICE r9,
    medium): the grid builder, the borders operator module, the
    geometry modules it calls, and the table's fresh builder."""
    def sources() -> list[str]:
        from ecmm428_pycart_spark.benchmarks import geo_queries
        from ecmm428_pycart_spark.geometry import core as geo_core
        from ecmm428_pycart_spark.geometry import udfs as geo_udfs
        from ecmm428_pycart_spark.operators import borders as borders_op

        return [inspect.getsource(getattr(geo_queries, grid)),
                inspect.getsource(borders_op),
                inspect.getsource(geo_udfs),
                inspect.getsource(geo_core),
                inspect.getsource(fresh)]
    return sources


def _fingerprint(spark: SparkSession, sf_dir: str) -> str:
    """The c_custkey set — the customer grid's region ids."""
    return store.fingerprint(_FP_MEMO, sf_dir, "c", lambda: (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("long").alias("k"))))


def _fingerprint_orders(spark: SparkSession, sf_dir: str) -> str:
    """The DISTINCT o_orderkey % 2500 key set — the grid's actual region
    ids (1,500 sparse cells at sf0.001, all 2,500 from sf0.01 up)."""
    return store.fingerprint(_FP_MEMO_O, sf_dir, "o", lambda: (
        load_table(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % 2500).cast("long").alias("k"))
        .distinct()))


def _fresh_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    return borders


def _fresh_orders2500_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecmm428_pycart_spark.benchmarks.geo_queries import _orders_grid
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _orders_grid(spark, sf_dir).drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    return borders


def _focal_clustered(fresh: Callable) -> store.Write:
    return lambda spark, sf_dir, path: store.write_clustered(
        fresh(spark, sf_dir), path, 8, "focal")


CUSTOMER = store.declare(
    name="customer", store="borders",
    sources=_sources("_customer_grid", _fresh_borders),
    fingerprint=_fingerprint, write=_focal_clustered(_fresh_borders))
ORDERS = store.declare(
    name="orders", store="borders",
    sources=_sources("_orders_grid", _fresh_orders2500_borders),
    fingerprint=_fingerprint_orders,
    write=_focal_clustered(_fresh_orders2500_borders))


def customer_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid's node set (region_idx = c_custkey) WITHOUT the geometry
    build — consumers that need seeds/labels over all nodes read the
    customer keys directly instead of constructing WKT polygons."""
    return (load_table(spark, sf_dir, "customer")
            .select(F.col("c_custkey").cast("long").alias("region_idx")))


def customer_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-grid borders edge table, from the write-once store.

    Schema and values are identical to
    ``get_borders(_customer_grid(...), "region_idx", "geometry",
    idx_field="region_idx")[0]`` — columns (focal, neighbor, weight,
    focal_id, neighbor_id), both edge directions present.
    """
    if store.off():
        return _fresh_borders(spark, sf_dir)
    return spark.read.parquet(store.served(spark, sf_dir, CUSTOMER))


def orders2500_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders-grid (50x50) borders edge table, from the write-once
    store. Schema and values identical to
    ``get_borders(_orders_grid(...), "region_idx", "geometry",
    idx_field="region_idx")[0]``."""
    if store.off():
        return _fresh_orders2500_borders(spark, sf_dir)
    return spark.read.parquet(store.served(spark, sf_dir, ORDERS))
