"""Decade-up throughput protocol: build a consistent 10× database and
time queries with repeated samples.

Round-8 ran this by hand (docs/SCALE_EXTRAP_r8.md Part 2) with single
samples; the committed caveat — and VERDICT r8 next-5 — is to carry
spread. This tool makes the protocol reproducible: it

1. builds (once, fingerprint-cached) a simulated-sf1 scratch database
   under ``/tmp/pycart_sim_sf1`` from ``--base`` (default sf0.1):
   every SCALED table replicated 10× with CONSISTENT disjoint key
   spaces — copy k remaps every scaled key X → X*10+k across
   customer/orders/lineitem/part/supplier/events TOGETHER, so foreign
   keys stay closed (0 orphans, verified at build) and joins behave
   like a real 10× database. Fixed-size dims (region, nation) and the
   text tables (documents, embeddings — Part 1's corpus protocol is
   separate and adversarial, not clean) copy through unchanged.
2. runs each named query N times (default 3) in one warmed local[32]
   session at BOTH the base sf and the scratch sf1, clearing cache
   between runs, and prints one JSON line with min/median/max per
   entry plus the decade slope log10(median_ratio).

Usage:
  python tools/decade_up.py [--samples 3] [--skip-base] q19_events_hourly ...

Scratch data stays in /tmp and is never committed; the doc artifact is
docs/SCALE_EXTRAP_r9.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
COPIED = ["region", "nation", "documents", "embeddings"]


def build_sim_sf1(spark, base: str, out: str) -> None:
    from pyspark.sql import functions as F

    marker = os.path.join(out, "_BUILT_FROM")
    if os.path.isfile(marker):
        with open(marker) as f:
            if f.read().strip() == base:
                print(f"# scratch {out} already built from {base}",
                      file=sys.stderr)
                return
    os.makedirs(out, exist_ok=True)
    for t, keys in SCALED.items():
        df = spark.read.parquet(os.path.join(base, f"{t}.parquet"))
        df = df.select("*", F.explode(F.sequence(F.lit(0), F.lit(9)))
                       .alias("_k"))
        for c in keys:
            df = df.withColumn(c, (F.col(c) * 10 + F.col("_k"))
                               .cast(dict(df.dtypes)[c]))
        (df.drop("_k").repartition(32)
         .write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet")))
        print(f"# built {t}", file=sys.stderr)
    for t in COPIED:
        (spark.read.parquet(os.path.join(base, f"{t}.parquet"))
         .write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet")))
    # FK closure audit: orphaned l_orderkey / o_custkey must be zero
    li = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(out, "orders.parquet"))
    cu = spark.read.parquet(os.path.join(out, "customer.parquet"))
    orphans = (li.join(od, li.l_orderkey == od.o_orderkey, "left_anti")
               .count()
               + od.join(cu, od.o_custkey == cu.c_custkey, "left_anti")
               .count())
    if orphans:
        raise AssertionError(f"FK closure broken: {orphans} orphans")
    with open(marker, "w") as f:
        f.write(base)
    print(f"# FK closure verified (0 orphans); lineitem rows = "
          f"{li.count()}", file=sys.stderr)


def _stats(runs: list[float]) -> dict:
    return {"min": min(runs), "median": statistics.median(runs),
            "max": max(runs), "runs": runs}


def time_base_vs_scratch(spark, names: list[str], base: str, scratch: str,
                         samples: int, skip_base: bool = False,
                         warm: str = "q01_pricing_summary") -> dict:
    """Shared decade-up measurement loop (also used by
    neardup_corpus.py): each query `samples` times
    at both dirs in one warmed session, cache cleared between runs,
    min/median/max + the decade slope log10(median ratio) per entry.
    ``warm`` must be a query whose tables exist at ``base`` —
    documents-only scratch dirs pass a documents query."""
    from ecmm428_pycart_spark.benchmarks import get_queries

    qs = get_queries()
    qs[warm](spark, base).count()  # warm

    def sample(name: str, sf_dir: str) -> list[float]:
        runs = []
        for _ in range(samples):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        return runs

    out = {"base": base, "scratch": scratch, "samples": samples,
           "queries": {}}
    for name in names:
        entry = {}
        if not skip_base:
            entry["base"] = _stats(sample(name, base))
        entry["sim_sf1"] = _stats(sample(name, scratch))
        if "base" in entry and entry["base"]["median"] > 0:
            ratio = entry["sim_sf1"]["median"] / entry["base"]["median"]
            entry["ratio"] = round(ratio, 2)
            entry["slope"] = round(math.log10(max(ratio, 1e-9)), 2)
        out["queries"][name] = entry
        print(f"# {name}: {entry}", file=sys.stderr)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scratch", default="/tmp/pycart_sim_sf1")
    ap.add_argument("--skip-base", action="store_true",
                    help="time only the sim-sf1 side")
    args = ap.parse_args()

    from ecmm428_pycart_spark.session import get_spark

    spark = get_spark("decade-up")
    build_sim_sf1(spark, args.base, args.scratch)
    print(json.dumps(time_base_vs_scratch(
        spark, args.names, args.base, args.scratch, args.samples,
        args.skip_base)))


if __name__ == "__main__":
    main()
