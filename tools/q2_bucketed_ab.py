"""q2 star join over the bucketed custkey layout (round-11 follow-on to
the q4 ship: the layout was built to be REUSED by every custkey join —
this measures the claim on q2).

    python tools/q2_bucketed_ab.py [--scale 200] [--reps 5]

current: join_multiway_star (r10 size-dispatched shuffle_hash customer
side — orders exchange + customer exchange into SHJ, then broadcast
nation⋈region, then the 125-key agg exchange).
bucketed: both custkey sides read co-partitioned from the layout — the
join runs with NO exchange; same broadcast dims; same final agg.
"""

from __future__ import annotations

import argparse
import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def q2_bucketed(spark, sf_dir):
    from aced_etl_pod_spark.operators.scale_ops import (
        _bucketed_custkey_tables,
    )
    from aced_etl_pod_spark.operators.util import wsum
    from aced_etl_pod_spark.tables import load

    bo, bc = _bucketed_custkey_tables(spark, sf_dir)
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    return (
        bo.hint("merge")
        .join(bc, bo.o_custkey == bc.c_custkey)
        .join(F.broadcast(nr), bc.c_nationkey == nr.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("order_count"),
            wsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=200)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    import duckdb

    from tools.bench_ladder import build_scaled
    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark, pin

    sf = build_scaled(args.scale)
    spark = get_spark("q2-bucketed-ab", shuffle_partitions=32)
    pin(spark, {
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.leafNodeDefaultParallelism": "32",
    })
    reg = registry()

    # the PLAIN r10 plan, spelled out: join_multiway_star itself
    # layout-dispatches past 1M orders since round 11, so calling it
    # here would compare the bucketed plan against itself
    from aced_etl_pod_spark.operators.util import wsum
    from aced_etl_pod_spark.tables import load

    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    nr = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "r_name")
    plain = (
        orders.join(
            customer.hint("shuffle_hash"),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nr), customer.c_nationkey == nr.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("order_count"),
            wsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    variants = {
        "current": plain,
        "bucketed": q2_bucketed(spark, sf),
    }
    # fp tolerance: at x800 revenue reaches ~1.2e12, where different
    # parallel fold orders (bucketed scan vs shuffled SHJ) legitimately
    # differ by ~1 ULP-accumulation (>= the 2 dp rounding step) — the
    # same nondeterminism class as partial aggregation itself. Keys and
    # counts must match exactly; money agrees to 1e-12 relative.
    a = sorted(tuple(r) for r in variants["current"].collect())
    b = sorted(tuple(r) for r in variants["bucketed"].collect())
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[:3] == rb[:3], (ra, rb)
        assert abs(ra[3] - rb[3]) <= 1e-12 * max(abs(ra[3]), 1.0), (ra, rb)
    print("values agree (money at 1e-12 rel)", flush=True)

    def rerun(df):
        w = df.where(F.lit(True))
        w._jdf.queryExecution().executedPlan()
        return w

    for df in variants.values():
        rerun(df).collect()
        rerun(df).collect()

    con = duckdb.connect()
    for t in ("orders", "customer", "nation", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = reg["join_multiway_star"].oracle
    con.execute(oracle).fetchall()

    samples = {n: [] for n in variants}
    duck = []
    for _ in range(args.reps):
        for name, df in variants.items():
            w = rerun(df)
            t0 = time.perf_counter()
            w.collect()
            samples[name].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        con.execute(oracle).fetchall()
        duck.append(time.perf_counter() - t0)

    med = {n: round(statistics.median(s), 4) for n, s in samples.items()}
    dmed = round(statistics.median(duck), 4)
    print(json.dumps({
        "metric": f"q2_bucketed_ab_x{args.scale}",
        **{f"{n}_sec": v for n, v in med.items()},
        "duckdb_sec": dmed,
        "speedup": round(med["current"] / med["bucketed"], 3),
        "current_ratio": round(med["current"] / dmed, 2),
        "bucketed_ratio": round(med["bucketed"] / dmed, 2),
        "reps": args.reps,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
