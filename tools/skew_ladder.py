"""Skew-join strategy ladder at tiled scale (r8 verdict item 6).

    python tools/skew_ladder.py [--scale 40] [--reps 3]

The r6 measurement proved AQE's skew-split on a synthetic 5 M-row join;
this ladder re-measures at the bench ladder's x40 tiling (24 M lineitem
rows) with a ZIPF-keyed join — one hot key owning ~40% of the fact, a
~600-key tail — against a 1,000-row dim, with broadcast DISABLED so the
sort-merge join's skew is actually exposed (at 100 TB the dim side of a
skewed join is often too big to broadcast; forcing SMJ models that).

Strategies measured on identical inputs (result row-counts asserted
equal):

* ``smj_plain``    — forced SMJ, AQE off: the straggler baseline (one
                     task owns the hot key's partition).
* ``smj_aqe_skew`` — forced SMJ, AQE + skewJoin on (thresholds scaled to
                     the local harness as in the r6 run): runtime split
                     of the hot partition.
* ``salted``       — plans/scale.salted_join_small_skew, AQE off: the
                     design-time fix — the hot key pre-splits across
                     (key, salt) pairs so no skewed shuffle partition is
                     ever WRITTEN (AQE can only split what it reads).
* ``bucketed``     — both sides bucketed on the key, merge join, AQE
                     off: expected NOT to help — bucketing amortizes the
                     exchange for recurring joins but the hot key still
                     lands in one bucket/task. Measured to document the
                     division of labor, not to win.
* ``broadcast``    — dim broadcast (what the planner picks when allowed):
                     the reference floor; skew is irrelevant without a
                     fact-side shuffle.

Output: one JSON line with per-strategy warm medians; paste into
PLANS.md's round-9 skew table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from aced_etl_pod_spark import ladder  # noqa: E402

HOT_PCT = 40  # % of fact rows remapped onto the single hot key
N_KEYS = 1000

# local-harness skew thresholds (r6 calibration): the x40 hot partition is
# ~200 MB on disk; 8 MB/4 MB makes AQE class it skewed and split it to
# advisory-size chunks just as the production defaults (256 MB/64 MB)
# would at real scale
AQE_SKEW = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4MB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
}
AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=40)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from aced_etl_pod_spark.plans.scale import (
        salted_join_small_skew,
        write_bucketed,
    )
    from aced_etl_pod_spark.tables import DEFAULT_SF_DIR

    sf = ladder.tile(DEFAULT_SF_DIR, args.scale)
    spark = ladder.session("skew-ladder", split=None)
    # broadcast off for every strategy except the explicit reference row
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # Zipf-keyed fact: pmod(hash) is uniform over N_KEYS; folding the
    # bottom HOT_PCT% onto key 0 yields one mega-key + a uniform tail.
    fact = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .select(
            F.when(
                F.pmod(F.hash("l_orderkey", "l_linenumber"), N_KEYS) < HOT_PCT * 10,
                F.lit(0),
            )
            .otherwise(F.pmod(F.hash("l_orderkey", "l_linenumber"), N_KEYS))
            .cast("long")
            .alias("zkey"),
            "l_quantity",
        )
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("zkey"), (F.col("id") % 25).alias("grp")
    )
    n_fact = fact.count()
    hot = fact.filter("zkey = 0").count()
    print(
        f"fact {n_fact:,} rows, hot key = {hot:,} ({100.0 * hot / n_fact:.1f}%)",
        flush=True,
    )

    def agg(joined):
        return joined.groupBy("grp").agg(
            F.count("*").alias("n"), F.sum("l_quantity").alias("qty")
        )

    strategies = {
        "smj_plain": (AQE_OFF, lambda: agg(fact.hint("merge").join(dim, "zkey"))),
        "smj_aqe_skew": (
            AQE_SKEW,
            lambda: agg(fact.hint("merge").join(dim, "zkey")),
        ),
        "salted": (
            AQE_OFF,
            lambda: agg(salted_join_small_skew(fact, dim, "zkey", n_salt=32)),
        ),
        "bucketed": (AQE_OFF, None),  # built below (needs the write)
        "broadcast": (
            AQE_OFF,
            lambda: agg(fact.join(F.broadcast(dim), "zkey")),
        ),
    }

    write_bucketed(spark, fact, "skew_fact", "zkey", n_buckets=32)
    write_bucketed(spark, dim, "skew_dim", "zkey", n_buckets=32)
    strategies["bucketed"] = (
        AQE_OFF,
        lambda: agg(
            spark.table("skew_fact").hint("merge").join(spark.table("skew_dim"), "zkey")
        ),
    )

    # full re-execution per sample (ladder.fresh): re-collecting one
    # DataFrame skips the shuffle map stages — exactly the work a skew
    # measurement exists to time
    results, counts = {}, {}
    for name, (conf, build) in strategies.items():
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = build()
        counts[name] = df.count()  # warmup + row-count cross-check
        results[name] = round(ladder.median_s(df, args.reps, warm=0), 3)
        print(f"{name:14s} {results[name]:7.3f} s  (rows {counts[name]})", flush=True)
        for k in conf:
            spark.conf.unset(k)

    assert len(set(counts.values())) == 1, f"strategy results differ: {counts}"
    print(
        json.dumps(
            {
                "metric": f"skew_join_ladder_x{args.scale}",
                "fact_rows": n_fact,
                "hot_key_rows": hot,
                "strategies_sec": results,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
