"""At-scale spot rows for the most expensive NON-headline ops (round-13
verdict item 6: the long tail had sf0.01-floor evidence only).

    python tools/longtail_ladder.py [--scale 40] [--reps 3] [op_id ...]

Default op set = the 5 most expensive non-headline ops by sf0.01 parity
wall (the verdict's candidates): text_tfidf_topk,
decontaminate_ngram_overlap, dedup_cluster_cc, pipeline_corpus_curation,
merge_scd2. Each runs on the bench ladder's xN tiling against its
registered DuckDB oracle on the SAME files (bench_ladder protocol: plan
built once, fresh QueryExecution per sample, warm medians, alternating
engine order). Rows are sorted-compared before timing, so every ladder
row stays exact. Output: one JSON line per op.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

DEFAULT_OPS = (
    "text_tfidf_topk",
    "decontaminate_ngram_overlap",
    "dedup_cluster_cc",
    "pipeline_corpus_curation",
    "merge_scd2",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=40)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("ops", nargs="*", default=list(DEFAULT_OPS))
    args = ap.parse_args()
    ops = args.ops or list(DEFAULT_OPS)

    import duckdb

    from aced_etl_pod_spark.oracle import compare, duck_con
    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark, pin
    from tools.bench_ladder import build_scaled

    sf = build_scaled(args.scale)
    spark = get_spark("longtail-ladder", shuffle_partitions=32)
    pin(spark, {
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.leafNodeDefaultParallelism": "32",
    })
    reg = registry()
    con = duck_con(sf)

    # Dedup-family ops must NOT run on the plain key-offset tiling: every
    # replica is an exact content clone of its source, so minhash pairs
    # form scale-sized cliques (x40: 5 k docs × C(40,2) ≈ 3.9 M pair
    # edges) and the oracle's transitive closure explodes — a clone
    # artifact, not the op's behavior (the r12 dedup ladder built
    # content-perturbed tiles for exactly this reason; this session
    # measured the artifact directly: the cc oracle ran 40+ min at 800%
    # CPU on the plain x40 tiling before being killed). Route them to
    # the dedup ladder's perturbed tiling, symlinking the other tables.
    def perturbed_sf() -> str:
        from aced_etl_pod_spark.tables import TABLES
        from tools.dedup_ladder import build_perturbed

        p = build_perturbed(args.scale)
        for t in TABLES:
            dst = os.path.join(p, f"{t}.parquet")
            if not os.path.exists(dst):
                if os.path.lexists(dst):  # dangling link: relink it
                    os.unlink(dst)
                os.symlink(os.path.join(sf, f"{t}.parquet"), dst)
        return p

    PERTURBED_OPS = {"dedup_cluster_cc"}

    def rerun(df):
        w = df.where(F.lit(True))
        w._jdf.queryExecution().executedPlan()
        return w

    rc = 0
    for op_id in ops:
        o = reg[op_id]
        op_sf, op_con = sf, con
        if op_id in PERTURBED_OPS:
            op_sf = perturbed_sf()
            op_con = duck_con(op_sf)
        spark.sparkContext.setJobDescription(f"longtail {op_id} x{args.scale}")
        t0 = time.perf_counter()
        df = o.fn(spark, op_sf)  # plan construction (incl. fixture builds)
        plan_s = time.perf_counter() - t0
        if o.oracle:
            errs = compare(df.toPandas(), op_con.execute(o.oracle).df())
            if errs:
                print(json.dumps({"op": op_id, "error": errs[:3]}))
                rc = 1
                continue
        # warm both engines once, then alternate engine order per rep
        rerun(df).collect()
        if o.oracle:
            op_con.execute(o.oracle).fetchall()
        s_t, d_t = [], []
        for rep in range(args.reps):
            legs = ["spark", "duck"] if rep % 2 == 0 else ["duck", "spark"]
            for leg in legs:
                if leg == "spark":
                    w = rerun(df)
                    t0 = time.perf_counter()
                    w.collect()
                    s_t.append(time.perf_counter() - t0)
                elif o.oracle:
                    t0 = time.perf_counter()
                    op_con.execute(o.oracle).fetchall()
                    d_t.append(time.perf_counter() - t0)
        row = {
            "op": op_id,
            "scale": args.scale,
            "spark_sec": round(statistics.median(s_t), 3),
            "plan_construction_sec": round(plan_s, 3),
            "oracle_match": True,
        }
        if d_t:
            dm = statistics.median(d_t)
            row["duck_sec"] = round(dm, 3)
            row["ratio"] = round(row["spark_sec"] / dm, 2)
        print(json.dumps(row), flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
