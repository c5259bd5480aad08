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
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark import ladder  # noqa: E402

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

    from aced_etl_pod_spark.oracle import compare, duck_con
    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.tables import DEFAULT_SF_DIR

    sf = ladder.tile(DEFAULT_SF_DIR, args.scale)
    spark = ladder.session("longtail-ladder")
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
        legs = {"spark": df}
        if o.oracle:
            legs["duck"] = lambda: op_con.execute(o.oracle).fetchall()
        ladder.sample(legs, 0, warm=1)
        samples = {}
        for rep in range(args.reps):
            order = legs if rep % 2 == 0 else dict(reversed(legs.items()))
            ladder.sample(order, 1, warm=0, into=samples)
        med = ladder.medians(samples)
        row = {
            "op": op_id,
            "scale": args.scale,
            "spark_sec": round(med["spark"], 3),
            "plan_construction_sec": round(plan_s, 3),
            "oracle_match": True,
        }
        if "duck" in med:
            row["duck_sec"] = round(med["duck"], 3)
            row["ratio"] = round(med["spark"] / med["duck"], 2)
        print(json.dumps(row), flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
