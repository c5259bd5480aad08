"""Generic interleaved A/B of two (or more) REGISTERED ops on a tiled
bench-ladder directory (round-10 verdict items 3/4/6: q6 variant path,
q4 fused semi+anti, q7 Arrow tokenization).

    python tools/ab_ops.py --dir .scratch/benchladder_x200_* opA opB [--reps 7]
    python tools/ab_ops.py --scale 200 opA opB          # builds/reuses the tiling

Protocol = bench_ladder's honest r9 protocol: every plan is built once
(construction untimed), each timed sample wraps it in ``.where(lit(True))``
so a fresh QueryExecution re-runs every stage (no shuffle-stage reuse),
the fresh plan's executedPlan is materialized BEFORE the timer, samples
are taken in ROUND-ROBIN order (VM latency bursts degrade a minority of
samples for every contender instead of all samples for one), and warm
medians are reported. Row counts are asserted equal across contenders
when --same-rows is set (the default) so a "win" can't come from
computing less.
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="+", help="registered op ids to compare")
    ap.add_argument("--dir", default=None, help="tiled parquet directory")
    ap.add_argument("--scale", type=int, default=None)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--no-same-rows", dest="same_rows", action="store_false")
    args = ap.parse_args()

    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark, pin

    if args.dir is None:
        assert args.scale, "need --dir or --scale"
        from tools.bench_ladder import build_scaled

        args.dir = build_scaled(args.scale)
    print(f"A/B dir: {args.dir}", flush=True)

    spark = get_spark("ab-ops", shuffle_partitions=32)
    pin(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.leafNodeDefaultParallelism": "32",
        },
    )
    reg = registry()
    dfs = {o: reg[o].fn(spark, args.dir) for o in args.ops}

    def rerun(df):
        w = df.where(F.lit(True))
        w._jdf.queryExecution().executedPlan()
        return w

    counts = {o: rerun(df).count() for o, df in dfs.items()}
    if args.same_rows and len(set(counts.values())) != 1:
        print(f"row counts differ: {counts}", flush=True)
    for df in dfs.values():  # 2 warmups each (codegen + HotSpot settle)
        rerun(df).collect()
        rerun(df).collect()

    samples = {o: [] for o in dfs}
    for _ in range(args.reps):
        for o, df in dfs.items():
            w = rerun(df)
            t0 = time.perf_counter()
            w.collect()
            samples[o].append(time.perf_counter() - t0)

    meds = {o: round(statistics.median(s), 4) for o, s in samples.items()}
    base = meds[args.ops[0]]
    out = {
        "metric": "ab_ops",
        "dir": os.path.basename(args.dir.rstrip("/")),
        "medians_sec": meds,
        "rows": counts,
        "vs_first": {
            o: round(m / base, 3) if base else None for o, m in meds.items()
        },
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
