"""Headline benchmark (BASELINE.md B1-B10 equivalents).

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": <sum of medians, sec>, "unit": "sec",
   "queries": {q: sec}, "sf": ...}

Protocol (``aced_etl_pod_spark.ladder``): every plan built once, outside
the timer; each query warmed twice, then 9 round-robin rounds of one
full re-execution per query; median reported. Session/JVM startup
excluded. The session has 32 shuffle partitions and 2 MB scan splits
(``ladder.session("bench", split="2m")``). A second tier re-times the ten
headline queries on the x40 tiling (``extra.tiled_x40``, below).

PROTOCOL CORRECTION (round 9): repeated ``collect()`` on ONE DataFrame
lets Spark SKIP every completed shuffle map stage (shuffle files outlive
the action; the UI shows them as "skipped stages"), so rounds 1-8 timed
only the final stage of every multi-stage query while DuckDB re-executed
its full pipeline each rep — measured at x40: a forced 24 M-row SMJ
"re-collected" in 75 ms vs 1.4 s actually re-executed. Each timed sample
now wraps the prebuilt plan in ``.where(lit(True))`` (``ladder.fresh``):
a fresh QueryExecution → new shuffle IDs → every stage re-runs, while the
only added driver work is the optimizer pass DuckDB equally pays per
``execute()``. Plan CONSTRUCTION (the operator fn, incl. any build-time
jobs) stays outside the timed region, same as before — and so does the
wrapper's Catalyst re-optimization: the fresh QueryExecution's
executedPlan is materialized BEFORE the timer starts (Spark's optimizer
on a wide expression tree costs 100s of ms where DuckDB's parse+plan is
sub-ms; planning is a per-query constant that washes out at scale and
BASELINE's protocol already excludes it). Timed region = job submission
+ every stage's execution. BENCH_r01-r08 values are not comparable
across this boundary; both protocols' r9 numbers are recorded in
PLANS.md round-9.

``--sf xN`` (e.g. ``--sf x10`` ~ sf1, ``--sf x40`` ~ sf4) instead runs the
ENGINE-VS-ENGINE ladder in one command: tile the sf0.1 tables xN
(``ladder.tile``: key-offset replicas, persisted under .scratch, built
once per testdata generation), then run every headline query on Spark AND
its DuckDB oracle over the SAME files (tools/bench_ladder.py; DuckDB sf1 reference numbers
recorded in BASELINE.md's appendix). ``--sf <dir>`` runs the same
two-engine comparison on an already-built tiled directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aced_etl_pod_spark import ladder
from aced_etl_pod_spark.registry import registry

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# B5 is the BATCH equivalent of the tumbling window (BASELINE measures the
# batch shape; the streaming op's file-replay materialization is a harness
# cost, not a query cost) — registered as agg_time_bucket.
#
# q8 headline = the INDEXED serving path since round 9 (r8 verdict item 3
# decision, PLANS.md round-9): a persisted IVF index is built ONCE before
# the timing loop (untimed, reported as extra.q8_ivf_build_once — the
# amortized cost), and the timed row is the partition-pruned probe +
# exact re-rank — the architecture answer for repeated queries against a
# static corpus, and the only q8 shape that survives 100 TB. The honest
# exact full-scan kernel (sim_cosine_topk_fast, oracle-checked) runs in
# the SAME round-robin and is reported as extra.q8_exact_scan: it is
# Arrow-transfer-bound Python at ~3x DuckDB's fused native kernel on
# every scale the ladder measured — a documented kernel-floor gap, not a
# plan gap (both engines scale linearly; the IVF row is the scale path).
BENCH_QUERIES = {n: q for n, q in ladder.HEADLINE.items() if n != "q8_cosine_topk"}
EXACT_Q8_OP = "sim_cosine_topk_fast"

# Knee-crossing second tier (round-13 verdict item 2): every sf0.1 median
# sits in the 0.12-0.30 s local-mode job-floor band REGARDLESS of plan
# (the 8-core vs 32-core ratios are ~1), so round-over-round PERF on the
# contract numbers reads noise. This tier re-times the same queries on
# the persisted x40 tiling of the SAME source dir (24 M lineitem / 4 M
# events / 200 k docs / 80 k vectors — past every dispatch knee except
# q7's 1 M-doc ingest tier, whose Arrow-kernel dispatch still differs
# from sf0.1), where plans DIFFER and a real regression moves the
# numbers. Reported under extra.tiled_x40 — the sanctioned extra
# channel; "queries"/"value" keep the exact sf0.1 contract semantics and
# the output stays ONE JSON line. Layout/fixture builds happen at plan
# construction (outside the timed region, as everywhere); the tile build
# is cached under scratch keyed on the source fingerprint. Adds ~1-3 min
# cold, well under a minute warm; SPARK_GRAFT_TILED=0 skips it, and any
# failure degrades to a note in extra rather than touching the contract.
TILED_SCALE = int(os.environ.get("SPARK_GRAFT_TILED_SCALE", "40"))
TILED_REPS = 3


def _tiled_tier(spark):
    if os.environ.get("SPARK_GRAFT_TILED", "1") == "0":
        return None
    try:
        reg = registry()
        sf = ladder.tile(SF_DIR, TILED_SCALE)
        dfs = {name: reg[q].fn(spark, sf) for name, q in ladder.HEADLINE.items()}
        spark.sparkContext.setJobDescription(f"bench tiled x{TILED_SCALE}")
        samples = ladder.sample(dfs, TILED_REPS, warm=1)
        spark.sparkContext.setJobDescription(None)
        return ladder.medians(samples)
    except Exception as e:  # never let the tier break the contract line
        return {"error": f"{type(e).__name__}: {e}"[:300]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--sf",
        default=None,
        help="xN (tile sf0.1 xN and run the two-engine ladder) or a "
        "tiled directory; omit for the driver-contract sf0.1 bench",
    )
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    if args.sf is not None:
        from tools.bench_ladder import run as ladder_run

        if args.sf.startswith("x") and args.sf[1:].isdigit():
            raise SystemExit(ladder_run(scale=int(args.sf[1:]), reps=args.reps))
        raise SystemExit(ladder_run(sf_dir=args.sf, reps=args.reps))

    # r9 posture: the bench runs the ENGINE session as-is (AQE + skew
    # handling ON — under honest full re-execution AQE's runtime
    # re-planning is part of Spark's real cost/benefit, and the r9 grid
    # measured it neutral-to-positive at every scale). The only pins are
    # scan-split sizing: the test tables are ONE parquet file each, so the
    # 128 MB default split caps scans at 1 task on a 32-core box — 2 MB
    # splits saturate the machine (grid-searched at sf0.1 and x10;
    # PLANS.md round-9). On a real cluster tables are many files and this
    # pin is a no-op.
    spark = ladder.session("bench", split="2m")
    reg = registry()
    # Build every plan once, warm each twice (codegen compile + HotSpot
    # tiered-compile settle), then time in ROUND-ROBIN order: one sample of
    # every query per round. The harness VM has multi-second latency bursts;
    # interleaving spreads each query's samples across the whole bench
    # window so a burst degrades a minority of samples for every query
    # (absorbed by the median) instead of all samples for one query.
    dfs = {name: reg[q].fn(spark, SF_DIR) for name, q in BENCH_QUERIES.items()}
    # q8: persisted-IVF probe headline + exact-scan extra, same round-robin
    import shutil
    import tempfile

    from aced_etl_pod_spark.functions.similarity import (
        ivf_index_build,
        ivf_index_probe,
    )
    from aced_etl_pod_spark.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    ivf_path = tempfile.mkdtemp(prefix="ivf_bench_")
    t0 = time.perf_counter()
    ivf_index_build(emb, ivf_path)
    build_once = time.perf_counter() - t0
    dfs["q8_cosine_topk"] = ivf_index_probe(
        spark, ivf_path, emb.filter("vec_id = 0"), k=10, n_probe=16
    )
    dfs["q8_exact_scan"] = reg[EXACT_Q8_OP].fn(spark, SF_DIR)
    # full-re-execution samples (see module docstring): a fresh
    # QueryExecution per sample so no shuffle map stage is ever skipped;
    # its planning happens OUTSIDE the timer
    try:
        results = ladder.medians(ladder.sample(dfs, 9, warm=2))
    finally:
        shutil.rmtree(ivf_path, ignore_errors=True)
    extra = {
        "q8_exact_scan": results.pop("q8_exact_scan"),
        "q8_ivf_build_once": round(build_once, 4),
    }
    tiled = _tiled_tier(spark)
    if tiled is not None:
        extra[f"tiled_x{TILED_SCALE}"] = tiled
    total = round(sum(results.values()), 4)
    print(
        json.dumps(
            {
                "metric": "b1_b10_total_median_sec",
                "value": total,
                "unit": "sec",
                "queries": results,
                "extra": extra,
                "sf": SF_DIR,
                "protocol": "full-reexec-per-sample (r9: defeats "
                "shuffle-stage reuse; r1-r8 not comparable)",
            }
        )
    )


if __name__ == "__main__":
    main()
