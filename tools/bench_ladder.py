"""Bench ladder beyond sf0.1 (verdict r7 "What's missing" item 3).

    python tools/bench_ladder.py [--scale 10] [--reps 5]

At sf0.1 every headline query sits on the local-mode job floor
(20-60 ms), so the per-query ≤2× gate measures task scheduling, not the
engine. This harness tiles the sf0.1 tables ×``--scale`` with
key-offset replicas (join cardinalities preserved: every fact key is
offset per replica, the constant star dims — nation/region — are NOT
tiled), then runs each headline query on Spark AND its registered
DuckDB oracle on the SAME scaled parquet files, reporting warm medians
and the ratio at a scale where compute dominates.

Protocol mirrors bench.py (plan built once, AQE off, 2 warmups,
round-robin samples, median); DuckDB gets the whole machine (its
default all-core thread pool) and reads the identical files, so the
ratio is engine-vs-engine on equal terms, not engine-vs-baseline-file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_LADDER_SRC", "/root/testdata/sf0.1")

# per-table key columns to offset per replica (join integrity): every
# column here gets `+ r * span(col)` so replicas never collide
KEY_OFFSETS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
CONST_DIMS = ["nation", "region"]  # 25/5 rows at EVERY scale factor

BENCH_QUERIES = {
    "q1_pricing_summary": "agg_group_sums",
    "q2_star_join": "join_multiway_star",
    "q3_topk_window": "win_row_number_topk",
    "q4_semi_anti": "join_left_semi",  # layout-dispatches to bucketed past 1M orders (r11)
    "q5_tumbling": "agg_time_bucket",
    "q6_json_extract": "fn_json",
    "q7_token_stats": "text_tokenize_stats",  # size-dispatched kernel (r10)
    "q8_cosine_topk": "sim_cosine_topk",  # r12: dispatches to the arrow kernel at scale
    "q9_rollup": "agg_rollup_partial_reagg",  # r10: no-EXPAND shape, 1.6x at x200
    "q10_distinct": "agg_distinct_count",  # kernel-dispatches to bitmask past 1M events (r11)
}


def build_scaled(scale: int, src: str | None = None) -> str:
    import duckdb

    from aced_etl_pod_spark.tables import fixture

    SRC = src or globals()["SRC"]

    def build(out):
        con = duckdb.connect()
        for t, keys in KEY_OFFSETS.items():
            cols = [
                r[0]
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'"
                ).fetchall()
            ]
            spans = {
                k: con.execute(
                    f"SELECT coalesce(max({k}), 0) + 1 FROM '{SRC}/{t}.parquet'"
                ).fetchone()[0]
                for k in keys
            }
            sel = ", ".join(
                f"{c} + r * {spans[c]} AS {c}" if c in keys else c for c in cols
            )
            con.execute(
                f"COPY (SELECT {sel} FROM '{SRC}/{t}.parquet', "
                f"range({scale}) tt(r)) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        for t in CONST_DIMS:
            con.execute(
                f"COPY (SELECT * FROM '{SRC}/{t}.parquet') "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )

    return fixture(f"benchladder_x{scale}", SRC, ("lineitem.parquet",), build)


def ivf_index(spark, sf: str) -> tuple[str, float]:
    """The persisted IVF index over ``sf``'s embeddings, built once per
    source fingerprint, and the seconds this call spent building it
    (0.0 when an earlier build is reused)."""
    from aced_etl_pod_spark.functions.similarity import ivf_index_build
    from aced_etl_pod_spark.tables import fixture, load

    took = []

    def build(tmp):
        t0 = time.perf_counter()
        ivf_index_build(load(spark, sf, "embeddings"), tmp)
        took.append(time.perf_counter() - t0)

    idx = fixture("ivfidx2", sf, ("embeddings.parquet",), build)
    return idx, sum(took)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    return run(scale=args.scale, reps=args.reps)


def run(scale: int | None = None, sf_dir: str | None = None, reps: int = 5) -> int:
    """One-command two-engine ladder (also reachable as ``bench.py --sf``).

    Pass ``scale`` to build/reuse the persisted xN tiling of sf0.1, or
    ``sf_dir`` to point at an already-tiled directory."""
    import duckdb

    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark, pin

    if sf_dir is None:
        assert scale is not None, "run() needs scale or sf_dir"
        sf = build_scaled(scale)
        print(f"scaled dir: {sf} (sf0.1 x {scale})", flush=True)
    else:
        sf = sf_dir
        scale = 0
        print(f"tiled dir: {sf}", flush=True)

    # 64 GB heap for the at-scale ladder (round-11): the default 32 GB
    # GC-throttles the 10-query mix at x800 — q1/q6's allocation
    # pressure raises old-gen occupancy until the bucketed scans' big
    # tasks absorb mixed-GC pauses, inflating q2/q4 2-4x IN THE MIX
    # while their isolated A/Bs stay fast (diagnosed via per-rep sample
    # growth: 3.0 -> 6.0 -> 6.6 s). DuckDB's default budget on this box
    # is ~100 GB (80% of RAM), so 64 GB keeps the comparison on equal
    # terms rather than handicapping one engine. Env-overridable.
    spark = get_spark(
        "bench-ladder",
        shuffle_partitions=32,
        extra_confs={
            "spark.driver.memory": os.environ.get(
                "SPARK_LADDER_MEM", "64g"
            )
        },
    )
    # The tiled tables are ONE parquet file each (DuckDB COPY), so the
    # default 128 MB split size caps scans at 1-3 tasks on this 32-core
    # box while DuckDB parallelizes by row group across all cores — an
    # artifact of the single-file fixture, not of either engine. Force
    # row-group-sized splits so both engines get the machine. (On a real
    # cluster the table IS many files; this pin models that.)
    # 4 MB chosen by grid search at x10 (4/8/16/32 MB; PLANS.md round-9):
    # small enough that every scan saturates the 32 cores, large enough
    # that task-launch overhead stays amortized. AQE stays ON — the
    # engine posture; measured neutral-to-positive under the r9 honest
    # protocol at every scale.
    pin(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.leafNodeDefaultParallelism": "32",
        },
    )
    reg = registry()
    con = duckdb.connect()
    for t in list(KEY_OFFSETS) + CONST_DIMS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )

    dfs, oracles = {}, {}
    for name, op_id in BENCH_QUERIES.items():
        dfs[name] = reg[op_id].fn(spark, sf)
        oracles[name] = reg[op_id].oracle
    # full-re-execution wrapper (r9 protocol correction, see bench.py):
    # re-collecting ONE DataFrame skips completed shuffle map stages, so
    # pre-r9 ladder numbers timed only each query's final stage; a fresh
    # QueryExecution per sample re-runs every stage, matching DuckDB's
    # full re-execution per fetchall()
    from pyspark.sql import functions as F

    def rerun(df):
        w = df.where(F.lit(True))
        w._jdf.queryExecution().executedPlan()  # plan outside the timer
        return w

    for df in dfs.values():
        rerun(df).collect()
        rerun(df).collect()
    for q in oracles.values():
        con.execute(q).fetchall()

    # IN-MIX pass, engine order ALTERNATED between reps (round-12
    # verdict item 9): with a fixed spark-then-duck order, every Spark
    # sample ran right after DuckDB's interleaved full-table scans had
    # evicted the layouts from the page cache — q4's headline swung
    # 0.88x (isolated) to 6.4x (in-mix) on cache state alone.
    # Alternation makes the mix tax symmetric; the ISOLATED pass below
    # is the authoritative number for layout-dispatched queries.
    s_samples = {n: [] for n in dfs}
    d_samples = {n: [] for n in dfs}
    for rep in range(reps):
        engines = ("spark", "duck") if rep % 2 == 0 else ("duck", "spark")
        for eng in engines:
            if eng == "spark":
                for name, df in dfs.items():
                    w = rerun(df)
                    t0 = time.perf_counter()
                    w.collect()
                    s_samples[name].append(time.perf_counter() - t0)
            else:
                for name, q in oracles.items():
                    t0 = time.perf_counter()
                    con.execute(q).fetchall()
                    d_samples[name].append(time.perf_counter() - t0)

    # ISOLATED pass: per query, consecutive same-engine reps with no
    # other query (and no other engine) touching the page cache between
    # samples — the number a dedicated-cluster run would see.
    s_iso = {}
    d_iso = {}
    for name, df in dfs.items():
        rerun(df).collect()  # re-warm after the mix
        ts = []
        for _ in range(reps):
            w = rerun(df)
            t0 = time.perf_counter()
            w.collect()
            ts.append(time.perf_counter() - t0)
        s_iso[name] = statistics.median(ts)
    for name, q in oracles.items():
        con.execute(q).fetchall()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(q).fetchall()
            ts.append(time.perf_counter() - t0)
        d_iso[name] = statistics.median(ts)

    queries = {}
    tot_s = tot_d = tot_s_iso = tot_d_iso = 0.0
    for name in dfs:
        ms = statistics.median(s_samples[name])
        md = statistics.median(d_samples[name])
        msi, mdi = s_iso[name], d_iso[name]
        tot_s += ms
        tot_d += md
        tot_s_iso += msi
        tot_d_iso += mdi
        queries[name] = {
            "spark_sec": round(ms, 4),
            "duckdb_sec": round(md, 4),
            "ratio": round(ms / md, 2),
            "spark_iso_sec": round(msi, 4),
            "duckdb_iso_sec": round(mdi, 4),
            "iso_ratio": round(msi / mdi, 2),
        }
        print(
            f"{name}: spark {ms * 1e3:7.1f} ms  duck {md * 1e3:7.1f} ms "
            f"ratio {ms / md:5.2f}x | iso {msi * 1e3:7.1f}/"
            f"{mdi * 1e3:7.1f} ms = {msi / mdi:5.2f}x",
            flush=True,
        )
    # q8 SERVING extra (not in the totals): the persisted-IVF probe vs
    # DuckDB's exact scan of the same tiled embeddings — the at-scale
    # measurement for the architecture answer to repeated queries. Index
    # built once per tiled dir (cached beside it; amortized cost printed).
    extra = _serve_extra(spark, con, sf, reg, rerun, reps)
    print(
        json.dumps(
            {
                "metric": f"bench_ladder_x{scale}" if scale else "bench_ladder_dir",
                "spark_total_sec": round(tot_s, 4),
                "spark_iso_total_sec": round(tot_s_iso, 4),
                "duckdb_iso_total_sec": round(tot_d_iso, 4),
                "iso_total_ratio": round(tot_s_iso / tot_d_iso, 2),
                "duckdb_total_sec": round(tot_d, 4),
                "total_ratio": round(tot_s / tot_d, 2),
                "queries": queries,
                "extra": extra,
            }
        )
    )
    return 0


def _serve_extra(spark, con, sf, reg, rerun, reps) -> dict[str, float]:
    import statistics as st

    from aced_etl_pod_spark.functions.similarity import ivf_index_probe
    from aced_etl_pod_spark.tables import load

    emb = load(spark, sf, "embeddings")
    idx, build = ivf_index(spark, sf)
    q = emb.filter("vec_id = 0")
    probe = ivf_index_probe(spark, idx, q, k=10, n_probe=16)
    rerun(probe).collect()
    ts = []
    for _ in range(reps):
        w = rerun(probe)
        t0 = time.perf_counter()
        w.collect()
        ts.append(time.perf_counter() - t0)
    exact_sql = reg["sim_cosine_topk_fast"].oracle
    con.execute(exact_sql).fetchall()
    td = []
    for _ in range(reps):
        t0 = time.perf_counter()
        con.execute(exact_sql).fetchall()
        td.append(time.perf_counter() - t0)
    out = {
        "q8_ivf_serve_sec": round(st.median(ts), 4),
        "q8_duck_exact_sec": round(st.median(td), 4),
        "q8_serve_ratio": round(st.median(ts) / st.median(td), 2),
    }
    if build:
        out["q8_ivf_build_once_sec"] = round(build, 2)
    print(
        f"q8 SERVE extra: ivf probe {out['q8_ivf_serve_sec'] * 1e3:.1f} ms vs "
        f"duck exact {out['q8_duck_exact_sec'] * 1e3:.1f} ms "
        f"(ratio {out['q8_serve_ratio']}x)",
        flush=True,
    )
    return out


if __name__ == "__main__":
    raise SystemExit(main())
