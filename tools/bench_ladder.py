"""Two-engine ladder beyond sf0.1: Spark vs DuckDB on the same tiled files.

    python tools/bench_ladder.py [--scale 10] [--reps 5] [op_id ...]

At sf0.1 every headline query sits on the local-mode job floor
(20-60 ms), so the per-query <=2x gate measures task scheduling, not the
engine. This harness tiles the sf0.1 tables x``--scale``
(``ladder.tile``: key-offset replicas, join cardinalities preserved),
then runs each query on Spark AND its registered DuckDB oracle over the
SAME parquet files, reporting warm medians and the ratio at a scale
where compute dominates. Without op ids it runs the ten headline
queries (``ladder.HEADLINE``) plus the q8 serving extra; with op ids it
runs those registered ops instead, which is how two variants of one
query are A/B'd on the ladder. The dedup ops that verbatim replicas blow
up (``ladder.QUADRATIC``) run on the content-perturbed tiling
(``ladder.perturbed``) against DuckDB over that dir. For example:

    python tools/bench_ladder.py --scale 40 --reps 3 text_tfidf_topk \\
        decontaminate_ngram_overlap dedup_cluster_cc \\
        pipeline_corpus_curation merge_scd2          # the long tail
    python tools/bench_ladder.py --scale 10 --reps 3 dedup_minhash_lsh \\
        text_line_dedup_c4 dedup_incremental_minhash  # the dedup family

Before any timing, each Spark result is checked once against its oracle
with ``oracle.compare_at_scale`` (keys and counts exact, floats within
1e-12 relative) and its row count and plan-construction time
(``build_sec``, layout builds included) printed; a mismatch is reported
in the op's row and the exit code is 1. Timing follows ``ladder``'s
protocol (plan built once, fresh QueryExecution per sample, 2 warmups,
round-robin samples, medians). An op whose second construction still
starts a Spark job computes while it builds its plan (connected
components' checkpointed label rounds, the stream ops' replays), so each
of its samples is timed as construction plus collect.
DuckDB gets the whole machine (its default all-core thread pool) and
reads the identical files, so the ratio is engine-vs-engine on equal
terms.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark import ladder  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("ops", nargs="*", help="registered op ids (default: headline)")
    args = ap.parse_args()
    return run(scale=args.scale, reps=args.reps, ops=args.ops)


def run(
    scale: int | None = None,
    sf_dir: str | None = None,
    reps: int = 5,
    ops: list[str] | None = None,
) -> int:
    """One-command two-engine ladder (also reachable as ``bench.py --sf``).

    Pass ``scale`` to build/reuse the persisted xN tiling of sf0.1, or
    ``sf_dir`` to point at an already-tiled directory."""
    from aced_etl_pod_spark.oracle import compare_at_scale, duck_con
    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.tables import DEFAULT_SF_DIR

    if sf_dir is None:
        assert scale is not None, "run() needs scale or sf_dir"
        sf = ladder.tile(DEFAULT_SF_DIR, scale)
        print(f"scaled dir: {sf} (sf0.1 x {scale})", flush=True)
    else:
        sf = sf_dir
        scale = 0
        print(f"tiled dir: {sf}", flush=True)

    # heap: SPARK_DRIVER_MEM, else half of RAM (session.get_spark); the
    # x800 mix wants 64g or GC pauses inflate it (PLANS.md round-11)
    spark = ladder.session("bench-ladder")
    reg = registry()
    queries = dict(ladder.HEADLINE) if not ops else {o: o for o in ops}
    sfs = {
        name: ladder.perturbed(DEFAULT_SF_DIR, scale)
        if scale and op_id in ladder.QUADRATIC
        else sf
        for name, op_id in queries.items()
    }
    cons = {d: duck_con(d) for d in set(sfs.values())}
    dfs, legs, built = {}, {}, {}
    for name, op_id in queries.items():
        fn, d = reg[op_id].fn, sfs[name]
        t0 = time.perf_counter()
        dfs[name] = fn(spark, d)
        built[name] = time.perf_counter() - t0
        grouped, ungrouped = ladder.jobs_in_group(
            spark, f"construct-{name}", lambda: fn(spark, d)
        )
        legs[name] = (
            (lambda fn=fn, d=d: fn(spark, d).collect())
            if grouped or ungrouped
            else dfs[name]
        )
    sqls = {name: reg[op_id].oracle for name, op_id in queries.items()}
    duck = {
        name: (lambda q=q, c=cons[sfs[name]]: c.execute(q).fetchall())
        for name, q in sqls.items()
    }

    mismatch = {}
    for name, df in dfs.items():
        got = df.toPandas()
        errs = compare_at_scale(got, cons[sfs[name]].execute(sqls[name]).df())
        timed = "with" if legs[name] is not df else "without"
        print(
            f"checked {name}: {len(got)} rows, plan built in {built[name]:.2f} s"
            f" (samples {timed} construction)",
            flush=True,
        )
        if errs:
            print(f"MISMATCH {name}: {'; '.join(errs)}", flush=True)
            mismatch[name] = errs

    # IN-MIX pass, engine order ALTERNATED between reps (round-12
    # verdict item 9): with a fixed spark-then-duck order, every Spark
    # sample ran right after DuckDB's interleaved full-table scans had
    # evicted the layouts from the page cache — q4's headline swung
    # 0.88x (isolated) to 6.4x (in-mix) on cache state alone.
    # Alternation makes the mix tax symmetric; the ISOLATED pass below
    # is the authoritative number for layout-dispatched queries.
    s_samples = ladder.sample(legs, 0)
    d_samples = ladder.sample(duck, 0, warm=1)
    for rep in range(reps):
        order = [(legs, s_samples), (duck, d_samples)]
        for engine, into in order if rep % 2 == 0 else order[::-1]:
            ladder.sample(engine, 1, warm=0, into=into)

    # ISOLATED pass: per query, consecutive same-engine reps with no
    # other query (and no other engine) touching the page cache between
    # samples — the number a dedicated-cluster run would see.
    s_iso = {n: ladder.median_s(leg, reps) for n, leg in legs.items()}
    d_iso = {n: ladder.median_s(leg, reps) for n, leg in duck.items()}

    s_med, d_med = ladder.medians(s_samples), ladder.medians(d_samples)
    rows = {}
    for name in dfs:
        ms, md, msi, mdi = s_med[name], d_med[name], s_iso[name], d_iso[name]
        rows[name] = {
            "spark_sec": ms,
            "duckdb_sec": md,
            "ratio": round(ms / md, 2),
            "spark_iso_sec": round(msi, 4),
            "duckdb_iso_sec": round(mdi, 4),
            "iso_ratio": round(msi / mdi, 2),
            "build_sec": round(built[name], 4),
        }
        if name in mismatch:
            rows[name]["mismatch"] = mismatch[name]
        print(
            f"{name}: spark {ms * 1e3:7.1f} ms  duck {md * 1e3:7.1f} ms "
            f"ratio {ms / md:5.2f}x | iso {msi * 1e3:7.1f}/"
            f"{mdi * 1e3:7.1f} ms = {msi / mdi:5.2f}x",
            flush=True,
        )
    tot_s, tot_d = sum(s_med.values()), sum(d_med.values())
    tot_si, tot_di = sum(s_iso.values()), sum(d_iso.values())
    out = {
        "metric": f"bench_ladder_x{scale}" if scale else "bench_ladder_dir",
        "spark_total_sec": round(tot_s, 4),
        "spark_iso_total_sec": round(tot_si, 4),
        "duckdb_iso_total_sec": round(tot_di, 4),
        "iso_total_ratio": round(tot_si / tot_di, 2),
        "duckdb_total_sec": round(tot_d, 4),
        "total_ratio": round(tot_s / tot_d, 2),
        "queries": rows,
    }
    if not ops:
        # q8 SERVING extra (not in the totals): the persisted-IVF probe
        # vs DuckDB's exact scan of the same tiled embeddings. The index
        # is built once per tiled dir (amortized cost printed).
        out["extra"] = _serve_extra(spark, cons[sf], sf, reg, reps)
    print(json.dumps(out))
    return 1 if mismatch else 0


def _serve_extra(spark, con, sf, reg, reps) -> dict[str, float]:
    from aced_etl_pod_spark.functions.similarity import ivf_index_probe
    from aced_etl_pod_spark.tables import load

    emb = load(spark, sf, "embeddings")
    idx, build = ladder.ivf_index(spark, sf)
    probe = ivf_index_probe(spark, idx, emb.filter("vec_id = 0"), k=10, n_probe=16)
    exact_sql = reg["sim_cosine_topk_fast"].oracle
    serve = ladder.median_s(probe, reps)
    exact = ladder.median_s(lambda: con.execute(exact_sql).fetchall(), reps)
    out = {
        "q8_ivf_serve_sec": round(serve, 4),
        "q8_duck_exact_sec": round(exact, 4),
        "q8_serve_ratio": round(serve / exact, 2),
    }
    if build:
        out["q8_ivf_build_once_sec"] = round(build, 2)
    print(
        f"q8 SERVE extra: ivf probe {serve * 1e3:.1f} ms vs "
        f"duck exact {exact * 1e3:.1f} ms (ratio {out['q8_serve_ratio']}x)",
        flush=True,
    )
    return out


if __name__ == "__main__":
    raise SystemExit(main())
