"""ANN recall-vs-speed ladder (round-11 verdict item 4): the serving
win's SECOND axis. The x800/x3200 ladders prove wall-time; this tool
quantifies what the probe GIVES UP, per n_probe, at the same scales.

    python tools/recall_ladder.py --scale 800 [--queries 64] [--reps 3]
    python tools/recall_ladder.py --dir .scratch/embx3200 [...]

For each n_probe in {4, 8, 16, 32}: batched top-10 over ``--queries``
query vectors from the persisted bucketed IVF index, reporting

  * recall@10 — mean |probe top-10 ∩ exact top-10| / 10 per query. The
    exact baseline is the SAME gemm kernel probing ALL cells (n_probe =
    n_centroids): identical tie-breaks and rounding, so the only
    difference is cells skipped — recall measures exactly the probe's
    approximation, nothing else.
  * batched qps — honest full-re-execution wall for the Q-query batch.
  * probe/exact ratio — ONE query's probe wall at that n_probe vs
    DuckDB's exact full scan of the same parquet (the ladder's serve
    row, now a curve instead of a point at n_probe=16).

The default n_probe for the serving ops should be read off this curve
(the knee where recall saturates), not taken from convention.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=None)
    ap.add_argument("--dir", default=None, help="embeddings-only tiled dir")
    ap.add_argument(
        "--random-n",
        type=int,
        default=None,
        help="use a hash-random corpus of N vectors instead of tiled "
        "replicas. The tiled fixtures replicate each base vector "
        "hundreds of times: every query's true top-k is its own clone "
        "cluster, which maps to ONE cell, so recall is 1.0 at any "
        "n_probe — degenerate by construction. Random vectors give the "
        "standard ANN recall regime (neighbors uncorrelated with cell "
        "boundaries).",
    )
    ap.add_argument(
        "--jitter",
        type=float,
        default=None,
        help="with --scale: per-component uniform jitter in [-J, J] added "
        "to every tiled replica (hash-deterministic). Turns the clone "
        "fixture into a CLUSTERED corpus (2k clusters of `scale` "
        "members) — the realistic middle between clones (recall 1.0 by "
        "construction) and uniform-random (the IVF worst case).",
    )
    ap.add_argument("--queries", type=int, default=64)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--escalate",
        action="store_true",
        help="round-12 escalation tier: extend the n_probe curve to "
        "64/128, and add multiprobe-LSH and IVF-PQ rows (recall + qps) "
        "so the default escalation rule is read off measured curves, "
        "not asserted.",
    )
    args = ap.parse_args()

    import duckdb

    from pyspark.sql import functions as F

    from aced_etl_pod_spark.functions.similarity import (
        ivf_index_probe,
        ivf_index_probe_many,
    )
    from aced_etl_pod_spark import ladder
    from aced_etl_pod_spark.tables import DEFAULT_SF_DIR as SRC
    from aced_etl_pod_spark.tables import fixture, load

    spark = ladder.session("recall-ladder")
    if args.random_n:

        def build(out):
            # deterministic uniform [-0.5, 0.5) components from
            # xxhash64(vec_id, dim index) — pure plan-side, no data dep
            dim = 64
            spark.range(args.random_n).select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(0, {dim - 1}), i -> "
                    "CAST(pmod(xxhash64(id, i), 100000) / 100000.0 - 0.5"
                    " AS FLOAT))"
                ).alias("embedding"),
            ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

        # no source table: the name carries only N
        sf = fixture(f"embrand_{args.random_n}", SRC, (), build)
    elif args.jitter is not None:
        assert args.scale, "--jitter needs --scale"

        def build(out):
            base = load(spark, SRC, "embeddings").select("vec_id", "embedding")
            n_base = base.count()
            j = args.jitter
            tiled = base.crossJoin(
                F.broadcast(
                    spark.range(args.scale).withColumnRenamed("id", "rep")
                )
            ).select(
                (F.col("vec_id") + F.col("rep") * n_base).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, i) -> CAST(x + "
                    f"(pmod(xxhash64(vec_id, rep, i), 100000) / 100000.0"
                    f" - 0.5) * {2 * j} AS FLOAT))"
                ).alias("embedding"),
            )
            tiled.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

        jit = str(args.jitter).replace(".", "p")
        sf = fixture(
            f"embjit_x{args.scale}_{jit}", SRC, ("embeddings.parquet",), build
        )
    else:
        sf = args.dir or ladder.tile(SRC, args.scale)
    emb_path = os.path.join(sf, "embeddings.parquet")
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    tag = os.path.basename(sf.rstrip("/"))

    idx, build_s = ladder.ivf_index(spark, sf)
    if build_s:
        print(f"index built in {build_s:.1f}s", flush=True)
    n_cent = spark.read.parquet(f"{idx}/centroids").count()
    n_vec = emb.count()
    print(f"{tag}: {n_vec} vectors, {n_cent} cells", flush=True)

    step = max(1, n_vec // args.queries)
    qset = emb.filter(F.col("vec_id") % step == 0).limit(args.queries)

    def topk_map(df):
        out: dict[int, list[int]] = {}
        rows = sorted(
            df.collect(), key=lambda r: (r["q_id"], -r["cos_sim"], r["nbr_id"])
        )
        for r in rows:
            out.setdefault(r["q_id"], [])
            if len(out[r["q_id"]]) < args.k:
                out[r["q_id"]].append(r["nbr_id"])
        return out

    # exact baseline: the same kernel probing EVERY cell
    exact_df = ivf_index_probe_many(
        spark, idx, qset, k=args.k, n_probe=n_cent, broadcast_queries=True
    )
    exact = topk_map(exact_df)

    # DuckDB exact scan of one query (the probe/exact denominator)
    con = duckdb.connect()
    (q0,) = [r for r in qset.limit(1).collect()]
    qvec = list(q0["embedding"])
    duck_glob = (
        os.path.join(emb_path, "*.parquet")
        if os.path.isdir(emb_path)
        else emb_path
    )
    duck_sql = f"""
        SELECT vec_id,
               list_dot_product(embedding, ?::FLOAT[]) /
               (sqrt(list_dot_product(embedding, embedding)) *
                sqrt(list_dot_product(?::FLOAT[], ?::FLOAT[]))) AS cos
        FROM '{duck_glob}'
        WHERE vec_id <> ? ORDER BY cos DESC, vec_id LIMIT {args.k}
    """
    params = [qvec, qvec, qvec, q0["vec_id"]]
    duck_exact = ladder.median_s(
        lambda: con.execute(duck_sql, params).fetchall(), args.reps
    )

    curve = []
    probe_list = [4, 8, 16, 32]
    if args.escalate:
        probe_list += [p for p in (64, 128) if p < n_cent]
    for n_probe in probe_list:
        batched = ivf_index_probe_many(
            spark, idx, qset, k=args.k, n_probe=n_probe, broadcast_queries=True
        )
        got = topk_map(ladder.fresh(batched))
        recalls = [
            len(set(got.get(q, [])) & set(ex)) / max(len(ex), 1)
            for q, ex in exact.items()
        ]
        recall = sum(recalls) / len(recalls)
        qps = args.queries / ladder.median_s(batched, args.reps, warm=0)
        single = ladder.median_s(
            ivf_index_probe(spark, idx, qset.limit(1), k=args.k, n_probe=n_probe),
            args.reps,
        )
        row = {
            "n_probe": n_probe,
            "recall_at_k": round(recall, 4),
            "batched_qps": round(qps, 1),
            "single_probe_sec": round(single, 4),
            "probe_exact_ratio": round(single / duck_exact, 3),
        }
        curve.append(row)
        print(row, flush=True)

    extra = {}
    if args.escalate:
        # ---- escalation tier 2: multiprobe sign-LSH (different index
        # family — Hamming-1 neighbor buckets, corpus-sized planes) ----
        from aced_etl_pod_spark.functions.similarity import (
            ann_lsh_multiprobe_topk,
        )

        mp = ann_lsh_multiprobe_topk(
            emb, k=args.k, target_bucket=16, queries=qset
        ).select(F.col("vec_id").alias("q_id"), "nbr_id", "cos_sim")
        got = topk_map(ladder.fresh(mp))
        recalls = [
            len(set(got.get(q, [])) & set(ex)) / max(len(ex), 1)
            for q, ex in exact.items()
        ]
        wall = ladder.median_s(mp, args.reps, warm=0)
        extra["lsh_multiprobe"] = {
            "recall_at_k": round(sum(recalls) / len(recalls), 4),
            "batched_qps": round(args.queries / wall, 1),
        }
        print(f"lsh_multiprobe: {extra['lsh_multiprobe']}", flush=True)

        # ---- escalation tier 3: IVF-PQ (the registered IVFADC recipe:
        # 16 coarse cells, m=8 residual books, n_probe=4). Its metric is
        # L2 (ADC over residuals), so recall is measured against the
        # exact L2 top-k — metric-honest, not conflated with the cosine
        # baseline. Q=8 single-query jobs (the op's serving shape). ----
        import numpy as np

        from aced_etl_pod_spark.functions.pq import (
            _ordered_sum,
            ivfpq_topk,
            train_codebooks,
        )

        sample_rows = (
            emb.orderBy("vec_id").limit(512).select("embedding").collect()
        )
        S = np.stack(
            [np.asarray(r["embedding"]) for r in sample_rows]
        ).astype(np.float64)
        coarse = train_codebooks(S, m=1, k=16, iters=10)[0]
        assign = _ordered_sum(
            (S[:, None, :] - coarse[None, :, :]) ** 2, axis=2
        ).argmin(axis=1)
        books = train_codebooks(S - coarse[assign], m=8, k=16, iters=10)
        pq_q = qset.limit(8).collect()
        pq_recalls, pq_wall = [], 0.0
        for r0 in pq_q:
            qv = np.asarray(r0["embedding"], dtype=np.float64)
            corpus = emb.filter(F.col("vec_id") != r0["vec_id"])
            t0 = time.perf_counter()
            approx = [
                r["vec_id"]
                for r in ivfpq_topk(
                    corpus, coarse, books, qv, k=args.k, n_probe=4
                ).collect()
            ]
            pq_wall += time.perf_counter() - t0
            ex_l2 = [
                r[0]
                for r in con.execute(
                    f"SELECT vec_id FROM '{duck_glob}' WHERE vec_id <> ? "
                    "ORDER BY list_distance(CAST(embedding AS DOUBLE[]), "
                    f"?::DOUBLE[]), vec_id LIMIT {args.k}",
                    [int(r0["vec_id"]), [float(x) for x in qv]],
                ).fetchall()
            ]
            pq_recalls.append(
                len(set(approx) & set(ex_l2)) / max(len(ex_l2), 1)
            )
        extra["ivf_pq"] = {
            "recall_at_k_vs_exact_l2": round(
                sum(pq_recalls) / len(pq_recalls), 4
            ),
            "batched_qps": round(len(pq_q) / pq_wall, 2),
        }
        print(f"ivf_pq: {extra['ivf_pq']}", flush=True)

    print(json.dumps({
        "metric": f"recall_ladder_{tag}",
        "n_vectors": n_vec,
        "n_cells": n_cent,
        "k": args.k,
        "queries": args.queries,
        "duckdb_exact_sec": round(duck_exact, 4),
        "curve": curve,
        **({"escalation": extra} if extra else {}),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
