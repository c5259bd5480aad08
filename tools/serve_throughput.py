"""ANN serving throughput — sequential vs concurrent vs batched probes.

    python tools/serve_throughput.py [--scale 40] [--queries 32] [--reps 3]

The ladder's q8 SERVE row measures ONE probe's latency. A serving tier
cares about THROUGHPUT: how many top-k queries per second one engine
instance answers. Three execution modes over the same persisted IVF
index (x``scale`` tiled embeddings), same ``--queries`` query vectors:

  * sequential — one ``ivf_index_probe`` plan per query, collected one
    after another. Pays the full local-mode job floor per query: the
    worst shape, and the one the single-probe latency row implies.
  * concurrent — the same per-query plans collected from 8 Python
    threads. Spark's scheduler interleaves independent jobs, so the job
    floors overlap; this is what a naive request-per-query service gets.
  * batched — ALL queries in ONE ``ivf_index_probe_many`` plan (broadcast
    query set, dynamic-partition-pruned union of probed cells, one
    top-k-per-query window). One job floor TOTAL; the Spark-idiomatic
    serving shape for micro-batch inference.

Timed region: plan(s) are built and warmed untimed (honest-protocol
``ladder.fresh`` per sample — a fresh QueryExecution per collect so no
shuffle stage is reused); each rep times the full workload wall and
reports queries/sec. Medians over ``--reps``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=40)
    ap.add_argument("--queries", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--threads", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from aced_etl_pod_spark.functions.similarity import (
        ivf_index_probe,
        ivf_index_probe_many,
    )
    from aced_etl_pod_spark import ladder
    from aced_etl_pod_spark.tables import DEFAULT_SF_DIR, load

    sf = ladder.tile(DEFAULT_SF_DIR, args.scale)
    spark = ladder.session("serve-throughput")
    emb = load(spark, sf, "embeddings")
    idx, build_s = ladder.ivf_index(spark, sf)
    if build_s:
        print(f"index built in {build_s:.1f}s", flush=True)

    qids = list(range(args.queries))
    qset = emb.filter(F.col("vec_id").isin(qids))

    # per-query plans (sequential + concurrent modes), built untimed
    probes = [
        ivf_index_probe(
            spark, idx, emb.filter(F.col("vec_id") == qid), k=10, n_probe=16
        )
        for qid in qids
    ]
    # broadcast_queries=True: the serving batch is construction-bounded
    # (Q = n_queries), the gemm kernel's contract (default is the fully
    # distributed plan — round-11 advice).
    batched = ivf_index_probe_many(
        spark, idx, qset, k=10, n_probe=16, broadcast_queries=True
    )
    for df in probes[:2] + [batched]:
        ladder.clock(df)

    modes: dict[str, list[float]] = {
        "sequential": [],
        "concurrent": [],
        "batched": [],
    }
    n_rows = {}
    for _ in range(args.reps):
        t0 = time.perf_counter()
        n = 0
        for df in probes:
            n += len(ladder.fresh(df).collect())
        modes["sequential"].append(time.perf_counter() - t0)
        n_rows["sequential"] = n

        wrapped = [ladder.fresh(df) for df in probes]
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=args.threads) as ex:
            n = sum(len(r) for r in ex.map(lambda w: w.collect(), wrapped))
        modes["concurrent"].append(time.perf_counter() - t0)
        n_rows["concurrent"] = n

        w = ladder.fresh(batched)
        t0 = time.perf_counter()
        n_rows["batched"] = len(w.collect())
        modes["batched"].append(time.perf_counter() - t0)

    out = {}
    for mode, walls in modes.items():
        med = statistics.median(walls)
        out[mode] = {
            "wall_sec": round(med, 3),
            "qps": round(args.queries / med, 1),
            "rows": n_rows[mode],
        }
        print(
            f"{mode:10s}: {med:7.3f} s for {args.queries} queries "
            f"= {args.queries / med:7.1f} qps ({n_rows[mode]} result rows)",
            flush=True,
        )
    print(
        json.dumps(
            {
                "metric": f"serve_throughput_x{args.scale}",
                "queries": args.queries,
                "threads": args.threads,
                "modes": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
