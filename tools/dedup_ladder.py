r"""At-scale ladder for the LLM dedup family (round-12 verdict item 5:
the family's scale posture was design-argued and sf0.1-verified, but had
no measured ladder row).

    python tools/dedup_ladder.py [--scales 10 40] [--reps 3]

Tiling is CONTENT-PERTURBED, unlike bench_ladder's: plain key-offset
tiling copies every document's text verbatim, so all N replicas of a doc
are EXACT near-dups of each other — minhash/line-dedup candidate pairs
then grow O(N²) per original and the ladder measures the clone
artifact, not the operator. Here every word gets a per-replica suffix
(``regexp_replace(text, '(\S+)', '\0x<r>', 'g')``), so replicas share
ZERO shingles/lines across tiles while each tile preserves the
original's internal near-dup structure — pair counts should scale ~xN
(linear), and any super-linear growth is a real operator blowup.

Per (op, scale): Spark wall (warm medians, full re-execution wrapper),
DuckDB oracle wall, result row count (candidate/verified pairs), and a
sorted-rows equality check against the oracle — the dedup ops' results
must stay EXACT at every scale, not just at sf0.01.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"

OPS = ("dedup_minhash_lsh", "text_line_dedup_c4", "dedup_incremental_minhash")


def parse_ops(argv_ops):
    return tuple(argv_ops) if argv_ops else OPS


def build_perturbed(scale: int) -> str:
    import duckdb

    from aced_etl_pod_spark.tables import fixture

    def build(out):
        con = duckdb.connect()
        span = con.execute(
            f"SELECT coalesce(max(doc_id), 0) + 1 FROM '{SRC}/documents.parquet'"
        ).fetchone()[0]
        con.execute(
            f"""COPY (
                SELECT doc_id + r * {span} AS doc_id,
                       regexp_replace(text, '(\\S+)',
                                      '\\0x' || CAST(r AS VARCHAR), 'g') AS text,
                       lang, source,
                       CAST(length(regexp_replace(text, '(\\S+)',
                            '\\0x' || CAST(r AS VARCHAR), 'g')) AS BIGINT)
                           AS n_chars
                FROM '{SRC}/documents.parquet', range({scale}) tt(r)
            ) TO '{out}/documents.parquet' (FORMAT PARQUET)"""
        )

    return fixture(f"dedupladder_x{scale}", SRC, ("documents.parquet",), build)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 40])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("ops", nargs="*", help="subset of ops (default: all)")
    args = ap.parse_args()
    ops = parse_ops(args.ops)

    import duckdb

    from pyspark.sql import functions as F

    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark, pin

    spark = get_spark("dedup-ladder", shuffle_partitions=32)
    pin(spark, {
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.leafNodeDefaultParallelism": "32",
    })
    reg = registry()

    def rerun(df):
        w = df.where(F.lit(True))
        w._jdf.queryExecution().executedPlan()
        return w

    results = {}
    for scale in args.scales:
        sf = build_perturbed(scale)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        for op_id in ops:
            o = reg[op_id]
            df = o.fn(spark, sf)
            rows = sorted(tuple(r) for r in df.collect())
            t0 = time.perf_counter()
            orows = sorted(tuple(r) for r in con.execute(o.oracle).fetchall())
            duck_first = time.perf_counter() - t0
            match = rows == orows
            # warm medians, both engines
            rerun(df).collect()
            ts = []
            for _ in range(args.reps):
                w = rerun(df)
                t0 = time.perf_counter()
                w.collect()
                ts.append(time.perf_counter() - t0)
            td = [duck_first]
            for _ in range(max(args.reps - 1, 1)):
                t0 = time.perf_counter()
                con.execute(o.oracle).fetchall()
                td.append(time.perf_counter() - t0)
            ms, md = statistics.median(ts), statistics.median(td)
            results[f"{op_id}_x{scale}"] = {
                "rows": len(rows),
                "rows_match": match,
                "spark_sec": round(ms, 3),
                "duckdb_sec": round(md, 3),
                "ratio": round(ms / md, 2),
            }
            print(
                f"x{scale} {op_id}: {len(rows)} pairs/rows "
                f"(match={match}) spark {ms:.2f} s duck {md:.2f} s "
                f"ratio {ms / md:.2f}x",
                flush=True,
            )
    print(json.dumps({"metric": "dedup_ladder", "results": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
