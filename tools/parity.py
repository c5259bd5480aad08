"""Local mirror of the driver's correctness gate (CLI).

    python tools/parity.py [--sf /root/testdata/sf0.01] [op_id ...]

Runs every registered operator's Spark query AND its DuckDB oracle on the
same parquet tables; compares row count, column names, canonicalized
values. Exit code 0 iff every checked op matches.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.oracle import compare, duck_con  # noqa: E402
from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a bare untuned SparkSession (exactly what the external "
        "driver provides) instead of the engine's tuned session",
    )
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    reg = registry()
    ids = args.ops or sorted(reg)
    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName("parity-vanilla").getOrCreate()
    else:
        spark = get_spark("parity")
    con = duck_con(args.sf)

    n_pass = n_fail = n_rows_only = 0
    for op_id in ids:
        if op_id not in reg:
            print(f"?? {op_id}: not registered", flush=True)
            n_fail += 1
            continue
        o = reg[op_id]
        t0 = time.time()
        try:
            sdf = o.fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL {op_id}: spark query raised\n{traceback.format_exc()}", flush=True)
            n_fail += 1
            continue
        if o.oracle is None:
            print(f"rows {op_id}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]", flush=True)
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(o.oracle).fetchdf()
        except Exception:
            print(f"FAIL {op_id}: oracle raised\n{traceback.format_exc()}", flush=True)
            n_fail += 1
            continue
        errs = compare(sdf, ddf)
        if errs:
            print(f"FAIL {op_id}: " + "; ".join(errs[:6]), flush=True)
            n_fail += 1
        else:
            print(f"ok   {op_id}: {len(sdf)} rows [{time.time()-t0:.1f}s]", flush=True)
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} failed / {len(ids)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
