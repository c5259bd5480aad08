"""Local mirror of the driver's correctness gate (CLI), and the op runner
the injection sweeps share.

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


def error_line(tb: str) -> str:
    """The line of a traceback that names the error: the last one that
    mentions an Error, Exception or Assertion (a Py4J or Spark error
    trails its message with JVM frames), else the last line."""
    lines = tb.strip().splitlines()
    return next(
        (
            ln.strip()
            for ln in reversed(lines)
            if ("Error" in ln or "Exception" in ln or "Assertion" in ln)
            and ln.strip() not in ("^", "")
        ),
        lines[-1],
    )


def run_ops(spark, sf: str, ids: list[str], con=None, title: str = "parity") -> int:
    """Run each op in ``ids`` on ``sf`` and print one ``ok``/``FAIL`` line
    per op, then a summary and the failures. An op passes when it
    returns a DataFrame; with a DuckDB ``con``, an op that has an oracle
    must also match it (``oracle.compare``). Returns the exit code: 0
    iff every op passed."""
    reg = registry()
    failures: list[tuple[str, str]] = []
    for op_id in ids:
        if op_id not in reg:
            print(f"?? {op_id}: not registered", flush=True)
            failures.append((op_id, "not registered"))
            continue
        op = reg[op_id]
        t0 = time.time()
        try:
            sdf = op.fn(spark, sf)
            if con is not None and op.oracle:
                pdf = sdf.toPandas()
                problems = compare(pdf, con.execute(op.oracle).fetchdf())
                if problems:
                    raise AssertionError("; ".join(problems[:6]))
                verdict = f"{len(pdf)} rows, parity"
            else:
                verdict = f"{sdf.count()} rows" + (" (no oracle)" if con is not None else "")
            print(f"ok   {op_id}: {verdict} [{time.time() - t0:.1f}s]", flush=True)
        except Exception:
            msg = error_line(traceback.format_exc())
            print(f"FAIL {op_id}: {msg}", flush=True)
            failures.append((op_id, msg))
    print(f"\n== {title}: {len(ids) - len(failures)} ok / {len(failures)} failed ==")
    for op_id, msg in failures:
        print(f"   {op_id}: {msg[:160]}")
    return 1 if failures else 0


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

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName("parity-vanilla").getOrCreate()
    else:
        spark = get_spark("parity")
    ids = args.ops or sorted(registry())
    return run_ops(spark, args.sf, ids, duck_con(args.sf), f"parity ({args.sf})")


if __name__ == "__main__":
    sys.exit(main())
