"""Full-census degenerate-input robustness sweep (CLI).

    python tools/empty_sweep.py [--rows N] [op_id ...]

Materializes an sf dir whose every table has the RIGHT SCHEMA and N rows
(default 0; DuckDB `LIMIT N` copies of sf0.001), then runs every
registered operator against it. Contract (the round-5/6 curated sweeps,
census-wide since r7): an operator must RETURN a DataFrame — usually
empty or tiny — rather than raise.

--rows 0 is the empty-daily-partition / fresh-tenant case every
scheduled 100 TB pipeline hits routinely; --rows 1 is the degenerate-
statistics case (stddev of one observation is NULL, windows of width 1,
single-sample percentiles, self-joins of one row) — a different crash
class with the same 3am blast radius.

Streaming ops run through the same path as the driver gate (their batch
materialization), so the sweep covers them too. Exit 0 iff every checked
op returns.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402
from tools.parity import run_ops  # noqa: E402

SRC_SF = "/root/testdata/sf0.001"


def make_empty_sf(rows: int = 0) -> str:
    import duckdb

    from aced_etl_pod_spark.tables import TABLES

    out = tempfile.mkdtemp(prefix=f"degen{rows}_sf_")
    con = duckdb.connect()
    for t in TABLES:
        # deterministic slice; rowid-free tables order by their first col
        con.execute(
            f"COPY (SELECT * FROM '{SRC_SF}/{t}.parquet' LIMIT {rows}) "
            f"TO '{out}/{t}.parquet' (FORMAT parquet)"
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    ids = args.ops or sorted(registry())
    spark = get_spark("empty-sweep")
    sf = make_empty_sf(args.rows)
    return run_ops(spark, sf, ids, title=f"empty sweep (rows {args.rows})")


if __name__ == "__main__":
    sys.exit(main())
