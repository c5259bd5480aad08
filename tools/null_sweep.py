"""Full-census NULL-injection robustness sweep (CLI).

    python tools/null_sweep.py [--rate 0.1] [--parity] [op_id ...]

Materializes an sf dir that is sf0.001 with NULLs deterministically
injected into every non-identity column (foreign-key columns at half
rate, identity/primary keys left intact), then runs every registered
operator against it — optionally (--parity) comparing each op's Spark
result against its DuckDB oracle on the SAME null-ridden tables.

Rationale: 100 TB production data is null-ridden; the empty-input and
one-row sweeps each found real crash classes, and the NULL-key join
fuzzers proved three-valued logic agrees cross-engine — this sweep
checks the remaining exposure: operator kernels (numpy codecs, Pandas
UDFs, array math) and oracle SQL that silently ASSUME non-null inputs.

Injection is deterministic (PCG64 seeded from crc32(table.column)), so
failures reproduce exactly across runs and machines. Exit 0 iff every
checked op returns (and, with --parity, matches its oracle).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402
from tools.parity import run_ops  # noqa: E402

SRC_SF = "/root/testdata/sf0.001"

# identity columns stay non-null: nulling a row's PRIMARY identity is
# row deletion in disguise, a different (already-swept) cardinality
# class; everything else — measures, dates, text, embeddings, and
# foreign keys (half rate) — takes nulls.
IDENTITY = {
    "customer": {"c_custkey"},
    "documents": {"doc_id"},
    "embeddings": {"vec_id"},
    "events": {"event_id"},
    "lineitem": {"l_orderkey", "l_linenumber"},
    "nation": {"n_nationkey"},
    "orders": {"o_orderkey"},
    "part": {"p_partkey"},
    "region": {"r_regionkey"},
    "supplier": {"s_suppkey"},
}


def make_null_sf(rate: float) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="nullsf_")
    for t, keep in IDENTITY.items():
        tab = pq.read_table(f"{SRC_SF}/{t}.parquet")
        cols = []
        for field in tab.schema:
            col = tab.column(field.name)
            if field.name in keep:
                cols.append(col)
                continue
            r = rate / 2 if field.name.endswith("key") else rate
            rng = np.random.Generator(
                np.random.PCG64(zlib.crc32(f"{t}.{field.name}".encode()))
            )
            mask = rng.random(tab.num_rows) < r
            vals = col.to_pylist()
            for i in np.flatnonzero(mask):
                vals[i] = None
            cols.append(pa.array(vals, type=field.type))
        pq.write_table(
            pa.Table.from_arrays(cols, schema=tab.schema),
            os.path.join(out, f"{t}.parquet"),
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=float, default=0.1)
    ap.add_argument(
        "--parity",
        action="store_true",
        help="also compare each op against its DuckDB oracle on the "
        "null-injected tables (rows-only ops fall back to return-check)",
    )
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    ids = args.ops or sorted(registry())
    spark = get_spark("null-sweep")
    sf = make_null_sf(args.rate)
    print(f"null-injected sf at {sf} (rate {args.rate})", flush=True)

    con = None
    if args.parity:
        from aced_etl_pod_spark.oracle import duck_con

        con = duck_con(sf)
    return run_ops(spark, sf, ids, con, f"null sweep (rate {args.rate})")


if __name__ == "__main__":
    raise SystemExit(main())
