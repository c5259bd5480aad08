"""Full-census NaN/Infinity-injection robustness sweep (CLI).

    python tools/nonfinite_sweep.py [--rate 0.05] [--parity] [op_id ...]

Materializes an sf dir that is sf0.001 with non-finite doubles
deterministically injected into every floating-point column (NaN at
half the rate, +Inf and -Inf at a quarter each), including individual
elements of the embeddings vector column, then runs every registered
operator against it — optionally (--parity) comparing each op's Spark
result against its DuckDB oracle on the SAME poisoned tables.

Rationale: the NULL sweep found 104 real divergences; NaN is the other
"value that isn't a value" in production data — sensor glitches,
0.0/0.0 upstream, float casts of 'NaN' strings. Engines disagree about
NaN in subtler ways than NULL (Spark and DuckDB both order NaN last
and group it as equal, but aggregation, casting, rounding, and every
numpy kernel have their own rules), and vector kernels (gemm, argsort,
quantile, covariance) silently poison whole partitions from one NaN.

Injection is deterministic (PCG64 seeded from crc32("nf:"+table.col)),
so failures reproduce exactly across runs and machines. Exit 0 iff
every checked op returns (and, with --parity, matches its oracle).
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

# Floating-point surface of the test schema: scalar doubles per table,
# plus the embeddings vector whose ELEMENTS take poison (a whole-NaN
# vector is the null-vector class, already swept; a single NaN lane is
# the distinct — and nastier — class: shape checks pass, math rots).
FLOAT_COLS = {
    "customer": ["c_acctbal"],
    "events": ["value"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "part": ["p_retailprice"],
    "supplier": ["s_acctbal"],
}
ALL_TABLES = [
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
]


def seeded_rng(tag: str):
    import numpy as np

    return np.random.Generator(np.random.PCG64(zlib.crc32(tag.encode())))


def make_nonfinite_sf(rate: float) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="nfsf_")
    for t in ALL_TABLES:
        tab = pq.read_table(f"{SRC_SF}/{t}.parquet")
        poison_cols = FLOAT_COLS.get(t, [])
        cols = []
        for field in tab.schema:
            col = tab.column(field.name)
            if field.name in poison_cols:
                vals = np.asarray(col.to_pylist(), dtype=np.float64)
                rng = seeded_rng(f"nf:{t}.{field.name}")
                u = rng.random(tab.num_rows)
                vals[u < rate / 2] = np.nan
                vals[(u >= rate / 2) & (u < rate * 0.75)] = np.inf
                vals[(u >= rate * 0.75) & (u < rate)] = -np.inf
                cols.append(pa.array(vals, type=field.type))
            elif t == "embeddings" and field.name == "embedding":
                vecs = col.to_pylist()
                rng = seeded_rng(f"nf:{t}.{field.name}")
                u = rng.random(len(vecs))
                for i in np.flatnonzero(u < rate):
                    v = vecs[i]
                    if not v:
                        continue
                    lane = int(rng.integers(0, len(v)))
                    # 3:1 NaN:Inf, same ratio as the scalar columns
                    v[lane] = float("nan") if u[i] < rate * 0.75 else float("inf")
                cols.append(pa.array(vecs, type=field.type))
            else:
                cols.append(col)
        pq.write_table(
            pa.Table.from_arrays(cols, schema=tab.schema),
            os.path.join(out, f"{t}.parquet"),
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=float, default=0.05)
    ap.add_argument(
        "--parity",
        action="store_true",
        help="also compare each op against its DuckDB oracle on the "
        "poisoned tables (rows-only ops fall back to return-check)",
    )
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    ids = args.ops or sorted(registry())
    spark = get_spark("nonfinite-sweep")
    sf = make_nonfinite_sf(args.rate)
    print(f"non-finite-injected sf at {sf} (rate {args.rate})", flush=True)

    con = None
    if args.parity:
        from aced_etl_pod_spark.oracle import duck_con

        con = duck_con(sf)
    return run_ops(spark, sf, ids, con, f"non-finite sweep (rate {args.rate})")


if __name__ == "__main__":
    raise SystemExit(main())
