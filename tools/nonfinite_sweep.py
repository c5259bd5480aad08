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
import time
import traceback
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402

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


def _rng(tag: str):
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
                rng = _rng(f"nf:{t}.{field.name}")
                u = rng.random(tab.num_rows)
                vals[u < rate / 2] = np.nan
                vals[(u >= rate / 2) & (u < rate * 0.75)] = np.inf
                vals[(u >= rate * 0.75) & (u < rate)] = -np.inf
                cols.append(pa.array(vals, type=field.type))
            elif t == "embeddings" and field.name == "embedding":
                vecs = col.to_pylist()
                rng = _rng(f"nf:{t}.{field.name}")
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

    reg = registry()
    ids = args.ops or sorted(reg)
    spark = get_spark("nonfinite-sweep")
    sf = make_nonfinite_sf(args.rate)
    print(f"non-finite-injected sf at {sf} (rate {args.rate})", flush=True)

    con = None
    if args.parity:
        from aced_etl_pod_spark.oracle import duck_con

        con = duck_con(sf)

    n_ok = n_fail = 0
    failures: list[tuple[str, str]] = []
    for op_id in ids:
        if op_id not in reg:
            print(f"?? {op_id}: not registered", flush=True)
            n_fail += 1
            continue
        t0 = time.time()
        try:
            op = reg[op_id]
            sdf = op.fn(spark, sf)
            if args.parity and op.oracle:
                from aced_etl_pod_spark.oracle import compare

                problems = compare(
                    sdf.toPandas(), con.execute(op.oracle).fetchdf()
                )
                if problems:
                    raise AssertionError("; ".join(problems))
                verdict = "parity"
            else:
                verdict = f"{sdf.count()} rows"
            print(f"ok   {op_id}: {verdict} [{time.time() - t0:.1f}s]", flush=True)
            n_ok += 1
        except Exception:
            lines = traceback.format_exc().strip().splitlines()
            msg = next(
                (
                    ln.strip()
                    for ln in reversed(lines)
                    if ("Error" in ln or "Exception" in ln or "Assertion" in ln)
                    and ln.strip() not in ("^", "")
                ),
                lines[-1],
            )
            print(f"FAIL {op_id}: {msg}", flush=True)
            failures.append((op_id, msg))
            n_fail += 1

    print(f"\n== non-finite sweep (rate {args.rate}): {n_ok} ok / {n_fail} failed ==")
    for op_id, msg in failures:
        print(f"   {op_id}: {msg[:160]}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
