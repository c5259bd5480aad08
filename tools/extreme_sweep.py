"""Full-census extreme-magnitude-injection robustness sweep (CLI).

    python tools/extreme_sweep.py [--rate 0.05] [--parity] [op_id ...]

Materializes an sf dir that is sf0.001 with FINITE-but-extreme doubles
deterministically injected into every floating-point column — four
magnitude bands at the given total rate:

  40% "big"      ±10^U(12.5, 17)    — overflows DECIMAL(18,s) but not double
  40% "huge"     ±10^U(250, 308)    — overflows BIGINT images and second
                                      moments (x² = Inf while x is finite)
  10% denormal   ±10^-U(308, 323)   — subnormal doubles
  10% tiny       ±10^-U(10, 30)     — legal but below any money scale

plus one poisoned lane per embedding at the same rate (±10^U(150,300):
norm² overflows while every shape/finite-lane check passes), then runs
every registered operator against it — optionally (--parity) comparing
each op's Spark result against its DuckDB oracle on the SAME tables.

Rationale: the non-finite sweep proved NaN/±Inf survive end-to-end, but
its guards test FINITENESS, not MAGNITUDE. A finite 1e300 sails through
``abs(e) < Inf`` and then takes a *different* divergence path: DuckDB
raises on CAST→DECIMAL / CAST→BIGINT / second-moment overflow, while
non-ANSI Spark silently yields NULL / Long.MaxValue / NaN — and a
vanilla Spark 4 session (ansi.enabled=true by default) raises like
DuckDB. Magnitude-bounded guards close all three behaviors at once.

Injection is deterministic (PCG64 seeded from crc32("xm:"+table.col)),
so failures reproduce exactly. Exit 0 iff every checked op returns
(and, with --parity, matches its oracle).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402
from tools.nonfinite_sweep import ALL_TABLES, FLOAT_COLS, seeded_rng  # noqa: E402
from tools.parity import run_ops  # noqa: E402

SRC_SF = "/root/testdata/sf0.001"


def make_extreme_sf(rate: float) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="xmsf_")
    for t in ALL_TABLES:
        tab = pq.read_table(f"{SRC_SF}/{t}.parquet")
        poison_cols = FLOAT_COLS.get(t, [])
        cols = []
        for field in tab.schema:
            col = tab.column(field.name)
            if field.name in poison_cols:
                vals = np.asarray(col.to_pylist(), dtype=np.float64)
                rng = seeded_rng(f"xm:{t}.{field.name}")
                u = rng.random(tab.num_rows)
                v = rng.random(tab.num_rows)  # magnitude within band
                sign = np.where(rng.random(tab.num_rows) < 0.5, -1.0, 1.0)
                big = u < rate * 0.4
                huge = (u >= rate * 0.4) & (u < rate * 0.8)
                den = (u >= rate * 0.8) & (u < rate * 0.9)
                tiny = (u >= rate * 0.9) & (u < rate)
                vals[big] = (sign * 10.0 ** (12.5 + 4.5 * v))[big]
                vals[huge] = (sign * 10.0 ** (250.0 + 58.0 * v))[huge]
                vals[den] = (sign * 10.0 ** -(308.0 + 15.0 * v))[den]
                vals[tiny] = (sign * 10.0 ** -(10.0 + 20.0 * v))[tiny]
                cols.append(pa.array(vals, type=field.type))
            elif t == "embeddings" and field.name == "embedding":
                vecs = col.to_pylist()
                rng = seeded_rng(f"xm:{t}.{field.name}")
                u = rng.random(len(vecs))
                for i in np.flatnonzero(u < rate):
                    vec = vecs[i]
                    if not vec:
                        continue
                    lane = int(rng.integers(0, len(vec)))
                    mag = 10.0 ** (150.0 + 150.0 * float(rng.random()))
                    vec[lane] = mag if rng.random() < 0.5 else -mag
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
        "extreme tables (rows-only ops fall back to return-check)",
    )
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    ids = args.ops or sorted(registry())
    spark = get_spark("extreme-sweep")
    sf = make_extreme_sf(args.rate)
    print(f"extreme-injected sf at {sf} (rate {args.rate})", flush=True)

    con = None
    if args.parity:
        from aced_etl_pod_spark.oracle import duck_con

        con = duck_con(sf)
    return run_ops(spark, sf, ids, con, f"extreme sweep (rate {args.rate})")


if __name__ == "__main__":
    raise SystemExit(main())
