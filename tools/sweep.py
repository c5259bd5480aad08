"""Degenerate-input robustness sweep over a rotating sample of operators (CLI).

    python tools/sweep.py [--kind null|nonfinite|extreme|empty|single ...]
                          [--count 40] [--key N] [--list] [op_id ...]

Each kind rewrites the sf0.001 tables into a temporary sf dir, then every
checked operator runs against it in ONE Spark session:

  null       10% NULLs in every non-identity column (foreign keys at half
             rate; primary identities stay intact — nulling them is row
             deletion in disguise, the empty kind's class)
  nonfinite  5% non-finite doubles in every float column (NaN at half the
             rate, +Inf and -Inf at a quarter each) and one NaN/Inf lane
             in as many embedding vectors
  extreme    5% finite-but-extreme doubles in the same columns, in four
             magnitude bands (40% ±10^U(12.5,17): overflows DECIMAL(18,s);
             40% ±10^U(250,308): x² overflows; 10% subnormal ±10^-U(308,323);
             10% tiny ±10^-U(10,30)) and one ±10^U(150,300) lane per
             poisoned embedding (norm² overflows, every lane stays finite)
  empty      every table with its schema and 0 rows
  single     ... and 1 row (stddev of one value, windows of width 1,
             self-joins of one row)

An op passes when it returns a DataFrame; for the three value kinds it
must also match its DuckDB oracle on the same poisoned tables (an op
without an oracle falls back to the return check). Injection is
deterministic (PCG64 seeded from crc32 of the column, tagged per kind),
so a failure reproduces exactly on any machine.

The checked ops are op ids when given, else a DETERMINISTIC rotating
sample of ``--count`` ops: the ops sorted by crc32(f"sweep:{cycle}:{op}")
and the key's contiguous block taken, so consecutive keys tile the
registry and every op is sampled once a cycle. The key defaults to the
latest CORRECTNESS_r{N}.json round at the repo root, so each round checks
a different slice with no extra state; ``--key`` replays a slice, and a
``--count`` of at least the registry size is the full census. Exit 0
iff every kind is green on every checked op.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys
import tempfile
import zlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SRC_SF = "/root/testdata/sf0.001"

NULL_RATE = 0.1
NONFINITE_RATE = 0.05
EXTREME_RATE = 0.05

# the primary identity of each table, which the null kind leaves intact
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
# the scalar doubles the nonfinite and extreme kinds poison; the
# embedding vector takes poison in single lanes (a whole-NaN vector is
# the null class, one bad lane passes every shape check and rots the math)
FLOAT_COLS = {
    "customer": ["c_acctbal"],
    "events": ["value"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "part": ["p_retailprice"],
    "supplier": ["s_acctbal"],
}
VECTOR = ("embeddings", "embedding")
# (low, high) share of the rate, and the band's exponent base + width * U
EXTREME_BANDS = (
    (0.0, 0.4, 12.5, 4.5),
    (0.4, 0.8, 250.0, 58.0),
    (0.8, 0.9, -308.0, -15.0),
    (0.9, 1.0, -10.0, -20.0),
)
ROWS = {"empty": 0, "single": 1}  # the kinds that keep N rows of each table
PARITY = ("null", "nonfinite", "extreme")
KINDS = (*PARITY, *ROWS)


def _rng(tag: str):
    import numpy as np

    return np.random.Generator(np.random.PCG64(zlib.crc32(tag.encode())))


def _null(t: str, name: str, col):
    import numpy as np
    import pyarrow as pa

    if name in IDENTITY[t]:
        return col
    rate = NULL_RATE / 2 if name.endswith("key") else NULL_RATE
    vals = col.to_pylist()
    for i in np.flatnonzero(_rng(f"{t}.{name}").random(len(vals)) < rate):
        vals[i] = None
    return pa.array(vals, type=col.type)


def _nonfinite_scalars(vals, rng) -> None:
    import numpy as np

    r = NONFINITE_RATE
    u = rng.random(len(vals))
    vals[u < r / 2] = np.nan
    vals[(u >= r / 2) & (u < r * 0.75)] = np.inf
    vals[(u >= r * 0.75) & (u < r)] = -np.inf


def _nonfinite_lane(u: float, rng) -> float:
    return float("nan") if u < NONFINITE_RATE * 0.75 else float("inf")  # 3:1


def _extreme_scalars(vals, rng) -> None:
    import numpy as np

    n = len(vals)
    u = rng.random(n)
    v = rng.random(n)  # magnitude within band
    sign = np.where(rng.random(n) < 0.5, -1.0, 1.0)
    for lo, hi, base, width in EXTREME_BANDS:
        band = (u >= EXTREME_RATE * lo) & (u < EXTREME_RATE * hi)
        vals[band] = (sign * 10.0 ** (base + width * v))[band]


def _extreme_lane(u: float, rng) -> float:
    mag = 10.0 ** (150.0 + 150.0 * float(rng.random()))
    return mag if rng.random() < 0.5 else -mag


def _float_kind(tag: str, rate: float, scalars, lane):
    """A column transform poisoning ``FLOAT_COLS`` through ``scalars`` and
    one lane of a ``rate`` share of the embedding vectors through ``lane``."""

    def transform(t: str, name: str, col):
        import numpy as np
        import pyarrow as pa

        if name in FLOAT_COLS.get(t, ()):
            vals = np.asarray(col.to_pylist(), dtype=np.float64)
            scalars(vals, _rng(f"{tag}:{t}.{name}"))
            return pa.array(vals, type=col.type)
        if (t, name) != VECTOR:
            return col
        vecs = col.to_pylist()
        rng = _rng(f"{tag}:{t}.{name}")
        u = rng.random(len(vecs))
        for i in np.flatnonzero(u < rate):
            if vecs[i]:
                at = int(rng.integers(0, len(vecs[i])))
                vecs[i][at] = lane(u[i], rng)
        return pa.array(vecs, type=col.type)

    return transform


TRANSFORMS = {
    "null": _null,
    "nonfinite": _float_kind("nf", NONFINITE_RATE, _nonfinite_scalars, _nonfinite_lane),
    "extreme": _float_kind("xm", EXTREME_RATE, _extreme_scalars, _extreme_lane),
}


def build(kind: str, out: str) -> None:
    """Write every table of ``SRC_SF`` into ``out`` as ``kind`` poisons it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    if kind in ROWS:
        con = duckdb.connect()
        for t in IDENTITY:
            con.execute(
                f"COPY (SELECT * FROM '{SRC_SF}/{t}.parquet' LIMIT {ROWS[kind]}) "
                f"TO '{out}/{t}.parquet' (FORMAT parquet)"
            )
        return
    for t in IDENTITY:
        tab = pq.read_table(f"{SRC_SF}/{t}.parquet")
        cols = [TRANSFORMS[kind](t, f.name, tab.column(f.name)) for f in tab.schema]
        pq.write_table(
            pa.Table.from_arrays(cols, schema=tab.schema),
            os.path.join(out, f"{t}.parquet"),
        )


def latest_round() -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0)


def sample_ops(key: int, count: int) -> list[str]:
    from aced_etl_pod_spark.registry import registry

    ids = sorted(registry())
    stride = max(1, -(-len(ids) // count))  # blocks per full cycle
    cycle, block = divmod(key, stride)
    shuffled = sorted(ids, key=lambda o: zlib.crc32(f"sweep:{cycle}:{o}".encode()))
    lo = block * count
    picked = shuffled[lo : lo + count]
    if len(picked) < count:  # last block of the cycle: wrap for full strength
        picked += shuffled[: count - len(picked)]
    return picked


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", nargs="+", choices=KINDS, default=list(KINDS))
    ap.add_argument("--count", type=int, default=40)
    ap.add_argument("--key", type=int, default=None,
                    help="rotation key (default: latest CORRECTNESS round)")
    ap.add_argument("--list", action="store_true",
                    help="print the checked op ids and exit")
    ap.add_argument("ops", nargs="*", help="op ids (default: the rotating sample)")
    args = ap.parse_args()

    key = args.key if args.key is not None else latest_round()
    ops = args.ops or sample_ops(key, args.count)
    print(f"rotation key {key}: {len(ops)} ops", flush=True)
    if args.list:
        for o in ops:
            print(f"  {o}")
        return 0

    from aced_etl_pod_spark.oracle import duck_con
    from aced_etl_pod_spark.session import get_spark
    from tools.parity import run_ops

    spark = get_spark("sweep")
    failed = []
    for kind in args.kind:
        print(f"\n== {kind} sweep ==", flush=True)
        with tempfile.TemporaryDirectory(prefix=f"sweep_{kind}_") as sf:
            build(kind, sf)
            con = duck_con(sf) if kind in PARITY else None
            if run_ops(spark, sf, ops, con, f"{kind} sweep"):
                failed.append(kind)
    if failed:
        print(f"\nSWEEP RED: {', '.join(failed)}")
        return 1
    print(f"\nsweep green: {len(args.kind)} kinds x {len(ops)} ops (key {key})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
