"""Rotating-sample injection-sweep gate for the steady-state loop (CLI).

    python tools/sweep_sample.py [--count 40] [--key N] [--list]

Full census runs of all five degenerate-input sweeps (null, non-finite,
extreme-magnitude, empty, single-row) cost ~5 x 328 op-executions per
session close — too much to keep hot every session. This wrapper keeps
the gates warm at ~1/8 the cost: a DETERMINISTIC rotating sample of
``--count`` ops per rotation key, chosen so consecutive keys tile the
census (every op is sampled once every ceil(328/count) keys, ~9 sessions
at the default 40).

The rotation key defaults to the latest CORRECTNESS_r{N}.json round
number found at the repo root, so each driver round samples a different
deterministic slice with NO extra state; pass --key to pin or replay a
slice. Selection = sort ops by crc32(f"sweep:{key // stride}:{op}") and
take the key-th contiguous block — a keyed shuffle + block walk, so one
full cycle covers every op exactly once.

Runs, per sampled op set:
  * null_sweep      --parity (10% NULL injection)
  * nonfinite_sweep --parity (5% NaN/±Inf injection)
  * extreme_sweep   --parity (5% finite-but-extreme magnitudes)
  * empty_sweep     --rows 0 (zero-row tables)
  * empty_sweep     --rows 1 (single-row degenerate statistics)

Full-census runs remain the rule for rounds that TOUCH guard idioms
(operators/util.py, fix_* migrations); this sampler is the steady-state
heartbeat between them. Exit 0 iff every sweep is green on the sample.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import subprocess
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


SWEEPS = [
    (["tools/null_sweep.py", "--parity"], "null"),
    (["tools/nonfinite_sweep.py", "--parity"], "nonfinite"),
    (["tools/extreme_sweep.py", "--parity"], "extreme"),
    (["tools/empty_sweep.py", "--rows", "0"], "empty"),
    (["tools/empty_sweep.py", "--rows", "1"], "single-row"),
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--count", type=int, default=40)
    ap.add_argument("--key", type=int, default=None,
                    help="rotation key (default: latest CORRECTNESS round)")
    ap.add_argument("--list", action="store_true",
                    help="print the sampled op ids and exit")
    args = ap.parse_args()

    key = args.key if args.key is not None else latest_round()
    ops = sample_ops(key, args.count)
    print(f"rotation key {key}: {len(ops)} sampled ops", flush=True)
    if args.list:
        for o in ops:
            print(f"  {o}")
        return 0

    failed: list[str] = []
    for cmd, name in SWEEPS:
        print(f"\n== {name} sweep over the sample ==", flush=True)
        rc = subprocess.call(
            [sys.executable, *cmd, *ops], cwd=REPO,
        )
        if rc != 0:
            failed.append(name)
    if failed:
        print(f"\nSAMPLE GATE RED: {', '.join(failed)}")
        return 1
    print(f"\nsample gate green: 5 sweeps x {len(ops)} ops (key {key})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
