"""Plan census: build every registered operator's executed plan once (no
execution) and check it two ways.

Scan-filter audit. Catalyst's infer-filters-from-generate + projection
collapse can push a derived predicate (e.g. ``size(transform(...)) > 0``)
into the parquet scan, re-evaluating the plan's most expensive expression
once per row per appearance (docs/SCALE.md §11; found as a 3×
re-evaluation / 4× slowdown in ``dedup_ngram_containment``). A scan whose
DataFilters contain an expensive-expression marker is a FLAG. Cheap
markers (``split(`` alone) are reported as INFO: re-running a split in a
filter doubles a cheap op; re-running a transform chain triples an
expensive one.

Shuffle budget. Every ``Exchange hashpartitioning/rangepartitioning/
SinglePartition`` is a full shuffle of that stage's rows — at 100 TB, the
cost center. Each op's shuffle count is compared with its entry in
``docs/SHUFFLE_BUDGET.json``: more is REGRESSED (a lost broadcast hint, a
new non-colocated join, an accidental repartition), fewer is TIGHTEN
(rerun with ``--write`` to ratchet), no entry is NEW. Broadcast exchanges
are recorded but not gated — a broadcast is the cheap alternative we
usually want more of. Counts come from the pre-AQE plan (built, not run),
so they are deterministic: AQE can only merge or skip exchanges at
runtime, never add them. The iterative graph ops (SSSP, BFS, LPA) count
printed LINEAGE: per-round ``.cache()`` reprints a round's subtree at
every reference, so the count is inflated but stable, and a regression
still shows as an increase (docs/SCALE.md).

    python tools/plan_audit.py [--write] [op_id ...]

Exit code 1 on any FLAG, REGRESSED, NEW or ERR (an op that fails to
plan), or, on a full census, a budgeted op the census did not check.
``--write`` records the counts instead of comparing them: a full census
rewrites the budget, op ids merge into it; nothing is written while an op
fails to plan.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
BUDGET_PATH = os.path.join(os.path.dirname(__file__), "..", "docs", "SHUFFLE_BUDGET.json")

EXPENSIVE = (
    "transform(",
    "array_distinct(",
    "aggregate(",
    "regexp_replace(",
    "regexp_extract_all(",
    "md5(",
    "sha2(",
    "arrays_zip(",
)
INFO_ONLY = ("split(",)
# The sanctioned cheap-guard shape (docs/SCALE.md §11): a token-count
# bound `size(split(<normalize>(text))) >= n` placed BEFORE an expensive
# gram projection. It re-runs at most the tokenizer in the scan filter
# (never the gram/distinct/signature chain) — that bound is the point of
# the pattern, so expensive markers nested INSIDE the guard's tokenizer
# (normalize = lower/trim/regexp_replace under size(split()) report as
# info, not a flag. The plan's DataFilters string is truncated by Spark,
# so the check is positional: a marker only flags when it appears before
# the guard opens (i.e. outside it).
GUARD = "size(split("

_SHUFFLE = re.compile(r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)")
_BROADCAST = re.compile(r"\bBroadcastExchange\b")


def _batch_twin_patches():
    """Patches turning the replay harness into its batch equivalent
    (read_stream → spark.read, run_to_memory → identity,
    run_foreach_batch → one direct epoch-0 call). Catalyst plans the twin
    with the same rules it applies to each micro-batch."""
    from contextlib import ExitStack
    from unittest import mock

    from aced_etl_pod_spark.operators import streaming_ops as so
    from aced_etl_pod_spark.streaming import replay as rp

    def batch_read(spark, src_dir, schema=None):
        return spark.read.schema(schema or rp.EVENTS_STREAM_SCHEMA).parquet(src_dir)

    def batch_sink(result, name, mode):
        return result

    def batch_foreach(result, sink_fn):
        sink_fn(result, 0)

    stack = ExitStack()
    for m in (so, rp):
        stack.enter_context(mock.patch.object(m, "read_stream", batch_read))
        stack.enter_context(mock.patch.object(m, "run_to_memory", batch_sink))
        stack.enter_context(mock.patch.object(m, "run_foreach_batch", batch_foreach))
    return stack


def build_plan(spark, op_id: str) -> str:
    """Executed-plan string for an op: its explicit batch twin when it
    has one (streaming-only APIs), else the op under the replay patches
    for the other ``stream_*`` ops, else the op itself."""
    from aced_etl_pod_spark.operators.streaming_ops import PLAN_TWINS

    if op_id in PLAN_TWINS:
        df = PLAN_TWINS[op_id](spark, SF)
    elif op_id.startswith("stream_"):
        with _batch_twin_patches():
            df = registry()[op_id].fn(spark, SF)
    else:
        df = registry()[op_id].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def scan_filter_hits(plan: str) -> tuple[str | None, bool]:
    """(the first expensive marker re-evaluated in a scan filter, whether
    a cheap one is)."""
    hit, info = None, False
    for scan in re.findall(r"DataFilters: \[(.*?)\], Format", plan, re.S):
        g = scan.find(GUARD)
        hit = hit or next(
            (m for m in EXPENSIVE if m in scan and (g < 0 or scan.find(m) < g)),
            None,
        )
        info = info or any(m in scan for m in INFO_ONLY)
    return hit, info


def count_exchanges(plan: str) -> dict[str, int]:
    return {
        "shuffle": len(_SHUFFLE.findall(plan)),
        "broadcast": len(_BROADCAST.findall(plan)),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true",
                    help="record the exchange counts in the budget file")
    ap.add_argument("ops", nargs="*", help="op ids (default: every registered op)")
    args = ap.parse_args(argv)

    spark = get_spark("plan-audit")
    ids = args.ops or sorted(registry())
    current: dict[str, dict[str, int]] = {}
    flagged, info, errs = [], [], []
    for op_id in ids:
        try:
            plan = build_plan(spark, op_id)
        except Exception as ex:  # build-time failures are their own signal
            errs.append((op_id, f"{type(ex).__name__}: {ex}".splitlines()[0]))
            continue
        current[op_id] = count_exchanges(plan)
        hit, cheap = scan_filter_hits(plan)
        if hit:
            flagged.append((op_id, hit))
        elif cheap:
            info.append(op_id)

    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    for op_id, m in flagged:
        print(f"FLAG {op_id}: {m} re-evaluated in a scan filter")
    for op_id in info:
        print(f"info {op_id}: cheap expr (split) in a scan filter")
    for op_id, e in errs:
        print(f"ERR  {op_id}: {e}")
    print(f"\n{len(flagged)} flagged, {len(info)} info, "
          f"{len(errs)} errors / {len(ids)} planned")

    if args.write:
        if errs:
            print(f"not writing {BUDGET_PATH}: {len(errs)} ops failed to plan")
            return 1
        if args.ops:
            current = {**budget, **current}
        with open(BUDGET_PATH, "w") as f:
            json.dump(current, f, indent=0, sort_keys=True)
            f.write("\n")
        total = sum(c["shuffle"] for c in current.values())
        print(f"wrote {BUDGET_PATH}: {len(current)} ops, "
              f"{total} total shuffle exchanges")
        return 1 if flagged else 0

    regressed, tightened, new = [], [], []
    for op_id, c in sorted(current.items()):
        b = budget.get(op_id)
        if b is None:
            new.append(op_id)
        elif c["shuffle"] > b["shuffle"]:
            regressed.append((op_id, b["shuffle"], c["shuffle"]))
        elif c["shuffle"] < b["shuffle"]:
            tightened.append((op_id, b["shuffle"], c["shuffle"]))
    # ops that failed to plan are already ERR lines
    missing = [] if args.ops else sorted(set(budget) - set(ids))
    for op_id, was, now in regressed:
        print(f"REGRESSED {op_id}: {was} -> {now} shuffle exchanges")
    for op_id, was, now in tightened:
        print(f"TIGHTEN   {op_id}: {was} -> {now} (rerun with --write to ratchet)")
    for op_id in new:
        print(f"NEW       {op_id}: not in budget (rerun with --write to record)")
    for op_id in missing:
        print(f"MISSING   {op_id}: budgeted but not registered")
    print(f"{len(regressed)} regressed, {len(tightened)} tighten, "
          f"{len(new)} new, {len(missing)} missing / {len(current)} checked")
    return 1 if (flagged or errs or regressed or new or missing) else 0


if __name__ == "__main__":
    sys.exit(main())
