"""Per-operator shuffle budget: count exchanges in every registered plan.

Every ``Exchange hashpartitioning/rangepartitioning/SinglePartition`` in a
physical plan is a full shuffle of that stage's rows — at 100 TB, the cost
center. This tool builds each registered operator's executed plan (batch
twins for ``stream_*``, same shim as tools/plan_audit.py), counts shuffle
and broadcast exchanges, and records them in ``docs/SHUFFLE_BUDGET.json``.

    python tools/shuffle_budget.py            # regenerate the budget file
    python tools/shuffle_budget.py --check    # fail if any op shuffles MORE
                                              # than its committed budget

``--check`` is the regression gate: a refactor that silently adds an
exchange (a lost broadcast hint, a new non-colocated join, an accidental
repartition) fails loudly with the diff. Counts DROPPING is reported as
TIGHTEN (rerun without --check to ratchet the budget down). Broadcast
exchanges are recorded for visibility but not gated — a broadcast is the
cheap alternative we usually want more of, and plan-level churn there is
benign.

Counting happens on the pre-AQE initial plan (the plan is built, not run),
so the budget is deterministic — AQE can only merge/skip exchanges at
runtime, never add them.

Caveat for the iterative graph ops (SSSP 316, BFS 76, LPA 23): those
counts measure printed LINEAGE, not runtime shuffles. Per-round
``.cache()`` means every reference to a previous round reprints its whole
subtree in the plan text while executing it once — the doubled
self-reference unrolls ~2^rounds copies on paper, O(rounds) on the
cluster (docs/SCALE.md; ops needing >6 rounds use localCheckpoint, which
truncates both). The gate is still sound: the inflated number is stable,
and a regression still shows as an increase.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402
from tools.plan_audit import SF, _batch_twin_patches  # noqa: E402

BUDGET_PATH = os.path.join(os.path.dirname(__file__), "..", "docs", "SHUFFLE_BUDGET.json")

_SHUFFLE = re.compile(r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)")
_BROADCAST = re.compile(r"\bBroadcastExchange\b")


def build_plan(spark, op_id: str, fn) -> str | None:
    """Executed-plan string for an op, via the batch twin for streams.

    Returns None for streaming-only ops that have no batch twin.
    """
    from aced_etl_pod_spark.operators.streaming_ops import PLAN_TWINS

    if op_id in PLAN_TWINS:
        # streaming-only API — explicit batch twin declared beside the op
        df = PLAN_TWINS[op_id](spark, SF)
    elif op_id.startswith("stream_"):
        with _batch_twin_patches():
            df = fn(spark, SF)
        if df.isStreaming:
            return None
    else:
        df = fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(plan: str) -> dict[str, int]:
    return {
        "shuffle": len(_SHUFFLE.findall(plan)),
        "broadcast": len(_BROADCAST.findall(plan)),
    }


def main() -> int:
    check = "--check" in sys.argv
    ids = [a for a in sys.argv[1:] if not a.startswith("--")]
    spark = get_spark("shuffle-budget")
    reg = registry()
    current: dict[str, dict[str, int]] = {}
    errs: list[tuple[str, str]] = []
    for op_id in ids or sorted(reg):
        try:
            plan = build_plan(spark, op_id, reg[op_id].fn)
        except Exception as ex:
            first = f"{type(ex).__name__}: {ex}".splitlines()[0]
            if op_id.startswith("stream_"):
                plan = None  # streaming-only API — no batch twin
            else:
                errs.append((op_id, first))
                continue
        if plan is None:
            continue
        current[op_id] = count_exchanges(plan)

    for op_id, e in errs:
        print(f"ERR  {op_id}: {e}")

    if not check:
        if ids and os.path.exists(BUDGET_PATH):
            # explicit op list: merge into the committed budget, don't
            # shrink it to the subset
            with open(BUDGET_PATH) as f:
                merged = json.load(f)
            merged.update(current)
            current = merged
        with open(BUDGET_PATH, "w") as f:
            json.dump(current, f, indent=0, sort_keys=True)
            f.write("\n")
        total = sum(c["shuffle"] for c in current.values())
        print(f"wrote {BUDGET_PATH}: {len(current)} ops, "
              f"{total} total shuffle exchanges")
        return 1 if errs else 0

    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    regressed, tightened, new = [], [], []
    for op_id, c in sorted(current.items()):
        b = budget.get(op_id)
        if b is None:
            new.append(op_id)
        elif c["shuffle"] > b["shuffle"]:
            regressed.append((op_id, b["shuffle"], c["shuffle"]))
        elif c["shuffle"] < b["shuffle"]:
            tightened.append((op_id, b["shuffle"], c["shuffle"]))
    for op_id, was, now in regressed:
        print(f"REGRESSED {op_id}: {was} -> {now} shuffle exchanges")
    for op_id, was, now in tightened:
        print(f"TIGHTEN   {op_id}: {was} -> {now} (rerun tool to ratchet)")
    for op_id in new:
        print(f"NEW       {op_id}: not in budget (rerun tool to record)")
    print(f"\n{len(regressed)} regressed, {len(tightened)} tighten, "
          f"{len(new)} new, {len(errs)} errors / {len(current)} checked")
    return 1 if (regressed or errs or new) else 0


if __name__ == "__main__":
    sys.exit(main())
