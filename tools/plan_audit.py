"""Executed-plan audit: expensive expressions leaked into scan filters.

Catalyst's infer-filters-from-generate + projection collapse can push a
derived predicate (e.g. ``size(transform(...)) > 0``) into the parquet
scan, re-evaluating the plan's most expensive expression once per row
per appearance (docs/SCALE.md §11; found as a 3× re-evaluation / 4×
slowdown in ``dedup_ngram_containment``). This tool builds every
registered operator's plan (no execution) and flags scans whose
DataFilters contain expensive-expression markers.

    python tools/plan_audit.py [op_id ...]

Exit code 1 iff any op is flagged. Cheap markers (``split(`` alone) are
reported as INFO, not flagged — re-running a split in a filter doubles a
cheap op; re-running a transform chain triples an expensive one.
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import registry  # noqa: E402
from aced_etl_pod_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
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
# Streaming ops are audited through their BATCH TWINS: the identical
# transformation chain built over a batch read of the replay source
# (read_stream → spark.read, run_to_memory → identity, run_foreach_batch →
# one direct epoch-0 call). Catalyst plans the twin with the same rules it
# applies to each micro-batch, so a scan-filter re-evaluation in the twin is
# the same bug in the stream. Ops built on streaming-ONLY APIs
# (applyInPandasWithState, raw writeStream, custom stream sources,
# checkpoint-restart machinery) have no batch twin and report as SKIP.
_STREAM_ONLY_MARKERS = (
    "streaming",
    "writeStream",
    "start()",
    "applyInPandasWithState",
    "not supported with batch",
)


def _batch_twin_patches():
    """Patches turning the replay harness into its batch equivalent."""
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


def main() -> int:
    spark = get_spark("plan-audit")
    reg = registry()
    ids = sys.argv[1:] or list(reg)
    flagged, info, errs, skipped = [], [], [], []
    from aced_etl_pod_spark.operators.streaming_ops import PLAN_TWINS

    for op_id in ids:
        try:
            if op_id in PLAN_TWINS:
                # streaming-only API — audit the explicit batch twin
                # declared beside the op (same chain, batch planning)
                df = PLAN_TWINS[op_id](spark, SF)
            elif op_id.startswith("stream_"):
                with _batch_twin_patches():
                    df = reg[op_id].fn(spark, SF)
                if df.isStreaming:
                    raise RuntimeError("streaming source outside the replay harness")
            else:
                df = reg[op_id].fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # build-time failures are their own signal
            msg = f"{type(ex).__name__}: {ex}"
            if op_id.startswith("stream_") and any(
                m in msg for m in _STREAM_ONLY_MARKERS
            ):
                skipped.append((op_id, msg.splitlines()[0][:100]))
            else:
                errs.append((op_id, msg))
            continue
        for scan in re.findall(r"DataFilters: \[(.*?)\], Format", plan, re.S):
            g = scan.find(GUARD)
            hit = next(
                (m for m in EXPENSIVE
                 if m in scan and (g < 0 or scan.find(m) < g)),
                None,
            )
            if hit:
                flagged.append((op_id, hit))
            elif any(m in scan for m in INFO_ONLY):
                info.append(op_id)
    for op_id, m in sorted(set(flagged)):
        print(f"FLAG {op_id}: {m} re-evaluated in a scan filter")
    for op_id in sorted(set(info)):
        print(f"info {op_id}: cheap expr (split) in a scan filter")
    for op_id, why in skipped:
        print(f"skip {op_id}: no batch twin ({why})")
    for op_id, e in errs:
        print(f"ERR  {op_id}: {e}")
    print(f"\n{len(set(f[0] for f in flagged))} flagged, "
          f"{len(set(info))} info, {len(skipped)} skipped, "
          f"{len(errs)} errors / {len(ids)} audited")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
