"""Operator registry — the driver contract's backbone.

Every operator ID from SURVEY.md §2.b registers here as an ``Op``:
a PySpark callable ``fn(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent DuckDB oracle SQL string.
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this.

Determinism rules enforced by convention in every registered op:
  * every top-k / LIMIT carries a total-order tie-break,
  * every floating aggregate is rounded (2dp by default) on BOTH sides,
  * timestamps are emitted as formatted strings (UTC) so value hashing
    never depends on engine-specific timestamp rendering.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    id: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Op] = {}

# Driver-visibility rotation. The external correctness harness verifies the
# FIRST 50 registry entries in iteration order. ``driver_window()`` below
# picks them from the CORRECTNESS_r*.json files committed at the repo root:
# the pending changed ops first, then the registered ops whose external rows
# are oldest. The window therefore rotates itself each round, and the gate
# tests in tests/test_parity.py verify the rule rather than a manual list.
#
# Pending changed ops: ops whose semantics-sensitive code changed in an
# optimization round and therefore need a FRESH external CORRECTNESS row
# ahead of the oldest-first rotation (round-13 verdict item 2). Entry =
# (op_id, round the change needs a row in); the entry is inert once a row
# from that round (or later) lands, so the steady-state rotation resumes
# untouched. Empty while every changed op has its row.
#
# Round 14: the size-dispatched q1/q2/q10 ops lost their degenerate-summary
# probes and fallbacks, and q10's mask plans fall back to the pair plan.
_CHANGED_OPS_PENDING: tuple[tuple[str, int], ...] = (
    ("join_multiway_star", 14),
    ("join_multiway_star_summary_ingest", 14),
    ("agg_group_sums", 14),
    ("agg_distinct_count", 14),
    ("agg_distinct_count_bitmask", 14),
    ("agg_distinct_count_mask_ingest", 14),
)

# Operator-family modules; importing them runs the @op decorators.
_MODULES = (
    "aced_etl_pod_spark.operators.scans",
    "aced_etl_pod_spark.operators.rowops",
    "aced_etl_pod_spark.operators.functions",
    "aced_etl_pod_spark.operators.joins",
    "aced_etl_pod_spark.operators.aggs",
    "aced_etl_pod_spark.operators.windows",
    "aced_etl_pod_spark.operators.sorts_sets",
    "aced_etl_pod_spark.operators.udfs",
    "aced_etl_pod_spark.operators.streaming_ops",
    "aced_etl_pod_spark.operators.text",
    "aced_etl_pod_spark.operators.similarity",
    "aced_etl_pod_spark.operators.scale_ops",
    "aced_etl_pod_spark.operators.extra_ops",
    "aced_etl_pod_spark.operators.advanced_ops",
    "aced_etl_pod_spark.operators.sampling",
    "aced_etl_pod_spark.operators.llm_pipeline",
    "aced_etl_pod_spark.operators.corpus_ops",
    "aced_etl_pod_spark.operators.table_format",
    "aced_etl_pod_spark.operators.incremental_ops",
    "aced_etl_pod_spark.operators.geo_ops",
    "aced_etl_pod_spark.operators.governance_ops",
)


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _external_rows() -> dict[str, int]:
    """op_id -> latest external round with a CORRECTNESS row (from the
    CORRECTNESS_r{N}.json files the driver commits at the repo root)."""
    import glob
    import json
    import os
    import re

    last: dict[str, int] = {}
    for f in glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(f) as fh:
            for op_id in json.load(fh):
                last[op_id] = max(last.get(op_id, 0), rnd)
    return last


def driver_window() -> tuple[str, ...]:
    """The ACTIVE 50-slot external-verification window, self-rotating:
    the pending changed ops (below), then the registered ops whose
    external rows are oldest (never-checked first, then by ascending
    last-checked round, op id as the total-order tie-break).

    Changed-ops-first rule (round-13 verdict item 2): an op whose
    SEMANTICS-SENSITIVE code changed in an optimization round sorts
    ahead of the oldest-first backfill until its next external
    CORRECTNESS row lands — otherwise the rotation would take years to
    reach it (oldest-first looks at row age, not code age). The set is
    maintained by hand per round in _CHANGED_OPS_PENDING and each entry
    expires on its own external row, so the steady-state rotation is
    undisturbed (two stale-cohort ops slip one round, nothing else).

    Reads only repo-committed CORRECTNESS files, so the window the driver
    sees at round end is exactly the window the gate tests verified."""
    rows = _external_rows()
    for mod in _MODULES:
        importlib.import_module(mod)
    head = tuple(
        o
        for o, changed_round in _CHANGED_OPS_PENDING
        if o in _REGISTRY and rows.get(o, 0) < changed_round
    )
    fill = sorted(
        (o for o in _REGISTRY if o not in set(head)),
        key=lambda o: (rows.get(o, 0), o),
    )
    return head + tuple(fill[: max(0, 50 - len(head))])


def op(op_id: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register ``fn`` as operator ``op_id`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if op_id in _REGISTRY:
            raise ValueError(f"duplicate operator id {op_id!r}")
        _REGISTRY[op_id] = Op(op_id, fn, oracle, fn.__doc__ or "", tuple(tags))
        return fn

    return deco


def registry() -> dict[str, Op]:
    """Import all operator modules and return the full registry, ordered so
    the driver-priority ops come first. The tail is ordered by canonical
    (module, source line), NOT dict insertion order — insertion order varies
    with which module happened to be imported first (e.g. a test importing
    ``operators.sampling`` directly), and the driver window must be stable."""
    for mod in _MODULES:
        importlib.import_module(mod)
    rank = {op_id: i for i, op_id in enumerate(driver_window())}
    default = len(rank)
    mod_rank = {m: i for i, m in enumerate(_MODULES)}

    def key(kv: tuple[str, Op]) -> tuple[int, int, int]:
        fn = kv[1].fn
        code = getattr(fn, "__code__", None)
        return (
            rank.get(kv[0], default),
            mod_rank.get(getattr(fn, "__module__", ""), len(mod_rank)),
            code.co_firstlineno if code is not None else 0,
        )

    return dict(sorted(_REGISTRY.items(), key=key))


def census() -> dict[str, Op]:
    """The registry in CANONICAL CENSUS ORDER — (module rank, source line),
    independent of ``driver_window()``. Use this for committed artifacts
    (docs/OPERATORS.md): unlike ``registry()``, the order never changes
    when a new CORRECTNESS_r*.json lands and the window self-rotates, so a
    generated-then-committed doc cannot go stale mid-round."""
    for mod in _MODULES:
        importlib.import_module(mod)
    mod_rank = {m: i for i, m in enumerate(_MODULES)}

    def key(kv: tuple[str, Op]) -> tuple[int, int, str]:
        fn = kv[1].fn
        code = getattr(fn, "__code__", None)
        return (
            mod_rank.get(getattr(fn, "__module__", ""), len(mod_rank)),
            code.co_firstlineno if code is not None else 0,
            kv[0],
        )

    return dict(sorted(_REGISTRY.items(), key=key))


def all_queries() -> dict[str, QueryFn]:
    return {k: v.fn for k, v in registry().items()}


def all_oracles() -> dict[str, str]:
    return {k: v.oracle for k, v in registry().items() if v.oracle is not None}
