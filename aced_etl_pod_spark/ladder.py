"""The at-scale measurement harness: one tiler, one sampler, one session.

Every ladder (``bench.py``'s ``tiled_x40`` tier, ``tools/*_ladder.py``,
``tools/serve_throughput.py``) times the same operator code on a tiled
copy of the test tables under the same protocol:

* :func:`tile` — the x``scale`` key-offset tiling. Every fact key is
  offset per replica, so join cardinalities are preserved and no
  replica's key collides with another's; the constant star dims
  (nation, region) are copied, not tiled. Built once per source
  fingerprint through :func:`tables.fixture`.
* :func:`perturbed` — the same tiling with every replica's document text
  made unique, for the ``QUADRATIC`` ops that verbatim replicas blow up.
* :func:`fresh` / :func:`clock` / :func:`sample` — the round-9 timing
  protocol (PLANS.md round-9). Re-collecting ONE DataFrame lets Spark
  skip every completed shuffle map stage, so each sample wraps the
  prebuilt plan in ``.where(lit(True))``: a fresh QueryExecution, new
  shuffle ids, every stage re-runs. The wrapper's executed plan is built
  before the clock starts, so the timed region is job submission plus
  execution. Samples are taken round-robin: a latency burst degrades a
  minority of every leg's samples instead of all of one leg's.
* :func:`session` — 32 shuffle partitions, and scan splits pinned small
  enough that a one-file tiled table still fills every core (on a real
  cluster a table is many files and the pin is a no-op).

The at-scale money rule lives beside ``compare`` as
:func:`oracle.compare_at_scale`.
"""

from __future__ import annotations

import os
import statistics
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# per-table key columns offset per replica: every column here gets
# ``+ r * span(col)`` so replicas never collide
KEY_OFFSETS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
CONST_DIMS = ["nation", "region"]  # 25/5 rows at EVERY scale factor

# The ten headline queries (BASELINE.md B1-B10) and the op each runs.
# Most ops dispatch on a footer row count, so the ladder times a
# different plan than sf0.1 does: past their knees q1, q2, q5 and q9 read
# ingest-time summaries and q6 the shredded column (r12), q4 the bucketed
# custkey layout (r11), q7 the Arrow token kernel and then its ingest
# layout (r10, r12), q8 the packed float32 layout (r12), and q10 the
# bitmask plan and then the per-user mask table (r11, r12). q6 takes the
# anchored-regex fast path for single-key envelopes (r11) and q9 is the
# no-EXPAND rollup (r10). docs/SCALE.md §27 lists every knee and the
# ladder row behind it.
HEADLINE = {
    "q1_pricing_summary": "agg_group_sums",
    "q2_star_join": "join_multiway_star",
    "q3_topk_window": "win_row_number_topk",
    "q4_semi_anti": "join_left_semi",
    "q5_tumbling": "agg_time_bucket",
    "q6_json_extract": "fn_json",
    "q7_token_stats": "text_tokenize_stats",
    "q8_cosine_topk": "sim_cosine_topk",
    "q9_rollup": "agg_rollup_partial_reagg",
    "q10_distinct": "agg_distinct_count",
}

# Ops whose candidate pairs grow quadratically on verbatim replicas: a
# key-offset replica of a document is an exact near-dup of its original,
# so minhash / line-dedup pairs form scale-sized cliques and the ladder
# would time the clone artifact (the dedup_cluster_cc oracle's transitive
# closure ran 40+ min on the plain x40 tiling). They run on
# :func:`perturbed`, where pair counts scale linearly.
QUADRATIC = (
    "dedup_minhash_lsh",
    "text_line_dedup_c4",
    "dedup_incremental_minhash",
    "dedup_cluster_cc",
)

SHUFFLE_PARTITIONS = 32
# 4 MB splits: small enough that every scan of a one-file tiled table
# saturates 32 cores, large enough that task launch stays amortized
# (grid-searched at x10 over 4/8/16/32 MB; PLANS.md round-9).
LADDER_SPLIT = "4m"


def tile(src: str, scale: int) -> str:
    """The x``scale`` key-offset tiling of the test tables in ``src``,
    published as ``benchladder_x{scale}_…`` and built only when no copy
    for ``src``'s current fingerprint exists."""
    import duckdb

    from aced_etl_pod_spark.tables import fixture

    def build(out):
        con = duckdb.connect()
        for t, keys in KEY_OFFSETS.items():
            cols = [
                r[0]
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'"
                ).fetchall()
            ]
            spans = {
                k: con.execute(
                    f"SELECT coalesce(max({k}), 0) + 1 FROM '{src}/{t}.parquet'"
                ).fetchone()[0]
                for k in keys
            }
            sel = ", ".join(
                f"{c} + r * {spans[c]} AS {c}" if c in keys else c for c in cols
            )
            con.execute(
                f"COPY (SELECT {sel} FROM '{src}/{t}.parquet', "
                f"range({scale}) tt(r)) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
        for t in CONST_DIMS:
            con.execute(
                f"COPY (SELECT * FROM '{src}/{t}.parquet') "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )

    return fixture(f"benchladder_x{scale}", src, ("lineitem.parquet",), build)


def perturbed(src: str, scale: int) -> str:
    """The x``scale`` tiling with content-perturbed documents, published as
    ``dedupladder_x{scale}_…``: every word of replica ``r`` gets the
    suffix ``x<r>``, so replicas share no shingle or line across tiles
    while each tile keeps the original's internal near-dup structure. The
    other tables are links to :func:`tile`'s."""
    import duckdb

    from aced_etl_pod_spark.tables import TABLES, fixture

    def build(out):
        con = duckdb.connect()
        span = con.execute(
            f"SELECT coalesce(max(doc_id), 0) + 1 FROM '{src}/documents.parquet'"
        ).fetchone()[0]
        con.execute(
            f"""COPY (
                SELECT doc_id + r * {span} AS doc_id,
                       regexp_replace(text, '(\\S+)',
                                      '\\0x' || CAST(r AS VARCHAR), 'g') AS text,
                       lang, source,
                       CAST(length(regexp_replace(text, '(\\S+)',
                            '\\0x' || CAST(r AS VARCHAR), 'g')) AS BIGINT)
                           AS n_chars
                FROM '{src}/documents.parquet', range({scale}) tt(r)
            ) TO '{out}/documents.parquet' (FORMAT PARQUET)"""
        )

    out = fixture(f"dedupladder_x{scale}", src, ("documents.parquet",), build)
    tiled = tile(src, scale)
    for t in TABLES:
        link, target = f"{out}/{t}.parquet", f"{tiled}/{t}.parquet"
        if t == "documents" or (os.path.islink(link) and os.readlink(link) == target):
            continue
        if os.path.lexists(link):  # dangling or stale: the tiling was rebuilt
            os.unlink(link)
        os.symlink(target, link)
    return out


def ivf_index(spark: SparkSession, sf: str) -> tuple[str, float]:
    """The persisted IVF index over ``sf``'s embeddings, built once per
    source fingerprint, and the seconds this call spent building it
    (0.0 when an earlier build is reused)."""
    from aced_etl_pod_spark.functions.similarity import ivf_index_build
    from aced_etl_pod_spark.tables import fixture, load

    took = []

    def build(tmp):
        t0 = time.perf_counter()
        ivf_index_build(load(spark, sf, "embeddings"), tmp)
        took.append(time.perf_counter() - t0)

    idx = fixture("ivfidx2", sf, ("embeddings.parquet",), build)
    return idx, sum(took)


def session(
    app: str, split: str | None = LADDER_SPLIT, extra_confs: dict | None = None
) -> SparkSession:
    """The harness session: ``SHUFFLE_PARTITIONS`` shuffle partitions and,
    unless ``split`` is None, scan splits of ``split`` bytes over 32 leaf
    tasks (no operator's ``tune`` touches either conf). AQE stays on: it
    is the engine's posture, and under full re-execution it measured
    neutral to positive at every scale (PLANS.md round-9)."""
    from aced_etl_pod_spark.session import get_spark

    spark = get_spark(
        app, shuffle_partitions=SHUFFLE_PARTITIONS, extra_confs=extra_confs
    )
    if split is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        spark.conf.set("spark.sql.leafNodeDefaultParallelism", "32")
    return spark


def fresh(df: DataFrame) -> DataFrame:
    """``df`` behind a fresh QueryExecution whose executed plan is already
    built: collecting it re-runs every stage, and none of its planning
    lands in a timed region."""
    w = df.where(F.lit(True))
    w._jdf.queryExecution().executedPlan()
    return w


Leg = DataFrame | Callable[[], object]


def clock(leg: Leg) -> float:
    """Seconds one run of ``leg`` takes: a DataFrame is collected in full
    through :func:`fresh` (planned before the clock starts), anything
    else is called."""
    if isinstance(leg, DataFrame):
        leg = fresh(leg).collect
    t0 = time.perf_counter()
    leg()
    return time.perf_counter() - t0


def sample(
    legs: dict[str, Leg],
    rounds: int,
    warm: int = 2,
    into: dict[str, list[float]] | None = None,
) -> dict[str, list[float]]:
    """Run every leg ``warm`` times back to back (codegen and JIT settle),
    then ``rounds`` round-robin rounds of one sample per leg. Samples are
    appended to ``into`` when given, so callers can interleave engines
    round by round."""
    for leg in legs.values():
        for _ in range(warm):
            clock(leg)
    out = {name: [] for name in legs} if into is None else into
    for _ in range(rounds):
        for name, leg in legs.items():
            out.setdefault(name, []).append(clock(leg))
    return out


def jobs_in_group(spark: SparkSession, group: str, fn: Callable[[], object]):
    """Run ``fn`` under job group ``group``; return the ids of the jobs in
    that group and of the jobs it started with no group, read once the
    listener bus has delivered every event they posted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return tracker.getJobIdsForGroup(group), set(tracker.getJobIdsForGroup(None)) - ungrouped


def medians(samples: dict[str, list[float]]) -> dict[str, float]:
    """Each leg's median sample, in seconds to 4 decimals."""
    return {name: round(statistics.median(ts), 4) for name, ts in samples.items()}


def median_s(leg: Leg, reps: int, warm: int = 1) -> float:
    """The median of ``reps`` samples of one leg after ``warm`` warm runs."""
    return statistics.median(sample({"": leg}, reps, warm)[""])
