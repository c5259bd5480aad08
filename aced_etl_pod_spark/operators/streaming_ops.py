"""Structured Streaming operators (SURVEY.md §2.b — 7 IDs).

All run over the deterministic file-source replay of ``events``
(streaming/replay.py): one parquet file = one micro-batch. Oracles are the
batch-equivalent SQL (SURVEY §5.6) — except ``stream_watermark_late``,
whose late-drop semantics are still SQL-expressible because the watermark
trajectory under replay is deterministic.

Scale notes: windowed aggregations keyed by (window, key) shuffle once and
keep state partitioned; watermarks bound state size (without one, streaming
dedup/agg state grows without bound — the 100 TB failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import (
    finite,
    finite_sql,
    money,
    money_sql,
    wsum,
    wsum_sql,
    zn,
    zn_sql,
)
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.streaming.replay import (
    capped_partitions,
    materialize_batches,
    read_stream,
    run_foreach_batch,
    run_to_memory,
)
from aced_etl_pod_spark.tables import read_parquet, session_scratch_dir

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@op(
    "stream_tumbling_window",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("value")} AS total
    FROM events
    WHERE ts IS NOT NULL  -- Spark's window() silently DROPS null-ts rows
    GROUP BY 1, 2
    """,
    tags=("stream", "bench"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour per-type counts/sums over a 1-hour tumbling window
    (BASELINE B5). Complete output mode → memory sink."""
    src = materialize_batches(spark, sf_dir, "tumbling")
    agg = (
        read_stream(spark, src)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), wsum(F.col("value")).alias("total"))
    )
    out = run_to_memory(agg, "t_tumbling", "complete")
    return out.select(
        F.date_format("window.start", TS_FMT_SPARK).alias("win_start"),
        "event_type",
        "n",
        "total",
    )


@op(
    "stream_sliding_window",
    oracle=f"""
    WITH shifted AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes')
               AS win_start,
             value
      FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
      WHERE ts IS NOT NULL  -- window() drops null event times
    )
    SELECT strftime(win_start, '{TS_FMT_DUCK}') AS win_start,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("value")} AS total
    FROM shifted
    GROUP BY 1
    """,
    tags=("stream",),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes (each event lands in 4
    windows — the oracle materializes the same 4 shifted buckets)."""
    src = materialize_batches(spark, sf_dir, "sliding")
    agg = (
        read_stream(spark, src)
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"), wsum(F.col("value")).alias("total"))
    )
    out = run_to_memory(agg, "t_sliding", "complete")
    return out.select(
        F.date_format("window.start", TS_FMT_SPARK).alias("win_start"), "n", "total"
    )


@op(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '10 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE ts IS NOT NULL  -- session_window() drops null event times
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '{TS_FMT_DUCK}') AS sess_start,
           strftime(max(ts) + INTERVAL '10 minutes', '{TS_FMT_DUCK}') AS sess_end,
           CAST(count(*) AS BIGINT) AS n
    FROM sessions
    GROUP BY user_id, sid
    """,
    tags=("stream",),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute gap. Oracle is the
    gaps-and-islands formulation (SURVEY §7.3.3). Session end = last event
    + gap (Spark's session_window semantics)."""
    src = materialize_batches(spark, sf_dir, "session")
    agg = (
        read_stream(spark, src)
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(agg, "t_session", "complete")
    return out.select(
        "user_id",
        F.date_format("session_window.start", TS_FMT_SPARK).alias("sess_start"),
        F.date_format("session_window.end", TS_FMT_SPARK).alias("sess_end"),
        "n",
    )


@op(
    "stream_watermark_late",
    oracle=f"""
    WITH kept AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-14'),
         wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM kept)
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS win_start,
           CAST(count(*) AS BIGINT) AS n
    FROM kept
    GROUP BY date_trunc('hour', ts)
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
    tags=("stream",),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-row drop, deterministically replayed over 3 batches:
    batch 0 = the later half (ts >= Jan 15), batch 1 = a one-day nudge
    (Jan 14), batch 2 = everything earlier. Spark applies the *previous*
    batch's watermark when filtering late events (and the current one for
    eviction — see the two watermark slots on StateStoreSave), so the
    watermark earned in batch 0 becomes the late-filter only in batch 2:
    every batch-2 row (ts < Jan 14 < wm) is dropped. Append mode then emits
    exactly the Jan-14..30 windows closed by the final watermark — which is
    what the oracle states."""
    src = materialize_batches(
        spark,
        sf_dir,
        "watermark",
        splits=[
            F.col("ts") >= F.lit("2024-01-15").cast("timestamp"),
            (F.col("ts") >= F.lit("2024-01-14").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp")),
            F.col("ts") < F.lit("2024-01-14").cast("timestamp"),
        ],
    )
    agg = (
        read_stream(spark, src)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(agg, "t_watermark", "append")
    return out.select(F.date_format("window.start", TS_FMT_SPARK).alias("win_start"), "n")


@op(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("stream", "dedup"),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type): emits each key once on
    first sight (the emitted key *set* is deterministic even though which
    physical row wins is not — so only keys are returned)."""
    src = materialize_batches(spark, sf_dir, "dedup")
    deduped = (
        read_stream(spark, src)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_to_memory(deduped, "t_dedup", "append")


@op(
    "stream_stateful_count",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("value")} AS total
    FROM events
    GROUP BY user_id
    """,
    tags=("stream",),
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregates across micro-batches (unbounded keyed
    state, complete mode) — replayed over 3 batches split by event_id mod."""
    src = materialize_batches(
        spark,
        sf_dir,
        "stateful",
        splits=[F.col("event_id") % 3 == i for i in range(3)],
    )
    agg = (
        read_stream(spark, src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), wsum(F.col("value")).alias("total"))
    )
    return run_to_memory(agg, "t_stateful", "complete")


@op(
    "stream_custom_stateful",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("value")} AS total
    FROM events
    GROUP BY user_id
    """,
    tags=("stream", "udf"),
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, sum) carried in explicit GroupState across 3 micro-batches,
    emitting the running totals each batch (update semantics). The final
    emission per user equals the batch aggregate — selected via max(n) and
    hash-checked. Rounding to 2dp is safe across accumulation orders because
    the true sum is an exact 2-decimal rational.

    This is the escape hatch for operators Spark lacks natively (SURVEY
    §2.b udtf/stream rows): arbitrary per-key state, Arrow-batched."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = materialize_batches(
        spark,
        sf_dir,
        "custom_state",
        splits=[F.col("event_id") % 3 == i for i in range(3)],
    )

    def running_totals(key, pdfs, state):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # well-scaled observations only (|x| < 1e12): the comparison
            # is False for NaN too, so one mask takes the same cut as the
            # oracle's finite_sql guard — NaN/±Inf AND extreme magnitudes
            v = pdf["value"].to_numpy(dtype="float64", na_value=float("nan"))
            total += float(v[np.abs(v) < 1e12].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [user_id], "n": [n], "total": [total]})

    out = (
        read_stream(spark, src)
        .groupBy("user_id")
        .applyInPandasWithState(
            running_totals,
            outputStructType="user_id long, n long, total double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    tbl = run_to_memory(out, "t_custom_state", "update")
    # last emission per user = the one with the max running count
    return (
        tbl.groupBy("user_id")
        .agg(
            F.max("n").alias("n"),
            zn(F.round(F.max_by("total", "n"), 2)).alias("total"),
        )
    )


@op(
    "stream_foreach_sink",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("stream", "sink"),
)
def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental write to a partitioned sink via foreachBatch (the
    streaming generalization of the reference's per-commit load loop,
    fhir_import_export.py:451-468): 4 micro-batches appended to a
    partitioned parquet table, then verified by read-back."""
    import shutil as _sh

    src = materialize_batches(
        spark,
        sf_dir,
        "foreach",
        splits=[F.col("event_id") % 4 == i for i in range(4)],
    )
    sink = session_scratch_dir("stream/foreach_sink")
    _sh.rmtree(sink, ignore_errors=True)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("event_type").parquet(sink)

    stream = read_stream(spark, src)
    run_foreach_batch(stream, write_batch)
    # explicit schema: with zero events every micro-batch is empty and the
    # sink directory has no files to infer from (empty-partition case)
    back = spark.read.schema(stream.schema).parquet(sink)
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


# Round-4: streaming curation gate (mirror of the batch
# pipeline_corpus_curation front half — corpus_ops.py).
CURATION_QUALITY_MIN = 0.6

_DUCK_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


@op(
    "stream_corpus_curation",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, source, text,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               AS nuniq,
             CAST(n_chars AS DOUBLE) AS nchar
      FROM documents
    )
    SELECT DISTINCT source, md5({_DUCK_NORM_TEXT}) AS content_key
    FROM m
    WHERE (CASE WHEN abs(CAST(0.5 * (nuniq / ntok) + 0.3 * least(ntok / 20, 1.0)
               + 0.2 * least(nchar / ntok / 8, 1.0) AS DOUBLE)) < 1e10 THEN CAST(round(CAST(CAST(0.5 * (nuniq / ntok) + 0.3 * least(ntok / 20, 1.0)
               + 0.2 * least(nchar / ntok / 8, 1.0) AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) ELSE CAST(0.5 * (nuniq / ntok) + 0.3 * least(ntok / 20, 1.0)
               + 0.2 * least(nchar / ntok / 8, 1.0) AS DOUBLE) END) >= {CURATION_QUALITY_MIN}
    """,
    tags=("stream", "text", "llm"),
)
def stream_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus curation: documents arrive as micro-batches, each
    is quality-scored STATELESSLY (same expression as the batch
    pipeline_corpus_curation), gated at CURATION_QUALITY_MIN, and the
    survivors' (source, content-hash) keys dedup STATEFULLY across the
    whole stream — each unique kept key emits exactly once, on first
    arrival. The emitted key SET is deterministic (which physical doc wins
    a duplicate group is arrival-dependent, so only keys are returned —
    same contract as stream_dedup_keys).

    This is how the batch curation pipeline runs on a live 100 TB corpus
    feed: stateless scoring scales embarrassingly; the dedup state is one
    entry per unique kept document keyed by content hash. In production
    the state needs a TTL watermark or an HLL/Bloom compaction once the
    unique-key count exceeds executor state budgets; under deterministic
    replay the exact state is the point."""
    from aced_etl_pod_spark.streaming.replay import DOCS_STREAM_SCHEMA

    src = materialize_batches(
        spark,
        sf_dir,
        "curation",
        splits=[F.col("doc_id") % 3 == i for i in range(3)],
        table="documents",
    )
    docs = read_stream(spark, src, schema=DOCS_STREAM_SCHEMA)
    # size(split(NULL)) = -1 under non-ANSI Spark; combined with
    # null-skipping least() it can score a NULL doc ABOVE the quality
    # gate — gate on text so null docs score NULL, as in the oracle
    nn = F.col("text").isNotNull()
    ntok = F.when(nn, F.size(F.split("text", " "))).cast("double")
    nuniq = F.when(
        nn, F.size(F.array_distinct(F.split("text", " ")))
    ).cast("double")
    nchar = F.col("n_chars").cast("double")
    quality = (
        F.round(
            (
                0.5 * (nuniq / ntok)
                + 0.3 * F.least(ntok / 20, F.lit(1.0))
                + 0.2 * F.least(nchar / ntok / 8, F.lit(1.0))
            ).cast("decimal(18,8)"),
            4,
        )
        .cast("double")
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    kept_keys = (
        docs.filter(quality >= CURATION_QUALITY_MIN)
        .select("source", F.md5(norm).alias("content_key"))
        .dropDuplicates(["source", "content_key"])
    )
    return run_to_memory(kept_keys, "t_curation", "append")


# Finished in round 5 and registered in round 6 (PLANS.md "Consolidated
# queue verification (round-5c close)"); its parity runs in
# tests/test_parity.py::test_oracle_parity_slow with the other stream_ ops.
STREAM_SLIDING_TOPK_ORACLE = f"""
    WITH shifted AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes')
               AS win_start,
             event_type
      FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
      WHERE ts IS NOT NULL  -- window() drops null event times
    ), counted AS (
      SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
      FROM shifted GROUP BY 1, 2
    ), ranked AS (
      SELECT win_start, event_type, n,
             row_number() OVER (PARTITION BY win_start
                                ORDER BY n DESC, event_type NULLS LAST) AS rk
      FROM counted
    )
    SELECT strftime(win_start, '{TS_FMT_DUCK}') AS win_start,
           event_type, n, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY win_start, rk
"""


@op("stream_sliding_topk", oracle=STREAM_SLIDING_TOPK_ORACLE, tags=("stream", "extra"))
def stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-N: top-3 event types per 1-hour window sliding every 15
    minutes. The STREAMING stage is the stateful windowed count (the part
    that must survive late data and restarts); the rank-and-cut runs as a
    batch query over the sink table — the standard serving split, since
    per-window top-k is not an incremental streaming operator but the
    counts it consumes are. Oracle materializes the same 4 shifted buckets
    and ranks with the identical (n DESC, event_type) total order."""
    src = materialize_batches(spark, sf_dir, "sliding_topk")
    agg = (
        read_stream(spark, src)
        .groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = run_to_memory(agg, "t_sliding_topk", "complete")
    # NULLS LAST spelled out: the bare ASC tie-break is the class-8
    # divergence (Spark NULLS FIRST / DuckDB NULLS LAST)
    w = W.partitionBy("window.start").orderBy(
        F.desc("n"), F.asc_nulls_last("event_type")
    )
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.date_format("window.start", TS_FMT_SPARK).alias("win_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("win_start", "rk")
    )


# ---------------------------------------------------------------------------
# stream_anomaly_window_zscore (round-7 registration queue)
# ---------------------------------------------------------------------------

STREAM_ANOMALY_WINDOW_ZSCORE_ORACLE = f"""
    WITH wins AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             {money_sql("sum(" + finite_sql("value") + ")", 2, 6)} AS total
      FROM events
      WHERE user_id < 50 AND ts IS NOT NULL  -- window() drops null ts
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT user_id,
             avg((CASE WHEN abs(CAST(total AS DOUBLE)) < 1e12 THEN CAST(total AS DOUBLE) END)) AS mu,
             stddev_samp((CASE WHEN abs(CAST(total AS DOUBLE)) < 1e12 THEN CAST(total AS DOUBLE) END)) AS sigma,
             count(*) AS n_windows
      FROM wins GROUP BY 1
    ),
    scored AS (
      SELECT w.user_id,
             strftime(w.h, '{TS_FMT_DUCK}') AS win_start,
             w.total,
             (CASE WHEN abs(CAST((w.total - s.mu) / s.sigma AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST((w.total - s.mu) / s.sigma AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST((w.total - s.mu) / s.sigma AS DOUBLE) END) AS z
      FROM wins w JOIN stats s USING (user_id)
      WHERE s.n_windows >= 10 AND s.sigma > 0
    )
    SELECT user_id, win_start, total, z,
           z > 3.0 AS is_anomaly
    FROM scored
"""


@op("stream_anomaly_window_zscore", oracle=STREAM_ANOMALY_WINDOW_ZSCORE_ORACLE, tags=('stream', 'extra'))
def stream_anomaly_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection with the maintain-then-score split
    (the streaming twin win_anomaly_zscore's docstring promises): the
    STREAM maintains per-(user, 1-hour tumbling window) totals — bounded
    state, watermark-evictable — and the SCORING pass runs over the
    materialized window table, flagging windows whose total sits more
    than 3 rounded-sigma from that user's window population (cold-start
    gate: >= 10 windows and nonzero spread, like the batch twin). This is
    the lambda split used by stream_sliding_topk: per-event work happens
    in the stream at O(state) cost; population statistics — which a
    stream cannot see without unbounded state — run on the O(windows)
    aggregate, which is 5-6 orders smaller than the event stream at
    100 TB. Full replay == the batch hourly groupBy, so the whole
    composition is oracle-checked, not just rows-checked."""
    src = materialize_batches(spark, sf_dir, "anomaly_z")
    agg = (
        read_stream(spark, src)
        .filter(F.col("user_id") < 50)
        .groupBy("user_id", F.window("ts", "1 hour"))
        .agg(
            money(F.sum(finite(F.col("value"))), 2, 6).alias("total")
        )
    )
    sink = run_to_memory(agg, "t_anomaly_z", "complete")
    # Self-joining one memory-sink plan trips Spark's conflicting-
    # reference resolver (MemoryPlan attributes don't dedup); a
    # localCheckpoint snaps the lineage to a plain RDD scan, which
    # self-joins fine — and is what the serving layer would do anyway
    # (score against a materialized snapshot, not the live sink).
    wins = sink.select(
        "user_id",
        F.date_format("window.start", TS_FMT_SPARK).alias("win_start"),
        "total",
    ).localCheckpoint(eager=True)
    # population stats over FINITE window totals (class-B contract); a
    # non-finite total still scores its IEEE z and flags (NaN/Inf > 3
    # is true in both engines)
    stats = wins.groupBy("user_id").agg(
        F.avg(finite(F.col("total"))).alias("mu"),
        F.stddev_samp(finite(F.col("total"))).alias("sigma"),
        F.count("*").alias("n_windows"),
    )
    zc = money((F.col("total") - F.col("mu")) / F.col("sigma"), 4, 9)
    return (
        wins.join(stats, "user_id")
        .filter((F.col("n_windows") >= 10) & (F.col("sigma") > 0))
        .select(
            "user_id",
            "win_start",
            "total",
            zc.alias("z"),
            (zc > 3.0).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# stream_checked_ingest_dlq (round-7 registration queue)
# ---------------------------------------------------------------------------

STREAM_CHECKED_INGEST_DLQ_ORACLE = """
    WITH tagged AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) % 4 AS epoch_id
      FROM events
      -- null-ts rows match no hash-split predicate and reach no batch
      WHERE user_id < 50 AND ts IS NOT NULL
    ),
    epochs AS (
      SELECT epoch_id,
             count(*) AS n,
             min(value) AS min_v
      FROM tagged GROUP BY epoch_id
    )
    SELECT CAST(count(CASE WHEN min_v > 0.05 THEN 1 END) AS BIGINT)
             AS committed_batches,
           CAST(count(CASE WHEN min_v <= 0.05 THEN 1 END) AS BIGINT)
             AS quarantined_batches,
           CAST(sum(CASE WHEN min_v > 0.05 THEN n ELSE 0 END) AS BIGINT)
             AS committed_rows,
           CAST(sum(CASE WHEN min_v <= 0.05 THEN n ELSE 0 END) AS BIGINT)
             AS quarantined_rows
    FROM epochs
"""


@op("stream_checked_ingest_dlq", oracle=STREAM_CHECKED_INGEST_DLQ_ORACLE, tags=('stream', 'extra'))
def stream_checked_ingest_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checked streaming ingest with a dead-letter queue: each
    micro-batch goes through the write-time constraint gate
    (sources/txnlog.txn_write_checked — value > 0.05 here); a clean
    batch commits to the main txn table, a violating batch is routed
    WHOLE to the quarantine table instead of poisoning the main table or
    killing the stream — the DLQ pattern that keeps a 100 TB ingest
    pipeline running through bad-producer incidents while losing
    nothing (the quarantine is a txn table too; replay after the
    producer fix is txnlog_cdc territory). Batches are deterministic
    hash-splits of the event stream, so the commit/quarantine census is
    fully oracle-checkable."""
    import shutil as _sh

    from aced_etl_pod_spark.sources.txnlog import (
        ConstraintViolation,
        txn_read,
        txn_set_constraints,
        txn_write,
        txn_write_checked,
    )
    from aced_etl_pod_spark.tables import session_scratch_dir

    splits = [
        (F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) % 4") == i)
        & (F.col("user_id") < 50)
        for i in range(4)
    ]
    src = materialize_batches(spark, sf_dir, "dlq_ingest", splits=splits)
    main = session_scratch_dir("dlq_main")
    dlq = session_scratch_dir("dlq_quarantine")
    ckpt = session_scratch_dir("dlq_ingest_ckpt")
    # fresh run each invocation: tables AND checkpoint (a surviving
    # checkpoint would mark every batch already-processed)
    _sh.rmtree(main, ignore_errors=True)
    _sh.rmtree(dlq, ignore_errors=True)
    _sh.rmtree(ckpt, ignore_errors=True)
    txn_set_constraints(main, {"value_floor": "value > 0.05"})
    counts = {"committed": 0, "quarantined": 0}

    def gate(batch_df, epoch_id):
        rows = batch_df.select("event_type", "value")
        try:
            txn_write_checked(spark, rows, main, op_name=f"epoch_{epoch_id}")
            counts["committed"] += 1
        except ConstraintViolation:
            txn_write(spark, rows, dlq, op_name=f"quarantine_{epoch_id}")
            counts["quarantined"] += 1

    q = (
        read_stream(spark, src)
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    main_rows = txn_read(spark, main).count() if counts["committed"] else 0
    dlq_rows = txn_read(spark, dlq).count() if counts["quarantined"] else 0
    return spark.createDataFrame(
        [(counts["committed"], counts["quarantined"], main_rows, dlq_rows)],
        "committed_batches long, quarantined_batches long,"
        " committed_rows long, quarantined_rows long",
    )


# ---------------------------------------------------------------------------
# stream_python_datasource (round-7+ registration queue, tranche 45)
# ---------------------------------------------------------------------------

STREAM_PYTHON_DATASOURCE_ORACLE = """
    WITH r AS (
      SELECT unnest(range(5000)) AS rid
    ), rows_ AS (
      SELECT rid % 8 AS grp,
             CAST(round(((rid * 2654435761) % 4294967296 % 10000) / 100.0, 2)
                  AS DECIMAL(10,2)) AS amt
      FROM r
    )
    SELECT CAST(grp AS INT) AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(amt) AS DOUBLE) AS total
    FROM rows_
    GROUP BY grp
    ORDER BY grp
"""


@op("stream_python_datasource", oracle=STREAM_PYTHON_DATASOURCE_ORACLE, tags=('stream', 'extra'))
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of Spark 4's Python DataSource API
    (SimpleDataSourceStreamReader, SPARK-45511): a custom tick source
    whose offsets advance 500 rows per micro-batch until 5000, then
    idle — so ``processAllAvailable`` drains exactly 10 batches and the
    grouped totals must account for every row exactly once. Offset
    bookkeeping (initialOffset/read/readBetweenOffsets/commit) is the
    exactly-once contract: rows lost at a batch boundary or replayed
    across one would break the count/total parity with the DuckDB
    regeneration of the same deterministic feed.

    Complete-mode grouped aggregation over the stream → memory sink —
    the same drain harness every stream_* op uses (streaming/replay.py).
    The batch sibling scan_python_datasource covers partition planning;
    together they exercise both halves of the custom-source API."""
    from aced_etl_pod_spark.sources.pysource import TickerSynthDataSource

    try:
        spark.dataSource.register(TickerSynthDataSource)
    except Exception:
        pass  # already registered in this session
    raw = spark.readStream.format("ticker_synth").load()
    agg = raw.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(F.col("amt").cast("decimal(10,2)")).alias("total_dec"),
    )
    out = run_to_memory(agg, "t_pyds", "complete")
    return out.select(
        F.col("grp").cast("int").alias("grp"),
        F.col("n").cast("long").alias("n"),
        F.col("total_dec").cast("double").alias("total"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# stream_checkpoint_restart (round-7+ registration queue, tranche 49)
# ---------------------------------------------------------------------------

STREAM_CHECKPOINT_RESTART_ORACLE = f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           {money_sql("sum(" + finite_sql("value") + ")", 2, 6)} AS total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


@op("stream_checkpoint_restart", oracle=STREAM_CHECKPOINT_RESTART_ORACLE, tags=('stream', 'extra'))
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS A RESTART — see _ckpt_restart_phases for the
    mechanics; this registry entry returns the post-restart totals. The
    gate test calls the phase helper directly for the progress-accounting
    proof (ADVICE r5: no mutable function-attribute side channel)."""
    df, _progress = _ckpt_restart_phases(spark, sf_dir)
    return df


def _ckpt_restart_phases(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """Exactly-once ACROSS A RESTART — the streaming guarantee the
    drain-to-completion ops never exercise: a grouped aggregation runs
    over the first half of the feed, the query STOPS (simulating a
    deploy/crash), two more batches arrive, and a NEW query resumes from
    the SAME checkpoint. The checkpoint's offset log + state store must
    make the final totals identical to one batch pass: re-reading the
    first half would double-count, skipping the tail would undercount —
    both break the oracle hash. The no-reprocessing half of the claim is
    pinned separately in the gate test via recentProgress input-row
    accounting (restarted query reads ONLY the new batches).

    This is the operational pattern every production stream lives by:
    checkpoint-compatible upgrades, not reruns. Same bounded plan as
    stream_tumbling_window (complete-mode hash agg, O(types) state)."""
    import os
    import shutil

    staged = materialize_batches(
        spark,
        sf_dir,
        "ckpt_restart_stage",
        splits=[
            F.col("event_id") % 4 == i for i in range(4)
        ],
    )
    live = session_scratch_dir("stream/ckpt_restart_live")
    ckpt = session_scratch_dir("stream/ckpt_restart_ckpt")
    shutil.rmtree(live, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(live, exist_ok=True)

    def arm(batch_ids):
        for i in batch_ids:
            name = f"batch_{i:03d}.parquet"
            shutil.copy2(os.path.join(staged, name), os.path.join(live, name))

    def run_phase(qname):
        agg = (
            read_stream(spark, live)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                money(F.sum(finite(F.col("value"))), 2, 6).alias("total"),
            )
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = sum(
                p["numInputRows"] for p in (q.recentProgress or [])
            )
        finally:
            q.stop()
        return rows

    arm([0, 1])
    phase1_rows = run_phase("t_ckpt_phase1")
    arm([2, 3])
    phase2_rows = run_phase("t_ckpt_phase2")
    result = spark.sql(
        "SELECT event_type, n, total FROM t_ckpt_phase2 ORDER BY event_type"
    )
    return result, {"phase1_rows": phase1_rows, "phase2_rows": phase2_rows}


# ---------------------------------------------------------------------------
# stream_dedup_within_watermark (round-6 session-5; windowed in rotation
# round 9)
# ---------------------------------------------------------------------------

STREAM_DEDUP_WITHIN_WATERMARK_ORACLE = """
    SELECT DISTINCT user_id, event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events WHERE ts IS NOT NULL
"""


@op(
    "stream_dedup_within_watermark",
    oracle=STREAM_DEDUP_WITHIN_WATERMARK_ORACLE,
    tags=("stream", "dedup", "extra"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state via
    ``dropDuplicatesWithinWatermark`` — the 100 TB-correct sibling of
    stream_dedup_keys. Plain streaming ``dropDuplicates`` keeps one state
    entry per key FOREVER (its docstring calls out exactly that failure
    mode); the within-watermark variant evicts a key's entry once the
    watermark passes its event time + delta, so state is bounded by
    keys-per-watermark-window no matter how long the stream runs — the
    difference between a dedup stage that survives a year of ingest and
    one that OOMs in week two. The guarantee weakens symmetrically:
    duplicates arriving within delta of each other are always dropped;
    a key recurring after eviction emits again (exercised determin-
    istically in tests/test_streaming.py::test_watermark_dedup_eviction).

    Here the key is (user_id, event_type, day) — per-day event dedup, a
    standard ingest idempotency gate — and delta (60 days) exceeds the
    replay's whole event span, so no entry evicts mid-replay and the
    emitted key set is exactly DISTINCT: a full hash oracle for the
    bounded-state API.
    """
    src = materialize_batches(
        spark,
        sf_dir,
        "wm_dedup",
        splits=[F.col("event_id") % 3 == i for i in range(3)],
    )
    deduped = (
        read_stream(spark, src)
        # a watermark-governed dedup needs an event time: null-ts rows
        # never evict and re-emit across batches
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", "60 days")
        .select(
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "ts",
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    return run_to_memory(deduped, "t_wm_dedup", "append")


# ---------------------------------------------------------------------------
# stream_state_store_reader (round-6 session-7; windowed in rotation round 9)
# ---------------------------------------------------------------------------

STREAM_STATE_STORE_READER_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id % 1000) AS BIGINT) AS id_residue,
           'stateStoreSave' AS operator_name,
           CAST(2 AS BIGINT) AS last_batch_id
    FROM events
    GROUP BY event_type
"""


@op(
    "stream_state_store_reader",
    oracle=STREAM_STATE_STORE_READER_ORACLE,
    tags=("stream", "extra"),
)
def stream_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store inspection via Spark 4's State Data Source: a
    stateful aggregation runs to completion over the 3-batch replay, the
    query stops, and the operator's state is then read BACK off the
    checkpoint as an ordinary DataFrame (``format("statestore")``), joined
    with the checkpoint's operator catalog (``format("state-metadata")``).
    This is the 100 TB streaming ops story: debugging a stuck or skewed
    stateful query means *auditing its state without touching the running
    query* — per-key state rows, per-partition placement (skew!), and
    per-operator batch coverage all become queryable tables; the reader
    also supports batch-pinned time travel (``option("batchId", n)``,
    gate-tested) for "what did the state look like before the bad
    deploy" forensics.

    The state value struct is named by the AGGREGATE FUNCTIONS (count,
    sum) — state schemas belong to the operator, not the projection — so
    the flatten re-aliases them. Final state after a drained replay ==
    the batch aggregate, and the replay is exactly 3 micro-batches, so
    metadata pins (operator_name, last_batch_id) = (stateStoreSave, 2):
    everything full-hash-checks.
    """
    import shutil

    src = materialize_batches(
        spark,
        sf_dir,
        "state_reader",
        splits=[F.col("event_id") % 3 == i for i in range(3)],
    )
    chk = session_scratch_dir("stream/state_reader_chk")
    shutil.rmtree(chk, ignore_errors=True)

    agg = (
        read_stream(spark, src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_id") % 1000).cast("long")).alias("id_residue"),
        )
    )
    with capped_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName("t_state_reader")
            .outputMode("update")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    state = spark.read.format("statestore").load(chk)
    meta = (
        spark.read.format("state-metadata")
        .load(chk)
        .filter(F.col("stateStoreName") == "default")
        .select(
            F.col("operatorName").alias("operator_name"),
            F.col("maxBatchId").alias("last_batch_id"),
        )
    )
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        F.col("value.sum").alias("id_residue"),
    ).crossJoin(F.broadcast(meta))


# ---------------------------------------------------------------------------
# PLAN TWINS for the streaming-ONLY APIs (r8 verdict item 7).
#
# tools/plan_audit.py and tools/shuffle_budget.py audit stream_* ops
# through batch twins. Most ops twin automatically (the replay harness is
# patched: read_stream → spark.read, run_to_memory → identity). Six ops
# use APIs with no mechanical batch substitution — raw writeStream,
# applyInPandasWithState, a custom streaming source, the state-store
# reader — so each declares an EXPLICIT twin here: the same transformation
# chain, built with the batch API whose physical planning (exchanges,
# aggregate modes, broadcast sides) Catalyst treats identically to the
# per-micro-batch plan. Keeping the twins in this module (beside the ops
# they mirror) keeps a future edit to an op's chain and its twin's chain
# in one diff. Twins are PLAN-ONLY artifacts: never registered, never
# executed by the audits (plans are built, not run).
# ---------------------------------------------------------------------------


def _twin_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState → applyInPandas: identical hash exchange on
    the grouping key + Python worker stage, then the op's own final agg."""
    import pandas as pd

    from aced_etl_pod_spark.tables import load

    def totals(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[:1],
                "n": [len(pdf)],
                "total": [0.0],
            }
        )

    out = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .applyInPandas(totals, "user_id long, n long, total double")
    )
    return out.groupBy("user_id").agg(
        F.max("n").alias("n"),
        zn(F.round(F.max_by("total", "n"), 2)).alias("total"),
    )


def _twin_checked_ingest_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One epoch of the foreachBatch gate: the split filter the replay
    stages, the projection, and txn_write_checked's single-scan
    conditional-aggregation constraint check."""
    from aced_etl_pod_spark.tables import load

    batch = (
        load(spark, sf_dir, "events")
        .filter(
            (F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) % 4") == 0)
            & (F.col("user_id") < 50)
        )
        .select("event_type", "value")
    )
    return batch.agg(
        F.count(F.when(~F.expr("value > 0.05"), F.lit(1))).alias("value_floor")
    )


def _twin_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of the SAME custom source (the DataSource API plans
    batch and stream reads through the same Python partitions), then the
    op's grouped aggregation and projection."""
    from aced_etl_pod_spark.sources.pysource import TickerSynthDataSource

    try:
        spark.dataSource.register(TickerSynthDataSource)
    except Exception:
        pass
    raw = spark.read.format("ticker_synth").load()
    agg = raw.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(F.col("amt").cast("decimal(10,2)")).alias("total_dec"),
    )
    return agg.select(
        F.col("grp").cast("int").alias("grp"),
        F.col("n").cast("long").alias("n"),
        F.col("total_dec").cast("double").alias("total"),
    ).orderBy("grp")


def _twin_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The restarted query's aggregation chain (phase plans are identical;
    the checkpoint machinery adds no exchanges — state reload is
    partition-local by construction)."""
    from aced_etl_pod_spark.tables import load

    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            money(F.sum(finite(F.col("value"))), 2, 6).alias("total"),
        )
    )


def _twin_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark → dropDuplicates on the same key
    subset: both plan one hash exchange on the dedup keys."""
    from aced_etl_pod_spark.tables import load

    return (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "ts",
        )
        .dropDuplicates(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )


def _twin_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful aggregation whose state the reader inspects, plus the
    op's broadcast crossJoin against the (1-row) operator-metadata frame;
    the statestore scan itself is an unpartitioned checkpoint-file read
    with no exchange of its own."""
    from aced_etl_pod_spark.tables import load

    agg = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_id") % 1000).cast("long")).alias("id_residue"),
        )
    )
    meta = spark.createDataFrame(
        [("stateStoreSave", 2)], "operator_name string, last_batch_id long"
    )
    return agg.crossJoin(F.broadcast(meta))


# op_id → batch-plan builder, consumed by tools/plan_audit.py and
# tools/shuffle_budget.py BEFORE the generic replay-patch path.
PLAN_TWINS = {
    "stream_custom_stateful": _twin_custom_stateful,
    "stream_checked_ingest_dlq": _twin_checked_ingest_dlq,
    "stream_python_datasource": _twin_python_datasource,
    "stream_checkpoint_restart": _twin_checkpoint_restart,
    "stream_dedup_within_watermark": _twin_dedup_within_watermark,
    "stream_state_store_reader": _twin_state_store_reader,
}


from aced_etl_pod_spark.operators.functions import (
    FN_JSON_SHRED_SCHEMA_ORACLE,
)


@op(
    "stream_json_shred_ingest",
    # one source of truth for the shred semantics: the streaming twin
    # shares the batch op's full-parse oracle verbatim
    oracle=FN_JSON_SHRED_SCHEMA_ORACLE,
    tags=("stream", "ingest", "scale", "extra"),
)
def stream_json_shred_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The landing-zone shred, STREAMING (round-11: the streaming twin of
    fn_json_shred_schema_ingest — same shred semantics, same oracle):
    raw JSON event envelopes arrive as micro-batches; the schema is
    inferred ONCE at ingest start from a 512-doc sample of the first
    batch's file (the batch op's dictionary idiom — schema inference is
    an INGEST decision, never per-micro-batch, or drifting batches
    would silently fork the table schema); every envelope is parsed
    once with ``from_json`` at that pinned schema; the typed columns
    append to a parquet sink via foreachBatch; the read-back aggregate
    must equal the full-parse oracle over the base table — proving the
    stream-shredded table IS the batch-shredded table.

    At 100 TB this is the actual ingest topology: documents land on a
    queue, one streaming job shreds to typed columnar storage with
    exactly-once appends, and every downstream query (the hot path)
    reads typed columns with zero JSON in its plan."""
    import glob as _glob
    import shutil as _sh

    from aced_etl_pod_spark.tables import load

    e = load(spark, sf_dir, "events")
    envelope = e.select(
        F.coalesce(F.col("event_id") % 3, F.lit(0)).alias("split"),
        F.to_json(
            F.struct(
                "event_id",
                "user_id",
                "event_type",
                "value",
                F.from_json("props", "k DOUBLE").alias("props"),
            )
        ).alias("doc"),
    )
    # materialize 3 single-file micro-batches of raw envelopes (the
    # replay idiom, applied to a derived frame instead of a base table)
    import os as _os

    src = session_scratch_dir("stream/shred_src")
    _sh.rmtree(src, ignore_errors=True)
    _os.makedirs(src, exist_ok=True)
    for i in range(3):
        tmp = _os.path.join(src, f"_tmp_{i}")
        envelope.filter(F.col("split") == i).select("doc").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
        dst = _os.path.join(src, f"batch_{i:03d}.parquet")
        _sh.move(part, dst)
        _sh.rmtree(tmp)
        _os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    # ingest-time schema inference from a bounded sample of batch 0
    from pyspark.sql import types as T

    sample = [
        r["doc"]
        for r in read_parquet(spark, f"{src}/batch_000.parquet")
        .limit(512)
        .collect()
        if r["doc"]
    ]
    if sample:
        inferred = spark.read.json(
            spark.sparkContext.parallelize(sample, 1)
        ).schema
    else:  # empty corpus: schema from the ingest contract, not the data
        inferred = T.StructType()

    sink = session_scratch_dir("stream/shred_sink")
    _sh.rmtree(sink, ignore_errors=True)

    raw = read_stream(
        spark, src, schema=T.StructType([T.StructField("doc", T.StringType())])
    )
    parsed = raw.select(F.from_json("doc", inferred).alias("d"))
    cols = []
    names = [f.name for f in inferred.fields]
    for col, typ in (
        ("event_id", "long"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
    ):
        cols.append(
            (F.col(f"d.{col}") if col in names else F.lit(None))
            .cast(typ)
            .alias(col)
        )
    k = F.col("d.props.k") if "props" in names else F.lit(None)
    shred = parsed.select(*cols, k.cast("double").alias("k"))

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    run_foreach_batch(shred, write_batch)
    back = spark.read.schema(shred.schema).parquet(sink)
    k_int = F.when(
        F.col("k").between(-2147483648, 2147483647)
        & (F.col("k") == F.floor("k")),
        F.col("k").cast("int"),
    )
    return (
        back.select("event_type", "value", "user_id", k_int.alias("k_i"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 2).alias("avg_value"),
            F.sum("k_i").cast("long").alias("sum_k"),
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )

