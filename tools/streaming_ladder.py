"""Streaming throughput ladder (round-12 verdict item 8: all 12
stream ops are correctness-green via deterministic replay, but no
at-scale number existed).

    python tools/streaming_ladder.py [--scales 10 40] [--reps 2]

Measures END-TO-END micro-batch replay throughput (materialize source
batches → run the streaming query to completion → read back / verify)
for the ingest-topology representatives, against the bench ladder's
tiled events dirs:

* stream_json_shred_ingest — the landing-zone shred (stateless ingest:
  envelope parse once at pinned schema, foreachBatch parquet appends)
* stream_foreach_sink      — partitioned incremental sink appends
* stream_stateful_count    — the stateful representative
  (applyInPandasWithState); its state-store size is the distinct-key
  count, reported alongside (state rows == keys by construction — one
  state row per user), since the in-op StreamingQuery handle isn't
  exposed for progress scraping.

Throughput = tiled events rows / end-to-end wall (the number includes
source materialization and sink read-back — the honest ingest cost, not
just the hot loop). Each op's result is checked against its registered
DuckDB oracle on the same tiled dir, so the ladder rows stay exact, not
just fast.
"""

from __future__ import annotations

import argparse
import json
import statistics
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPS = (
    "stream_json_shred_ingest",
    "stream_foreach_sink",
    "stream_stateful_count",
    # round-13 verdict item 5: the previously unladdered state-heavy ops
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_session_window",
    "stream_watermark_late",
)


def _state_bound(op_id: str, con, n_out: int) -> dict:
    """Derived state-size bound for the r13 ops (the in-op
    StreamingQuery handle isn't exposed for progress scraping, so the
    bound is computed BY CONSTRUCTION from the same tiled events):

    * stream-stream joins buffer both sides until the 2 h watermark +
      1 h join range → peak state = max rows of either kind inside any
      3-hour event-time horizon;
    * session_window runs in complete mode (no watermark) → state is
      every session = the output row count;
    * watermark_late evicts closed hour windows → end-state = distinct
      hour windows not yet closed by the final watermark."""
    if op_id in ("stream_stream_join", "stream_stream_left_outer"):
        peak = con.execute(
            """
            SELECT max(c) FROM (
              SELECT sum(cnt) OVER (ORDER BY hb
                     RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS c
              FROM (SELECT epoch(date_trunc('hour', ts)) // 3600 AS hb,
                           count(*) AS cnt
                    FROM events
                    WHERE event_type IN ('click', 'purchase')
                      AND ts IS NOT NULL
                    GROUP BY 1) t)
            """
        ).fetchone()[0]
        return {"state_rows_peak_bound": int(peak or 0)}
    if op_id == "stream_session_window":
        return {"state_rows": n_out}  # complete mode: all sessions live
    if op_id == "stream_watermark_late":
        open_w = con.execute(
            """
            WITH kept AS (SELECT ts FROM events
                          WHERE ts >= TIMESTAMP '2024-01-14'),
                 wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM kept)
            SELECT count(DISTINCT date_trunc('hour', ts)) FROM kept
            WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm)
            """
        ).fetchone()[0]
        return {"state_rows_open_windows": int(open_w or 0)}
    return {}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", type=int, nargs="+", default=[10, 40])
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    import duckdb

    from aced_etl_pod_spark import ladder
    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.tables import DEFAULT_SF_DIR, table_row_count

    spark = ladder.session("streaming-ladder")
    reg = registry()

    results = {}
    for scale in args.scales:
        sf = ladder.tile(DEFAULT_SF_DIR, scale)
        n_events = table_row_count(sf, "events")
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
        )
        for op_id in OPS:
            o = reg[op_id]
            walls, rows, match = [], 0, None
            for rep in range(args.reps):
                t0 = time.perf_counter()
                got = sorted(
                    tuple(r) for r in o.fn(spark, sf).collect()
                )
                walls.append(time.perf_counter() - t0)
                if rep == 0:
                    rows = len(got)
                    want = sorted(
                        tuple(r) for r in con.execute(o.oracle).fetchall()
                    )
                    match = got == want
            wall = statistics.median(walls)
            row = {
                "events": n_events,
                "wall_sec": round(wall, 2),
                "rows_per_sec": round(n_events / wall),
                "out_rows": rows,
                "oracle_match": match,
            }
            if op_id == "stream_stateful_count":
                row["state_rows"] = rows  # one state row per user key
            row.update(_state_bound(op_id, con, rows))
            results[f"{op_id}_x{scale}"] = row
            print(f"x{scale} {op_id}: {row}", flush=True)
    print(json.dumps({"metric": "streaming_ladder", "results": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
