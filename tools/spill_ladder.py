"""Memory-constrained execution ladder — the spill-safety evidence.

    python tools/spill_ladder.py [--scale 40] [--mem 2g,16g] [--reps 3]

A 100 TB cluster never gives a task enough memory to hold its partition's
working set; the plans must SPILL, not OOM, when execution memory runs
out. No prior round measured that directly. This harness re-runs the
shuffle/sort-heavy headline shapes over the tiled x``scale`` fixture in a
child JVM per heap size (spark.driver.memory is start-time-only in local
mode) and, from the Spark event log, attributes per-query
memory/disk-spill bytes to the timed samples via job groups.

Shapes chosen to cover the three spill paths:
  * hash-aggregation spill  — agg_group_sums (low-card control: ~0 spill),
    agg_distinct_count (EXPAND + wide distinct state)
  * sort spill              — sort_window_fact (RUNNING SUM over 16 hash
    groups of the full fact table: a row_number+filter shape would be
    rewritten to WindowGroupLimit and shuffle ~nothing — measured, see
    PLANS.md — so the shape uses an unbounded-preceding running sum,
    which must sort and emit every row; output is a tiny aggregate so
    the collect is not the metric),
    win_row_number_topk (per-partition window sort, events table —
    kept as the WindowGroupLimit control: its shuffle stays ~0 MB)
  * sort-merge-join spill   — forced-SMJ lineitem ⋈ orders (broadcast
    disabled via merge hint; both sides sort)

Protocol: honest full-re-execution wrapper (bench.py round-9), 1 warmup +
``reps`` timed samples per query, medians. The claim being tested is NOT
speed — it is that the constrained run COMPLETES with bounded memory and
degrades smoothly (spill bytes > 0, wall within a small factor of the
unconstrained run).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHILD_FLAG = "SPARK_GRAFT_SPILL_CHILD"

SHAPES = (
    "agg_group_sums",
    "agg_distinct_count",
    "sort_window_fact",
    "win_row_number_topk",
    "join_smj_fact_fact",
)


def _child(sf: str, reps: int) -> None:
    """Runs inside the constrained JVM; prints ONE json line on stdout."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from aced_etl_pod_spark.registry import registry
    from aced_etl_pod_spark.session import get_spark, pin
    from aced_etl_pod_spark.tables import load

    evdir = tempfile.mkdtemp(prefix="spill_evlog_")
    spark = get_spark(
        "spill-ladder",
        shuffle_partitions=32,
        extra_confs={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            # Spark 4 defaults to a rolling, zstd-compressed log dir;
            # plain single-file JSON keeps the parse dependency-free
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    pin(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.leafNodeDefaultParallelism": "32",
        },
    )
    reg = registry()

    def sort_window_fact(spark, sf):
        from pyspark.sql.window import Window as W

        li = load(spark, sf, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
        )
        w = (
            W.partitionBy(F.col("l_suppkey") % 16)
            .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        run = li.withColumn("rsum", F.sum("l_extendedprice").over(w))
        return run.agg(
            F.round(F.max("rsum"), 2).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )

    def smj(spark, sf):
        li = load(spark, sf, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        o = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        j = li.hint("merge").join(
            o.hint("merge"), li.l_orderkey == o.o_orderkey
        )
        return j.agg(
            F.round(F.sum(li.l_extendedprice + o.o_totalprice), 2).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )

    dfs = {
        "agg_group_sums": reg["agg_group_sums"].fn(spark, sf),
        "agg_distinct_count": reg["agg_distinct_count"].fn(spark, sf),
        "sort_window_fact": sort_window_fact(spark, sf),
        "win_row_number_topk": reg["win_row_number_topk"].fn(spark, sf),
        "join_smj_fact_fact": smj(spark, sf),
    }

    def rerun(df):
        w = df.where(F.lit(True))
        w._jdf.queryExecution().executedPlan()
        return w

    sc = spark.sparkContext
    sc.setJobGroup("warmup", "warmup")
    for df in dfs.values():
        rerun(df).collect()
    walls: dict[str, list[float]] = {n: [] for n in dfs}
    for _ in range(reps):
        for name, df in dfs.items():
            w = rerun(df)
            sc.setJobGroup(name, name)
            t0 = time.perf_counter()
            w.collect()
            walls[name].append(time.perf_counter() - t0)
    sc.setJobGroup("done", "done")
    # flush the event log before parsing
    spark.stop()

    stage_group: dict[int, str] = {}
    spills: dict[str, dict[str, int]] = {
        n: {"mem": 0, "disk": 0, "shuffle_write": 0} for n in dfs
    }
    # eventlog_v2_* is a DIRECTORY (rolling-log layout, kept even with
    # rolling disabled on some versions) — walk every regular file under
    # evdir and skip the binary appstatus store
    paths = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(evdir)
        for f in files
        if not f.startswith("appstatus")
    ]
    for path in paths:
        with open(path, errors="ignore") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", ""
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif et == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID", -1), "")
                    if grp not in spills:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    spills[grp]["mem"] += tm.get("Memory Bytes Spilled", 0)
                    spills[grp]["disk"] += tm.get("Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    spills[grp]["shuffle_write"] += sw.get(
                        "Shuffle Bytes Written", 0
                    )
    shutil.rmtree(evdir, ignore_errors=True)
    out = {
        name: {
            "wall_sec": round(statistics.median(walls[name]), 4),
            "mem_spill_mb": round(spills[name]["mem"] / (reps * 2**20), 1),
            "disk_spill_mb": round(spills[name]["disk"] / (reps * 2**20), 1),
            "shuffle_write_mb": round(
                spills[name]["shuffle_write"] / (reps * 2**20), 1
            ),
        }
        for name in dfs
    }
    print("SPILL_RESULT " + json.dumps(out), flush=True)


def main() -> int:
    if os.environ.get(CHILD_FLAG):
        ap = argparse.ArgumentParser()
        ap.add_argument("--sf", required=True)
        ap.add_argument("--reps", type=int, default=3)
        a = ap.parse_args()
        _child(a.sf, a.reps)
        return 0

    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=40)
    ap.add_argument("--mem", default="2g,16g", help="comma-list of heaps")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from tools.bench_ladder import build_scaled

    sf = build_scaled(args.scale)
    print(f"tiled dir: {sf} (x{args.scale})", flush=True)
    results: dict[str, dict] = {}
    for mem in args.mem.split(","):
        env = dict(
            os.environ, SPARK_DRIVER_MEM=mem, **{CHILD_FLAG: "1"}
        )
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--sf", sf, "--reps", str(args.reps)],
            env=env, capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        wall = time.perf_counter() - t0
        line = next(
            (ln for ln in proc.stdout.splitlines()
             if ln.startswith("SPILL_RESULT ")),
            None,
        )
        if proc.returncode != 0 or line is None:
            print(f"heap {mem}: CHILD FAILED (rc={proc.returncode})")
            print(proc.stdout[-2000:])
            print(proc.stderr[-4000:])
            results[mem] = {"failed": True}
            continue
        res = json.loads(line[len("SPILL_RESULT "):])
        results[mem] = res
        print(f"heap {mem} (child wall {wall:.0f}s):")
        for name, m in res.items():
            print(
                f"  {name:22s} wall {m['wall_sec']*1e3:8.1f} ms  "
                f"mem-spill {m['mem_spill_mb']:8.1f} MB  "
                f"disk-spill {m['disk_spill_mb']:7.1f} MB  "
                f"shuffle-write {m['shuffle_write_mb']:7.1f} MB",
                flush=True,
            )
    print(json.dumps({"metric": f"spill_ladder_x{args.scale}",
                      "heaps": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
