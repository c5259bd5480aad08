"""Transaction-log table format — the ACID story for the partitioned
warehouse (mini log-structured table in the style of the PUBLISHED Delta
Lake / Iceberg protocols: an ordered log of add/remove file actions; a
snapshot is the replay of the log; a commit is the atomic publish of the
next numbered log entry).

Why this exists: `plans/storage.py`'s partition-directory operations are
correct for a single writer, but at 100 TB with concurrent writers you need
(a) atomic multi-file commits, (b) snapshot isolation for readers, (c)
optimistic concurrency for writers, and (d) manifest-level file skipping so
a predicate prunes FILES before Spark ever lists them (row-group pruning
then prunes within the survivors). This module provides all four on any
filesystem with atomic link/rename — on S3-era object stores the same
design runs against a log store (the published Delta approach) or a
catalog swap (the published Iceberg approach).

Log layout::

    table/
      _txnlog/00000000000000000000.json   # one JSON-lines file per version
      _txnlog/00000000000000000001.json
      v0-00000-*.parquet                  # data files (immutable once added)

Each log line is one action::

    {"commit": {"op": "...", "version": n}}
    {"add": {"path": "v0-...parquet", "rows": 123,
             "stats": {"col": {"min": .., "max": ..}}}}
    {"remove": {"path": "v0-...parquet"}}

Write protocol: a data write is one or two ``_stage`` calls and one
``_commit``; a metadata commit (schema, constraints, checkpoint) is a
``_commit`` alone; branch create and merge are single ``_publish``es that
conflict rather than retry. ``_stage`` writes a DataFrame into a hidden
``.staging-*`` dir, moves each parquet file into the table root under a
writer-unique name and returns its footer stats; the files stay
unreferenced until a log entry names them. ``_commit`` is the one
optimistic loop: each attempt takes ``version = current_version + 1``,
asks the writer's ``body(version)`` for its actions (a body that read the
table revalidates that read against the snapshot at ``version - 1`` and
raises to abort), and ``_publish``es them: write the action file to a
hidden temp name, fsync, then ``os.link(tmp, final)``. link(2) fails with
EEXIST if another writer won the version, and only that conflict is
retried. Readers only ever see complete, immutable log files, so a crashed
writer leaves at worst an orphan temp file and orphan (unreferenced) data
files — never a torn table.

Reference anchor: the reference's stores are rebuilt wholesale per job
(etl-job/fhir_import_export.py:230-258 load, :372-385 delete); this is the
incremental, concurrent-safe generalization a Spark warehouse needs.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import threading
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_txnlog"
_PAD = 20

# Per-invocation unique id for staging dirs and data-file names: pid alone
# is NOT unique within a process — two threads (e.g. racing foreachBatch
# epochs, or the concurrency tests) would clobber each other's staging and
# final file names. pid + thread id + a process-wide counter is.
_WRITE_SEQ = itertools.count()


def _writer_uid() -> str:
    return f"p{os.getpid()}-t{threading.get_ident()}-{next(_WRITE_SEQ)}"


class CommitConflict(Exception):
    """Another writer published this version first; replay and retry."""


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, LOG_DIR, f"{version:0{_PAD}d}.json")


def current_version(table: str) -> int:
    """Highest committed version, or -1 for an empty/new table."""
    log = os.path.join(table, LOG_DIR)
    if not os.path.isdir(log):
        return -1
    versions = [
        int(f[:-5]) for f in os.listdir(log)
        if f.endswith(".json") and f[:-5].isdigit()  # skip refs.json etc.
    ]
    return max(versions, default=-1)


def _publish(table: str, version: int, actions: list[dict]) -> None:
    """Atomically publish ``actions`` as log version ``version``.

    Raises CommitConflict if that version already exists (optimistic
    concurrency — the caller revalidates and retries)."""
    log = os.path.join(table, LOG_DIR)
    os.makedirs(log, exist_ok=True)
    tmp = os.path.join(log, f".commit-{_writer_uid()}-{version}.tmp")
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, sort_keys=True) + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _log_path(table, version))  # atomic create-exclusive
    except FileExistsError as exc:
        raise CommitConflict(f"version {version} already committed") from exc
    finally:
        os.unlink(tmp)


def _file_stats(path: str, stats_cols: tuple[str, ...]) -> tuple[int, dict]:
    """Row count + per-column min/max from the parquet FOOTER (no data
    read) — the add-action stats that power manifest-level skipping."""
    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, dict] = {}
    for col in stats_cols:
        if col not in names:
            continue
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(names[col]).statistics
            if s is None or not s.has_min_max:
                lo = hi = None
                break
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            stats[col] = {"min": lo, "max": hi}
    return md.num_rows, stats


def _log_actions(table: str, start: int = 0, upto: int | None = None):
    """Yield ``(version, action)`` for every log line of versions
    ``start..upto`` (inclusive; None = latest), oldest first — the one
    replay of ``_txnlog/<version>.json`` files."""
    if upto is None:
        upto = current_version(table)
    for v in range(start, upto + 1):
        path = _log_path(table, v)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for line in f:
                yield v, json.loads(line)


def _first_action(table: str, version: int) -> dict | None:
    """The first line of log version ``version`` (its commit line), or
    None if that version is not committed."""
    return next((a for _, a in _log_actions(table, version, version)), None)


def _is_checkpoint(table: str, version: int) -> bool:
    first = _first_action(table, version) or {}
    return first.get("commit", {}).get("op") == "checkpoint"


def _stage(
    df: DataFrame, table: str, kind: str, stats_cols: tuple[str, ...] = ()
) -> list[dict]:
    """Write ``df`` into a hidden staging dir, then move each parquet file
    ONCE into the table root as ``v{attempt}-{kind}-{uid}-{seq:05d}.parquet``
    and return its ``{path, rows, stats}`` entry from the footer. The
    files are unreferenced until a log commit names them, so a crash or
    a lost commit race leaves only orphans, never a torn table."""
    uid = _writer_uid()
    staging = os.path.join(table, f".staging-{kind}-{uid}")
    df.write.mode("overwrite").parquet(staging)
    attempt = current_version(table) + 1
    entries = []
    for seq, fname in enumerate(
        f for f in sorted(os.listdir(staging)) if f.endswith(".parquet")
    ):
        final = f"v{attempt}-{kind}-{uid}-{seq:05d}.parquet"
        os.replace(os.path.join(staging, fname), os.path.join(table, final))
        rows, stats = _file_stats(os.path.join(table, final), stats_cols)
        entries.append({"path": final, "rows": rows, "stats": stats})
    shutil.rmtree(staging, ignore_errors=True)
    return entries


def _commit(table: str, op: str, body: Callable[[int], list[dict]]) -> int:
    """The one optimistic commit loop: each attempt publishes
    ``[commit line] + body(version)`` at ``version = current_version + 1``
    and returns that version. Only a lost ``_publish`` race is retried;
    whatever ``body`` raises (a stale read set, a refused partition swap)
    aborts the commit."""
    while True:
        version = current_version(table) + 1
        actions = [{"commit": {"op": op, "version": version}}] + body(version)
        try:
            _publish(table, version, actions)
            return version
        except CommitConflict:
            continue


def _paths(entries: list[dict]) -> set[str]:
    return {e["path"] for e in entries}


def _removes(entries: list[dict], action: str = "remove") -> list[dict]:
    return [{action: {"path": e["path"]}} for e in entries]


def txn_write(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    mode: str = "append",
    stats_cols: tuple[str, ...] = (),
    op_name: str = "write",
) -> int:
    """Write ``df`` as immutable data files + one atomic log commit.

    mode="append" adds files; mode="overwrite" additionally removes every
    file live in the snapshot the writer validated against. Returns the
    committed version. On CommitConflict the commit retries at the next
    version — for append that is always safe (file-level appends commute);
    an overwrite re-reads the live set on every attempt so it removes a
    rival's files too."""
    adds = [{"add": e} for e in _stage(df, table, "write", stats_cols)]

    def body(version: int) -> list[dict]:
        if mode != "overwrite":
            return adds
        return _removes(snapshot_files(table, version - 1)) + adds

    return _commit(table, op_name, body)


def snapshot_files(table: str, version: int | None = None) -> list[dict]:
    """Replay the log up to ``version`` (inclusive; None = latest) and
    return the live file entries [{path, rows, stats}, ...]."""
    latest = current_version(table)
    upto = latest if version is None else min(version, latest)
    # Start replay at the newest checkpoint at-or-before ``upto``: a
    # checkpoint's add actions ARE the full live set as of that version,
    # so earlier log entries are redundant for this read.
    start = next(
        (v for v in range(upto, -1, -1) if _is_checkpoint(table, v)), 0
    )
    live: dict[str, dict] = {}
    for v, action in _log_actions(table, start, upto):
        if "add" in action:
            # tag the entry with its commit version (the "sequence number"
            # of the published formats) — equality deletes apply only to
            # files committed BEFORE the delete. A checkpoint's
            # materialized adds carry the ORIGINAL v forward (see
            # txn_checkpoint), so sequence semantics survive
            # replay-from-checkpoint.
            live[action["add"]["path"]] = {
                **action["add"],
                "v": action["add"].get("v", v),
            }
        elif "remove" in action:
            live.pop(action["remove"]["path"], None)
    return list(live.values())


def txn_read(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Snapshot-isolated read, optionally time-traveled to ``version``.

    ``prune=(col, lo, hi)`` applies MANIFEST-LEVEL file skipping: any file
    whose footer stats prove ``col`` ∉ [lo, hi] is dropped before Spark
    sees a path — at 100 TB this turns a selective range scan from "list a
    million files" into "open the dozens that can match". (The predicate
    itself must still be applied by the caller; stats skipping is a
    superset guarantee, exactly as in the published Delta/Iceberg
    protocols.) Returns an empty-but-typed DataFrame for an empty
    snapshot only if the table has at least one historical file to infer
    schema from; a never-written table raises."""
    files = snapshot_files(table, version)
    if prune is not None:
        col, lo, hi = prune
        kept = []
        for f in files:
            s = f.get("stats", {}).get(col)
            if s is not None and (s["max"] < lo or s["min"] > hi):
                continue
            kept.append(f)
        files = kept
    if not files:
        # schema from any historical file; empty snapshot is a valid state
        hist = [
            f for f in os.listdir(table)
            if f.endswith(".parquet")
        ]
        if not hist:
            raise ValueError(f"txn table {table} has no data files")
        schema = spark.read.parquet(os.path.join(table, hist[0])).schema
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*[os.path.join(table, f["path"]) for f in files])


def table_history(table: str) -> list[dict]:
    """The commit line of every version, oldest first (DESCRIBE HISTORY)."""
    return [
        first.get("commit", {"version": v})
        for v in range(current_version(table) + 1)
        if (first := _first_action(table, v)) is not None
    ]


def txn_compact(
    spark: SparkSession,
    table: str,
    target_files: int = 1,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Compaction (the OPTIMIZE operation): rewrite the current live file
    set into ``target_files`` larger files and commit the swap atomically
    (removes of every old file + adds of the new ones in ONE log entry).
    Logical table content is unchanged — readers before the commit see the
    old files, readers after see the new ones, and a time-travel read at
    an earlier version still resolves the original files (compaction never
    deletes data files, only de-references them; physical vacuum is a
    separate retention-driven step, as in the published designs)."""
    live = snapshot_files(table)
    df = spark.read.parquet(*[os.path.join(table, f["path"]) for f in live])
    adds = [
        {"add": e}
        for e in _stage(df.coalesce(target_files), table, "compact", stats_cols)
    ]

    def body(version: int) -> list[dict]:
        # the compaction is stale if any commit since the read changed
        # the live set — checked on EVERY attempt, not only after a lost
        # race (a rival that committed while we staged is no race)
        if _paths(snapshot_files(table, version - 1)) != _paths(live):
            raise CommitConflict("live set changed since the compaction read")
        return _removes(live) + adds

    return _commit(table, "compact", body)


def txn_checkpoint(table: str) -> int:
    """Write a checkpoint action into the NEXT log version: the fully
    materialized live file set ("checkpoint" line + its add actions).
    Replay can then start from the newest checkpoint instead of version 0,
    bounding snapshot construction to O(commits since checkpoint) — the
    published Delta checkpoint-parquet idea in JSON form. A checkpoint is
    just another atomic commit: concurrent writers race it like any other
    version."""
    return _commit(
        table,
        "checkpoint",
        lambda version: [{"checkpoint": {"base": version}}]
        + [{"add": f} for f in snapshot_files(table, version - 1)],
    )


def latest_checkpoint(table: str) -> int | None:
    """Version of the newest checkpoint commit, or None."""
    return next(
        (v for v in range(current_version(table), -1, -1)
         if _is_checkpoint(table, v)),
        None,
    )


def vacuum(table: str, keep_versions: int = 0) -> list[str]:
    """Physically delete data files no snapshot in the retention window
    references. Retention: the live sets of the latest version and the
    ``keep_versions`` versions before it are protected; anything on disk
    outside that union (compacted-away files, crashed-writer orphans) is
    removed. DESTRUCTIVE for time travel past the window — that is the
    documented contract of every published vacuum. Returns deleted names."""
    latest = current_version(table)
    protected: set[str] = set()
    for v in range(max(0, latest - keep_versions), latest + 1):
        protected |= {f["path"] for f in snapshot_files(table, v)}
    deleted = []
    for fname in os.listdir(table):
        if fname.endswith(".parquet") and fname not in protected:
            os.unlink(os.path.join(table, fname))
            deleted.append(fname)
    return sorted(deleted)


def txn_set_schema(table: str, schema_json: str) -> None:
    """Record the table's CURRENT schema as a metaData action in the next
    commit made by txn_write — stored here, attached by the writer. For
    simplicity the schema rides its own commit (the published formats
    fold it into the writing commit; the isolation property is the same
    because the publish is atomic either way)."""
    _commit(
        table,
        "set_schema",
        lambda version: [{"metaData": {"schemaJson": schema_json}}],
    )


def table_schema(table: str, version: int | None = None):
    """Latest metaData schema at-or-before ``version`` (None = latest),
    parsed back into a Spark StructType; None if never recorded."""
    from pyspark.sql.types import StructType

    found = None
    for _, action in _log_actions(table, upto=version):
        if "metaData" in action:
            found = action["metaData"]["schemaJson"]
    return None if found is None else StructType.fromJson(json.loads(found))


def txn_read_with_schema(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot read that resolves the schema FROM THE LOG (latest
    metaData at-or-before the version) instead of file inference: files
    written before a column existed surface NULLs for it — schema
    evolution exactly as the published formats define it, without
    Spark's mergeSchema footer sweep (at 100 TB, reading one log beats
    opening a million footers)."""
    schema = table_schema(table, version)
    files = snapshot_files(table, version)
    if schema is None or not files:
        return txn_read(spark, table, version)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table, f["path"]) for f in files]
    )


# ---------------------------------------------------------------------------
# Row-level deletes: equality delete files (merge-on-read), as in the
# published Iceberg v2 / Delta deletion-vector designs — a DELETE commits a
# small file of matching KEY VALUES plus one log action; readers subtract
# it with an anti-join until compaction rewrites the data files.
# ---------------------------------------------------------------------------


def snapshot_delete_files(table: str, version: int | None = None) -> list[dict]:
    """Live equality-delete file entries [{path, rows, key}] at ``version``.

    Replays the FULL log (not from a checkpoint): checkpoints materialize
    only data-file adds, and delete files are few by construction — a
    compaction (txn_apply_deletes) retires them, so the set replayed here
    stays O(deletes since last compaction)."""
    live: dict[str, dict] = {}
    for v, action in _log_actions(table, upto=version):
        if "add_delete" in action:
            live[action["add_delete"]["path"]] = {**action["add_delete"], "v": v}
        elif "remove_delete" in action:
            live.pop(action["remove_delete"]["path"], None)
    return list(live.values())


def _add_deletes(entries: list[dict], key_col: str) -> list[dict]:
    return [
        {"add_delete": {"path": e["path"], "rows": e["rows"], "key": key_col}}
        for e in entries
    ]


def txn_delete_keys(spark, keys_df, table: str, key_col: str) -> int:
    """Commit a row-level DELETE as an equality-delete file: the matching
    key values are written as one small parquet plus an ``add_delete`` log
    action — O(matched keys) I/O, NO data-file rewrite. Readers must go
    through txn_read_mor (merge-on-read) until txn_apply_deletes
    compacts."""
    adds = _add_deletes(
        _stage(keys_df.select(key_col).coalesce(1), table, "delete"), key_col
    )
    return _commit(table, "delete", lambda version: adds)


def txn_read_mor(spark, table: str, version: int | None = None):
    """Merge-on-read snapshot with SEQUENCE semantics: an equality-delete
    applies only to data files committed at a version STRICTLY BEFORE the
    delete's version (the published Iceberg-v2 sequence-number rule) — so
    a MERGE/upsert commit whose delete keys and replacement rows land in
    the SAME version never deletes its own rows, and rows re-inserted
    after a delete survive.

    Plan: data files group by the set of deletes applicable to them (a
    handful of segments — one per upsert generation still unreclaimed by
    txn_apply_deletes); each segment anti-joins a BROADCAST union of its
    applicable delete keys, and the segments union. At 100 TB the delete
    side stays small by contract (compaction retires it), and a per-file
    min/max scope check would further bound each anti-join exactly as in
    the published formats."""
    from pyspark.sql import functions as _F

    files = snapshot_files(table, version)
    dels = snapshot_delete_files(table, version)
    if not files or not dels:
        return txn_read(spark, table, version)
    key = dels[0]["key"]
    # group data files by applicable delete versions
    del_versions = sorted({d["v"] for d in dels})

    def applicable(fv: int) -> tuple[int, ...]:
        return tuple(v for v in del_versions if v > fv)

    segments: dict[tuple[int, ...], list[str]] = {}
    for f in files:
        segments.setdefault(applicable(f.get("v", 0)), []).append(f["path"])
    out = None
    for dvs, paths in sorted(segments.items()):
        seg = spark.read.parquet(*[os.path.join(table, p) for p in paths])
        if dvs:
            keys = spark.read.parquet(
                *[os.path.join(table, d["path"]) for d in dels if d["v"] in dvs]
            )
            seg = seg.join(
                _F.broadcast(
                    keys.withColumnRenamed(key, "__delkey").distinct()
                ),
                seg[key] == _F.col("__delkey"),
                "left_anti",
            )
        out = seg if out is None else out.unionByName(seg)
    return out


def txn_upsert(
    spark, df, table: str, key_col: str, op_name: str = "upsert"
) -> int:
    """MERGE INTO (upsert) as ONE atomic commit: an equality-delete file
    of the incoming keys PLUS the incoming rows as new data files publish
    together — matched rows are superseded, unmatched rows insert, and
    readers see either the whole merge or none of it. The sequence rule
    (deletes apply only to EARLIER files) is what lets the delete and the
    replacement rows share a version. Cost is O(batch), never a base
    rewrite — the merge-on-read MERGE of the published formats."""
    keys = _stage(
        df.select(key_col).distinct().coalesce(1), table, "upsert-keys"
    )
    data = _stage(df, table, "upsert-data")
    actions = _add_deletes(keys, key_col) + [{"add": e} for e in data]
    return _commit(table, op_name, lambda version: actions)


def txn_apply_deletes(
    spark, table: str, stats_cols: tuple[str, ...] = ()
) -> int:
    """Compact merge-on-read state: rewrite the live data files with the
    delete keys APPLIED, then atomically swap (removes of old data files +
    ``remove_delete`` of the delete files + adds of the purged files in
    one commit). After this, plain txn_read equals txn_read_mor and the
    read path pays no anti-join — the same write-amplification-for-read-
    speed trade OPTIMIZE makes for small files."""
    read = current_version(table)
    live = snapshot_files(table, read)
    dels = snapshot_delete_files(table, read)
    purged = txn_read_mor(spark, table, read)
    adds = [{"add": e} for e in _stage(purged, table, "purge", stats_cols)]

    def body(version: int) -> list[dict]:
        # stale if any commit since the read changed the live data or
        # delete files — checked on EVERY attempt (see txn_compact)
        now = (_paths(snapshot_files(table, version - 1)),
               _paths(snapshot_delete_files(table, version - 1)))
        if now != (_paths(live), _paths(dels)):
            raise CommitConflict("live set changed since the purge read")
        return _removes(live) + _removes(dels, "remove_delete") + adds

    return _commit(table, "apply_deletes", body)


def txn_overwrite_partition(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    part_col: str,
    part_value,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Dynamic partition overwrite as ONE atomic commit: replace exactly
    the files belonging to logical partition ``part_col == part_value``
    (identified by their footer stats: min == max == value) with ``df``'s
    files. Readers never see a state where the partition is half-swapped,
    and files of other partitions are not touched (their add actions stay
    live) — INSERT OVERWRITE PARTITION semantics on the log.

    A live file whose stats STRADDLE the partition value (min != max but
    the range contains it) would make file-level replacement lossy, so
    the commit refuses with ValueError — the writer discipline is that
    partition-aligned tables are written partition-aligned (every add in
    this repo's fixtures carries exact-stats files). The check re-runs on
    every optimistic retry against the then-current snapshot."""
    all_stats = tuple(dict.fromkeys((part_col, *stats_cols)))
    staged = _stage(df, table, "overwrite", all_stats)
    for e in staged:
        ps = e["stats"].get(part_col)
        if e["rows"] and (
            ps is None or ps["min"] != part_value or ps["max"] != part_value
        ):
            for f in staged:  # a refused swap leaves no orphans behind
                os.remove(os.path.join(table, f["path"]))
            raise ValueError(
                f"replacement file {e['path']} is not aligned to partition "
                f"{part_col}={part_value!r} (stats {ps})"
            )
    # a zero-row staged file (empty replacement = partition truncation)
    # carries no data and no stats; dropping it is exactly the
    # overwrite-with-empty semantics (the removes below still retire the
    # old files)
    for e in staged:
        if not e["rows"]:
            os.remove(os.path.join(table, e["path"]))
    adds = [{"add": e} for e in staged if e["rows"]]

    def body(version: int) -> list[dict]:
        removes = []
        for f in snapshot_files(table, version - 1):
            if f.get("rows") == 0:
                # a zero-row live file belongs to no partition and holds no
                # data — it neither blocks nor joins the swap
                continue
            ps = (f.get("stats") or {}).get(part_col)
            if ps is None:
                raise ValueError(
                    f"live file {f['path']} has no {part_col} stats; cannot "
                    "prove partition alignment"
                )
            if ps["min"] == part_value and ps["max"] == part_value:
                removes.append({"remove": {"path": f["path"]}})
            elif ps["min"] <= part_value <= ps["max"]:
                raise ValueError(
                    f"live file {f['path']} straddles {part_col}="
                    f"{part_value!r} ({ps}); partition overwrite would drop "
                    "co-resident rows"
                )
        return removes + adds

    return _commit(table, "overwrite_partition", body)


# ---------------------------------------------------------------------------
# Branches and tags (Nessie/Iceberg-refs style, zero-copy)
# ---------------------------------------------------------------------------


def create_branch(base_table: str, branch_table: str, version: int | None = None) -> int:
    """Branch a table at ``version`` (default: latest) with ZERO data
    copies: the branch's seed commit (v0) records a `branch` action
    (base path + pinned base version) plus add actions whose paths point
    INTO the base directory (relative), so the branch reads the base's
    immutable files in place. Branch writes then commit normally in the
    branch's own log — invisible to base readers until merge."""
    base_abs = os.path.abspath(base_table)
    os.makedirs(branch_table, exist_ok=True)
    if current_version(branch_table) >= 0:
        raise ValueError(f"branch dir {branch_table} already has a log")
    base_v = current_version(base_table) if version is None else version
    rel = os.path.relpath(base_abs, os.path.abspath(branch_table))
    actions: list[dict] = [
        {"commit": {"op": "branch", "version": 0}},
        {"branch": {"base": base_abs, "base_version": base_v}},
    ]
    for f in snapshot_files(base_table, base_v):
        actions.append(
            {"add": {**f, "path": os.path.join(rel, f["path"]), "v": 0}}
        )
    _publish(branch_table, 0, actions)
    return base_v


def branch_info(branch_table: str) -> dict:
    for _, action in _log_actions(branch_table, 0, 0):
        if "branch" in action:
            return action["branch"]
    raise ValueError(f"{branch_table} is not a branch (no branch action in v0)")


def merge_branch(base_table: str, branch_table: str) -> int:
    """Fast-forward merge: squash the branch's delta vs its seed into ONE
    atomic base commit. Requires the base still at the pinned version
    (true fast-forward); a diverged base raises CommitConflict — the
    resolution (rebase the branch) is the caller's decision, never a
    silent clobber. Branch-local data files are copied into the base
    directory; removes of seed files are rewritten base-relative. Readers
    of base see nothing until the single commit publishes."""
    info = branch_info(branch_table)
    base_abs = os.path.abspath(base_table)
    if os.path.abspath(info["base"]) != base_abs:
        raise ValueError("branch was not created from this base table")
    base_v = current_version(base_table)
    if base_v != info["base_version"]:
        raise CommitConflict(
            f"base advanced to v{base_v} past the branch point "
            f"v{info['base_version']}; rebase required"
        )
    seed_paths = _paths(snapshot_files(branch_table, 0))
    live = snapshot_files(branch_table)
    live_paths = _paths(live)
    version = base_v + 1
    uid = _writer_uid()
    actions: list[dict] = [
        {"commit": {"op": "merge_branch", "version": version}}
    ]
    for p in sorted(seed_paths - live_paths):
        base_rel = os.path.relpath(
            os.path.abspath(os.path.join(branch_table, p)), base_abs
        )
        actions.append({"remove": {"path": base_rel}})
    seq = 0
    for f in sorted(
        (f for f in live if f["path"] not in seed_paths),
        key=lambda f: f["path"],
    ):
        if os.sep in f["path"]:
            raise ValueError(f"unexpected non-local live file {f['path']}")
        final = f"m{version}-{uid}-{seq:05d}.parquet"
        shutil.copy2(
            os.path.join(branch_table, f["path"]),
            os.path.join(base_table, final),
        )
        actions.append(
            {"add": {**{k: v for k, v in f.items() if k != "v"}, "path": final}}
        )
        seq += 1
    _publish(base_table, version, actions)
    return version


def _refs_path(table: str) -> str:
    return os.path.join(table, "_txnlog", "refs.json")


def set_tag(table: str, name: str, version: int | None = None) -> int:
    """Name an immutable version. Re-tagging an existing name to a
    DIFFERENT version raises — tags are release markers, not branches."""
    v = current_version(table) if version is None else version
    path = _refs_path(table)
    refs = {"tags": {}}
    if os.path.exists(path):
        with open(path) as f:
            refs = json.load(f)
    existing = refs["tags"].get(name)
    if existing is not None and existing != v:
        raise ValueError(f"tag {name!r} already pins v{existing}")
    refs["tags"][name] = v
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, path)
    return v


def read_tag(spark: SparkSession, table: str, name: str) -> DataFrame:
    path = _refs_path(table)
    with open(path) as f:
        refs = json.load(f)
    if name not in refs["tags"]:
        raise KeyError(f"unknown tag {name!r}")
    return txn_read(spark, table, version=refs["tags"][name])


# ---------------------------------------------------------------------------
# Write-time CHECK constraints (Delta-style contract enforcement)
# ---------------------------------------------------------------------------


class ConstraintViolation(Exception):
    pass


def txn_set_constraints(table: str, constraints: dict[str, str]) -> int:
    """Declare named CHECK constraints (SQL boolean expressions over the
    row) as a `constraints` metadata action — from this version on, every
    `txn_write_checked` commit must prove its batch satisfies them."""
    return _commit(
        table, "set_constraints", lambda version: [{"constraints": constraints}]
    )


def table_constraints(table: str, version: int | None = None) -> dict[str, str]:
    found: dict[str, str] = {}
    for _, action in _log_actions(table, upto=version):
        if "constraints" in action:
            found = action["constraints"]  # latest declaration wins
    return found


def txn_write_checked(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    stats_cols: tuple[str, ...] = (),
    op_name: str = "checked_write",
) -> int:
    """Append that REFUSES to commit a batch violating the table's
    declared CHECK constraints: one conditional-aggregation pass counts
    violations per constraint (the dq_expectation_checks shape — a single
    scan however many constraints exist), and any nonzero count raises
    ConstraintViolation BEFORE any file is staged. Enforcement at the
    write boundary is what keeps a 100 TB table's invariants true without
    ever re-validating the whole table — only batches are checked, and
    the log records the contract they were checked against."""
    from pyspark.sql import functions as F

    cons = table_constraints(table)
    if cons:
        aggs = [
            F.count(F.when(~F.expr(expr), F.lit(1))).alias(name)
            for name, expr in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {name: int(row[name]) for name in cons if row[name]}
        if bad:
            raise ConstraintViolation(
                f"batch violates constraints {bad}; commit refused"
            )
    return txn_write(
        spark, df, table, mode="append", stats_cols=stats_cols, op_name=op_name
    )
