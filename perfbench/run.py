"""The repository benchmark: B1-B10 queries and the reference ETL job.

    env SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=4g \\
        python3 perfbench/run.py --workload query_floor --seed 1 --seconds 18 --trace 0

Workloads (closed loop, one client, one query or job at a time):

* ``query_floor`` — the ten B1-B10 registry ops over seeded sf0.1-sized
  tables, query order shuffled per pass from the seed.
* ``etl_job``     — ``plans.job.run_job`` put (from a zip) -> get -> delete
  on one project while the other projects stay resident.
* ``query_x40``   — the ten ops over a x40 key-offset tiling (past every
  dispatch knee). Not in BENCHMARK.json: at about 105 s a run, 22 runs do
  not fit the check budget; run it by hand.

Inputs are generated from ``--seed`` once, into ``.perfbench/inputs``,
outside every timer. Each run gets empty scratch and Spark local dirs, so
every run pays the same layout builds inside ``setup_s``. Outputs are
checked outside every timer. The last stdout line is the JSON result; with
``--trace 1`` the metrics are the per-layer ones (see NOTES.md).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import zipfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import spans  # noqa: E402

# The B1-B10 operator set, owned here (BASELINE.md).
QUERY_OPS = (
    "agg_group_sums",
    "join_multiway_star",
    "win_row_number_topk",
    "join_left_semi",
    "agg_time_bucket",
    "fn_json",
    "text_tokenize_stats",
    "sim_cosine_topk",
    "agg_rollup_partial_reagg",
    "agg_distinct_count",
)

# Warm-up and timed window are counts, never wall clock (NOTES.md has the
# warm-up curves they were read from). ``warmup`` counts the untimed samples
# after the first, cold one (pass 0, or the first job cycle). ``nominal_s`` is a sample's typical
# wall time on the reference box: the timed count is --seconds / nominal_s
# rounded up to an even number, so it is fixed for a given --seconds and
# does not follow the program's speed. (Even, because etl_job's cycle times
# alternate between two levels; an even window holds as many of each.)
WORKLOADS = {
    "query_floor": {"scale": 1, "warmup": 1, "nominal_s": 3.5},
    "query_x40": {"scale": 40, "warmup": 1, "nominal_s": 5.0},
    "etl_job": {"warmup": 2, "nominal_s": 4.0},
}

# etl_job: the cycled project has a fixed size so every seed does the same
# work; the resident projects' sizes are drawn from the seed.
BIG_PROJECT = ("bench-big", 25_000)
RESIDENTS = 2
RESIDENT_FRACTION = (0.03, 0.06)
STORES = (
    "graph/vertices",
    "graph/edges",
    "flat/patient",
    "flat/observation",
    "flat/file",
    "discovery/studies",
    "raw/resources",
)

QUERY_SPANS = {"tables.load": ("aced_etl_pod_spark.tables", "load")}
ETL_SPANS = {
    "storage.upsert": ("aced_etl_pod_spark.plans.storage", "upsert_partitions"),
    "archives.unzip": ("aced_etl_pod_spark.sources.archives", "unzip_to_dir"),
    "archives.zip": ("aced_etl_pod_spark.sources.archives", "zip_dir"),
}

# Every per-layer metric, in BENCHMARK.json order; a layer a workload does
# not exercise reports 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "operators.plan_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "operators.layout_build_s": "s",
    "operators.layouts_built": "count",
    "operators.layout_bytes": "bytes",
    "spark.optimize_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.result_rows": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_rows": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "plans.put_s": "s",
    "plans.get_s": "s",
    "plans.put_jobs": "count",
    "plans.put_stages": "count",
    "plans.get_jobs": "count",
    "plans.cold_put_s": "s",
    "plans.delete_s": "s",
    "plans.get_scan_ratio": "ratio",
    "storage.upsert_s": "s",
    "storage.upsert_calls": "count",
    "storage.files_written": "count",
    "storage.bytes_written": "bytes",
    "archives.unzip_s": "s",
    "archives.zip_s": "s",
    "trace.overhead": "ratio",
}


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where it is absent."""
    try:
        with open("/proc/stat") as f:
            cols = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (cols[7] if len(cols) > 7 else 0), sum(cols)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Run:
    """One benchmark process: its fresh dirs, session and counters."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.seed, self.traced = workload, seed, traced
        cfg = WORKLOADS[workload]
        self.warmup = cfg["warmup"]
        self.timed = max(2, round(seconds / cfg["nominal_s"]))
        self.timed += self.timed % 2
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.tracer = spans.Tracer() if traced else None
        self.layers: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
        self.dir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.scratch = os.path.join(self.dir, "scratch")
        for sub in ("scratch", "local"):
            os.makedirs(os.path.join(self.dir, sub))

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}"[:500])

    def start_session(self):
        os.environ["SPARK_GRAFT_SCRATCH"] = self.scratch
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        from aced_etl_pod_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark()
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.probe = spans.SparkProbe(self.spark) if self.traced else None
        return self.spark

    def close(self) -> None:
        """Stop the session, the JVM it launched, and remove the run dirs."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


# ---------------------------------------------------------------- inputs


def expected_results(sf_dir: str) -> dict:
    """DuckDB oracle result of every op over the files in ``sf_dir``."""
    from aced_etl_pod_spark.oracle import duck_con
    from aced_etl_pod_spark.registry import registry

    con = duck_con(sf_dir)
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    reg = registry()
    return {op: con.execute(reg[op].oracle).df() for op in QUERY_OPS}


def query_inputs(scale: int, seed: int) -> tuple[str, dict]:
    """Seeded tables (tiled when ``scale`` > 1) and their oracle results,
    built once per (scale, seed)."""
    import pickle

    base = inputs.build_once(
        os.path.join(WORK, "inputs", f"tables-x1-s{seed}"),
        lambda d: inputs.write_tables(d, seed),
    )
    if scale > 1:
        base = inputs.build_once(
            os.path.join(WORK, "inputs", f"tables-x{scale}-s{seed}"),
            lambda d: inputs.write_tiled(base, d, scale),
        )

    def oracle(d: str) -> None:
        with open(os.path.join(d, "expected.pkl"), "wb") as f:
            pickle.dump(expected_results(base), f)

    exp_dir = inputs.build_once(
        os.path.join(WORK, "inputs", f"expected-x{scale}-s{seed}"), oracle
    )
    with open(os.path.join(exp_dir, "expected.pkl"), "rb") as f:
        return base, pickle.load(f)


def etl_inputs(seed: int) -> tuple[str, dict]:
    """Zipped FHIR commits for the cycled project and the residents."""
    rng = random.Random(seed)
    name, n_big = BIG_PROJECT
    sizes = {name: n_big}
    for i in range(RESIDENTS):
        sizes[f"bench-r{i}"] = int(n_big * rng.uniform(*RESIDENT_FRACTION))

    def build(d: str) -> None:
        manifest = inputs.write_fhir(d, seed, sizes)
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    out = inputs.build_once(os.path.join(WORK, "inputs", f"fhir-s{seed}"), build)
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def traced_call(run: Run, name: str, fn):
    """Run ``fn`` in a new trace under a job group; returns its result, its
    span and its Spark stage metrics (read after the call)."""
    run.tracer.new_trace()
    with run.probe.group() as gid, run.tracer.span(name) as span:
        out = fn()
    return out, span, run.probe.stages(gid)


def driver_gap(st: dict, span) -> float:
    """Wall time of ``span`` not covered by any running stage."""
    lo, hi = span.start + spans.EPOCH, span.end + spans.EPOCH
    return (hi - lo) - spans.covered(st.pop("intervals"), lo, hi)


# ---------------------------------------------------------------- queries


def money_mismatch(got, want) -> list[str]:
    """The repository's at-scale rule (tools/q2_bucketed_ab.py): keys and
    counts match exactly, float sums to 1e-12 relative. At x40 a money sum
    reaches ~1e11, where two engines' fold orders differ in the last cent."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return ["shape differs"]
    cols = sorted(want.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(want[c])]
    keys = [c for c in cols if c not in floats] or floats
    a = got[cols].sort_values(keys).reset_index(drop=True)
    b = want[cols].sort_values(keys).reset_index(drop=True)
    errs = []
    for c in cols:
        x, y = a[c], b[c]
        if c in floats:
            ok = ((x - y).abs() <= 1e-12 * y.abs().clip(lower=1.0)) | (x.isna() & y.isna())
        else:
            ok = (x == y) | (x.isna() & y.isna())
        errs += [f"{c}[{i}] {x[i]!r} != {y[i]!r}" for i in ok[~ok].index[:3]]
    return errs


class Queries:
    """``query_floor`` / ``query_x40``: passes over the ten ops."""

    def __init__(self, run: Run, sf_dir: str, expected: dict):
        from aced_etl_pod_spark.registry import registry

        self.run, self.sf_dir, self.expected = run, sf_dir, expected
        self.tiled = WORKLOADS[run.workload].get("scale", 1) > 1
        self.spark = run.start_session()
        self.reg = registry()
        self.traced_passes: list[dict] = []
        self.undo = spans.instrument(run.tracer, QUERY_SPANS) if run.tracer else None

    def sample(self, op: str, traced: bool):
        """One query: ``op.fn`` plus ``.collect()``, checked after the
        timer. Returns (wall s, op.fn s, rows, traced stats or None)."""
        import pandas as pd

        from aced_etl_pod_spark.oracle import compare

        fn = self.reg[op].fn
        tr, st = self.run.tracer, None
        if traced:

            def body():
                with tr.span("operators.plan") as plan:
                    df = fn(self.spark, self.sf_dir)
                with tr.span("spark.optimize"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.collect") as collect:
                    rows = df.collect()
                return df, rows, plan, collect

            (df, rows, plan, collect), span, st = traced_call(self.run, "query", body)
            dt, fn_s = span.end - span.start, plan.end - plan.start
        else:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            fn_s = time.perf_counter() - t0
            rows = df.collect()
            dt = time.perf_counter() - t0
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
        errs = compare(got, self.expected[op])
        if errs and self.tiled:
            errs = money_mismatch(got, self.expected[op])
        self.run.check(op, not errs, "; ".join(errs))
        if traced:
            now = {tr.trace}
            st["spark.driver_gap_s"] = driver_gap(st, collect)
            st.update(spans.python_bytes(df))
            st["operators.plan_s"] = fn_s
            st["spark.optimize_s"] = tr.total("spark.optimize", now)
            st["tables.load_s"] = tr.total("tables.load", now)
            st["tables.load_calls"] = tr.calls("tables.load", now)
            st["spark.result_rows"] = len(rows)
        return dt, fn_s, rows, st

    def one_pass(self, traced: bool, times: dict | None = None) -> float:
        """Wall time of the ten samples, in an order shuffled from the seed;
        ``times`` collects each op's (wall s, op.fn s)."""
        order = list(QUERY_OPS)
        self.run.rng.shuffle(order)
        total, stats = 0.0, []
        for op in order:
            try:
                dt, fn_s, _rows, st = self.sample(op, traced)
            except Exception as e:  # a failed query is a failed op
                self.run.check(op, False, f"{type(e).__name__}: {e}")
                continue
            total += dt
            if times is not None:
                times.setdefault(op, []).append((dt, fn_s))
            if st:
                stats.append(st)
        if stats:
            layer = {k: sum(s[k] for s in stats) for k in stats[0]}
            layer["spark.task_skew"] = max(s["spark.task_skew"] for s in stats)
            self.traced_passes.append(layer)
        return total

    def measure(self) -> dict:
        run = self.run
        first: dict[str, list] = {}
        timed: dict[str, list] = {}
        self.one_pass(False, first)  # builds the layouts and fixtures
        for _ in range(run.warmup):
            self.one_pass(False)
        t_first = time.perf_counter()
        built = [d for d in os.listdir(run.scratch) if d != "sess" and not d.startswith(".")]
        built_bytes = sum(dir_stats(os.path.join(run.scratch, d))[1] for d in built)

        plain, traced = [], []
        for _ in range(run.timed):
            plain.append(self.one_pass(False, timed))
            if run.tracer:
                traced.append(self.one_pass(True))
        if run.tracer:
            self.undo()
            L = run.layers
            for k in self.traced_passes[0]:
                if k in L:
                    L[k] = median([p[k] for p in self.traced_passes])
            L["operators.layout_build_s"] = sum(
                first[op][0][1] - median([fn_s for _, fn_s in timed[op]])
                for op in first
                if op in timed
            )
            L["operators.layouts_built"] = len(built)
            L["operators.layout_bytes"] = built_bytes
            L["trace.overhead"] = median(traced) / median(plain)
        return {
            "t_first": t_first,
            "passes": plain,
            "steps": {op: [dt for dt, _ in ts] for op, ts in timed.items()},
            "space_amp": built_bytes / dir_stats(self.sf_dir)[1],
        }


# ---------------------------------------------------------------- etl_job


class EtlJob:
    """``etl_job``: put -> get -> delete cycles on one project while the
    others stay resident."""

    def __init__(self, run: Run, zips: str, manifest: dict, big: str = BIG_PROJECT[0]):
        from aced_etl_pod_spark.plans.pipeline import EtlPodPipeline

        self.run, self.zips, self.manifest, self.big = run, zips, manifest, big
        self.spark = run.start_session()
        self.wh = os.path.join(run.dir, "warehouse")
        self.export = os.path.join(run.dir, "export")
        self.pipe = EtlPodPipeline(self.spark, self.wh)
        self.warehouse_bytes = 0
        self.undo = spans.instrument(run.tracer, ETL_SPANS) if run.tracer else None

    def job(self, method: str, project: str, traced: bool):
        """One ``run_job``; returns (wall s, job output, traced stats or None)."""
        from aced_etl_pod_spark.plans.job import run_job

        blob = {"project_id": project, "method": method}
        if method == "put":
            meta = os.path.join(self.zips, f"{project}.zip")
            blob["push"] = {"commits": [{"commit_id": "c1", "meta_path": meta}]}
        target = self.export if method == "get" else None

        def call():
            return run_job(self.spark, blob, self.wh, export_dir=target)

        if not traced:
            t0 = time.perf_counter()
            out = call()
            return time.perf_counter() - t0, out, None
        out, span, st = traced_call(self.run, f"plans.{method}", call)
        dt = span.end - span.start
        st["spark.driver_gap_s"] = driver_gap(st, span)
        tr = self.run.tracer
        for name in ETL_SPANS:
            st[f"{name}_s"] = tr.total(name, {tr.trace})
            st[f"{name}_calls"] = tr.calls(name, {tr.trace})
        return dt, out, st

    def check(self, what: str, test) -> None:
        try:
            ok, detail = test()
        except Exception as e:
            ok, detail = False, f"{type(e).__name__}: {e}"
        self.run.check(what, ok, detail)

    def put_ok(self, project: str):
        from pyspark.sql import functions as F

        want = self.manifest[project]["Patient"]
        n = self.pipe.patient_count(project)
        disc = self.pipe.discovery().filter(F.col("project_id") == project).collect()
        got = [r["patient_count"] for r in disc]
        return n == want and got == [want], f"patients {n}, discovery {got}, want {want}"

    def get_ok(self, project: str, zip_path: str):
        with zipfile.ZipFile(zip_path) as zf:
            got = {t: zf.read(f"{t}.ndjson").count(b"\n") for t in self.manifest[project]}
        return got == self.manifest[project], f"export lines {got}"

    def partitions(self, project: str) -> list[str]:
        return [
            os.path.join(self.wh, s, f"project_id={project}")
            for s in STORES
            if os.path.exists(os.path.join(self.wh, s, f"project_id={project}"))
        ]

    def put(self, project: str, traced: bool = False):
        dt, _out, st = self.job("put", project, traced)
        self.check("put", lambda: self.put_ok(project))
        return dt, st

    def cycle(self, traced: bool) -> dict:
        big = self.big
        put_s, put_st = self.put(big, traced)
        self.warehouse_bytes = dir_stats(self.wh)[1]
        files = [dir_stats(p) for p in self.partitions(big)]
        get_s, out, get_st = self.job("get", big, traced)
        self.check("get", lambda: self.get_ok(big, out["snapshot"]))
        del_s, _out, _st = self.job("delete", big, traced)
        self.check("delete", lambda: (not self.partitions(big), "partitions left"))
        return {
            "put": put_s,
            "get": get_s,
            "delete": del_s,
            "cycle": put_s + get_s + del_s,
            "snapshot": out["snapshot"],
            "stats": (put_st, get_st),
            "written": (sum(f for f, _ in files), sum(b for _, b in files)),
        }

    def attempt(self, fn, *args):
        """``fn(*args)``, or None after counting its exception as a failed op."""
        try:
            return fn(*args)
        except Exception as e:
            self.run.check(fn.__name__, False, f"{type(e).__name__}: {e}")
            return None

    def measure(self) -> dict:
        run, big = self.run, self.big
        residents = [p for p in self.manifest if p != big]
        for project in residents:
            self.attempt(self.put, project)
        cold = self.attempt(self.cycle, False)  # a fresh pod pays it on every job
        for _ in range(run.warmup):
            self.attempt(self.cycle, False)
        t_first = time.perf_counter()

        plain, traced = [], []
        for _ in range(run.timed):
            plain.append(self.attempt(self.cycle, False))
            if run.tracer:
                traced.append(self.attempt(self.cycle, True))
        plain = [c for c in plain if c]
        traced = [c for c in traced if c]
        for project in residents:
            self.check("resident", lambda p=project: self.put_ok(p))
        if run.tracer:
            self.undo()
            self.layers(cold, plain, traced)
        zip_bytes = sum(
            os.path.getsize(os.path.join(self.zips, f"{p}.zip")) for p in self.manifest
        )
        return {
            "t_first": t_first,
            "passes": [c["cycle"] for c in plain],
            "steps": {k: [c[k] for c in plain] for k in ("put", "get", "delete")},
            "space_amp": self.warehouse_bytes / zip_bytes,
        }

    def layers(self, cold: dict, plain: list[dict], traced: list[dict]) -> None:
        L = self.run.layers
        puts = [c["stats"][0] for c in traced]
        gets = [c["stats"][1] for c in traced]
        for k in ("put", "get", "delete"):
            L[f"plans.{k}_s"] = median([c[k] for c in plain])
        L["plans.cold_put_s"] = cold["put"] if cold else 0.0
        L["plans.put_jobs"] = median([s["spark.jobs"] for s in puts])
        L["plans.put_stages"] = median([s["spark.stages"] for s in puts])
        L["plans.get_jobs"] = median([s["spark.jobs"] for s in gets])
        exported = sum(self.manifest[self.big].values())
        L["plans.get_scan_ratio"] = (
            median([s["spark.input_rows"] for s in gets]) / exported
        )
        for k in ("storage.upsert_s", "storage.upsert_calls", "archives.unzip_s"):
            L[k] = median([s[k] for s in puts])
        L["archives.zip_s"] = median([s["archives.zip_s"] for s in gets])
        L["storage.files_written"] = median([c["written"][0] for c in traced])
        L["storage.bytes_written"] = median([c["written"][1] for c in traced])
        for k in puts[0]:
            if k.startswith("spark.") and k in L:
                L[k] = median([p[k] + g[k] for p, g in zip(puts, gets)])
        L["spark.task_skew"] = median(
            [max(p["spark.task_skew"], g["spark.task_skew"]) for p, g in zip(puts, gets)]
        )
        L["trace.overhead"] = median([c["cycle"] for c in traced]) / median(
            [c["cycle"] for c in plain]
        )


# ---------------------------------------------------------------- main


def describe(name: str, xs: list[float], unit: str) -> str:
    """Median, the highest percentile with at least ten samples beyond it,
    and the sample count."""
    n = len(xs)
    line = f"{name}: median {median(xs):.4f} {unit}, n={n}"
    line += " [" + ", ".join(f"{x:.3f}" for x in xs) + "]"
    if n >= 20:
        p = 100 * (1 - 10 / n)
        q = statistics.quantiles(xs, n=100, method="inclusive")[int(p) - 1]
        line += f", p{int(p)} {q:.4f} {unit}"
    else:
        line += " (too few samples for a percentile above the median)"
    return line


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"):
        if var not in os.environ:
            sys.exit(f"{var} is unset: launch through the command in BENCHMARK.json")
    cpus = min(int(os.environ["SPARK_GRAFT_CPUS"]), os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark's Python workers import the package too (q7's Arrow kernel).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import aced_etl_pod_spark  # noqa: F401  (fails fast outside a checkout)

    t0 = time.perf_counter()
    if args.workload == "etl_job":
        data, workload = etl_inputs(args.seed), EtlJob
    else:
        data = query_inputs(WORKLOADS[args.workload]["scale"], args.seed)
        workload = Queries
    prep_s = time.perf_counter() - t0

    steal0 = cpu_steal()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = workload(run, *data).measure()
        if run.tracer:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            run.tracer.dump(
                os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.jsonl")
            )
    finally:
        run.close()

    setup_s = res["t_first"] - T_PROCESS - prep_s
    for e in run.errors:
        print(f"FAILED {e}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in run.layers.items()}
    else:
        pass_s = sum(median(ts) for ts in res["steps"].values())
        print(describe("pass wall", res["passes"], "s"))
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "space_amp": {"value": res["space_amp"], "unit": "ratio"},
        }
    steal = [b - a for a, b in zip(steal0, cpu_steal())]
    print(
        f"inputs built or found in {prep_s:.2f} s (outside setup_s); cpus={cpus}; "
        f"CPU time stolen by the host: {100 * steal[0] / max(steal[1], 1):.1f}%"
    )
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
