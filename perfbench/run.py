"""Benchmark entry point.

    python3 perfbench/run.py --workload registry_lookup --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed``, starts the engine's session (``session.get_spark`` on
``local[<cores>]``) and sets the workload up, then runs the closed-loop
client over a fixed quota of operations (one block of the workload's
operation stream per ten seconds), checks every output and prints a
summary followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` the run
measures the per-layer metrics from spans recorded around each
layer's public functions.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_management_python_spark"
WORKLOADS = ("registry_lookup", "run_ingest", "report_scan")
#: JVM heap; the engine's default (8g) is sized for large scans, and
#: these workloads keep a few MB live
DRIVER_MEMORY = "1g"
#: a timed phase that runs past this stops; the operations it did not
#: run count as failed, so the run still ends well inside three minutes
PHASE_LIMIT_S = 75.0
NOT_RUN = f"not run: the timed phase passed {PHASE_LIMIT_S:.0f} s"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}
STORE_VERBS = (
    "fetch_by", "exists", "attributes_of", "upsert", "store_records",
    "store_with_attributes", "transaction", "table",
)
ETL_ENTRY_POINTS = (
    "sources.read_samplesheet", "sources.read_demux_stats",
    "sources.read_runinfo", "sources.read_interop_dump",
    "sources.list_fastq_files", "sources.count_fastq_reads_many",
    "validation.validate_samplesheet_rows", "validation.duplicate_barcodes",
    "qc.barcode_qc", "plans.demux_pipeline.build_work_units",
    "plans.demux_pipeline.register_fastq_outputs",
    "streaming.discovery.discover_new_runs", "streaming.ingest.ingest_batch",
)
# run_ingest's pipeline stages, each timed around the layer's calls
# and the Spark jobs that force their results
ETL_STAGES = (
    "streaming.discovery", "sources", "validation", "qc",
    "plans.demux_pipeline",
)
# report_scan's query spans, one per module that defines a query
QUERY_MODULES = (
    "plans.relational", "plans.tpch", "plans.analytics", "plans.graph",
    "plans.cosmx_queries", "llmdata.queries",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {"session.get_spark.self_s": "s"}
    for verb in STORE_VERBS:
        units[f"store.{verb}.calls"] = "count"
        units[f"store.{verb}.self_s"] = "s"
        units[f"store.{verb}.p50_s"] = "s"
    units.update({
        "store.bytes_written": "bytes",
        "store.files_written": "count",
        "store.conflicts": "count",
        "store.write_amp": "ratio",
        "store.space_amp": "ratio",
        "fsio.calls_per_op": "count",
        "fsio.self_s": "s",
        "eav.melt_attributes.self_s": "s",
    })
    for name in ETL_STAGES + ETL_ENTRY_POINTS:
        units[f"{name}.self_s"] = "s"
    units["streaming.discovery.runs_found"] = "count"
    units["streaming.ingest.replays_skipped"] = "count"
    units["catalog.load_table.calls"] = "count"
    units["catalog.load_table.self_s"] = "s"
    for name in QUERY_MODULES:
        units[f"{name}.self_s"] = "s"
    units.update({
        "session_cache.hit_ratio": "ratio",
        "session_cache.build_s": "s",
        "spark.jobs_per_op": "count",
        "spark.tasks_per_op": "count",
        "tracing.overhead_s": "s",
    })
    return units


# --------------------------------------------------------------------------
# engine session
# --------------------------------------------------------------------------


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(work: str):
    """The engine's own session on every core; every temporary path of
    the JVM and its workers points into ``work``."""
    from data_management_python_spark import session  # noqa: PLC0415

    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "hadoop"),
            # a heap that starts at its maximum size: the JVM's resident
            # set then follows the engine's allocation, not the timing of
            # heap-resize decisions, which made peak RSS swing ~15%
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext  # noqa: PLC0415

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the session's JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_process()
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def shutdown_jvm() -> None:
    """Stop the session and end the JVM the session started."""
    from pyspark import SparkContext  # noqa: PLC0415
    from pyspark.sql import SparkSession  # noqa: PLC0415

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    proc = jvm_process()
    if proc is None:
        return
    try:
        SparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobCounter:
    """Spark jobs and tasks started since construction, read through the
    public StatusTracker."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.first = self._max_job() + 1

    def _max_job(self) -> int:
        ids = self.tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def totals(self) -> tuple[int, int]:
        last = self._max_job()
        tasks = 0
        for job in range(self.first, last + 1):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                st = self.tracker.getStageInfo(stage)
                if st is not None:
                    tasks += st.numCompletedTasks
        return max(0, last + 1 - self.first), tasks


# --------------------------------------------------------------------------
# timed phase and statistics
# --------------------------------------------------------------------------


def quota(wl, seconds: float) -> int:
    """Operations in one timed phase: one block of the workload's
    operation stream per ten seconds of ``--seconds``, and at least one.
    The quota depends on ``--seconds`` only, so every run of a workload
    times the same work and a faster program finishes it sooner."""
    return wl.block * max(1, round(seconds / 10))


def timed_phase(wl, n_ops: int, tracer=None, on_write=None):
    """Closed loop, one client: the next ``n_ops`` operations of the
    workload's stream, one at a time.  Returns
    ([(kind, latency)] per operation, errors, wall seconds).

    Both heaps are collected first, so a collection left over from
    set-up does not land on a timed call."""
    gc.collect()
    wl.spark._jvm.System.gc()
    ops: list[tuple[str, float]] = []
    errors: list[str] = []
    paused = 0.0
    start = time.perf_counter()
    for _ in range(n_ops):
        if time.perf_counter() - start > PHASE_LIMIT_S:
            errors.extend([NOT_RUN] * (n_ops - len(ops)))
            break
        kind, call = next(wl.stream)
        if tracer is not None:
            tracer.op = len(ops) + 1
        t0 = time.perf_counter()
        try:
            call()
        except Exception as exc:  # noqa: BLE001 - counted as failed
            errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
        ops.append((kind, time.perf_counter() - t0))
        if on_write is not None and kind in wl.write_kinds:
            p0 = time.perf_counter()
            on_write()
            paused += time.perf_counter() - p0
    wall = time.perf_counter() - start - paused
    if tracer is not None:
        tracer.op = None
    return ops, errors, wall


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from
    /proc/stat; (0, 0) where it is unreadable."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it — the eleventh-largest sample.  With fewer than
    eleven samples no percentile has ten above it, and the tail is the
    largest sample."""
    xs = sorted(latencies)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def tree_state(root: str) -> dict[str, tuple]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class WriteMeter:
    """Bytes and files that land under a store root: every file that is
    new or changed since the previous snapshot counts once."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.state = tree_state(root)
        self.bytes = 0
        self.files = 0

    def __call__(self) -> None:
        now = tree_state(self.root)
        for p, sig in now.items():
            if self.state.get(p) != sig:
                self.bytes += sig[2]
                self.files += 1
        self.state = now


def tree_bytes(root: str) -> int:
    return sum(sig[2] for sig in tree_state(root).values())


def compact_bytes(store, tables) -> int:
    """Bytes of a single-file parquet rewrite of each table's live rows."""
    total = 0
    for t in tables:
        out = os.path.join(os.path.dirname(store.root), "compact", t)
        store.table(t).coalesce(1).write.mode("overwrite").parquet(out)
        total += sum(
            os.path.getsize(os.path.join(out, f))
            for f in os.listdir(out) if f.endswith(".parquet")
        )
    return total


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------


def run(wl, seconds: float, trace: bool, work: str) -> dict:
    # one set-up, from a cold JVM, as a service start pays it: a second
    # set-up in the same process measures a warm JVM instead, and costs
    # 15-25 s of a run that must stay well under a minute
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    wl.spark = spark
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    wl.stream = wl.ops()

    result = {"attempted": 0, "failed": 0}
    metrics: dict[str, float] = {}
    n_ops = quota(wl, seconds)
    if not trace:
        steal0, total0 = cpu_ticks()
        ops, errors, wall = timed_phase(wl, n_ops)
        steal1, total1 = cpu_ticks()
        lat = [x for _, x in ops]
        t_val, t_pct, n = tail(lat)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "ops_per_s": len(lat) / wall,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": t_val,
            "peak_rss_mb": peak_rss_mb(),
        }
        # a virtual machine whose host takes its CPUs back (steal) runs
        # every call slower; the share tells such a run from a slow build
        steal = (steal1 - steal0) / max(1, total1 - total0)
        print(
            f"# {n} ops; tail = p{t_pct:.1f} of n={n}; session start "
            f"{session_s:.3f} s; cpu steal {100 * steal:.1f}% while timed"
        )
        for kind in dict.fromkeys(k for k, _ in ops):
            xs = [x for k, x in ops if k == kind]
            med = statistics.median(xs)
            print(f"#   {kind:<24} n={len(xs):<3} median {med:.4f} s")
    else:
        n_ops = max(n_ops, wl.block * wl.cycle_blocks)
        metrics, ops, errors = traced(wl, spark, n_ops, session_s)
    wrong = wl.check()
    for e in errors[:5]:
        print(f"# error: {e}")
    result["attempted"] = len(ops) + errors.count(NOT_RUN)
    result["failed"] = len(errors) + wrong
    result["metrics"] = metrics
    return result


def traced(wl, spark, n_ops: int, session_s: float):
    """Per-layer run: two phases of ``n_ops`` operations each (at least
    one block of every operation kind), untraced then traced.  The
    spans of the traced phase give the layer numbers; its wall time
    minus the untraced one is the tracing overhead.  Returns (metrics,
    the operations of both phases, their errors)."""
    from data_management_python_spark.operators import session_cache  # noqa: PLC0415
    from perfbench import trace  # noqa: PLC0415

    ops_a, errs_a, wall_a = timed_phase(wl, n_ops)
    tracer = trace.Tracer()
    trace.install_layers(tracer)
    wl.tracer = tracer
    jobs = JobCounter(spark)
    meter = WriteMeter(wl.store.root) if wl.store is not None else None
    submitted0 = wl.user_bytes
    counters0 = dict(wl.counters)
    hits0, builds = session_cache.stats()
    try:
        ops_b, errs_b, wall_b = timed_phase(wl, n_ops, tracer, on_write=meter)
    finally:
        tracer.uninstall()
        wl.tracer = None
    n_jobs, n_tasks = jobs.totals()
    hits = session_cache.stats()[0] - hits0
    submitted = wl.user_bytes - submitted0
    counters = {k: v - counters0.get(k, 0) for k, v in wl.counters.items()}
    errors = errs_a + errs_b
    stats = tracer.layer_stats()
    units = per_layer_units()
    n_b = len(ops_b)

    def s(name, key="self_s"):
        return stats.get(name, {}).get(key, 0.0)

    m = {name: 0.0 for name in units}
    m["session.get_spark.self_s"] = session_s
    for verb in STORE_VERBS:
        for key in ("calls", "self_s", "p50_s"):
            m[f"store.{verb}.{key}"] = s(f"store.{verb}", key)
    if wl.store is not None:
        m["store.bytes_written"] = meter.bytes
        m["store.files_written"] = meter.files
        m["store.write_amp"] = meter.bytes / submitted if submitted else 0.0
        live = compact_bytes(wl.store, wl.tables)
        m["store.space_amp"] = tree_bytes(wl.store.root) / live
    m["store.conflicts"] = sum("ConcurrentWriterError" in e for e in errors)
    m["fsio.calls_per_op"] = s("fsio", "calls") / n_b
    m["fsio.self_s"] = s("fsio")
    m["eav.melt_attributes.self_s"] = s("eav.melt_attributes")
    for name in ETL_STAGES + ETL_ENTRY_POINTS + QUERY_MODULES:
        m[f"{name}.self_s"] = s(name)
    m["streaming.discovery.runs_found"] = counters.get("runs_found", 0)
    m["streaming.ingest.replays_skipped"] = counters.get("replays_skipped", 0)
    m["catalog.load_table.calls"] = s("catalog.load_table", "calls")
    m["catalog.load_table.self_s"] = s("catalog.load_table")
    family_calls = counters.get("family_calls", 0)
    m["session_cache.hit_ratio"] = hits / family_calls if family_calls else 0.0
    # builds run once per session, during set-up's warm-up pass
    m["session_cache.build_s"] = sum(builds.values())
    m["spark.jobs_per_op"] = n_jobs / n_b
    m["spark.tasks_per_op"] = n_tasks / n_b
    m["tracing.overhead_s"] = wall_b - wall_a
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{wl.name}-{wl.seed}.jsonl"))
    print(
        f"# {n_ops} ops per phase; untraced {wall_a:.3f} s, "
        f"traced {wall_b:.3f} s"
    )
    return m, ops_a + ops_b, errors


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="tiny inputs (the benchmark's own tests)",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: no {PACKAGE}/ next to perfbench/ — run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    try:
        mod = importlib.import_module(f"perfbench.{args.workload}")
        wl = mod.Workload(args.seed, work, smoke=args.smoke)
        result = run(wl, args.seconds, bool(args.trace), work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    units = END_TO_END if not args.trace else per_layer_units()
    for name, value in result["metrics"].items():
        print(f"# {name:<48} {value:>14.6g} {units[name]}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    name: {"value": float(value), "unit": units[name]}
                    for name, value in result["metrics"].items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
