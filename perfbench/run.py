"""Benchmark of the fund-statement engine, one workload per process.

    python3 perfbench/run.py --workload etl_day --seed 1 --seconds 10 --trace 0

Workloads (README.md in this directory says why each exists):

- ``etl_day``: one business day of real statement PDFs through
  ``jobs.run_all(excel=True)``: scan, decode, the nine job cascades, the
  dimension join, ten parquet sinks, Excel copies, quarantine and audit;
- ``etl_month``: the same job over a 30-day backfill in one tree (about
  3,100 files), where per-document work dominates. Not in BENCHMARK.json:
  one run takes minutes;
- ``toolkit``: the dedup / graph / curation queries of ``bench.HEADLINE``
  on seeded tables, to the ``noop`` sink.

One caller runs a closed loop on at most 4 local Spark cores: set-up, one
first run in the fresh JVM, then a fixed number of warm runs that
``--seconds`` sets (``warm_runs``). Every run's output is checked
(check.py). With
``--trace 1`` a further run is traced layer by layer (layers.py) and the
per-layer metrics are printed instead of the end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The full record (samples, host calibration, git sha, PySpark
version, spans) is appended to ``perfbench/_runs/history.jsonl``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from layers import ETL_JOBS

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
MAX_CPUS = 4
DRIVER_MEMORY = "3g"
QUIET_S = 0.5
SETTLE_MAX_S = 10.0

ETL_SCANS_PER_DAY = 2
# Seconds of one warm run per workload on a 4-vCPU host; --seconds over it,
# rounded down, is the number of warm runs.
NOMINAL_WARM_S = {"etl_day": 12.0, "etl_month": 50.0, "toolkit": 10.0}
TOOLKIT_QUERIES = (
    "fund_dividend_scaled",
    "dedup_minhash_lsh",
    "corpus_curation",
    "leakage_safe_split",
    "graph_pagerank",
    "dedup_semantic",
    "dedup_semantic_lsh",
    "dedup_incremental_minhash",
)

# Gated metrics. items_per_s counts the first run and the fixed number of
# warm runs together: as much of a run as the time budget lets us measure.
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.load_all_s": "s",
    "sources.files_listed": "count",
    "sources.docs_ok": "count",
    "sources.docs_quarantined": "count",
    "sources.parse_s": "s",
    "sources.parse_executor_s": "s",
    "sources.parse_task_skew": "ratio",
    "sources.decode_1core_docs_per_s": "1/s",
    **{
        f"jobs.{job}.{m}": ("count" if m == "rows_out" else "s")
        for job in ETL_JOBS
        for m in ("build_s", "exec_s", "rows_out")
    },
    "normalize.dim_join_misses": "count",
    "sinks.write_s": "s",
    "sinks.empty_probe_s": "s",
    "sinks.excel_s": "s",
    "sinks.quarantine_s": "s",
    "sinks.audit_s": "s",
    "sinks.spark_jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    **{f"plans.{q}.{m}": "s" for q in sorted(TOOLKIT_QUERIES) for m in ("build_s", "exec_s")},
    "trace.overhead_s": "s",
}


def spark_cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


class Ops:
    """Attempted/failed operations and the reasons for each failure."""

    def __init__(self):
        self.attempted = 0
        self.problems: list[str] = []
        self.failed_ops = 0

    def record(self, tag: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed_ops += 1
            self.problems.extend(f"{tag}: {p}" for p in problems)
        return not problems

    def raised(self, tag: str) -> None:
        traceback.print_exc(file=sys.stderr)
        self.record(tag, [f"raised {sys.exc_info()[1]!r}"[:300]])


class ProcTree:
    """This process and its descendants (driver JVM, Python daemon and
    workers), read from /proc."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self):
        self.root = os.getpid()

    def stats(self) -> list[list[bytes]]:
        """/proc/<pid>/stat fields after the command name, per process."""
        stats: dict[int, list[bytes]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat", "rb") as fh:
                        stats[int(d)] = fh.read().rsplit(b")", 1)[1].split()
                except (OSError, IndexError):
                    continue
        children: dict[int, list[int]] = {}
        for pid, fields in stats.items():
            children.setdefault(int(fields[1]), []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            if pid in stats:
                out.append(stats[pid])
        return out

    def rss_bytes(self) -> int:
        return sum(int(f[21]) for f in self.stats()) * self.PAGE


class PeakRss:
    """Peak resident memory of the process tree, sampled every
    ``PERIOD_S``. Each sample walks /proc under the GIL, so the period is
    long enough that the sampler does not slow the driver's Py4J calls."""

    PERIOD_S = 1.0

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def git_sha() -> str:
    """HEAD of the tree, or "none" when it is not a git checkout."""
    if not (ROOT / ".git").exists():
        return "none"
    proc = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
        check=False,
    )
    return proc.stdout.strip() or "none"


def configure_env(work: Path, cpus: int) -> dict[str, str]:
    """Environment and Spark settings that keep every file the run writes
    inside ``work`` and size the session to this host."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package, so they need the tree on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def setup(work: Path, cpus: int) -> tuple[object, dict[str, float]]:
    """Imports, plan registry and SparkSession: the set-up a job pays."""
    conf = configure_env(work, cpus)
    t0 = time.perf_counter()
    from fund_data_etl_pipeline_spark import plans
    from fund_data_etl_pipeline_spark.session import get_spark

    t = time.perf_counter()
    plans.load_all()
    load_all_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t
    return spark, {
        "setup_s": time.perf_counter() - t0,
        "session.get_spark_s": get_spark_s,
        "plans.load_all_s": load_all_s,
    }


def shutdown(spark) -> None:
    """Stop Spark, the Py4J gateway and the driver JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def settle(spark, max_s: float = SETTLE_MAX_S) -> None:
    """Full GC in both runtimes, then wait until the driver JVM's JIT
    compiler has been idle for ``QUIET_S`` (at most ``max_s``), so that
    compilations queued by the previous run do not land in the next timed
    one."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    start = time.perf_counter()
    last = jit.getTotalCompilationTime()
    while time.perf_counter() - start < max_s:
        time.sleep(QUIET_S)
        now = jit.getTotalCompilationTime()
        if now == last:
            break
        last = now


@dataclass
class Run:
    """What a workload gets: the session, its scratch directory, the
    arguments, and where it records operations and per-layer metrics."""

    spark: object
    work: Path
    args: argparse.Namespace
    cpus: int
    ops: Ops
    layer: dict


def warm_runs(workload: str, seconds: float) -> int:
    """How many warm runs fill ``seconds`` at the workload's nominal warm-run
    time; at least one. The count does not follow this host's speed of the
    moment, so every run mixes first and warm runs alike."""
    return max(1, int(seconds // NOMINAL_WARM_S[workload]))


def warm_loop(run: Run, run_once) -> list[float]:
    """The warm runs; returns each one's seconds."""
    samples: list[float] = []
    for i in range(warm_runs(run.args.workload, run.args.seconds)):
        settle(run.spark)
        samples.append(run_once(f"warm{i}"))
    return samples


def spark_totals(groups: dict, prefix: str = "") -> dict[str, float]:
    keys = ("jobs", "stages", "numCompleteTasks", "executorRunTime", "executorCpuTime",
            "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
            "diskBytesSpilled", "jvmGcTime")
    out = dict.fromkeys(keys, 0)
    for name, acc in groups.items():
        if name.startswith(prefix):
            for k in keys:
                out[k] += acc[k]
    return out


def engine_metrics(groups: dict, wall_s: float, cpus: int) -> dict[str, float]:
    t = spark_totals(groups)
    run_s = t["executorRunTime"] / 1e3
    return {
        "spark.jobs": t["jobs"],
        "spark.stages": t["stages"],
        "spark.tasks": t["numCompleteTasks"],
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": t["executorCpuTime"] / 1e9,
        "spark.core_busy_frac": run_s / (cpus * wall_s) if wall_s else 0.0,
        "spark.shuffle_read_bytes": t["shuffleReadBytes"],
        "spark.shuffle_write_bytes": t["shuffleWriteBytes"],
        "spark.spill_bytes": t["memoryBytesSpilled"] + t["diskBytesSpilled"],
        "spark.gc_s": t["jvmGcTime"] / 1e3,
    }


def decode_rate(paths: list[Path], min_seconds: float = 1.0) -> float:
    """Single-threaded ``decode_document`` over the corpus files, in the
    driver: the one-core baseline for the parse stage."""
    from fund_data_etl_pipeline_spark.sources.corpus import decode_document

    blobs = [p.read_bytes() for p in paths]
    n, start = 0, time.perf_counter()
    while not n or time.perf_counter() - start < min_seconds:
        for blob in blobs:
            try:
                decode_document(blob)
            except (ImportError, UnicodeDecodeError):
                pass  # the planted scanned and poison files fail by design
            n += 1
    return n / (time.perf_counter() - start)


def run_etl(run: Run, days: int) -> dict:
    import check
    import corpus as C
    from layers import Tracer

    from fund_data_etl_pipeline_spark import jobs
    from fund_data_etl_pipeline_spark.testing import fixtures as FX

    spark, ops, layer = run.spark, run.ops, run.layer
    corpus = C.build_corpus(run.work / "corpus", run.args.seed, days, ETL_SCANS_PER_DAY)
    expected = check.expected_sinks(days)
    dim = FX.dim_df(spark)

    def run_once(tag: str, keep: bool = False):
        out = run.work / f"out-{tag}"
        start = time.perf_counter()
        try:
            status = jobs.run_all(spark, str(corpus.root), dim, FX.RUN_DATE, str(out), excel=True)
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            ops.raised(tag)
            return time.perf_counter() - start
        seconds = time.perf_counter() - start
        ops.record(tag, check.check_etl(status, str(out), corpus, expected))
        if keep:
            return seconds, status, out
        shutil.rmtree(out, ignore_errors=True)
        return seconds

    first = run_once("first")
    warm = warm_loop(run, run_once)
    result = {"first": first, "warm": warm, "items": corpus.pdf_files}
    if not run.args.trace:
        return result

    tracer = Tracer(spark)
    tracer.instrument_etl()
    try:
        traced = run_once("traced", keep=True)
    finally:
        tracer.restore()
    if not isinstance(traced, tuple):  # the traced run raised
        return result
    traced_s, status, out = traced
    # the scan's own file listing: the engine's pathGlobFilter has pruned
    # the non-PDF, so it must equal the PDFs the generator planted
    listed = tracer.files_listed
    ops.record("traced:files_listed", check.files_listed(listed, corpus))
    groups = tracer.spark_groups()
    parse = groups.get("sources.parse", {})
    layer.update(engine_metrics(groups, traced_s, run.cpus))
    layer.update(
        {
            "sources.files_listed": listed,
            "sources.docs_ok": status["audit"].get("ok", 0),
            "sources.docs_quarantined": status["audit"].get("error", 0),
            "sources.parse_s": tracer.seconds("sources.parse"),
            "sources.parse_executor_s": parse.get("executorRunTime", 0) / 1e3,
            "sources.parse_task_skew": tracer.task_skew(parse.get("stage_ids", [])),
            "sources.decode_1core_docs_per_s": decode_rate(sorted(corpus.root.rglob("*.pdf"))),
            "normalize.dim_join_misses": check.dim_join_misses(status),
            "trace.overhead_s": traced_s - statistics.median(warm),
        }
    )
    for job in ETL_JOBS:
        layer[f"jobs.{job}.build_s"] = tracer.seconds(f"jobs.build:{job}")
        layer[f"jobs.{job}.exec_s"] = tracer.seconds(f"sinks.write:{job}")
        layer[f"jobs.{job}.rows_out"] = check.read_sink(status[job]).num_rows if status[job] else 0
    probe = tracer.seconds("sinks.probe:")
    files, size = check.output_files(str(out))
    layer.update(
        {
            "sinks.write_s": tracer.seconds("sinks.write:") - probe,
            "sinks.empty_probe_s": probe,
            "sinks.excel_s": tracer.seconds("sinks.excel:"),
            "sinks.quarantine_s": tracer.seconds("sinks.quarantine"),
            "sinks.audit_s": tracer.seconds("sinks.audit"),
            "sinks.spark_jobs": spark_totals(groups, "sinks.")["jobs"],
            "sinks.files_written": files,
            "sinks.bytes_written": size,
        }
    )
    shutil.rmtree(out, ignore_errors=True)
    result["spans"] = tracer.spans
    return result


def run_toolkit(run: Run) -> dict:
    import duckdb

    import bench
    import check
    import tables
    from layers import PhaseListener, Tracer, phase_ms

    import __spark_entry__ as entry

    spark, ops, layer = run.spark, run.ops, run.layer
    names = [q for q in bench.HEADLINE if q in TOOLKIT_QUERIES]
    if len(names) != len(TOOLKIT_QUERIES):
        raise RuntimeError(f"not in bench.HEADLINE: {set(TOOLKIT_QUERIES) - set(names)}")
    sf_dir = str(tables.build_tables(run.work / "tables", run.args.seed))
    queries = entry.queries()
    results = {}

    def run_pass(tag: str, collect: bool = False, tracer=None, listener=None):
        start = time.perf_counter()
        for q in names:
            spark.catalog.clearCache()
            try:
                if tracer is None:
                    df = queries[q](spark, sf_dir)
                    if collect:
                        results[q] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"plans.build:{q}"):
                        df = queries[q](spark, sf_dir)
                    # analysis is eager: it ran inside the build, on df's own QE
                    analysis = phase_ms(df._jdf.queryExecution()).get("analysis", 0)
                    listener.add({"analysis": analysis})
                    with tracer.span(f"plans.exec:{q}"):
                        df.write.format("noop").mode("overwrite").save()
                del df
            except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
                ops.raised(f"{tag}:{q}")
                continue
            if not collect:
                ops.record(f"{tag}:{q}", [])
        spark.catalog.clearCache()
        return time.perf_counter() - start

    first = run_pass("first", collect=True)
    warm = warm_loop(run, run_pass)
    result = {"first": first, "warm": warm, "items": len(names)}

    if run.args.trace:
        tracer = Tracer(spark)
        listener = PhaseListener(spark)
        try:
            traced_s = run_pass("traced", tracer=tracer, listener=listener)
        finally:
            listener.close()
            tracer.restore()
        groups = tracer.spark_groups()
        layer.update(engine_metrics(groups, traced_s, run.cpus))
        phases = listener.phases_ms
        layer.update(
            {
                "plans.build_s": tracer.seconds("plans.build:"),
                "plans.exec_s": tracer.seconds("plans.exec:"),
                "plans.analysis_s": phases.get("analysis", 0) / 1e3,
                "plans.optimization_s": phases.get("optimization", 0) / 1e3,
                "plans.planning_s": phases.get("planning", 0) / 1e3,
                "trace.overhead_s": traced_s - statistics.median(warm),
            }
        )
        for q in names:
            layer[f"plans.{q}.build_s"] = tracer.seconds(f"plans.build:{q}")
            layer[f"plans.{q}.exec_s"] = tracer.seconds(f"plans.exec:{q}")
        result["spans"] = tracer.spans

    # oracle check of the collected first pass, outside every timed pass
    con = duckdb.connect()
    try:
        for t in tables.BUILDERS:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        oracles = entry.oracle_sql()
        for q in names:
            if q in results:
                ops.record(f"first:{q}", check.check_query(q, results[q], con.sql(oracles[q]).df()))
    finally:
        con.close()
    return result


WORKLOADS = {
    "etl_day": functools.partial(run_etl, days=1),
    "etl_month": functools.partial(run_etl, days=30),
    "toolkit": run_toolkit,
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    cpus = spark_cpus()
    work = BENCH_DIR / "_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    layer = dict.fromkeys(PER_LAYER, 0)
    try:
        with PeakRss(ProcTree()) as rss:
            spark, setup_times = setup(work, cpus)
            run = Run(spark, work, args, cpus, Ops(), layer)
            try:
                result = WORKLOADS[args.workload](run)
            finally:
                shutdown(spark)
        import bench
        import pyspark

        calib_s = bench.host_calibration()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = run.ops

    warm = result["warm"]
    warm_s = statistics.median(warm)
    first_s = result["first"]
    end_to_end = {
        "setup_s": setup_times["setup_s"],
        "items_per_s": (1 + len(warm)) * result["items"] / (first_s + sum(warm)),
    }
    layer["session.get_spark_s"] = setup_times["session.get_spark_s"]
    layer["plans.load_all_s"] = setup_times["plans.load_all_s"]
    record = {
        "ts": time.time(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "calib_s": calib_s,
        "pyspark": pyspark.__version__,
        "git_sha": git_sha(),
        "end_to_end": end_to_end,
        "first_run_s": first_s,
        # the highest order statistic the warm sample supports is its max
        "warm": {"n": len(warm), "median_s": warm_s, "max_s": max(warm), "samples": warm},
        "error_frac": ops.failed_ops / max(ops.attempted, 1),
        "peak_rss_mb": rss.peak / 2**20,
        "per_layer": layer if args.trace else None,
        "attempted": ops.attempted,
        "failed": ops.failed_ops,
        "problems": ops.problems[:50],
        "spans": [vars(s) for s in result.get("spans", [])],
    }
    runs = BENCH_DIR / "_runs"
    runs.mkdir(exist_ok=True)
    with open(runs / "history.jsonl", "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record, ensure_ascii=False, default=str) + "\n")

    for p in ops.problems[:20]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(
        f"perfbench {args.workload} seed={args.seed} cpus={cpus} calib_s={calib_s} "
        f"pyspark={pyspark.__version__} sha={record['git_sha'][:12]} "
        f"first_run_s={first_s:.3f} warm_run_s={warm_s:.3f} warm_n={len(warm)} "
        f"error_frac={record['error_frac']:.3f} peak_rss_mb={record['peak_rss_mb']:.0f}"
    )
    metrics, units = (layer, PER_LAYER) if args.trace else (end_to_end, END_TO_END)
    line = {
        "correct": ops.failed_ops == 0,
        "attempted": ops.attempted,
        "failed": ops.failed_ops,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(line, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
