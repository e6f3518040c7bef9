"""Per-layer tracing from outside the program.

A ``Tracer`` records spans — name, start, end, parent — and tags every
Spark job started inside a span with the span's job group. For the ETL it
replaces module attributes that ``jobs.run_all`` looks up at call time with
wrappers that open spans; the toolkit pass opens its spans around each
query's build and execution. After the traced run, the Spark status store gives
jobs, stages, tasks, executor time, shuffle, spill and GC per group, and a
``QueryExecutionListener`` gives the Catalyst phase times of each
QueryExecution that actually ran. Nothing inside the program changes;
``restore`` puts every attribute back.

Span names are ``<layer>:<detail>``:

- ``jobs.build:<job>``: a job builder call (Python plan build);
- ``sources.parse``: materializing the persisted scan+decode stage, forced
  right after ``run_all`` persists it (untraced, the first sink pays it);
  the scan's ``inputFiles()`` are counted as ``files_listed`` there;
- ``sinks.write:<job>`` with child ``sinks.probe:<job>`` (the ``isEmpty``
  guard), ``sinks.excel:<job>``, ``sinks.quarantine``, ``sinks.audit``;
- ``plans.build:<query>`` / ``plans.exec:<query>`` for the toolkit suite.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from dataclasses import dataclass

GROUP_PREFIX = "perfbench:"

# jobs-module builder -> output name used by run_all's sinks
JOB_BUILDERS = {
    "dividend_job": "dividend",
    "purchase_apply_job": "purchase_apply",
    "purchase_confirm_job": "purchase_confirm",
    "redemption_confirm_job": "redemption_confirm",
    "conversion_job": "conversion",
    "manual_purchase_apply_job": "manual_apply",
    "manual_purchase_confirm_job": "manual_confirm",
    "manual_redemption_job": "manual_redemption",
    "manual_dividend_job": "manual_dividend",
}
ETL_JOBS = (*JOB_BUILDERS.values(), "dividend_merged")

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "jvmGcTime",
    "numCompleteTasks",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._undo: list[tuple[object, str, object]] = []
        self.files_listed = 0

    @contextlib.contextmanager
    def span(self, name: str):
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        parent = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.spans.append(Span(name, start, end, parent))

    def patch(self, module, attr: str, make) -> None:
        """Replace ``module.attr`` with ``make(original)`` until restore()."""
        orig = getattr(module, attr)
        self._undo.append((module, attr, orig))
        setattr(module, attr, make(orig))

    def restore(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)

    def seconds(self, name: str) -> float:
        """Summed duration of the spans called ``name``, or of every span
        under a layer when ``name`` ends with ':'."""
        if name.endswith(":"):
            return sum(s.seconds for s in self.spans if s.name.startswith(name))
        return sum(s.seconds for s in self.spans if s.name == name)

    # --- instrumentation of the program's layers ----------------------

    def instrument_job_builders(self) -> None:
        from fund_data_etl_pipeline_spark import jobs
        from fund_data_etl_pipeline_spark.operators import aggregate

        def timed(name):
            def make(orig):
                def wrapper(*args, **kwargs):
                    with self.span(name):
                        return orig(*args, **kwargs)

                return wrapper

            return make

        for attr, job in JOB_BUILDERS.items():
            self.patch(jobs, attr, timed(f"jobs.build:{job}"))
        self.patch(aggregate, "dividend_merge", timed("jobs.build:dividend_merged"))

    def instrument_etl(self) -> None:
        """Wrap what ``jobs.run_all`` imports at call time."""
        from fund_data_etl_pipeline_spark.operators import caching, sinks

        self.instrument_job_builders()
        span = self.span

        def persist(orig):
            def wrapper(df):
                # the files the program's own scan lists, after its filters
                self.files_listed += len(df.inputFiles())
                out = orig(df)
                with span("sources.parse"):
                    out.count()
                return out

            return wrapper

        def write_partitioned(orig):
            def wrapper(df, path, *args, **kwargs):
                job = os.path.basename(str(path).rstrip("/"))
                probe = df.isEmpty

                def timed_probe():
                    with span(f"sinks.probe:{job}"):
                        return probe()

                df.isEmpty = timed_probe  # instance attribute shadows the method
                with span(f"sinks.write:{job}"):
                    return orig(df, path, *args, **kwargs)

            return wrapper

        def write_excel(orig):
            def wrapper(df, path, *args, **kwargs):
                with span(f"sinks.excel:{os.path.basename(str(path))}"):
                    return orig(df, path, *args, **kwargs)

            return wrapper

        def write_quarantine(orig):
            def wrapper(*args, **kwargs):
                with span("sinks.quarantine"):
                    return orig(*args, **kwargs)

            return wrapper

        def audit_summary(orig):
            def wrapper(*args, **kwargs):
                out = orig(*args, **kwargs)
                collect = out.collect

                def timed_collect():
                    with span("sinks.audit"):
                        return collect()

                out.collect = timed_collect
                return out

            return wrapper

        self.patch(caching, "persist_tracked", persist)
        self.patch(sinks, "write_partitioned", write_partitioned)
        self.patch(sinks, "write_excel_compat", write_excel)
        self.patch(sinks, "write_quarantine", write_quarantine)
        self.patch(sinks, "audit_summary", audit_summary)

    # --- Spark status store -------------------------------------------

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def spark_groups(self) -> dict[str, dict[str, float]]:
        """Per span name: Spark jobs, stages and summed stage metrics of the
        jobs started under it. Each stage counts once, for the first job
        that lists it."""
        self._drain()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(jvm.java.util.ArrayList())
        seen: set[int] = set()
        groups: dict[str, dict[str, float]] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
                continue
            acc = groups.setdefault(
                group.get()[len(GROUP_PREFIX):],
                dict.fromkeys(("jobs", "stages", *STAGE_FIELDS), 0),
            )
            acc["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                stage = store.lastStageAttempt(sid)
                acc["stages"] += 1
                for f in STAGE_FIELDS:
                    acc[f] += getattr(stage, f)()
                acc.setdefault("stage_ids", []).append(sid)
        return groups

    def task_skew(self, stage_ids: list[int]) -> float:
        """max / median task duration in the stage that ran longest."""
        store = self.sc._jsc.sc().statusStore()
        stages = [store.lastStageAttempt(s) for s in stage_ids]
        if not stages:
            return 0.0
        stage = max(stages, key=lambda s: s.executorRunTime())
        tasks = store.taskList(stage.stageId(), stage.attemptId(), 100_000)
        durations = [
            tasks.apply(i).duration().get()
            for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        ]
        if not durations or not statistics.median(durations):
            return 0.0
        return max(durations) / statistics.median(durations)


def phase_ms(qe) -> dict[str, int]:
    """Catalyst phase -> ms from a QueryExecution's planning tracker."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


class PhaseListener:
    """Catalyst phase times of every QueryExecution that finishes while
    registered — the QE a write actually ran, not the DataFrame's own."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self._lock = threading.Lock()
        self.phases_ms: dict[str, float] = {}
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def add(self, phases: dict[str, int]) -> None:
        with self._lock:
            for phase, ms in phases.items():
                self.phases_ms[phase] = self.phases_ms.get(phase, 0) + ms

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        self.add(phase_ms(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — JVM interface
        pass

    def close(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
