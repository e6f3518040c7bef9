"""``jobs.run_all`` fan-out: each sink executes its plan once, the nine job
pipelines run on concurrent driver threads, the empty-result guard deletes
only what the write itself produced, the dimension is read once per run,
a second run compiles no generated class, and the parse and dimension
caches are released on every exit path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark import jobs
from fund_data_etl_pipeline_spark import schemas as S
from fund_data_etl_pipeline_spark.operators.aggregate import dividend_merge
from fund_data_etl_pipeline_spark.operators.sinks import write_partitioned
from fund_data_etl_pipeline_spark.testing import fixtures as FX
from test_corpus_lifecycle import _build_tree
from test_fund_jobs import expected_set, rows_set

# Spark jobs of one run_all(excel=True) over the _build_tree corpus: the
# audit (which materializes the parse), the no-op write that materializes
# the dimension, one write per sink, one toPandas per Excel copy, plus the
# map stages AQE submits as jobs of their own. The corpus decodes in one
# task, so the audit's group-by over the one-partition parse needs no
# shuffle and AQE submits no map stage for it (30 when the scan had a task
# per core). An isEmpty probe, a re-executed dividend cascade, a
# schema-inferring read-back or a count-after-write each add jobs and fail
# the test.
RUN_ALL_SPARK_JOBS = 29

SINK_GOLDENS = {
    "dividend": (FX.EXPECTED_DIVIDEND, S.DIVIDEND_COLS),
    "purchase_apply": (FX.EXPECTED_PURCHASE_APPLY, S.TXN_COLS),
    "purchase_confirm": (FX.EXPECTED_PURCHASE_CONFIRM, S.TXN_COLS),
    "redemption_confirm": (FX.EXPECTED_REDEMPTION, S.TXN_COLS),
    "conversion": (FX.EXPECTED_CONVERSION, S.CONVERSION_COLS),
    "manual_apply": (FX.EXPECTED_MANUAL_APPLY, S.MANUAL_APPLY_COLS),
    "manual_confirm": (FX.EXPECTED_MANUAL_CONFIRM, S.MANUAL_CONFIRM_COLS),
    "manual_redemption": (FX.EXPECTED_MANUAL_REDEMPTION, S.MANUAL_REDEMPTION_COLS),
    "manual_dividend": (FX.EXPECTED_MANUAL_DIVIDEND, S.MANUAL_DIVIDEND_COLS),
}
N_DOCS = len(
    FX.DIVIDEND_DOCS + FX.PURCHASE_APPLY_DOCS + FX.PURCHASE_CONFIRM_DOCS
    + FX.REDEMPTION_DOCS + FX.CONVERSION_DOCS + FX.MANUAL_DOCS
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return str(_build_tree(tmp_path_factory.mktemp("fanout") / "corpus"))


def _run_all(spark, corpus, out, excel=False):
    return jobs.run_all(spark, corpus, FX.dim_df(spark), FX.RUN_DATE, str(out), excel=excel)


def _sink_rows(spark, path, cols):
    df = spark.read.parquet(path)
    if "biz_date" in df.columns:  # the hive partition value reads back as int
        df = df.withColumn("biz_date", F.col("biz_date").cast("string"))
    return rows_set(df.select(*cols))


def test_empty_append_keeps_existing_output(spark, tmp_path):
    path = str(tmp_path / "sink")
    for partition_cols in (("biz_date",), ()):
        old = spark.createDataFrame([("20260114", 1.0)], "biz_date string, x double")
        assert write_partitioned(old, path, partition_cols, mode="overwrite")
        before = sorted(os.listdir(path))
        empty = spark.createDataFrame([], "biz_date string, x double")
        assert write_partitioned(empty, path, partition_cols, mode="append") is False
        assert sorted(os.listdir(path)) == before
        assert spark.read.parquet(path).count() == 1


def test_run_all_spark_job_count(spark, corpus, tmp_path):
    sc = spark.sparkContext
    spark.catalog.clearCache()  # no cached plan from another test substitutes
    group = "test_run_all_spark_job_count"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        _run_all(spark, corpus, tmp_path / "out", excel=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    # the pool threads inherit the job group, so every job is counted
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == RUN_ALL_SPARK_JOBS


def test_run_all_failure_releases_parse_cache(spark, corpus, tmp_path, monkeypatch):
    def broken(*args, **kwargs):
        raise RuntimeError("builder failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(jobs, "conversion_job", broken)
    with pytest.raises(RuntimeError, match="builder failed"):
        _run_all(spark, corpus, tmp_path / "out")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _classes_compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM: the generated-code
    cache compiles only on a miss."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return codegen.METRIC_COMPILATION_TIME().getCount()


def test_back_to_back_runs_match_goldens(spark, corpus, tmp_path):
    """Both runs write the goldens, and the second compiles no generated
    class: the session's generated-code cache holds every class of the
    first (at Spark's default of 100 entries it recompiled about 90)."""
    dividend = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    merged = rows_set(dividend_merge(dividend))
    for run in range(2):
        compiled = _classes_compiled(spark)
        status = _run_all(spark, corpus, tmp_path / f"out{run}")
        if run:
            assert _classes_compiled(spark) == compiled
        for sink, (golden, cols) in SINK_GOLDENS.items():
            assert _sink_rows(spark, status[sink], cols) == expected_set(golden), sink
        # merged from the written output == merged from the job's plan
        assert _sink_rows(spark, status["dividend_merged"], S.DIVIDEND_COLS) == merged
        assert status["quarantined"] == 1
        assert status["audit"] == {"ok": N_DOCS, "error": 1}


def test_run_all_reads_dimension_once(spark, corpus, tmp_path):
    """Each row of a Python-scanned dimension passes an accumulator once
    per read: one run reads it once, not once per fund job's broadcast."""
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def tap(row):
        reads.add(1)
        return row

    dim = spark.createDataFrame(
        sc.parallelize(FX.PRODUCT_CODES).map(tap), S.PRODUCT_CODES_SCHEMA
    )
    status = jobs.run_all(spark, corpus, dim, FX.RUN_DATE, str(tmp_path / "out"))
    assert status["dividend"]
    assert reads.value == len(FX.PRODUCT_CODES)


def _lookup(k):
    """A plan-cache lookup for a distinct key per ``k``."""
    from fund_data_etl_pipeline_spark.functions import text as T

    return T.cached_columns(("test_plan_cache", k), lambda: F.lit(k))


def _plan_cache_lookup(spark, name):
    """lookup(k) builds a distinct key per ``k`` through one of the two
    fund-job paths that file parsed SQL in the plan-build cache: the
    platform cascade (``classify``) or the records CASE
    (``_explode_records``)."""
    from fund_data_etl_pipeline_spark.operators import classify as C
    from fund_data_etl_pipeline_spark.platforms import JobSpec

    if name == "cascade":
        df = spark.createDataFrame(
            [("a.pdf", ["x"])], "filename string, lines array<string>"
        )
        rules = {}

        def lookup(k):
            rule = rules.setdefault(k, C.PlatformRule(f"r{k}", C.fname_has(f"s{k}")))
            return C.classify(df, [rule])

        return lookup
    df = spark.createDataFrame(
        [(1, "a.pdf", "s0", "t", ["x"])],
        "doc_id int, filename string, platform string, text string, "
        "lines array<string>",
    )

    def lookup(k):
        spec = JobSpec(fields=("x",), defaults={}, platforms={f"s{k}": {"x": "text"}})
        return jobs._explode_records(df, spec)

    return lookup


@pytest.mark.parametrize("name", ["cascade", "spec"])
def test_plan_cache_hit_is_atomic_with_eviction(spark, monkeypatch, name):
    """run_all builds on concurrent driver threads. One thread hits the
    oldest key of a full LRU and pauses between lookup and move_to_end;
    another inserts a new key, which evicts the oldest. Under the cache
    lock the insert waits, so the hit survives; unlocked, the evicted key
    fails move_to_end with a KeyError."""
    import threading
    from collections import OrderedDict

    from fund_data_etl_pipeline_spark.functions import text as T

    cap = T.COL_CACHE_MAX
    lookup = _plan_cache_lookup(spark, name)
    looked_up, evicted = threading.Event(), threading.Event()
    errors = []

    class PausingLRU(OrderedDict):
        def get(self, key, default=None):
            hit = super().get(key, default)
            if hit is not None and threading.current_thread() is reader:
                looked_up.set()
                evicted.wait(timeout=0.5)
            return hit

    monkeypatch.setattr(T, "_COL_CACHE", PausingLRU())
    for k in range(cap):
        lookup(k)
    oldest = next(iter(T._COL_CACHE))

    def guarded(fn):
        try:
            fn()
        except Exception as e:  # noqa: BLE001 — collected and asserted below
            errors.append(e)

    def evict():
        looked_up.wait(timeout=10)
        lookup(cap)
        evicted.set()

    reader = threading.Thread(target=guarded, args=(lambda: lookup(0),))
    writer = threading.Thread(target=guarded, args=(evict,))
    for th in (reader, writer):
        th.start()
    for th in (reader, writer):
        th.join(timeout=30)
    assert not reader.is_alive() and not writer.is_alive()
    assert errors == []
    assert oldest in T._COL_CACHE
    assert len(T._COL_CACHE) == cap


def test_plan_caches_survive_concurrent_builders(spark, monkeypatch):
    """Stress: more threads than cores draw random keys from a few more
    than the LRU cap, under a short switch interval, with a lookup that
    sleeps before returning; the cache stays bounded and nothing raises."""
    import random
    import sys
    import threading
    import time
    from collections import OrderedDict

    from fund_data_etl_pipeline_spark.functions import text as T

    class SlowLRU(OrderedDict):
        def get(self, key, default=None):
            hit = super().get(key, default)
            time.sleep(0.0005)  # widen the lookup-to-move_to_end window
            return hit

    monkeypatch.setattr(T, "_COL_CACHE", SlowLRU())
    cap = T.COL_CACHE_MAX
    errors = []

    def worker(t):
        rng = random.Random(t)
        try:
            for _ in range(100):
                _lookup(rng.randrange(cap + 2))
        except Exception as e:  # noqa: BLE001 — collected and asserted below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(T._COL_CACHE) <= cap


def test_cached_columns_never_files_a_stale_context(spark):
    """A context change during the unlocked build must not leave the
    tree built under the old context in the cache."""
    from fund_data_etl_pipeline_spark.functions import text as T

    def build():
        T._COL_CACHE_CTX = object()  # another context took over meanwhile
        return F.lit(1)

    key = ("test_cached_columns_never_files_a_stale_context",)
    try:
        assert T.cached_columns(key, build) is not None
        assert key not in T._COL_CACHE
    finally:
        T._COL_CACHE_CTX = None  # the next call resets to the live context


# the five fund jobs whose platform tables compile to SQL text, and the
# four manual jobs
FUND_JOBS = (
    "dividend_job", "purchase_apply_job", "purchase_confirm_job",
    "redemption_confirm_job", "conversion_job",
)
MANUAL_JOBS = (
    "manual_purchase_apply_job", "manual_purchase_confirm_job",
    "manual_redemption_job", "manual_dividend_job",
)
# py4j commands one first build of a job may send. The platform CASE and
# the records CASE each cross the gateway as one SQL string, so a build
# costs about 0.9k-1.3k commands (a Column-tree build of the same plan
# sent 2.8k-10.9k). A warm build sends about as many: only the two parses
# are saved.
FIRST_BUILD_MAX_CALLS = 1600


def test_first_job_build_gateway_calls_bounded(spark, monkeypatch):
    """Each of the nine jobs is built once on an empty Column cache,
    counting the py4j commands the build sends; none exceeds the bound.
    GC is off while counting, so no release command of an unrelated
    collected object lands in a build's count."""
    import gc
    from collections import OrderedDict

    from fund_data_etl_pipeline_spark.functions import text as T

    docs = FX.docs_df(spark, FX.CONVERSION_DOCS + FX.DIVIDEND_DOCS)
    dim = FX.dim_df(spark)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(T, "_COL_CACHE", OrderedDict())
    monkeypatch.setattr(client, "send_command", counting)
    # every built plan is held, so none of its objects is released
    # (one py4j command each) inside a later build's count
    built, calls = [], {}
    gc.disable()
    try:
        for name in FUND_JOBS + MANUAL_JOBS:
            sent[0] = 0
            built.append(getattr(jobs, name)(docs, dim, FX.RUN_DATE))
            calls[name] = sent[0]
    finally:
        gc.enable()
    assert all(n <= FIRST_BUILD_MAX_CALLS for n in calls.values()), calls
