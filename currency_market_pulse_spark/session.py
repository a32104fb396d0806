"""SparkSession factory with the engine's scale-oriented defaults.

The same conf is used for local testing (local[N]) and would apply
unchanged on a multi-executor cluster: AQE handles runtime re-planning
(partition coalescing, skew-join splitting), shuffle partitions are
sized for the local core count but overridable via env, and the session
timezone is pinned to UTC to mirror the reference storage schema
(DateTime64(3,'UTC') — db/clickhouse/init.sql:12).
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

#: the directory that holds this package: Python workers need it on
#: their path to unpickle the engine's UDFs, whatever the driver's cwd
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "currency-market-pulse-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Env overrides: SPARK_GRAFT_CPUS (local parallelism),
    SPARK_GRAFT_SHUFFLE_PARTITIONS.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    # local mode runs all "executors" inside the driver JVM, whose Spark
    # default heap is 1g — 32 concurrent tasks' aggregation state OOMs
    # there long before the machine (measured: lineitem_profile's exact
    # NDV sets at sf1).  Only effective at JVM launch; a pre-existing
    # session keeps its heap.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # FAIR job scheduling: the composed pipeline runs three
        # concurrent streaming queries on one scheduler — under the
        # default FIFO a 32-task micro-batch job head-of-line-blocks
        # every other query's trigger (measured in STREAM_BENCH as
        # multi-second p50 walls for sub-second jobs).  Each streaming
        # query is assigned its own pool at start
        # (streaming/pipeline.py); pools share task slots fairly.
        # Batch/bench runs are single-threaded (one pool) and keep
        # exact FIFO behavior.  SPARK_GRAFT_SCHEDULER=FIFO overrides
        # (context-level conf: only effective at JVM launch).
        .config("spark.scheduler.mode",
                os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR"))
        # AQE: runtime partition coalescing + skew-join mitigation — the
        # 100 TB posture depends on it (skewed currency pairs / user ids).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/currency) are tiny; broadcast
        # them rather than shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Some fixture rounds store events.ts as TIMESTAMP(NANOS);
        # Spark has no ns timestamp — read as long and convert in the
        # catalog layer (sources/catalog.py, which also handles the
        # us-precision encodings later rounds generate).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for every pandas_udf / applyInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Python workers start in their own process and see neither the
        # driver's sys.path nor its cwd: without this, any UDF defined
        # in the package (mapInPandas, applyInPandasWithState, ...)
        # fails with ModuleNotFoundError unless the driver runs from
        # the repo root.  Context-level: only effective at launch.
        .config("spark.executorEnv.PYTHONPATH", _executor_pythonpath())
    )
    # Pools are EQUAL-weight (no allocation file).  The r12 weighted
    # pools (import 4 / trends 2 / probes 1 + minShares) were retired
    # on two null measurements: steady-state A/B within noise
    # (STREAM_BENCH_flatpools.json, r12 — FAIR assigns free slots but
    # never preempts, so weights cannot rescue latency under long doc
    # tasks) and a 5x doc-burst A/B ALSO within noise
    # (STREAM_BENCH_burst_{weighted,flat}.json, r13 — import p50/p95
    # during the burst identical both ways).  Per-query pools + FAIR
    # mode carry all of the measured benefit.
    spark = builder.getOrCreate()
    _silence_windowexec_warning(spark)
    return spark


def _executor_pythonpath() -> str:
    """The package's parent dir merged into any configured
    ``spark.executorEnv.PYTHONPATH`` (first, without duplicates)."""
    configured = SparkConf().get("spark.executorEnv.PYTHONPATH", "") or ""
    rest = [p for p in configured.split(os.pathsep)
            if p and p != _PACKAGE_PARENT]
    return os.pathsep.join([_PACKAGE_PARENT, *rest])


def _silence_windowexec_warning(spark: SparkSession) -> None:
    """Set the WindowExec logger to ERROR.

    Every unpartitioned window in this repo runs over a provably
    post-limit / metadata-scale relation — k seed centroids
    (kmeans.py), the top-R vocabulary head (textops.py Zipf), the
    ~num_partitions prefix-offset relation (sampling.py), k sampled
    rows (sampling.py weighted_sample), 20 PageRank rows
    (queries/similarity.py) — each site carries a comment saying so.
    The warning itself cannot be avoided at the plan level: Spark 4's
    EliminateWindowPartitions optimizer rule removes ANY foldable
    partition key (verified: Window.partitionBy(lit(0)) and even
    col*0 both fold to an empty partition spec), so a "constant
    partition key" workaround is dead code.  Left on, the warning
    fired 100+ times per bench/gate run and buried real signals in
    the BENCH tail (VERDICT r7 "what's wrong" #3).  Scope is ONE
    logger (WindowExec's single warning message); genuinely
    data-sized unpartitioned windows are guarded by tools/
    plan_audit.py's shuffle-count and plan-shape assertions instead.
    """
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        # non-log4j2 deployments: the warning is cosmetic; never let
        # logging setup break session construction
        pass
