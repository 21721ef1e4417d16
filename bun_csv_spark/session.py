"""SparkSession factory and testdata loading.

Local-mode defaults follow the driver environment (local[$SPARK_GRAFT_CPUS],
single JVM). For cluster scale the same settings hold except memory knobs:
AQE stays on so skewed joins and undersized shuffles re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from bun_csv_spark import scratch

# the directory holding this package (see get_spark)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "bun_csv_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this host.

    shuffle partitions default to the core count — the 200 default
    over-parallelizes local mode and under-parallelizes a real cluster;
    AQE coalescing corrects the remainder at runtime.

    Python workers start from ``bun_csv_spark._daemon`` rather than
    ``pyspark.daemon``. PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` on every Python task, and CPython
    3.11's zipimporter then re-reads its archive's central directory: a
    worker holds 16 importers (one per package directory imported from
    ``pyspark.zip``, plus py4j's zip and the spark-core jar), 0.18-0.23 s
    per task measured on a 4-core box, so a 16-task stage paid ~1 s
    however little data it had. The daemon re-reads an archive only when
    its stamp changed. The package directory goes on the workers'
    PYTHONPATH so they can import the daemon whatever the application's
    working directory. The guard changes nothing for a session this
    function did not build (the session a caller hands to
    ``__spark_entry__.entry``, or one that already existed when
    ``getOrCreate`` ran), nor on a CPython whose zipimporter already
    skips unchanged archives.

    ``spark.python.sql.dataFrameDebugging.enabled`` is off. PySpark wraps
    every ``functions.*`` call and every ``Column``/``DataFrame`` method
    in a call-site capture (a stack walk plus py4j round trips per call):
    building 36 ``Column`` aggregates over 12 columns took 0.48 s with it
    and 0.26 s without it (median of 7 builds, 4-core box). The cost: an
    error raised by a DataFrame operation no longer names the Python file
    and line that built the failing expression. PySpark caches the
    setting at the first wrapped call in the process, so a process whose
    first session was built elsewhere keeps that session's setting.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # honor sortBy() metadata on bucketed reads (one file per
        # bucket): elides both SMJ sorts on bucket-co-located joins
        # (r18 bucketed_join_agg). Off by default since Spark 3.0 only
        # because single-file detection costs a listing at plan time.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # local mode defaults to maxFailures=1: any transient task flake
        # (a JDK NativeThreadSet race in a spill read killed an sf100 run
        # under GCLocker churn — SCALE.md r12) aborts the whole job.
        # Cluster Spark defaults to 4 for exactly this reason; a
        # deterministic bug still fails after 4 attempts.
        .config("spark.task.maxFailures", "4")
        .config("spark.python.daemon.module", "bun_csv_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the catalog makes the default database's directory here on
        # first use; under the scratch root it goes when the process exits
        .config("spark.sql.warehouse.dir", os.path.join(scratch.root(), "warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata parquet table under ``sf_dir``.

    Returns name -> DataFrame and registers each as a temp view so both the
    DataFrame API and ``spark.sql`` paths can address them.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
