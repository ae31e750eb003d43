"""SparkSession helpers.

``ensure_executors_can_import`` ships this package to executor Python
workers via ``sparkContext.addPyFile`` so UDF kernels can import it no
matter where the driver process started from.  ``spark-submit
--py-files watertower_spark.zip`` achieves the same for cluster
deployments (see build_index.py / query.py entrypoints); this helper
makes library use and local notebooks just work.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SHIPPED_CONTEXTS: set = set()


def ensure_executors_can_import(spark: SparkSession) -> None:
    sc = spark.sparkContext
    ctx_id = sc.applicationId
    if ctx_id in _SHIPPED_CONTEXTS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), f"watertower_spark_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(
        base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="watertower_spark"
    )
    sc.addPyFile(zip_path)
    _SHIPPED_CONTEXTS.add(ctx_id)


def get_spark(
    cpus: int | str = "*",
    shuffle_partitions: int | None = None,
    app_name: str = "watertower-spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session with the engine's recommended defaults: AQE on
    (runtime re-plan + skew-join), Arrow on (vectorized UDF transfer)."""
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # local mode: the driver JVM is the executor — size it for cached
        # term tables (overridable; ignored if the JVM already started)
        .config("spark.driver.memory", os.environ.get("WT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        # small-file corpora: default 128MB split packing caps scan
        # parallelism at a handful of tasks, serializing the Python
        # analysis downstream — split finer, CPU cost dwarfs IO here
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # cap GC/compiler thread fan-out: on steal-prone virtualized hosts
        # the default (≈ncpu GC threads on top of task + Python workers)
        # triggers lock-holder-preemption collapse
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:CICompilerCount=4",
        )
        # long-lived build-then-serve sessions: the live UI store retains
        # full SQL plan graphs (default 1000 executions) and the
        # ContextCleaner's safety-net GC fires every 30min by default —
        # in a large heap ordinary GC is rare, so dropped broadcast/
        # shuffle state and UI plans accumulate as live data (measured:
        # heap residency climbing 8.5 -> 20 GB across a post-build query
        # set, with multi-second young pauses).  Cap the UI stores and
        # run the cleaner GC often; both are invisible to job results.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_executors_can_import(spark)
    return spark
