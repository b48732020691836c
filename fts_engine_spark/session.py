"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` in one JVM; every setting below is chosen to
also be correct on a 1000-executor cluster (AQE on, Arrow on, modest shuffle
partitioning that AQE coalesces at runtime).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

_FAIR_XML = """<?xml version="1.0"?>
<allocations>
  <pool name="default">
    <schedulingMode>FAIR</schedulingMode>
    <weight>1</weight>
    <minShare>0</minShare>
  </pool>
</allocations>
"""


def _fair_allocation_file() -> str:
    """FAIR scheduling needs an allocation file to make the DEFAULT pool
    fair internally — without one, spark.scheduler.mode=FAIR still runs the
    default pool FIFO, so same-pool concurrent queries queue whole jobs
    (ADVICE r2). Serving tiers additionally give each client its own pool
    (:func:`set_fair_pool`)."""
    path = os.path.join(tempfile.gettempdir(), "fts_fairscheduler.xml")
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(_FAIR_XML)
        os.replace(tmp, path)
    return path


def set_fair_pool(spark: SparkSession, pool: str) -> None:
    """Assign THIS thread's jobs to a named FAIR pool (local properties are
    per-thread) — one pool per concurrent client interleaves their tasks."""
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)


def get_spark(
    app_name: str = "fts-engine-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        # AQE: runtime coalescing + skew-join splitting as the safety net
        # behind our explicit doc-shard salting (SURVEY.md §4 P6).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / mapInPandas / applyInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet: write term bloom filters usable for point-lookup pruning.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # generated-code cache: an ingest cycle (upserts, reopens, a
        # compaction) uses ~130 distinct generated classes, so Spark's
        # 100-entry default evicted them before reuse and every op
        # re-compiled 15-90 of them (~14 ms each on the driver thread,
        # plus JIT work competing with the op for CPUs). Static: must be
        # set at session start.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # FAIR job scheduling: concurrent search jobs share task slots
        # instead of queueing whole jobs (measured +10% QPS at 8 clients);
        # identical to FIFO when one job runs at a time (builds). Must be
        # set at context startup — not settable per-query. The allocation
        # file makes the default pool fair INTERNALLY (without it, FAIR
        # mode still schedules the default pool FIFO).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", _fair_allocation_file())
        # SPARK_GRAFT_PRETOUCH=1: -Xms=Xmx + AlwaysPreTouch faults the whole
        # heap in ONCE at startup instead of per-allocation during the job —
        # this box (VM with on-demand host paging) serves first-touch page
        # faults ~20x slower than resident memory (BENCH/SCALING_NOTES.md
        # control experiment). Off by default: it adds ~30s session startup,
        # which tests don't want; long-lived executors would want it on.
        .config(
            "spark.driver.extraJavaOptions",
            "-Dlog4j2.level=error"
            + (
                f" -Xms{driver_mem} -XX:+AlwaysPreTouch"
                if os.environ.get("SPARK_GRAFT_PRETOUCH") == "1"
                else ""
            ),
        )
        # keep glibc from returning freed pages to the OS in the Python
        # workers (same page-fault-per-reuse issue; M_TRIM_THRESHOLD=-1 and
        # a high mmap threshold make worker arenas stable across batches)
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
