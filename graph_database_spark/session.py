"""SparkSession bootstrap.

Defaults are tuned for the test rig (local[$SPARK_GRAFT_CPUS], single JVM)
but every setting is chosen to also be the right call on a large cluster:
AQE on (runtime coalesce + skew-join splitting), UTC session timezone
(parquet timestamps compare cleanly against the DuckDB oracle), Arrow for
any pandas exchange, and shuffle partitions sized to the parallelism at
hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def driver_memory() -> str:
    """The driver heap: `SPARK_GRAFT_DRIVER_MEM` when set, else half the
    host's physical RAM, so the JVM cannot grow past what the host holds
    (a 48 GB heap on a 15 GB host failed to map its memory)."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2 // 2**30)}g"


def get_spark(app_name: str = "graph_database_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    On a real cluster the master/memory come from spark-submit; everything
    set here is master-agnostic except the local[] fallback.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return builder.master(f"local[{cpus}]").getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The verify driver hands us its own SparkSession; only mutate conf that
    is legal to change post-startup.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", str(cpu_count()))
        # runtime-settable; without it an externally built session runs at
        # the 10 MB default and dimension joins the plan tests assume
        # broadcast would shuffle instead
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # immutable in some deployments; defaults still correct
    return spark
