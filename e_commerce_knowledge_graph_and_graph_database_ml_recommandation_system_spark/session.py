"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the conf below is chosen so
the same logical plans survive a 1000-executor / 100-TB deployment:
AQE handles skew + runtime coalesce, broadcast threshold keeps dim/feature
joins shuffle-free, Arrow makes the few pandas-grouped ops batch-transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver heap default: min(24g, half of physical RAM). A fixed 24g on
    a smaller host lets the local JVM grow until the kernel OOM-kills it;
    SPARK_GRAFT_DRIVER_MEM overrides."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    except (ValueError, OSError):
        return "24g"
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(app_name: str = "ekg-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster it should be ~2-3x total executor cores (set via submit conf,
    which wins because we only set defaults here when absent).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = SparkSession.builder.appName(app_name)
    # only default the master when nothing picked one — an unconditional
    # .master() would override spark-submit --master on a real cluster
    # (round-1 advice)
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "") + os.environ.get("SPARK_SUBMIT_OPTS", "")
    externally_mastered = (
        os.environ.get("SPARK_MASTER")
        or os.environ.get("MASTER")
        or "--master" in submit_args
        or "spark.master" in submit_args
    )
    if not externally_mastered:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.sql.session.timeZone", "UTC")
        # UI off by default (test/bench hygiene); probes that read the
        # REST status API (shuffle-byte accounting in
        # tools/graph_scale_probe.py) opt in via the env var
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI_ENABLED", "false"))
    )
    return builder.getOrCreate()
