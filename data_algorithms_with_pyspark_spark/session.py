"""SparkSession factory.

Re-expresses the reference's session bootstrap
(``/root/reference/src/common/spark_session.py:94-152``: named app, local
master, ``spark.sql.shuffle.partitions=4``, quiet logs) as a production-shaped
factory: AQE on (runtime re-planning, skew-join handling, partition
coalescing), Arrow on (fast pandas/Python interchange), session timezone
pinned to UTC (deterministic timestamp semantics vs. external oracles), and
shuffle parallelism sized to the machine instead of Spark's default 200.

At 100 TB on a real cluster the same factory applies — only ``master``,
memory, and ``shuffle_partitions`` change (rule of thumb: 2-4 partitions per
core, and large enough that each shuffle partition stays under a few hundred
MB; AQE coalesces the small ones at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if not cpus:
        return max(2, os.cpu_count() or 2)
    try:
        n = int(cpus)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}")
    return max(2, n)


def get_spark(
    app_name: str = "pyspark-analytics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are local-mode friendly but every knob is overridable for
    cluster deployment via ``extra_conf``.
    """
    cores = _default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Files: larger scan partitions than the 128MB default are fine for
        # mostly-numeric parquet; AQE rebalances downstream.
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # Parquet TIMESTAMP(NANOS) (the events table) is unreadable by the
        # vectorized reader unless surfaced as long; readers.load_table
        # converts ns-longs back to microsecond timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime bloom-filter join pruning: build a bloom filter from the
        # selective side of a shuffle join and push it into the other
        # side's scan — large-join win that costs nothing when inapplicable.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
