"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness at local[*] test scale while staying the
right *shape* for a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow on (every pandas UDF is Arrow-batched),
shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Engine settings every session running this package wants, whatever
#: its master: ``get_spark`` builds with them and the shipped jobs under
#: ``jobs/`` apply them to spark-submit's builder (master, memory and
#: shuffle partitions stay the caller's). Builder settings win over a
#: spark-submit ``--conf`` of the same key.
ENGINE_CONF = {
    # Adaptive execution: runtime re-plan, small-partition coalesce,
    # automatic skew-join splitting for the hot-block self-join.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # SIZE-based coalescing, not parallelism-based: AQE's default
    # parallelism-first mode coalesces every post-shuffle stage to
    # ~1 partition per core, which quantizes pandas-UDF-heavy stages
    # (featurization costs ~6.5 s/MB, so a 21 MB task is a ~135 s
    # straggler; measured in BENCH/ANALYSIS.md "size-based AQE
    # coalescing"). A small 2 MB advisory target keeps those stages
    # at fine equal quanta — straggler loss bounded by one quantum —
    # and leaves the deliberate shuffle-partition sizing alone
    # (partitions above 2 MB are never merged), while genuinely tiny
    # shuffles still coalesce. 2 MB beat 8 MB head-to-head in the
    # 550k-doc probe (8-core arm 45.6s vs 65.6s: at 8 MB the heavy
    # stage collapsed to 1 task/core, the exact quantization this
    # setting removes). The quantum is data-sized, not cluster-sized,
    # so the same setting holds from local[2] to a 1000-executor
    # cluster; it also sets the skew-join split granularity.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batching for every pandas UDF / applyInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Keep parquet scans prunable: one row-group sized split per task.
    "spark.sql.files.maxPartitionBytes": "128m",
    # No Python call-site capture per Column call. With it on (the
    # Spark 4 default) every pyspark.sql.functions call makes an extra
    # py4j round trip to record the caller's file:line: ~2.8k of the
    # ~5.1k round trips one small documents -> clusters job made on
    # its calling thread. The trade-off: an analysis or runtime error
    # still carries its message and JVM context, but no longer names
    # the Python file:line that built the failing expression.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "ent-res-feedback-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Parameters
    ----------
    cores: local parallelism (``local[cores]``); default ``local[*]``.
        The scaling protocol (BENCH/BASELINE.md) runs interleaved
        local[2] vs local[8] pairs on disjoint pinned cores.
    shuffle_partitions: defaults to ``max(2 * cores, 32)`` — at cluster
        scale this would instead be sized to total executor cores; AQE
        coalesces small post-shuffle partitions either way.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        n = cores if cores else (os.cpu_count() or 8)
        shuffle_partitions = max(2 * n, 32)

    # NOTE (round-6, measured): a custom preloading Python-worker daemon
    # (spark.python.daemon.module importing numpy/pandas pre-fork) was
    # probed and REVERTED — the session's first Arrow stage costs ~4s
    # even with a single task (JVM-side runner/daemon init, and module
    # imports amortize through the OS page cache across workers), so the
    # preload bought nothing while adding a failure surface.

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamps in tests.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
