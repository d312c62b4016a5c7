"""SparkSession factory tuned for the log-pipeline workload.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing + skew-join splitting handles the hot-source
  skew the reference's kafka partitioner would otherwise concentrate
  (reference: exporter/kafkaexporter/config.go:63-77 partitions by resource
  attributes -> hot services hot partitions; we let AQE split them).
- shuffle.partitions defaults to cores locally; on a real cluster set it
  ~2-3x total cores or rely on AQE coalescing from a high initial value.
- Arrow enabled: every Python-side operator here is a pandas/Arrow UDF,
  never per-row Python.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "otelcol-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # 4g (Spark default 1g): an oracle/driver collect of a 10M-row
        # result at sf10 serializes >1 GiB of task results; on a real
        # cluster results this size go through a distributed sink instead
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_DRIVER_MAX_RESULT_SIZE", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist `df` for the body of the `with` block; unpersist it on exit.

    The package's one cache rule: a frame whose consumers all run inside
    one function is cached with this block, so no exit path leaves it in
    the CacheManager. A frame that escapes (returned lazily, or carried
    from one loop round to the next) is `localCheckpoint()`ed instead:
    that truncates its plan, never enters the CacheManager, and the
    ContextCleaner frees its blocks once the last frame reading it is
    garbage-collected. A persisted frame keeps its whole plan (a
    self-join per round doubles it) and stays cached until unpersisted.

    Trade-off: a local checkpoint has no lineage, so losing an executor
    that holds its blocks fails the job. On a cluster where that matters,
    use `checkpoint()` with a checkpoint dir on reliable storage
    (`spark.sparkContext.setCheckpointDir`).
    """
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()
