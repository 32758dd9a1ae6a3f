"""SparkSession helpers with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(master: str | None = None, app: str = "sparkstract",
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size the last shuffle of a persisted plan too, as it
        # does every other shuffle: a cached few-row groupBy otherwise keeps
        # all spark.sql.shuffle.partitions partitions, and every later stage
        # over it (and every write of it) pays one task or file per empty
        # slice. Explicit-count repartitions (the kernel's salt) keep theirs
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing bounds the bytes a mapInPandas worker holds:
        # batch bytes ~= records x media row size (maxBytesPerBatch is NOT
        # honored on the mapInPandas path in this Spark, only
        # transformWithState). 128 is measured ~12-20% faster end-to-end
        # than 64 on the extraction kernel at the fixture media sizes;
        # deployments with multi-MB scans should lower it via
        # SPARKSTRACT_ARROW_BATCH (64 rows x 4 MB scans is already 256 MB
        # per in-flight batch per worker).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARKSTRACT_ARROW_BATCH", "128"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARKSTRACT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()
