"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same configs are what we'd set on a
real cluster (AQE, skew-join handling, partition sizing). Nothing here is
local-mode-specific except the master default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dgraph-spark", master: str | None = None) -> SparkSession:
    """Build (or get) a SparkSession with scale-oriented defaults.

    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
      replaces dgraph's hand-rolled uid-list balancing (algo/uidlist.go).
    - shuffle.partitions sized for the local harness; on a 1000-executor
      cluster this would be set to ~2-3x total cores by the submitter.
    - Arrow enabled: every pandas-UDF operator (minhash, vector ops) moves
      data in columnar batches.
    - DataFrame call-site capture off: with it on, every DataFrame API
      call makes extra py4j round trips to record its Python call site
      for error messages (about half the py4j calls of a point read). It
      is a static conf, so it is set here, at session build.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # dgraph predicate names and query aliases are case-SENSITIVE
        # (`Friend: name` and a `friend` edge may coexist in one block)
        .config("spark.sql.caseSensitive", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
