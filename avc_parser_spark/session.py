"""SparkSession factory tuned for the parse→enrich→route→aggregate pipeline.

Defaults are chosen for the 100 TB design point and scale down fine to the
local[N] sandbox:

- AQE on (runtime coalesce + skew-join splitting) — hot langs/urls/signatures
  are expected (the reference's whole premise is 10k raw denials → ~20 hot
  signature groups, docs/DEDUPLICATION_ALGORITHM.md).
- Arrow on for pandas UDFs; batch size bounded so wide text rows don't blow
  executor memory.
- shuffle.partitions defaults to the cluster's core count
  (``defaultParallelism``): one task per core per shuffle. AQE coalesces
  shuffles it reads fresh, but not the output of persisted or
  ``localCheckpoint``ed frames, so a wider default only adds idle tasks
  there. A width set at launch (spark-submit ``--conf``) is kept.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One pages row carries up to ~8 KB text + html binary; 10k rows/batch keeps
# Arrow batches ~100 MB worst case, comfortably inside executor memory.
ARROW_BATCH_ROWS = 10_000


def get_spark(
    app_name: str = "avc-parser-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with pipeline-tuned configs.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``local[*]``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing and
        # skew-join splitting are load-bearing at 100 TB (hot lang='en').
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (the parse battery is a pandas UDF).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        # Dim tables are tiny (≤ a few thousand rows); make sure they always
        # broadcast rather than shuffle-join.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp behavior across JVM timezones.
        .config("spark.sql.session.timeZone", "UTC")
        # Keep scan partitions big enough to amortize task overhead at scale.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )

    # The shuffle width goes on the session, not the builder: PySpark
    # launches the JVM with the builder's options as --conf, which makes
    # them JVM system properties that every later session in this process
    # would inherit after stop().
    key = "spark.sql.shuffle.partitions"
    conf = dict(extra_conf or {})
    width = conf.pop(key, None)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    # One shuffle partition per core, unless a width is given here or is
    # already set: at launch (spark-submit --conf) or earlier on this
    # session.
    if width is not None:
        spark.conf.set(key, width)
    elif spark.conf.get(key, None) is None:
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    return spark
