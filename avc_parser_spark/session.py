"""SparkSession factory tuned for the parse→enrich→route→aggregate pipeline.

Defaults are chosen for the 100 TB design point and scale down fine to the
local[N] sandbox:

- AQE on (runtime coalesce + skew-join splitting) — hot langs/urls/signatures
  are expected (the reference's whole premise is 10k raw denials → ~20 hot
  signature groups, docs/DEDUPLICATION_ALGORITHM.md).
- Arrow on for pandas UDFs; batch size bounded so wide text rows don't blow
  executor memory.
- shuffle.partitions defaults to a fixed 32, whatever the core count (AQE
  coalesces the excess at run time); a real cluster run via spark-submit
  would set it to ~2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One pages row carries up to ~8 KB text + html binary; 10k rows/batch keeps
# Arrow batches ~100 MB worst case, comfortably inside executor memory.
# Arrow batch size for pandas-UDF transfer; env-overridable so the bench
# ladder can sweep IPC-batch granularity without a code edit.
ARROW_BATCH_ROWS = int(os.environ.get("SPARK_ARROW_BATCH_ROWS", "10000"))


def get_spark(
    app_name: str = "avc-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with pipeline-tuned configs.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``local[*]``)
    so bench.py can sweep parallelism levels for the N-vs-4N scaling evidence.
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

    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    else:
        # a fixed 32, not one per core: every shuffle plans 32 map-side
        # partitions and AQE coalesces them at run time if tiny.
        builder = builder.config("spark.sql.shuffle.partitions", "32")

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    return builder.getOrCreate()
