"""Synthetic `pages` table builder + partitioned-parquet warehouse writer.

Table shape per the input hint (BASELINE.json:15):
    pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Design-scale layout (what this stands in for at 10^12 rows):
    Iceberg table partitioned by days(warc_ts), write-distributed by
    bucket(16, url). This sandbox has no Iceberg runtime jar, so we emit the
    equivalent hive-partitioned Parquet layout (warc_date=YYYY-MM-DD/...) —
    partition pruning and column pruning behave identically for the queries
    here; the Iceberg DDL is documented in README.

Generation happens distributed (mapInPandas over spark.range) so building a
bench-scale table uses all cores and never materializes on the driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avc_parser_spark.datagen.payload import BASE_EPOCH, lang_for, make_payload

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

N_HOSTS = 50  # i%17==0 → host0 gives a hot host for skew tests


def _gen_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        ids = pdf["id"].to_numpy()
        rows = []
        for i in ids:
            i = int(i)
            text, _route = make_payload(i)
            lang = lang_for(i)
            host = 0 if i % 17 == 0 else i % N_HOSTS
            url = f"https://host{host}.example/{lang}/doc{i}"
            ts = pd.Timestamp(BASE_EPOCH + i, unit="s", tz="UTC")
            html = b"<html><body>" + text.encode("utf-8", "surrogateescape") + b"</body></html>"
            rows.append((url, ts, html, text, lang))
        yield pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )


def build_pages_df(spark: SparkSession, n_docs: int) -> DataFrame:
    """Distributed deterministic pages DataFrame of n_docs rows, one
    partition per default-parallelism slot."""
    base = spark.range(
        0, n_docs, 1, numPartitions=spark.sparkContext.defaultParallelism
    )
    return base.mapInPandas(_gen_batch, schema=PAGES_SCHEMA)


def write_pages_warehouse(
    spark: SparkSession, path: str, n_docs: int, overwrite: bool = False
) -> str:
    """Write the pages table as a date-partitioned parquet warehouse.

    Returns the path. Idempotent: skips the write if a _SUCCESS marker with
    the same n_docs already exists (cheap resume for bench runs).
    """
    marker = os.path.join(path, "_GEN_OK")
    if not overwrite and os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == str(n_docs):
                return path

    df = build_pages_df(spark, n_docs).withColumn(
        "warc_date", F.to_date("warc_ts")
    )
    # Write-distribute by url hash into enough files that downstream scans
    # can parallelize: parquet splits at row-group granularity, so one fat
    # file per partition would cap the parse stage at #files tasks
    # (mirrors the Iceberg design's write-distribution bucket(16, url)).
    n_out = max(spark.sparkContext.defaultParallelism * 2, n_docs // 5000)
    (
        df.repartition(n_out, "url")
        .write.mode("overwrite")
        .partitionBy("warc_date")
        .parquet(path)
    )
    with open(marker, "w") as f:
        f.write(str(n_docs))
    return path
