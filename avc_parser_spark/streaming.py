"""Structured Streaming path: incremental parse→route→aggregate.

The reference is strictly batch (README.md:62-66) and the north rule keeps
it batch with per-partition checkpoint/resume — but a web-scale deployment
often tails a landing zone. This module runs the SAME parse kernel as an
incremental file-source stream:

    pages landing dir → readStream → parse (mapInArrow, stateless)
        → watermarked windowed aggregates / routed sink

Semantics: identical to batch per micro-batch (the kernel is pure); late
data beyond the watermark is dropped from windowed aggs (documented
divergence from exact batch recompute). `trigger=availableNow` gives the
batch-equivalent "process everything then stop" mode used in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from avc_parser_spark.parse.udf import parse_pages

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over a pages landing directory (parquet)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )


def stream_events(pages_stream: DataFrame) -> DataFrame:
    """Streaming parse: the kernel is stateless, so parse_pages' mapInArrow
    applies unchanged to the unbounded DataFrame."""
    return parse_pages(pages_stream)


def stream_dedup_exact(
    pages: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Ingest-time exact dedup: drop pages whose md5(normalized text)
    digest was already seen within the watermark horizon — Spark's
    stateful dropDuplicatesWithinWatermark operator, so dedup state is
    BOUNDED (keys older than the watermark are evicted) instead of
    growing forever like a naive dropDuplicates on an unbounded stream.

    This is the streaming twin of functions/dedup.py::exact_duplicates:
    the batch op finds all duplicates after the fact; this one admits
    only first-seen digests at ingest. Cross-horizon dups are the stored
    sketch table's job (minhash_delta_candidates) — the two compose into
    the operational 100 TB ingest pattern: cheap in-horizon exact dedup
    at the edge, stored-sketch near-dedup per batch behind it.

    State shape at scale: one row per distinct digest inside the
    watermark window, hash-partitioned by digest across executors; the
    eviction is event-time driven, so a replayed backfill with old
    timestamps cannot balloon the state.
    """
    from avc_parser_spark.functions.dedup import normalized_text

    return (
        pages.withColumn("digest", F.md5(normalized_text(F.col(text_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )



def stream_lang_hour_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked per-lang/per-hour windowed counts (late data beyond the
    watermark is dropped)."""
    return (
        events.filter(F.col("route") == "parse_ok")
        .withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour").alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.col("w.start").alias("hour_start"), "lang", "events"
        )
    )


SESSION_OUT_DDL = (
    "comm string, session_start timestamp, session_end timestamp, events long"
)
SESSION_STATE_DDL = "start_us long, last_us long, cnt long"


def stream_denial_sessions(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): per-comm
    denial sessions with a `gap_minutes` inactivity window — the streaming
    twin of the batch `events_sessions` lag/cumsum sessionizer.

    State per key: (session_start, last_seen, count) as int64 microseconds.
    A session closes two ways: data-driven (a new event arrives more than
    `gap` after last_seen — emitted immediately in that micro-batch) or by
    EVENT-TIME TIMEOUT (watermark passes last_seen + gap — emitted at the
    start of the next micro-batch). Events within the watermark are sorted
    per batch before merging, so bounded disorder is handled; the still-open
    session per key stays in state (flushed by timeout as the watermark
    advances).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def _emit(comm: str, start_us: int, last_us: int, cnt: int) -> dict:
        return {
            "comm": comm,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(last_us, unit="us"),
            "events": cnt,
        }

    def sessionize(key, pdf_iter, state: GroupState):
        comm = key[0]
        out: list[dict] = []
        if state.hasTimedOut:
            start_us, last_us, cnt = state.get
            out.append(_emit(comm, start_us, last_us, cnt))
            state.remove()
        else:
            ts_us = []
            for pdf in pdf_iter:
                vals = pd.to_datetime(pdf["event_ts"]).dropna()
                ts_us.extend(vals.astype("int64") // 1000)
            if ts_us:
                ts_us.sort()
                if state.exists:
                    start_us, last_us, cnt = state.get
                else:
                    start_us, last_us, cnt = ts_us[0], ts_us[0] - 1, 0
                    # sentinel: first event below starts the session cleanly
                for t in ts_us:
                    if cnt and t - last_us > gap_us:
                        out.append(_emit(comm, start_us, last_us, cnt))
                        start_us, cnt = t, 0
                    last_us = max(last_us, t)
                    cnt += 1
                state.update((int(start_us), int(last_us), int(cnt)))
                # fire when the watermark passes the inactivity gap
                timeout_ms = last_us // 1000 + gap_us // 1000
                state.setTimeoutTimestamp(
                    max(timeout_ms, state.getCurrentWatermarkMs() + 1)
                )
        # explicit dtypes: a bare empty DataFrame is all-object, and the
        # Arrow serializer's concat of empty/all-NA frames raises pandas
        # FutureWarnings (the kernels stay warning-clean under -W error)
        yield pd.DataFrame(
            {
                "comm": pd.Series([r["comm"] for r in out], dtype="object"),
                "session_start": pd.Series(
                    [r["session_start"] for r in out], dtype="datetime64[ns]"
                ),
                "session_end": pd.Series(
                    [r["session_end"] for r in out], dtype="datetime64[ns]"
                ),
                "events": pd.Series([r["events"] for r in out], dtype="int64"),
            }
        )

    ok = (
        events.filter(F.col("route") == "parse_ok")
        .filter(F.col("comm").isNotNull() & F.col("event_ts").isNotNull())
        .withWatermark("event_ts", watermark)
    )
    return ok.groupBy("comm").applyInPandasWithState(
        sessionize,
        SESSION_OUT_DDL,
        SESSION_STATE_DDL,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_to_memory(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    name: str = "avc_stream",
) -> StreamingQuery:
    """availableNow run of the windowed rollup into a memory sink (tests /
    smoke); production would writeStream to a table with the same plan."""
    events = stream_events(stream_pages(spark, landing_dir))
    rollup = stream_lang_hour_rollup(events)
    # complete mode: append-with-watermark only emits a window once the
    # watermark passes its end, which never happens in a bounded
    # availableNow run — production append sinks see it advance naturally.
    return (
        rollup.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_routed_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Continuous routed-event sink: append parquet partitioned by route —
    the streaming twin of sinks.write_routed_tables."""
    events = stream_events(stream_pages(spark, landing_dir))
    return (
        events.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("route")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_sketch_stream(
    spark: SparkSession,
    landing_dir: str,
    cms_dir: str,
    hll_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    width: int = 512,
    depth: int = 4,
    p: int = 6,
    kmv_dir: str | None = None,
    kmv_k: int = 256,
) -> StreamingQuery:
    """Streaming sketch maintenance — the bounded-memory ingest twin of
    cms_build/hll_build: each micro-batch of landing pages contributes a
    per-batch CMS counter table (≤ depth·width rows) and HLL register
    table (≤ 2^p rows) APPENDED to the stored sketch dirs, never
    rewriting or rescanning history. Term-frequency and cardinality
    queries over the whole ingested corpus then read only the bounded
    sketch tables (read_cms_sketch / read_hll_sketch), however many
    batches have landed — the operational 100 TB shape alongside
    write_sketch_table's minhash appends.

    Exactly-once caveat, handled at READ time: a retried foreachBatch may
    append the same batch's (identical) rows twice, so readers first
    collapse per (batch_id, cell) with max — idempotent because a replay
    writes byte-identical counts — then merge across batches (sum for
    CMS cells, max for HLL registers, the sketches' merge laws)."""
    from avc_parser_spark.functions.dedup import cms_build, hll_build, kmv_build

    pages = stream_pages(spark, landing_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        terms = batch_df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("term")
        ).filter(F.col("term") != "")
        cms_build(terms, width=width, depth=depth).withColumn(
            "batch_id", F.lit(int(batch_id))
        ).write.mode("append").parquet(cms_dir)
        hll_build(terms, p=p).withColumn(
            "batch_id", F.lit(int(batch_id))
        ).write.mode("append").parquet(hll_dir)
        if kmv_dir is not None:
            kmv_build(terms, k=kmv_k).withColumn(
                "batch_id", F.lit(int(batch_id))
            ).write.mode("append").parquet(kmv_dir)

    return (
        pages.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_sketch(spark: SparkSession, cms_dir: str) -> DataFrame:
    """Merged CMS counter table over every appended batch: replay-dedup
    per (batch_id, r, c) with max, then cell-wise sum (cms_merge law)."""
    return (
        spark.read.parquet(cms_dir)
        .groupBy("batch_id", "r", "c")
        .agg(F.max("cnt").alias("cnt"))
        .groupBy("r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def read_hll_sketch(spark: SparkSession, hll_dir: str) -> DataFrame:
    """Merged HLL register table over every appended batch: register-wise
    max is both the replay dedup AND the merge law."""
    return (
        spark.read.parquet(hll_dir)
        .groupBy("idx")
        .agg(F.max("rho").alias("rho"))
    )


def read_kmv_sketch(spark: SparkSession, kmv_dir: str, k: int = 256) -> DataFrame:
    """Merged KMV sketch over every appended batch: distinct-then-k-
    smallest is both the replay dedup AND the merge law (the union's k
    minima are among each batch's k minima)."""
    return spark.read.parquet(kmv_dir).select("h").distinct().orderBy("h").limit(k)


def run_audit_routed_stream(
    spark: SparkSession,
    audit_landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail a landing zone of raw ausearch-export files: new files are
    block-split by the streaming file source (sources.stream_audit_logs),
    parsed by the same kernel, and appended route-partitioned — the
    operational ingest mode for hosts that drop audit exports into a
    directory. availableNow=False leaves the query running as a true tail
    (production); True drains what exists and stops (tests / cron-style
    catch-up runs)."""
    from avc_parser_spark.sources import stream_audit_logs

    events = stream_events(stream_audit_logs(spark, audit_landing_dir))
    writer = (
        events.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("route")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
