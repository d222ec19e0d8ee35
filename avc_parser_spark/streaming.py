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


def stream_lang_hour_rollup(events: DataFrame) -> DataFrame:
    """Watermarked per-lang/per-hour windowed counts (late data beyond the
    2-hour watermark is dropped)."""
    return (
        events.filter(F.col("route") == "parse_ok")
        .withWatermark("event_ts", "2 hours")
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


def stream_denial_sessions(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): per-comm
    denial sessions with a 30-minute inactivity gap — the streaming twin of
    the batch `events_sessions` lag/cumsum sessionizer.

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

    gap_us = 30 * 60 * 1_000_000

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
    the streaming twin of checkpoint.run_with_checkpoints' routed write."""
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


def run_audit_routed_stream(
    spark: SparkSession,
    audit_landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Tail a landing zone of raw ausearch-export files: new files are
    block-split by the streaming file source (sources.stream_audit_logs),
    parsed by the same kernel, and appended route-partitioned — the
    operational ingest mode for hosts that drop audit exports into a
    directory. The availableNow trigger drains what exists and stops
    (tests / cron-style catch-up runs)."""
    from avc_parser_spark.sources import stream_audit_logs

    events = stream_events(stream_audit_logs(spark, audit_landing_dir))
    return (
        events.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("route")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
