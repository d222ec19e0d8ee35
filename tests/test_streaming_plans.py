"""Structured Streaming equivalence + physical-plan quality assertions."""

from __future__ import annotations

from pyspark.sql import functions as F

from avc_parser_spark.datagen import build_pages_df
from avc_parser_spark.datagen.pages import write_pages_warehouse
from avc_parser_spark.parse.udf import parse_pages


def test_streaming_matches_batch(spark, tmp_path):
    """availableNow stream over a landing dir produces the same routed rows
    and per-lang/hour rollup as the batch pipeline."""
    from avc_parser_spark.streaming import run_routed_stream, run_stream_to_memory

    landing = str(tmp_path / "landing")
    write_pages_warehouse(spark, landing, 600)

    q = run_stream_to_memory(
        spark, landing, str(tmp_path / "ck1"), name="t_stream_rollup"
    )
    q.awaitTermination(120)
    got = {
        (r["hour_start"], r["lang"]): r["events"]
        for r in spark.table("t_stream_rollup").collect()
    }
    batch = parse_pages(spark.read.parquet(landing)).filter(
        F.col("route") == "parse_ok"
    )
    expected = {
        (r["h"], r["lang"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("hour", "event_ts").alias("h"), "lang"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected

    q2 = run_routed_stream(
        spark, landing, str(tmp_path / "routed"), str(tmp_path / "ck2")
    )
    q2.awaitTermination(120)
    routed = spark.read.parquet(str(tmp_path / "routed"))
    got_routes = {
        r["route"]: r["n"]
        for r in routed.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    exp_routes = {
        r["route"]: r["n"]
        for r in parse_pages(spark.read.parquet(landing))
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got_routes == exp_routes


def test_partition_pruning_on_warc_date(spark, tmp_path):
    """F3-style predicates on the partition column must prune the scan."""
    wh = str(tmp_path / "wh")
    write_pages_warehouse(spark, wh, 400)
    df = spark.read.parquet(wh)
    dates = [r["warc_date"] for r in df.select("warc_date").distinct().collect()]
    assert len(dates) >= 1
    one = df.filter(F.col("warc_date") == dates[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition filters must appear as PartitionFilters, not post-scan Filter
    assert "PartitionFilters: [" in plan
    assert "warc_date" in plan.split("PartitionFilters:")[1][:200]


def test_parquet_filter_pushdown(spark, tmp_path):
    wh = str(tmp_path / "wh2")
    write_pages_warehouse(spark, wh, 200)
    df = spark.read.parquet(wh).filter(F.col("lang") == "en").select("url", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan
    # column pruning: scan must not read text/html
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "text" not in read_schema and "html" not in read_schema


def test_salted_agg_plan_has_two_aggregates(spark):
    """The salted aggregate must show two groupBy levels (partial per salt,
    then final merge) and no more than two exchanges."""
    from avc_parser_spark.aggregate import aggregate_signatures
    from avc_parser_spark.enrich.join import signature_exprs

    ev = signature_exprs(parse_pages(build_pages_df(spark, 100)))
    plan = (
        aggregate_signatures(ev.filter(F.col("route") == "parse_ok"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "_salt" in plan


def test_stats_counters_grouping_sets(spark):
    """A6 must expand to exactly n single-dim grouping sets (not cube's 2^n),
    sentinel missing comm as 'unknown', and drop genuine-NULL values of the
    other dims (reference stats_formatter.py:48,51-81 semantics)."""
    from avc_parser_spark.aggregate import stats_counters

    df = spark.createDataFrame(
        [("a", None, "file", "read"), (None, "t1", None, "write")],
        "comm string, sc_type string, tclass string, permission string",
    )
    out = stats_counters(df, ["comm", "sc_type", "tclass", "permission"])
    rows = {
        (r["comm"], r["sc_type"], r["tclass"], r["permission"]): r["cnt"]
        for r in out.collect()
    }
    assert rows[("unknown", None, None, None)] == 1  # missing comm sentinel
    assert rows[("a", None, None, None)] == 1
    assert rows[(None, "t1", None, None)] == 1
    assert rows[(None, None, "file", None)] == 1
    assert len(rows) == 6  # 2 comms + 1 sc_type + 1 tclass + 2 permissions

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # Expand lists one projection per grouping set — 4 here, not cube's 2^4.
    # Format: Expand [[p1], [p2], [p3], [p4]], [outputCols] → '], [' appears
    # (n-1) between projections + 1 before the output list.
    expand_line = next(ln for ln in plan.split("\n") if "Expand" in ln)
    assert expand_line.count("], [") == 4


def test_tpch_q3ish_uses_broadcast_for_customer(spark):
    """Small dimension sides must broadcast under AQE at test scale."""
    import __spark_entry__ as em

    df = em.q_tpch_q3ish(spark, "/root/testdata/sf0.001")
    df.collect()  # trigger AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ann_suite_waits_for_its_pool_on_error(spark, tmp_path, monkeypatch):
    """An error while q_ann_suite builds its plant/PQ branches propagates,
    and the thread pool it overlapped the k-means jobs on is shut down by
    then, with no job left running behind the exception."""
    import threading

    import pytest

    import __spark_entry__ as em

    spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (d + 7)) % 13).cast("float") for d in range(8)]
        ).alias("embedding"),
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    def no_codebooks():
        raise RuntimeError("no codebooks")

    monkeypatch.setattr(em, "_pq_plant_codebooks", no_codebooks)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="no codebooks"):
        em.q_ann_suite(spark, str(tmp_path))
    assert [
        t.name for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ] == []
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_stateful_streaming_sessions(spark, tmp_path):
    """applyInPandasWithState sessionizer: data-driven gap closure within a
    micro-batch AND event-time-timeout closure across micro-batches."""
    import os

    from avc_parser_spark.streaming import stream_denial_sessions

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    ddl = "comm string, event_ts timestamp, route string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(landing, name))

    from datetime import datetime

    t = lambda h, m: datetime(2025, 1, 1, h, m)  # noqa: E731
    write_batch("b1", [
        ("httpd", t(0, 0), "parse_ok"),
        ("httpd", t(0, 10), "parse_ok"),
        ("httpd", t(0, 20), "parse_ok"),
        ("mysqld", t(0, 5), "parse_ok"),
        ("mysqld", t(0, 6), "malformed"),  # filtered out
    ])
    write_batch("b2", [("httpd", t(3, 0), "parse_ok")])
    write_batch("b3", [("httpd", t(6, 0), "parse_ok")])

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing + "/*")
    )
    q = (
        stream_denial_sessions(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["comm"], r["session_start"], r["session_end"], r["events"])
        for r in spark.table("sess_test").collect()
    }
    # httpd 00:00-00:20 closes when the 03:00 event arrives (gap closure);
    # mysqld 00:05 closes via event-time timeout once the watermark passes
    # 00:35; httpd 03:00 closes via gap when 06:00 arrives. httpd 06:00
    # stays open in state (stream ended) - correctly NOT emitted.
    assert ("httpd", t(0, 0), t(0, 20), 3) in got
    assert ("httpd", t(3, 0), t(3, 0), 1) in got
    assert ("mysqld", t(0, 5), t(0, 5), 1) in got
    assert not any(s[1] == t(6, 0) for s in got)


def test_stateful_sessions_match_batch_sessionization(spark, tmp_path):
    """CLOSED streaming sessions must equal the batch lag/cumsum
    sessionization of the same events (same 30-min gap rule)."""
    import os
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F2
    from pyspark.sql.window import Window

    from avc_parser_spark.streaming import stream_denial_sessions

    rows = []
    t0 = datetime(2025, 3, 1)
    steps = [1, 50, 3, 7, 90, 2, 31, 4, 200, 5, 29, 61]
    for c, comm in enumerate(["httpd", "mysqld", "sshd"]):
        ts = t0 + timedelta(minutes=c * 11)
        for s in steps:
            ts = ts + timedelta(minutes=s + c)
            rows.append((comm, ts, "parse_ok"))
    ddl = "comm string, event_ts timestamp, route string"

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(landing + "/b1")
    # far-future flush batch: advances the watermark so every real session
    # closes via event-time timeout
    spark.createDataFrame(
        [("flush", t0 + timedelta(days=2), "parse_ok")], ddl
    ).coalesce(1).write.parquet(landing + "/b2")

    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing + "/*")
    )
    q = (
        stream_denial_sessions(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["comm"], r["session_start"], r["session_end"], r["events"])
        for r in spark.table("sess_eq").collect()
        if r["comm"] != "flush"
    }

    w = Window.partitionBy("comm").orderBy("event_ts")
    batch_sessions = (
        spark.createDataFrame(rows, ddl)
        .withColumn("prev", F2.lag("event_ts").over(w))
        .withColumn(
            "new_sess",
            F2.col("prev").isNull()
            | ((F2.unix_timestamp("event_ts") - F2.unix_timestamp("prev")) > 1800),
        )
        .withColumn("sess_id", F2.sum(F2.col("new_sess").cast("long")).over(w))
        .groupBy("comm", "sess_id")
        .agg(
            F2.min("event_ts").alias("s"),
            F2.max("event_ts").alias("e"),
            F2.count(F2.lit(1)).alias("n"),
        )
    )
    expected = {
        (r["comm"], r["s"], r["e"], r["n"]) for r in batch_sessions.collect()
    }
    assert got == expected
    assert len(expected) >= 9  # several sessions per comm actually closed


def test_pack_sequences_plan_single_exchange(spark):
    """pack_sequences must cost exactly ONE hash exchange (on pack_bucket)
    feeding the window prefix-sum — no global sort, no extra shuffle. At
    100 TB the bucket count is the parallelism knob; a global-order plan
    here would serialize the corpus through one partition."""
    from avc_parser_spark.functions.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma"[: 5 + i % 10]) for i in range(64)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, seq_len=16, bucket_count=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "pack_bucket" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "Window" in plan


def test_sample_to_mixture_plan_broadcasts_cutoffs(spark):
    """The per-stratum cutoff frame must reach the corpus via a broadcast
    join — a sort-merge join here would shuffle the full corpus on the
    stratum key (catastrophic at 100 TB: strata are few and huge)."""
    from avc_parser_spark.functions.text import sample_to_mixture

    docs = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de"),
        )
    )
    plan = (
        sample_to_mixture(docs, {"en": 1, "de": 1})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_winnow_candidates_plan_single_corpus_shuffle(spark):
    """The corpus-sized data crosses exactly one exchange (hash on the
    fingerprint key); the only other exchange is the pair-level distinct,
    bounded by the bucket cap — no corpus-wide sort, no cartesian."""
    import re

    from avc_parser_spark.functions.dedup import (
        winnow_candidates_from_fps,
        winnow_fingerprints,
    )

    docs = (
        spark.range(0, 500)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat(F.lit("body of document number "), F.col("doc_id")),
        )
    )
    plan = (
        winnow_candidates_from_fps(winnow_fingerprints(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert exchanges == ["hashpartitioning", "hashpartitioning"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

def test_paragraph_dedup_plan_no_window(spark):
    """Paragraph dedup must resolve the global first instance with a
    partial-aggregated groupBy, NOT a window sort — a billion-instance
    boilerplate paragraph map-side combines instead of sorting one hot
    partition. Exchanges: hash on md5(para) for the agg, the join back
    (broadcast here, co-partitioned on the same key at scale), and hash
    on doc id for reassembly."""
    import re

    from avc_parser_spark.functions.dedup import paragraph_dedup

    docs = (
        spark.range(0, 500)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat(
                F.lit("shared header\n\nbody of document "), F.col("doc_id")
            ),
        )
    )
    plan = (
        paragraph_dedup(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert exchanges.count("hashpartitioning") <= 3
    assert "rangepartitioning" not in exchanges  # no global sort

def test_lm_score_plan_broadcast_one_pass(spark):
    """Scoring is ONE narrow pass over the corpus: both LM joins are
    broadcast (no shuffle of the big side on the join keys), the LM build
    top-k is a distributed TakeOrdered (no global sort partition), and the
    only corpus-sized exchange is the final per-doc groupBy."""
    from avc_parser_spark.functions.text import build_ngram_lm, lm_score

    docs = (
        spark.range(0, 2000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat(F.lit("common words document number "), F.col("doc_id")),
        )
    )
    lm = build_ngram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    plan = (
        lm_score(docs, lm)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # the top-k LM cap


def test_extract_links_prunes_scan_columns(spark, tmp_path):
    """The scan feeding extract_links reads only (doc_id, html) — heavy
    sibling columns (text) must not cross the parquet boundary."""
    from avc_parser_spark.functions.text import extract_links

    p = str(tmp_path / "pages_links")
    spark.createDataFrame(
        [(i, f'<a href="https://x.com/{i}">t</a>', "heavy " * 50)
         for i in range(20)],
        "doc_id long, html string, text string",
    ).write.parquet(p)
    out = extract_links(spark.read.parquet(p))
    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "html" in read_schema and "doc_id" in read_schema
    assert "text" not in read_schema, read_schema
    assert out.count() == 20
