"""File-source ingestion tests: read_audit_logs must turn raw
ausearch-export files (the reference CLI's native input,
parse_avc.py:main file/stdin path) into blocks that parse to EXACTLY the
events the parity-proven whole-file path yields."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.sources import read_audit_logs, stream_audit_logs

TESTAVC = "/root/reference/testAVC"

PAGES_DDL = "url string, warc_ts timestamp, text string, lang string"


def _event_signature(df):
    """Multiset of parsed events over every column except the source url
    (the two paths assign different urls by construction)."""
    cols = sorted(c for c in df.columns if c != "url")
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.select(cols).collect()
    )


def test_read_audit_logs_block_splitting(spark, tmp_path):
    """Separator handling: leading/trailing/back-to-back '----' lines are
    delimiters (with or without trailing spaces), but '----' INSIDE a line
    (e.g. a path value) is content and must not split the block."""
    content = (
        "----\n"
        "type=AVC msg=audit(1700000000.100:1): avc:  denied  { read } for "
        'pid=1 comm=a name="/tmp/a----b" scontext=u:r:t:s0 '
        "tcontext=u:r:f:s0 tclass=file\n"
        "----\n"
        "----  \n"
        "type=AVC msg=audit(1700000000.200:2): avc:  denied  { write } for "
        "pid=2 comm=b scontext=u:r:t:s0 tcontext=u:r:f:s0 tclass=file\n"
        "----\n"
    )
    p = tmp_path / "sample.log"
    p.write_text(content)
    blocks = read_audit_logs(spark, str(p)).collect()
    texts = sorted(r["text"] for r in blocks)
    assert len(texts) == 2
    assert texts[0].endswith(":1): avc:  denied  { read } for pid=1 comm=a "
                             'name="/tmp/a----b" scontext=u:r:t:s0 '
                             "tcontext=u:r:f:s0 tclass=file")
    assert "a----b" in texts[0]  # mid-line ---- is content, not a separator
    assert texts[1].endswith("tclass=file")
    assert all(r["lang"] == "und" and r["warc_ts"] is None for r in blocks)
    assert all(r["url"].startswith("file:") and "#" in r["url"] for r in blocks)


@pytest.mark.skipif(not os.path.isdir(TESTAVC), reason="reference logs absent")
def test_read_audit_logs_matches_whole_file_parse(spark):
    """Over ALL reference testAVC exports at once: the parse_ok EVENT
    stream from the file source's pre-split blocks == the stream from
    whole-file documents (the path already proven byte-identical to the
    reference). This gates the source's splitting, not the kernel.

    Routing granularity intentionally differs: a block with no valid
    denial (e.g. a lone USER_ACCT export) becomes its own
    malformed-routed row in per-block mode, while whole-file mode absorbs
    it into a parse_ok document — per-block routing is the useful
    behavior at scale (noise blocks quarantine individually instead of
    poisoning a file-sized document), so only the event stream is pinned
    here, and the malformed deltas are asserted to be event-free rows."""
    files = sorted(glob.glob(os.path.join(TESTAVC, "*.log")))
    assert len(files) >= 20
    from_source = parse_pages(read_audit_logs(spark, TESTAVC))

    whole_rows = [
        (path, None, open(path, encoding="utf-8", errors="replace").read(),
         "und")
        for path in files
    ]
    from_whole = parse_pages(spark.createDataFrame(whole_rows, PAGES_DDL))

    ok_src = from_source.filter(F.col("route") == "parse_ok")
    ok_whole = from_whole.filter(F.col("route") == "parse_ok")
    assert _event_signature(ok_src) == _event_signature(ok_whole)

    # every extra per-block row must be a no-denial routing row, never a
    # denial that the whole-file path also produced
    extra = from_source.filter(F.col("route") != "parse_ok")
    assert all(r["permission"] is None for r in extra.collect())


def test_stream_audit_logs_matches_batch(spark, tmp_path):
    """Streaming twin of the raw file source: an availableNow stream over a
    landing dir of ausearch exports parses to the same event multiset as
    the batch reader, and a file dropped AFTER the first drain is picked up
    incrementally (exactly-once per file via the stream's tracking)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    block = (
        "type=AVC msg=audit(1700000000.{ms}00:{i}): avc:  denied  "
        "{{ read }} for pid={i} comm=c{i} scontext=u:r:t:s0 "
        "tcontext=u:r:f:s0 tclass=file\n"
    )
    (landing / "a.log").write_text(
        "----\n" + block.format(i=1, ms=1) + "----\n" + block.format(i=2, ms=2)
    )
    (landing / "b.log").write_text(block.format(i=3, ms=3))

    events = parse_pages(stream_audit_logs(spark, str(landing)))
    out = str(tmp_path / "out")

    def drain():
        q = (
            events.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = drain()
    batch = parse_pages(read_audit_logs(spark, str(landing)))
    assert _event_signature(got) == _event_signature(batch)
    assert got.filter(F.col("route") == "parse_ok").count() == 3

    # drop a new file -> only its blocks arrive in the next drain (the
    # parquet sink resumes from the same checkpoint, exactly-once per file)
    (landing / "c.log").write_text(block.format(i=4, ms=4))
    comms = sorted(
        r["comm"]
        for r in drain().filter(F.col("route") == "parse_ok").collect()
    )
    assert comms == ["c1", "c2", "c3", "c4"]


def test_run_audit_logs_with_checkpoints_resume(spark, tmp_path):
    """Per-file checkpointing: first run processes every file, re-run
    skips all, touching one file reprocesses exactly that file, and
    read_events sees the union."""
    import os
    import time as _time

    from avc_parser_spark.checkpoint import (
        read_events,
        run_audit_logs_with_checkpoints,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    block = (
        "type=AVC msg=audit(1700000000.100:{i}): avc:  denied  {{ read }} "
        'for pid={i} comm=c{i} scontext=u:r:t:s0 tcontext=u:r:f:s0 '
        "tclass=file\n"
    )
    for i in (1, 2):
        (logs / f"day{i}.log").write_text("----\n" + block.format(i=i) + "----\n")
    out = str(tmp_path / "out")

    r1 = run_audit_logs_with_checkpoints(spark, str(logs), out)
    assert sorted(r1["processed"]) == ["log-day1.log", "log-day2.log"]
    assert r1["skipped"] == []

    r2 = run_audit_logs_with_checkpoints(spark, str(logs), out)
    assert r2["processed"] == [] and len(r2["skipped"]) == 2

    # new content in day2 -> only day2 reprocesses
    p2 = logs / "day2.log"
    p2.write_text(p2.read_text() + block.format(i=3) + "----\n")
    os.utime(p2, (_time.time() + 2, _time.time() + 2))
    r3 = run_audit_logs_with_checkpoints(spark, str(logs), out)
    assert r3["processed"] == ["log-day2.log"]
    assert r3["skipped"] == ["log-day1.log"]

    ev = read_events(spark, out)
    assert ev.filter(ev.route == "parse_ok").count() == 3


def test_run_audit_routed_stream(spark, tmp_path):
    """Operational tail mode: raw exports dropped into a landing dir come
    out route-partitioned, matching the batch parse of the same files."""
    from avc_parser_spark.streaming import run_audit_routed_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.log").write_text(
        "----\n"
        "type=AVC msg=audit(1700000000.100:1): avc:  denied  { read } for "
        "pid=1 comm=c1 scontext=u:r:t:s0 tcontext=u:r:f:s0 tclass=file\n"
        "----\n"
        "not an audit block at all\n"
    )
    q = run_audit_routed_stream(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    routed = spark.read.parquet(str(tmp_path / "out"))
    got = {
        r["route"]: r["n"]
        for r in routed.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batch = parse_pages(read_audit_logs(spark, str(landing)))
    exp = {
        r["route"]: r["n"]
        for r in batch.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp and got.get("parse_ok") == 1


def test_read_warc_roundtrip_pages(spark, tmp_path):
    """WARC roundtrip parity: datagen pages rendered into an uncompressed
    WARC/1.0 file (full HTTP response payloads, leading warcinfo record)
    read back with the delimiter-split reader must reproduce the exact
    (url, whole-second warc_ts, html bytes) multiset, and read_warc_pages
    must chain extract_html_text byte-identically."""
    from avc_parser_spark.datagen import build_pages_df
    from avc_parser_spark.functions.text import extract_html_text
    from avc_parser_spark.sources import build_warc_bytes, read_warc, read_warc_pages

    pages = build_pages_df(spark, 300).collect()
    recs = [
        {"url": r["url"],
         "ts": r["warc_ts"].replace(microsecond=0) if r["warc_ts"] else None,
         "html": bytes(r["html"])}
        for r in pages
    ]
    p = tmp_path / "sample.warc"
    p.write_bytes(build_warc_bytes(recs))

    got = read_warc(spark, str(p)).collect()
    assert sorted((r["url"], r["warc_ts"], bytes(r["html"])) for r in got) \
        == sorted((r["url"], r["ts"], r["html"]) for r in recs)
    assert all(r["http_status"] == 200 for r in got)

    # pages front door: text == extract_html_text(html), lang populated
    pg = read_warc_pages(spark, str(p))
    expect = {
        r["url"]: r["x"]
        for r in spark.createDataFrame(
            [(r["url"], r["html"].decode()) for r in recs], ["url", "h"]
        ).select("url", extract_html_text(F.col("h")).alias("x")).collect()
    }
    for r in pg.collect():
        assert r["text"] == expect[r["url"]]
        assert r["lang"] is not None


def test_read_warc_filters_non_response_records(spark, tmp_path):
    """warcinfo/request/metadata records are dropped; a response without a
    WARC-Date parses with a null warc_ts; HTTP status/content-type come
    from the payload's own headers; a CRLF inside the body survives."""
    from avc_parser_spark.sources import build_warc_bytes, read_warc

    body = "<p>first</p>\r\nsecond line"
    raw = build_warc_bytes(
        [{"url": "http://x.example/a", "ts": None, "html": body,
          "status": 301, "ctype": "text/html"}],
    )
    # splice in a request record (never a page) between warcinfo and response
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: http://x.example/a\r\n"
        b"Content-Type: application/http; msgtype=request\r\n"
        b"Content-Length: 18\r\n\r\nGET /a HTTP/1.1\r\n\r\n\r\n\r\n"
    )
    parts = raw.split(b"WARC/1.0\r\nWARC-Type: response", 1)
    p = tmp_path / "mixed.warc"
    p.write_bytes(parts[0] + req + b"WARC/1.0\r\nWARC-Type: response" + parts[1])

    rows = read_warc(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["url"] == "http://x.example/a"
    assert r["warc_ts"] is None
    assert r["http_status"] == 301
    assert r["content_type"] == "text/html"
    assert bytes(r["html"]).decode() == body


def test_stream_warc_matches_batch(spark, tmp_path):
    """Streaming twin: an availableNow stream over a landing dir of .warc
    files yields the same (url, html) multiset as the batch reader, and a
    file dropped after the first drain arrives incrementally."""
    from avc_parser_spark.sources import build_warc_bytes, read_warc, stream_warc

    landing = tmp_path / "landing"
    landing.mkdir()

    def mk(name, urls):
        (landing / name).write_bytes(build_warc_bytes(
            [{"url": u, "ts": None, "html": f"<p>{u}</p>"} for u in urls]
        ))

    mk("a.warc", ["http://s.example/1", "http://s.example/2"])
    mk("b.warc", ["http://s.example/3"])

    out = str(tmp_path / "out")
    stream = stream_warc(spark, str(landing)).drop("src_file")

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = drain()
    batch = read_warc(spark, str(landing))
    key = lambda df: sorted(
        (r["url"], bytes(r["html"])) for r in df.collect()
    )
    assert key(got) == key(batch)

    mk("c.warc", ["http://s.example/4"])
    urls = sorted(r["url"] for r in drain().collect())
    assert urls == [f"http://s.example/{i}" for i in (1, 2, 3, 4)]


def test_run_warc_with_checkpoints_resume(spark, tmp_path):
    """Per-file resumable WARC ingest: first run processes both crawl
    files; an unchanged re-run skips everything; a new drop processes
    incrementally; events land partitioned per source file with routed
    row counts in the manifest."""
    from avc_parser_spark.checkpoint import read_events, run_warc_with_checkpoints
    from avc_parser_spark.datagen import build_pages_df
    from avc_parser_spark.sources import build_warc_bytes

    pages = build_pages_df(spark, 120).collect()
    crawl = tmp_path / "crawl"
    crawl.mkdir()

    def mk(name, rows):
        (crawl / name).write_bytes(build_warc_bytes(
            [{"url": r["url"], "ts": r["warc_ts"], "html": bytes(r["html"])}
             for r in rows]
        ))

    mk("a.warc", pages[:50])
    mk("b.warc", pages[50:100])
    out = str(tmp_path / "out")

    r1 = run_warc_with_checkpoints(spark, str(crawl), out)
    assert sorted(r1["processed"]) == ["warc-a.warc", "warc-b.warc"]
    assert r1["skipped"] == []
    assert all(
        e["routed_rows"] and e["input_rows"] == 50
        for e in r1["manifest"].values()
    )

    r2 = run_warc_with_checkpoints(spark, str(crawl), out)
    assert r2["processed"] == []
    assert sorted(r2["skipped"]) == ["warc-a.warc", "warc-b.warc"]

    mk("c.warc", pages[100:])
    r3 = run_warc_with_checkpoints(spark, str(crawl), out)
    assert r3["processed"] == ["warc-c.warc"]
    assert sorted(r3["skipped"]) == ["warc-a.warc", "warc-b.warc"]

    ev = read_events(spark, out)
    assert ev.select("url").distinct().count() == 120
