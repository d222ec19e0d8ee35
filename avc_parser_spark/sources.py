"""Raw-file sources: ingest the reference tool's native inputs directly.

The reference CLI consumes ausearch-export files (parse_avc.py reads a
file/stdin and splits event blocks on `----` separator lines); a user
switching to this engine has directories of exactly those files.
`read_audit_logs` turns them into the (url, warc_ts, text, lang) frame
every downstream stage (parse_pages → enrich → route → aggregate)
already consumes.

Scale shape: `spark.read.option("lineSep", "\\n----\\n").text(path)` makes
the SEPARATOR the record delimiter, so Spark's text source does the block
splitting inside its normal split machinery — a 100 GB log file fans out
across tasks like any text scan; no whole-file reads, no driver-side
splitting, no window over line numbers. Residual separator lines (files
that open with `----`, back-to-back separators) are filtered per record
with a native array expression. Files WITHOUT separators (plain audit.log
dumps — several reference testAVC files are this shape) arrive as one
block per split and the parse kernel's own block-splitting (V1,
parse/kernels.py) handles multi-event content inside a document, same as
always.

Contract (pinned by tests/test_sources.py over the reference's own 23
testAVC exports): the parse_ok EVENT stream is identical to parsing each
whole file as one document. Routing granularity is finer by design — a
separator-delimited block with no valid denial routes to `malformed` on
its own instead of disappearing inside a file-sized parse_ok document,
which is what you want at scale: noise quarantines per block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AUDIT_SEPARATOR = "\n----\n"


def _blocks_frame(raw: DataFrame, url_suffix) -> DataFrame:
    """Shared batch/stream block shaping: strip residual separator lines,
    drop empty blocks, emit the pages-shaped columns. One definition so
    the two readers can never drift."""
    body = F.array_join(
        F.filter(
            F.split(F.col("value"), "\n"),
            lambda line: F.trim(line) != "----",
        ),
        "\n",
    )
    return (
        raw.select(
            F.input_file_name().alias("src_file"),
            F.trim(body).alias("text"),
        )
        .filter(F.col("text") != "")
        .select(
            F.concat(F.col("src_file"), F.lit("#"), url_suffix).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            "text",
            F.lit("und").alias("lang"),
        )
    )


def read_audit_logs(spark: SparkSession, path: str) -> DataFrame:
    """Read raw ausearch-export files under `path` (file, dir, or glob)
    into the pages-shaped frame `parse_pages` consumes.

    url = <source file>#<block ordinal> (stable within a read; block
    ordinals are per-partition monotonic ids, deterministic for a fixed
    file layout), warc_ts = the file's modification time surrogate is NOT
    available engine-side, so it is left null — the parse kernel's own
    per-record timestamps (P5) carry the time dimension for audit data.
    """
    raw = spark.read.option("lineSep", AUDIT_SEPARATOR).text(path)
    return _blocks_frame(raw, F.monotonically_increasing_id().cast("string"))


def stream_audit_logs(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming twin: Structured Streaming's file source discovers new
    ausearch-export files dropped into `landing_dir` and their blocks flow
    into the same pages shape (feed to streaming.stream_events). The
    separator-as-record-delimiter trick carries over unchanged — block
    splitting happens inside the text source, exactly-once per file via
    the stream's own file tracking. url suffix = xxhash64 of the cleaned
    block text (monotonic ids are not batch-stable in a stream);
    byte-identical duplicate blocks within one file coalesce onto one
    url, which downstream signature aggregation counts correctly
    anyway."""
    raw = (
        spark.readStream.option("lineSep", AUDIT_SEPARATOR)
        .text(landing_dir)
    )
    return _blocks_frame(raw, F.xxhash64(F.col("text")).cast("string"))


# --- WARC (Web ARChive) — the native Common-Crawl container format -------
#
# Same scale shape as the audit reader: the inter-record boundary
# ("\r\n\r\n" + next record's "WARC/1.0" version line) becomes the text
# source's record delimiter, so a multi-GB .warc file fans out across
# tasks inside Spark's normal split machinery — no whole-file reads, no
# driver-side splitting. Framing caveat (same as any delimiter split): a
# payload that itself contains the full separator string breaks framing;
# real crawl HTML never carries a bare "WARC/1.0" version line behind two
# CRLFs. Gzipped .warc.gz (one gzip member per record) would go through
# binaryFile + per-member gunzip instead — out of scope here because the
# text path is the splittable, 100 TB-shaped one.

WARC_SEPARATOR = "\r\n\r\nWARC/1.0\r\n"


def build_warc_bytes(records) -> bytes:
    """Render an uncompressed WARC/1.0 file (test/plant fixture builder —
    pure function, no Spark). `records`: iterables of dicts with url,
    ts (datetime or None), html (bytes or str), optional status/ctype.
    Emits a leading warcinfo record (real crawl files open with one) and
    one response record per page, each payload a full HTTP response."""
    info = b"software: avc-parser-spark datagen\r\n"
    out = [
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: " + str(len(info)).encode() + b"\r\n\r\n"
        + info + b"\r\n\r\n"
    ]
    for r in records:
        body = r["html"]
        if isinstance(body, str):
            body = body.encode("utf-8")
        status = int(r.get("status", 200))
        ctype = r.get("ctype", "text/html; charset=UTF-8")
        http = (
            f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n\r\n"
        ).encode("ascii")
        payload = http + body
        ts = r.get("ts")
        date = ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None else ""
        hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {r['url']}\r\n"
            + (f"WARC-Date: {date}\r\n" if date else "")
            + "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("ascii")
        out.append(hdr + payload + b"\r\n\r\n")
    return b"".join(out)


def _warc_records_frame(raw: DataFrame) -> DataFrame:
    """Shared batch/stream WARC record shaping — all native expressions.

    Each input row is one record (the delimiter ate the two trailing CRLFs
    and the NEXT record's version line; the first record of a split keeps
    its own "WARC/1.0" line, stripped here). First blank line splits WARC
    headers from payload (header blocks never contain one — same reason
    the first blank line inside the payload splits HTTP headers from
    body). Only the file's LAST record still carries its trailing CRLFs,
    stripped once. Non-response records (warcinfo, request, metadata) are
    filtered out after the type extract."""
    block = F.regexp_replace(F.col("value"), r"^WARC/1\.0\r\n", "")
    arr = F.split(block, r"\r\n\r\n", 2)
    headers = F.get(arr, 0)
    payload = F.coalesce(F.get(arr, 1), F.lit(""))
    wtype = F.regexp_extract(headers, r"(?m)^WARC-Type:\s*(\S+)", 1)
    uri = F.regexp_extract(headers, r"(?m)^WARC-Target-URI:\s*(\S+)", 1)
    wdate = F.regexp_extract(headers, r"(?m)^WARC-Date:\s*(\S+)", 1)
    harr = F.split(payload, r"\r\n\r\n", 2)
    has_http = F.get(harr, 0).startswith("HTTP/")
    http_headers = F.when(has_http, F.get(harr, 0)).otherwise(F.lit(""))
    body_raw = F.when(
        has_http, F.coalesce(F.get(harr, 1), F.lit(""))
    ).otherwise(payload)
    body = F.regexp_replace(body_raw, r"\r\n\r\n$", "")
    return (
        raw.select(
            F.input_file_name().alias("src_file"),
            wtype.alias("warc_type"),
            uri.alias("url"),
            F.try_to_timestamp(
                wdate, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")
            ).alias("warc_ts"),
            F.regexp_extract(
                http_headers, r"^HTTP/1\.[01]\s+(\d{3})", 1
            ).cast("int").alias("http_status"),
            F.regexp_extract(
                http_headers, r"(?im)^Content-Type:\s*([^\r\n]+)", 1
            ).alias("content_type"),
            body.alias("_body"),
        )
        .filter(F.col("warc_type") == "response")
        .select(
            "url", "warc_ts",
            F.encode(F.col("_body"), "utf-8").alias("html"),
            "http_status", "content_type", "src_file",
        )
    )


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read uncompressed WARC files under `path` (file, dir, or glob) into
    (url, warc_ts, html:binary, http_status, content_type, src_file) —
    response records only. Splittable at 100 GB per file via the
    separator-as-delimiter trick (see module notes above)."""
    raw = spark.read.option("lineSep", WARC_SEPARATOR).text(path)
    return _warc_records_frame(raw)


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC → the canonical pages frame (url, warc_ts, html, text, lang):
    text via extract_html_text (native chain), lang via the trigram
    profiles. This is the full Common-Crawl front door — the output feeds
    parse_pages / the curation pipeline unchanged."""
    from avc_parser_spark.functions.text import extract_html_text, with_lang_guess

    recs = read_warc(spark, path).select(
        "url", "warc_ts", "html",
        extract_html_text(F.col("html")).alias("text"),
    )
    return with_lang_guess(recs, out_col="lang")


def stream_warc(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming twin: new .warc files dropped into `landing_dir` flow
    through the SAME record frame (exactly-once per file via the stream's
    file tracking) — tail a crawler's landing zone into the pipeline."""
    raw = spark.readStream.option("lineSep", WARC_SEPARATOR).text(landing_dir)
    return _warc_records_frame(raw)
