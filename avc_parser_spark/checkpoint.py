"""Per-partition checkpoint/resume with lineage + row-count metrics.

North-rule requirement: "the job checkpoints per-Iceberg-partition with
lineage + row-count metrics so reruns resume without reprocessing".

Design (Iceberg-equivalent on hive-partitioned parquet): one loop over
checkpoint units, shared by every front door. A unit is a pages-warehouse
`warc_date=<d>` directory or one raw audit-log / WARC file. Per unit:
1. fingerprint its input files as (name, size, mtime_ns) — mtime in ns so
   an in-place, same-size rewrite within one second still counts as new;
2. skip it if its manifest entry carries the same fingerprint;
3. read, parse and sign it, and write the routed events under
   `events/warc_date=<unit>/` (a partial write without a manifest entry is
   simply overwritten on the next run);
4. commit `_manifest/<unit>.json` — input fingerprint, input rows, routed
   rows per route, output rows, malformed lines, wall seconds, engine
   version — by an fsynced atomic rename, with the directory fsynced after
   it so the rename itself survives a power loss.

The row counts are `DataFrame.observe` metrics on the input and event
frames, filled by the parquet write itself: a processed unit costs the
write job (plus a parquet schema read for the warehouse), not extra
count or read-back jobs.

On a real Iceberg deployment the manifest collapses into Iceberg snapshot
metadata (commit per partition; lineage = snapshot id + summary), and the
skip check reads the snapshot log instead of _manifest files. The logic
below is the same shape with plain files.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from avc_parser_spark import __version__
from avc_parser_spark.enrich.join import signature_exprs
from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.pipeline import ROUTES
from avc_parser_spark.sqltext import sql_str

MANIFEST_DIR = "_manifest"

# the observed row counts of a unit's input and event frames
_INPUT_METRIC_SQL = "count(1) AS input_rows"
_OUTPUT_METRICS_SQL = [
    "count(1) AS output_rows",
    "coalesce(sum(malformed_lines), 0) AS malformed_lines",
    *(f"count_if(route = {sql_str(r)}) AS {r}" for r in ROUTES),
]


def _input_fingerprint(files: list[str]) -> str:
    entries = []
    for f in files:
        st = os.stat(f)
        entries.append((os.path.basename(f), st.st_size, st.st_mtime_ns))
    return json.dumps(sorted(entries), separators=(",", ":"))


def _commit(out_path: str, entry: dict) -> None:
    # The rename is the commit point; fsync the file first so a crash cannot
    # leave an empty manifest file behind it, and the directory after so a
    # power loss cannot undo the rename.
    mdir = os.path.join(out_path, MANIFEST_DIR)
    mpath = os.path.join(mdir, f"{entry['partition']}.json")
    tmp = mpath + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(entry, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, mpath)
    dfd = os.open(mdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def read_manifest(out_path: str) -> dict[str, dict]:
    mdir = os.path.join(out_path, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return {}
    out = {}
    for f in os.listdir(mdir):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                entry = json.load(fh)
                out[entry["partition"]] = entry
    return out


def _run_units(
    spark: SparkSession,
    units: list[tuple[str, str, list[str]]],
    reader,
    out_path: str,
    force: bool,
) -> dict:
    """The checkpointed ingest loop. `units` are (part, source, files):
    `reader(spark, source)` returns the pages-shaped frame parse_pages
    consumes, and `files` are fingerprinted for the skip check."""
    os.makedirs(os.path.join(out_path, MANIFEST_DIR), exist_ok=True)
    manifest = {} if force else read_manifest(out_path)

    processed, skipped = [], []
    for part, source, files in units:
        fp = _input_fingerprint(files)
        prior = manifest.get(part)
        if prior and prior.get("input_fingerprint") == fp:
            skipped.append(part)
            continue

        t0 = time.time()
        seen_in, seen_out = Observation(), Observation()
        pages = reader(spark, source).observe(seen_in, F.expr(_INPUT_METRIC_SQL))
        events = signature_exprs(parse_pages(pages)).observe(
            seen_out, *map(F.expr, _OUTPUT_METRICS_SQL)
        )
        events.write.mode("overwrite").parquet(
            os.path.join(out_path, "events", f"warc_date={part}")
        )
        out = seen_out.get
        _commit(out_path, {
            "partition": part,
            "input_fingerprint": fp,
            "input_rows": seen_in.get["input_rows"],
            # routes with no rows are left out, as a groupBy would
            "routed_rows": {r: out[r] for r in ROUTES if out[r]},
            "output_rows": out["output_rows"],
            "malformed_lines": out["malformed_lines"],
            "wall_sec": round(time.time() - t0, 3),
            "engine_version": __version__,
            "completed_at_epoch": int(time.time()),
        })
        processed.append(part)

    return {
        "processed": processed,
        "skipped": skipped,
        "manifest": read_manifest(out_path),
    }


def run_with_checkpoints(
    spark: SparkSession,
    pages_path: str,
    out_path: str,
    force: bool = False,
) -> dict:
    """Parse+route every `warc_date=` partition of the pages warehouse,
    resuming from the manifest.

    Returns {"processed": [...], "skipped": [...], "manifest": {...}}.
    """
    units = []
    for d in sorted(os.listdir(pages_path)):
        if d.startswith("warc_date="):
            pdir = os.path.join(pages_path, d)
            files = glob.glob(os.path.join(pdir, "*.parquet"))
            units.append((d.split("=", 1)[1], pdir, files))
    return _run_units(
        spark, units, lambda s, p: s.read.parquet(p), out_path, force
    )


def _file_units(
    input_path: str, suffix: str, part_prefix: str
) -> list[tuple[str, str, list[str]]]:
    """Per-FILE units for the raw-file front doors: each source file is
    one checkpoint unit — the operational shape for a directory receiving
    daily drops. Events land under events/warc_date=<prefix>-<file>/ so
    read_events and the report path work identically to the
    pages-warehouse mode."""
    if os.path.isdir(input_path):
        files = sorted(glob.glob(os.path.join(input_path, f"*{suffix}")))
    else:
        files = sorted(glob.glob(input_path)) or [input_path]
    return [
        (
            part_prefix + "-" + re.sub(r"[^A-Za-z0-9_.-]", "_", os.path.basename(f)),
            f,
            [f],
        )
        for f in files
    ]


def run_audit_logs_with_checkpoints(
    spark: SparkSession,
    logs_path: str,
    out_path: str,
    force: bool = False,
) -> dict:
    """Per-file resumable ingest of raw ausearch-export logs (the
    reference CLI's native input, via sources.read_audit_logs)."""
    from avc_parser_spark.sources import read_audit_logs

    units = _file_units(logs_path, ".log", "log")
    return _run_units(spark, units, read_audit_logs, out_path, force)


def run_warc_with_checkpoints(
    spark: SparkSession,
    warc_path: str,
    out_path: str,
    force: bool = False,
) -> dict:
    """Per-file resumable ingest of uncompressed WARC crawl files: each
    .warc becomes pages via read_warc_pages (response records →
    extract_html_text → trigram lang-id) and flows through the same
    parse→route→aggregate events write — the Common-Crawl front door with
    the same manifest/lineage/skip semantics as every other source."""
    from avc_parser_spark.sources import read_warc_pages

    units = _file_units(warc_path, ".warc", "warc")
    return _run_units(spark, units, read_warc_pages, out_path, force)


def read_events(spark: SparkSession, out_path: str) -> DataFrame:
    return spark.read.option("basePath", os.path.join(out_path, "events")).parquet(
        os.path.join(out_path, "events", "warc_date=*")
    )
