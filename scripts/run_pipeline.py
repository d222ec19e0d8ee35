#!/usr/bin/env python
"""spark-submit entrypoint: parse→enrich→route→aggregate with checkpoints.

Cluster usage (north rule: packaged for spark-submit --py-files):

    cd /root/repo && zip -r /tmp/avc_parser_spark.zip avc_parser_spark
    spark-submit \
        --py-files /tmp/avc_parser_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_pipeline.py \
        --pages /path/to/pages_warehouse \
        --out   /path/to/output \
        [--force] [--report]

Local smoke:
    python scripts/run_pipeline.py --pages data/bench_pages_500000 --out data/run1

Raw ausearch exports (the reference CLI's input — per-file resumable):
    python scripts/run_pipeline.py --audit-logs /var/log/audit-exports --out data/run2 --report

Resumable: re-running skips pages partitions whose manifest entry matches
the input fingerprint (see avc_parser_spark/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="pages warehouse path")
    src.add_argument(
        "--audit-logs",
        help="raw ausearch-export file/dir/glob (the reference CLI's input; "
        "per-file resumable ingest)",
    )
    src.add_argument(
        "--warc",
        help="uncompressed WARC crawl file/dir/glob (Common-Crawl front "
        "door: response records → HTML text extraction → lang-id → the "
        "same parse→route pipeline; per-file resumable ingest)",
    )
    src.add_argument(
        "--curate",
        help="training-corpus curation over a documents parquet "
        "(doc_id, url, text[, lang]): canonicalize → URL dedup → MinHash "
        "near-dup resolve → [optional C4/Gopher screens] → [optional "
        "eval-set decontamination] → split → hive-partitioned write "
        "(functions/curation.py::curate_corpus)",
    )
    ap.add_argument("--out", required=True, help="output path")
    ap.add_argument("--force", action="store_true", help="reprocess everything")
    ap.add_argument("--report", action="store_true", help="write JSON report")
    ap.add_argument(
        "--eval-docs", help="(--curate) eval parquet for 8-gram decontamination"
    )
    ap.add_argument(
        "--c4", action="store_true", help="(--curate) C4 line/doc cleaning"
    )
    ap.add_argument(
        "--gopher", action="store_true", help="(--curate) Gopher quality screens"
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from avc_parser_spark.analyzers import run_analyzers
    from avc_parser_spark.checkpoint import (
        read_events,
        run_audit_logs_with_checkpoints,
        run_warc_with_checkpoints,
        run_with_checkpoints,
    )
    from avc_parser_spark.pipeline import denial_groups
    from avc_parser_spark.sinks import write_json_report

    spark = SparkSession.builder.appName("avc-parser-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.curate:
        from pyspark.sql import functions as F

        from avc_parser_spark.functions.curation import (
            curate_corpus,
            write_curated,
        )

        docs = spark.read.parquet(args.curate)
        ev = spark.read.parquet(args.eval_docs) if args.eval_docs else None
        kept = curate_corpus(
            docs, eval_docs=ev, c4_clean=args.c4, gopher=args.gopher
        )
        kept = kept.persist()
        write_curated(kept, args.out)
        # count from the persisted frame, not a read-back: a fully-screened
        # (empty) corpus writes no parquet footers to re-infer
        counts = {
            r["split"]: r["n"]
            for r in kept.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        kept.unpersist()
        print(json.dumps({"curated": args.out, "split_counts": counts}))
        return

    if args.audit_logs:
        result = run_audit_logs_with_checkpoints(
            spark, args.audit_logs, args.out, force=args.force
        )
    elif args.warc:
        result = run_warc_with_checkpoints(
            spark, args.warc, args.out, force=args.force
        )
    else:
        result = run_with_checkpoints(spark, args.pages, args.out, force=args.force)
    print(
        json.dumps(
            {
                "processed_partitions": result["processed"],
                "skipped_partitions": result["skipped"],
                "lineage": result["manifest"],
            },
            indent=2,
            default=str,
        )
    )

    if args.report:
        events = read_events(spark, args.out)
        report_path = os.path.join(args.out, "report.json")
        # the analyzers and the report each read the groups: aggregate once
        groups = denial_groups(events).persist()
        try:
            write_json_report(groups, run_analyzers(groups), report_path)
        finally:
            groups.unpersist()
        print(f"report: {report_path}")


if __name__ == "__main__":
    main()
