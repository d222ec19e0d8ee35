"""End-to-end pipeline composition (SURVEY.md §7.0 skeleton).

    pages → [prefilter] → PARSE (mapInArrow) → ENRICH (broadcast joins)
          → ROUTE fan-out → per-sink salted aggregates → findings

Stage shape at scale: scan→parse→enrich→route is ONE narrow stage (no
shuffle); the routed event table is materialized once (checkpoint per input
partition); each downstream aggregate shuffles on its own key over the
much-smaller parse_ok subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from avc_parser_spark.aggregate import aggregate_signatures
from avc_parser_spark.enrich.join import enrich_events, sesearch_expr, signature_exprs
from avc_parser_spark.parse.udf import parse_pages

ROUTES = ["parse_ok", "malformed", "quarantine"]


def route_split(events: DataFrame) -> dict[str, DataFrame]:
    """K7-style fan-out: one routing column, one filter per sink.

    At scale the routed frontier is written once (see checkpoint.py) and each
    sink reads its slice with partition pruning on `route`.
    """
    return {r: events.filter(F.col("route") == r) for r in ROUTES}


def denial_groups(events: DataFrame) -> DataFrame:
    """parse_ok events → signature groups with sesearch remediation (E12)."""
    if "sig_id" not in events.columns:
        events = signature_exprs(events)
    ok = events.filter("route = 'parse_ok'")
    groups = aggregate_signatures(ok).selectExpr(
        "*",
        "representative.sc_type AS sc_type",
        "representative.tc_type AS tc_type",
        "representative.tclass AS tclass",
    )
    return groups.withColumn("sesearch_command", sesearch_expr())


def route_counts(events: DataFrame) -> DataFrame:
    """Per-sink row counts — the routed-row-set golden (north rule)."""
    return events.groupBy("route").agg(F.count(F.lit(1)).alias("rows"))


def per_lang_hour_rollup(events: DataFrame) -> DataFrame:
    """Per-lang/per-hour rollup over parse_ok events (north-star example).

    One shuffle on (lang, hour); partial aggregation is map-side so the hot
    'en' key only ships one partial row per task, not its raw events —
    salting is unnecessary for pure counts.
    """
    return (
        events.filter(F.col("route") == "parse_ok")
        .groupBy(
            F.col("lang"),
            F.date_trunc("hour", F.col("event_ts")).alias("event_hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("url").alias("docs"),
        )
    )


def run_pipeline(pages: DataFrame) -> dict[str, DataFrame]:
    """Full composition. Returns the principal output frames (lazy)."""
    events = signature_exprs(parse_pages(pages))
    enriched = enrich_events(events)
    return {
        "events": events,
        "enriched": enriched,
        "routes": route_split(events),
        "groups": denial_groups(events),
        "route_counts": route_counts(events),
        "lang_hour": per_lang_hour_rollup(events),
    }
