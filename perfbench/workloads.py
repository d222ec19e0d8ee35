"""The benchmark's workloads: each drives the pipeline's public entry points
over generated tables, times one operation, and checks its outputs after
the clock stops.

``op`` returns the timed metrics of one operation plus whatever the check
needs; ``check`` returns a list of problems (empty when the outputs are
right). Spans from the tracer wrap each call into a layer; in a timed
(untraced) run they do nothing.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import time
from statistics import median

from pyspark.sql import functions as F

import gen
from tracing import ROOT

from avc_parser_spark.aggregate import aggregate_signatures
from avc_parser_spark.analyzers import run_analyzers
from avc_parser_spark.checkpoint import MANIFEST_DIR, read_events, run_with_checkpoints
from avc_parser_spark.enrich.join import enrich_events, signature_exprs
from avc_parser_spark.functions.curation import curate_corpus, write_curated
from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.pipeline import denial_groups, per_lang_hour_rollup, route_counts
from avc_parser_spark.sinks import write_json_report

GROUP_KEY = ["sig_id", "count", "first_seen", "last_seen"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _group_rows(df) -> set[tuple]:
    return {tuple(r) for r in df.select(*GROUP_KEY).collect()}


def _check_routes(got: dict, truth: dict) -> list[str]:
    want = truth["route_rows"]
    if got != want:
        return [f"route rows {got} != generator truth {want}"]
    return []


class Workload:
    """One named input shape: ``generate`` writes its tables, ``op`` runs
    and times the program on them, ``check`` verifies the outputs."""

    name = ""
    size_attr = ""  # the attribute that sets the input size

    def scaled(self, factor: float):
        """A copy with the input size multiplied by ``factor``."""
        other = copy.copy(self)
        setattr(other, self.size_attr, max(20, int(getattr(self, self.size_attr) * factor)))
        return other


class InMemoryPipeline(Workload):
    """parse → sign → enrich → route counts / lang-hour rollup / salted
    signature groups over one pages table held in the Spark cache, the
    shape of ``pipeline.run_pipeline`` and ``bench.py``."""

    size_attr = "n_pages"

    def op(self, spark, tr, paths, truth, work):
        t0 = time.perf_counter()
        with tr.span(ROOT):
            pages = spark.read.parquet(paths["pages"])
            # The signature cascades are fused into the parse stage, so
            # their time counts under parse.
            with tr.span("parse", "parse_pages+signature_exprs"):
                events = signature_exprs(parse_pages(pages)).persist()
                events.count()
            with tr.span("enrich"):
                enrich_events(events).write.format("noop").mode("overwrite").save()
            with tr.span("pipeline"):
                routes = {r["route"]: r["rows"] for r in route_counts(events).collect()}
                lang_hours = per_lang_hour_rollup(events).count()
            with tr.span("aggregate"):
                groups = {tuple(r) for r in denial_groups(events).select(*GROUP_KEY).collect()}
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "docs_per_s": truth["docs"] / wall,
            "audit_docs_parsed": truth["audit_docs"],
            "routes": routes,
            "lang_hours": lang_hours,
            "groups": groups,
            "events": events,
        }

    def check(self, spark, res, truth, work) -> tuple[list[str], dict]:
        events = res["events"]
        problems = _check_routes(res["routes"], truth)
        unsalted = _group_rows(
            aggregate_signatures(events.filter(F.col("route") == "parse_ok"), salted=False)
        )
        if res["groups"] != unsalted:
            problems.append(
                f"salted groups differ from unsalted: {len(res['groups'] ^ unsalted)} rows"
            )
        if sum(g[1] for g in res["groups"]) != truth["route_rows"].get("parse_ok", 0):
            problems.append("group counts do not sum to the parse_ok rows")
        error_docs = events.filter(_salvaged()).count()
        events.unpersist()
        return problems, {
            "parse.error_docs": error_docs,
            "aggregate.groups": len(res["groups"]),
            **{f"pipeline.rows.{r}": res["routes"].get(r, 0) for r in ("parse_ok", "malformed", "quarantine")},
        }


def _salvaged():
    """Rows the parser's per-doc salvage quarantined after an exception
    (control-byte quarantines are routing, not errors)."""
    status = F.col("parse_status")
    return status.startswith("PARSE_ERROR_") & (status != "PARSE_ERROR_ControlBytes")


class CrawlSparse(InMemoryPipeline):
    name = "crawl_sparse"
    n_pages = 10000

    def generate(self, root, seed):
        return gen.gen_crawl_sparse(root, seed, self.n_pages)


class DenialStorm(InMemoryPipeline):
    name = "denial_storm"
    n_pages = 1000

    def generate(self, root, seed):
        return gen.gen_denial_storm(root, seed, self.n_pages)


def _routed_digest(spark, out: str) -> dict:
    """Per partition of the routed table: row count, order-free content
    hashes and salvage-quarantined rows."""
    ev = read_events(spark, out)
    cols = [c for c in ev.columns if c != "warc_date"]
    h = F.xxhash64(*cols)
    return {
        str(r["warc_date"]): (r["n"], r["s"], r["x"], r["e"])
        for r in ev.groupBy("warc_date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(h, F.lit(2**31 - 1))).alias("s"),
            F.bit_xor(h).alias("x"),
            F.count(F.when(_salvaged(), 1)).alias("e"),
        )
        .collect()
    }


class CheckpointDays(Workload):
    """The production path: checkpointed run over day partitions, a resume
    after one partition is re-landed, then the analyst report."""

    name = "checkpoint_days"
    size_attr = "n_docs"
    n_docs = 30000

    def generate(self, root, seed):
        return gen.gen_checkpoint_days(root, seed, self.n_docs)

    def op(self, spark, tr, paths, truth, work):
        out = os.path.join(work, "routed")
        report = os.path.join(work, "report.json")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span(ROOT):
            with tr.span("checkpoint", "run_with_checkpoints"):
                full = run_with_checkpoints(spark, paths["pages"], out)
        full_s = time.perf_counter() - t0
        # Untimed: snapshot the fresh run's routed table, then re-land one
        # partition's input.
        full_bytes = dir_bytes(out)
        before = _routed_digest(spark, out)
        paths["rewrite"]()
        t1 = time.perf_counter()
        with tr.span(ROOT):
            with tr.span("checkpoint", "resume"):
                resumed = run_with_checkpoints(spark, paths["pages"], out)
            t2 = time.perf_counter()
            with tr.span("checkpoint", "read_events"):
                events = read_events(spark, out)
            with tr.span("aggregate"):
                # The analyzers and the report each read the groups; keep
                # them cached instead of re-aggregating the table per rule.
                groups = denial_groups(events).persist()
                groups.count()
            with tr.span("analyzers"):
                findings = run_analyzers(groups)
            with tr.span("sinks"):
                write_json_report(groups, findings, report)
        t3 = time.perf_counter()
        wall = full_s + t3 - t1
        groups.unpersist()
        # What the resume rewrote: the reprocessed partitions' events and
        # their manifest entries.
        resume_bytes = sum(
            dir_bytes(os.path.join(out, "events", f"warc_date={p}"))
            + os.path.getsize(os.path.join(out, MANIFEST_DIR, f"{p}.json"))
            for p in resumed["processed"]
        )
        ckpt_bytes = full_bytes + resume_bytes
        written = ckpt_bytes + os.path.getsize(report)
        parsed = full["processed"] + resumed["processed"]
        # Routed rows per route, from the manifest after the resume.
        routes = {}
        for entry in resumed["manifest"].values():
            for r, n in entry["routed_rows"].items():
                routes[r] = routes.get(r, 0) + n
        return {
            "wall_s": wall,
            "docs_per_s": truth["docs"] / wall,
            "resume_s": t2 - t1,
            "report_s": t3 - t2,
            "write_bytes_per_input_byte": written / truth["input_bytes"],
            # Every stock generator doc carries audit text.
            "audit_docs_parsed": sum(truth["partition_docs"][p] for p in parsed),
            "full": full,
            "resumed": resumed,
            "routes": routes,
            "digest_before": before,
            "report_path": report,
            "out": out,
            "bytes_written": ckpt_bytes,
            "partition_walls": sorted(e["wall_sec"] for e in full["manifest"].values()),
        }

    def check(self, spark, res, truth, work):
        problems = []
        parts = truth["partitions"]
        if sorted(res["full"]["processed"]) != parts or res["full"]["skipped"]:
            problems.append(f"full run processed {res['full']['processed']}")
        want = [truth["resume_partition"]]
        if res["resumed"]["processed"] != want or len(res["resumed"]["skipped"]) != len(parts) - 1:
            problems.append(
                f"resume processed {res['resumed']['processed']}, expected exactly {want}"
            )
        after = _routed_digest(spark, res["out"])
        if after != res["digest_before"]:
            problems.append("routed table after resume differs from the fresh full run")
        routes = res["routes"]
        problems += _check_routes(routes, truth)

        with open(res["report_path"]) as fh:
            report = json.load(fh)
        events = read_events(spark, res["out"])
        unsalted = (
            aggregate_signatures(events.filter(F.col("route") == "parse_ok"), salted=False)
            .select("signature", "count", "first_seen", "last_seen")
            .collect()
        )
        want_groups = {
            (r["signature"], r["count"],
             r["first_seen"].isoformat() if r["first_seen"] else None,
             r["last_seen"].isoformat() if r["last_seen"] else None)
            for r in unsalted
        }
        listed = report["unique_denials"]
        got_groups = {(g["signature"], g["count"], g["first_seen"], g["last_seen"]) for g in listed}
        # The report lists its top 1000 groups (json_report's cap); every
        # listed one must match the unsalted aggregate exactly.
        if (
            report["summary"]["total_groups"] != len(unsalted)
            or len(listed) != min(len(unsalted), 1000)
            or len(got_groups) != len(listed)
            or not got_groups <= want_groups
        ):
            problems.append("report groups differ from the unsalted aggregate")
        if report["summary"]["total_events"] != truth["route_rows"].get("parse_ok", 0):
            problems.append("report total_events differs from the parse_ok rows")
        walls = res["partition_walls"]
        return problems, {
            "parse.error_docs": sum(d[3] for d in after.values()),
            "aggregate.groups": len(unsalted),
            "analyzers.findings": len(report["findings"]),
            "sinks.report_bytes": os.path.getsize(res["report_path"]),
            "checkpoint.partition_s_p50": median(walls),
            "checkpoint.partition_s_max": walls[-1],
            "checkpoint.bytes_written": res["bytes_written"],
            **{f"pipeline.rows.{r}": routes.get(r, 0) for r in ("parse_ok", "malformed", "quarantine")},
        }


class Curate(Workload):
    """``run_pipeline --curate``: canonicalise, dedup, MinHash/LSH, resolve
    clusters, split, write."""

    name = "curate"
    size_attr = "n_orig"
    n_orig = 8000

    def generate(self, root, seed):
        return gen.gen_curate(root, seed, self.n_orig)

    def op(self, spark, tr, paths, truth, work):
        out = os.path.join(work, "curated")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span(ROOT):
            docs = spark.read.parquet(paths["docs"])
            with tr.span("functions", "curate_corpus"):
                kept = curate_corpus(docs).persist()
                kept.count()
            with tr.span("functions", "write_curated"):
                write_curated(kept, out)
            with tr.span("functions", "split_counts"):
                counts = {
                    r["split"]: r["n"]
                    for r in kept.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
                }
            kept.unpersist()
        wall = time.perf_counter() - t0
        written = dir_bytes(out)
        return {
            "wall_s": wall,
            "docs_per_s": truth["docs"] / wall,
            "write_bytes_per_input_byte": written / truth["input_bytes"],
            "audit_docs_parsed": 0,
            "counts": counts,
            "out": out,
            "bytes_written": written,
        }

    def check(self, spark, res, truth, work):
        problems = []
        kept = {r["doc_id"] for r in spark.read.parquet(res["out"]).select("doc_id").collect()}
        survivors = [c for _orig, c in truth["exact_sets"] if c in kept]
        if survivors:
            problems.append(f"{len(survivors)} planted exact copies survived, e.g. {survivors[:5]}")
        lost = [d for d in range(truth["originals"]) if d not in kept]
        if lost:
            problems.append(f"{len(lost)} originals dropped, e.g. {lost[:5]}")
        if sum(res["counts"].values()) != len(kept):
            problems.append("split counts disagree with the written corpus")
        return problems, {
            "functions.kept_docs": len(kept),
            "functions.bytes_written": res["bytes_written"],
        }


WORKLOADS = {w.name: w for w in (CrawlSparse(), DenialStorm(), CheckpointDays(), Curate())}
