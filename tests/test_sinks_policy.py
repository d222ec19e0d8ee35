"""Policy-event parse, sinks, resource subgroup tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avc_parser_spark.aggregate import (
    consolidate_resource_groups,
    resource_subgroups,
    stats_counters,
)
from avc_parser_spark.datagen import build_pages_df
from avc_parser_spark.enrich.join import signature_exprs
from avc_parser_spark.parse.policy import parse_policy_events
from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.pipeline import denial_groups
from avc_parser_spark.sinks import json_report, stats_report


@pytest.fixture(scope="module")
def events(spark):
    return signature_exprs(parse_pages(build_pages_df(spark, 1000))).cache()


def test_policy_events_parsed(spark):
    pages = build_pages_df(spark, 2000)
    pol = parse_policy_events(pages)
    rows = pol.collect()
    assert len(rows) > 0
    types = {r["rtype"] for r in rows}
    assert "MAC_POLICY_LOAD" in types and "MAC_STATUS" in types
    for r in rows:
        assert r["event_ts"] is not None
        if r["rtype"] == "MAC_STATUS":
            assert r["enforcing"] == "1" and r["old_enforcing"] == "0"
            assert r["auid"] is not None and r["auid"].isdigit()  # unknown(N) → N
        else:
            assert r["auid"] in ("500", "4294967295", "unset")


def test_policy_auid_forms(spark):
    df = spark.createDataFrame(
        [
            ("u1", "type=MAC_POLICY_LOAD msg=audit(1163776448.949:12869): policy loaded auid=500"),
            ("u2", "type=MAC_POLICY_LOAD msg=audit(1470675789.411:2): policy loaded auid=4294967295 ses=4294967295"),
            ("u3", "type=MAC_POLICY_LOAD msg=audit(1470675789.411:3): policy loaded auid=unset"),
            ("u4", "type=MAC_STATUS msg=audit(1470675789.411:4): enforcing=0 old_enforcing=1 auid=unknown(500)"),
        ],
        "url string, text string",
    )
    got = {r["url"]: r for r in parse_policy_events(df).collect()}
    assert got["u1"]["auid"] == "500"
    assert got["u2"]["auid"] == "4294967295"
    assert got["u3"]["auid"] == "unset"
    assert got["u4"]["auid"] == "500"
    assert got["u4"]["enforcing"] == "0"


def test_json_report_shape(spark, events):
    groups = denial_groups(events)
    report = json_report(groups)
    assert report["summary"]["total_groups"] == groups.count()
    assert report["summary"]["total_events"] == events.filter(
        F.col("route") == "parse_ok"
    ).count()
    # max_groups caps only the listing, not the totals
    capped = json_report(groups, max_groups=5)["summary"]
    assert capped["listed_groups"] == 5
    for key in ("total_groups", "total_events", "permissive_events"):
        assert capped[key] == report["summary"][key]
    d = report["unique_denials"][0]
    for key in ["log", "count", "first_seen", "last_seen", "permissions", "sesearch_command"]:
        assert key in d
    assert d["permissions"] == sorted(d["permissions"])
    import json as _json

    _json.dumps(report)  # must be serializable
    # the K4 timestamp contract must be produced from the event_ts
    # datetime-string form the report path actually emits (ADVICE r2)
    assert isinstance(d["log"].get("timestamp_float"), float)
    assert d["log"]["timestamp"] == d["log"]["timestamp_float"]


def test_cli_report_persists_groups_once(spark, tmp_path, monkeypatch):
    """run_pipeline --report hands the analyzers and the report ONE
    persisted group table, and unpersists it once the report is written."""
    import importlib.util
    import json
    import os
    import sys

    import avc_parser_spark.analyzers as analyzers
    import avc_parser_spark.sinks as sinks
    from avc_parser_spark.datagen.pages import write_pages_warehouse

    pages, out = str(tmp_path / "pages"), str(tmp_path / "out")
    write_pages_warehouse(spark, pages, 300)
    seen = []

    def recording(fn):
        def wrapper(groups, *args, **kwargs):
            seen.append((fn.__name__, groups, groups.is_cached))
            return fn(groups, *args, **kwargs)

        return wrapper

    monkeypatch.setattr(analyzers, "run_analyzers", recording(analyzers.run_analyzers))
    monkeypatch.setattr(sinks, "write_json_report", recording(sinks.write_json_report))
    monkeypatch.setattr(
        sys, "argv", ["run_pipeline.py", "--pages", pages, "--out", out, "--report"]
    )
    script = os.path.join(os.path.dirname(__file__), "..", "scripts", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline_cli", script)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    try:
        cli.main()
    finally:
        spark.sparkContext.setLogLevel("ERROR")

    assert [(name, cached) for name, _, cached in seen] == [
        ("run_analyzers", True),
        ("write_json_report", True),
    ]
    assert seen[0][1] is seen[1][1]
    assert not seen[0][1].is_cached
    with open(os.path.join(out, "report.json")) as fh:
        assert json.load(fh)["summary"]["total_groups"] > 0


def test_normalize_log_fields_event_ts_form():
    """event_ts strings are PySpark collect() renderings (driver-LOCAL tz
    via datetime.fromtimestamp); normalization must invert that rendering
    back to the exact epoch on any driver timezone."""
    import datetime as dt

    from avc_parser_spark.sinks import normalize_log_fields

    epoch = 1700000493.0
    rendered = str(dt.datetime.fromtimestamp(epoch))  # what collect() shows
    out = normalize_log_fields({"event_ts": rendered})
    assert out["timestamp_float"] == out["timestamp"] == epoch
    # numeric `timestamp` still wins over event_ts when both are present
    both = normalize_log_fields(
        {"timestamp": "1700000123.303", "event_ts": rendered}
    )
    assert both["timestamp_float"] == 1700000123.303


def test_stats_report(spark, events):
    stats = stats_report(events)
    assert stats["total_events"] > 0
    assert 1 <= len(stats["processes"]) <= 5
    assert stats["processes"][0]["count"] >= stats["processes"][-1]["count"]
    assert len(stats["object_classes"]) <= 8


def test_resource_subgroups_and_consolidation(spark, events):
    sub = resource_subgroups(events.filter(F.col("route") == "parse_ok"))
    rows = sub.collect()
    assert all(r["event_count"] >= 1 for r in rows)
    assert any(r["is_grouped"] for r in rows)  # hot paths repeat
    cons = consolidate_resource_groups(sub)
    crows = cons.collect()
    assert sum(r["total_events"] for r in crows) == sum(r["event_count"] for r in rows)


def test_stats_counters_single_pass(spark, events):
    ok = events.filter(F.col("route") == "parse_ok")
    cnt = stats_counters(ok).collect()
    # every row is a single-dimension rollup
    dims = ["comm", "sc_type", "tc_type", "tclass", "permission"]
    for r in cnt:
        non_null = sum(1 for d in dims if r[d] is not None)
        assert non_null == 1
    # comm rollup covers EVERY event (missing comm counts as 'unknown',
    # reference stats_formatter.py:48)
    comm_total = sum(r["cnt"] for r in cnt if r["comm"] is not None)
    assert comm_total == ok.count()
    if ok.filter(F.col("comm").isNull()).count() > 0:
        assert any(r["comm"] == "unknown" for r in cnt)


def test_brief_report(spark, events):
    from avc_parser_spark.sinks import brief_report

    groups = denial_groups(events)
    briefs = brief_report(groups, max_groups=10)
    assert 0 < len(briefs) <= 10
    b = briefs[0]
    for section in ["what", "when", "who", "where", "impact"]:
        assert section in b
    assert b["impact"]["events"] >= b["impact"]["permissive_events"]
    assert (
        b["impact"]["enforcing_blocked"]
        == b["impact"]["events"] - b["impact"]["permissive_events"]
    )


def test_contextual_enrichment(spark, events):
    from avc_parser_spark.enrich.join import enrich_events

    enr = enrich_events(events.filter(F.col("route") == "parse_ok"))
    rows = enr.select(
        "permission", "tclass", "contextual_analysis", "perm_context_description"
    ).collect()
    # every parse_ok row gets a contextual sentence (template or fallback)
    assert all(r["contextual_analysis"] for r in rows if r["permission"])
    # template rows vs composed fallback both present in this corpus
    assert any(
        "process attempted '" in r["contextual_analysis"] for r in rows
    ) or any("labeled" in r["contextual_analysis"] for r in rows)


def test_sealert_report(spark, events):
    from avc_parser_spark.sinks import sealert_report

    groups = denial_groups(events)
    reps = sealert_report(groups, max_groups=5)
    assert 0 < len(reps) <= 5
    r = reps[0]
    assert "attempted" in r["summary"] and "denied" in r["summary"]
    assert r["raw_audit_message"].startswith("type=")
    assert "avc:  denied  {" in r["raw_audit_message"]
    assert "scontext=" in r["raw_audit_message"]
    assert r["unique_pids"] >= 1
    assert r["sesearch_command"].startswith("sesearch -A -s ")


def test_normalize_log_fields_reference_parity():
    """Our K4 JSON normalization must reproduce the reference's
    formatters/json_formatter.py:normalize_json_fields output dict-for-dict
    across the type/decomposition matrix."""
    from tests.reference_loader import load_reference

    if load_reference() is None:
        pytest.skip("reference unavailable")
    import importlib

    jf = importlib.import_module("formatters.json_formatter")
    from avc_parser_spark.sinks import normalize_log_fields

    cases = [
        {"path": "var/www//html/./x", "pid": "123", "permissive": "1"},
        {"path": "  ", "ino": "99", "permissive": "0"},
        {"path": "/a/b/../c", "pid": "not-a-pid", "permissive": "maybe"},
        {"dest_port": "80"},
        {"dest_port": "5432"},
        {"dest_port": "99999"},
        {"dest_port": ":1.42"},
        {"scontext": "system_u:system_r:httpd_t:s0"},
        {"scontext": "system_u:system_r:httpd_t:s0-s0:c0.c1023",
         "tcontext": "system_u:object_r:var_t:s5:c1,c3.c5"},
        {"scontext": "invalidcontext", "tcontext": "a:b"},
        {"saddr": "saddr_fam=inet laddr=192.168.1.7 lport=80"},
        {"saddr": "saddr_fam=inet laddr=::1 lport=notnum"},
        {"saddr": "0200005000000000"},
        {"comm": "ht\x00tpd  x", "exe": " /usr/sbin/httpd ", "tclass": "file\x7f"},
        {"timestamp": "1700000123.303"},
        {"timestamp": "not-a-ts"},
        {"permission": "read", "denial_type": "AVC", "syscall": "openat"},
    ]
    for case in cases:
        expected = jf.normalize_json_fields(dict(case))
        ours = normalize_log_fields(
            dict(case),
            scontext_key="scontext",
            tcontext_key="tcontext",
            saddr_key="saddr",
        )
        assert ours == expected, f"case {case}:\nours={ours}\nref ={expected}"
