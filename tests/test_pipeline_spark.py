"""Spark end-to-end pipeline tests: routing goldens, aggregation equality,
physical-plan assertions (broadcast joins, no html read)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avc_parser_spark.datagen import build_pages_df
from avc_parser_spark.datagen.payload import route_for
from avc_parser_spark.enrich.join import signature_exprs
from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.pipeline import denial_groups, per_lang_hour_rollup, run_pipeline
from tests.reference_loader import load_reference

N_DOCS = 1200


@pytest.fixture(scope="module")
def events(spark):
    return parse_pages(build_pages_df(spark, N_DOCS)).cache()


def test_routed_row_sets_match_ground_truth(spark, events):
    """Per-sink routed-row sets — the north-rule golden."""
    got = {
        r["route"]: set(u["url"] for u in rows)
        for r, rows in []
    }
    rows = events.select("url", "route").distinct().collect()
    got: dict[str, set] = {}
    for r in rows:
        got.setdefault(r["route"], set()).add(r["url"])
    import re

    for route, urls in got.items():
        for url in urls:
            i = int(re.search(r"doc(\d+)$", url).group(1))
            assert route_for(i) == route, f"{url}: expected {route_for(i)}, got {route}"
    total = sum(len(v) for v in got.values())
    assert total == N_DOCS


def test_salted_equals_unsalted_groups(spark, events):
    from avc_parser_spark.aggregate import aggregate_signatures

    cols = ("signature", "count", "first_seen", "last_seen", "permissions")
    a = denial_groups(events).select(*cols).orderBy("signature").collect()
    parse_ok = signature_exprs(events.filter(F.col("route") == "parse_ok"))
    b = (
        aggregate_signatures(parse_ok, salted=False)
        .select(*cols)
        .orderBy("signature")
        .collect()
    )
    assert a == b
    assert len(a) > 0


def test_signature_components_match_reference(spark, events):
    """Smart-signature components equal the reference's categorizers."""
    ref = load_reference()
    if ref is None:
        pytest.skip("reference unavailable")
    sample = (
        signature_exprs(events.filter(F.col("route") == "parse_ok"))
        .select(
            "comm", "sc_type", "tclass", "permission", "path", "dest_port",
            "process_category", "permission_category", "object_group",
            "path_pattern",
        )
        .limit(300)
        .collect()
    )

    class Ctx:  # minimal stand-in for AvcContext (only .type is used)
        def __init__(self, t):
            self.type = t

    for r in sample:
        sc = Ctx(r["sc_type"]) if r["sc_type"] else None
        assert r["process_category"] == ref.get_process_category(r["comm"], sc), r
        assert r["permission_category"] == ref.get_permission_category(
            r["permission"], r["tclass"]
        ), r
        assert r["object_group"] == ref.get_object_group(r["tclass"]), r
        expected_pattern = ref.get_path_pattern(r["path"], r["tclass"])
        assert r["path_pattern"] == expected_pattern, (
            r["path"], r["tclass"], r["path_pattern"], expected_pattern,
        )


def test_lang_hour_rollup_consistency(spark, events):
    roll = per_lang_hour_rollup(events).agg(F.sum("events")).head()[0]
    ok = events.filter(
        (F.col("route") == "parse_ok") & F.col("event_ts").isNotNull()
    ).count()
    assert roll == ok


def test_broadcast_join_in_plan(spark, events):
    out = run_pipeline(build_pages_df(spark, 50))
    plan = out["enriched"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle-join


def test_html_column_pruned(spark):
    plan = parse_pages(build_pages_df(spark, 10))._jdf.queryExecution().executedPlan().toString()
    # the parse UDF input must not include the heavy html binary column
    import re

    m = re.search(r"Project \[([^\]]*)\]", plan)
    assert m and "html" not in m.group(1)


def test_extracted_text_nonnull_for_parse_ok(spark, events):
    bad = events.filter(
        (F.col("route") == "parse_ok") & F.col("extracted_text").isNull()
    ).count()
    assert bad == 0


def test_error_isolation_never_fails_job(spark, monkeypatch):
    """V4: a kernel crash on one document must quarantine that document,
    not abort the job (parse_avc.py:477-482 contract)."""
    import avc_parser_spark.parse.udf as udf_mod
    from avc_parser_spark.parse import kernels

    real = kernels.parse_pages_pdf

    def explode_on_marker(pdf, **kwargs):
        if pdf["text"].str.contains("BOOM_MARKER").any():
            raise RuntimeError("synthetic kernel crash")
        return real(pdf, **kwargs)

    monkeypatch.setattr(udf_mod, "parse_pages_pdf", explode_on_marker)
    df = spark.createDataFrame(
        [
            ("ok1", None, None, "type=AVC msg=audit(1.0:1): avc: denied { read } for pid=1 comm=x scontext=a:b:c tcontext=d:e:f tclass=file", "en"),
            ("bad", None, None, "type=AVC BOOM_MARKER", "en"),
            ("ok2", None, None, "type=AVC msg=audit(2.0:2): avc: denied { write } for pid=2 comm=y scontext=a:b:c tcontext=d:e:f tclass=file", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(1)
    rows = {r["url"]: r for r in udf_mod.parse_pages(df).collect()}
    assert rows["bad"]["route"] == "quarantine"
    assert rows["bad"]["parse_status"].startswith("PARSE_ERROR_")
    assert rows["ok1"]["route"] == "parse_ok"
    assert rows["ok2"]["route"] == "parse_ok"


def test_capped_sets_exact_below_cap(spark, events):
    """SET_CAP bounds group state; below the cap the sets must be exact."""
    from avc_parser_spark.aggregate import SET_CAP

    groups = denial_groups(events)
    ev_ok = signature_exprs(events.filter(F.col("route") == "parse_ok"))
    exact = {
        r["sig_id"]: sorted(p for p in r["perms"] if p is not None)
        for r in ev_ok.groupBy("sig_id")
        .agg(F.collect_set("permission").alias("perms"))
        .collect()
    }
    for r in groups.select("sig_id", "permissions", "count").collect():
        if r["count"] < SET_CAP:
            assert sorted(r["permissions"]) == exact[r["sig_id"]]


def test_hot_signature_salting_splits_state(spark):
    """The reference premise: one signature can be >50% of all events
    (10k raw -> ~20 groups). Salting must spread that hot key across
    NUM_SALTS partial states while keeping the final aggregate exact."""
    from pyspark.sql import functions as F2

    from avc_parser_spark.aggregate import NUM_SALTS, aggregate_signatures

    # 20k events, 90% in ONE signature
    base = spark.range(20000).select(
        F2.concat(F2.lit("u"), F2.col("id")).alias("url"),
        F2.lit("en").alias("lang"),
        F2.timestamp_seconds(1700000000 + F2.col("id")).alias("event_ts"),
        F2.concat(F2.lit("e"), F2.col("id")).alias("event_id"),
        F2.when(F2.col("id") % 10 < 9, "hot").otherwise(
            F2.concat(F2.lit("cold"), (F2.col("id") % 37).cast("string"))
        ).alias("signature"),
        F2.lit("read").alias("permission"),
        (F2.col("id") % 1000).cast("string").alias("pid"),
        F2.lit("httpd").alias("comm"),
        F2.lit("/var/www/x").alias("path"),
        F2.lit("file").alias("tclass"),
        F2.lit("0").alias("permissive"),
        F2.lit(None).cast("string").alias("dest_port"),
        F2.lit(None).cast("string").alias("proctitle"),
        F2.lit(None).cast("string").alias("exe"),
        F2.lit(None).cast("string").alias("path_type"),
        F2.lit(None).cast("string").alias("scontext_raw"),
        F2.lit(None).cast("string").alias("tcontext_raw"),
        F2.lit(None).cast("string").alias("sc_type"),
        F2.lit(None).cast("string").alias("tc_type"),
        F2.lit(None).cast("string").alias("denial_type"),
        F2.lit(None).cast("string").alias("syscall"),
        F2.lit(None).cast("string").alias("exit"),
        F2.lit(None).cast("string").alias("dbus_dest"),
        F2.lit(None).cast("string").alias("success"),
        F2.lit(None).cast("string").alias("cwd"),
        F2.lit(None).cast("string").alias("saddr"),
        F2.lit(None).cast("string").alias("saddr_struct"),
        F2.lit(None).cast("string").alias("execve_cmdline"),
    )
    ev = (
        base.withColumn("sig_id", F2.xxhash64("signature"))
        .withColumn("process_category", F2.lit("web"))
        .withColumn("sig_target", F2.lit("t"))
        .withColumn("object_group", F2.lit("filesystem"))
        .withColumn("sig_extra", F2.lit("p"))
        .withColumn("permission_category", F2.lit("file_access"))
    )

    groups = {r["signature"]: r for r in aggregate_signatures(ev).collect()}
    assert groups["hot"]["count"] == 18000
    assert sum(r["count"] for r in groups.values()) == 20000
    # distinct salts actually used for the hot key (stage-1 state spread)
    salts = (
        ev.filter(F2.col("signature") == "hot")
        .select(F2.pmod(F2.xxhash64("url"), F2.lit(NUM_SALTS)).alias("s"))
        .distinct()
        .count()
    )
    assert salts == NUM_SALTS
    # capped sets stay bounded on the hot group
    assert len(groups["hot"]["pids"]) <= 128


def test_parse_pages_equals_kernel_reference(spark):
    """parse_pages (native pregate, mapInArrow, JVM-built extracted_text)
    must equal the kernel run directly on the raw pages in pandas, with the
    kernel building extracted_text itself, across all 44 columns. Every
    doc carries a non-audit block the pregate drops, and one carries its
    control bytes only there, so this also pins the pregate."""
    import re

    from avc_parser_spark.parse.kernels import parse_pages_pdf
    from avc_parser_spark.parse.udf import EVENT_SCHEMA_DDL

    avc = (
        "type=AVC msg=audit(1.0:1): avc: denied { read } for pid=1 comm=x "
        "scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    # control bytes only in a filler block the pregate drops
    extra = spark.createDataFrame(
        [("ctrl_in_filler", None, None, avc + "\n----\nprose \x07 here", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    pages = build_pages_df(spark, 800).unionByName(extra).cache()
    raw = pages.toPandas()[["url", "warc_ts", "text", "lang"]]
    audit = re.compile(r"type=\w+|msg=audit|avc:")
    assert all(
        any(not audit.search(b) for b in text.split("----")) for text in raw["text"]
    )
    assert raw["text"].str.contains("[\x00-\x08\x0b\x0c\x0e-\x1f]").sum() > 1

    got = parse_pages(pages)
    ref = spark.createDataFrame(parse_pages_pdf(raw), EVENT_SCHEMA_DDL)
    assert got.columns == ref.columns and len(got.columns) == 44
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in ref.collect())
    assert a == b
    assert len({r[0] for r in a}) == 801
    assert {r[3] for r in a if r[0] == "ctrl_in_filler"} == {"quarantine"}


def test_permission_category_table(spark):
    """E9 permission categories: every (group, permission) row of the dim
    table, for every tclass of its group, plus the per-group fallbacks and
    the bare-permission default."""
    from avc_parser_spark.enrich.dims import (
        FILESYSTEM_CLASSES,
        NETWORK_PERM_CLASSES,
        PERM_CATEGORY_ROWS,
    )
    from avc_parser_spark.enrich.join import permission_category_expr

    group_classes = {
        "fs": FILESYSTEM_CLASSES,
        "net": NETWORK_PERM_CLASSES,
        "capability": ["capability", "capability2"],
    }
    cases = [
        (perm, tclass, category)
        for group, perm, category in PERM_CATEGORY_ROWS
        for tclass in group_classes.get(group, [group])
    ]
    assert len(cases) == 169
    cases += [
        ("ioctl", "file", "file_ioctl"),
        ("accept", "tcp_socket", "net_accept"),
        ("fork", "process", "process_fork"),
        ("x", "dbus", "dbus_x"),
        ("x", "key", "key_x"),
        ("x", "capability2", "capability_x"),
        ("x", "security", "security_x"),
        ("read", "no_such_class", "read"),
        ("read", None, "read"),
    ]
    df = spark.createDataFrame(
        cases, "permission string, tclass string, want string"
    ).select(
        "permission",
        "tclass",
        "want",
        permission_category_expr().alias("got"),
    )
    bad = [tuple(r) for r in df.collect() if r["got"] != r["want"]]
    assert bad == []


_SIGN_INPUT_DDL = (
    "comm string, sc_type string, tclass string, permission string, "
    "path string, tcontext_raw string, tc_type string, dest_port string"
)


def _signed_mismatches(spark, cases, fields, component):
    """Rows of ``cases`` (``fields`` values + expected value) whose
    signature_exprs ``component`` column differs from the expected one."""
    cols = [c.split()[0] for c in _SIGN_INPUT_DDL.split(", ")]
    rows = [
        tuple(dict(zip(fields, case[:-1])).get(c) for c in cols) + (case[-1],)
        for case in cases
    ]
    df = signature_exprs(
        spark.createDataFrame(rows, _SIGN_INPUT_DDL + ", want string")
    )
    return [
        (*[r[f] for f in fields], r["want"], r[component])
        for r in df.collect()
        if r[component] != r["want"]
    ]


def test_process_category_table(spark):
    """E8 process categories: every exact service mapping (ahead of the
    substring rules and the domain split), the five substring rules (ahead
    of the split), the four-domain `*_t` split and the service_<comm>
    default."""
    from avc_parser_spark.enrich.dims import SERVICE_MAPPINGS

    cases = [(c, "unconfined_t", cat) for c, cat in SERVICE_MAPPINGS]
    cases += [(c, None, cat) for c, cat in SERVICE_MAPPINGS]
    cases += [
        (None, "init_t", "unknown"),
        ("", "init_t", "unknown"),
        ("my-httpd-worker", "unconfined_t", "web_server_apache"),
        ("nginx-reload", "init_t", "web_server_nginx"),
        ("xpostgres", "user_t", "database_postgresql"),
        ("mysql-cli", "admin_t", "database_mysql"),
        ("xsshd", None, "ssh_daemon"),
        ("foo", "unconfined_t", "unconfined_foo"),
        ("foo", "init_t", "init_foo"),
        ("foo", "user_t", "user_foo"),
        ("foo", "admin_t", "admin_foo"),
        ("foo", "httpd_t", "service_foo"),
        ("foo", None, "service_foo"),
        ("it's \\x", "staff_t", "service_it's \\x"),
    ]
    assert _signed_mismatches(
        spark, cases, ("comm", "sc_type"), "process_category"
    ) == []


def test_object_group_table(spark):
    """E10 object groups: every member of the four class lists, first
    list wins, and the tclass itself (or NULL) otherwise."""
    from avc_parser_spark.enrich.dims import (
        FS_OBJECT_CLASSES,
        IPC_CLASSES,
        NETWORK_OBJECT_CLASSES,
        SYSTEM_CLASSES,
    )

    ordered = [
        (FS_OBJECT_CLASSES, "filesystem"),
        (NETWORK_OBJECT_CLASSES, "network"),
        (IPC_CLASSES, "ipc"),
        (SYSTEM_CLASSES, "system"),
    ]
    members = dict.fromkeys(c for classes, _ in ordered for c in classes)
    cases = [
        (c, next(group for classes, group in ordered if c in classes))
        for c in members
    ]
    cases += [("dbus", "dbus"), ("key", "key"), (None, None)]
    assert _signed_mismatches(spark, cases, ("tclass",), "object_group") == []


def test_path_pattern_table(spark):
    """E11 path patterns: one path per PATH_PATTERNS row that no earlier
    row matches, for file/dir/NULL tclass; the no-path literals; dev:
    inodes; and the file dirname, partial-dir, dir and bare fallbacks."""
    import re

    from avc_parser_spark.enrich.dims import PATH_PATTERNS

    cases = []
    for i, (pattern, replacement) in enumerate(PATH_PATTERNS):
        path = (
            replacement.replace("(/.*)?", "/f")
            .replace("[^/]+", "u")
            .replace("*/...", "abc/f")
        )
        first = next(j for j, (p, _) in enumerate(PATH_PATTERNS) if re.search(p, path))
        assert first == i, (path, PATH_PATTERNS[first])
        cases += [(path, t, replacement) for t in ("file", "dir", None)]
    cases += [(p, "file", "no_path") for p in (None, "?", '"?"', "unknown", "")]
    cases += [
        ("dev:fd0", "chr_file", "dev_inode"),
        ("/usr/local/app/x.conf", "file", "/usr/local/app/*"),
        ("/data", "file", "/data"),
        ("x.conf", "file", "x.conf"),
        ("...partial", "dir", "/var/local/log(/.*)?"),
        ("/usr/local/app", "dir", "/usr/local/app/*"),
        ("/usr/local/app/s", "sock_file", "/usr/local/app/s"),
        ("/usr/local/it's\\x/f", "file", "/usr/local/it's\\x/*"),
    ]
    assert _signed_mismatches(spark, cases, ("path", "tclass"), "path_pattern") == []


def test_sql_str_round_trips(spark):
    """sql_str literals parse back to exactly the Python string: quotes,
    backslashes (the parser unescapes them), `${...}` (variable
    substitution rewrites it before parsing), the signature joiner, regex
    metacharacters, control bytes and non-BMP text."""
    from avc_parser_spark.sqltext import sql_str

    cases = [
        "it's", "a\\b", "\\'", "'\\", "''", '"?"', "␟", "$1 \\1 ${x}",
        r"^[^:]+:(.*)$|\w+.*?()[]{}", "".join(map(chr, range(1, 32))),
        "\\u0041\\n\\t\\%\\_", "/* x */ -- y", "😀 𝄞 non-BMP", "",
        "${spark.app.name}", "${env:HOME}", "\\${x}", "$\\u0024{x}",
    ]
    got = spark.range(1).selectExpr(
        *(f"{sql_str(s)} AS c{i}" for i, s in enumerate(cases))
    ).head()
    assert list(got) == cases


def _py4j_calls(build):
    """py4j round trips that ``build()`` makes on this thread. py4j sends
    the releases of dead Java references from a thread of its own; those
    are left out, and garbage collection is paused while ``build`` runs."""
    import gc
    import threading

    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command
    me = threading.get_ident()
    calls = 0

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()
    GatewayClient.send_command = counting
    try:
        build()
    finally:
        GatewayClient.send_command = send
        gc.enable()
    return calls


def test_headline_build_round_trips(spark):
    """The signature and group expressions are parsed from SQL text, one
    py4j call per expression. Measured: 96 calls to build
    signature_exprs(parse_pages(pages)) and 280-400 for
    denial_groups(events); built as per-node Column chains they took about
    6,000 and 7,000."""
    pages = build_pages_df(spark, 20)
    denial_groups(parse_pages(pages))  # warm the one-off imports and caches
    assert _py4j_calls(lambda: signature_exprs(parse_pages(pages))) <= 150
    events = parse_pages(pages)
    assert _py4j_calls(lambda: denial_groups(events)) <= 500


def test_shuffle_width_is_one_partition_per_core(spark):
    """get_spark sets one shuffle partition per core unless a width is
    already set."""
    from avc_parser_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    try:
        spark.conf.unset(key)
        assert get_spark(master="local[8]").conf.get(key) == "8"
        spark.conf.unset(key)
        assert get_spark(master="local[8]", extra_conf={key: "3"}).conf.get(key) == "3"
        assert get_spark(master="local[8]").conf.get(key) == "3"
    finally:
        spark.conf.set(key, "8")


def test_shuffle_width_does_not_outlive_its_session():
    """A width passed through extra_conf holds for that session only: the
    next session built in the same process after stop() gets one partition
    per core again. Runs in a subprocess, since it stops its sessions."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from avc_parser_spark.session import get_spark\n"
        "key = 'spark.sql.shuffle.partitions'\n"
        "s = get_spark(master='local[3]', extra_conf={key: '7'})\n"
        "first = s.conf.get(key)\n"
        "s.stop()\n"
        "s = get_spark(master='local[3]')\n"
        "print('widths', first, s.conf.get(key))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    ).stdout
    assert out.split("widths", 1)[1].split() == ["7", "3"]
