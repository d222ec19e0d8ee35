"""Analyzer/detector/filter/sort/checkpoint tests."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from avc_parser_spark.analyzers import detector_flags, run_analyzers
from avc_parser_spark.datagen import build_pages_df
from avc_parser_spark.filters import (
    filter_path,
    filter_process,
    filter_since_until,
    parse_time_spec,
)
from avc_parser_spark.parse.udf import parse_pages
from avc_parser_spark.pipeline import denial_groups
from avc_parser_spark.sorts import sort_groups


@pytest.fixture(scope="module")
def groups(spark):
    events = parse_pages(build_pages_df(spark, 1500))
    return denial_groups(events).cache()


def test_detector_flags(spark, groups):
    flagged = detector_flags(groups)
    rows = flagged.select(
        "permissions", "flag_dontaudit", "flag_permissive",
        "flag_container_paths", "flag_custom_paths", "paths",
    ).collect()
    assert any(r["flag_dontaudit"] for r in rows)  # noatsecure etc. planted
    assert any(r["flag_permissive"] for r in rows)
    assert any(r["flag_container_paths"] for r in rows)  # /var/lib/containers
    assert any(r["flag_custom_paths"] for r in rows)  # /opt/app
    for r in rows:  # flag implies evidence
        if r["flag_dontaudit"]:
            assert any(
                p in ("noatsecure", "rlimitinh", "siginh")
                for perm in r["permissions"]
                for p in perm.split()
            ) or any(p in ("noatsecure", "rlimitinh", "siginh") for p in r["permissions"])


def test_run_analyzers_produces_findings(spark, groups):
    findings = run_analyzers(groups).collect()
    titles = [f["title"] for f in findings]
    # datagen plants unlabeled_t targets and setfiles relabeling denials
    assert any("unlabeled_t" in t for t in titles)
    for f in findings:
        assert f["severity"] in ("CRITICAL", "WARNING", "INFO")
        # richness: every finding carries hints, evidence and (except AN6,
        # which aggregates across reload windows) the affected sig ids
        assert len(f["hints"]) > 0
        assert len(f["evidence"]) > 0
        if f["category"] != "recurrence":
            assert f["affected_groups"] == 0 or len(f["affected_sigs"]) > 0
            assert len(f["affected_sigs"]) <= 128


GROUP_SCHEMA = (
    "sig_id bigint, count bigint, first_seen timestamp, last_seen timestamp, "
    "permissions array<string>, permissives array<string>, paths array<string>, "
    "representative struct<sc_type: string, tc_type: string, "
    "scontext_raw: string, tcontext_raw: string, comm: string, permissive: string>"
)


def _hand_groups(spark):
    """A group table that fires AN2, AN3, AN4 and two AN5 targets (one with
    a null t_type), next to near misses of every rule."""
    ts = datetime(2025, 9, 4, 12, 0, 0)
    rows = []

    def add(s_type, t_type, comm, perms=("read",), count=1, s_mls="s0", t_mls="s0"):
        tcon = None if t_type is None else f"system_u:object_r:{t_type}:{t_mls}"
        rep = (s_type, t_type, f"system_u:system_r:{s_type}:{s_mls}", tcon, comm, "0")
        rows.append((len(rows) + 1, count, ts, ts, list(perms), ["0"], ["/x"], rep))

    # AN2: six core types at s15 from s0 sources; boot_t's source is at s2
    for t in ["etc_t", "lib_t", "bin_t", "usr_t", "var_t"]:
        add("httpd_t", t, "httpd", count=2, t_mls="s15:c0.c1023")
    add("httpd_t", "root_t", "httpd", s_mls="s0-s15:c0.c1023", t_mls="s15")
    add("httpd_t", "boot_t", "httpd", s_mls="s2", t_mls="s15")
    # AN3: three relabel denials (one without a comm); semanage only reads
    add("setfiles_t", "file_t", "setfiles", perms=("relabelfrom",), count=4)
    add("restorecon_t", "default_t", "restorecon", perms=("read", "relabelto"))
    add("load_policy_t", "default_t", None, perms=("relabelto",))
    add("semanage_t", "etc_t", "semanage")
    # AN4: six boot services, only the first five listed; AN1 near miss
    for s_type, t_type, comm in [
        ("init_t", "lib_t", "init"), ("kmod_t", "bin_t", "kmod"),
        ("mount_t", "etc_t", "mount"), ("udev_t", "boot_t", "udevd"),
        ("systemd_t", "root_t", "systemd"), ("lvm_t", "unlabeled_t", "lvm"),
    ]:
        add(s_type, t_type, comm, count=3)
    # AN5: ten sources on shadow_t and on a null target; nine on passwd_t
    for i in range(10):
        add(f"src{i}_t", "shadow_t", f"s{i}", count=i + 1)
        add(f"nsrc{i}_t", None, f"n{i}")
    add("src0_t", "shadow_t", "s0")
    for i in range(9):
        add(f"src{i}_t", "passwd_t", f"p{i}")
    return spark.createDataFrame(rows, GROUP_SCHEMA)


def _findings(rows):
    """Every column of every finding, order-free, as JSON values."""
    rows = [tuple(r)[:8] + (sorted(r["evidence"].items()),) for r in rows]
    return json.loads(json.dumps(sorted(rows)))


# Two reloads inside the fixture's time range (18:19-18:44 on 2025-09-04)
AN6_LOADS = [datetime(2025, 9, 4, 18, 25), datetime(2025, 9, 4, 18, 30)]

HINT_SYSTEMIC = [
    "many sources denied on one target usually means the TARGET is mislabeled",
    "verify the expected label: matchpathcon <path>",
]
EXPECTED_HAND = [
    ["CRITICAL", "boot_impact", "Boot-blocking denials detected", 6, 18,
     "services: init,kmod,lvm,mount,systemd", [12, 13, 14, 15, 16, 17],
     ["inspect early-boot denials: journalctl -b -t audit",
      "if boot is blocked, consider enforcing=0 on the kernel cmdline while fixing policy"],
     [["services", "init,kmod,lvm,mount,systemd"]]],
    ["CRITICAL", "labeling", "MLS labeling inconsistency: system files at wrong level", 6, 11,
     "6 core types labeled s15 vs s0 sources", [1, 2, 3, 4, 5, 6],
     ["filter groups with --target unlabeled_t to inspect the denials",
      "run: fixfiles -v check", "run: rpm -V selinux-policy-*"],
     [["wrong_level_types", "6"]]],
    ["CRITICAL", "relabeling", "Relabeling tools are being denied", 3, 6,
     "tools: restorecon,setfiles", [8, 9, 10],
     ["check file-context rules: semanage fcontext -l",
      "complete the relabel: restorecon -Rv <path> (or touch /.autorelabel)"],
     [["tools", "restorecon,setfiles"]]],
    ["WARNING", "systemic", "Systemic issue: 10 processes denied on None", 10, 10,
     "target=None mls=None", [19, 21, 23, 25, 27, 29, 31, 33, 35, 37], HINT_SYSTEMIC,
     [["sources", "10"], ["target", "None"]]],
    ["WARNING", "systemic", "Systemic issue: 10 processes denied on shadow_t", 11, 56,
     "target=shadow_t mls=s0", [18, 20, 22, 24, 26, 28, 30, 32, 34, 36, 38], HINT_SYSTEMIC,
     [["sources", "10"], ["target", "shadow_t"]]],
]


def test_run_analyzers_pinned_on_fixture(spark, groups):
    """All columns of every finding on the generated groups, with and
    without two policy reloads (AN6), as captured before AN1-AN5 became
    one aggregate (tests/fixtures/analyzer_findings.json)."""
    with open(os.path.join(os.path.dirname(__file__), "fixtures", "analyzer_findings.json")) as fh:
        expected = json.load(fh)
    assert _findings(run_analyzers(groups).collect()) == expected["fixture"]
    loads = spark.createDataFrame([(t,) for t in AN6_LOADS], "event_ts timestamp")
    assert (
        _findings(run_analyzers(groups, policy_loads=loads).collect())
        == expected["fixture_an6"]
    )


def test_run_analyzers_pinned_on_hand_table(spark):
    """All columns of every finding on a hand-built table, with the AN5
    findings in (t_type, t_mls) order, nulls first; an empty table gives
    no findings."""
    rows = run_analyzers(_hand_groups(spark)).collect()
    assert _findings(rows) == EXPECTED_HAND
    assert [r["title"] for r in rows if r["category"] == "systemic"] == [
        "Systemic issue: 10 processes denied on None",
        "Systemic issue: 10 processes denied on shadow_t",
    ]
    assert run_analyzers(spark.createDataFrame([], GROUP_SCHEMA)).collect() == []


def test_run_analyzers_jobs(spark, groups):
    """AN1-AN5 are one aggregate over the group table: with the groups
    persisted and materialised, the analyzers run at most 2 Spark jobs
    (map stage + result stage)."""
    groups.count()
    sc = spark.sparkContext
    sc.setJobGroup("analyzer-jobs", "run_analyzers")
    try:
        findings = run_analyzers(groups)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("analyzer-jobs")
    assert 0 < len(jobs) <= 2
    assert findings.count() == 2


def test_filter_process(spark, groups):
    out = filter_process(groups, "httpd,mysqld").select("comms").collect()
    assert len(out) > 0
    for r in out:
        joined = ",".join(c.lower() for c in r["comms"])
        assert "httpd" in joined or "mysqld" in joined
    assert filter_process(groups, "nosuchprocess").count() == 0


def test_filter_path_glob(spark, groups):
    out = filter_path(groups, "/var/www/*").select("paths").collect()
    assert len(out) > 0
    for r in out:
        assert any(p.startswith("/var/www/") for p in r["paths"])


def test_filter_path_glob_anchored(spark, groups):
    # fnmatch fullmatches: a non-prefix glob must not match mid-string even
    # though Spark rlike has find() semantics ('var/*' vs '/var/www/x')
    assert filter_path(groups, "var/*").count() == 0
    assert filter_path(groups, "*www*").count() > 0


def test_time_spec_parsing():
    now = datetime(2025, 9, 4, 12, 0, 0)
    assert parse_time_spec("now", now) == now
    assert parse_time_spec("today", now) == datetime(2025, 9, 4)
    assert parse_time_spec("yesterday", now) == datetime(2025, 9, 3)
    assert parse_time_spec("2 hours ago", now) == datetime(2025, 9, 4, 10)
    assert parse_time_spec("2025-09-04 11:30", now) == datetime(2025, 9, 4, 11, 30)
    with pytest.raises(ValueError):
        parse_time_spec("gibberish", now)


def test_filter_since_until(spark, groups):
    lo = groups.agg(F.min("last_seen")).head()[0]
    hi = groups.agg(F.max("last_seen")).head()[0]
    mid = lo + (hi - lo) / 2
    kept = filter_since_until(groups, since=mid.strftime("%Y-%m-%d %H:%M:%S")).count()
    assert 0 < kept < groups.count()


def test_sort_orders(spark, groups):
    recent = sort_groups(groups, "recent").select("last_seen").collect()
    assert [r["last_seen"] for r in recent] == sorted(
        (r["last_seen"] for r in recent), reverse=True
    )
    by_count = sort_groups(groups, "count").select("count").collect()
    assert [r["count"] for r in by_count] == sorted(
        (r["count"] for r in by_count), reverse=True
    )
    with pytest.raises(ValueError):
        sort_groups(groups, "bogus")


def test_checkpoint_resume(spark, tmp_path):
    from avc_parser_spark.checkpoint import read_events, run_with_checkpoints
    from avc_parser_spark.datagen.pages import write_pages_warehouse

    pages_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "out")
    write_pages_warehouse(spark, pages_path, 400)

    r1 = run_with_checkpoints(spark, pages_path, out_path)
    assert r1["processed"] and not r1["skipped"]
    total1 = read_events(spark, out_path).count()

    # resume: nothing reprocessed, identical output
    r2 = run_with_checkpoints(spark, pages_path, out_path)
    assert not r2["processed"]
    assert sorted(r2["skipped"]) == sorted(r1["processed"])
    assert read_events(spark, out_path).count() == total1

    # lineage metrics present
    for entry in r1["manifest"].values():
        assert entry["input_rows"] > 0
        assert entry["output_rows"] >= entry["routed_rows"].get("parse_ok", 0)
        assert "input_fingerprint" in entry and "wall_sec" in entry


def test_checkpoint_partial_write_recovery(spark, tmp_path):
    """A crash between the event write and the manifest commit must cause
    that partition to be reprocessed on the next run (manifest rename is
    the commit point)."""
    import os

    from avc_parser_spark.checkpoint import (
        MANIFEST_DIR,
        read_events,
        run_with_checkpoints,
    )
    from avc_parser_spark.datagen.pages import write_pages_warehouse

    pages_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "out")
    write_pages_warehouse(spark, pages_path, 300)

    r1 = run_with_checkpoints(spark, pages_path, out_path)
    part = r1["processed"][0]
    total = read_events(spark, out_path).count()

    # simulate the crash: output exists but the manifest entry is gone
    os.remove(os.path.join(out_path, MANIFEST_DIR, f"{part}.json"))
    r2 = run_with_checkpoints(spark, pages_path, out_path)
    assert part in r2["processed"]  # reprocessed, not skipped
    assert read_events(spark, out_path).count() == total  # idempotent

    # and a changed input fingerprint also forces reprocessing
    write_pages_warehouse(spark, pages_path, 330, overwrite=True)
    r3 = run_with_checkpoints(spark, pages_path, out_path)
    assert part in r3["processed"]


def test_checkpoint_commit_syncs_manifest_dir(tmp_path, monkeypatch):
    """The manifest commit fsyncs the file before the rename and the
    _manifest/ directory after it, so a power loss cannot undo the
    rename."""
    import os
    import stat

    from avc_parser_spark import checkpoint
    from avc_parser_spark.checkpoint import MANIFEST_DIR

    mdir = tmp_path / MANIFEST_DIR
    mdir.mkdir()
    committed = mdir / "d1.json"
    synced = []
    real_fsync = os.fsync

    def recording_fsync(fd):
        st = os.fstat(fd)
        synced.append((stat.S_ISDIR(st.st_mode), st.st_ino, committed.exists()))
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    checkpoint._commit(str(tmp_path), {"partition": "d1", "output_rows": 1})
    assert synced == [
        (False, committed.stat().st_ino, False),  # the temp file, pre-rename
        (True, mdir.stat().st_ino, True),  # the directory, post-rename
    ]
    assert json.loads(committed.read_text())["output_rows"] == 1


AUDIT_BLOCK = (
    "type=AVC msg=audit(1700000000.100:{i}): avc:  denied  {{ read }} "
    "for pid={i} comm=c{i} scontext=u:r:t:s0 tcontext=u:r:f:s0 "
    "tclass=file\n"
)


def _checkpoint_source(spark, tmp_path, kind):
    """A small input for one checkpointed front door. Returns
    run(out) -> result, files(part) -> the unit's input files, and
    read(part) -> the unit's input frame as the loop reads it."""
    import glob
    import os

    from avc_parser_spark.checkpoint import (
        run_audit_logs_with_checkpoints,
        run_with_checkpoints,
    )

    if kind == "pages":
        from avc_parser_spark.datagen.pages import write_pages_warehouse

        root = str(tmp_path / "pages")
        write_pages_warehouse(spark, root, 200)

        def unit_dir(part):
            return os.path.join(root, f"warc_date={part}")

        return (
            lambda out: run_with_checkpoints(spark, root, out),
            lambda part: glob.glob(os.path.join(unit_dir(part), "*.parquet")),
            lambda part: spark.read.parquet(unit_dir(part)),
        )

    from avc_parser_spark.sources import read_audit_logs

    logs = tmp_path / "logs"
    logs.mkdir()
    # day1 is all parse_ok; day2 adds a malformed block (one malformed line)
    (logs / "day1.log").write_text(
        "----\n" + AUDIT_BLOCK.format(i=1) + "----\n" + AUDIT_BLOCK.format(i=2)
    )
    (logs / "day2.log").write_text(
        "----\n" + AUDIT_BLOCK.format(i=3) + "----\ntype=AVC msg=audit(bogus\n"
    )
    return (
        lambda out: run_audit_logs_with_checkpoints(spark, str(logs), out),
        lambda part: [str(logs / part.removeprefix("log-"))],
        lambda part: read_audit_logs(spark, str(logs / part.removeprefix("log-"))),
    )


@pytest.mark.parametrize("kind", ["pages", "audit_logs"])
def test_checkpoint_detects_in_place_rewrite(spark, tmp_path, kind):
    """An input file rewritten IN PLACE with identical name+size within the
    same second must still invalidate the unit fingerprint (mtime_ns is
    part of it)."""
    import os

    run, files, _ = _checkpoint_source(spark, tmp_path, kind)
    out_path = str(tmp_path / "out")
    r1 = run(out_path)
    part = r1["processed"][0]

    f = files(part)[0]
    st = os.stat(f)
    with open(f, "rb") as fh:
        data = fh.read()
    with open(f, "r+b") as fh:
        fh.write(data)
    # keep the whole second, move only the sub-second part of the mtime
    sec, frac = divmod(st.st_mtime_ns, 10**9)
    os.utime(f, ns=(st.st_atime_ns, sec * 10**9 + (frac + 500_000_000) % 10**9))
    st2 = os.stat(f)
    assert st2.st_size == st.st_size and int(st2.st_mtime) == int(st.st_mtime)
    assert st2.st_mtime_ns != st.st_mtime_ns

    r2 = run(out_path)
    assert part in r2["processed"]  # reprocessed despite same name+size


@pytest.mark.parametrize("kind", ["pages", "audit_logs"])
def test_checkpoint_manifest_counts_match_read_back(spark, tmp_path, kind):
    """The manifest's observed metrics equal counts read back from the
    unit's input and from the events table the loop wrote."""
    import os

    run, _, read = _checkpoint_source(spark, tmp_path, kind)
    out_path = str(tmp_path / "out")
    r = run(out_path)
    assert r["processed"]
    for part, entry in r["manifest"].items():
        written = spark.read.parquet(os.path.join(out_path, "events", f"warc_date={part}"))
        routed = {x["route"]: x["count"] for x in written.groupBy("route").count().collect()}
        assert entry["input_rows"] == read(part).count()
        assert entry["routed_rows"] == routed  # zero-row routes left out
        assert entry["output_rows"] == written.count()
        malformed = written.agg(F.sum("malformed_lines")).first()[0] or 0
        assert entry["malformed_lines"] == malformed
    if kind == "audit_logs":
        assert r["manifest"]["log-day1.log"]["routed_rows"] == {"parse_ok": 2}
        assert r["manifest"]["log-day2.log"]["malformed_lines"] == 1


def test_checkpoint_jobs_per_partition(spark, tmp_path):
    """The observed metrics fill during the events write: a processed
    partition runs at most 2 Spark jobs (parquet schema read + write),
    with no count() or read-back job."""
    from avc_parser_spark.checkpoint import run_with_checkpoints
    from avc_parser_spark.datagen.pages import write_pages_warehouse

    pages_path = str(tmp_path / "pages")
    write_pages_warehouse(spark, pages_path, 300)
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-jobs", "run_with_checkpoints")
    try:
        r = run_with_checkpoints(spark, pages_path, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint-jobs")
    assert r["processed"]
    assert 0 < len(jobs) <= 2 * len(r["processed"])
