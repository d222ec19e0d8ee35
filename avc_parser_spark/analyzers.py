"""Cross-group analyzers & per-group detectors (reference §2.7), as native
DataFrame expressions over the (small) group-aggregate table. The detectors
are flag columns; AN1-AN5 are one aggregate read once, with the findings
built as Python rows.

Findings are severity/category-tagged rows; thresholds mirror the reference:
  D1  dontaudit-disabled        detectors/anomaly_detector.py:169-229
  D2  permissive events         detectors/anomaly_detector.py:10-27
  D3  container paths           detectors/anomaly_detector.py:30-81
  D4  custom paths              detectors/anomaly_detector.py:84-135
  AN1 widespread unlabeled_t    analyzers/labeling.py:19-51  (≥3 groups or ≥10 events)
  AN2 MLS inconsistency         analyzers/labeling.py:54-93  (≥5 core types @s15 vs s0)
  AN3 relabeling tools denied   analyzers/relabeling.py:10-49
  AN4 boot-blocking             analyzers/boot_impact.py:6-57
  AN5 systemic pattern          analyzers/patterns.py:7-49   (≥10 sources on one target)
  AN6 recurrence across reloads analyzers/recurrence.py:10-71
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from avc_parser_spark.sqltext import sql_in, sql_str

DONTAUDIT_INDICATORS = ["noatsecure", "rlimitinh", "siginh"]

CONTAINER_PATH_PATTERNS = [
    "/containers/storage/overlay/",
    "/.local/share/containers/",
    "/var/lib/containers/",
    "/var/lib/docker/",
]

CUSTOM_PATH_PREFIXES = [
    "/usr/local", "/opt", "/home/", "/srv", "/data", "/app", "/apps",
    "/software", "/custom", "/local", "/var/local",
]

RELABELING_TYPES = ["semanage_t", "setfiles_t", "restorecon_t", "load_policy_t"]
RELABEL_PERMISSIONS = ["relabelfrom", "relabelto"]

BOOT_CRITICAL_TYPES = [
    "init_t", "kmod_t", "mount_t", "systemd_modules_load_t", "udev_t",
    "fsadm_t", "lvm_t", "plymouthd_t", "systemd_t", "systemd_sysctl_t",
    "systemd_tmpfiles_t",
]
ESSENTIAL_TARGET_TYPES = [
    "fixed_disk_device_t", "removable_device_t", "modules_dep_t",
    "modules_conf_t", "lib_t", "bin_t", "etc_t", "root_t", "ld_so_cache_t",
    "boot_t", "unlabeled_t",
]

CORE_SYSTEM_TYPES = [
    "etc_t", "lib_t", "bin_t", "usr_t", "var_t", "root_t", "boot_t",
    "modules_object_t", "ld_so_cache_t",
]

FINDINGS_SCHEMA = (
    "severity string, category string, title string, "
    "affected_groups bigint, total_events bigint, detail string, "
    "affected_sigs array<bigint>, hints array<string>, "
    "evidence map<string,string>"
)

# Canned investigation hints per rule (reference findings carry these as
# investigation_hints, analyzers/*.py; relational sig ids replace the
# reference's positional group indices — stable under any row order).
HINTS = {
    "labeling": [
        "filter groups with --target unlabeled_t to inspect the denials",
        "run: fixfiles -v check",
        "run: rpm -V selinux-policy-*",
    ],
    "relabeling": [
        "check file-context rules: semanage fcontext -l",
        "complete the relabel: restorecon -Rv <path> (or touch /.autorelabel)",
    ],
    "boot_impact": [
        "inspect early-boot denials: journalctl -b -t audit",
        "if boot is blocked, consider enforcing=0 on the kernel cmdline while fixing policy",
    ],
    "systemic": [
        "many sources denied on one target usually means the TARGET is mislabeled",
        "verify the expected label: matchpathcon <path>",
    ],
    "recurrence": [
        "denials persisting across policy reloads mean the loaded policy does not cover them",
        "re-check the generated policy module against the recurring signatures",
    ],
}


def detector_flags(groups: DataFrame) -> DataFrame:
    """D1-D4 per-group boolean flag columns over the aggregate table.

    Expects columns: permissions (array), permissives (array), paths (array),
    representative struct with sc_type/tc_type/permissive.
    """
    perms = F.col("permissions")
    paths = F.coalesce(F.col("paths"), F.array())

    dontaudit = F.exists(
        perms, lambda p: F.lower(F.trim(p)).isin(*DONTAUDIT_INDICATORS)
    )
    permissive = F.array_contains(F.coalesce(F.col("permissives"), F.array()), "1")
    container = F.exists(
        paths,
        lambda p: F.lit(False)
        if not CONTAINER_PATH_PATTERNS
        else _contains_any(p, CONTAINER_PATH_PATTERNS),
    )
    custom = F.exists(
        paths,
        lambda p: _startswith_any(p, CUSTOM_PATH_PREFIXES),
    )
    return (
        groups.withColumn("flag_dontaudit", dontaudit)
        .withColumn("flag_permissive", permissive)
        .withColumn("flag_container_paths", container)
        .withColumn("flag_custom_paths", custom)
    )


def _contains_any(col, needles):
    expr = F.lit(False)
    for n in needles:
        expr = expr | col.contains(n)
    return expr


def _startswith_any(col, prefixes):
    expr = F.lit(False)
    for p in prefixes:
        expr = expr | col.startswith(p)
    return expr


def _finding(
    severity, category, title, affected, events, detail, sigs=None, evidence=None
):
    return (
        severity, category, title, int(affected), int(events), detail,
        sorted(int(s) for s in (sigs or [])),
        HINTS.get(category, []),
        {k: str(v) for k, v in (evidence or {}).items()},
    )


def _sigs(cond: str | None = None) -> str:
    """The first 128 sorted sig ids (of the rows where ``cond`` holds)."""
    sig = "sig_id" if cond is None else f"CASE WHEN {cond} THEN sig_id END"
    return f"slice(sort_array(collect_set({sig})), 1, 128)"


def _rule_aggs(rule: str, cond: str) -> list[str]:
    """Groups, events and sig ids of the rows where ``cond`` holds."""
    return [
        f"count_if({cond}) AS {rule}_grp",
        f"coalesce(sum(CASE WHEN {cond} THEN count END), 0) AS {rule}_ev",
        f"{_sigs(cond)} AS {rule}_sigs",
    ]


_MLS = r"^[^:]+:[^:]+:[^:]+:"
# the group columns the rules read, flattened out of the representative
_GROUP_COLS_SQL = [
    "sig_id",
    "count",
    "first_seen",
    "last_seen",
    "permissions",
    "representative.sc_type AS s_type",
    "representative.tc_type AS t_type",
    "representative.comm AS comm",
    "representative.permissive AS rep_permissive",
    "regexp_extract(representative.tcontext_raw, "
    f"{sql_str(_MLS + '(.*)$')}, 1) AS t_mls",
    "split(regexp_extract(representative.scontext_raw, "
    f"{sql_str(_MLS + '([^-]*)')}, 1), ',')[0] AS s_mls_low",
]

# AN1 widespread unlabeled_t (≥3 groups or ≥10 events)
_UNLABELED_SQL = "t_type = 'unlabeled_t'"
# AN2 MLS inconsistency (≥5 core types @s15 while source s0)
_MLS_BAD_SQL = (
    f"{sql_in('t_type', CORE_SYSTEM_TYPES)} AND contains(t_mls, 's15') "
    "AND (s_mls_low IN ('s0', '') OR s_mls_low IS NULL)"
)
# AN3 relabeling tools denied
_RELABEL_SQL = (
    f"{sql_in('s_type', RELABELING_TYPES)} AND size(array_intersect(permissions, "
    f"array({', '.join(map(sql_str, RELABEL_PERMISSIONS))}))) > 0"
)
# AN4 boot-blocking
_BOOT_SQL = (
    f"{sql_in('s_type', BOOT_CRITICAL_TYPES)} AND "
    f"{sql_in('t_type', ESSENTIAL_TARGET_TYPES)}"
)
# AN1-AN5 as one grouping-sets aggregate
_RULE_AGGS_SQL = [
    "grouping_id() AS gid",
    *_rule_aggs("an1", _UNLABELED_SQL),
    f"max(CASE WHEN {_UNLABELED_SQL} THEN rep_permissive = '1' END) AS an1_perm",
    *_rule_aggs("an2", _MLS_BAD_SQL),
    f"size(collect_set(CASE WHEN {_MLS_BAD_SQL} THEN t_type END)) AS an2_types",
    *_rule_aggs("an3", _RELABEL_SQL),
    f"sort_array(collect_set(CASE WHEN {_RELABEL_SQL} THEN comm END)) AS an3_comms",
    *_rule_aggs("an4", _BOOT_SQL),
    f"sort_array(collect_set(CASE WHEN {_BOOT_SQL} THEN comm END)) AS an4_comms",
    # AN5 systemic pattern (≥10 distinct sources on one target)
    "size(collect_set(s_type)) AS sources",
    "count(1) AS grp",
    "sum(count) AS ev",
    f"{_sigs()} AS sigs",
]


def run_analyzers(
    groups: DataFrame, policy_loads: DataFrame | None = None
) -> DataFrame:
    """AN1-AN6 over the group table → findings DataFrame.

    The group table is small (the whole premise of signature dedup), so
    AN1-AN5 are ONE grouping-sets aggregate read once: the ``()`` row
    carries AN1-AN4 as per-rule conditional aggregates, the
    ``(t_type, t_mls)`` rows carry AN5. The findings are built as Python
    rows and become one DataFrame; AN6 (only with ``policy_loads``) keeps
    its own grouped aggregate. Runs pre-filter, like the reference
    (analyzers/__init__.py:13-37).
    """
    spark = groups.sparkSession
    g = groups.selectExpr(*_GROUP_COLS_SQL)
    rows = (
        g.groupingSets([[], ["t_type", "t_mls"]], "t_type", "t_mls")
        .agg(*map(F.expr, _RULE_AGGS_SQL))
        .filter("gid = 3 OR sources >= 10")
        .collect()
    )

    # at most one () row: an empty table yields none, and nothing fires
    r = next((row for row in rows if row["gid"] == 3), None)
    # AN5 targets in (t_type, t_mls) order, nulls first
    systemic = sorted(
        (row for row in rows if row["gid"] == 0),
        key=lambda r: [(v is not None, v or "") for v in (r["t_type"], r["t_mls"])],
    )

    findings: list[tuple] = []
    if r is not None:
        if r["an1_grp"] >= 3 or r["an1_ev"] >= 10:
            findings.append(
                _finding(
                    "WARNING" if r["an1_perm"] else "CRITICAL", "labeling",
                    "Widespread unlabeled_t files",
                    r["an1_grp"], r["an1_ev"],
                    f"{r['an1_grp']} groups / {r['an1_ev']} events target unlabeled_t",
                    sigs=r["an1_sigs"],
                    evidence={"unlabeled_groups": r["an1_grp"], "unlabeled_events": r["an1_ev"]},
                )
            )
        if r["an2_types"] >= 5:
            findings.append(
                _finding(
                    "CRITICAL", "labeling",
                    "MLS labeling inconsistency: system files at wrong level",
                    r["an2_grp"], r["an2_ev"],
                    f"{r['an2_types']} core types labeled s15 vs s0 sources",
                    sigs=r["an2_sigs"],
                    evidence={"wrong_level_types": r["an2_types"]},
                )
            )
        if r["an3_grp"] > 0:
            tools = ",".join(t for t in r["an3_comms"] if t)
            findings.append(
                _finding(
                    "CRITICAL", "relabeling",
                    "Relabeling tools are being denied",
                    r["an3_grp"], r["an3_ev"],
                    "tools: " + tools,
                    sigs=r["an3_sigs"],
                    evidence={"tools": tools},
                )
            )
        if r["an4_grp"] > 0:
            svcs = ",".join(s for s in r["an4_comms"][:5] if s)
            findings.append(
                _finding(
                    "CRITICAL", "boot_impact",
                    "Boot-blocking denials detected",
                    r["an4_grp"], r["an4_ev"],
                    "services: " + svcs,
                    sigs=r["an4_sigs"],
                    evidence={"services": svcs},
                )
            )

    for row in systemic:
        findings.append(
            _finding(
                "WARNING", "systemic",
                f"Systemic issue: {row['sources']} processes denied on {row['t_type']}",
                row["grp"], row["ev"],
                f"target={row['t_type']} mls={row['t_mls']}",
                sigs=row["sigs"],
                evidence={"sources": row["sources"], "target": row["t_type"]},
            )
        )

    # ---- AN6: recurrence across policy reloads ------------------------------
    if policy_loads is not None:
        bounds = policy_loads.agg(
            F.min("event_ts").alias("lo"), F.max("event_ts").alias("hi")
        ).head()
        if bounds["lo"] is not None:
            rec = (
                g.withColumn(
                    "before_ev",
                    F.when(F.col("first_seen") < bounds["lo"], F.col("count")).otherwise(0),
                )
                .withColumn(
                    "after_ev",
                    F.when(F.col("last_seen") >= bounds["hi"], F.col("count")).otherwise(0),
                )
                .groupBy("t_type")
                .agg(
                    F.sum("before_ev").alias("before"),
                    F.sum("after_ev").alias("after"),
                    F.expr(f"{_sigs()} AS sigs"),
                )
                # integer forms of the reference's 0.3/0.7 ratios — exact
                # for integer counts (a >= 0.3b ⇔ 10a >= 3b), immune to the
                # float-boundary divergence vs decimal-arithmetic oracles
                .filter(
                    (F.col("before") > 0)
                    & (F.col("after") * 10 >= F.col("before") * 3)
                )
                .collect()
            )
            for row in rec:
                trend = (
                    "stable"
                    if row["after"] * 10 >= row["before"] * 7
                    else "decreasing"
                )
                findings.append(
                    _finding(
                        "WARNING", "recurrence",
                        f"Recurring denials for {row['t_type']} across policy reloads",
                        0, row["before"] + row["after"],
                        f"before={row['before']} after={row['after']} trend={trend}",
                        sigs=row["sigs"],
                        evidence={"before": row["before"], "after": row["after"], "trend": trend},
                    )
                )

    return spark.createDataFrame(findings, FINDINGS_SCHEMA)
