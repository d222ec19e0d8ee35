"""Sinks (reference §2.1 K1-K7, re-expressed as tables + a JSON report).

- Routed event tables: one partitioned write, per-sink reads are pruned
  scans (K7's fan-out contract).
- JSON report (K4, formatters/json_formatter.py:194-311 shape): the
  machine-readable contract — `unique_denials[].{log, count, first_seen,
  last_seen, permissions, correlations, sesearch_command}`, `summary`,
  `findings`. Report mode is bounded by construction (groups table is
  small); correlations are capped samples, with the full event detail
  staying relational in the routed table (A3 at scale).
- Stats report (K3, formatters/stats_formatter.py): top-N per dimension.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from avc_parser_spark.aggregate import top_n_per_dimension

REPORT_LOG_FIELDS = [
    "denial_type", "permission", "pid", "comm", "exe", "proctitle", "path",
    "path_type", "dev", "ino", "scontext_raw", "tcontext_raw", "tclass",
    "dest_port", "dbus_dest", "permissive", "syscall", "exit", "event_id",
    "event_ts", "saddr", "saddr_struct",
]

_CTRL_RE = re.compile(r"[\x00-\x1f\x7f-\x9f]")
_STRING_FIELDS = ["comm", "exe", "syscall", "denial_type", "permission", "tclass"]


def _port_class(port: int) -> str:
    if port <= 1023:
        return "system"
    return "registered" if port <= 49151 else "dynamic"


def _parse_mls_summary(level: str) -> dict | None:
    """MLS/MCS range summary: 'sN[:cats][-sM[:cats]]', cats = cA | cA.cB
    ranges, comma-joined (grammar per libsepol mls_context_to_sid; summary
    fields per reference json_formatter.py:100-110)."""
    s = level.strip()
    if not s:
        return None

    def parse_level(txt: str) -> tuple[str, set[int]] | None:
        sens, _, cats = txt.partition(":")
        if not re.fullmatch(r"s\d+", sens):
            return None
        nums: set[int] = set()
        for grp in cats.split(",") if cats else []:
            lo, dot, hi = grp.partition(".")
            try:
                if dot:
                    if not (lo.startswith("c") and hi.startswith("c")):
                        return None
                    nums.update(range(int(lo[1:]), int(hi[1:]) + 1))
                else:
                    if not lo.startswith("c"):
                        return None
                    nums.add(int(lo[1:]))
            except ValueError:
                return None
        return sens, nums

    low_txt, _, high_txt = s.partition("-")
    low = parse_level(low_txt)
    if low is None:
        return None
    high = parse_level(high_txt) if high_txt else low
    if high is None:
        return None
    return {
        "raw": s,
        "low_sensitivity": low[0],
        "high_sensitivity": high[0],
        "categories_count": len(low[1]),
        "is_range": low != high,
    }


def normalize_log_fields(
    log: dict,
    scontext_key: str = "scontext_raw",
    tcontext_key: str = "tcontext_raw",
    saddr_key: str = "saddr_struct",
) -> dict:
    """K4 JSON-contract normalization of one log dict — same field contract
    as the reference (formatters/json_formatter.py:39-191): typed pid/ino,
    permissive → bool (+_numeric), numeric dest_port + class
    (system/registered/dynamic), context component structs + <side>_type,
    saddr k=v decomposition → local_address/local_port, control-char-cleaned
    strings, normpath'd absolute path, float timestamp, _normalized marker.

    Runs driver-side on the BOUNDED group-report rows only (the group table
    is tiny by construction); the distributed/typed equivalent for event
    tables is `normalize_events_for_json`.
    """
    out = dict(log)

    path = out.get("path")
    if path is not None:
        path = str(path).strip()
        if path:
            if not path.startswith("/"):
                path = "/" + path
            path = os.path.normpath(path).replace("\\", "/")
            out["path"] = path
            out["path_absolute"] = path
            out["path_normalized"] = True
        else:
            out["path"] = None

    dp = out.get("dest_port")
    if dp:
        dp_str = str(dp).strip()
        try:
            port = int(dp_str)
        except (TypeError, ValueError):
            out["dest_port"] = dp_str
            out["dest_port_string"] = dp_str
            out["dest_port_type"] = "non_numeric"
        else:
            out["dest_port"] = port
            out["dest_port_string"] = str(port)
            out["dest_port_type"] = "numeric"
            out["dest_port_class"] = _port_class(port)

    for side, key in (("scontext", scontext_key), ("tcontext", tcontext_key)):
        ctx = out.get(key)
        if not ctx:
            continue
        ctx = str(ctx).strip()
        parts = ctx.split(":")
        if ":" in ctx and len(parts) >= 3:
            level = ":".join(parts[3:])
            out[f"{side}_components"] = {
                "user": parts[0],
                "role": parts[1],
                "type": parts[2],
                "level": level,
                "full": ctx,
            }
            if level:
                mls = _parse_mls_summary(level)
                if mls:
                    out[f"{side}_mls"] = mls
            out[f"{side}_type"] = parts[2]

    sa = out.get(saddr_key)
    if sa:
        comps = dict(
            tok.split("=", 1) for tok in str(sa).strip().split() if "=" in tok
        )
        if comps:
            out["saddr_components"] = comps
            if "laddr" in comps:
                out["local_address"] = comps["laddr"]
            if "lport" in comps:
                try:
                    out["local_port"] = int(comps["lport"])
                except (TypeError, ValueError):
                    out["local_port"] = comps["lport"]

    for field in ("pid", "ino", "inode"):
        v = out.get(field)
        if v is not None:
            try:
                out[field] = int(str(v).strip())
            except (TypeError, ValueError):
                out[field] = str(v).strip()

    pm = out.get("permissive")
    if pm is not None:
        s = str(pm).strip().lower()
        if s in ("0", "false", "no"):
            out["permissive"], out["permissive_numeric"] = False, 0
        elif s in ("1", "true", "yes"):
            out["permissive"], out["permissive_numeric"] = True, 1
        else:
            out["permissive"] = s

    for field in _STRING_FIELDS:
        v = out.get(field)
        if v is not None:
            cleaned = " ".join(_CTRL_RE.sub("", str(v).strip()).split())
            out[field] = cleaned or None

    # json_report's log dicts carry `event_ts` (a stringified datetime), not
    # a numeric `timestamp` — produce the epoch-float contract fields from
    # either form.
    # explicit None checks: a present-but-falsy timestamp (0 / 0.0 / "0" —
    # epoch 1970-01-01) is a real value and must not fall back to event_ts.
    ts = out.get("timestamp")
    if ts is None:
        ts = out.get("event_ts")
    if ts is not None and ts != "":
        epoch: float | None = None
        try:
            epoch = float(str(ts).strip())
        except (TypeError, ValueError):
            import datetime as _dt

            try:
                parsed = _dt.datetime.fromisoformat(str(ts).strip())
                # naive strings come from PySpark collect(), which renders
                # TimestampType via datetime.fromtimestamp (DRIVER-LOCAL tz
                # regardless of spark.sql.session.timeZone) — naive
                # .timestamp() applies the same local tz, exactly inverting
                # that rendering on any driver; tz-aware strings carry their
                # own offset.
                epoch = parsed.timestamp()
            except ValueError:
                epoch = None
        if epoch is not None:
            out["timestamp"] = out["timestamp_float"] = epoch

    out["_normalized"] = True
    out["_normalization_version"] = "1.0"
    return out


def _norm_path_expr(path: Column) -> Column:
    """Native normalization of the common path shapes: absolute, forward
    slashes, collapsed '//' and '/./', no trailing slash. ('..' segments are
    not resolved natively — the parse cascade never emits them; the bounded
    driver-side report path uses os.path.normpath for full fidelity.)"""
    p = F.trim(path)
    p = F.when(p == "", None).otherwise(p)
    p = F.when(p.startswith("/"), p).otherwise(F.concat(F.lit("/"), p))
    p = F.regexp_replace(F.regexp_replace(p, r"\\", "/"), "/{2,}", "/")
    p = F.regexp_replace(p, r"/\./", "/")
    return F.when(p != "/", F.regexp_replace(p, "/$", "")).otherwise(p)


def _ctx_components(raw: Column) -> Column:
    parts = F.split(raw, ":")
    valid = raw.isNotNull() & (F.size(parts) >= 3)
    return F.when(
        valid,
        F.struct(
            parts.getItem(0).alias("user"),
            parts.getItem(1).alias("role"),
            parts.getItem(2).alias("type"),
            F.array_join(F.slice(parts, 4, F.greatest(F.size(parts) - 3, F.lit(0))), ":").alias("level"),
            raw.alias("full"),
        ),
    )


def normalize_events_for_json(events: DataFrame) -> DataFrame:
    """Distributed, typed K4 normalization over the full event table — the
    same contract as `normalize_log_fields` expressed as native columns
    (codegen-eligible, no UDF): int pid/ino, boolean permissive, numeric
    dest_port + class, context component structs, saddr laddr/lport
    decomposition, normalized path."""
    port = F.col("dest_port").cast("int")
    permissive_bool = (
        F.when(F.lower(F.trim(F.col("permissive"))).isin("1", "true", "yes"), True)
        .when(F.lower(F.trim(F.col("permissive"))).isin("0", "false", "no"), False)
        .otherwise(F.lit(None).cast("boolean"))
    )
    return events.withColumns(
        {
            "pid": F.col("pid").cast("int"),
            "ino": F.col("ino").cast("int"),
            "permissive": permissive_bool,
            "dest_port_num": port,
            "dest_port_class": F.when(port <= 1023, "system")
            .when(port <= 49151, "registered")
            .when(port.isNotNull(), "dynamic"),
            "path": _norm_path_expr(F.col("path")),
            "scontext_components": _ctx_components(F.col("scontext_raw")),
            "tcontext_components": _ctx_components(F.col("tcontext_raw")),
            "local_address": F.regexp_extract(F.col("saddr_struct"), r"laddr=(\S+)", 1),
            "local_port": F.regexp_extract(
                F.col("saddr_struct"), r"lport=(\S+)", 1
            ).cast("int"),
        }
    )


def json_report(
    groups: DataFrame,
    findings: DataFrame | None = None,
    max_groups: int = 1000,
) -> dict:
    """Bounded JSON report in the reference's `--format json` shape.

    Driver-side collect is intentional and bounded: the whole point of
    signature dedup is that the group table is tiny (10k events → ~20
    groups); max_groups is a hard cap for pathological corpora.
    """
    rows = (
        groups.orderBy(F.desc("count"), F.asc("signature"))
        .limit(max_groups)
        .collect()
    )
    unique_denials = []
    for r in rows:
        rep = r["representative"].asDict() if r["representative"] else {}
        log = normalize_log_fields(
            {
                k: (str(v) if v is not None else None)
                for k, v in rep.items()
                if k in REPORT_LOG_FIELDS or k in ("url",)
            }
        )
        unique_denials.append(
            {
                "log": log,
                "count": r["count"],
                "first_seen": r["first_seen"].isoformat() if r["first_seen"] else None,
                "last_seen": r["last_seen"].isoformat() if r["last_seen"] else None,
                "permissions": sorted(p for p in (r["permissions"] or []) if p),
                "correlations": [],  # relational at scale; see routed table
                "sesearch_command": r["sesearch_command"]
                if "sesearch_command" in r.__fields__
                else None,
                "signature": r["signature"],
                "permissive_count": r["permissive_count"],
            }
        )

    # true totals from an aggregate (max_groups caps only the listing)
    totals = groups.agg(
        F.count(F.lit(1)).alias("g"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("e"),
        F.coalesce(F.sum("permissive_count"), F.lit(0)).alias("p"),
    ).head()
    report = {
        "unique_denials": unique_denials,
        "summary": {
            "total_groups": int(totals["g"]),
            "total_events": int(totals["e"]),
            "permissive_events": int(totals["p"]),
            "listed_groups": len(unique_denials),
        },
        "findings": [r.asDict() for r in findings.collect()] if findings is not None else [],
    }
    return report


def write_json_report(groups: DataFrame, findings: DataFrame | None, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(json_report(groups, findings), fh, indent=2, default=str)


def brief_report(groups: DataFrame, max_groups: int = 50) -> list[dict]:
    """K5 — executive WHAT/WHEN/WHO/WHERE/IMPACT brief per group
    (report_formatter.py:329-499 shape, prose rendering out of scope)."""
    rows = (
        groups.orderBy(F.desc("count"), F.asc("signature"))
        .limit(max_groups)
        .collect()
    )
    briefs = []
    for r in rows:
        rep = r["representative"].asDict() if r["representative"] else {}
        briefs.append(
            {
                "what": {
                    "permissions": sorted(p for p in (r["permissions"] or []) if p),
                    "tclass": rep.get("tclass"),
                },
                "when": {
                    "first_seen": str(r["first_seen"]),
                    "last_seen": str(r["last_seen"]),
                },
                "who": {
                    "comm": rep.get("comm"),
                    "exe": rep.get("exe"),
                    "scontext": rep.get("scontext_raw"),
                },
                "where": {
                    "path": rep.get("path"),
                    "dest_port": rep.get("dest_port"),
                    "tcontext": rep.get("tcontext_raw"),
                },
                "impact": {
                    "events": r["count"],
                    "permissive_events": r["permissive_count"],
                    "enforcing_blocked": r["count"] - r["permissive_count"],
                },
            }
        )
    return briefs


def sealert_report(groups: DataFrame, max_groups: int = 50) -> list[dict]:
    """K6 — sealert-style technical reconstruction per group
    (report_formatter.py:15-328 shape): action summary sentence, raw-audit
    message rebuilt from the representative, unique-pid stats."""
    rows = (
        groups.orderBy(F.desc("count"), F.asc("signature"))
        .limit(max_groups)
        .collect()
    )
    out = []
    for n, r in enumerate(rows, 1):
        rep = r["representative"].asDict() if r["representative"] else {}
        perms = sorted(p for p in (r["permissions"] or []) if p)
        perms_display = ", ".join(perms) if len(perms) > 1 else (
            perms[0] if perms else "unknown"
        )
        summary = (
            f"{rep.get('sc_type') or 'unknown'} attempted {perms_display} "
            f"access to {rep.get('tc_type') or 'unknown'} "
            f"{rep.get('tclass') or 'unknown'} and was denied."
        )
        avc_parts = [
            f"type={rep.get('denial_type') or 'AVC'} "
            f"msg=audit({rep.get('event_id') or '?'}): avc:  denied  "
            f"{{ {' '.join(perms) or rep.get('permission') or '?'} }} for "
        ]
        for k, f in [
            ("pid", "pid"), ("comm", "comm"), ("path", "path"),
            ("dest", "dest_port"), ("scontext", "scontext_raw"),
            ("tcontext", "tcontext_raw"), ("tclass", "tclass"),
            ("permissive", "permissive"),
        ]:
            v = rep.get(f)
            if v is not None:
                avc_parts.append(f"{k}={v} ")
        out.append(
            {
                "group": n,
                "total_events": r["count"],
                "unique_pids": len([p for p in (r["pids"] or []) if p]),
                "last_seen": str(r["last_seen"]),
                "summary": summary,
                "raw_audit_message": "".join(avc_parts).rstrip(),
                "sesearch_command": r["sesearch_command"]
                if "sesearch_command" in r.__fields__
                else None,
            }
        )
    return out


def stats_report(events: DataFrame) -> dict:
    """K3 — top-N summary per dimension (stats_formatter.py:135-160)."""
    dims = {
        "processes": ("comm", 5),
        "source_types": ("sc_type", 5),
        "target_types": ("tc_type", 5),
        "object_classes": ("tclass", 8),
        "permissions": ("permission", 5),
    }
    ok = events.filter(F.col("route") == "parse_ok")
    out = {}
    for name, (col, n) in dims.items():
        out[name] = [
            {"value": r[col], "count": r["cnt"]}
            for r in top_n_per_dimension(ok, col, n).collect()
        ]
    out["total_events"] = ok.count()
    return out
