"""Enrichment joins + categorizer expressions (reference §2.4, natively).

Everything here stays JVM-side: broadcast hash joins for exact lookups,
`CASE WHEN` cascades for prefix/pattern rules — whole-stage-codegen eligible
and free of Python round-trips (the parse UDF is the only Python in the
plan). The cascades are rendered from the dims tables as Spark SQL text
at import (`avc_parser_spark.sqltext`) and parsed JVM-side in one py4j
call each, instead of one call per `when`/`lit`/`isin` node.
"""

from __future__ import annotations

from itertools import groupby

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from avc_parser_spark.enrich.dims import (
    FILESYSTEM_CLASSES,
    FS_OBJECT_CLASSES,
    IPC_CLASSES,
    MLS_INDEPENDENT_CLASSES,
    NETWORK_OBJECT_CLASSES,
    NETWORK_PERM_CLASSES,
    PATH_PATTERNS,
    PERM_CATEGORY_ROWS,
    SERVICE_MAPPINGS,
    SYSTEM_CLASSES,
    build_dims,
)
from avc_parser_spark.sqltext import sql_in, sql_str

# comm substrings checked after the exact map, in the reference's order
SERVICE_SUBSTRINGS = [
    ("httpd", "web_server_apache"),
    ("nginx", "web_server_nginx"),
    ("postgres", "database_postgresql"),
    ("mysql", "database_mysql"),
    ("sshd", "ssh_daemon"),
]

# source domains whose category is <domain without _t>_<comm>
SPLIT_DOMAINS = ["unconfined_t", "init_t", "user_t", "admin_t"]


def _case(whens: list[tuple[str, str]], otherwise: str) -> str:
    body = " ".join(f"WHEN {cond} THEN {value}" for cond, value in whens)
    return f"CASE {body} ELSE {otherwise} END"


PROCESS_CATEGORY_SQL = _case(
    [("comm IS NULL OR comm = ''", "'unknown'")]
    + [(f"comm = {sql_str(c)}", sql_str(cat)) for c, cat in SERVICE_MAPPINGS]
    + [(f"contains(comm, {sql_str(s)})", sql_str(cat)) for s, cat in SERVICE_SUBSTRINGS]
    + [(
        sql_in("sc_type", SPLIT_DOMAINS),
        f"concat(regexp_replace(sc_type, {sql_str('_t$')}, ''), '_', comm)",
    )],
    "concat('service_', comm)",
)


def process_category_expr() -> Column:
    """Process categorization (parse_avc.py:1455-1543) over `comm` and
    `sc_type`, fully native.

    Order matters and mirrors the reference: exact service map → substring
    pattern rules → multi-service-domain split → service_<comm> default.
    The exact map is folded into the codegen `CASE` (26 branches) so the
    signature stage needs no join at all.
    """
    return F.expr(PROCESS_CATEGORY_SQL)


# E9 tclass group → the object classes it covers; any other group is the
# one class of the same name.
PERM_GROUP_CLASSES = {
    "fs": FILESYSTEM_CLASSES,
    "net": NETWORK_PERM_CLASSES,
    "capability": ["capability", "capability2"],
}


def _in_group(group: str) -> str:
    if group in PERM_GROUP_CLASSES:
        return sql_in("tclass", PERM_GROUP_CLASSES[group])
    return f"tclass = {sql_str(group)}"


# a miss: <group prefix>_<permission> for a known group, else the permission
_PERM_FALLBACK_SQL = _case(
    [
        (_in_group(g), f"concat({sql_str(('file' if g == 'fs' else g) + '_')}, permission)")
        for g in dict.fromkeys(g for g, _, _ in PERM_CATEGORY_ROWS)
    ],
    "permission",
)
PERMISSION_CATEGORY_SQL = _case(
    [
        (
            f"{_in_group(group)} AND {sql_in('permission', [p for _, p, _ in rows])}",
            sql_str(category),
        )
        for (group, category), rows in groupby(
            PERM_CATEGORY_ROWS, key=lambda row: (row[0], row[2])
        )
    ],
    _PERM_FALLBACK_SQL,
)


def permission_category_expr() -> Column:
    """Permission categorization (parse_avc.py:1546-1662) over `permission`
    and `tclass`, fully native.

    One `WHEN` per (group, category) run of PERM_CATEGORY_ROWS, in row
    order; a miss falls back to `<group prefix>_<permission>` for a known
    group (prefix `file` for `fs`) and to the bare permission otherwise."""
    return F.expr(PERMISSION_CATEGORY_SQL)


OBJECT_GROUP_SQL = _case(
    [
        (sql_in("tclass", classes), sql_str(group))
        for classes, group in [
            (FS_OBJECT_CLASSES, "filesystem"),
            (NETWORK_OBJECT_CLASSES, "network"),
            (IPC_CLASSES, "ipc"),
            (SYSTEM_CLASSES, "system"),
        ]
    ],
    "tclass",
)


def object_group_expr() -> Column:
    """`tclass` → filesystem/network/ipc/system/<tclass> (parse_avc.py:1665-1714)."""
    return F.expr(OBJECT_GROUP_SQL)


_DIRNAME_SQL = "regexp_extract(path, " + sql_str(r"^(.*)/[^/]*$") + ", 1)"
PATH_PATTERN_SQL = _case(
    [
        (
            "path IS NULL OR " + sql_in("path", ["?", '"?"', "unknown", ""]),
            "'no_path'",
        ),
        ("startswith(path, 'dev:')", "'dev_inode'"),
    ]
    + [(f"path RLIKE {sql_str(p)}", sql_str(r)) for p, r in PATH_PATTERNS]
    + [
        (f"tclass = 'file' AND {_DIRNAME_SQL} != ''", f"concat({_DIRNAME_SQL}, '/*')"),
        # reference maps partial dir names into /var/local/log territory
        ("tclass = 'dir' AND startswith(path, '...')", "'/var/local/log(/.*)?'"),
        ("tclass = 'dir'", "concat(path, '/*')"),
    ],
    "path",
)


def path_pattern_expr() -> Column:
    """Ordered fcontext-style path-pattern normalizer (parse_avc.py:1717-1803)
    over `path` and `tclass`.

    This is the denial-signature normalizer of the north rule: an ordered
    RLIKE cascade (web → container → system patterns) with a dirname/*
    fallback — all native regexp, no UDF.
    """
    return F.expr(PATH_PATTERN_SQL)


# target key: full context string normally; type-only for MLS-independent
# classes (parse_avc.py:1928-1936)
SIG_TARGET_SQL = _case(
    [(f"{sql_in('tclass', MLS_INDEPENDENT_CLASSES)} AND tc_type IS NOT NULL", "tc_type")],
    "tcontext_raw",
)
# 4th component: path_pattern for filesystem, dest_port for network,
# empty otherwise (signature arity is normalized to 5 with a placeholder)
SIG_EXTRA_SQL = _case(
    [
        ("object_group = 'filesystem'", "path_pattern"),
        ("object_group = 'network'", "coalesce(dest_port, '')"),
    ],
    "''",
)
# unit-separator glyph: safe joiner for sig fields
SIGNATURE_SQL = (
    f"concat_ws({sql_str('␟')}, coalesce(process_category, ''), "
    "coalesce(sig_target, ''), coalesce(object_group, ''), sig_extra, "
    "coalesce(permission_category, ''))"
)


def signature_exprs(df: DataFrame) -> DataFrame:
    """Attach smart-signature component columns (parse_avc.py:1872-1944).

    Adds: process_category, permission_category, object_group, path_pattern,
    sig_target, sig_extra, and the composite `signature` string + 64-bit
    `sig_id` hash used as the aggregation key. One projection per layer of
    the dependency chain; a column is only read by a later projection than
    the one that defines it.
    """
    return (
        df.withColumns({
            "process_category": process_category_expr(),
            "permission_category": permission_category_expr(),
            "object_group": object_group_expr(),
            "path_pattern": path_pattern_expr(),
            "sig_target": F.expr(SIG_TARGET_SQL),
        })
        .withColumn("sig_extra", F.expr(SIG_EXTRA_SQL))
        .withColumn("signature", F.expr(SIGNATURE_SQL))
        .withColumn("sig_id", F.expr("xxhash64(signature)"))
    )


SESEARCH_SQL = (
    "concat('sesearch -A -s ', sc_type, ' -t ', tc_type, ' -c ', tclass, "
    "' -p ', array_join(permissions, ','))"
)


def sesearch_expr() -> Column:
    """Compose the sesearch remediation command from group columns
    (utils/selinux_utils.py:9-62). Expects sc_type, tc_type, tclass and
    sorted permissions array columns."""
    return F.expr(SESEARCH_SQL)


def enrich_events(events: DataFrame) -> DataFrame:
    """Broadcast-join all description dims onto the parsed event table.

    Join strategy: every dim is ≤ a few hundred rows → explicit
    ``F.broadcast``; the plan must show BroadcastHashJoin (no shuffle).
    """
    spark = events.sparkSession
    dims = build_dims(spark)

    out = (
        events.join(F.broadcast(dims["perm_desc"]), on="permission", how="left")
        .join(F.broadcast(dims["class_desc"]), on="tclass", how="left")
        .join(
            F.broadcast(
                dims["type_desc"].withColumnRenamed("sel_type", "sc_type")
                .withColumnRenamed("type_description", "source_type_description")
            ),
            on="sc_type",
            how="left",
        )
        .join(
            F.broadcast(
                dims["type_desc"].withColumnRenamed("sel_type", "tc_type")
                .withColumnRenamed("type_description", "target_type_description")
            ),
            on="tc_type",
            how="left",
        )
        .join(F.broadcast(dims["port_desc"]), on="dest_port", how="left")
        .join(
            F.broadcast(dims["contextual"]), on=["permission", "tclass"], how="left"
        )
    )
    # E5 fallback: composed sentence when no template matches
    # (context.py:256-346 falls back to a formatted string)
    out = out.withColumn(
        "contextual_analysis",
        F.coalesce(
            F.col("contextual_analysis"),
            F.when(
                F.col("permission").isNotNull() & F.col("tclass").isNotNull(),
                F.format_string(
                    "process attempted '%s' on object class '%s'",
                    F.col("permission"),
                    F.col("tclass"),
                ),
            ),
        ),
    )
    # E2: context-aware perm description for file/dir objects
    obj_kind = F.when(F.col("tclass") == "dir", F.lit("dir")).otherwise(F.lit("file"))
    out = out.withColumn("obj_kind", obj_kind).join(
        F.broadcast(dims["perm_context_desc"]),
        on=["permission", "obj_kind"],
        how="left",
    ).drop("obj_kind")
    return out
