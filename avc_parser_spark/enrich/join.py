"""Enrichment joins + categorizer expressions (reference §2.4, natively).

Everything here stays JVM-side: broadcast hash joins for exact lookups,
`when`-cascades for prefix/pattern rules — whole-stage-codegen eligible and
free of Python round-trips (the parse UDF is the only Python in the plan).
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
    SYSTEM_CLASSES,
    build_dims,
)


def process_category_expr(comm: Column, sc_type: Column) -> Column:
    """Process categorization (parse_avc.py:1455-1543), fully native.

    Order matters and mirrors the reference: exact service map → substring
    pattern rules → multi-service-domain split → service_<comm> default.
    The exact map is folded into the codegen `when` chain (26 branches) so
    the signature stage needs no join at all.
    """
    from avc_parser_spark.enrich.dims import SERVICE_MAPPINGS

    expr = F.when(comm.isNull() | (comm == ""), F.lit("unknown"))
    for c, cat in SERVICE_MAPPINGS:
        expr = expr.when(comm == c, F.lit(cat))
    return (
        expr.when(comm.contains("httpd"), F.lit("web_server_apache"))
        .when(comm.contains("nginx"), F.lit("web_server_nginx"))
        .when(comm.contains("postgres"), F.lit("database_postgresql"))
        .when(comm.contains("mysql"), F.lit("database_mysql"))
        .when(comm.contains("sshd"), F.lit("ssh_daemon"))
        .when(
            sc_type.isin("unconfined_t", "init_t", "user_t", "admin_t"),
            F.concat(F.regexp_replace(sc_type, "_t$", ""), F.lit("_"), comm),
        )
        .otherwise(F.concat(F.lit("service_"), comm))
    )


# E9 tclass group → the object classes it covers; any other group is the
# one class of the same name.
PERM_GROUP_CLASSES = {
    "fs": FILESYSTEM_CLASSES,
    "net": NETWORK_PERM_CLASSES,
    "capability": ["capability", "capability2"],
}


def permission_category_expr(permission: Column, tclass: Column) -> Column:
    """Permission categorization (parse_avc.py:1546-1662), fully native.

    One `when` per (group, category) run of PERM_CATEGORY_ROWS, in row
    order; a miss falls back to `<group prefix>_<permission>` for a known
    group (prefix `file` for `fs`) and to the bare permission otherwise."""

    def in_group(group: str) -> Column:
        if group in PERM_GROUP_CLASSES:
            return tclass.isin(*PERM_GROUP_CLASSES[group])
        return tclass == group

    # F.when starts each chain and Column.when extends it
    fallback = F
    for group in dict.fromkeys(g for g, _, _ in PERM_CATEGORY_ROWS):
        prefix = "file" if group == "fs" else group
        fallback = fallback.when(
            in_group(group), F.concat(F.lit(prefix + "_"), permission)
        )

    expr = F
    for (group, category), rows in groupby(
        PERM_CATEGORY_ROWS, key=lambda row: (row[0], row[2])
    ):
        perms = [p for _, p, _ in rows]
        expr = expr.when(in_group(group) & permission.isin(*perms), F.lit(category))
    return expr.otherwise(fallback.otherwise(permission))


def object_group_expr(tclass: Column) -> Column:
    """tclass → filesystem/network/ipc/system/<tclass> (parse_avc.py:1665-1714)."""
    return (
        F.when(tclass.isin(*FS_OBJECT_CLASSES), F.lit("filesystem"))
        .when(tclass.isin(*NETWORK_OBJECT_CLASSES), F.lit("network"))
        .when(tclass.isin(*IPC_CLASSES), F.lit("ipc"))
        .when(tclass.isin(*SYSTEM_CLASSES), F.lit("system"))
        .otherwise(tclass)
    )


def path_pattern_expr(path: Column, tclass: Column) -> Column:
    """Ordered fcontext-style path-pattern normalizer (parse_avc.py:1717-1803).

    This is the denial-signature normalizer of the north rule: an ordered
    rlike cascade (web → container → system patterns) with a dirname/*
    fallback — all native regexp, no UDF.
    """
    expr = F.when(
        path.isNull() | path.isin("?", '"?"', "unknown", ""), F.lit("no_path")
    ).when(path.startswith("dev:"), F.lit("dev_inode"))

    for pattern, replacement in PATH_PATTERNS:
        expr = expr.when(path.rlike(pattern), F.lit(replacement))

    dirname = F.regexp_extract(path, r"^(.*)/[^/]*$", 1)
    expr = (
        expr.when(
            (tclass == "file") & (dirname != ""), F.concat(dirname, F.lit("/*"))
        )
        .when(
            (tclass == "dir") & path.startswith("..."),
            # reference maps partial dir names into /var/local/log territory
            F.lit("/var/local/log(/.*)?"),
        )
        .when(tclass == "dir", F.concat(path, F.lit("/*")))
        .otherwise(path)
    )
    return expr


def signature_exprs(df: DataFrame) -> DataFrame:
    """Attach smart-signature component columns (parse_avc.py:1872-1944).

    Adds: process_category, permission_category, object_group, path_pattern,
    sig_target, sig_port, and the composite `signature` string + 64-bit
    `sig_id` hash used as the aggregation key.
    """
    comm = F.col("comm")
    sc_type = F.col("sc_type")
    tclass = F.col("tclass")
    permission = F.col("permission")
    path = F.col("path")

    df = (
        df.withColumn("process_category", process_category_expr(comm, sc_type))
        .withColumn(
            "permission_category", permission_category_expr(permission, tclass)
        )
        .withColumn("object_group", object_group_expr(tclass))
        .withColumn("path_pattern", path_pattern_expr(path, tclass))
    )

    # target key: full context string normally; type-only for MLS-independent
    # classes (parse_avc.py:1928-1936)
    tcontext_str = F.col("tcontext_raw")
    target_key = F.when(
        tclass.isin(*MLS_INDEPENDENT_CLASSES) & F.col("tc_type").isNotNull(),
        F.col("tc_type"),
    ).otherwise(tcontext_str)

    # 4th component: path_pattern for filesystem, dest_port for network,
    # empty otherwise (signature arity is normalized to 5 with a placeholder)
    fourth = (
        F.when(F.col("object_group") == "filesystem", F.col("path_pattern"))
        .when(F.col("object_group") == "network", F.coalesce(F.col("dest_port"), F.lit("")))
        .otherwise(F.lit(""))
    )

    df = (
        df.withColumn("sig_target", target_key)
        .withColumn("sig_extra", fourth)
        .withColumn(
            "signature",
            F.concat_ws(
                "␟",  # unit-separator glyph: safe joiner for sig fields
                F.coalesce(F.col("process_category"), F.lit("")),
                F.coalesce(F.col("sig_target"), F.lit("")),
                F.coalesce(F.col("object_group"), F.lit("")),
                F.col("sig_extra"),
                F.coalesce(F.col("permission_category"), F.lit("")),
            ),
        )
        .withColumn("sig_id", F.xxhash64("signature"))
    )
    return df


def sesearch_expr() -> Column:
    """Compose the sesearch remediation command from group columns
    (utils/selinux_utils.py:9-62). Expects sc_type, tc_type, tclass and
    sorted permissions array columns."""
    return F.concat(
        F.lit("sesearch -A -s "),
        F.col("sc_type"),
        F.lit(" -t "),
        F.col("tc_type"),
        F.lit(" -c "),
        F.col("tclass"),
        F.lit(" -p "),
        F.array_join(F.col("permissions"), ","),
    )


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
