"""Signature aggregation — the heart of the engine (reference §2.6).

The reference deduplicates 10k+ raw denials into ~20 signature groups with a
single-threaded dict (parse_avc.py:3942-4046). At 100 TB that exact shape —
few hot groups absorbing most rows — is the worst case for a naive groupBy:
one reducer gets >50 % of all events. So A1 is a **salted two-phase
aggregate**:

    stage 1: groupBy(sig_id, salt)  — partial counts/min/max/sets per salt
    stage 2: groupBy(sig_id)        — merge partials (sum, min, max,
                                      array_distinct(flatten(sets)))

Salting bounds the biggest reduce task at ~1/K of the hot key; AQE's skew
handling covers residual imbalance. Collected sets are capped (sort_array +
slice) so group state stays O(K) no matter how many distinct pids/paths a
hot signature accumulates — the full event detail remains in the routed
event table keyed by sig_id (A3: correlations are relational, not in-RAM).

Deterministic representative: the reference keeps the *first-seen* event as
the group representative relying on input order (parse_avc.py:4013-4019);
distributed aggregation has no input order, so the representative is defined
as min_by(event, (event_ts, event_id, url)) — documented deterministic
replacement (SURVEY.md §7.3 risk 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Cap for collected example sets inside group state. Counts stay exact; the
# sets are display samples (reference truncates at display time too, O3).
SET_CAP = 128

# Salt fan-out for hot signatures. 16 partials per signature is enough to
# spread any single hot key across executors at cluster scale while adding
# negligible cost for cold keys.
NUM_SALTS = 16

SIG_COLS = [
    "sig_id",
    "signature",
    "process_category",
    "sig_target",
    "object_group",
    "sig_extra",
    "permission_category",
]

REPRESENTATIVE_FIELDS = [
    "url",
    "event_id",
    "event_ts",
    "denial_type",
    "permission",
    "pid",
    "comm",
    "exe",
    "path",
    "path_type",
    "scontext_raw",
    "tcontext_raw",
    "sc_type",
    "tc_type",
    "tclass",
    "dest_port",
    "dbus_dest",
    "permissive",
    "syscall",
    "exit",
    "success",
    "cwd",
    "proctitle",
    "saddr",
    "saddr_struct",
    "execve_cmdline",
]


SET_COLS = {
    "permissions": "permission",
    "pids": "pid",
    "comms": "comm",
    "paths": "path",
    "proctitles": "proctitle",
    "tclasses": "tclass",
    "permissives": "permissive",
    "dest_ports": "dest_port",
    "langs": "lang",
}

# representative struct and its (event_ts, event_id, url) ordering key
_REP_SQL = f"struct({', '.join(REPRESENTATIVE_FIELDS)}) AS _rep"
_REP_ORD_SQL = (
    "struct(coalesce(event_ts, to_timestamp('9999-01-01')) AS ts, "
    "coalesce(event_id, '~') AS eid, url AS url) AS _rep_ord"
)
_PERMISSIVE_SQL = "CASE WHEN permissive = '1' THEN 1 ELSE 0 END"


def _capped_set(col: str) -> str:
    return f"slice(sort_array(collect_set({col})), 1, {SET_CAP})"


def _merge_capped_sets(col: str) -> str:
    return (
        f"slice(sort_array(array_distinct(flatten(collect_list({col})))), 1, {SET_CAP})"
    )


# unsalted aggregate; salted stage 1 (partials per salt); salted stage 2
_UNSALTED_SQL = [
    "count(1) AS count",
    "min(event_ts) AS first_seen",
    "max(event_ts) AS last_seen",
    "min_by(_rep, _rep_ord) AS representative",
    f"sum({_PERMISSIVE_SQL}) AS permissive_count",
    *[f"{_capped_set(src)} AS {dst}" for dst, src in SET_COLS.items()],
]
_PARTIAL_SQL = [
    "count(1) AS _cnt",
    "min(event_ts) AS _first",
    "max(event_ts) AS _last",
    "min_by(_rep, _rep_ord) AS _rep_p",
    "min(_rep_ord) AS _rep_ord_p",
    f"sum({_PERMISSIVE_SQL}) AS _perm_cnt",
    *[f"{_capped_set(src)} AS _s_{dst}" for dst, src in SET_COLS.items()],
]
_MERGE_SQL = [
    "sum(_cnt) AS count",
    "min(_first) AS first_seen",
    "max(_last) AS last_seen",
    "min_by(_rep_p, _rep_ord_p) AS representative",
    "sum(_perm_cnt) AS permissive_count",
    *[f"{_merge_capped_sets(f'_s_{dst}')} AS {dst}" for dst in SET_COLS],
]


def aggregate_signatures(events: DataFrame, salted: bool = True) -> DataFrame:
    """A1 — smart-signature group aggregate with two-phase salting.

    Input: parsed+signed event DataFrame (parse_ok route).
    Output: one row per signature group with exact count / first_seen /
    last_seen, canonical sorted sets (O4), and deterministic representative.

    The projections and aggregate expressions are Spark SQL text, built
    once at import and parsed JVM-side: one py4j call per expression, not
    one per `col`/`lit`/`when` node.
    """
    ev = events.selectExpr("*", _REP_SQL, _REP_ORD_SQL)

    def agg(grouped, texts):
        return grouped.agg(*[F.expr(t) for t in texts])

    if not salted:
        return agg(ev.groupBy(*SIG_COLS), _UNSALTED_SQL)

    # --- stage 1: salted partial aggregate --------------------------------
    partial = agg(
        ev.selectExpr("*", f"pmod(xxhash64(url), {NUM_SALTS}) AS _salt").groupBy(
            *SIG_COLS, "_salt"
        ),
        _PARTIAL_SQL,
    )

    # --- stage 2: merge partials per signature ----------------------------
    return agg(partial.groupBy(*SIG_COLS), _MERGE_SQL)


def resource_subgroups(events: DataFrame) -> DataFrame:
    """A4 — second-level grouping by exact resource within a signature group
    (group_events_by_resource, parse_avc.py:2356-2470).

    Resource key: path if present, else `port:N`, else `socket:S`, else
    `tclass:permission`. Returns per (sig_id, resource) counts + sets; the
    caller splits count>=2 groups from singletons (reference keeps
    singletons individual).
    """
    resource = (
        F.when(F.col("path").isNotNull(), F.col("path"))
        .when(
            F.col("dest_port").isNotNull(),
            F.concat(F.lit("port:"), F.col("dest_port")),
        )
        .when(F.col("saddr").isNotNull(), F.concat(F.lit("socket:"), F.col("saddr")))
        .otherwise(
            F.concat_ws(
                ":",
                F.coalesce(F.col("tclass"), F.lit("unknown")),
                F.coalesce(F.col("permission"), F.lit("unknown")),
            )
        )
    )
    return (
        events.withColumn("resource", resource)
        .groupBy("sig_id", "resource")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.slice(F.sort_array(F.collect_set("permission")), 1, SET_CAP).alias(
                "permissions"
            ),
            F.slice(F.sort_array(F.collect_set("pid")), 1, SET_CAP).alias("pids"),
            F.slice(F.sort_array(F.collect_set("comm")), 1, SET_CAP).alias("comms"),
            F.max(F.col("permissive") == "1").alias("any_permissive"),
        )
        .withColumn("is_grouped", F.col("event_count") >= 2)
    )


def consolidate_resource_groups(subgroups: DataFrame) -> DataFrame:
    """A5 — merge resource subgroups sharing (pid set, comm set) into one
    consolidated row with a resources_by_permission map: permission →
    [(resource, count)...] (consolidate_resource_groups,
    parse_avc.py:2473-2553 builds exactly this dict per consolidated group).

    Both aggregations key on group-level tuples (the table is already tiny
    post-dedup), so the extra map costs one more small shuffle, not a scan.
    """
    keys = ["sig_id", "pids", "comms"]
    base = (
        subgroups.groupBy(*keys)
        .agg(
            F.sort_array(F.collect_list("resource")).alias("resources"),
            F.sum("event_count").alias("total_events"),
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("permissions")))
            ).alias("permissions"),
        )
    )
    per_perm = (
        subgroups.select(
            *keys, "resource", "event_count",
            F.explode("permissions").alias("perm"),
        )
        .groupBy(*keys, "perm")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("resource").alias("resource"),
                        F.col("event_count").alias("count"),
                    )
                )
            ).alias("res_list")
        )
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct(F.col("perm"), F.col("res_list"))))
            ).alias("resources_by_permission")
        )
    )
    return base.join(per_perm, keys, "left")


def stats_counters(events: DataFrame, dims: list[str] | None = None) -> DataFrame:
    """A6 — per-dimension event counters in ONE pass using true GROUPING SETS
    (stats_formatter.py:31-96 does one Counter per dimension; n grouping sets
    replace five passes — NOT cube(), which computes 2^n sets to keep n).

    Reference null semantics: missing comm counts as 'unknown'
    (stats_formatter.py:48); missing sc_type/tc_type/tclass/permission are
    skipped (stats_formatter.py:51-81) — hence the exactly-one-non-null
    filter, which drops genuine-NULL rollup rows of the non-comm dims."""
    dims = dims or ["comm", "sc_type", "tc_type", "tclass", "permission"]
    ev = events
    if "comm" in dims:
        ev = ev.withColumn("comm", F.coalesce(F.col("comm"), F.lit("unknown")))
    grouped = ev.groupingSets([[d] for d in dims], *dims).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # each output row belongs to exactly one single-dim set; a NULL active
    # dim means a genuine NULL value → skipped (matches the reference)
    non_null = sum(F.when(F.col(d).isNotNull(), 1).otherwise(0) for d in dims)
    return grouped.filter(non_null == 1)


def top_n_per_dimension(events: DataFrame, dim: str, n: int = 5) -> DataFrame:
    """A7 — top-N values of one dimension by event count (most_common(n))."""
    return (
        events.groupBy(dim)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(dim))
        .limit(n)
    )


def grouping_optimality(groups: DataFrame) -> DataFrame:
    """A8 — regroup signature groups by their sesearch command; groups
    sharing a command are merge candidates (validate_grouping_optimality,
    parse_avc.py:1806-1869). Returns (sesearch_cmd, group_count, sigs)."""
    return (
        groups.groupBy("sesearch_command")
        .agg(
            F.count(F.lit(1)).alias("group_count"),
            F.sort_array(F.collect_list("sig_id")).alias("sigs"),
        )
        .withColumn("mergeable", F.col("group_count") > 1)
    )


def grouping_optimality_report(groups: DataFrame) -> DataFrame:
    """A8 scalar report: total_groups, unique_sesearch_commands,
    mergeable command count and efficiency_score = unique/total
    (validate_grouping_optimality, parse_avc.py:1806-1869)."""
    opt = grouping_optimality(groups)
    return opt.agg(
        F.sum("group_count").cast("long").alias("total_groups"),
        F.count(F.lit(1)).cast("long").alias("unique_commands"),
        F.sum(F.when(F.col("mergeable"), 1).otherwise(0))
        .cast("long")
        .alias("mergeable_commands"),
        F.round(F.count(F.lit(1)) / F.sum("group_count"), 6).alias(
            "efficiency_score"
        ),
    )
