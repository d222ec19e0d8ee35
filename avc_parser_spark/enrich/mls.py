"""MLS/MCS parsing + relationship analysis (P7/E7), all native expressions.

Reference semantics: avc_selinux/mls.py — levels mirror libsepol
(sens int + category bitmap; dominance = sens >= sens AND cat superset;
range split on a hyphen followed by a sensitivity token). Re-expressed as
Catalyst expressions: regexp_extract for the grammar, sequence()/flatten()
for category-range expansion, array_except for set dominance.

Category sets can expand to 1024 ints (c0.c1023) — expansion therefore only
happens inside these expressions on the (small) group table, never in the
routed event table (SURVEY.md §7.3 risk 3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def mls_low_str(mls: Column) -> Column:
    """Low side of a range string; whole string when single-level.
    Range separator is '-' followed by 's<digit>' (mls.py:310-326)."""
    return F.when(
        mls.rlike(r"-s\d"), F.regexp_extract(mls, r"^(.*?)-(?=s\d)", 1)
    ).otherwise(mls)


def mls_high_str(mls: Column) -> Column:
    return F.when(
        mls.rlike(r"-s\d"), F.regexp_extract(mls, r"-(s\d.*)$", 1)
    ).otherwise(mls)


def level_sensitivity(level: Column) -> Column:
    """'s15' or 's0:c1,c3' → 15 / 0 (null when not an MLS level)."""
    s = F.regexp_extract(level, r"^s(\d+)", 1)
    return F.when(s != "", s.cast("int"))


def level_categories(level: Column) -> Column:
    """'s0:c3,c5,c10.c20' → sorted distinct int array [3,5,10..20].

    Tokens: cN or cN.cM (inclusive range) — expanded with sequence()."""
    cat_str = F.regexp_extract(level, r"^s\d+:(.*)$", 1)
    tokens = F.split(cat_str, ",")
    expanded = F.flatten(
        F.filter(
            F.transform(
                tokens,
                lambda t: F.when(
                    F.trim(t).rlike(r"^c\d+\.c\d+$"),
                    F.sequence(
                        F.regexp_extract(F.trim(t), r"^c(\d+)", 1).cast("int"),
                        F.regexp_extract(F.trim(t), r"\.c(\d+)$", 1).cast("int"),
                    ),
                ).when(
                    F.trim(t).rlike(r"^c\d+$"),
                    F.array(F.regexp_extract(F.trim(t), r"^c(\d+)$", 1).cast("int")),
                ).otherwise(F.array().cast("array<int>")),
            ),
            lambda a: a.isNotNull(),
        )
    )
    return F.when(cat_str != "", F.array_sort(F.array_distinct(expanded))).otherwise(
        F.array().cast("array<int>")
    )


def dominates(sens_a: Column, cats_a: Column, sens_b: Column, cats_b: Column) -> Column:
    """libsepol mls_level_dom: a.sens >= b.sens AND a.cats ⊇ b.cats."""
    superset = F.size(F.array_except(cats_b, cats_a)) == 0
    return (sens_a >= sens_b) & superset


def mls_relationship_expr(s_mls: Column, t_mls: Column) -> Column:
    """E7 — classify the MLS relationship between source and target effective
    (low) levels (analyze_mls_relationship, mls.py:187-277).

    Returns a classification code (joined to message templates downstream):
      no_read_up | no_write_down | mcs_missing_categories |
      mcs_source_superset | mcs_disjoint | NULL (equal levels / no MLS)
    """
    s_low = mls_low_str(s_mls)
    t_low = mls_low_str(t_mls)
    ss = level_sensitivity(s_low)
    ts = level_sensitivity(t_low)
    sc = level_categories(s_low)
    tc = level_categories(t_low)

    equal = (ss == ts) & (F.size(F.array_except(sc, tc)) == 0) & (
        F.size(F.array_except(tc, sc)) == 0
    )
    s_only = F.size(F.array_except(sc, tc))
    t_only = F.size(F.array_except(tc, sc))

    return (
        F.when(s_mls.isNull() | t_mls.isNull() | ss.isNull() | ts.isNull(), F.lit(None))
        .when(equal, F.lit(None))
        .when(ss < ts, F.lit("no_read_up"))
        .when(ss > ts, F.lit("no_write_down"))
        .when((t_only > 0) & (s_only == 0), F.lit("mcs_missing_categories"))
        .when((s_only > 0) & (t_only == 0), F.lit("mcs_source_superset"))
        .otherwise(F.lit("mcs_disjoint"))
    )
