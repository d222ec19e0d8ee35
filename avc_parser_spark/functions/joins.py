"""Relational join extensions Spark lacks natively: as-of join and range
(point-in-interval) join — the two classic temporal operators (kdb+/Pandas
`merge_asof`, DuckDB `ASOF JOIN`; the reference repo has no analog — these
are toolbox ops a telemetry/training pipeline reaches for constantly:
"attach the policy in force when this event happened", "which maintenance
window covers this timestamp").

Scale shapes — neither op ever builds a cross product:

- `asof_join` is JOIN-FREE: both inputs union into one frame, ONE hash
  exchange on the by-keys, and a per-partition ordered window carries the
  latest right row forward (`last(..., ignorenulls)` over rows-unbounded-
  preceding). Cost = one shuffle + local sort, independent of how many
  left rows each right row serves. A naive non-equi join is a
  BroadcastNestedLoop — quadratic per key. Hot by-keys concentrate in one
  partition (windows need whole-key ordering); at web scale pick by-keys
  with bounded per-key row counts or pre-split time ranges.
- `range_join` BUCKETIZES the interval side: each interval explodes into
  the fixed-width buckets it covers, points compute their single bucket,
  and the join is a plain EQUI-join on (by, bucket) with an exact
  lo ≤ p ≤ hi post-filter (plan-gated: no BroadcastNestedLoopJoin, no
  CartesianProduct). Bucket width trades explode fan-out (≈ span/width
  rows per interval) against filter selectivity — size it near the median
  interval span.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_seconds(col: Column, dtype) -> Column:
    """Numeric view of an ordering column in SECONDS: timestamps via
    unix_micros (exact integer microseconds — Spark 4 refuses
    timestamp→double casts, and second-truncated casts mis-bucket
    boundary rows), numerics as plain doubles (unit = the column's)."""
    if "timestamp" in dtype.simpleString():
        return F.unix_micros(col.cast("timestamp")) / F.lit(1_000_000.0)
    return col.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: tuple[str, ...] | list[str] = (),
    value_cols: tuple[str, ...] | list[str] | None = None,
    direction: str = "backward",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """For every left row, attach the right row with the greatest
    `on` ≤ left.`on` (direction='backward'; 'forward' = smallest ≥) within
    the same by-keys. Returns all left columns plus `<on>_asof` (the
    matched right timestamp) and `<col>_asof` for each value column —
    NULLs when no right row qualifies (left-join semantics), or when the
    match is farther than `tolerance_sec` (measured on the columns cast to
    double — epoch seconds for timestamps).

    Ties: a right row at exactly left.`on` matches (≤/≥ inclusive).
    Right (by, on) pairs are assumed unique — duplicate right timestamps
    within a key make "the" as-of row ill-defined in any engine (DuckDB's
    ASOF JOIN picks arbitrarily; dedup upstream)."""
    if direction not in ("backward", "forward"):
        raise ValueError("asof_join: direction must be backward|forward")
    by = list(by)
    value_cols = list(
        value_cols
        if value_cols is not None
        else [c for c in right.columns if c != on and c not in by]
    )
    lcols = left.columns
    l_tag = left.select(
        *lcols,
        F.lit(None).cast(right.schema[on].dataType).alias("_r_on"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
            for c in value_cols
        ],
        F.lit(1).alias("_side"),
    )
    r_tag = right.select(
        *[
            F.col(c) if c in by + [on] else F.lit(None).cast(
                left.schema[c].dataType
            ).alias(c)
            for c in lcols
        ],
        F.col(on).alias("_r_on"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
        F.lit(0).alias("_side"),
    )
    ordered = (
        [F.col(on).asc(), F.col("_side").asc()]
        if direction == "backward"
        else [F.col(on).desc(), F.col("_side").asc()]
    )
    w = (
        Window.partitionBy(*by)
        .orderBy(*ordered)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tag.unionByName(r_tag).select(
        *lcols,
        "_side",
        F.last("_r_on", ignorenulls=True).over(w).alias(f"{on}_asof"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in value_cols
        ],
    )
    out = carried.filter(F.col("_side") == 1).drop("_side")
    if tolerance_sec is not None:
        dt = left.schema[on].dataType
        delta = F.abs(
            _as_seconds(F.col(on), dt)
            - _as_seconds(F.col(f"{on}_asof"), dt)
        )
        keep = delta <= float(tolerance_sec)
        out = out.select(
            *lcols,
            *[
                F.when(keep, F.col(f"{c}_asof")).alias(f"{c}_asof")
                for c in [on] + value_cols
            ],
        )
    return out


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join for a hot-keyed big side against a small-
    but-not-broadcastable side (the explicit-salting companion to the
    pipeline's salted aggregation and AQE's skew-join split): every big
    row gets an arbitrary salt in [0, n_salts), the small side replicates
    once per salt, and the join key becomes (key, salt) — a hot key's
    rows spread across n_salts reducers instead of melting one. Results
    are identical to the plain join (each big row matches exactly its own
    salt's replica); cost = n_salts× the small side's shuffle volume.
    `how` is inner|left (right/full would see the replicas)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join: how must be inner|left")
    keys = [on] if isinstance(on, str) else list(on)
    b = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts)),
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return b.join(s, keys + ["_salt"], how).drop("_salt")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    by: tuple[str, ...] | list[str] = (),
    bucket_width: float = 3600.0,
) -> DataFrame:
    """Inner point-in-interval join: every (point, interval) pair with
    lo ≤ point ≤ hi (inclusive both ends) sharing the by-keys. Columns =
    points' ∪ intervals' (by-keys once; name collisions are the caller's
    to resolve). Numeric or timestamp columns (timestamps bucket on their
    epoch-seconds double cast). `bucket_width` is in the column's units
    (seconds for timestamps); intervals explode into ≈ span/width + 1
    bucket rows each."""
    if bucket_width <= 0:
        raise ValueError("range_join: bucket_width must be > 0")
    by = list(by)
    w = float(bucket_width)
    p_num = _as_seconds(F.col(point_col), points.schema[point_col].dataType)
    lo_num = _as_seconds(F.col(lo_col), intervals.schema[lo_col].dataType)
    hi_num = _as_seconds(F.col(hi_col), intervals.schema[hi_col].dataType)
    i_cols = [c for c in intervals.columns if c not in by]
    p_side = points.select(
        *points.columns, F.floor(p_num / w).cast("long").alias("_bkt")
    )
    i_side = intervals.filter(hi_num >= lo_num).select(
        *by,
        *i_cols,
        F.explode(
            F.sequence(
                F.floor(lo_num / w).cast("long"),
                F.floor(hi_num / w).cast("long"),
            )
        ).alias("_bkt"),
    )
    return (
        p_side.join(i_side, by + ["_bkt"])
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_bkt")
    )
