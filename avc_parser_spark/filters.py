"""Group-level filters F1-F6 (reference §2.5, parse_avc.py:1947-2062).

Contract preserved from the reference: filters run AFTER aggregation and
before every sink — group counts reflect ALL events; filters only select
which groups are shown (parse_avc.py:4048-4086, docs/ARCHITECTURE.md:59).
"""

from __future__ import annotations

import fnmatch
import re
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _glob_to_rlike(pattern: str) -> str:
    """fnmatch glob → anchored Java-compatible regex (same translation
    fnmatch.translate performs, minus inline flags)."""
    rx = fnmatch.translate(pattern)
    # fnmatch.translate emits '(?s:...)\Z'. Spark rlike uses find() semantics
    # (unanchored), while fnmatch fullmatches — anchor both ends.
    return "^" + rx.replace(r"\Z", "$")


def filter_process(groups: DataFrame, spec: str) -> DataFrame:
    """F1 — case-insensitive substring; comma list = OR (parse_avc.py:2009)."""
    terms = [t.strip().lower() for t in spec.split(",") if t.strip()]
    cond = F.lit(False)
    comms = F.coalesce(F.col("comms"), F.array())

    def _contains(term: str):
        # single-arg lambda (PySpark passes (elem, idx) to 2-arg callables)
        return lambda c: F.lower(c).contains(term)

    for t in terms:
        cond = cond | F.exists(comms, _contains(t))
        cond = cond | F.lower(F.col("representative.comm")).contains(t)
    return groups.filter(cond)


def filter_path(groups: DataFrame, glob: str) -> DataFrame:
    """F2 — fnmatch glob against the group path OR any correlation path
    (parse_avc.py:2018-2036)."""
    rx = _glob_to_rlike(glob)
    paths = F.coalesce(F.col("paths"), F.array())
    cond = F.exists(paths, lambda p: p.rlike(rx)) | F.coalesce(
        F.col("representative.path"), F.lit("")
    ).rlike(rx)
    return groups.filter(cond)


_AGO_RE = re.compile(r"^(\d+)\s+(second|minute|hour|day|week|month)s?\s+ago$")

_DATE_FORMATS = [
    "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M", "%Y-%m-%d",
    "%m/%d/%Y %H:%M:%S", "%m/%d/%Y", "%d-%m-%Y", "%H:%M:%S", "%H:%M",
    "%b %d %H:%M:%S",
]


def parse_time_spec(spec: str, now: datetime | None = None) -> datetime:
    """F3 time-spec grammar (utils/time_utils.py:12-93): now/today/yesterday/
    recent/'N units ago'/several date formats."""
    now = now or datetime.now()
    s = spec.strip().lower()
    if s == "now":
        return now
    if s == "recent":
        return now - timedelta(hours=1)
    if s == "today":
        return now.replace(hour=0, minute=0, second=0, microsecond=0)
    if s == "yesterday":
        return (now - timedelta(days=1)).replace(
            hour=0, minute=0, second=0, microsecond=0
        )
    m = _AGO_RE.match(s)
    if m:
        n, unit = int(m.group(1)), m.group(2)
        mult = {
            "second": timedelta(seconds=1),
            "minute": timedelta(minutes=1),
            "hour": timedelta(hours=1),
            "day": timedelta(days=1),
            "week": timedelta(weeks=1),
            "month": timedelta(days=30),
        }[unit]
        return now - n * mult
    for fmt in _DATE_FORMATS:
        try:
            dt = datetime.strptime(spec.strip(), fmt)
            if "%Y" not in fmt:  # time-only specs anchor to today
                dt = dt.replace(year=now.year, month=now.month, day=now.day)
            return dt
        except ValueError:
            continue
    raise ValueError(f"unrecognized time spec: {spec!r}")


def filter_since_until(
    groups: DataFrame,
    since: str | None = None,
    until: str | None = None,
) -> DataFrame:
    """F3 — applied to last_seen (fallback first_seen), like the reference
    (parse_avc.py:2038-2045). On a partitioned table the same predicate on
    warc_ts partition-prunes the scan."""
    ts = F.coalesce(F.col("last_seen"), F.col("first_seen"))
    out = groups
    if since:
        out = out.filter(ts >= F.lit(parse_time_spec(since)))
    if until:
        out = out.filter(ts <= F.lit(parse_time_spec(until)))
    return out


def _context_match(col: Column, spec: str) -> Column:
    """F4 context matcher: substring OR fnmatch glob, comma = OR
    (utils/pattern_utils.py:25-74)."""
    cond = F.lit(False)
    for term in (t.strip() for t in spec.split(",")):
        if not term:
            continue
        if any(ch in term for ch in "*?["):
            cond = cond | col.rlike(_glob_to_rlike(term))
        else:
            cond = cond | col.contains(term)
    return cond


def filter_source_context(groups: DataFrame, spec: str) -> DataFrame:
    return groups.filter(
        _context_match(F.coalesce(F.col("representative.scontext_raw"), F.lit("")), spec)
    )


def filter_mls_only(groups: DataFrame) -> DataFrame:
    """F5 — keep groups whose contexts carry a non-trivial MLS component."""
    smls = F.regexp_extract(F.col("representative.scontext_raw"), r"^[^:]+:[^:]+:[^:]+:(.+)$", 1)
    tmls = F.regexp_extract(F.col("representative.tcontext_raw"), r"^[^:]+:[^:]+:[^:]+:(.+)$", 1)
    return groups.filter((smls != "") | (tmls != ""))
