"""Library surface guard: a top-level definition in avc_parser_spark/ that
only tests name is code no caller runs. The few such names kept on purpose
back a documented output format or front door; anything else found here is
dead surface and should be deleted with its tests instead of added to
KEPT."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "avc_parser_spark"

# name → why it stays although only tests call it
KEPT = {
    "sealert_report": "reference output format (sealert-style report)",
    "brief_report": "reference output format (brief triage lines)",
    "stats_report": "reference output format (summary statistics)",
    "run_routed_stream": "streaming twin of the routed pipeline",
    "run_audit_routed_stream": "streaming twin of the audit-log front door",
    "stream_warc": "streaming twin of the WARC front door",
    "build_warc_bytes": "fixture builder for the live WARC ingest",
    "mls_high_str": "high side of an MLS range, twin of mls_low_str",
    "dominates": "libsepol mls_level_dom, the reference arithmetic "
    "tests/test_mls.py pins",
}

# Test-only surface still to be deleted (ROADMAP direction C). Deleting it
# also deletes the tests that check only it, so it goes in a later change
# rather than all at once; this set may only shrink.
PENDING = {
    # functions/text.py: cleaning, link and mixture statistics
    "anchor_summary", "ccnet_buckets", "compression_ratio_micro",
    "dsir_select", "fix_mojibake_sql", "meta_robots_flags", "redact_pii",
    "repetition_ratio",
    # functions/dedup.py and streaming.py: mergeable sketches, sketch stream
    "hll_build_grouped", "hll_estimate_grouped", "hll_merge", "kmv_estimate",
    "kmv_merge", "read_kmv_sketch", "run_sketch_stream",
    "simhash_bucket_stats", "stream_dedup_exact",
    # functions/curation.py
    "write_sharded",
}


def _caller_sources() -> dict[Path, list[str]]:
    """Every Python file outside tests/: the package, the driver entry
    point, the benches, scripts/ and perfbench/."""
    paths = [*PACKAGE.rglob("*.py"), *ROOT.glob("*.py")]
    for sub in ("scripts", "perfbench"):
        paths += (ROOT / sub).rglob("*.py")
    return {p: p.read_text().splitlines() for p in paths}


def _test_only_definitions() -> set[str]:
    sources = _caller_sources()
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            named = any(
                word.search(line)
                for src, lines in sources.items()
                for i, line in enumerate(lines, 1)
                if not (src == path and i == node.lineno)
            )
            if not named:
                found.add(node.name)
    return found


def test_test_only_definitions_are_the_kept_set():
    assert _test_only_definitions() == set(KEPT) | PENDING
