"""Library surface guard: a top-level definition in avc_parser_spark/ that
no code outside tests/ reaches is code no caller runs. The few such names
kept on purpose back a documented output format, are the reference a
named test compares a live function against, or wait for a ROADMAP
direction; anything else found here is dead surface and should be deleted
with its tests instead of added to KEPT. The same holds for options: a
defaulted parameter that no caller sets to a second value is a constant
(test_no_unset_knobs)."""

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "avc_parser_spark"

# name → why it stays although only tests reach it: the reference output
# format it backs, the live function a named test compares it against, or
# the ROADMAP direction it waits for
KEPT = {
    # reference output formats
    "sealert_report": "reference output format (sealert-style report)",
    "brief_report": "reference output format (brief triage lines)",
    "stats_report": "reference output format (summary statistics)",
    # streaming twins of the checkpointed front doors (ROADMAP E)
    "run_routed_stream": "ROADMAP E; test_streaming_matches_batch compares "
    "it with the batch pipeline",
    "run_audit_routed_stream": "ROADMAP E; test_run_audit_routed_stream "
    "compares it with the batch parse of read_audit_logs",
    "stream_audit_logs": "ROADMAP E; test_stream_audit_logs_matches_batch "
    "compares it with read_audit_logs",
    "stream_warc": "ROADMAP E; test_stream_warc_matches_batch compares it "
    "with read_warc",
    "build_warc_bytes": "builds the fixtures of the live read_warc and "
    "run_warc_with_checkpoints tests (test_run_warc_with_checkpoints_resume)",
    # reference twins that tests compare live code against
    "mls_high_str": "high side of an MLS range; the tests/test_mls.py "
    "`parsed` fixture checks it next to the live mls_low_str",
    "dominates": "libsepol mls_level_dom, the reference arithmetic "
    "test_dominance pins for the live mls_relationship_expr",
    "HLL_P": "default precision of hll_build and hll_estimate",
    "hll_build": "pins the live _hll_register_cols (token_suite 'hll' mode) "
    "in test_hll_registers_match_duckdb",
    "hll_estimate": "pure-Python-checked HLL formula over the live "
    "_hll_register_cols, test_hll_estimate_accuracy_and_python_parity",
    "kmv_build": "test_kmv_build_grouped_matches_per_group_and_merges "
    "compares the live kmv_build_grouped against it",
    "pagerank_micro": "test_pagerank_multi_equals_singles compares the live "
    "pagerank_micro_multi against it",
    "_png_paeth": "the spec predictor; "
    "test_png_unfilter_scan_matches_reference_predictor compares the live "
    "_unfilter_paeth against it",
    "minhash_bucket_stats": "measures the live _minhash_band_keys in "
    "test_minhash_lsh_bucket_cap_bounds_pairs",
    "simhash_bucket_stats": "measures the live _simhash_block_keys in "
    "test_simhash_bucket_stats_no_saturation_at_1m, their only scale guard",
    # waiting for a ROADMAP verdict
    "salted_join": "ROADMAP D: measure it against a broadcast or AQE skew "
    "join, or delete it",
    "run_pipeline": "ROADMAP K: replaced by one composition the CLI and "
    "perfbench both call",
    "route_split": "ROADMAP K: reached only from run_pipeline",
}

_IDENTIFIER = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _defined_names(node: ast.stmt) -> list[str]:
    """The names a module-level statement defines: a function, a class or
    an assigned constant (dunders such as `__all__` are not surface)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [node.name]
    elif isinstance(node, ast.Assign):
        names = [
            n.id for t in node.targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
        ]
    elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        names = [node.target.id]
    else:
        names = []
    return [n for n in names if not n.startswith("__")]


def _references(node: ast.AST) -> set[str]:
    """Names a subtree uses in code: loaded Name and Attribute nodes,
    import aliases, and identifier-shaped string constants (a `getattr`
    or registry key). Comments, docstrings and prose never match."""
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            refs.add(n.attr)
        elif isinstance(n, ast.alias):
            refs.update(n.name.split("."))
        elif (
            isinstance(n, ast.Constant) and isinstance(n.value, str)
            and _IDENTIFIER.match(n.value)
        ):
            refs.add(n.value)
    return refs


def _test_only_definitions(root: Path = ROOT, package: Path = PACKAGE) -> set[str]:
    """Top-level definitions in `package` that no code outside tests/
    reaches. Every file under `root`'s top level, scripts/ and perfbench/
    is a caller, as is module-level code in the package; a package
    definition's own references count only once something live reaches
    it, so code reached only from test-only code is test-only too."""
    callers = {*root.glob("*.py")}
    for sub in ("scripts", "perfbench"):
        callers.update((root / sub).rglob("*.py"))
    live = set()
    uses = defaultdict(set)  # package definition → names its body uses
    for path in sorted(callers):
        live |= _references(ast.parse(path.read_text()))
    for path in sorted(package.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            names = _defined_names(node)
            for name in names:
                uses[name] |= _references(node)
            if not names and not isinstance(node, (ast.Import, ast.ImportFrom)):
                # an import binds a name; the code that uses it is the caller
                live |= _references(node)
    todo = list(live)
    while todo:
        for name in uses.get(todo.pop(), ()):
            if name not in live:
                live.add(name)
                todo.append(name)
    return set(uses) - live


def test_test_only_definitions_are_the_kept_set():
    assert _test_only_definitions() == set(KEPT)


def test_guard_counts_code_references_transitively(tmp_path):
    """The scanner over a synthetic package: prose is not a caller, and
    neither is code that only test-only code reaches."""
    package = tmp_path / "pkg"
    package.mkdir()
    (package / "__init__.py").write_text("")
    (package / "mod.py").write_text(
        '"""Helpers; see mentioned_only."""\n'
        "WIDTH = 3\n"
        "def mentioned_only():\n"
        '    """Only prose names it."""\n'
        "def helper():\n"
        "    return 1\n"
        "def test_only():\n"
        "    return helper() * WIDTH\n"
        "def live():\n"
        '    """Unlike mentioned_only, a caller runs this."""\n'
        "    return 2\n"
    )
    (tmp_path / "main.py").write_text(
        "from pkg.mod import live\n"
        "live()  # not mentioned_only()\n"
    )
    found = _test_only_definitions(tmp_path, package)
    assert "mentioned_only" in found  # named only in a comment or docstring
    assert "helper" in found  # called only by a test-only function
    assert "WIDTH" in found  # read only by a test-only function
    assert found == {"mentioned_only", "helper", "test_only", "WIDTH"}


def _unset_knobs(root: Path = ROOT, package: Path = PACKAGE) -> set[str]:
    """`function.param` for every defaulted parameter of a top-level
    function in `package` that no call in code or tests passes anything
    but its default (compared as `ast.unparse` text). A call binds
    positional and keyword arguments, and `submit(fn, …)` and
    `partial(fn, …)` bind the arguments after `fn`; a function called
    anywhere with `*args` or `**kwargs` is skipped, as its binding is
    unknown."""
    knobs = {}  # function → (positional names, {param: default text})
    for path in sorted(package.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            defaults = dict(zip(positional[::-1], map(ast.unparse, a.defaults[::-1])))
            defaults.update(
                (p.arg, ast.unparse(d))
                for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            )
            if defaults:
                knobs[node.name] = (positional, defaults)
    callers = {*root.glob("*.py"), *package.rglob("*.py")}
    for sub in ("scripts", "perfbench", "tests"):
        callers.update((root / sub).rglob("*.py"))
    set_somewhere, unbound = set(), set()
    for path in sorted(callers):
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, call.args
            name = getattr(func, "id", getattr(func, "attr", None))
            if name in ("submit", "partial") and args:
                func, args = args[0], args[1:]
                name = getattr(func, "id", getattr(func, "attr", None))
            if name not in knobs:
                continue
            if any(isinstance(a, ast.Starred) for a in args) or any(
                k.arg is None for k in call.keywords
            ):
                unbound.add(name)
                continue
            positional, defaults = knobs[name]
            bound = list(zip(positional, args))
            bound += [(k.arg, k.value) for k in call.keywords]
            set_somewhere.update(
                f"{name}.{p}" for p, v in bound
                if p in defaults and ast.unparse(v) != defaults[p]
            )
    return {
        f"{name}.{p}"
        for name, (_, defaults) in knobs.items() if name not in unbound
        for p in defaults
    } - set_somewhere


def test_no_unset_knobs():
    """A defaulted parameter that every caller leaves at its default is a
    constant: inline its value and delete what only another value ran."""
    assert _unset_knobs() == set()


def test_knob_guard_binds_calls_and_skips_unknown_bindings(tmp_path):
    """The knob scanner over a synthetic package: a knob no call passes, or
    passes only as its default literal, is reported; a non-default value
    from a test, through `pool.submit(fn, …)` or through `partial(fn, …)`
    sets it; a `**kwargs` call exempts the whole function."""
    package = tmp_path / "pkg"
    package.mkdir()
    (package / "__init__.py").write_text("")
    (package / "mod.py").write_text(
        "def unset(x, width=3):\n"
        "    return x * width\n"
        "def default_only(x, mode='a'):\n"
        "    return x\n"
        "def tested(x, limit=10):\n"
        "    return x\n"
        "def pooled(x, n=1):\n"
        "    return x\n"
        "def bound(x, n=1):\n"
        "    return x\n"
        "def spread(x, flag=False):\n"
        "    return x\n"
    )
    (tmp_path / "main.py").write_text(
        "from functools import partial\n"
        "from pkg.mod import bound, default_only, pooled, spread, unset\n"
        "unset(1)\n"
        "default_only(1, mode='a')\n"
        "pool.submit(pooled, 1, 5)\n"
        "partial(bound, 1, n=2)\n"
        "spread(1, **opts)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from pkg.mod import tested\n"
        "tested(1, limit=3)\n"
    )
    assert _unset_knobs(tmp_path, package) == {"unset.width", "default_only.mode"}
