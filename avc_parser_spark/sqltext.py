"""Spark SQL text for the expression trees built in Python.

Building a Catalyst expression from Python one ``F.lit``/``F.col``/``.when``
at a time costs one py4j round trip per node, so a few-hundred-node
cascade costs more time to build than a small partition takes to run.
Rendered as SQL text (once per process) and parsed JVM-side in one call,
the same tree costs one round trip. Every string literal taken from a table
or holding ``\\``, ``'`` or ``$`` goes through `sql_str`; fixed plain words
may be written in the text.
"""

from __future__ import annotations

from collections.abc import Iterable


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. The parser unescapes backslash
    sequences inside literals, so ``\\`` is escaped as well as ``'``; and
    variable substitution rewrites ``${name}`` anywhere in the text before
    it is parsed, so ``$`` goes in as the escape ``\\u0024``."""
    return (
        "'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
        + "'"
    )


def sql_in(col: str, values: Iterable[str]) -> str:
    """``col IN ('v1', 'v2', ...)`` over string literals."""
    return f"{col} IN ({', '.join(map(sql_str, values))})"
