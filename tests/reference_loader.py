"""Load the read-only reference implementation for behavioral parity tests.

The reference CLI imports `rich` (not installed here); we stub just enough
of it to import the pure parse functions. We only *run* the reference to
generate expected values — no reference code is copied.
"""

from __future__ import annotations

import sys
import types

_loaded = None


class _Anything:
    def __init__(self, *a, **kw):
        pass

    def __call__(self, *a, **kw):
        return self

    def __getattr__(self, name):
        return _Anything()


def load_reference():
    """Import /root/reference/parse_avc.py with rich stubbed. Returns the
    module, or None if unavailable (tests then skip)."""
    global _loaded
    if _loaded is not None:
        return _loaded or None
    try:
        if "rich" not in sys.modules:
            subs = [
                "align", "console", "rule", "panel", "table", "text",
                "columns", "box", "markup", "style", "theme", "padding",
                "layout", "live", "progress", "syntax", "tree", "pager",
                "errors", "highlighter", "markdown",
            ]
            root = types.ModuleType("rich")
            root.__getattr__ = lambda n: _Anything
            sys.modules["rich"] = root
            for s in subs:
                m = types.ModuleType(f"rich.{s}")
                m.__getattr__ = lambda n: _Anything
                sys.modules[f"rich.{s}"] = m
                setattr(root, s, m)
        if "/root/reference" not in sys.path:
            sys.path.insert(0, "/root/reference")
        import parse_avc  # noqa: PLC0415

        _loaded = parse_avc
    except Exception:  # noqa: BLE001
        _loaded = False
    return _loaded or None
