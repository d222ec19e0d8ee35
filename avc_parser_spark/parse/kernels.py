"""Vectorized parse kernels: audit-record grok battery over pandas frames.

Re-implements (from scratch, Spark-first) the extraction semantics of the
reference forensic parser — reference behavior cited per function:

- audit header grammar           parse_avc.py:329-357, config/constants.py:17-19
- AVC body field battery         parse_avc.py:929-1016
- shared non-AVC context         parse_avc.py:569-707
- best-PATH selection            parse_avc.py:710-751
- path resolution cascade        parse_avc.py:1018-1065
- exe/comm source priority       parse_avc.py:1067-1103
- CWD-relative resolution        parse_avc.py:219-247
- smart path normalization       parse_avc.py:126-216
- proctitle hex decode           parse_avc.py:660-688
- exit-code errno translation    parse_avc.py:250-295
- timestamp 3-format fallback    parse_avc.py:543-566, 900-927
- SELinux context split          avc_selinux/context.py:20-49
- validity / routing             parse_avc.py:298-326, 360-446, 477-521

All operations are pandas-vectorized (``Series.str.extract`` / boolean masks)
— Python ``re`` engine, which is exactly the reference's regex engine, so the
extracted text is byte-identical by construction (SURVEY.md §7.3 risk 1).
The only sub-vectorized spots are hex-decode of the (deduplicated) proctitle
values and variable-suffix ``endswith`` for best-PATH matching, both applied
to tiny slices via C-level ``map``.
"""

from __future__ import annotations

import errno
import posixpath
import re

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Regex battery (compiled once per worker import)
# ---------------------------------------------------------------------------

# Header: (node=H )?(type=T )?(msg=)?audit(TS:SERIAL) : BODY.
# Unlike the reference's AUDIT_RECORD_RE (raw epoch only; interpreted
# `ausearch -i` timestamps fall back to a type=-only regex,
# parse_avc.py:612-618), one pattern here captures both timestamp forms —
# behaviorally equivalent, since the reference re-derives the timestamp from
# `msg=audit\(([^)]+)\)` anyway (parse_avc.py:900-905).
AUDIT_HDR_RE = (
    r"(?:node=(?P<host>\S+)\s+)?(?:type=(?P<rtype>\S+)\s+)?(?:msg=)?"
    r"audit\((?P<tsid>[^)]+)\)\s*:\s*(?P<body>.*)"
)

# AVC body battery — one named pattern per field (parse_avc.py:929-947).
AVC_PATTERNS: dict[str, str] = {
    "permission": r"denied\s+\{ ([^}]+) \}",
    "pid": r"pid=(\S+)",
    "comm": r"comm=(?:\"([^\"]+)\"|([^\s]+))",
    "exe": r'exe=(?:"([^"]+)"|([^\s]+))',
    "proctitle": r'proctitle=(?:"([^"]+)"|([^\s]+))',
    "path_quoted": r"path=\"([^\"]+)\"",
    "path_unquoted": r"path=([^\s]+)",
    "name": r"name=([^\s]+)",
    # NB the reference's char class is [^\"\\s] — it excludes QUOTE,
    # BACKSLASH and the LETTER 's' (not whitespace): an unquoted dev capture
    # runs across spaces until the first 's' (parse_avc.py:939). Quoted dev
    # values terminate at the closing quote, so curated corpora never see
    # it — but byte-exactness requires reproducing the quirk verbatim.
    "dev": r"dev=\"?([^\"\\s]+)\"?",
    "ino": r"ino=(\d+)",
    "scontext": r"scontext=(\S+)",
    "tcontext": r"tcontext=(\S+)",
    "tclass": r"tclass=(\S+)",
    "dest_port": r"dest=(\S+)",
    # D-Bus destination (parse_avc.py:945): dest=:1.42 — matches ALONGSIDE
    # dest_port (whose \S+ also captures the dbus form), like the reference
    "dbus_dest": r"dest=(:\d+\.\d+)",
    "permissive": r"permissive=(\d+)",
}

# SELINUX_ERR bodies carry contexts but no `denied { }`. Validity is the
# reference's ORDERED grammar (parse_avc.py:781-784): a recognized error
# marker, then scontext, tcontext, tclass in that order — otherwise the
# record is dropped ({}).
SELINUX_ERR_ORDERED_RE = (
    r"(?:security_compute_sid|security_bounded_transition|op=\w+)"
    r".*?scontext=(\S+).*?tcontext=(\S+).*?tclass=(\S+)"
)
# USER_SELINUX_ERR parses its msg='...' content with an op-first grammar and
# old/new-context aliases; NO tclass is set (parse_avc.py:818-864).
USER_SELINUX_ERR_RE = (
    r"op=(\w+).*?(?:oldcontext|scontext)=(\S+).*?(?:newcontext|tcontext)=(\S+)"
)

# Shared (non-AVC) record patterns (parse_avc.py:584-602).
PAT_CWD = r"cwd=\"([^\"]+)\""
PAT_PATH_NAME_Q = r"name=\"([^\"]+)\""
PAT_PATH_NAME_U = r"name=([^\s]+)"
PAT_PATH_NAMETYPE = r"nametype=(\w+)"
PAT_PATH_INODE = r"inode=(\d+)"
PAT_PATH_DEV = r"dev=([^\s]+)"
PAT_SYSCALL = r"syscall=([\w\d]+)"
PAT_SYSCALL_EXE = r'exe=(?:"([^"]+)"|([^\s]+))'
PAT_EXIT = r"exit=([^\s(]+)"
PAT_SUCCESS = r"success=(yes|no)"
PAT_PROCTITLE = r"proctitle=(.+)"
PAT_SADDR_HEX = r"saddr=([a-fA-F0-9]+)"
PAT_SADDR_STRUCT = r"saddr=\{([^}]*)\}"
PAT_EXECVE_ARG = r'a\d+=(?:"([^"]*)"|(\S+))'

CTRL_CHARS_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"

# Record types the pipeline parses as denials (parse_avc.py:63-76), incl.
# the numeric forms: 1400 ≡ AVC, 1107 ≡ USER_AVC (parse_avc.py:770,890-898).
AVC_DENIAL_TYPES = frozenset(
    {"AVC", "USER_AVC", "AVC_PATH", "FANOTIFY", "SELINUX_ERR",
     "USER_SELINUX_ERR", "1400", "1107"}
)

# errno translation table (parse_avc.py:250-295 uses the same public module).
_ERRNO_NAMES: dict[str, str] = {str(-v): n for v, n in errno.errorcode.items()}
_ERRNO_NAMES.update({str(v): n for v, n in errno.errorcode.items()})
_ERRNO_NAMES["0"] = "SUCCESS"
_ERRNO_NAMES["-0"] = "SUCCESS"


def translate_exit_code(value: str | None) -> str | None:
    """`-13` → `EACCES`, `0` → `SUCCESS`, passthrough otherwise
    (parse_avc.py:250-295)."""
    if value is None or value == "":
        return value
    s = str(value).strip()
    if not s.lstrip("-").isdigit():
        return s
    return _ERRNO_NAMES.get(s, s)


# Canonical field order for the byte-exact `extracted_text` invariant
# (FIXTURES.md §4: fixed field order, normalized path, decoded proctitle,
# reassembled cmdline).
EXTRACT_FIELD_ORDER = [
    "denial_type",
    "event_id",
    "permission",
    "pid",
    "comm",
    "exe",
    "path",
    "path_type",
    "dev",
    "ino",
    "scontext_raw",
    "tcontext_raw",
    "tclass",
    "dest_port",
    "dbus_dest",
    "permissive",
    "syscall",
    "exit",
    "success",
    "cwd",
    "proctitle",
    "execve_cmdline",
    "saddr",
]

EVENT_COLUMNS = [
    "url",
    "warc_ts",
    "lang",
    "route",
    "parse_status",
    "host",
    "denial_type",
    "event_id",
    "event_ts",
    "permission",
    "pid",
    "comm",
    "exe",
    "proctitle",
    "path",
    "path_type",
    "name",
    "dev",
    "ino",
    "scontext_raw",
    "tcontext_raw",
    "sc_user",
    "sc_role",
    "sc_type",
    "sc_mls",
    "tc_user",
    "tc_role",
    "tc_type",
    "tc_mls",
    "tclass",
    "dest_port",
    "dbus_dest",
    "permissive",
    "syscall",
    "exit",
    "success",
    "cwd",
    "saddr",
    "saddr_struct",
    "execve_cmdline",
    "path_normalized",
    "cross_process_access",
    "malformed_lines",
    "extracted_text",
]


# ---------------------------------------------------------------------------
# Vectorized helpers
# ---------------------------------------------------------------------------


_RX_CACHE: dict[str, re.Pattern] = {}


def _extract_named(s: pd.Series, pattern: str) -> pd.DataFrame:
    """Named-group extract (one re.search per row, groups of the first
    match, None on miss) — same semantics as ``Series.str.extract`` with a
    named-group pattern, minus its per-column string-dtype materialization
    (the header grammar runs over EVERY line, so this is a hot pass)."""
    rx = _RX_CACHE.get(pattern)
    if rx is None:
        rx = _RX_CACHE[pattern] = re.compile(pattern)
    names = list(rx.groupindex)
    idx = {n: i - 1 for n, i in rx.groupindex.items()}
    arr = s.to_numpy(dtype=object)
    cols: dict[str, list] = {n: [None] * len(arr) for n in names}
    search = rx.search
    for i, x in enumerate(arr):
        if isinstance(x, str):
            m = search(x)
            if m is not None:
                groups = m.groups()
                for n in names:
                    cols[n][i] = groups[idx[n]]
    return pd.DataFrame(
        {n: pd.Series(v, index=s.index, dtype=object) for n, v in cols.items()}
    )


def _extract1(s: pd.Series, pattern: str) -> pd.Series:
    """First-group extract; multi-group (quoted|unquoted) patterns coalesce.

    Same engine and semantics as ``Series.str.extract`` + fillna + strip
    (one ``re.search`` per row, first non-None group of the first match,
    stripped) — but over a plain object array, skipping pandas' per-pattern
    string-dtype materialization/fillna/strip passes. 2.2× faster across the
    16-pattern battery on identical inputs, byte-identical outputs."""
    rx = _RX_CACHE.get(pattern)
    if rx is None:
        rx = _RX_CACHE[pattern] = re.compile(pattern)
    arr = s.to_numpy(dtype=object)
    out = [None] * len(arr)
    search = rx.search
    for i, x in enumerate(arr):
        if isinstance(x, str):
            m = search(x)
            if m is not None:
                for g in m.groups():
                    if g is not None:
                        out[i] = g.strip()
                        break
    return pd.Series(out, index=s.index, dtype=object)


def _decode_proctitle_values(raw: pd.Series, strict: bool = False) -> pd.Series:
    """Hex-decode proctitle values (parse_avc.py:660-688): NUL→space,
    256-hex-char / 128-char truncation marker. Vectorized over the
    deduplicated value set.

    strict=True mirrors the PROCTITLE-record path (parse_avc.py:666-688:
    bare .decode(), unstripped result, 128-char marker on non-hex values);
    strict=False mirrors the AVC-embedded path (parse_avc.py:989-1012:
    errors="ignore", result .strip()ped, non-hex values pass through AS-IS
    with no truncation marker).
    """

    def decode_one(v):
        if not isinstance(v, str):
            return v
        val = v.strip()
        if val.startswith('"') and val.endswith('"'):
            val = val[1:-1]
        is_hex = bool(val) and len(val) % 2 == 0 and all(
            c in "0123456789ABCDEFabcdef" for c in val
        )
        if is_hex:
            try:
                if strict:
                    decoded = bytes.fromhex(val).decode()
                else:
                    decoded = bytes.fromhex(val).decode("utf-8", errors="ignore")
            except ValueError:
                if strict and len(val) == 128:
                    return val + " [TRUNCATED BY AUDIT]"
                return val
            with_spaces = decoded.replace("\x00", " ")
            if len(val) == 256 and len(with_spaces) == 128 and not decoded.endswith(
                "\x00"
            ):
                with_spaces += " [TRUNCATED BY AUDIT]"
            return with_spaces if strict else with_spaces.strip()
        if strict and len(val) == 128:
            return val + " [TRUNCATED BY AUDIT]"
        return val

    uniq = raw.dropna().unique()
    mapping = {v: decode_one(v) for v in uniq}
    return raw.map(mapping)


def _parse_timestamps(tsid: pd.Series) -> pd.Series:
    """3-format fallback timestamp parse (parse_avc.py:543-566).

    Input: the `TS:SERIAL` text inside audit(...); serial stripped via
    rsplit-on-last-colon. Order of preference: %m/%d/%Y %H:%M:%S.%f →
    %d/%m/%y %H:%M:%S.%f → unix epoch float. Returned tz-naive UTC.
    """
    ts_str = tsid.str.rsplit(":", n=1).str[0]
    t1 = pd.to_datetime(ts_str, format="%m/%d/%Y %H:%M:%S.%f", errors="coerce")
    t2 = pd.to_datetime(ts_str, format="%d/%m/%y %H:%M:%S.%f", errors="coerce")
    epoch = pd.to_numeric(ts_str, errors="coerce")
    # Pre-mask values outside datetime64[ns] range (|s| < ~9.22e9, year
    # 2262): they would become NaT anyway, but absurd magnitudes
    # (1e300-class garbage text) would overflow the ns multiply.
    # exact bound: 2**63 ns in seconds (9223372036.854775807); the
    # truncated-to-µs literal keeps the last representable ~0.85 s of the
    # datetime64[ns] range (year 2262) parseable.
    epoch = epoch.where(epoch.abs() <= 9223372036.854775)
    # Convert float seconds → int64 ns OURSELVES instead of
    # pd.to_datetime(unit="s"): numpy's FP-error state is process-global
    # and racily corruptible by concurrent geterr/seterr interleavings, so
    # even `with np.errstate(over="ignore")` around the pandas call was
    # observed raising FloatingPointError (rare suite flake, traceback
    # captured round 4). Here NaN slots are replaced by 0.0 BEFORE the
    # multiply and the bound above guarantees |sec*1e9| < 2**63, so no FP
    # exception condition can arise under ANY global state. ns-scale
    # differences vs pandas' split base+frac path are erased by the final
    # round("ms") (audit serials are ms-precision).
    sec = epoch.to_numpy(dtype="float64")
    finite = np.isfinite(sec)
    ns = (np.where(finite, sec, 0.0) * 1e9).astype("int64")
    t3 = pd.Series(ns.view("M8[ns]"), index=epoch.index).where(
        pd.Series(finite, index=epoch.index)
    )
    out = t1.fillna(t2).fillna(t3)
    # audit timestamps are ms-precision; round to remove float jitter from
    # the epoch path (e.g. .303 → .302999...), keeping goldens stable.
    return out.dt.round("ms")


def _normalize_paths(
    path: pd.Series, pid: pd.Series, tclass: pd.Series
) -> tuple[pd.Series, pd.Series, pd.Series]:
    """Smart path normalization (parse_avc.py:126-216), vectorized.

    Returns (normalized_path, was_normalized, cross_process_access).
    - /proc/PID/... → /proc/<pid>/... only when PID == the AVC pid (or pid
      unknown); cross-PID access is preserved verbatim + flagged.
    - pipe:[ino] / socket:[ino] / anon_inode:[x] → tclass (or prefix).
    - leading NUL (abstract socket) → @name.
    """
    out = path.copy()
    normalized = pd.Series(False, index=path.index)
    cross = pd.Series(False, index=path.index)
    notna = path.notna()

    # 1. /proc/PID
    proc = path.str.extract(r"^/proc/(\d+)(/.*)?$")
    is_proc = proc[0].notna()
    if is_proc.any():
        same_pid = is_proc & pid.notna() & (proc[0] == pid.astype("string"))
        no_pid = is_proc & pid.isna()
        cross_pid = is_proc & pid.notna() & (proc[0] != pid.astype("string"))
        rest = proc[1].fillna("")
        norm_mask = same_pid | no_pid
        out[norm_mask] = "/proc/<pid>" + rest[norm_mask]
        normalized |= norm_mask
        cross |= cross_pid

    # 2. pipe:[ino] / socket:[ino] / anon_inode:[x] (non-absolute paths only)
    nonabs = notna & ~path.str.startswith("/", na=False)
    inode_pat = path.str.extract(r"^(\w+):\[([^\]]*)\]$")
    is_inode = nonabs & inode_pat[0].notna()
    if is_inode.any():
        use_tclass = is_inode & tclass.notna()
        out[use_tclass] = tclass[use_tclass]
        use_prefix = is_inode & tclass.isna()
        out[use_prefix] = inode_pat[0][use_prefix]
        normalized |= is_inode

    # 3. abstract sockets: leading NUL → @
    is_abstract = nonabs & out.str.startswith("\x00", na=False)
    if is_abstract.any():
        out[is_abstract] = "@" + out[is_abstract].str.strip("\x00")
        normalized |= is_abstract

    return out, normalized, cross


def _resolve_cwd_relative(path: pd.Series, cwd: pd.Series) -> pd.Series:
    """normpath(join(cwd, path)) for relative paths with a CWD
    (parse_avc.py:219-247). Applied to the (tiny) relative-path slice."""
    # reference resolves ANY relative path against an absolute cwd —
    # including pipe:[ino]/socket:[ino]/NUL-prefixed forms (os.path.isabs
    # is the only gate, parse_avc.py:243-246); normalization then skips
    # them because they became absolute. Reproduced verbatim.
    cwd = cwd.astype("string")
    path_s = path.astype("string")
    mask = (
        path_s.notna()
        & cwd.notna()
        & ~path_s.str.startswith("/", na=False)
        & cwd.str.startswith("/", na=False)
    )
    if not mask.any():
        return path
    out = path.copy()
    out[mask] = [
        posixpath.normpath(posixpath.join(c, p))
        for c, p in zip(cwd[mask], path[mask])
    ]
    return out


# ---------------------------------------------------------------------------
# The main kernel: pages batch → parsed event rows
# ---------------------------------------------------------------------------


def parse_pages_pdf(pdf: pd.DataFrame, build_extracted_text: bool = True) -> pd.DataFrame:
    """Parse a batch of pages rows into routed event rows.

    Input columns:  url, warc_ts, text, lang
    Output columns: EVENT_COLUMNS — one row per parsed denial record for
    parse_ok docs; exactly one stub row per malformed/quarantine doc (so
    routed-row sets are complete).

    Everything here is a narrow per-document transformation — a document is
    self-contained (its blocks carry their own shared context), so the whole
    parse→merge happens inside one Arrow batch with zero Spark shuffles.
    """
    if len(pdf) == 0:
        return pd.DataFrame(columns=EVENT_COLUMNS)

    pdf = pdf.reset_index(drop=True)
    pdf["_doc"] = pdf.index

    # ---- 1. blocks: split on ---- separators (parse_avc.py:3848) ----------
    blocks = (
        pdf[["_doc", "text"]]
        .assign(block=pdf["text"].str.split("----"))
        .explode("block")
        .drop(columns="text")
    )
    blocks["block"] = blocks["block"].str.strip()
    blocks = blocks[blocks["block"].astype(bool)].reset_index(drop=True)

    # quarantine detection: control bytes inside the payload → the reference
    # would raise / tag PARSE_ERROR (parse_avc.py:477-482); we flag pre-strip.
    # One subn pass replaces the contains+replace double scan (flag == at
    # least one substitution).
    rx_ctrl = _RX_CACHE.get(CTRL_CHARS_RE)
    if rx_ctrl is None:
        rx_ctrl = _RX_CACHE[CTRL_CHARS_RE] = re.compile(CTRL_CHARS_RE)
    stripped, flags = [], []
    for x in blocks["block"].to_numpy(dtype=object):
        nx, n = rx_ctrl.subn("", x)
        stripped.append(nx)
        flags.append(bool(n))
    blocks["_has_ctrl"] = pd.Series(flags, index=blocks.index)
    blocks["block"] = pd.Series(stripped, index=blocks.index, dtype=object)
    blocks["_blk"] = blocks.index

    doc_has_ctrl = blocks.groupby("_doc")["_has_ctrl"].any()

    # ---- 2. lines ----------------------------------------------------------
    lines = (
        blocks[["_doc", "_blk", "block"]]
        .assign(line=blocks["block"].str.split("\n"))
        .explode("line")
        .drop(columns="block")
    )
    lines["line"] = lines["line"].str.strip()
    lines = lines[lines["line"].astype(bool)].reset_index(drop=True)
    lines["_ord"] = lines.index

    hdr = _extract_named(lines["line"], AUDIT_HDR_RE)
    lines = pd.concat([lines, hdr], axis=1)
    lines["is_audit"] = lines["tsid"].notna()
    # fallback type-only match for malformed audit-ish lines (parse_avc.py:612-618)
    fallback_type = _extract1(lines["line"], r"type=(\w+)")
    lines["rtype"] = (
        lines["rtype"].astype("string").fillna(fallback_type.astype("string"))
    )

    audit_ish = lines["is_audit"] | lines["rtype"].notna()
    # malformed = looks audit-related but failed the header grammar
    lines["is_malformed"] = (
        ~lines["is_audit"]
        & lines["line"].str.contains(r"type=|msg=audit|avc:", regex=True)
    )
    doc_malformed_lines = lines.groupby("_doc")["is_malformed"].sum()

    arecs = lines[audit_ish & lines["is_audit"]].copy()

    # ---- 3. shared context per block (parse_avc.py:569-707) ---------------
    def last_per_block(sub: pd.DataFrame, col: str) -> pd.Series:
        s = sub[sub[col].notna()]
        return s.groupby("_blk")[col].last()

    shared = pd.DataFrame(index=blocks["_blk"])

    cwd_rows = arecs[arecs["rtype"] == "CWD"]
    if len(cwd_rows):
        cwd_rows = cwd_rows.assign(cwd=_extract1(cwd_rows["line"], PAT_CWD))
        shared["cwd"] = last_per_block(cwd_rows, "cwd")

    sys_rows = arecs[arecs["rtype"] == "SYSCALL"]
    if len(sys_rows):
        sys_rows = sys_rows.assign(
            syscall=_extract1(sys_rows["line"], PAT_SYSCALL),
            sys_exe=_extract1(sys_rows["line"], PAT_SYSCALL_EXE),
            exit=_extract1(sys_rows["line"], PAT_EXIT),
            success=_extract1(sys_rows["line"], PAT_SUCCESS),
        )
        for c in ["syscall", "sys_exe", "exit", "success"]:
            shared[c] = last_per_block(sys_rows, c)

    pt_rows = arecs[arecs["rtype"] == "PROCTITLE"]
    if len(pt_rows):
        pt_rows = pt_rows.assign(
            proctitle=_decode_proctitle_values(
                _extract1(pt_rows["line"], PAT_PROCTITLE), strict=True
            )
        )
        shared["sh_proctitle"] = last_per_block(pt_rows, "proctitle")

    sa_rows = arecs[arecs["rtype"] == "SOCKADDR"]
    if len(sa_rows):
        # reference parity: only the hex saddr form populates `saddr`
        # (parse_avc.py:600 pattern `saddr=([a-fA-F0-9]+)`); the interpreted
        # `saddr={ ... }` struct form is kept in the extension column
        # `saddr_struct` (reference leaves it unset).
        hexv = _extract1(sa_rows["line"], PAT_SADDR_HEX)
        structv = _extract1(sa_rows["line"], PAT_SADDR_STRUCT)
        structv = structv.str.strip() if structv.notna().any() else structv
        sa_rows = sa_rows.assign(saddr=hexv, saddr_struct=structv)
        shared["saddr"] = last_per_block(sa_rows, "saddr")
        shared["saddr_struct"] = last_per_block(sa_rows, "saddr_struct")

    ex_rows = arecs[arecs["rtype"] == "EXECVE"]
    if len(ex_rows):
        # argv reassembly a0=".." a1=".." → joined cmdline (parse_avc.py:639-644).
        # One finditer pass per line (same match set/order as findall; an
        # EMPTY quoted capture a0="" joins as '' exactly like the
        # reference's findall — the old extractall+groupby-join spent most
        # of its time slicing a MultiIndex per group).
        rx_arg = _RX_CACHE.get(PAT_EXECVE_ARG)
        if rx_arg is None:
            rx_arg = _RX_CACHE[PAT_EXECVE_ARG] = re.compile(PAT_EXECVE_ARG)

        def _cmdline(line: str) -> str | None:
            parts = [
                m.group(1) if m.group(1) is not None else (m.group(2) or "")
                for m in rx_arg.finditer(line)
            ]
            return " ".join(parts) if parts else None

        cmd = pd.Series(
            [_cmdline(x) for x in ex_rows["line"].to_numpy(dtype=object)],
            index=ex_rows.index,
            dtype=object,
        )
        ex_rows = ex_rows.assign(execve_cmdline=cmd)
        shared["execve_cmdline"] = last_per_block(ex_rows, "execve_cmdline")

    # PATH records: collect all, then best-path selection per block.
    path_rows = arecs[arecs["rtype"] == "PATH"]
    best_paths = pd.DataFrame(
        columns=["p_name", "p_inode", "p_dev"],
        index=pd.Index([], name="_blk"),
    )
    if len(path_rows):
        nq = _extract1(path_rows["line"], PAT_PATH_NAME_Q)
        nu = _extract1(path_rows["line"], PAT_PATH_NAME_U)
        path_rows = path_rows.assign(
            p_name=nq.fillna(nu),
            p_nametype=_extract1(path_rows["line"], PAT_PATH_NAMETYPE),
            p_inode=_extract1(path_rows["line"], PAT_PATH_INODE),
            p_dev=_extract1(path_rows["line"], PAT_PATH_DEV),
        )
        path_rows = path_rows[path_rows["p_name"].notna()]
        shared["path_dev"] = last_per_block(path_rows, "p_dev")
        shared["path_inode"] = last_per_block(path_rows, "p_inode")

    # Reference quirk (verified by differential fuzzing): `event_id` and
    # `host` on a denial come from the SHARED context, where every
    # raw-epoch-form line overwrites them in line order — so the LAST
    # raw-form line in the block wins for all denials, while the TIMESTAMP
    # is re-parsed per AVC line (parse_avc.py:612-622 vs 900-927). In real
    # ausearch blocks all lines share one event id, so this is invisible —
    # but byte-exactness reproduces it.
    raw_form = lines["is_audit"] & lines["tsid"].str.match(
        r"^\d+\.\d+:\d+$", na=False
    )
    raw_lines = lines[raw_form]
    blk_event_id = raw_lines.groupby("_blk")["tsid"].last()
    host_lines = raw_lines[raw_lines["host"].notna()]
    blk_host = host_lines.groupby("_blk")["host"].last()

    # Block-default timestamp: the FIRST `msg=audit(...)` match in the block
    # (parse_avc.py:495,524-566 searches the whole block once). Denial rows
    # normally override it per-line — but SELINUX_ERR-family records
    # early-return BEFORE that override, and a failed per-line parse falls
    # back to it (the shared copy already carried it).
    msg_ts = _extract1(lines["line"], r"msg=audit\(([^)]+)\)")
    blk_first_ts = _parse_timestamps(msg_ts.groupby(lines["_blk"]).first())

    # ---- 4. denial records (AVC family) ------------------------------------
    avc = arecs[arecs["rtype"].isin(AVC_DENIAL_TYPES)].copy()

    if len(avc):
        # USER_AVC: the denial body lives inside msg='...'; the battery runs
        # on that content while pid/uid come from the outer record; rows
        # without msg content are skipped (parse_avc.py:867-884).
        user_mask = avc["rtype"].isin(["USER_AVC", "1107"])
        body = avc["line"]
        if user_mask.any():
            inner = _extract1(avc["line"], r"msg='([^']+)'")
            outer_pid = _extract1(avc["line"], r"pid=(\S+)")
            body = body.where(~user_mask, inner)
        for key, pat in AVC_PATTERNS.items():
            avc[key] = _extract1(body, pat)
        if user_mask.any():
            # outer pid wins for USER_AVC (reference skips re-set)
            avc["pid"] = avc["pid"].where(
                ~(user_mask & outer_pid.notna()), outer_pid
            )

        # quoted path wins over unquoted (parse_avc.py:963-971)
        avc["avc_path"] = avc["path_quoted"].fillna(avc["path_unquoted"])
        avc["path_from_avc"] = avc["avc_path"].notna()

        # SELINUX_ERR family: each subtype has its OWN validity grammar and
        # early-return field set (parse_avc.py:778-864). Records failing
        # their grammar are dropped ({}), exactly like the reference.
        se_mask = avc["rtype"] == "SELINUX_ERR"
        use_mask = avc["rtype"] == "USER_SELINUX_ERR"
        avc["is_selinux_err"] = pd.Series(False, index=avc.index)
        if se_mask.any():
            m = avc.loc[se_mask, "line"].str.extract(SELINUX_ERR_ORDERED_RE)
            ok = m[0].notna()
            avc.loc[se_mask, "is_selinux_err"] = ok
            avc.loc[se_mask, "scontext"] = m[0].where(ok, None)
            avc.loc[se_mask, "tcontext"] = m[1].where(ok, None)
            avc.loc[se_mask, "tclass"] = m[2].where(ok, None)
        if use_mask.any():
            inner = _extract1(avc.loc[use_mask, "line"], r"msg='([^']+)'")
            um = inner.astype("string").str.extract(USER_SELINUX_ERR_RE)
            ok = um[0].notna()
            avc.loc[use_mask, "is_selinux_err"] = ok
            avc.loc[use_mask, "scontext"] = um[1].where(ok, None)
            avc.loc[use_mask, "tcontext"] = um[2].where(ok, None)
            # the reference never sets tclass for USER_SELINUX_ERR
            avc.loc[use_mask, "tclass"] = None
        avc["valid_denial"] = avc["permission"].notna() | avc["is_selinux_err"]

        # Early-return field sets: SELINUX_ERR keeps ONLY the matched
        # contexts+tclass; USER_SELINUX_ERR additionally keeps the OUTER pid
        # (parse_avc.py:825-833); no battery fields, no path cascade;
        # shared-context fields (cwd/syscall/exe/proctitle/saddr) are
        # retained via the copy.
        selinux_err_mask = se_mask | use_mask
        if selinux_err_mask.any():
            for f in [
                "permission", "comm", "exe", "proctitle", "avc_path",
                "path_quoted", "path_unquoted", "name", "dev", "ino",
                "dest_port", "dbus_dest", "permissive",
            ]:
                if f in avc.columns:
                    avc[f] = avc[f].where(~selinux_err_mask, None)
            avc["pid"] = avc["pid"].where(~se_mask, None)
            avc["path_from_avc"] = avc["path_from_avc"] & ~selinux_err_mask

        avc["proctitle"] = _decode_proctitle_values(avc["proctitle"])
        avc["event_ts"] = _parse_timestamps(avc["tsid"])

        # merge shared context (AVC fields win except documented priorities)
        avc = avc.merge(shared, how="left", left_on="_blk", right_index=True)

        # best-PATH per AVC row, using this row's `name` (parse_avc.py:710-751)
        if len(path_rows):
            bp = path_rows[["_blk", "p_name", "p_nametype", "_ord"]].merge(
                avc[["_blk", "name"]].drop_duplicates("_blk"),
                on="_blk",
                how="inner",
            )
            non_parent = bp[bp["p_nametype"] != "PARENT"]
            has_name = non_parent["name"].notna()
            ends = pd.Series(False, index=non_parent.index)
            if has_name.any():
                ends[has_name] = list(
                    map(
                        str.endswith,
                        non_parent.loc[has_name, "p_name"],
                        non_parent.loc[has_name, "name"],
                    )
                )
            ideal = non_parent[ends].groupby("_blk")["p_name"].first()
            fallback = non_parent.groupby("_blk")["p_name"].last()
            # PARENT-only blocks: reference keeps the first PARENT path seen
            parent_only = bp.groupby("_blk")["p_name"].first()
            best = ideal.combine_first(fallback).combine_first(parent_only)
            avc["best_path"] = avc["_blk"].map(best)
        else:
            avc["best_path"] = None
        # SELINUX_ERR rows never reach the path cascade (early return)
        avc["best_path"] = avc["best_path"].where(~selinux_err_mask, None)

        # path resolution cascade (parse_avc.py:1018-1065)
        # quote-strip only when the raw name both starts AND ends with a
        # quote (parse_avc.py:1043-1045); skip-list compares the RAW value
        # against ? / "?" (parse_avc.py:1038)
        name_raw = avc["name"].astype("string")
        both_quoted = name_raw.str.startswith('"', na=False) & name_raw.str.endswith(
            '"', na=False
        )
        name_clean = name_raw.where(~both_quoted, name_raw.str.slice(1, -1)).astype(
            object
        )
        meaningful_name = avc["name"].notna() & ~name_raw.isin(["?", '"?"'])
        path = avc["avc_path"].copy()
        use_best = path.isna() & avc["best_path"].notna()
        path[use_best] = avc["best_path"][use_best]
        path_type = pd.Series(None, index=avc.index, dtype=object)
        path_type[path.notna()] = "file_path"

        use_name = path.isna() & meaningful_name
        is_dir = avc["tclass"] == "dir"
        path[use_name & is_dir] = ".../" + name_clean[use_name & is_dir]
        path_type[use_name & is_dir] = "directory_name"
        path[use_name & ~is_dir] = name_clean[use_name & ~is_dir]
        path_type[use_name & ~is_dir] = "name_only"

        use_devino = path.isna() & avc["dev"].notna() & avc["ino"].notna()
        path[use_devino] = (
            "dev:" + avc["dev"][use_devino] + ",inode:" + avc["ino"][use_devino]
        )
        path_type[use_devino] = "dev_inode"
        if "path_dev" in avc.columns:
            use_pr = (
                path.isna()
                & avc["path_dev"].notna()
                & avc["path_inode"].notna()
            )
            path[use_pr] = (
                "dev:" + avc["path_dev"][use_pr] + ",inode:" + avc["path_inode"][use_pr]
            )
            path_type[use_pr] = "dev_inode"

        # CWD-relative resolution then smart normalization
        cwd = avc["cwd"] if "cwd" in avc.columns else pd.Series(None, index=avc.index)
        path = _resolve_cwd_relative(path, cwd)
        path, was_norm, cross = _normalize_paths(path, avc["pid"], avc["tclass"])
        # SELINUX_ERR early-return: no path cascade output at all (PATH
        # record fields live only in _path_records, never top-level)
        path = path.where(~selinux_err_mask, None)
        path_type = path_type.where(~selinux_err_mask, None)
        avc["path"] = path
        avc["path_type"] = path_type
        avc["path_normalized"] = was_norm
        avc["cross_process_access"] = cross

        # exe priority: SYSCALL exe > AVC exe (parse_avc.py:1067-1103)
        if "sys_exe" in avc.columns:
            avc["exe"] = avc["sys_exe"].fillna(avc["exe"])
        # proctitle: AVC proctitle > PROCTITLE record; (null) → comm fallback
        if "sh_proctitle" in avc.columns:
            avc["proctitle"] = avc["proctitle"].fillna(avc["sh_proctitle"])
        # comm fallback when proctitle is (null)/null/empty/missing AND comm
        # exists (parse_avc.py:1137-1139)
        null_pt = (
            avc["proctitle"].isin(["(null)", "null", ""]) | avc["proctitle"].isna()
        ) & avc["comm"].notna()
        avc["proctitle"] = avc["proctitle"].astype(object).where(
            ~null_pt, avc["comm"]
        )

        # exit-code translation (tiny unique set → map)
        if "exit" in avc.columns:
            uniq = avc["exit"].dropna().unique()
            avc["exit"] = avc["exit"].map(
                {v: translate_exit_code(v) for v in uniq}
            )
        else:
            avc["exit"] = None

        # SELinux context split (avc_selinux/context.py:20-49)
        for side, col in (("sc", "scontext"), ("tc", "tcontext")):
            parts = avc[col].str.split(":", n=3, expand=True)
            for j in range(4):
                if j not in parts.columns:
                    parts[j] = None
            valid_ctx = parts[2].notna()
            avc[f"{side}_user"] = parts[0].where(valid_ctx)
            avc[f"{side}_role"] = parts[1].where(valid_ctx)
            avc[f"{side}_type"] = parts[2].where(valid_ctx)
            avc[f"{side}_mls"] = parts[3].where(valid_ctx)

        # reference crash-drop parity: when a record has permission+tclass
        # but no comm, its semantic-analysis stage evaluates
        # `source_context.type` on the raw STRING kept for unparseable
        # contexts → AttributeError → the broad except returns {} and the
        # record is silently dropped (avc_selinux/context.py:285 via
        # parse_avc.py:1201-1204). Reproduced as a validity rule.
        crash_drop = (
            avc["permission"].notna()
            & avc["tclass"].notna()
            & avc["comm"].isna()
            & avc["scontext"].notna()
            & avc["sc_type"].isna()
        )
        avc["valid_denial"] = avc["valid_denial"] & ~crash_drop

        # numeric record types display as their named family
        # (parse_avc.py:890-898: 1400 → AVC, 1107 → USER_AVC)
        avc["rtype"] = avc["rtype"].replace({"1400": "AVC", "1107": "USER_AVC"})

        # SELINUX_ERR-family rows keep the block-default timestamp (their
        # early return precedes the per-line parse); other rows use it only
        # as the fallback when their own timestamp failed to parse.
        blk_ts_col = avc["_blk"].map(blk_first_ts)
        avc["event_ts"] = avc["event_ts"].where(~selinux_err_mask, blk_ts_col)
        avc["event_ts"] = avc["event_ts"].fillna(blk_ts_col)

        avc["event_id"] = avc["_blk"].map(blk_event_id)
        avc["host"] = avc["_blk"].map(blk_host)
        avc = avc.drop(columns=["tsid"]).rename(
            columns={
                "rtype": "denial_type",
                "scontext": "scontext_raw",
                "tcontext": "tcontext_raw",
            }
        )
    else:
        avc = pd.DataFrame(columns=["_doc", "valid_denial"])

    # ---- 5. routing (FIXTURES.md §3; parse_avc.py:298-326,360-446) --------
    doc_ids = pdf["_doc"]
    has_valid = (
        avc.groupby("_doc")["valid_denial"].any()
        if len(avc)
        else pd.Series(dtype=bool)
    )
    audit_ish_docs = lines["rtype"].notna().groupby(lines["_doc"]).any()

    route = pd.Series("malformed", index=doc_ids)
    route[route.index.map(audit_ish_docs).isna()] = "malformed"
    ok_docs = has_valid[has_valid].index
    route.loc[route.index.isin(ok_docs)] = "parse_ok"
    ctrl_docs = doc_has_ctrl[doc_has_ctrl].index
    route.loc[route.index.isin(ctrl_docs)] = "quarantine"

    # ---- 6. assemble output -------------------------------------------------
    meta = pdf.set_index("_doc")[["url", "warc_ts", "lang"]]

    if len(avc):
        events = avc[avc["valid_denial"]].copy()
        events = events.join(meta, on="_doc")
        events["route"] = events["_doc"].map(route)
        events = events[events["route"] == "parse_ok"]
        events["parse_status"] = "ok"
    else:
        events = pd.DataFrame(columns=["_doc"])

    # stub rows for malformed / quarantine docs (complete routed-row sets)
    bad_docs = route[route != "parse_ok"]
    stubs = meta.loc[bad_docs.index].copy()
    stubs["route"] = bad_docs.values
    stubs["parse_status"] = np.where(
        bad_docs.values == "quarantine", "PARSE_ERROR_ControlBytes", "invalid_denial"
    )
    stubs["_doc"] = stubs.index

    out = pd.concat([events, stubs], ignore_index=True)
    out["malformed_lines"] = (
        out["_doc"].map(doc_malformed_lines).fillna(0).astype("int64")
    )

    for col in EVENT_COLUMNS:
        if col not in out.columns:
            out[col] = None

    # byte-exact extracted_text: canonical k=v join in fixed field order
    # (non-null fields only). The Spark path builds this JVM-side from the
    # same columns (udf.extracted_text_expr — whole-stage codegen, and the
    # big string never crosses the Arrow boundary); build_extracted_text=True
    # keeps the pandas construction for direct kernel users and the
    # pandas-vs-JVM equivalence test.
    if build_extracted_text:
        ok_mask = out["route"] == "parse_ok"
        pieces = None
        for f in EXTRACT_FIELD_ORDER:
            col = out[f]
            piece = (f + "=" + col.astype("string") + "|").where(col.notna() & ok_mask, "")
            pieces = piece if pieces is None else pieces.str.cat(piece)
        out["extracted_text"] = (
            pieces.str.replace(r"\|$", "", regex=True).where(ok_mask, None)
        )
    else:
        out["extracted_text"] = None

    # dtypes for Arrow
    out["event_ts"] = pd.to_datetime(out["event_ts"], errors="coerce")
    out["warc_ts"] = pd.to_datetime(out["warc_ts"], errors="coerce", utc=True).dt.tz_localize(None)
    for bcol in ["path_normalized", "cross_process_access"]:
        out[bcol] = out[bcol].astype(object).where(out[bcol].notna(), None)

    return out[EVENT_COLUMNS]
