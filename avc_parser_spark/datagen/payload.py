"""Deterministic audit-style payload generator (FIXTURES.md §2).

Synthesizes ausearch-style event blocks — the same grammar the reference
parses (record grammar `(node=H )?type=T msg=audit(ts:serial): body`, cf.
/root/reference/config/constants.py:17-19; field sets cf.
/root/reference/testAVC/*.log and scripts/generate_test_data.py vocab) —
embedded in web-page filler prose, so the `pages.text` column looks like
Common-Crawl text with extractable audit payloads.

Everything is a pure function of (seed, doc index): no global RNG state, so
generation is reproducible and order-independent (safe under Spark
partitioning).

Routing ground truth per FIXTURES.md §3:
  parse_ok    ~94 %  — valid AVC-family block
  malformed   ~5 %   — salvageable-but-malformed (fails validity checks)
  quarantine  ~1 %   — undecodable / exception-triggering payloads
"""

from __future__ import annotations

import random

SEED = 42

# ---------------------------------------------------------------------------
# Vocabulary pools (FIXTURES.md §2, mirroring reference test corpus content)
# ---------------------------------------------------------------------------

SCONTEXTS = [
    "system_u:system_r:httpd_t:s0",
    "system_u:system_r:sshd_t:s0-s0:c0.c1023",
    "unconfined_u:unconfined_r:unconfined_t:s0-s0:c0.c1023",
    "unconfined_u:unconfined_r:container_t:s0:c123,c456",
    "system_u:system_r:init_t:s0",
    "system_u:system_r:setfiles_t:s0",          # triggers relabeling analyzer
    "staff_u:staff_r:staff_t:s15",              # MLS high level
    "system_u:system_r:mysqld_t:s0:c3,c5,c10.c20",
]

TCONTEXTS = [
    "unconfined_u:object_r:default_t:s0",
    "system_u:object_r:etc_t:s15",              # MLS-inconsistency analyzer
    "system_u:object_r:unlabeled_t:s0",         # AN1 widespread-unlabeled
    "system_u:object_r:postgresql_port_t:s0",
    "system_u:object_r:httpd_sys_content_t:s0",
    "system_u:object_r:var_log_t:s0",
    "system_u:object_r:container_file_t:s0:c123,c456",
]

COMMS = ["httpd", "nginx", "mysqld", "sshd", "systemd", "setfiles", "python3", "bash"]
EXES = {
    "httpd": "/usr/sbin/httpd",
    "nginx": "/usr/sbin/nginx",
    "mysqld": "/usr/libexec/mysqld",
    "sshd": "/usr/sbin/sshd",
    "systemd": "/usr/lib/systemd/systemd",
    "setfiles": "/usr/sbin/setfiles",
    "python3": "/usr/bin/python3",
    "bash": "/usr/bin/bash",
}

# (tclass, [perms]) — includes dontaudit markers for detector D1
TCLASS_PERMS = [
    ("file", ["read", "write", "open", "getattr", "execute"]),
    ("dir", ["search", "add_name"]),
    ("tcp_socket", ["name_connect", "name_bind"]),
    ("process", ["signal", "ptrace", "noatsecure", "rlimitinh", "siginh"]),
    ("capability", ["dac_override"]),
]

PATHS = [
    "/var/www/html/index.html",     # hot group (weighted below)
    "/var/www/html/app/data.json",
    "/etc/passwd",
    "/home/alice/.bashrc",
    "/tmp/file_12345",
    "/var/log/app/errors.log",
    "/var/lib/containers/storage/overlay/abc123/diff/etc/x",  # D3 container
    "/opt/app/config.ini",          # D4 custom path
]

SYSCALLS = ["openat", "connect", "read", "write", "execve", "unlink"]

FILLER_WORDS = (
    "the quick crawl indexed page content with links and headers "
    "article body paragraph section nav footer sidebar comment"
).split()

BASE_EPOCH = 1757009940  # 2025-09-04T18:19:00 UTC (mirrors testAVC timestamps)


def _rng(i: int) -> random.Random:
    # Knuth multiplicative hash decorrelates adjacent indices.
    return random.Random((i * 2654435761 + SEED) & 0xFFFFFFFF)


def _audit_ts(i: int, r: random.Random) -> tuple[str, int]:
    """Raw audit timestamp `epoch.millis` and its serial."""
    epoch = BASE_EPOCH + i  # monotone in doc index → warc_ts correlation
    ms = r.randint(0, 999)
    return f"{epoch}.{ms:03d}", 500 + i


def _pick_weighted(r: random.Random, items: list):
    """First item is 'hot' with 8 extra shares — forces signature/lang skew."""
    idx = 0 if r.randint(0, 8 + len(items) - 1) < 8 else r.randint(
        0, len(items) - 1
    )
    return items[idx]


def make_event_block(i: int, r: random.Random) -> str:
    """One well-formed multi-record audit event block (ausearch style)."""
    ts, serial = _audit_ts(i, r)
    aud = f"audit({ts}:{serial})"

    comm = _pick_weighted(r, COMMS)
    exe = EXES[comm]
    scontext = _pick_weighted(r, SCONTEXTS)
    tcontext = _pick_weighted(r, TCONTEXTS)
    tclass, perms = _pick_weighted(r, TCLASS_PERMS)
    pid = r.randint(1000, 99999)
    syscall = r.choice(SYSCALLS)

    # ~5 % of events are USER_AVC (userspace object manager, e.g. dbus):
    # outer daemon pid + embedded avc message (parse_avc.py:867-884)
    if i % 19 == 0:
        dbus_perm = r.choice(["send_msg", "acquire_svc"])
        return (
            f"type=USER_AVC msg={aud}: pid={r.randint(500, 999)} uid=81 "
            f"auid=4294967295 ses=4294967295 "
            f"msg='avc:  denied  {{ {dbus_perm} }} for "
            f"scontext={scontext} tcontext={tcontext} tclass=dbus'"
        )

    lines = []

    # PROCTITLE (hex-encoded argv, NUL-separated)
    argv = f"{exe}\x00-DFOREGROUND" if comm == "httpd" else exe
    lines.append(f"type=PROCTITLE msg={aud}: proctitle={argv.encode().hex().upper()}")

    # SYSCALL
    lines.append(
        f"type=SYSCALL msg={aud}: arch=x86_64 syscall={syscall} success=no "
        f'exit=-13 comm="{comm}" exe="{exe}" subj={scontext}'
    )

    max_perms = min(3, len(perms))
    n_perms = 1 if (r.random() < 0.8 or max_perms < 2) else r.randint(2, max_perms)
    perm_str = " ".join(sorted(r.sample(perms, n_perms)))

    if tclass == "tcp_socket":
        port = r.choice([80, 443, 5432, 3306, 9999])
        lines.append(
            f"type=SOCKADDR msg={aud}: saddr={{ saddr_fam=inet laddr=10.0.0.{r.randint(1, 254)} lport={port} }}"
        )
        lines.append(
            f"type=AVC msg={aud}: avc:  denied  {{ {perm_str} }} for  "
            f'pid={pid} comm="{comm}" dest={port} '
            f"scontext={scontext} tcontext={tcontext} tclass={tclass}"
        )
    else:
        path = _pick_weighted(r, PATHS)
        # two PATH records to exercise best-path selection (parse_avc.py:710-751)
        lines.append(f"type=CWD msg={aud}: cwd=\"/home/user\"")
        lines.append(
            f'type=PATH msg={aud}: item=0 name="{path.rsplit("/", 1)[0] or "/"}" '
            f"nametype=PARENT inode={r.randint(1, 99999)} dev=fd:00 "
            f"obj={tcontext}"
        )
        lines.append(
            f'type=PATH msg={aud}: item=1 name="{path}" nametype=NORMAL '
            f"inode={r.randint(1, 99999)} dev=fd:00 obj={tcontext}"
        )
        permissive = "1" if r.random() < 0.1 else "0"
        lines.append(
            f"type=AVC msg={aud}: avc:  denied  {{ {perm_str} }} for  "
            f'pid={pid} comm="{comm}" path="{path}" dev="fd:00" '
            f"ino={r.randint(1, 99999)} scontext={scontext} tcontext={tcontext} "
            f"tclass={tclass} permissive={permissive}"
        )

    return "\n".join(lines)


def make_malformed_block(i: int, r: random.Random) -> str:
    """Salvageable-but-malformed payload: audit-looking but failing validity
    (no permission braces / truncated records), cf. reference
    validate_log_entry semantics (parse_avc.py:360-446)."""
    ts, serial = _audit_ts(i, r)
    choice = r.randint(0, 2)
    if choice == 0:
        # AVC line with broken permission braces
        return (
            f"type=AVC msg=audit({ts}:{serial}): avc:  denied  {{ }} for  "
            f"pid={r.randint(1000, 9999)} comm=\"httpd\""
        )
    if choice == 1:
        # truncated record: header only
        return f"type=AVC msg=audit({ts}:{serial}): avc:  deni"
    # SYSCALL-only block (no AVC at all)
    return (
        f"type=SYSCALL msg=audit({ts}:{serial}): arch=x86_64 syscall=openat "
        f'success=no exit=-13 comm="httpd"'
    )


def make_quarantine_block(i: int, r: random.Random) -> str:
    """Undecodable payload: control bytes inside an audit-looking line
    (cf. tests/test_malformed_logs.py corpus in the reference)."""
    ts, serial = _audit_ts(i, r)
    junk = "".join(chr(r.randint(1, 8)) for _ in range(6))
    return (
        f"type=AVC msg=audit({ts}:{serial}): avc: denied {junk} \x00\x01 "
        "scontext=\x02broken"
    )


def route_for(i: int) -> str:
    """Ground-truth route for doc i (deterministic)."""
    h = (i * 2654435761 + SEED) & 0xFFFFFFFF
    bucket = h % 100
    if bucket < 1:
        return "quarantine"
    if bucket < 6:
        return "malformed"
    return "parse_ok"


def make_payload(i: int) -> tuple[str, str]:
    """(text, ground_truth_route) for doc index i.

    The text is filler prose with one audit event block embedded between
    `----` separators, mimicking a crawled page that contains pasted
    ausearch output.
    """
    r = _rng(i)
    route = route_for(i)
    if route == "quarantine":
        block = make_quarantine_block(i, r)
    elif route == "malformed":
        block = make_malformed_block(i, r)
    else:
        block = make_event_block(i, r)

    # ~4 % of well-formed docs also carry a MAC_POLICY_LOAD / MAC_STATUS
    # informational block (epoch boundaries for recurrence analysis) —
    # appended as an extra block, leaving denial parsing untouched.
    policy = ""
    if route == "parse_ok" and i % 25 == 0:
        ts, serial = _audit_ts(i, r)
        if i % 50 == 0:
            policy = (
                f"\n----\ntype=MAC_POLICY_LOAD msg=audit({ts}:{serial + 1}): "
                f"policy loaded auid={r.choice(['500', '4294967295', 'unset'])} "
                f"ses={r.randint(1, 99)}"
            )
        else:
            policy = (
                f"\n----\ntype=MAC_STATUS msg=audit({ts}:{serial + 1}): "
                f"enforcing=1 old_enforcing=0 auid=unknown({r.randint(100, 999)})"
            )

    pre = " ".join(r.choices(FILLER_WORDS, k=r.randint(5, 20)))
    post = " ".join(r.choices(FILLER_WORDS, k=r.randint(5, 20)))
    text = f"{pre}\n----\n{block}{policy}\n----\n{post}"
    return text, route


LANGS = ["en", "de", "fr", "es", "zh", "ru"]
LANG_CUM_WEIGHTS = [55, 67, 77, 87, 95, 100]  # en-heavy skew per FIXTURES.md


def lang_for(i: int) -> str:
    h = ((i + 7) * 2654435761 + SEED) & 0xFFFFFFFF
    b = h % 100
    for lang, cum in zip(LANGS, LANG_CUM_WEIGHTS):
        if b < cum:
            return lang
    return "en"
