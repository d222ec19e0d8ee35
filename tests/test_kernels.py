"""Pure-pandas unit tests for the parse kernel (no Spark).

Mirrors the reference's semantic unit tests (SURVEY.md §5): normalization,
path cascade, proctitle decode, errno translation, timestamp fallback,
context split, multi-permission preservation.
"""

from __future__ import annotations

import pandas as pd

from avc_parser_spark.parse.kernels import parse_pages_pdf, translate_exit_code

AUD = "audit(1757009940.303:503)"


def parse_one(text: str) -> pd.Series:
    pdf = pd.DataFrame(
        {
            "url": ["u"],
            "warc_ts": [pd.Timestamp("2025-09-04")],
            "text": [text],
            "lang": ["en"],
        }
    )
    out = parse_pages_pdf(pdf)
    ok = out[out["route"] == "parse_ok"]
    assert len(ok) == 1, f"expected 1 parse_ok row, got {out[['route', 'parse_status']]}"
    return ok.iloc[0]


def test_basic_avc_fields():
    r = parse_one(
        f'type=AVC msg={AUD}: avc:  denied  {{ read }} for  pid=1234 comm="httpd" '
        f'path="/var/www/html/file1.html" scontext=system_u:system_r:httpd_t:s0 '
        f"tcontext=unconfined_u:object_r:default_t:s0 tclass=file"
    )
    assert r["permission"] == "read"
    assert r["pid"] == "1234"
    assert r["comm"] == "httpd"
    assert r["path"] == "/var/www/html/file1.html"
    assert r["tclass"] == "file"
    assert r["sc_user"] == "system_u"
    assert r["sc_type"] == "httpd_t"
    assert r["sc_mls"] == "s0"
    assert r["tc_type"] == "default_t"
    assert str(r["event_ts"]) == "2025-09-04 18:19:00.303000"


def test_multi_permission_is_one_value():
    # reference keeps `{ read write }` as ONE space-joined permission value
    # (parse_avc.py:931; SURVEY §7.3 risk 7)
    r = parse_one(
        f"type=AVC msg={AUD}: avc: denied {{ read write }} for pid=1 comm=x "
        f"scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["permission"] == "read write"


def test_unquoted_comm_and_exe():
    r = parse_one(
        f"type=SYSCALL msg={AUD}: arch=x86_64 syscall=connect success=no "
        f"exit=EACCES comm=httpd exe=/usr/sbin/httpd subj=s:r:httpd_t\n"
        f"type=AVC msg={AUD}: avc: denied {{ name_connect }} for pid=42 "
        f"comm=httpd dest=9999 scontext=a:b:c tcontext=d:e:f tclass=tcp_socket"
    )
    assert r["comm"] == "httpd"
    assert r["exe"] == "/usr/sbin/httpd"  # SYSCALL exe
    assert r["dest_port"] == "9999"
    assert r["exit"] == "EACCES"
    assert r["syscall"] == "connect"


def test_exit_code_translation():
    assert translate_exit_code("-13") == "EACCES"
    assert translate_exit_code("-2") == "ENOENT"
    assert translate_exit_code("0") == "SUCCESS"
    assert translate_exit_code("EACCES") == "EACCES"
    assert translate_exit_code("") == ""
    r = parse_one(
        f"type=SYSCALL msg={AUD}: syscall=openat success=no exit=-13 comm=x\n"
        f"type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x "
        f"scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["exit"] == "EACCES"


def test_proctitle_hex_decode_and_nul():
    argv = "/usr/sbin/httpd\x00-DFOREGROUND"
    hexv = argv.encode().hex().upper()
    r = parse_one(
        f"type=PROCTITLE msg={AUD}: proctitle={hexv}\n"
        f"type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x "
        f"scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["proctitle"] == "/usr/sbin/httpd -DFOREGROUND"


def test_proctitle_truncation_marker():
    # 256 hex chars → 128 decoded chars, no trailing NUL → truncation marker
    argv = "x" * 128
    hexv = argv.encode().hex()
    assert len(hexv) == 256
    r = parse_one(
        f"type=PROCTITLE msg={AUD}: proctitle={hexv}\n"
        f"type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x "
        f"scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["proctitle"].endswith("[TRUNCATED BY AUDIT]")


def test_proc_pid_normalization_self_vs_cross():
    # self: normalized; cross-PID: preserved + flagged (parse_avc.py:126-216)
    r = parse_one(
        f'type=AVC msg={AUD}: avc: denied {{ read }} for pid=1234 comm=x '
        f'path="/proc/1234/fd" scontext=a:b:c tcontext=d:e:f tclass=file'
    )
    assert r["path"] == "/proc/<pid>/fd"
    assert r["path_normalized"] is True
    assert r["cross_process_access"] is False

    r = parse_one(
        f'type=AVC msg={AUD}: avc: denied {{ read }} for pid=1234 comm=x '
        f'path="/proc/5678/fd" scontext=a:b:c tcontext=d:e:f tclass=file'
    )
    assert r["path"] == "/proc/5678/fd"
    assert r["cross_process_access"] is True


def test_pipe_socket_inode_normalization():
    r = parse_one(
        f'type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x '
        f'path="pipe:[12345]" scontext=a:b:c tcontext=d:e:f tclass=fifo_file'
    )
    assert r["path"] == "fifo_file"  # tclass preferred over prefix


def test_cwd_relative_resolution():
    r = parse_one(
        f'type=CWD msg={AUD}: cwd="/home/user"\n'
        f"type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x "
        f"path=foo/../bar.txt scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["path"] == "/home/user/bar.txt"


def test_best_path_selection_prefers_name_match():
    # two PATH records; non-PARENT ending with AVC name wins
    r = parse_one(
        f'type=PATH msg={AUD}: item=0 name="/var/www" nametype=PARENT inode=1 dev=fd:00\n'
        f'type=PATH msg={AUD}: item=1 name="/var/www/html/x.html" nametype=NORMAL inode=2 dev=fd:00\n'
        f"type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x "
        f"name=x.html scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["path"] == "/var/www/html/x.html"
    assert r["path_type"] == "file_path"


def test_name_only_fallback_dir_partial():
    r = parse_one(
        f"type=AVC msg={AUD}: avc: denied {{ search }} for pid=1 comm=x "
        f"name=logdir scontext=a:b:c tcontext=d:e:f tclass=dir"
    )
    assert r["path"] == ".../logdir"
    assert r["path_type"] == "directory_name"


def test_dev_inode_fallback():
    r = parse_one(
        f'type=AVC msg={AUD}: avc: denied {{ read }} for pid=1 comm=x '
        f'dev="fd:00" ino=999 scontext=a:b:c tcontext=d:e:f tclass=file'
    )
    assert r["path"] == "dev:fd:00,inode:999"
    assert r["path_type"] == "dev_inode"


def test_timestamp_formats():
    # interpreted ausearch -i form
    r = parse_one(
        'type=AVC msg=audit(09/04/2025 18:19:00.303:503): avc: denied { read } '
        "for pid=1 comm=x scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert str(r["event_ts"]) == "2025-09-04 18:19:00.303000"
    # raw epoch form
    r = parse_one(
        "type=AVC msg=audit(1757009940.303:503): avc: denied { read } "
        "for pid=1 comm=x scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert str(r["event_ts"]) == "2025-09-04 18:19:00.303000"


def test_execve_cmdline_reassembly():
    r = parse_one(
        f'type=EXECVE msg={AUD}: argc=3 a0="python3" a1="-m" a2="http.server"\n'
        f"type=AVC msg={AUD}: avc: denied {{ execute }} for pid=1 comm=x "
        f"scontext=a:b:c tcontext=d:e:f tclass=file"
    )
    assert r["execve_cmdline"] == "python3 -m http.server"


def test_selinux_err_is_valid_without_permission():
    pdf = pd.DataFrame(
        {
            "url": ["u"],
            "warc_ts": [pd.Timestamp("2025-09-04")],
            "text": [
                f"type=SELINUX_ERR msg={AUD}: security_compute_sid: invalid "
                "context unconfined_u:unconfined_r:x:s0 for "
                "scontext=a:b:c tcontext=d:e:f tclass=process"
            ],
            "lang": ["en"],
        }
    )
    out = parse_pages_pdf(pdf)
    assert (out["route"] == "parse_ok").all()


def test_quarantine_on_control_bytes():
    pdf = pd.DataFrame(
        {
            "url": ["u"],
            "warc_ts": [pd.Timestamp("2025-09-04")],
            "text": [f"type=AVC msg={AUD}: avc: denied \x01\x02 {{ }}"],
            "lang": ["en"],
        }
    )
    out = parse_pages_pdf(pdf)
    assert list(out["route"]) == ["quarantine"]


def test_user_avc_keeps_outer_pid():
    r = parse_one(
        f"type=USER_AVC msg={AUD}: pid=999 uid=81 auid=4294967295 "
        f"msg='avc:  denied  {{ send_msg }} for scontext=a:b:c "
        f"tcontext=d:e:f tclass=dbus'"
    )
    # first pid= in line (outer daemon pid) wins — reference skips re-set
    assert r["pid"] == "999"
    assert r["permission"] == "send_msg"
    assert r["denial_type"] == "USER_AVC"


# ---------------------------------------------------------------------------
# Property guards for the lean extraction path (hypothesis)
# ---------------------------------------------------------------------------


def test_extract1_equals_pandas_str_extract_property():
    """_extract1 must stay byte-equivalent to the Series.str.extract +
    group-coalesce + strip formulation it replaced, for every battery
    pattern over adversarial inputs (quotes, embedded keys, empties,
    non-strings)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from avc_parser_spark.parse.kernels import AVC_PATTERNS, _extract1

    tokens = st.sampled_from(
        list("abcdef0123456789 =\"'{}:./\\-_") + ["pid=", "comm=", "dev=",
        'path="', "scontext=", "denied { ", " }", "spid=", "permissive="]
    )
    line = st.lists(tokens, max_size=20).map("".join)
    lines = st.lists(st.one_of(line, st.none()), min_size=1, max_size=8)

    def pandas_ref(s, pattern):
        ext = s.str.extract(pattern, expand=True)
        out = ext.iloc[:, 0].astype("string")
        for i in range(1, ext.shape[1]):
            out = out.fillna(ext.iloc[:, i].astype("string"))
        return out.str.strip().astype(object).where(out.notna(), None)

    @settings(max_examples=120, deadline=None)
    @given(lines)
    def check(vals):
        s = pd.Series(vals, dtype=object)
        for pat in AVC_PATTERNS.values():
            lean = _extract1(s, pat)
            ref = pandas_ref(s, pat)
            assert list(lean.fillna("␀")) == list(ref.fillna("␀")), pat

    check()


def test_simhash_pairs_recall_property_all_k():
    """Manku pigeonhole recall must be exactly 1 for every max_hamming in
    0..3 on randomized corpora (brute-force ground truth)."""
    from itertools import combinations

    import random as _random

    from pyspark.sql import functions as F

    from avc_parser_spark.functions.dedup import simhash64, simhash_pairs
    from avc_parser_spark.session import get_spark

    spark = get_spark(master="local[8]")
    rng = _random.Random(424242)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(24):
        w = list(words)
        for j in range(rng.randint(0, 3)):
            w[rng.randrange(len(w))] = f"x{i}_{j}"
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {
        r["doc_id"]: r["h"]
        for r in docs.select("doc_id", simhash64(F.col("text")).alias("h")).collect()
    }
    for k in range(4):
        expected = {
            (a, b)
            for a, b in combinations(sorted(hashes), 2)
            if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= k
        }
        got = {
            (r["a"], r["b"])
            for r in simhash_pairs(docs, max_hamming=k).collect()
        }
        assert got == expected, f"k={k}"
