"""Seeded input generator for the pipeline benchmark.

Every document is built from ``avc_parser_spark.datagen.payload``'s public
functions (``make_payload``, ``make_event_block``, ``lang_for``,
``FILLER_WORDS``, ``BASE_EPOCH``), which are pure functions of a doc index.
The benchmark seed picks the doc-index offset, so the same seed gives the
same inputs and different seeds give different ones. Tables are written as
parquet with pyarrow in this process; the program under test only ever
sees the written tables.

Each generator returns ``(paths, truth)``: where the tables are, and the
ground truth the output checks need (intended route per doc, valid-event
count, planted duplicate sets).
"""

from __future__ import annotations

import os
import random
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from avc_parser_spark.datagen.payload import (
    BASE_EPOCH,
    FILLER_WORDS,
    lang_for,
    make_event_block,
    make_payload,
)

# Seeds are spread a prime stride apart in doc-index space so no two seeds
# in any practical range share a document.
SEED_STRIDE = 1_000_003
DAY_S = 86_400
WORDS = np.array(FILLER_WORDS, dtype=object)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Fixed Random seed for the planted hot signature: a fresh Random with this
# seed makes make_event_block pick the same comm/contexts/class/path every
# time, so only the timestamp and serial (from the event index) differ.
HOT_EVENT_SEED = 7
EVENTS_PER_STORM_PAGE = 32
HOT_SHARE = 0.6
# One crawl page in a hundred carries pasted audit text.
AUDIT_SHARE = 0.01
# Day partitions of the checkpointed corpus, and files per partition.
N_DAYS = 2
FILES_PER_DAY = 8
# Shares of curate originals that get an exact copy / a near copy.
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1


def doc_offset(seed: int) -> int:
    return seed * SEED_STRIDE


def _prose(rng: np.random.Generator, n_words: int, per_line: int = 12) -> str:
    words = WORDS[rng.integers(0, len(WORDS), n_words)]
    return "\n".join(
        " ".join(words[k : k + per_line]) for k in range(0, n_words, per_line)
    )


def _url(i: int, lang: str) -> str:
    return f"https://host{i % 50}.example/{lang}/doc{i}"


def _ts_us(epoch_s: int) -> int:
    return epoch_s * 1_000_000


def _write_pages(path: str, rows: list[tuple], n_files: int) -> int:
    """Write pages rows as ``n_files`` parquet files; returns bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * per : (f + 1) * per]
        if not chunk:
            break
        url, ts, text, lang = zip(*chunk)
        table = pa.table(
            {
                "url": list(url),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": [
                    b"<html><body>" + t.encode("utf-8", "surrogateescape") + b"</body></html>"
                    for t in text
                ],
                "text": list(text),
                "lang": list(lang),
            },
            schema=PAGES_SCHEMA,
        )
        out = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table, out)
        total += os.path.getsize(out)
    return total


def gen_crawl_sparse(root: str, seed: int, n_pages: int):
    """Common-Crawl-shaped pages of several KB of prose; ``AUDIT_SHARE`` of
    them carry one pasted make_payload block (stock 94/5/1 route mix).
    Prose-only pages route to ``malformed`` as one stub row each."""
    off = doc_offset(seed)
    rng = np.random.default_rng(seed)
    n_audit = max(1, round(n_pages * AUDIT_SHARE))
    audit = set(rng.choice(n_pages, n_audit, replace=False).tolist())
    lengths = rng.integers(300, 900, n_pages)
    # A make_payload doc holds one event, so every doc is one routed row:
    # its event, or the stub row of a malformed/quarantined doc.
    rows, expected = [], Counter()
    for k in range(n_pages):
        i = off + k
        lang = lang_for(i)
        body = _prose(rng, int(lengths[k]))
        if k in audit:
            payload, route = make_payload(i)
            half = body.find("\n", len(body) // 2)
            body = f"{body[:half]}\n{payload}\n{body[half + 1:]}"
        else:
            route = "malformed"
        rows.append((_url(i, lang), _ts_us(BASE_EPOCH + k), body, lang))
        expected[route] += 1
    path = os.path.join(root, "pages")
    nbytes = _write_pages(path, rows, n_files=8)
    truth = {
        "docs": n_pages,
        "audit_docs": n_audit,
        "route_rows": dict(expected),
        "input_bytes": nbytes,
    }
    return {"pages": path}, truth


def _storm_page(first_event: int, rng: random.Random) -> str:
    blocks = []
    for e in range(first_event, first_event + EVENTS_PER_STORM_PAGE):
        hot = rng.random() < HOT_SHARE
        blocks.append(make_event_block(e, random.Random(HOT_EVENT_SEED if hot else e)))
    return "\n----\n".join(blocks)


def gen_denial_storm(root: str, seed: int, n_pages: int):
    """Pages that each paste an ausearch dump of 32 event blocks; about 60%
    of the events repeat one hot signature."""
    off = doc_offset(seed)
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    rows = []
    for k in range(n_pages):
        i = off + k
        lang = lang_for(i)
        dump = _storm_page((off + k) * EVENTS_PER_STORM_PAGE, rng)
        text = f"{_prose(nrng, 20)}\n----\n{dump}\n----\n{_prose(nrng, 20)}"
        rows.append((_url(i, lang), _ts_us(BASE_EPOCH + k), text, lang))
    path = os.path.join(root, "pages")
    nbytes = _write_pages(path, rows, n_files=8)
    events = n_pages * EVENTS_PER_STORM_PAGE
    truth = {
        "docs": n_pages,
        "audit_docs": n_pages,
        "route_rows": {"parse_ok": events},
        "input_bytes": nbytes,
    }
    return {"pages": path}, truth


def gen_checkpoint_days(root: str, seed: int, n_docs: int):
    """The stock generator corpus (one make_payload doc per page) spread
    over ``N_DAYS`` hive partitions ``warc_date=YYYY-MM-DD``."""
    off = doc_offset(seed)
    per_day = -(-n_docs // N_DAYS)
    path = os.path.join(root, "pages")
    day0 = BASE_EPOCH - BASE_EPOCH % DAY_S
    expected, nbytes, days = Counter(), 0, []
    partition_rows = {}
    for d in range(N_DAYS):
        rows = []
        for k in range(d * per_day, min(n_docs, (d + 1) * per_day)):
            i = off + k
            text, route = make_payload(i)
            lang = lang_for(i)
            rows.append((_url(i, lang), _ts_us(day0 + d * DAY_S + k % DAY_S), text, lang))
            expected[route] += 1
        day = np.datetime_as_string(np.datetime64(day0 + d * DAY_S, "s"), unit="D")
        days.append(str(day))
        partition_rows[str(day)] = rows
        nbytes += _write_pages(
            os.path.join(path, f"warc_date={day}"), rows, FILES_PER_DAY
        )
    # The resume phase rewrites one partition chosen by the seed.
    resume_day = days[seed % N_DAYS]
    truth = {
        "docs": n_docs,
        "audit_docs": n_docs,
        "route_rows": dict(expected),
        "partitions": days,
        "partition_docs": {day: len(rows) for day, rows in partition_rows.items()},
        "resume_partition": resume_day,
        "input_bytes": nbytes,
    }

    def rewrite_resume_partition() -> None:
        """Replace the resume partition's files with fresh files of the
        same rows, as a re-landed day would be: the content is unchanged,
        the files (and their mtimes) are new."""
        pdir = os.path.join(path, f"warc_date={resume_day}")
        for f in os.listdir(pdir):
            os.remove(os.path.join(pdir, f))
        _write_pages(pdir, partition_rows[resume_day], FILES_PER_DAY)

    return {"pages": path, "rewrite": rewrite_resume_partition}, truth


def _mutate(text: str, rng: random.Random, share: float) -> str:
    words = text.split(" ")
    for _ in range(max(1, int(len(words) * share))):
        words[rng.randrange(len(words))] = rng.choice(FILLER_WORDS)
    return " ".join(words)


def gen_curate(root: str, seed: int, n_orig: int):
    """A documents table (doc_id, url, text, lang) with planted duplicates.

    Originals take the lowest doc_ids, so each is its cluster's keeper.
    Exact copies repeat an original's text under (a) the same URL, (b) a
    URL that only canonicalisation equates, or (c) an unrelated URL that
    only MinHash/LSH can catch. Near copies replace ~3% of the words."""
    off = doc_offset(seed)
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    docs = []
    for k in range(n_orig):
        i = off + k
        lang = lang_for(i)
        payload, _route = make_payload(i)
        text = f"{_prose(nrng, 120, per_line=120)} {payload} {_prose(nrng, 120, per_line=120)}"
        docs.append((k, _url(i, lang), text, lang))
    exact, near = [], []
    next_id = n_orig
    picks = rng.sample(range(n_orig), int(n_orig * (EXACT_SHARE + NEAR_SHARE)))
    n_exact = int(n_orig * EXACT_SHARE)
    for j, k in enumerate(picks):
        _, url, text, lang = docs[k]
        if j < n_exact:
            kind = j % 3
            if kind == 0:
                new_url = url
            elif kind == 1:
                new_url = url.replace("https://host", "HTTPS://HOST", 1) + "/?utm_source=feed"
            else:
                new_url = f"https://mirror{j}.example/copy/{next_id}"
            docs.append((next_id, new_url, text, lang))
            exact.append([k, next_id])
        else:
            docs.append(
                (next_id, f"https://mirror{j}.example/near/{next_id}",
                 _mutate(text, rng, 0.03), lang)
            )
            near.append([k, next_id])
        next_id += 1
    path = os.path.join(root, "docs")
    os.makedirs(path, exist_ok=True)
    nbytes = 0
    per = -(-len(docs) // 8)
    for f in range(8):
        chunk = docs[f * per : (f + 1) * per]
        if not chunk:
            break
        ids, urls, txts, langs = zip(*chunk)
        out = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "url": list(urls),
                      "text": list(txts), "lang": list(langs)}),
            out,
        )
        nbytes += os.path.getsize(out)
    truth = {
        "docs": len(docs),
        "originals": n_orig,
        "exact_sets": exact,
        "near_sets": near,
        "input_bytes": nbytes,
    }
    return {"docs": path}, truth
