"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship parse→enrich→route→aggregate pipeline on a
synthetic audit corpus derived from sf0.001/documents. `queries()` exposes
one entry per implemented operator (SURVEY.md §2 + training-data ops);
`oracle_sql()` gives the DuckDB twin for every SQL-expressible one.

Column-name contract: every computed column is aliased identically in the
Spark query and the oracle SQL (driver hashes values under sorted column
names).
"""

from __future__ import annotations

import errno as _errno
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avc_parser_spark.aggregate import aggregate_signatures
from avc_parser_spark.enrich.dims import PERM_DESCRIPTIONS
from avc_parser_spark.enrich.join import signature_exprs
from avc_parser_spark.functions.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard,
    simhash_near_dups,
)
from avc_parser_spark.functions.similarity import brute_force_topk, lsh_topk
from avc_parser_spark.functions.text import document_profile, quality_score
from avc_parser_spark.oracle_shared import (
    EPOCH0,
    OBJECT_GROUP_ORACLE,
    ORACLE_FIELDS,
    PATH_PATTERN_ORACLE,
    PERMISSION_CATEGORY_ORACLE,
    PROCESS_CATEGORY_ORACLE,
    SYNTH_LINE,
    SYNTH_LINE_WITH_MALFORMED,
    TC_TYPE_CASE,
    TCONTEXT,
)
from avc_parser_spark.enrich.mls import mls_relationship_expr
from avc_parser_spark.parse.policy import parse_policy_events
from avc_parser_spark.parse.udf import parse_pages

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    # epoch-based oracle comparisons assume UTC wall-clock interpretation of
    # naive timestamps; pin it (runtime conf, safe on any provided session).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for t in tables or TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _synth_pages(spark: SparkSession, sf_dir: str, line_sql: str) -> DataFrame:
    """documents → pages(url, warc_ts, html, text, lang) with audit payloads
    constructed in SQL (same fragment as the oracle)."""
    _views(spark, sf_dir, ["documents"])
    return spark.sql(
        f"""
        SELECT 'doc' || cast(doc_id as string)        AS url,
               timestamp_seconds({EPOCH0} + doc_id)   AS warc_ts,
               cast(null as binary)                   AS html,
               {line_sql}                             AS text,
               lang                                   AS lang
        FROM documents
        """
    )


def _parsed(spark: SparkSession, sf_dir: str, malformed: bool = False) -> DataFrame:
    line = SYNTH_LINE_WITH_MALFORMED if malformed else SYNTH_LINE
    return parse_pages(_synth_pages(spark, sf_dir, line))


# ---------------------------------------------------------------------------
# Pipeline queries (forensic engine over synthetic audit corpus)
# ---------------------------------------------------------------------------


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2 battery + multi-record shared context: P3/P4 (context merge),
    P8 (PROCTITLE hex), P9 (EXECVE argv), P12 (best-PATH), P13 (exe
    priority), P14 (CWD resolution), P10 (exit errno translation)."""
    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    return ev.select(
        "url", "permission", "pid", "comm", "path", "path_type", "tclass",
        "sc_type", "tc_type", "dest_port", "permissive", "scontext_raw",
        "exe", "proctitle", "cwd", "syscall", "exit", "success",
        "execve_cmdline", "saddr",
        F.col("event_ts").cast("long").alias("epoch"),
    )


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2/V4/V5 + K7: routing fan-out row counts per sink."""
    ev = _parsed(spark, sf_dir, malformed=True)
    return ev.groupBy("route").agg(F.count(F.lit(1)).alias("n"))


def q_signature_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: legacy exact-signature aggregate with first/last seen."""
    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    return (
        ev.groupBy("scontext_raw", "tcontext_raw", "tclass", "permission")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.col("event_ts").cast("long")).alias("first_epoch"),
            F.max(F.col("event_ts").cast("long")).alias("last_epoch"),
            F.sum(F.when(F.col("permissive") == "1", 1).otherwise(0)).alias(
                "permissive_cnt"
            ),
        )
    )


def q_signature_smart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+E8-E11: smart-signature components and salted group counts."""
    ev = signature_exprs(_parsed(spark, sf_dir).filter(F.col("route") == "parse_ok"))
    groups = aggregate_signatures(ev, salted=True)
    return groups.select(
        "process_category",
        "sig_target",
        "object_group",
        "sig_extra",
        "permission_category",
        F.col("count").alias("cnt"),
        F.col("first_seen").cast("long").alias("first_epoch"),
        F.col("last_seen").cast("long").alias("last_epoch"),
        F.col("permissive_count").alias("permissive_cnt"),
        F.array_join("permissions", ",").alias("perms"),
    )


def q_lang_hour_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang/per-hour rollup (north-star example aggregate)."""
    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    return ev.groupBy(
        "lang",
        F.date_trunc("hour", "event_ts").cast("long").alias("hour_epoch"),
    ).agg(F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("docs"))


# --- E1-E6 + E11 enrichment-dim matrix (shared by query and oracle) --------
# Value domains chosen to exercise every dim's hit AND miss/fallback branch:
# 'frobnicate' has no perm description, 'weird_custom_t' no type description,
# port 1234 no service, msgq/capability rows hit the E5 composed fallback,
# '/usr/local/x/b.dat' exercises the dirname/* and dir/exact-path fallbacks.
_ED_PERMS = ["read", "write", "getattr", "name_connect", "signal",
             "mounton", "relabelfrom", "frobnicate"]
_ED_CLASSES = ["file", "dir", "tcp_socket", "process", "msgq", "capability"]
_ED_SC_TYPES = ["httpd_t", "unconfined_t", "setfiles_t", "container_t",
                "weird_custom_t"]
_ED_TC_TYPES = ["default_t", "unlabeled_t", "var_log_t", "etc_t"]
_ED_PORTS = ["22", "80", "443", "6379", "1234"]
_ED_PATHS = ["/var/www/html/a.txt", "/usr/local/x/b.dat", None]


def _sql_case(key_expr: str, vals: list[str | None]) -> str:
    """CASE over key_expr ∈ 0..len(vals)-1 — identical text both dialects."""
    whens = " ".join(
        "when {} then {}".format(
            i,
            "cast(null as string)" if v is None else "'" + v.replace("'", "''") + "'",
        )
        for i, v in enumerate(vals)
    )
    return f"(case {key_expr} {whens} end)"


def _sql_case_int(key_expr: str, vals: list[int]) -> str:
    """Integer-valued CASE over key_expr ∈ 0..len(vals)-1."""
    whens = " ".join(f"when {i} then {v}" for i, v in enumerate(vals))
    return f"(case {key_expr} {whens} end)"


_ED_MATRIX_SQL = f"""
    SELECT doc_id,
           {_sql_case('doc_id % 8', _ED_PERMS)} AS permission,
           {_sql_case('doc_id % 6', _ED_CLASSES)} AS tclass,
           {_sql_case('doc_id % 5', _ED_SC_TYPES)} AS sc_type,
           {_sql_case('doc_id % 4', _ED_TC_TYPES)} AS tc_type,
           (case when doc_id % 2 = 0
                 then {_sql_case('cast(floor(doc_id / 2.0) as int) % 5', _ED_PORTS)}
                 else cast(null as string) end) AS dest_port,
           {_sql_case('cast(floor(doc_id / 6.0) as int) % 3', _ED_PATHS)} AS path
    FROM documents
"""


def q_enrich_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1-E6 + E11 in one pass over a synthetic (permission, tclass, types,
    port, path) matrix: permission/class/type/port descriptions (broadcast
    joins, reference avc_selinux/context.py:83-365), context-aware perm
    description (E2), contextual-analysis template + composed fallback (E5),
    and the fcontext path-pattern normalizer (E11) — hit and miss branches
    both planted."""
    from avc_parser_spark.enrich.join import enrich_events, path_pattern_expr

    _views(spark, sf_dir, ["documents"])
    matrix = spark.sql(_ED_MATRIX_SQL)
    ev = enrich_events(matrix).withColumn(
        "path_pattern", path_pattern_expr()
    )
    return ev.select(
        "doc_id", "permission", "tclass",
        "permission_description", "class_description",
        "source_type_description", "target_type_description",
        "port_description", "perm_context_description",
        "contextual_analysis", "path_pattern",
    )


def q_errno_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: errno-table broadcast-join exit-code translation over events."""
    _views(spark, sf_dir, ["events"])
    codes = [(str(-v), n) for v, n in _errno.errorcode.items()] + [("0", "SUCCESS")]
    dim = spark.createDataFrame(codes, "exit_code string, exit_name string")
    ev = spark.table("events").withColumn(
        "exit_code", (-(F.col("event_id") % 40)).cast("string")
    )
    return (
        ev.join(F.broadcast(dim), "exit_code", "left")
        .withColumn("exit_name", F.coalesce("exit_name", "exit_code"))
        .select("event_id", "exit_code", "exit_name")
    )


# ---------------------------------------------------------------------------
# General engine queries (events + TPC-H star schema)
# ---------------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm') AS hour,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
        """
    )


def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT user_id, count(*) AS n, round(avg(value), 4) AS avg_value
        FROM events GROUP BY user_id
        ORDER BY n DESC, user_id ASC LIMIT 10
        """
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap windows per user (lag + cumulative sum)."""
    _views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN unix_micros(cast(ts as timestamp))
                        - unix_micros(cast(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) as timestamp))
                      > 1800000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events)
        SELECT user_id, sum(new_session) AS sessions, count(*) AS events
        FROM gaps GROUP BY user_id
        """
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= timestamp '1994-01-01 00:00:00'
          AND l_shipdate < timestamp '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


def q_tpch_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join customer ⋈ orders ⋈ lineitem → top-10 orders by revenue."""
    _views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(
        """
        SELECT o.o_orderkey AS orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               count(*) AS line_count
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey
        ORDER BY revenue DESC, orderkey ASC
        LIMIT 10
        """
    )


def q_tpch_top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-N per group (A7 analogue on the star schema)."""
    _views(spark, sf_dir, ["supplier", "nation"])
    return spark.sql(
        """
        SELECT n_name, s_name, s_acctbal
        FROM (
          SELECT n.n_name, s.s_name, round(s.s_acctbal, 2) AS s_acctbal,
                 row_number() OVER (PARTITION BY n.n_name
                                    ORDER BY s.s_acctbal DESC, s.s_name) AS rk
          FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
        WHERE rk <= 3
        """
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline queries (documents + embeddings)
# ---------------------------------------------------------------------------


def q_text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis, mode-tagged (r5 merge of the former
    text_profile + text_quality queries — same coverage, one slot):
    - 'profile': token/subtoken counts + stopword ratio (document_profile);
    - 'quality': heuristic quality score + trigram-profile lang-id (the 60
      trigram counts run once into score columns, argmax in a second
      Project; the oracle reuses the same generated count/pick fragments).
    Cols (mode, doc_id, n1, n2, x1, s1): profile → n1=n_tokens,
    n2=n_subtokens, x1=stopword_ratio; quality → x1=quality, s1=lang."""
    from avc_parser_spark.functions.text import with_lang_guess

    _views(spark, sf_dir, ["documents"])
    docs = spark.table("documents")
    null_n = F.lit(None).cast("long")
    prof = document_profile(docs).select(
        F.lit("profile").alias("mode"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n1"),
        F.col("n_subtokens").cast("long").alias("n2"),
        F.round("stopword_ratio", 6).alias("x1"),
        F.lit(None).cast("string").alias("s1"),
    )
    qual = with_lang_guess(docs.select("doc_id", "text")).select(
        F.lit("quality").alias("mode"),
        "doc_id",
        null_n.alias("n1"),
        null_n.alias("n2"),
        quality_score(F.col("text")).alias("x1"),
        F.col("lang_guess").alias("s1"),
    )
    return prof.unionByName(qual)


# HTML decoration for token_suite mode='html' — ONE dialect-shared CASE
# (plain-string concatenated, never inside an f-string: the style literal
# carries braces). doc_id%40==29 (<500) cycles four decoration shapes that
# exercise every strip stage: head/style/script drop, comments, lists,
# entities, self-closing/uppercase tags, trailing boilerplate; every other
# doc gets the plain <html><body><p>text</p></body></html> wrap.
_HTML_DECOR_CASE = """
    CASE WHEN doc_id % 40 = 29 AND doc_id < 500 THEN
      (CASE cast(floor(doc_id / 40.0) as int) % 4
       WHEN 0 THEN concat('<html><head><title>T</title><style>p{color:red}',
         '</style></head><body><script type="text/javascript">var x=1;',
         '</script><p>', text,
         '</p><div>footer &amp; nav &lt;links&gt;</div></body></html>')
       WHEN 1 THEN concat('<html><body><!-- hidden --><ul><li>one</li>',
         '<li>two</li></ul><p>', text, '</p></body></html>')
       WHEN 2 THEN concat('<p>A &quot;quoted&quot; start&#39;s here</p>',
         '<br><BR/>', text)
       ELSE concat('<DIV CLASS="x">', text,
         '</DIV><table><tr><td>c1</td><td>c2</td></tr></table>')
       END)
    ELSE concat('<html><body><p>', text, '</p></body></html>') END
"""

# NFC plant for token_suite mode='nfc': a suffix of canonically DECOMPOSED
# sequences (combining acute/ring/tilde, Hangul jamo pair, Angstrom sign)
# appended to doc_id%40==37 (<500). Built from ONE codepoint list so the
# Spark literal (F.lit of the Python string) and the DuckDB literal
# (chr()-composition in SQL) are byte-identical by construction; NFC
# composes every sequence, so planted docs shrink and their md5 changes —
# cross-engine unicodedata↔utf8proc agreement is pinned by pytest.
_NFC_CODEPOINTS = [
    0x20, 0x63, 0x61, 0x66, 0x65, 0x301,        # ' cafe' + combining acute
    0x20, 0x41, 0x30A,                           # ' A' + combining ring
    0x20, 0x76, 0x75, 0x303,                     # ' vu' + combining tilde
    0x20, 0x1100, 0x1161,                        # ' ' + Hangul jamo -> 가
    0x20, 0x212B,                                # ' ' + Angstrom -> U+00C5
]
_NFC_SUFFIX = "".join(chr(c) for c in _NFC_CODEPOINTS)
_NFC_SUFFIX_SQL = " || ".join(f"chr({c})" for c in _NFC_CODEPOINTS)


def q_token_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting, mode-tagged (established suite pattern):
    mode='stats' — per-lang doc/whitespace-token/BPE-ish-subtoken totals
    (integer-exact, no float boundary risk); mode='pack' — GPT-style
    concat-then-chunk sequence packing placement (pack_sequences: md5
    bucket, per-bucket token prefix sum, seq_len=2048), the layout step a
    pretraining pipeline runs after curation; mode='mix' — deterministic
    mixture rebalance (sample_to_mixture: per-lang counts → bigint-exact
    hash-gate cutoffs toward target weights en:2 de:1 fr:1 zh:1, es
    dropped), one row per KEPT doc so the oracle pins the exact sample;
    mode='ppl' — CCNet-style LM perplexity scoring (build_ngram_lm over
    the doc_id%10<5 reference half, top-k-capped bigram table, stupid
    backoff): per-bigram log-probs are stored as round(ln*1e6) LONGS so
    every aggregate is an integer sum — order-independent and bit-exact
    across engines. Planted doc_id%100==61 texts inject OOV tokens to
    exercise all three backoff branches; mode='report' — the data-card
    rollup (corpus_report over split_by_hash(md5) splits, table lang,
    source as domain): split totals + split×lang breakdown in ONE
    GROUPING SETS pass — docs, text bytes, whitespace tokens, distinct
    sources; mode='gopher' — Gopher rule-based quality screens (Rae et
    al. 2021; gopher_quality_flags, min_words=20) aggregated as the
    failure-bitmask DISTRIBUTION (k=bitmask, n1=docs, n2=token sum) with
    planted rule-violating docs (doc_id%40==17<500 cycling 4 violator
    texts); every threshold is an integer cross-multiplication so the
    bitmask is bit-exact cross-engine; mode='c4' — C4 line-level
    cleaning (Raffel et al. 2020; c4_line_filter): terminal-punctuation/
    min-words/javascript line screens + brace/lorem/bad-word/too-short
    doc screens, aggregated as the doc-bitmask distribution (k=bitmask,
    n1=docs, n2=surviving-line sum, n3=reassembled-text char sum) with
    planted violators (doc_id%40==23<500 cycling 4 texts); mode='rep' —
    Gopher repetition screens (gopher_repetition_flags): duplicate-line
    fraction/chars + top 2/3/4-gram char coverage (count>=2 only, struct
    tie-break to the lexicographically largest gram), aggregated as the
    rep-bitmask distribution (k=bitmask, n1=docs, n2=dup-line-char sum,
    n3=top-gram coverage sum) with planted violators (doc_id%40==31<500
    cycling 4 texts); mode='html' — HTML→text boilerplate extraction
    (extract_html_text: comments/script/style/head drop, block tags →
    newlines, tag strip, entity decode, whitespace normalize — one native
    regexp_replace chain) over dialect-shared decorated pages
    (doc_id%40==29<500 cycles 4 decoration shapes), pinned BYTE-EXACT:
    k=doc_id, n1=extracted length, n2=first-14-hex of md5(extracted) as a
    bigint, n3=raw html length; the oracle rebuilds the identical chain
    via html_extract_sql; mode='bm25' — BM25 keyword retrieval
    (bm25_topk, query 'spark vector window', k=20): rational constants
    k1=6/5 b=3/4 multiply the tf factor out to an integer ratio and the
    per-term IDF ln() is quantized to a micro-long, so every contribution
    is an int64 floor-division and scores are integer sums — bit-exact
    cross-engine (k=doc_id, n1=score_micro, n2=terms_matched, n3=rank);
    mode='chunk' — overlapping token-window chunking (chunk_documents,
    size=32 overlap=8: RAG/context-window prep), a native map-only
    Generate with no shuffle; every chunk pinned byte-exact via a 14-hex
    md5 prefix (k=doc_id/chunk_idx, n1=chunk tokens, n2=md5 prefix,
    n3=tok_start, n4=chunk_idx) with the DuckDB twin generated by
    chunk_sql from the same arithmetic; mode='nfc' — Unicode NFC
    normalization (normalize_nfc: Arrow-batched unicodedata vs DuckDB
    utf8proc) over planted DECOMPOSED suffixes (doc_id%40==37<500, one
    shared codepoint list builds both engines' literals): k=doc_id,
    n1=len before, n2=len after (planted docs shrink), n3=md5 prefix of
    the normalized text; mode='cms' — count-min-sketch frequency
    estimates (cms_build/cms_estimate: ≤ depth·width counter rows however
    large the corpus, ONE partial-agg shuffle, broadcast probe join) for
    planted heavy/rare/absent tokens (doc_id%40==19), width 512 so real
    collisions exercise the min-over-rows path: k=term, n1=estimate,
    n2=exact count, n3=row-0 bucket (pins the md5-slice hash itself);
    mode='heavy' — CMS-gated EXACT heavy hitters over the same stream
    (cms_heavy_hitters: the collected bounded counter table folds into a
    native least(element_at) gate — a pure filter on the corpus pass —
    then one candidate-bounded exact groupBy verifies): k=term, n1=exact
    count, n2=admitting estimate, n3=threshold (max(2, N div 200));
    mode='order' — deterministic training-data order (training_order:
    shard = md5-key mod 8, pos = within-shard key rank; one hash exchange
    + local sort, no global sort): k=doc_id, n1=shard, n2=pos;
    mode='kmv' — KMV/theta sketch (kmv_build: the 256 smallest distinct
    md5-slice hashes — a pure function of the value set, so the sketch
    TABLE re-derives exactly): k=rank rows with n1=hash, plus k='est'
    (integer distinct estimate) and k='ix_en_de' (theta intersection of
    the en/de vocabularies — the set op HLL can't express);
    mode='hll' — HyperLogLog cardinality registers over the word stream
    (hll_build, p=6 ⇒ ≤64 rows however large the corpus): k=register
    idx, n1=rho max (pure integer arithmetic ⇒ the sketch itself is
    bit-exact cross-engine), n2=distinct terms per register; mode=
    'wsample' — deterministic Efraimidis-Spirakis weighted sampling
    (weighted_sample: md5-derived uniforms, micro-long -ln(u) div
    integer weight ⇒ the exact 40-doc sample + race keys re-derivable
    in DuckDB): k=doc_id, n1=race key, n2=weight; mode='quantile' —
    EXACT token-count percentiles via the bounded per-value count table
    (exact_quantiles: never sorts the corpus): k=percent, n1=value,
    n2=corpus doc count; mode='t5span' — T5 denoising pairs
    (span_corrupt): k=doc_id, n1/n2 = 14-hex md5 prefixes binding the
    exact input/target strings, n3=n_spans, n4=n_masked; mode='fim' —
    fill-in-the-middle PSM layout (fim_transform, shuffle-free): n1 =
    md5 prefix of the rebuilt string, n2/n3 = cut offsets.
    Every value is re-derived in DuckDB (md5 bucket +
    window prefix sum + the same `div` cutoff arithmetic + the full LM
    build/score + the GROUPING SETS rollup + all seven Gopher rules +
    the full C4 line filter + the complete repetition battery incl. the
    top-gram argmax in SQL)."""
    from avc_parser_spark.functions.curation import corpus_report
    from avc_parser_spark.functions.text import (
        build_ngram_lm,
        c4_line_filter,
        gopher_quality_flags,
        gopher_repetition_flags,
        lm_score,
        pack_sequences,
        sample_to_mixture,
        split_by_hash,
    )

    _views(spark, sf_dir, ["documents"])
    docs = spark.table("documents")
    null_n = F.lit(None).cast("long")
    prof = document_profile(docs)
    stats = prof.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("n_tokens").cast("long").alias("n2"),
        F.sum("n_subtokens").cast("long").alias("n3"),
    ).select(
        F.lit("stats").alias("mode"), F.col("lang").alias("k"),
        "n1", "n2", "n3", null_n.alias("n4"), null_n.alias("n5"),
    )
    pack = pack_sequences(docs, seq_len=2048, bucket_count=16).select(
        F.lit("pack").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("pack_bucket").cast("long").alias("n1"),
        F.col("n_tokens").cast("long").alias("n2"),
        F.col("tok_start").cast("long").alias("n3"),
        F.col("seq_start").cast("long").alias("n4"),
        F.col("seq_offset").cast("long").alias("n5"),
    )
    mix = sample_to_mixture(
        docs, {"en": 2, "de": 1, "fr": 1, "zh": 1}, method="md5"
    ).select(
        F.lit("mix").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("mix_bucket").cast("long").alias("n1"),
        F.col("mix_cutoff").cast("long").alias("n2"),
        null_n.alias("n3"), null_n.alias("n4"), null_n.alias("n5"),
    )
    # ppl: plant OOV-bearing texts on doc_id%100==61 (a subset of the
    # scored %50==11 docs, also inside the LM reference half — both
    # engines apply the plant BEFORE the LM build, so they agree).
    pdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 100 = 61 THEN
                 concat('zzqx', doc_id, ' unseenword', doc_id,
                        ' entirely novel phrasing here')
               ELSE text END AS text
        FROM documents
        """
    )
    lm = build_ngram_lm(pdocs.filter(F.col("doc_id") % 10 < 5))
    # (the ppl branch is assembled after the thread-pool block below: the
    # bounded LM tables — top-k bigrams, vocab unigrams, 1-row total —
    # are eagerly materialized on the pool so the LM build overlaps the
    # other corpus passes and the final job scores against checkpointed
    # tables instead of re-deriving the LM inside its critical path)
    rep_base = split_by_hash(
        docs.select("doc_id", "text", "lang", F.col("source").alias("domain")),
        method="md5",
    )
    report = corpus_report(rep_base, lang_col="lang").select(
        F.lit("report").alias("mode"),
        F.concat_ws(
            "/", F.col("split"), F.coalesce(F.col("lang"), F.lit("ALL"))
        ).alias("k"),
        F.col("docs").cast("long").alias("n1"),
        F.col("text_bytes").cast("long").alias("n2"),
        F.col("tokens").cast("long").alias("n3"),
        F.col("n_domains").cast("long").alias("n4"),
        null_n.alias("n5"),
    )
    gdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 40 = 17 AND doc_id < 500 THEN
                 (CASE cast(floor(doc_id / 40.0) as int) % 4
                  WHEN 0 THEN 'word'
                  WHEN 1 THEN '## # ## tag # pound # sign # heavy #'
                  WHEN 2 THEN concat('- one', '\n', '- two', '\n', '- three')
                  ELSE concat('first...', '\n', 'second...', '\n', 'third') END)
               ELSE text END AS text
        FROM documents
        """
    )
    gopher = (
        gopher_quality_flags(gdocs, min_words=20)
        .groupBy("gopher_bitmask")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum("n_words").cast("long").alias("n2"),
        )
        .select(
            F.lit("gopher").alias("mode"),
            F.col("gopher_bitmask").cast("string").alias("k"),
            "n1", "n2", null_n.alias("n3"), null_n.alias("n4"),
            null_n.alias("n5"),
        )
    )
    cdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 40 = 23 AND doc_id < 500 THEN
                 (CASE cast(floor(doc_id / 40.0) as int) % 4
                  WHEN 0 THEN 'function f() { return one; }'
                  WHEN 1 THEN 'Lorem ipsum dolor sit amet consectetur adipiscing elit.'
                  WHEN 2 THEN concat(
                    'This planted page has a clean long sentence right here.',
                    '\n', 'tiny line.', '\n',
                    'Unfinished line without terminal punctuation')
                  ELSE concat(
                    'This planted page has a clean long sentence right here.',
                    '\n', 'Enable javascript to view this content now.', '\n',
                    'Another fine sentence is present right here in the doc.',
                    '\n', 'A third full sentence rounds out the page nicely.')
                  END)
               ELSE text END AS text
        FROM documents
        """
    )
    c4 = (
        c4_line_filter(cdocs)
        .groupBy("c4_bitmask")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum("n_kept_lines").cast("long").alias("n2"),
            F.sum(F.length("c4_kept_text")).cast("long").alias("n3"),
        )
        .select(
            F.lit("c4").alias("mode"),
            F.col("c4_bitmask").cast("string").alias("k"),
            "n1", "n2", "n3", null_n.alias("n4"), null_n.alias("n5"),
        )
    )
    rdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 40 = 31 AND doc_id < 500 THEN
                 (CASE cast(floor(doc_id / 40.0) as int) % 4
                  WHEN 0 THEN concat('echo line repeats.', '\n',
                                     'echo line repeats.', '\n',
                                     'echo line repeats.', '\n',
                                     'a closing unique line.')
                  WHEN 1 THEN 'spam ham spam ham spam ham spam ham eventually something else'
                  WHEN 2 THEN 'a wholly varied sentence keeps every window unique across this planted document today.'
                  ELSE 'alpha beta gamma delta alpha beta gamma delta closing words here now'
                  END)
               ELSE text END AS text
        FROM documents
        """
    )
    rep = (
        gopher_repetition_flags(rdocs)
        .groupBy("rep_bitmask")
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum("dup_line_chars").cast("long").alias("n2"),
            F.sum(
                F.col("top2_chars") + F.col("top3_chars") + F.col("top4_chars")
            ).cast("long").alias("n3"),
        )
        .select(
            F.lit("rep").alias("mode"),
            F.col("rep_bitmask").cast("string").alias("k"),
            "n1", "n2", "n3", null_n.alias("n4"), null_n.alias("n5"),
        )
    )
    from avc_parser_spark.functions.text import extract_html_text

    hdocs = spark.sql(
        "SELECT doc_id, " + _HTML_DECOR_CASE + " AS html FROM documents"
    )
    hext = hdocs.select(
        "doc_id",
        F.length("html").alias("hl"),
        extract_html_text(F.col("html")).alias("x"),
    )
    html = hext.select(
        F.lit("html").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.length("x").cast("long").alias("n1"),
        F.expr("cast(conv(substr(md5(x), 1, 14), 16, 10) as bigint)").alias("n2"),
        F.col("hl").cast("long").alias("n3"),
        null_n.alias("n4"), null_n.alias("n5"),
    )
    from avc_parser_spark.functions.retrieval import bm25_topk

    bm25 = bm25_topk(
        docs.select("doc_id", "text"), ["spark", "vector", "window"], k=20
    ).select(
        F.lit("bm25").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("score_micro").alias("n1"),
        F.col("terms_matched").cast("long").alias("n2"),
        F.col("rank").cast("long").alias("n3"),
        null_n.alias("n4"), null_n.alias("n5"),
    )
    from avc_parser_spark.functions.text import chunk_documents, normalize_nfc

    chunk = chunk_documents(docs, size=32, overlap=8).select(
        F.lit("chunk").alias("mode"),
        F.concat_ws(
            "/", F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
        ).alias("k"),
        F.col("n_chunk_tokens").cast("long").alias("n1"),
        F.expr(
            "cast(conv(substr(md5(chunk_text), 1, 14), 16, 10) as bigint)"
        ).alias("n2"),
        F.col("tok_start").alias("n3"),
        F.col("chunk_idx").cast("long").alias("n4"),
        null_n.alias("n5"),
    )
    ndocs = docs.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 40 == 37) & (F.col("doc_id") < 500),
            F.concat(F.col("text"), F.lit(_NFC_SUFFIX)),
        ).otherwise(F.col("text")).alias("text"),
    )
    nfc = normalize_nfc(ndocs).select(
        F.lit("nfc").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.length("text").cast("long").alias("n1"),
        F.length("text_nfc").cast("long").alias("n2"),
        F.expr(
            "cast(conv(substr(md5(text_nfc), 1, 14), 16, 10) as bigint)"
        ).alias("n3"),
        null_n.alias("n4"), null_n.alias("n5"),
    )
    from avc_parser_spark.functions.dedup import cms_build, cms_estimate

    # cms: count-min-sketch point estimates over the doc word stream with
    # planted heavy/rare tokens (doc_id%40==19, a free plant slot). Width
    # 512 forces real collisions at corpus vocab size, so the min-over-rows
    # behavior is exercised, not just exact pass-through; n3 pins the row-0
    # bucket so the md5-slice hash derivation itself is cross-checked.
    cms_w, cms_d = 512, 4
    cms_probe_terms = ["cmshh0", "cmshh1", "cmshh2", "cmsrare", "cmsabsent"]
    cms_docs = spark.sql(
        """
        SELECT CASE WHEN doc_id % 40 = 19 THEN
                 concat(text, ' cmshh', cast(doc_id % 3 as string),
                        ' cmshh', cast(doc_id % 3 as string), ' cmsrare')
               ELSE text END AS text
        FROM documents
        """
    )
    cms_terms = cms_docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    # r6 optimization (guide §1.2 step 1 / §2.3 — fewer corpus passes): the
    # bounded CMS counter table (≤ width·depth rows by construction) is
    # computed in ONE corpus aggregation and collected once, then reused
    # three ways that previously each paid their own corpus scan:
    #   1. the exact stream total = sum of the row-0 counters (row 0 counts
    #      every term exactly once) — replaces a separate cms_terms.count();
    #   2. the heavy-hitter gate (cms_heavy_hitters counters=);
    #   3. the 'cms' mode probe estimates, joined against the collected
    #      table rebuilt as a local frame instead of re-aggregating the
    #      corpus inside the final job.
    # The (independent) grouped-KMV collect runs concurrently on a thread
    # pool so the two remaining corpus passes overlap (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    from avc_parser_spark.functions.dedup import (
        kmv_build_grouped,
        kmv_estimate,
        kmv_intersect_estimate,
    )

    kmv_k = 256
    lang_terms = docs.select(
        F.col("lang"), F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_counters = pool.submit(
            cms_build(cms_terms, width=cms_w, depth=cms_d).collect
        )
        f_kmv = pool.submit(
            kmv_build_grouped(lang_terms, "lang", k=kmv_k).collect
        )
        f_lm = pool.submit(
            lambda: {k: v.localCheckpoint() for k, v in lm.items()}
        )
        # (results harvested below, once every independent mode is built — the
        # driver-side construction of the remaining modes overlaps the two
        # corpus passes running on the pool)
        cms_exact = (
            cms_terms.filter(F.col("term").isin(cms_probe_terms))
            .groupBy("term")
            .count()
        )
        # hll: HyperLogLog cardinality registers over the same doc word stream
        # (p=6 → ≤64 rows regardless of corpus size). Every register is pure
        # integer arithmetic (md5-slice hash, idx = low bits, rho via
        # length(bin(w))) so the whole sketch — not an approximation of it —
        # is re-derived bit-exactly in DuckDB. n2 = distinct terms per
        # register pins the index assignment independently of rho.
        hll_p = 6
        hll_terms = docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("term")
        ).filter(F.col("term") != "")
        # r6: the register maxes (hll_build's aggregation) and the per-register
        # distinct-term pin previously ran as two independent corpus explodes
        # joined on idx; both group by the same register index over the same
        # stream, so ONE pass computes both (guide §2.3 — aggregate before you
        # shuffle; hll_build's own arithmetic is reused via _hll_register_cols
        # and stays pinned by its pytest + the unchanged oracle).
        from avc_parser_spark.functions.dedup import _hll_register_cols

        _hidx, _hrho = _hll_register_cols(F.col("term"), hll_p)
        hll_fused = (
            hll_terms.select(_hidx.alias("idx"), _hrho.alias("rho"), "term")
            .groupBy("idx")
            .agg(
                F.max("rho").cast("long").alias("rho"),
                F.countDistinct("term").alias("n_distinct"),
            )
        )
        from avc_parser_spark.functions.text import exact_quantiles, weighted_sample

        # quantile: EXACT corpus length percentiles the 100 TB way — aggregate
        # to the bounded per-value count table first, window over ≤|domain|
        # rows (see exact_quantiles); pinned ceil-threshold pick, integer
        # arithmetic ⇒ the exact percentile values re-derive in DuckDB.
        quant = exact_quantiles(
            prof.select(F.col("n_tokens").alias("v")), "v", (25, 50, 75, 90, 99)
        ).select(
            F.lit("quantile").alias("mode"),
            F.col("q").cast("string").alias("k"),
            F.col("value").alias("n1"),
            F.col("n_total").cast("long").alias("n2"),
            null_n.alias("n3"), null_n.alias("n4"), null_n.alias("n5"),
        )

        from avc_parser_spark.functions.text import fim_transform, span_corrupt

        # fim: fill-in-the-middle PSM layout — shuffle-free native transform;
        # the md5 prefix binds the exact rebuilt string.
        fim = fim_transform(docs).select(
            F.lit("fim").alias("mode"),
            F.col("doc_id").cast("string").alias("k"),
            F.conv(F.substring(F.md5("fim_text"), 1, 14), 16, 10)
            .cast("long").alias("n1"),
            F.col("cut_lo").alias("n2"),
            F.col("cut_hi").alias("n3"),
            null_n.alias("n4"),
            null_n.alias("n5"),
        )

        # t5span: T5 denoising pairs over the corpus — the 14-hex md5 prefixes
        # bind the exact input/target STRINGS cross-engine.
        t5 = span_corrupt(docs, 150).select(
            F.lit("t5span").alias("mode"),
            F.col("doc_id").cast("string").alias("k"),
            F.conv(F.substring(F.md5("input_text"), 1, 14), 16, 10)
            .cast("long").alias("n1"),
            F.conv(F.substring(F.md5("target_text"), 1, 14), 16, 10)
            .cast("long").alias("n2"),
            F.col("n_spans").alias("n3"),
            F.col("n_masked").alias("n4"),
            null_n.alias("n5"),
        )

        # wsample: deterministic Efraimidis-Spirakis weighted sampling — the
        # top-40 exponential-race winners weighted by length(text)+1. The
        # integer race keys make the exact selected set (and each key)
        # enumerable in DuckDB from the same md5/ln-micro arithmetic.
        wsample = weighted_sample(
            docs.withColumn("_w", F.length("text") + F.lit(1)),
            40,
            "_w",
        ).select(
            F.lit("wsample").alias("mode"),
            F.col("doc_id").cast("string").alias("k"),
            F.col("sample_key").alias("n1"),
            F.col("_w").cast("long").alias("n2"),
            null_n.alias("n3"), null_n.alias("n4"), null_n.alias("n5"),
        )
        from avc_parser_spark.functions.text import training_order

        # order: deterministic training-data order — shard = md5-key mod 8,
        # pos = rank of the key within the shard (one hash exchange + local
        # sort; no global sort). A pure function of the id set, so DuckDB
        # re-derives every (shard, pos) from the same 14-hex md5 arithmetic.
        order = training_order(docs, 8, method="md5").select(
            F.lit("order").alias("mode"),
            F.col("doc_id").cast("string").alias("k"),
            F.col("shard").cast("long").alias("n1"),
            F.col("pos").alias("n2"),
            null_n.alias("n3"), null_n.alias("n4"), null_n.alias("n5"),
        )
        # Harvest the overlapped corpus passes (see the pool.submit calls
        # above); everything from here on depends on their results.
        counter_rows = f_counters.result()
        kmv_grouped_rows = f_kmv.result()
        lm_ck = f_lm.result()
    ppl = lm_score(pdocs.filter(F.col("doc_id") % 50 == 11), lm_ck).select(
        F.lit("ppl").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("n_bigrams").cast("long").alias("n1"),
        F.col("n_oov").alias("n2"),
        F.col("logp_micro_sum").alias("n3"),
        null_n.alias("n4"), null_n.alias("n5"),
    )
    counters_local = spark.createDataFrame(
        [(int(r["r"]), int(r["c"]), int(r["cnt"])) for r in counter_rows],
        "r int, c long, cnt long",
    )
    cms_est = cms_estimate(
        counters_local,
        spark.createDataFrame([(t,) for t in cms_probe_terms], "term: string"),
        width=cms_w,
        depth=cms_d,
    )
    cms = cms_est.join(cms_exact, "term", "left").select(
        F.lit("cms").alias("mode"),
        F.col("term").alias("k"),
        F.col("cms_count").alias("n1"),
        F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("n2"),
        F.pmod(
            F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(cms_w),
        ).alias("n3"),
        null_n.alias("n4"), null_n.alias("n5"),
    )
    from avc_parser_spark.functions.dedup import cms_heavy_hitters

    # heavy: CMS-gated EXACT heavy hitters over the same stream — the gate
    # is a pure codegen filter from the collected (bounded) counter table,
    # the exact groupBy touches only gate survivors. The oracle needs NO
    # sketch for the result set (no false negatives ⇒ result == exact
    # counts ≥ threshold) but n2 re-derives the admitting estimate from
    # the full counter table, pinning the gate arithmetic too.
    cms_total = sum(int(r["cnt"]) for r in counter_rows if r["r"] == 0)
    heavy_thr = max(2, cms_total // 200)
    heavy = cms_heavy_hitters(
        cms_terms, heavy_thr, width=cms_w, depth=cms_d, counters=counters_local
    ).select(
        F.lit("heavy").alias("mode"),
        F.col("term").alias("k"),
        F.col("cnt").alias("n1"),
        F.col("cms_count").alias("n2"),
        F.lit(heavy_thr).cast("long").alias("n3"),
        null_n.alias("n4"), null_n.alias("n5"),
    )
    # kmv: theta/KMV sketch — the k smallest DISTINCT md5-slice hashes of
    # the word stream. A pure function of the value SET ⇒ the sketch
    # TABLE itself (k='1'..'256' rank rows), the integer distinct
    # estimate, and the en∩de vocabulary-intersection estimate (the set
    # op HLL can't express) are all re-derived bit-exactly in DuckDB.
    # ONE grouped pass serves all three sketches: languages PARTITION the
    # stream, so the global sketch = merge of the per-lang sketches
    # (measured 3 corpus scans → 1; the merges/estimates run in Python
    # over the ≤ k·n_langs collected candidate rows — bounded). The pass
    # itself ran on the thread pool above, overlapped with the CMS build.
    by_lang: dict[str, list[int]] = {}
    for r in kmv_grouped_rows:
        by_lang.setdefault(r["grp"], []).append(int(r["h"]))
    kmv_hashes = sorted(set().union(*by_lang.values()))[:kmv_k]
    kmv_est = kmv_estimate(kmv_hashes, kmv_k)
    # en∩de theta intersection over the collected per-lang sketches
    kmv_ix = kmv_intersect_estimate(
        by_lang.get("en", []), by_lang.get("de", []), kmv_k
    )
    kmv = spark.createDataFrame(
        [
            ("kmv", str(i + 1), h, None, None, None, None)
            for i, h in enumerate(kmv_hashes)
        ]
        + [
            ("kmv", "est", int(kmv_est), None, None, None, None),
            ("kmv", "ix_en_de", int(kmv_ix), None, None, None, None),
        ],
        "mode string, k string, n1 long, n2 long, n3 long, n4 long, n5 long",
    )
    hll = hll_fused.select(
        F.lit("hll").alias("mode"),
        F.col("idx").cast("string").alias("k"),
        F.col("rho").alias("n1"),
        F.col("n_distinct").cast("long").alias("n2"),
        null_n.alias("n3"), null_n.alias("n4"), null_n.alias("n5"),
    )
    return (
        stats.unionByName(pack)
        .unionByName(mix)
        .unionByName(ppl)
        .unionByName(report)
        .unionByName(gopher)
        .unionByName(c4)
        .unionByName(rep)
        .unionByName(html)
        .unionByName(bm25)
        .unionByName(chunk)
        .unionByName(nfc)
        .unionByName(cms)
        .unionByName(heavy)
        .unionByName(order)
        .unionByName(kmv)
        .unionByName(hll)
        .unionByName(wsample)
        .unionByName(quant)
        .unionByName(t5)
        .unionByName(fim)
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with forced duplicates (doc_id%3==0 →
    canonical per-lang text)."""
    _views(spark, sf_dir, ["documents"])
    docs = spark.sql(
        """
        SELECT doc_id,
               case when doc_id % 3 = 0 then 'dup ' || lang else text end AS text
        FROM documents
        """
    )
    return exact_duplicates(docs).select("digest", "dup_count", "keeper")


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, hash-verified via a guaranteed-recall
    invariant: planted docs (doc_id%25==0) form 4 identical-text clusters, so
    their MinHash signatures are identical and LSH emits every intra-cluster
    pair in every band (recall exactly 1, not probabilistic). The query
    returns the candidate pairs restricted to the planted docs with their
    verified Jaccard (=1); the oracle enumerates the same pairs directly.
    The unrestricted candidate superset (threshold behaviour on merely-similar
    pairs) stays pytest-verified — accidental near-dups in the raw corpus
    make full-output equality non-SQL-expressible."""
    _views(spark, sf_dir, ["documents"])
    # doc_id < 500 keeps the planted cluster sizes CONSTANT across scale
    # factors (covers every doc at the driver's sf0.01), so the planted
    # buckets can never outgrow the LSH max_bucket cap and break the
    # recall-1 invariant at larger corpora.
    docs = spark.sql(
        """
        SELECT doc_id,
               case when doc_id % 25 = 0 and doc_id < 500
                    then (case cast(floor(doc_id / 25.0) as int) % 4
                          when 0 then 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
                          when 1 then 'lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor'
                          when 2 then 'north south east west river mountain valley forest desert ocean'
                          else 'crimson amber violet indigo turquoise magenta cobalt emerald silver bronze'
                          end)
                    else text end AS text
        FROM documents
        """
    ).repartition(spark.sparkContext.defaultParallelism)
    # ^ the driver testdata parquet is a single row group → one split; the
    # sketch is the UDF-heavy stage, so buy parallelism with one tiny shuffle
    # (at warehouse scale the table is written pre-distributed instead)
    pairs = minhash_lsh_candidates(docs)
    verified = ngram_jaccard(docs, pairs).filter(F.col("jaccard") >= 0.5)
    return verified.filter(
        (F.col("a") % 25 == 0) & (F.col("b") % 25 == 0)
        & (F.col("a") < 500) & (F.col("b") < 500)
    ).orderBy("a", "b")


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-0 clustering, hash-verified via the planted cluster:
    every doc_id%4==1 carries identical text → identical simhash → one
    cluster whose size and keeper the oracle derives directly. Clusters
    smaller than 5 (accidental near-collisions in the raw corpus) are out of
    scope for the invariant and filtered; the unfiltered behaviour stays
    pytest-verified."""
    _views(spark, sf_dir, ["documents"])
    docs = spark.sql(
        """
        SELECT doc_id,
               case when doc_id % 4 = 1 and doc_id < 500
                    then 'identical page body' else text end AS text
        FROM documents
        """
    ).repartition(spark.sparkContext.defaultParallelism)
    # ^ one-split driver parquet: spread the sketch pass (guide §2.5)
    clusters = simhash_near_dups(docs).filter(F.col("dup_count") >= 5)
    return clusters.select(
        "dup_count", F.array_min("doc_ids").alias("keeper")
    )


# The three planted simhash variant texts are FIXED strings, so their
# pairwise Hamming distances are deterministic constants of xxhash64:
# d(v0,v1)=0, d(v0,v2)=d(v1,v2)=2 — re-derived every run by
# tests/test_functions.py::test_simhash_planted_variant_distances, which
# asserts exactly the constants baked into the DuckDB oracle below (so
# drift surfaces as a named assertion). The base repeats 3× so a one-token tail
# change flips only ~2 of the 64 majority votes — keeping the planted pairs
# inside Hamming≤3 and exercising the nonzero-distance recall path.
_SIMHASH_BASE = (
    "shared base text for simhash near duplicate detection across web pages "
)


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming≤3 pairs via Manku block-permutation bucketing,
    hash-verified via the guaranteed-recall invariant: planted docs
    (doc_id%10==2) carry one of three fixed text variants whose pairwise
    simhash distances are 0 or 2 (≤3), so pigeonhole recall 1 means EVERY
    planted pair must appear with its exact distance — which the oracle
    enumerates. Restricted to planted pairs; accidental raw-corpus near-dups
    (real, ~14 at sf0.01) keep the unrestricted output non-SQL-expressible
    and pytest-verified instead."""
    from avc_parser_spark.functions.dedup import simhash_pairs

    _views(spark, sf_dir, ["documents"])
    docs = spark.sql(
        f"""
        SELECT doc_id,
               case when doc_id % 10 = 2 and doc_id < 500
                    then repeat('{_SIMHASH_BASE}', 3)
                         || 'tail variant ' || cast(doc_id % 3 as string)
                    else text end AS text
        FROM documents
        """
    ).repartition(spark.sparkContext.defaultParallelism)
    pairs = simhash_pairs(docs, max_hamming=3)
    return pairs.filter(
        (F.col("a") % 10 == 2) & (F.col("b") % 10 == 2)
        & (F.col("a") < 500) & (F.col("b") < 500)
    )


def _query_vec(emb: DataFrame, vec_id: int = 0) -> list[float] | None:
    """Fetch one query vector by id; None when the id is absent (empty/
    filtered table) so callers can return an empty result instead of raising
    TypeError on `.head()[0]` (same guard shape as dedup.py's dim probe)."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    return None if row is None else list(row[0])


def _empty_topk(emb: DataFrame) -> DataFrame:
    return emb.sparkSession.createDataFrame([], "vec_id bigint, cosine double")


# --- planted separable corpus for the IVF pruned-probe mode ---------------
# 4 groups on disjoint 16-dim blocks of a 64-dim space: group g = vec_id%4
# occupies dims [16g, 16g+16) with values 1 + 0.001*((vec_id*31+d) % 97),
# zero elsewhere. Cross-group cosine is exactly 0 (disjoint supports) and
# within-group cosine ≈ 1, so with the four block-indicator centroids every
# vector provably assigns to its own group and the query's (group-0) cluster
# contains the true top-k — n_probe=1 EQUALS exact by construction, which
# makes the recall-bearing pruned path hash-checkable against a brute-force
# DuckDB oracle over the same planted table (VERDICT r3 item 3).
_IVF_DIM, _IVF_BLOCK, _IVF_GROUPS = 64, 16, 4

_IVF_PLANT_SPARK_SQL = f"""
    SELECT vec_id,
           transform(sequence(0, {_IVF_DIM - 1}), d ->
             case when cast(floor(d / {_IVF_BLOCK}.0) as int) = cast(vec_id % {_IVF_GROUPS} as int)
                  then cast(1.0 + 0.001 * ((vec_id * 31 + d) % 97) as double)
                  else cast(0.0 as double) end) AS embedding
    FROM embeddings
"""


def _ivf_plant_query_vec() -> list[float]:
    """The planted vec_id=0 vector (same closed form as the SQL plants)."""
    return [
        1.0 + 0.001 * (d % 97) if d < _IVF_BLOCK else 0.0
        for d in range(_IVF_DIM)
    ]


def _ivf_plant_centroids() -> list[list[float]]:
    """Block-indicator centroids — one per planted group."""
    return [
        [
            1.0 if _IVF_BLOCK * g <= d < _IVF_BLOCK * (g + 1) else 0.0
            for d in range(_IVF_DIM)
        ]
        for g in range(_IVF_GROUPS)
    ]


# --- planted lossless corpus for the PQ (product-quantization) mode -------
# m=8 subspaces × d=8 dims, k=16 codewords per subspace. Codeword j-th dim:
# C[s][c][j] = 0.1*(((s*131 + c*17 + j*7) % 23) - 11) — for a fixed s the 16
# codewords are distinct cyclic shifts, so the native L2-argmin encoder must
# recover the planted pick code(vec_id,s) = (vec_id*7 + vec_id%13 + s*3)%16
# exactly (distance 0 vs ||c−c'||² > 0), and quantization is LOSSLESS: the
# ADC score Σ_s lut[s][code_s] equals the true dot product, so the ADC
# top-10 provably equals the exact dot-product top-10 that DuckDB enumerates
# from the same closed form. Encoding itself is differentially pinned vs
# numpy in tests/test_functions.py::test_pq_encode_matches_numpy.
_PQ_M, _PQ_D, _PQ_K = 8, 8, 16

_PQ_PLANT_SPARK_SQL = f"""
    SELECT vec_id,
           transform(sequence(0, {_PQ_M * _PQ_D - 1}), d ->
             cast(((d div {_PQ_D}) * 131
                   + ((vec_id * 7 + vec_id % 13 + (d div {_PQ_D}) * 3) % {_PQ_K}) * 17
                   + (d % {_PQ_D}) * 7) % 23 - 11 as double) * 0.1) AS embedding
    FROM embeddings
"""


def _pq_plant_codebooks() -> list[list[list[float]]]:
    """The planted codebooks (same closed form as the SQL plants)."""
    return [
        [
            [0.1 * (((s * 131 + c * 17 + j * 7) % 23) - 11) for j in range(_PQ_D)]
            for c in range(_PQ_K)
        ]
        for s in range(_PQ_M)
    ]


def _pq_plant_query_vec() -> list[float]:
    """The planted vec_id=0 vector: code(0, s) = (s*3) % 16."""
    return [
        0.1 * (((s * 131 + ((s * 3) % _PQ_K) * 17 + j * 7) % 23) - 11)
        for s in range(_PQ_M)
        for j in range(_PQ_D)
    ]


# --- planted corpus for the FUSED IVF+PQ mode ------------------------------
# The production 10^12-vector ANN layout (FAISS IVFPQ): partition-prune to
# the query's IVF cluster, then score ONLY that cluster's PQ codes with the
# ADC lookup table — the full-precision vectors are never touched at query
# time. The plant composes both proofs: group g = vec_id%4 occupies the
# 16-dim block [16g, 16g+16) (cross-group dot exactly 0 ⇒ with the block-
# indicator centroids n_probe=1 provably contains the true top-k), and the
# within-block values 1 + 0.1*((2*vec_id + d) % 5) cycle through only 5
# variants per 8-dim subspace, so a 6-codeword book (zeros + the 5 cyclic
# shifts) makes quantization LOSSLESS: every subvector IS a codeword, ADC
# == true dot, and the pruned ADC top-10 provably equals the exact
# dot-product top-10 that DuckDB enumerates from the same closed form.
_IVFPQ_D = 8  # 8 subspaces × 8 dims over the 64-dim space

_IVFPQ_PLANT_SPARK_SQL = f"""
    SELECT vec_id,
           transform(sequence(0, {_IVF_DIM - 1}), d ->
             case when cast(d div {_IVF_BLOCK} as int) = cast(vec_id % {_IVF_GROUPS} as int)
                  then cast(1.0 + 0.1 * ((2 * vec_id + d) % 5) as double)
                  else cast(0.0 as double) end) AS embedding
    FROM embeddings
"""


def _ivfpq_codebooks() -> list[list[list[float]]]:
    """One 6-codeword book per subspace: zeros (out-of-block subvectors)
    plus the 5 phase variants t -> [1 + 0.1*((t+j)%5)]. The subvector of
    an in-block (v, s) is exactly variant (2v + 8s) % 5, so encoding is
    closed-form and quantization is lossless by construction."""
    zero = [0.0] * _IVFPQ_D
    variants = [
        [1.0 + 0.1 * ((t + j) % 5) for j in range(_IVFPQ_D)] for t in range(5)
    ]
    return [[zero] + variants for _ in range(_IVF_DIM // _IVFPQ_D)]


def _ivfpq_plant_query_vec() -> list[float]:
    """The planted vec_id=0 vector: block 0 with phase (2*0 + d) % 5."""
    return [
        1.0 + 0.1 * (d % 5) if d < _IVF_BLOCK else 0.0
        for d in range(_IVF_DIM)
    ]


def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN modes in one mode-tagged union (merged per the 50-entry window):
    - 'brute': exact cosine top-10 (TakeOrderedAndProject, no shuffle);
    - 'ivf_exact': the full train→assign→probe IVF machinery with
      n_probe = all clusters (exact by construction — hash-checks the
      k-means training and assignment against the brute-force oracle);
    - 'ivf_pruned': the recall-bearing n_probe=1 path over the planted
      separable corpus where pruned == exact provably (see plant above);
    - 'pq': product-quantization encode→ADC top-10 over the planted
      lossless corpus where ADC == exact dot provably (see plant above;
      the score column carries the rounded ADC dot product);
    - 'ivfpq': the FUSED production path (FAISS IVFPQ) — IVF-prune to the
      query's cluster, then ADC-score only that cluster's PQ codes; the
      plant makes pruning exact AND quantization lossless at once (see
      _IVFPQ_PLANT_SPARK_SQL), so the result provably equals the exact
      dot-product top-10 DuckDB enumerates."""
    from avc_parser_spark.functions.similarity import (
        ivf_topk,
        pq_adc_expr,
        pq_encode,
        train_centroids,
    )

    _views(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings")
    # The k-means training loop is a chain of small driver-synchronized
    # jobs (sample + one collect per Lloyd step); running it on a thread
    # overlaps those barriers with the plant/PQ branch construction below,
    # which is pure driver-side expression building (guide §2.6). The
    # query-vec probe rides the same pool. Leaving the `with` block waits
    # for both, so an error while building the branches cannot leave
    # Lloyd jobs running behind the raised exception.
    from concurrent.futures import ThreadPoolExecutor

    def tag(df: DataFrame, mode: str) -> DataFrame:
        return df.select(F.lit(mode).alias("mode"), "vec_id", "cosine")

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_qvec = pool.submit(_query_vec, emb)
        f_cents = pool.submit(train_centroids, emb)

        planted = spark.sql(_IVF_PLANT_SPARK_SQL)
        pruned = tag(
            ivf_topk(
                planted,
                _ivf_plant_query_vec(),
                _ivf_plant_centroids(),
                n_probe=1,
            ),
            "ivf_pruned",
        )
        books = _pq_plant_codebooks()
        pq_planted = spark.sql(_PQ_PLANT_SPARK_SQL)
        codes = pq_encode(pq_planted, books).select("vec_id", "pq_codes")
        # rank by the ROUNDED score: planted dots are 0.01·integer, and the
        # code pattern repeats every lcm(16,13)=208 vec_ids, so mathematically
        # tied scores are guaranteed — ranking the raw sum would let 1e-15
        # summation noise pick among ties differently than DuckDB's
        # round-then-vec_id ordering. Rounding first makes both engines rank
        # by the identical (score, vec_id) key.
        adc = F.round(pq_adc_expr(books, _pq_plant_query_vec()), 6)
        pq = (
            codes.select(
                F.lit("pq").alias("mode"), "vec_id", adc.alias("cosine")
            )
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(10)
        )
        # ivfpq: assign → prune to the query's cluster (at scale: a partition
        # filter over the stored codes table) → PQ-encode the survivors →
        # ADC top-10. Full-precision vectors never reach the scoring stage.
        from avc_parser_spark.functions.similarity import _probe_clusters, ivf_assign

        fp_books = _ivfpq_codebooks()
        fp_planted = spark.sql(_IVFPQ_PLANT_SPARK_SQL)
        fp_probe = _probe_clusters(
            _ivfpq_plant_query_vec(), _ivf_plant_centroids(), n_probe=1
        )
        fp_cand = ivf_assign(fp_planted, _ivf_plant_centroids()).filter(
            F.col("cluster").isin(fp_probe)
        )
        fp_codes = pq_encode(fp_cand, fp_books).select("vec_id", "pq_codes")
        fp_adc = F.round(pq_adc_expr(fp_books, _ivfpq_plant_query_vec()), 6)
        ivfpq = (
            fp_codes.select(
                F.lit("ivfpq").alias("mode"), "vec_id", fp_adc.alias("cosine")
            )
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(10)
        )
        # harvest the overlapped probe + training jobs
        qvec = f_qvec.result()
        if qvec is None:
            # no query vector ⇒ the centroid training is moot: drop it if still
            # queued and wait for a running one, so no job outlives the query
            pool.shutdown(wait=True, cancel_futures=True)
            return _empty_topk(emb).select(
                F.lit("brute").alias("mode"), "vec_id", "cosine"
            )
        cents = f_cents.result()
    brute = tag(brute_force_topk(emb, qvec, k=10), "brute")
    exact = tag(ivf_topk(emb, qvec, cents, n_probe=len(cents)), "ivf_exact")
    return (
        brute.unionByName(exact)
        .unionByName(pruned)
        .unionByName(pq)
        .unionByName(ivfpq)
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k, hash-verified against a full algorithmic
    oracle: the sign-projection hyperplanes are deterministic (seeded), so
    DuckDB replicates the bucketing with the same plane constants and
    brute-forces the cosine top-k within the query's bucket."""
    _views(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings")
    qvec = _query_vec(emb)
    if qvec is None:
        return _empty_topk(emb)
    return lsh_topk(emb, qvec, k=10)


def q_dedup_simhash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash modes in one mode-tagged union (merged per the 50-entry
    window; k-columns carry each mode's payload):
    - 'cluster': Hamming-0 clustering — k1=dup_count, k2=keeper, k3=0;
    - 'pair': Manku block-permutation Hamming≤3 pairs — k1=a, k2=b,
      k3=hamming. Both keep their guaranteed-recall planted invariants."""
    cluster = q_simhash_dups(spark, sf_dir).select(
        F.lit("cluster").alias("mode"),
        F.col("dup_count").cast("long").alias("k1"),
        F.col("keeper").cast("long").alias("k2"),
        F.lit(0).cast("long").alias("k3"),
    )
    pair = q_simhash_hamming(spark, sf_dir).select(
        F.lit("pair").alias("mode"),
        F.col("a").cast("long").alias("k1"),
        F.col("b").cast("long").alias("k2"),
        F.col("hamming").cast("long").alias("k3"),
    )
    return cluster.unionByName(pair)


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster RESOLUTION: candidate pairs → connected components →
    (doc_id, keeper) assignment — the step that decides which docs to drop
    (reference analog: collapsing raw denials into actionable groups,
    parse_avc.py:3942-4046). Two mode-tagged strategies:
    - 'chain': transitive chains planted in SQL (consecutive ids in blocks
      of 5) — A~B, B~C ⇒ same keeper requires multi-hop label propagation;
    - 'minhash': end-to-end — the guaranteed-recall planted MinHash pairs
      (identical texts → complete intra-cluster pair graphs) resolved to
      keeper = cluster minimum (= 25 × variant, enumerable in DuckDB);
    - 'embedding' (round 5): edges from embedding_near_dups over planted
      1.5×-scaled-copy vectors (vec_id%10==1 copies vec_id−1: cosine
      exactly 1, same LSH bucket by construction → recall 1), restricted
      to the planted pairs so components stay enumerable ⇒ keeper =
      pair minimum. Proves the resolver is strategy-agnostic where users
      mix edge sources (text + embedding dedup in one pass);
    - 'semdedup' (round 5): edges from semantic_dedup_pairs (SemDeDup,
      Abbas et al. 2023 — k-means cluster then within-cluster cosine) over
      a fully-determined plant: 4 clusters on disjoint 16-dim blocks
      (block-indicator centroids ⇒ provable assignment), members one-hot
      on distinct in-block dims (non-dup cosine exactly 0), vec_id%8>=4 a
      2.5×-scaled copy of vec_id−4 (cosine exactly 1) ⇒ the pair set is
      exactly the planted copies and keeper = vec_id−4, enumerable in
      DuckDB.
    Docs with no candidate pair keep themselves (left-join + coalesce), so
    the output is a full keep/drop assignment at every scale factor.

    All four strategies resolve in ONE propagation loop: minhash vertex
    ids are offset by 2^40, embedding by 2^41, semdedup by 2^42 so
    components can never cross strategies (every offset vanishes mod 2^40
    on output), and the iterative fixed costs (2 joins + a scalar count
    per round) are paid once instead of per strategy."""
    from avc_parser_spark.functions.dedup import (
        embedding_near_dups,
        resolve_clusters,
        semantic_dedup_pairs,
    )

    _views(spark, sf_dir, ["documents", "embeddings"])
    off = 1 << 40

    chain_pairs = spark.sql(
        """
        SELECT doc_id - 1 AS a, doc_id AS b
        FROM documents WHERE doc_id % 5 <> 0 AND doc_id < 500
        """
    )
    # the same planted clusters as dedup_minhash_lsh (4 identical-text
    # groups over doc_id%25==0, <500 → LSH recall exactly 1), but sketched
    # over the planted docs only: full-corpus sketching is what
    # dedup_minhash_lsh itself demonstrates; the op under test HERE is the
    # pairs→keepers resolution, and planted-pair emission is unaffected by
    # the other docs (identical sigs share every band regardless).
    docs = spark.sql(
        """
        SELECT doc_id,
               (case cast(floor(doc_id / 25.0) as int) % 4
                when 0 then 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
                when 1 then 'lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor'
                when 2 then 'north south east west river mountain valley forest desert ocean'
                else 'crimson amber violet indigo turquoise magenta cobalt emerald silver bronze'
                end) AS text
        FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500
        """
    )
    # (no repartition: the plant is ≤20 rows at every SF — fanning it out
    # to one task per core only multiplied Arrow-batch overhead, r6)
    mh_pairs = minhash_lsh_candidates(docs)

    emb = spark.sql(
        """
        SELECT a.vec_id,
               case when a.vec_id % 10 = 1
                    then transform(b.embedding, x -> cast(x as double) * 1.5)
                    else transform(a.embedding, x -> cast(x as double)) end
                 AS embedding
        FROM embeddings a LEFT JOIN embeddings b ON b.vec_id = a.vec_id - 1
        WHERE a.vec_id % 10 IN (0, 1)
        """
    )
    emb_pairs = embedding_near_dups(emb, threshold=0.8).filter(
        (F.col("b") == F.col("a") + 1) & (F.col("b") % 10 == 1)
    )

    # semdedup: one-hot block plant (see docstring) over vec_id < 64 —
    # reuses the IVF block-indicator centroids (same 64-dim, 4-group
    # geometry), so cluster assignment is provable, not trained.
    sem_emb = spark.sql(
        """
        SELECT vec_id,
               transform(sequence(0, 63), d ->
                 case when d = 16 * cast(vec_id % 4 as int)
                           + cast((cast(floor(vec_id / 4) as int)
                                   - case when vec_id % 8 >= 4 then 1 else 0 end)
                                  % 16 as int)
                      then cast(case when vec_id % 8 >= 4 then 2.5 else 1.0 end
                                as double)
                      else cast(0.0 as double) end) AS embedding
        FROM embeddings WHERE vec_id < 64
        """
    )
    sem_pairs = semantic_dedup_pairs(sem_emb, _ivf_plant_centroids())

    emb_off = 1 << 41
    sem_off = 1 << 42
    all_pairs = (
        chain_pairs.unionByName(
            mh_pairs.select(
                (F.col("a") + off).alias("a"), (F.col("b") + off).alias("b")
            )
        )
        .unionByName(
            emb_pairs.select(
                (F.col("a") + emb_off).alias("a"),
                (F.col("b") + emb_off).alias("b"),
            )
        )
        .unionByName(
            sem_pairs.select(
                (F.col("a") + sem_off).alias("a"),
                (F.col("b") + sem_off).alias("b"),
            )
        )
    )
    resolved = resolve_clusters(all_pairs)

    universe = spark.sql(
        f"""
        SELECT 'chain' AS strategy, doc_id, doc_id AS vid
        FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT 'minhash' AS strategy, doc_id, doc_id + {off} AS vid
        FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500
        UNION ALL
        SELECT 'embedding' AS strategy, vec_id AS doc_id,
               vec_id + {emb_off} AS vid
        FROM embeddings WHERE vec_id % 10 IN (0, 1)
        UNION ALL
        SELECT 'semdedup' AS strategy, vec_id AS doc_id,
               vec_id + {sem_off} AS vid
        FROM embeddings WHERE vec_id < 64
        """
    )
    return (
        universe.join(
            resolved.select(F.col("doc_id").alias("vid"), "keeper"), "vid", "left"
        )
        .select(
            "strategy",
            "doc_id",
            (F.coalesce("keeper", F.col("vid")) % off).alias("keeper"),
        )
    )


# Shared by q_corpus_curation (Spark input) — the same 4 planted
# identical-text clusters as dedup_minhash_lsh/dedup_resolve (doc_id%25==0,
# <500 → guaranteed LSH recall 1 at every scale factor).
_PLANT_TEXT_CASE = """case when doc_id % 25 = 0 and doc_id < 500
           then (case cast(floor(doc_id / 25.0) as int) % 4
                 when 0 then 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
                 when 1 then 'lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor'
                 when 2 then 'north south east west river mountain valley forest desert ocean'
                 else 'crimson amber violet indigo turquoise magenta cobalt emerald silver bronze'
                 end)
           else text end"""

# Synthetic raw URLs: docs d%10==9 share a canonical URL with doc d-9 (same
# decade head), every doc carries one of four decorations (uppercased
# scheme+host + tracking params / fragment / trailing slash / explicit :443)
# that canonicalize_url must strip to 'https://w.example.com/p/<base>'.
_CURATION_RAW_URL = """concat(
           case when doc_id % 4 = 0 then 'HTTPS://W.Example.COM'
                when doc_id % 4 = 3 then 'https://w.example.com:443'
                else 'https://w.example.com' end,
           '/p/',
           cast(doc_id - (case when doc_id % 10 = 9 then 9 else 0 end) as string),
           case when doc_id % 4 = 0 then '?utm_source=feed&utm_campaign=x'
                when doc_id % 4 = 1 then '#frag'
                when doc_id % 4 = 2 then '/'
                else '' end)"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone: the end-to-end corpus-curation materialization —
    canonicalize_url → URL-level exact dedup → MinHash near-dup pairs →
    Jaccard verify → connected-component resolution (keep keepers) →
    train/eval 8-gram decontamination → deterministic md5 split — composed
    by curate_corpus() (functions/curation.py), the analog of the
    reference's full main() lifecycle (parse_avc.py:3584-4117) as ONE flow.

    Planted invariants make every stage enumerable in DuckDB:
    - URL dups: doc_id%10==9 shares a canonical URL with doc_id-9 under
      four different raw decorations ⇒ exactly those docs drop;
    - near-dups: the 4 identical-text clusters (doc_id%25==0, <500) ⇒
      non-keepers (id ≠ 25×variant) drop; pair_filter restricts resolver
      edges to this known dup universe so the surviving set stays exact
      (full-corpus pair verification is dedup_minhash_lsh's job);
    - contamination: the eval suite carries the variant-0/1 cluster texts
      verbatim ⇒ their two keepers (0 and 25) drop;
    - split: md5 buckets (split_by_hash method='md5'), re-derived bit-exact
      in DuckDB via ('0x'||substr(md5(id),1,4))::bigint % 10000.
    The routed hive-partitioned write is test-gated in tests/test_curation.py.
    """
    from avc_parser_spark.functions.curation import curate_corpus

    _views(spark, sf_dir, ["documents"])
    docs = spark.sql(
        f"""
        SELECT doc_id,
               {_CURATION_RAW_URL} AS url,
               {_PLANT_TEXT_CASE} AS text
        FROM documents
        """
    ).repartition(spark.sparkContext.defaultParallelism)
    evals = spark.sql(
        """
        SELECT 0 AS eval_id,
               'alpha beta gamma delta epsilon zeta eta theta iota kappa' AS text
        UNION ALL
        SELECT 1,
               'lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor'
        """
    )
    curated = curate_corpus(
        docs,
        evals,
        pair_filter=(
            (F.col("a") % 25 == 0) & (F.col("b") % 25 == 0)
            & (F.col("a") < 500) & (F.col("b") < 500)
        ),
    )
    return curated.select("doc_id", "canon_url", "split")


# deterministic event-time pattern for the streaming sessionizer plant:
# per comm ('c0'..'c4'), events step 600 s, with a +3600 s jump every 100
# docs → gap 4200 s > the 1800 s session gap ⇒ a new session per century.
_SESS_TS_SQL = (
    f"{{e0}} + cast(floor(doc_id / 5) as bigint) * 600"
    " + cast(floor(doc_id / 100) as bigint) * 3600"
)


def q_streaming_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO actual Structured Streaming execution paths, mode-tagged:
    - 'rollup': readStream → stateless parse (mapInPandas) → watermarked
      windowed rollup → memory sink (complete, availableNow). Oracle = the
      equivalent batch aggregate (streaming == batch invariant).
    - 'sessions': the custom STATEFUL operator (applyInPandasWithState with
      event-time timeout) driver-checked: readStream over two files — the
      planted per-comm event corpus and a far-future flush batch that
      advances the watermark so every real session closes by timeout (the
      pattern proven in tests/test_streaming_plans.py) — append memory
      sink. Oracle = the batch lag/cumsum sessionization in DuckDB SQL.
    Columns (mode, k, t1, t2, n): rollup = (lang, hour_epoch, null, count);
    sessions = (comm, start_epoch, end_epoch, events)."""
    import os
    import shutil
    import uuid

    from avc_parser_spark.streaming import (
        run_stream_to_memory,
        stream_denial_sessions,
    )

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "tmp", "stream"
    )
    shutil.rmtree(base, ignore_errors=True)
    landing = os.path.join(base, "landing")
    ckpt = os.path.join(base, "ckpt")
    _synth_pages(spark, sf_dir, SYNTH_LINE).write.mode("overwrite").parquet(
        landing
    )
    name = "q_stream_rollup_" + uuid.uuid4().hex[:8]
    query = run_stream_to_memory(spark, landing, ckpt, name=name)
    query.awaitTermination()
    rollup = spark.table(name).select(
        F.lit("rollup").alias("mode"),
        F.col("lang").alias("k"),
        F.col("hour_start").cast("long").alias("t1"),
        F.lit(None).cast("long").alias("t2"),
        F.col("events").alias("n"),
    )

    _views(spark, sf_dir, ["documents"])
    sess_landing = os.path.join(base, "sess_landing")
    ts_sql = _SESS_TS_SQL.format(e0=EPOCH0)
    spark.sql(
        f"""
        SELECT 'c' || cast(doc_id % 5 as string) AS comm,
               timestamp_seconds({ts_sql}) AS event_ts,
               'parse_ok' AS route
        FROM documents
        """
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sess_landing, "b1")
    )
    spark.sql(
        f"""
        SELECT 'flush' AS comm,
               timestamp_seconds({EPOCH0 + 500_000_000}) AS event_ts,
               'parse_ok' AS route
        """
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sess_landing, "b2")
    )
    stream = (
        spark.readStream.schema("comm string, event_ts timestamp, route string")
        .option("maxFilesPerTrigger", 1)
        .parquet(sess_landing + "/*")
    )
    sname = "q_stream_sessions_" + uuid.uuid4().hex[:8]
    q2 = (
        stream_denial_sessions(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName(sname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    sessions = spark.table(sname).filter(F.col("comm") != "flush").select(
        F.lit("sessions").alias("mode"),
        F.col("comm").alias("k"),
        F.col("session_start").cast("long").alias("t1"),
        F.col("session_end").cast("long").alias("t2"),
        F.col("events").alias("n"),
    )
    out = rollup.unionByName(sessions)
    # both sinks are in-memory tables (independent of the files), so the
    # landing/checkpoint dirs can go now that the queries terminated
    # (VERDICT r4 nit #2: don't leave a corpus copy behind per run)
    shutil.rmtree(base, ignore_errors=True)
    return out


def q_mls_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+E7: MLS parse + relationship classification over a synthetic
    context matrix derived from doc_id."""
    _views(spark, sf_dir, ["documents"])
    df = spark.sql(
        """
        SELECT doc_id,
               (case doc_id % 4 when 0 then 's0' when 1 then 's15'
                     when 2 then 's0:c1' else 's0:c1.c2' end) AS s_mls,
               (case doc_id % 3 when 0 then 's0' when 1 then 's15'
                     else 's0:c2' end) AS t_mls
        FROM documents
        """
    )
    return df.select(
        "doc_id", "s_mls", "t_mls",
        mls_relationship_expr(F.col("s_mls"), F.col("t_mls")).alias("mls_case"),
    )


def q_policy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17/P18: MAC_POLICY_LOAD / MAC_STATUS side-table parse over synthetic
    policy lines constructed in SQL."""
    _views(spark, sf_dir, ["events"])
    pages = spark.sql(
        f"""
        SELECT 'e' || cast(event_id as string) AS url,
               (case when event_id % 2 = 0 then
                  'type=MAC_POLICY_LOAD msg=audit(' || cast({EPOCH0} + event_id as string)
                  || '.000:' || cast(event_id as string) || '): policy loaded auid='
                  || (case event_id % 6 when 0 then '500' when 2 then 'unset'
                           else 'unknown(' || cast(500 + event_id % 9 as string) || ')' end)
                  || ' ses=' || cast(event_id % 99 as string)
                else
                  'type=MAC_STATUS msg=audit(' || cast({EPOCH0} + event_id as string)
                  || '.000:' || cast(event_id as string) || '): enforcing='
                  || cast(event_id % 2 as string) || ' old_enforcing='
                  || cast((event_id + 1) % 2 as string) || ' auid=500'
                end) AS text
        FROM events
        """
    )
    pol = parse_policy_events(pages)
    return pol.select(
        "url", "rtype", "auid", "ses", "enforcing", "old_enforcing",
        F.col("event_ts").cast("long").alias("epoch"),
    )


def q_resource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-flavored resource rollup: per exact resource counts + perm sets."""
    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    resource = (
        F.when(F.col("path").isNotNull(), F.col("path"))
        .when(F.col("dest_port").isNotNull(), F.concat(F.lit("port:"), F.col("dest_port")))
        .otherwise(F.concat_ws(":", F.col("tclass"), F.col("permission")))
    )
    return (
        ev.withColumn("resource", resource)
        .groupBy("resource")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.array_join(F.sort_array(F.collect_set("permission")), ",").alias("perms"),
            F.countDistinct("pid").alias("distinct_pids"),
        )
    )


def q_link_graph_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph analytics (the Common-Crawl-style page-rank quality
    signal; see functions/graph.py) over a DETERMINISTIC planted hyperlink
    graph on doc_id < 500: every page links to its ring successor
    (i+1) % 500 and an affine scatter target (31·i+7) % 500, and every
    non-hub links to its local hub (i div 10)·10 — so hubs collect 9 extra
    in-links and the rank ordering is structurally forced. Modes:
    - 'degree': per-node out/in degree (n1/n2);
    - 'pagerank': n1 = rank after 8 integer-micro rounds — bit-exact in
      DuckDB via an unrolled chained-CTE oracle doing the same
      div-truncated arithmetic (all operands non-negative ⇒ floor);
    - 'trustrank': the same loop SEEDED (Gyöngyi et al. 2004) — reset and
      start mass only on the 5 planted trusted hubs (doc_id % 100 == 0),
      so n1 = trust decaying with link distance from the seed set;
    - 'reach2': n1 = distinct pages reachable in ≤2 hops (one hop-join,
      enumerable in DuckDB with the same self-join);
    - 'links': the REAL extraction front stage — extract_links over
      planted HTML (doc_id % 4 anchors, dialect-shared builder): n1 =
      hrefs found, n2 = extracted-target checksum;
    - 'domainrank': graph COARSENING (the Common-Crawl host-rank
      pattern) — pages collapse to domains (node div 50), distinct
      inter-domain edges only, then 4 integer-micro rounds over the
      coarsened graph (third unrolled CTE chain in the oracle);
    - 'hits': Kleinberg hubs & authorities — 4 rounds of the max-
      normalized integer HITS loop (n1 = auth, n2 = hub; fourth unrolled
      CTE chain: sum → 1-row max → mul-div normalize, bit-exact).
    The ring edge gives every node out-degree ≥ 1 (no dangling mass) and
    in-degree ≥ 1, keeping the oracle enumeration total."""
    from avc_parser_spark.functions.graph import (
        degree_stats,
        hits_micro,
        pagerank_micro_multi,
        two_hop_reach,
    )

    _views(spark, sf_dir, ["documents"])
    edges = spark.sql(
        """
        SELECT doc_id AS src, (doc_id + 1) % 500 AS dst
        FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT doc_id, (doc_id * 31 + 7) % 500
        FROM documents WHERE doc_id < 500
        UNION ALL
        SELECT doc_id, (doc_id div 10) * 10
        FROM documents WHERE doc_id < 500 AND doc_id % 10 <> 0
        """
    )
    null_n = F.lit(None).cast("long")
    deg = degree_stats(edges).select(
        F.lit("degree").alias("mode"),
        "node",
        F.col("out_deg").alias("n1"),
        F.col("in_deg").alias("n2"),
    )
    seeds = spark.sql(
        "SELECT doc_id AS node FROM documents"
        " WHERE doc_id < 500 AND doc_id % 100 = 0"
    )
    # domainrank input (used by the overlapped loop below): coarsen pages →
    # domains (div 50), distinct inter-domain edges — at 100 TB the
    # coarsened graph is orders of magnitude smaller (hosts, not pages), so
    # the distinct is the only corpus-scale shuffle and the loop runs on
    # the small graph.
    dedges = edges.select(
        F.expr("src div 50").alias("src"), F.expr("dst div 50").alias("dst")
    ).filter(F.col("src") != F.col("dst")).distinct()
    # The three iterative loops (pr+tr fused PageRank, domainrank, HITS)
    # are independent chains of small synchronous rounds; running them from
    # a thread pool lets each round's tasks back-fill the idle executors of
    # the others' barriers (guide §2.6 — overlap independent jobs). Results
    # are unchanged: each loop is a pure function of its edge frame.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_both = pool.submit(
            pagerank_micro_multi, edges, {"pr": None, "tr": seeds}, 8
        )
        f_drank = pool.submit(pagerank_micro_multi, dedges, {"d": None}, 4)
        f_hits = pool.submit(hits_micro, edges, 4)
        both = f_both.result()
        drank_ranks = f_drank.result()
        hits_ranks = f_hits.result()
    pr = both.select(
        F.lit("pagerank").alias("mode"),
        "node",
        F.col("rank_pr").alias("n1"),
        null_n.alias("n2"),
    )
    tr = both.select(
        F.lit("trustrank").alias("mode"),
        "node",
        F.col("rank_tr").alias("n1"),
        null_n.alias("n2"),
    )
    r2 = two_hop_reach(edges).select(
        F.lit("reach2").alias("mode"),
        "node",
        F.col("reach2").alias("n1"),
        null_n.alias("n2"),
    )
    drank = drank_ranks.select(
        F.lit("domainrank").alias("mode"),
        "node",
        F.col("rank_d").alias("n1"),
        null_n.alias("n2"),
    )

    # links: the REAL extraction front stage — planted HTML (dialect-shared
    # builder, doc_id % 4 anchors each targeting (doc_id*7+j) % 500) run
    # through extract_links; n1 = links found, n2 = target-id checksum, so
    # the hash verifies the extracted URLs, not just their count.
    from avc_parser_spark.functions.text import extract_links

    html_df = spark.sql(
        "SELECT doc_id, '<html><body>' || "
        + _links_html_case()
        + " || '</body></html>' AS html FROM documents WHERE doc_id < 500"
    )
    lk = (
        extract_links(html_df)
        .groupBy(F.col("doc_id").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum(
                F.regexp_extract(F.col("href"), r"([0-9]+)$", 1).cast("long")
            ).alias("n2"),
        )
        .select(F.lit("links").alias("mode"), "node", "n1", "n2")
    )
    hits = hits_ranks.select(
        F.lit("hits").alias("mode"),
        "node",
        F.col("auth_micro").alias("n1"),
        F.col("hub_micro").alias("n2"),
    )
    return (
        deg.unionByName(pr)
        .unionByName(tr)
        .unionByName(r2)
        .unionByName(drank)
        .unionByName(lk)
        .unionByName(hits)
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over a corpus with PLANTED duplicates
    (every vec_id%10==1 is a 1.5× scaled copy of its predecessor — same
    direction, cosine exactly 1, always the same bucket). LSH equi-join;
    oracle is the brute-force all-pairs cosine in DuckDB."""
    from avc_parser_spark.functions.dedup import embedding_near_dups

    _views(spark, sf_dir, ["embeddings"])
    emb = spark.sql(
        """
        SELECT a.vec_id,
               case when a.vec_id % 10 = 1
                    then transform(b.embedding, x -> cast(x as double) * 1.5)
                    else transform(a.embedding, x -> cast(x as double)) end
                 AS embedding
        FROM embeddings a LEFT JOIN embeddings b ON b.vec_id = a.vec_id - 1
        """
    )
    return embedding_near_dups(emb, threshold=0.8)




def q_stats_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-dimension counters in one grouping-sets pass."""
    from avc_parser_spark.aggregate import stats_counters

    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    return stats_counters(ev, ["comm", "sc_type", "tclass", "permission"])




def _smart_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from avc_parser_spark.pipeline import denial_groups

    ev = signature_exprs(_parsed(spark, sf_dir).filter(F.col("route") == "parse_ok"))
    return denial_groups(ev)


def q_filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: since-filter over the group table (last_seen >= cutoff)."""
    from avc_parser_spark.filters import filter_since_until

    groups = _smart_groups(spark, sf_dir)
    kept = filter_since_until(groups, until="2023-11-14 22:21:34")
    return kept.select(
        "process_category", "sig_target", "object_group", "sig_extra",
        "permission_category",
        F.col("count").alias("cnt"),
        F.col("last_seen").cast("long").alias("last_epoch"),
    )


_GROUP_COLS = [
    "process_category", "sig_target", "object_group", "sig_extra",
    "permission_category",
]


def q_filter_groups_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (process substring), F2 (anchored path glob) and F4 (context
    glob-or-substring matcher) over the group table, one mode-tagged row set
    per filter (reference filters run after aggregation — the
    filter-after-agg contract)."""
    from avc_parser_spark.filters import (
        filter_path,
        filter_process,
        filter_source_context,
    )

    groups = _smart_groups(spark, sf_dir)
    parts = [
        ("process", filter_process(groups, "httpd,mysqld")),
        ("glob", filter_path(groups, "/var/www/*")),
        ("context", filter_source_context(groups, "*:httpd_t:*,mysqld")),
    ]
    out = None
    for mode, kept in parts:
        sel = kept.select(
            F.lit(mode).alias("fmode"), *_GROUP_COLS,
            F.col("count").alias("cnt"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


def q_sort_groups_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + A7: the three deterministic group orderings — count (top 20),
    recent and chrono (top 15 each) — plus `top_n_per_dimension` over the
    event table as a fourth mode (`top5`, the reference's most_common(n)
    path). LIMIT makes row membership order-sensitive, so the hash checks
    each sort; k1/k2 carry the respective primary/secondary sort keys."""
    from avc_parser_spark.aggregate import top_n_per_dimension
    from avc_parser_spark.sorts import sort_groups

    ev = signature_exprs(
        _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    )
    top5 = top_n_per_dimension(ev, "signature", 5).select(
        F.lit("top5").alias("mode"), "signature",
        F.col("cnt").alias("k1"), F.col("cnt").alias("k2"),
    )
    groups = _smart_groups(spark, sf_dir)
    by_count = (
        sort_groups(groups, "count")
        .select(
            F.lit("count").alias("mode"), "signature",
            F.col("count").alias("k1"),
            F.col("last_seen").cast("long").alias("k2"),
        )
        .limit(20)
    )
    recent = (
        sort_groups(groups, "recent")
        .select(
            F.lit("recent").alias("mode"), "signature",
            F.col("last_seen").cast("long").alias("k1"),
            F.col("first_seen").cast("long").alias("k2"),
        )
        .limit(15)
    )
    chrono = (
        sort_groups(groups, "chrono")
        .select(
            F.lit("chrono").alias("mode"), "signature",
            F.col("first_seen").cast("long").alias("k1"),
            F.col("last_seen").cast("long").alias("k2"),
        )
        .limit(15)
    )
    return by_count.unionByName(recent).unionByName(chrono).unionByName(top5)


def q_filter_mls_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: keep groups whose contexts carry a non-trivial MLS component."""
    from avc_parser_spark.filters import filter_mls_only

    _views(spark, sf_dir, ["documents"])
    groups = spark.sql(
        """
        SELECT doc_id,
               named_struct(
                 'scontext_raw',
                 case when doc_id % 3 = 2 then 'u:r:t:s0' else 'u:r:t' end,
                 'tcontext_raw',
                 case when doc_id % 3 = 1 then 'u:r:ot:s5:c1' else 'u:r:ot' end
               ) AS representative
        FROM documents
        """
    )
    return filter_mls_only(groups).select("doc_id")


def q_resource_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: consolidated resource groups flattened via the
    resources_by_permission map (permission → [(resource, count)])."""
    from avc_parser_spark.aggregate import (
        consolidate_resource_groups,
        resource_subgroups,
    )

    ev = signature_exprs(_parsed(spark, sf_dir).filter(F.col("route") == "parse_ok"))
    cons = consolidate_resource_groups(resource_subgroups(ev))
    return (
        cons.select(
            F.array_join("pids", ",").alias("pids_str"),
            F.array_join("comms", ",").alias("comms_str"),
            F.explode("resources_by_permission").alias("permission", "res_list"),
        )
        .select(
            "pids_str", "comms_str", "permission",
            F.explode("res_list").alias("r"),
        )
        .select(
            "pids_str", "comms_str", "permission",
            F.col("r.resource").alias("resource"),
            F.col("r.count").cast("long").alias("rcount"),
        )
    )


def q_grouping_optimality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 both faces as one mode-tagged union (merged round 5 to free a
    driver slot for corpus_curation):
    - 'detail': per-sesearch-command regrouping (group_count, mergeable);
    - 'report': the scalar optimality report (total_groups, unique_commands,
      mergeable_commands, efficiency_score = unique/total).
    Columns (mode, k, n1, n2, n3, eff); unused slots are typed nulls."""
    from avc_parser_spark.aggregate import (
        grouping_optimality,
        grouping_optimality_report,
    )

    groups = _smart_groups(spark, sf_dir)
    detail = grouping_optimality(groups).select(
        F.lit("detail").alias("mode"),
        F.col("sesearch_command").alias("k"),
        F.col("group_count").cast("long").alias("n1"),
        F.col("mergeable").cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.lit(None).cast("double").alias("eff"),
    )
    report = grouping_optimality_report(groups).select(
        F.lit("report").alias("mode"),
        F.lit("").alias("k"),
        F.col("total_groups").alias("n1"),
        F.col("unique_commands").alias("n2"),
        F.col("mergeable_commands").alias("n3"),
        F.col("efficiency_score").alias("eff"),
    )
    return detail.unionByName(report)




def _analyzer_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group table planting every detector/analyzer trigger
    (shared fragments AZ_* in oracle_shared.py)."""
    from avc_parser_spark.oracle_shared import (
        AZ_CNT, AZ_COMM, AZ_DPATH, AZ_DPERM, AZ_PERM, AZ_PERMISSIVE,
        AZ_STYPE, AZ_TMLS, AZ_TTYPE,
    )

    _views(spark, sf_dir, ["documents"])
    return spark.sql(
        f"""
        SELECT doc_id AS sig_id,
               {AZ_CNT} AS count,
               timestamp_seconds({EPOCH0} + doc_id) AS first_seen,
               timestamp_seconds({EPOCH0} + doc_id) AS last_seen,
               array({AZ_PERM}, {AZ_DPERM}) AS permissions,
               array({AZ_PERMISSIVE}) AS permissives,
               array({AZ_DPATH}) AS paths,
               named_struct(
                 'sc_type', {AZ_STYPE},
                 'tc_type', {AZ_TTYPE},
                 'scontext_raw', 'system_u:system_r:' || {AZ_STYPE} || ':s0',
                 'tcontext_raw', 'system_u:object_r:' || {AZ_TTYPE} || ':' || {AZ_TMLS},
                 'comm', {AZ_COMM},
                 'permissive', {AZ_PERMISSIVE}) AS representative
        FROM documents
        """
    )


# AN6 plant: two policy reloads bracketing the synthetic corpus — groups
# first_seen < EPOCH0+100 count as "before", last_seen >= EPOCH0+400 as
# "after" (reference analyzers/recurrence.py:10-71 epoch semantics).
AN6_LOAD_EPOCHS = (EPOCH0 + 100, EPOCH0 + 400)


def q_detector_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D4: per-group detector flag columns
    (reference detectors/anomaly_detector.py:10-229)."""
    from avc_parser_spark.analyzers import detector_flags

    flagged = detector_flags(_analyzer_groups(spark, sf_dir))
    return flagged.select(
        "sig_id", "flag_dontaudit", "flag_permissive",
        "flag_container_paths", "flag_custom_paths",
    )


def q_analyzer_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six analyzers — AN1 labeling, AN2 MLS inconsistency, AN3
    relabeling, AN4 boot impact, AN5 systemic, AN6 recurrence — as threshold
    findings over the planted group table (reference analyzers/labeling.py:
    19-93, relabeling.py, boot_impact.py, patterns.py, recurrence.py:10-71).
    Scalar columns only — affected_sigs/hints/evidence are pytest-verified
    (arrays/maps aren't comparable through the DuckDB oracle)."""
    from avc_parser_spark.analyzers import run_analyzers

    loads = spark.createDataFrame(
        [(e,) for e in AN6_LOAD_EPOCHS], "epoch long"
    ).select(F.timestamp_seconds("epoch").alias("event_ts"))
    return run_analyzers(_analyzer_groups(spark, sf_dir), policy_loads=loads).select(
        "severity", "category", "title", "affected_groups", "total_events",
        "detail",
    )


def q_ngram_overlap_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram overlap ops in one mode-tagged union:
    - 'adjacent': exact k=3 word-shingle Jaccard between adjacent docs
      (k1 = jaccard, k2 = null);
    - 'contam': train/eval DECONTAMINATION (GPT-3-style 8-gram overlap,
      broadcast-semi-join plan — the train gram stream is filtered against
      the broadcast eval gram set before any dedup/shuffle). Planted eval
      docs are verbatim copies of train docs, so overlap == total distinct
      8-grams, enumerable in DuckDB (k1 = overlap, k2 = total);
    - 'winnow': MOSS-style winnowing fingerprint candidates (rolling
      k-gram hash + window-min selection, winnow_candidates_from_fps) over
      the same planted corpus as the minhash query — identical planted texts have
      identical fingerprint sets, so every intra-cluster pair surfaces
      with fp_jaccard exactly 1 (guaranteed recall, not probabilistic);
      the oracle enumerates the planted pairs (k1 = fp_jaccard = 1.0,
      k2 = partner id). The unrestricted candidate superset stays
      pytest-verified (accidental fingerprint collisions in the raw corpus
      are not SQL-expressible);
    - 'paradedup': CCNet-style PARAGRAPH-level dedup (paragraph_dedup,
      keep='first') over the full corpus with planted multi-paragraph docs
      (shared boilerplate header/footer + per-doc unique paragraph +
      intra-doc repeats). The oracle runs the COMPLETE algorithm in DuckDB
      (split -> global min-(id,pos) instance -> ordered string_agg), so the
      reassembled text itself is checked: k1 = 16-bit md5 slice of the
      deduped text, k2 = paragraphs kept;
    - 'substr': Lee-et-al EXACT-SUBSTRING dedup (substring_dedup, k=8
      windows): planted docs share a 14-token sentence + a per-doc tail
      token, so every non-canonical copy loses the shared region wholesale
      while the globally-first doc survives verbatim. Both engines run the
      COMPLETE algorithm — global window firsts over every doc, reassembly
      bounded to the planted set (the same plan Catalyst derives from the
      doc-id filter): k1 = 16-bit md5 slice of the deduped text,
      k2 = tokens kept;
    - 'bloomdelta': INCREMENTAL exact dedup via the Bloom delta gate
      (exact_delta_dups): odd doc_ids arrive as the delta, even doc_ids
      are the stored corpus; the distributed Bloom bitmap (bit_or partial
      agg, ≤m/64 rows) gates the delta through k broadcast joins — no
      false negatives — then the semi-join verify kills false positives,
      so the confirmed set is EXACT digest membership and the oracle
      enumerates the intersection directly (planted shared texts on
      doc_id%40∈{0,21}; k1 = 1, k2 = 48-bit digest prefix)."""
    from avc_parser_spark.functions.dedup import (
        ngram_contamination,
        paragraph_dedup,
        substring_dedup,
        winnow_candidates_from_fps,
        winnow_fingerprints,
        winnow_jaccard_from_fps,
        word_shingles,
    )

    _views(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("text"), 3)).alias("sh"),
    )
    a = docs.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    b = docs.select((F.col("doc_id") - 1).alias("a"), F.col("sh").alias("sh_b"))
    adjacent = (
        a.join(b, "a")
        .filter(F.col("a") % 2 == 0)
        .select(
            F.lit("adjacent").alias("mode"),
            "a",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("k1"),
            F.lit(None).cast("double").alias("k2"),
        )
    )
    eval_docs = spark.sql(
        """
        SELECT d.doc_id AS eval_id, t.text AS text
        FROM documents d JOIN documents t ON t.doc_id = d.doc_id - 7
        WHERE d.doc_id % 50 = 7 AND d.doc_id < 500
        """
    )
    contam = ngram_contamination(spark.table("documents"), eval_docs).select(
        F.lit("contam").alias("mode"),
        F.col("eval_id").alias("a"),
        F.col("overlap_ngrams").cast("double").alias("k1"),
        F.col("total_ngrams").cast("double").alias("k2"),
    )
    # winnow: full-corpus fingerprinting with the minhash query's planted
    # overrides; doc_id<500 keeps planted clusters scale-constant
    wdocs = spark.sql(
        """
        SELECT doc_id,
               case when doc_id % 25 = 0 and doc_id < 500
                    then (case cast(floor(doc_id / 25.0) as int) % 4
                          when 0 then 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
                          when 1 then 'lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor'
                          when 2 then 'north south east west river mountain valley forest desert ocean'
                          else 'crimson amber violet indigo turquoise magenta cobalt emerald silver bronze'
                          end)
                    else text end AS text
        FROM documents
        """
    ).repartition(spark.sparkContext.defaultParallelism)
    # full-corpus candidates (the scale-bearing stage), then verify ONLY
    # the planted pairs the oracle enumerates — max_bucket=16 is the
    # honest stop-list for a corpus this small (fingerprints shared by
    # >3% of docs are boilerplate; planted clusters have 5 members).
    # The corpus is sketched ONCE (persisted fps shared by the candidate
    # and verify stages — the curate_corpus one-sketch-pass pattern).
    wfps = winnow_fingerprints(wdocs).persist()
    wpairs = winnow_candidates_from_fps(wfps, max_bucket=16).filter(
        (F.col("a") % 25 == 0) & (F.col("b") % 25 == 0)
        & (F.col("a") < 500) & (F.col("b") < 500)
    )
    winnow = (
        winnow_jaccard_from_fps(wfps, wpairs)
        .filter(F.col("fp_jaccard") >= 0.9)
        .select(
            F.lit("winnow").alias("mode"),
            "a",
            F.col("fp_jaccard").alias("k1"),
            F.col("b").cast("double").alias("k2"),
        )
    )
    # paradedup: planted multi-paragraph docs over the raw corpus (raw
    # texts have no newlines, so every non-planted doc is one paragraph);
    # doc_id<500 keeps plants scale-constant. Both engines run the FULL
    # algorithm; output restricted to planted docs for bounded rows.
    pdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 20 = 3 AND doc_id < 500 THEN
                 concat('subscribe to our newsletter for updates', '\n\n',
                        'unique paragraph for document ', doc_id,
                        CASE WHEN doc_id % 40 = 3
                             THEN concat('\n\n', 'copyright footer all rights reserved')
                             ELSE '' END,
                        CASE WHEN doc_id % 40 = 23
                             THEN concat('\n\n', 'breaking news ticker repeats',
                                         '\n\n', 'breaking news ticker repeats')
                             ELSE '' END)
               ELSE text END AS text
        FROM documents
        """
    )
    paradedup = (
        paragraph_dedup(pdocs)
        .filter((F.col("doc_id") % 20 == 3) & (F.col("doc_id") < 500))
        .select(
            F.lit("paradedup").alias("mode"),
            F.col("doc_id").alias("a"),
            F.conv(F.substring(F.md5("text_dedup"), 1, 4), 16, 10)
            .cast("double")
            .alias("k1"),
            F.col("paragraphs_kept").cast("double").alias("k2"),
        )
    )
    # substr: duplicated >=8-token window removal over the full corpus;
    # the doc-id filter pushes into the hits join's instance side but NOT
    # into the global firsts aggregate, so "planted docs deduped against
    # the whole corpus" is the executed plan.
    sdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 30 = 11 AND doc_id < 500 THEN
                 concat('the quick brown fox jumps over the lazy dog again',
                        ' unique tail for document ', doc_id)
               ELSE text END AS text
        FROM documents
        """
    )
    substr = (
        substring_dedup(sdocs, k=8)
        .filter((F.col("doc_id") % 30 == 11) & (F.col("doc_id") < 500))
        .select(
            F.lit("substr").alias("mode"),
            F.col("doc_id").alias("a"),
            F.conv(F.substring(F.md5("text_dedup"), 1, 4), 16, 10)
            .cast("double")
            .alias("k1"),
            F.col("tokens_kept").cast("double").alias("k2"),
        )
    )
    # bloomdelta: incremental exact dedup — odd doc_ids are the arriving
    # delta, even doc_ids the stored corpus; doc_id%40 ∈ {0, 21} share 3
    # canonical planted texts so confirmed cross-batch dups exist at every
    # SF. The Bloom gate is a pure pre-filter with no false negatives, so
    # the confirmed set is EXACT membership — the oracle enumerates the
    # digest intersection directly (k1=1, k2=48-bit digest prefix).
    from avc_parser_spark.functions.dedup import exact_delta_dups

    bdocs = spark.sql(
        """
        SELECT doc_id,
               CASE WHEN doc_id % 40 IN (0, 21)
                    THEN 'bloom planted page ' || (doc_id % 3)
                    ELSE text END AS text
        FROM documents
        """
    )
    bloomdelta = exact_delta_dups(
        bdocs.filter(F.col("doc_id") % 2 == 1),
        bdocs.filter(F.col("doc_id") % 2 == 0),
    ).select(
        F.lit("bloomdelta").alias("mode"),
        F.col("doc_id").alias("a"),
        F.lit(1.0).alias("k1"),
        F.conv(F.substring("digest", 1, 12), 16, 10).cast("double").alias("k2"),
    )
    return (
        adjacent.unionByName(contam)
        .unionByName(winnow)
        .unionByName(paradedup)
        .unionByName(substr)
        .unionByName(bloomdelta)
    )




_TPCH_SEMI_ANTI_SQL = """
    SELECT 'semi' AS mode, o.o_orderpriority AS k, count(*) AS n
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    UNION ALL
    SELECT 'anti' AS mode, c.c_name AS k, c.c_custkey AS n
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= timestamp '1997-06-01 00:00:00')
"""


def q_tpch_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (orders with a late lineitem, by priority) and anti-join
    (customers with no recent orders) in one mode-tagged check — both plan
    to LeftSemi/LeftAnti joins."""
    _views(spark, sf_dir, ["orders", "lineitem", "customer"])
    return spark.sql(_TPCH_SEMI_ANTI_SQL)


def q_tpch_q12ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-aggregates: priority counts per linestatus (q12 shape)."""
    _views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(
        """
        SELECT l.l_linestatus AS linestatus,
               sum(case when o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        then 1 else 0 end) AS high_line_count,
               sum(case when o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        then 1 else 0 end) AS low_line_count
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_linestatus
        """
    )


_EVENTS_WINDOWS_SQL = """
    SELECT event_id, user_id, event_type,
           round(avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS moving_avg,
           dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk,
           round(sum(value) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING), 2) AS running_value
    FROM events
"""


def q_events_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowing + temporal-join suite, mode-tagged:
    - 'win': per-user 5-row moving average, dense_rank and a running sum
      per event_type (two window partitionings in one pass);
    - 'asof': functions/joins.py::asof_join — every event attaches the
      LATEST marker event (event_id % 97 == 0) at-or-before its ts within
      its event_type. The Spark side is the JOIN-FREE union+window
      carry-forward; the oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — two
      independent implementations of the operator;
    - 'range': functions/joins.py::range_join — (event, marker) pairs
      where the event falls in the marker's 1-day window [ts, ts+1d];
      bucketized equi-join (no nested-loop, plan-gated in pytest) vs the
      oracle's plain inequality join."""
    from avc_parser_spark.functions.joins import asof_join, range_join

    _views(spark, sf_dir, ["events"])
    null_d = F.lit(None).cast("double")
    win = spark.sql(_EVENTS_WINDOWS_SQL).select(
        F.lit("win").alias("mode"),
        "event_id",
        F.col("event_type").alias("k"),
        F.col("rk").cast("long").alias("n1"),
        F.col("moving_avg").alias("x1"),
        F.col("running_value").alias("x2"),
    )
    ev = spark.table("events").select("event_id", "event_type", "ts")
    markers = (
        spark.table("events")
        .filter(F.col("event_id") % 97 == 0)
        .select(
            "event_type",
            "ts",
            F.col("event_id").alias("marker_id"),
            F.round("value", 4).alias("marker_value"),
        )
    )
    asof = asof_join(
        ev, markers, on="ts", by=["event_type"],
        value_cols=["marker_id", "marker_value"],
    ).select(
        F.lit("asof").alias("mode"),
        "event_id",
        F.col("event_type").alias("k"),
        F.col("marker_id_asof").cast("long").alias("n1"),
        F.col("marker_value_asof").alias("x1"),
        null_d.alias("x2"),
    )
    intervals = markers.select(
        "event_type",
        F.col("marker_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("hi"),
    )
    rng = range_join(
        ev, intervals, "ts", "lo", "hi", by=["event_type"],
        bucket_width=86400.0,
    ).select(
        F.lit("range").alias("mode"),
        "event_id",
        F.col("event_type").alias("k"),
        F.col("marker_id").cast("long").alias("n1"),
        null_d.alias("x1"),
        null_d.alias("x2"),
    )
    return win.unionByName(asof).unionByName(rng)




def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix (DataFrame.pivot vs the
    oracle's conditional aggregation)."""
    _views(spark, sf_dir, ["events"])
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        spark.table("events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distribution stats: exact interpolated percentiles (Spark
    `percentile` == DuckDB `quantile_cont`) PLUS a custom UDAF — an
    Arrow-batched GROUPED_AGG pandas geometric mean (the UDAF extension
    point the reference lacks), verified against exp(avg(ln(x)))."""
    import numpy as np
    import pandas as _pd
    from pyspark.sql.pandas.functions import pandas_udf

    def _geomean(v: _pd.Series) -> float | None:
        # geomean over strictly positive values (zeros occur at sf0.1 —
        # ln(0) would error in the DuckDB twin and -inf-poison here)
        arr = v.dropna().to_numpy(dtype="float64")
        if not len(arr):
            return None
        return float(np.exp(np.log(arr).mean()))

    _geomean.__annotations__ = {"v": _pd.Series, "return": float}
    geomean = pandas_udf(_geomean, "double")

    _views(spark, sf_dir, ["events"])
    pct = spark.sql(
        """
        SELECT event_type,
               round(percentile(value, 0.5), 4) AS p50,
               round(percentile(value, 0.95), 4) AS p95,
               round(min(value), 4) AS vmin,
               round(max(value), 4) AS vmax
        FROM events GROUP BY event_type
        """
    )
    geo = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.round(
                geomean(F.when(F.col("value") > 0, F.col("value"))), 4
            ).alias("geo_value")
        )
    )
    return pct.join(F.broadcast(geo), "event_type")


def q_tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: per-nation, per-region and grand-total balances."""
    _views(spark, sf_dir, ["supplier", "nation", "region"])
    return spark.sql(
        """
        SELECT coalesce(r.r_name, 'ALL') AS region,
               coalesce(n.n_name, 'ALL') AS nation,
               round(sum(s.s_acctbal), 2) AS total_acctbal,
               count(*) AS suppliers
        FROM supplier s
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP(r.r_name, n.n_name)
        """
    )


def q_events_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: users who clicked AND viewed but never made a
    high-value purchase."""
    _views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'view'
        EXCEPT
        SELECT user_id FROM events
        WHERE event_type = 'purchase' AND value > 180
        """
    )


# 44-byte canonical RIFF/WAVE header: PCM, mono, 8000 Hz, 8-bit, 8 samples
# (= struct.pack of the fixed fmt/data chunks; data bytes appended per doc).
_WAV_HDR_HEX = (
    "524946462C00000057415645666D7420100000000100010040"
    "1F0000401F0000010008006461746108000000"
)


def _png_plants() -> tuple[list[str], list[int], list[int], list[int]]:
    """8 planted 8×8 RGB PNG payloads (gradient pixels, row filters cycling
    0-4 so the driver check exercises every unfilter branch) plus the
    expected post-resize(4×4) oracle constants:
      (hex payloads, resized n_bytes, mean_byte, std_milli).
    Expectations are re-derived from the CONSTRUCTED pixel arrays — NN
    resize indexing, grayscale mean/std through the float32 feature dtype,
    and the byte layout of a filter-0 zlib-9 re-encode — mirroring the spec
    math, not calling the decode kernels under test."""
    import zlib

    import numpy as np

    from avc_parser_spark.functions.multimodal import encode_png

    hexes, nbytes, means, stds = [], [], [], []
    yy, xx, cc = np.meshgrid(
        np.arange(8), np.arange(8), np.arange(3), indexing="ij"
    )
    for v in range(8):
        img = ((17 * v + 31 * yy + 7 * xx + 3 * cc) % 256).astype("uint8")
        hexes.append(
            encode_png(img, row_filters=[0, 1, 2, 3, 4, 0, 1, 2]).hex()
        )
        ys = np.arange(4) * 8 // 4
        small = img[ys][:, ys]
        gray = small.astype("float64").mean(axis=2) / 255.0
        # features ride as array<float> → quantize through float32 exactly
        # like the engine's Arrow boundary before the *255/*1000 rounding
        means.append(int(np.floor(float(np.float32(gray.mean())) * 255 + 0.5)))
        stds.append(int(np.floor(float(np.float32(gray.std())) * 1000 + 0.5)))
        lines = b"".join(b"\x00" + small[r].tobytes() for r in range(4))
        nbytes.append(8 + 25 + 12 + len(zlib.compress(lines, 9)) + 12)
    return hexes, nbytes, means, stds


_PNG_HEX, _PNG_NBYTES, _PNG_MEAN, _PNG_STD = _png_plants()


def _gif_plants() -> tuple[list[str], list[int], list[int], list[int]]:
    """8 planted OVERSIZED (6×6 > max_dim 4) grayscale GIF payloads
    (gradient pixels through the dictionary-LZW encoder) + expected oracle
    constants AFTER the real GIF resize kernel runs (decode → NN 4×4 →
    re-encode): the NN row/col selection is re-derived here from the
    constructed pixels (same spec math as the kernel, float32 feature
    dtype), so resize_status='resized' and the post-resize features are
    driver-checked end to end."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import encode_gif

    hexes, nbytes, means, stds = [], [], [], []
    yy, xx = np.meshgrid(np.arange(6), np.arange(6), indexing="ij")
    ys = np.arange(4) * 6 // 4
    for v in range(8):
        img = ((23 * v + 29 * yy + 11 * xx) % 256).astype("uint8")
        payload = encode_gif(img)
        hexes.append(payload.hex())
        small = img[ys][:, ys]
        nbytes.append(len(encode_gif(small)))
        gray = small.astype("float64") / 255.0
        means.append(int(np.floor(float(np.float32(gray.mean())) * 255 + 0.5)))
        stds.append(int(np.floor(float(np.float32(gray.std())) * 1000 + 0.5)))
    return hexes, nbytes, means, stds


_GIF_HEX, _GIF_NBYTES, _GIF_MEAN, _GIF_STD = _gif_plants()


def _jpeg_plants() -> tuple[list[str], list[int], list[int], list[int]]:
    """8 planted grayscale baseline JPEGs + expected POST-RESIZE oracle
    constants.

    JPEG is lossy in general, so the plants live in the EXACT-roundtrip
    subspace: a FLAT image with an EVEN value — a flat block's only
    nonzero FDCT coefficient is DC = 8·(v−128), and the quality-50 luma
    quantizer q00 = 16 divides it exactly, so the real
    Huffman+dequant+IDCT decode provably reproduces the pixels
    byte-for-byte (mosaics of flat blocks are property-pinned in
    tests/test_functions.py). Slots v%4==3 are already-small 4×4 images
    (resize passthrough); the rest are OVERSIZED 16×16 images that the
    real JPEG resize kernel decodes, NN-downsamples to 4×4 and re-encodes
    at quality 50 — flatness survives NN sampling AND the encoder's
    edge-replication MCU padding, so the re-encoded payload decodes
    byte-exactly too and the whole decode→resize→re-encode→decode chain
    is oracle-enumerable despite lossy JPEG. Expected n_bytes/features
    are computed from the actual post-resize payload/array through the
    float32 feature dtype, same discipline as the PNG/GIF plants."""
    import numpy as np

    from avc_parser_spark.functions.jpeg import encode_jpeg
    from avc_parser_spark.functions.multimodal import _resize_jpeg

    hexes, nbytes, means, stds = [], [], [], []
    for v in range(8):
        val = 2 * ((7 * v + 29) % 128)
        dim = 4 if v % 4 == 3 else 16
        img = np.full((dim, dim), val, dtype=np.uint8)
        payload = encode_jpeg(img, quality=50)
        hexes.append(payload.hex())
        resized = _resize_jpeg(payload, 4)
        nbytes.append(len(resized))
        final = np.full((4, 4), val, dtype=np.uint8)
        gray = final.astype("float64") / 255.0
        means.append(int(np.floor(float(np.float32(gray.mean())) * 255 + 0.5)))
        stds.append(int(np.floor(float(np.float32(gray.std())) * 1000 + 0.5)))
    return hexes, nbytes, means, stds


_JPEG_HEX, _JPEG_NBYTES, _JPEG_MEAN, _JPEG_STD = _jpeg_plants()


def _mp4_plants() -> tuple[
    list[str], list[int], list[int], list[int], list[int], list[int], list[int]
]:
    """8 planted ISO-BMFF (MP4) containers + expected oracle constants.

    Container metadata parse (mp4.py) is LOSSLESS — unlike the lossy image
    codecs there is no roundtrip subspace to engineer: every planted
    duration/timescale/track-layout/dimension/sample-count is recovered
    exactly, so the quantized features are enumerable in DuckDB directly.
    Variants cover video-only, video+audio, audio-only (null dims path),
    multi-audio, four codec fourccs, and the duration/timescale feature
    caps (v7 sits exactly on the 3600 s / 90 kHz boundaries). Expected
    values are re-derived through the float32 feature dtype, same
    discipline as the PNG/GIF/JPEG plants."""
    import numpy as np

    from avc_parser_spark.functions.mp4 import build_mp4

    def vt(codec, w, h, n):
        return {"kind": "vide", "codec": codec, "width": w, "height": h,
                "n_samples": n}

    def at(n):
        return {"kind": "soun", "codec": "mp4a", "n_samples": n}

    specs = [
        (10, 1000, [vt("avc1", 320, 240, 240), at(430)]),
        (30, 90000, [vt("avc1", 640, 360, 900)]),
        (60, 600, [vt("hvc1", 1280, 720, 1800), at(2812)]),
        (120, 1000, [at(5625)]),
        (300, 30000, [vt("avc1", 1920, 1080, 9000)]),
        (600, 1000, [vt("av01", 3840, 2160, 18000), at(28125)]),
        (1800, 12288, [vt("avc1", 256, 256, 54000)]),
        (3600, 90000, [vt("avc1", 160, 120, 107999), at(1000), at(2000)]),
    ]

    def quant(x: float, scale: float) -> int:
        return int(np.floor(float(np.float32(min(x, 1.0))) * scale + 0.5))

    hexes, nbytes, pw, ph, dur, frames, raw_frames = [], [], [], [], [], [], []
    for duration, ts, tracks in specs:
        payload = build_mp4(duration, ts, tracks)
        hexes.append(payload.hex())
        nbytes.append(len(payload))
        vids = [t for t in tracks if t["kind"] == "vide"]
        v = vids[0] if vids else None
        pw.append(quant(((v or {}).get("width") or 0) / 4096.0, 4096))
        ph.append(quant(((v or {}).get("height") or 0) / 4096.0, 4096))
        dur.append(quant(duration / 3600.0, 3600))
        frames.append(
            quant(sum(t["n_samples"] for t in vids) / 108000.0, 108000)
        )
        # raw first-video-track sample count as frame_sample_plan sees it
        # (coalesce(n_frames, 1) for the audio-only variant)
        raw_frames.append(v["n_samples"] if v else 1)
    return hexes, nbytes, pw, ph, dur, frames, raw_frames


(_MP4_HEX, _MP4_NBYTES, _MP4_W, _MP4_H, _MP4_DUR, _MP4_FRAMES,
 _MP4_RAW_FRAMES) = _mp4_plants()


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal decode→resize→featurize pipeline with REAL planted
    payloads built in SQL: 8×8 binary PPM images (nearest-neighbor resized
    to 4×4 by the real resize kernel), 2×2 PPMs (already under max_dim),
    8×8 gradient PNGs (row filters cycling 0-4, decoded by the stdlib
    zlib+numpy kernel, NN-resized and re-encoded by the real PNG resize),
    oversized 6×6 grayscale GIFs (pure-Python LZW decode, NN-resized to
    4×4 and re-encoded by the real GIF resize — dictionary LZW),
    grayscale baseline JPEGs from the exact-roundtrip plant subspace
    (oversized 16×16 ones are REALLY resized — full Huffman+dequant+IDCT
    decode via jpeg.py, NN downsample, re-encode at quality 50, where
    flatness keeps the lossy chain byte-exact; 4×4 ones exercise the
    already_small path), RIFF/WAVE audio (8-bit PCM, constant amplitude; resize
    passthrough), planted MP4 containers (real ISO-BMFF box parse via
    mp4.py — lossless duration/tracks/dims/frame-count metadata, frames
    honestly not decoded, status ok_mp4_meta), plus text-cast payloads
    that keep the honest stubbed_fake path alive. The oracle verifies the
    decoded feature values OF THE RESIZED payloads (quantized back to exact
    integers), resize routing, decode routing, and byte counts — the real
    kernels end to end, not just plumbing."""
    from avc_parser_spark.functions.multimodal import (
        extract_media_features,
        resize_media,
    )

    _views(spark, sf_dir, ["documents"])
    png_case = _sql_case("cast(floor(doc_id / 8.0) as int) % 8", _PNG_HEX)
    gif_case = _sql_case("cast(floor(doc_id / 8.0) as int) % 8", _GIF_HEX)
    jpeg_case = _sql_case("cast(floor(doc_id / 8.0) as int) % 8", _JPEG_HEX)
    mp4_case = _sql_case("cast(floor(doc_id / 16.0) as int) % 8", _MP4_HEX)
    media = spark.sql(
        f"""
        SELECT doc_id,
               (case when doc_id % 4 in (0, 1) then 'image'
                     when doc_id % 8 in (3, 5) then 'image'
                     when doc_id % 16 = 7 then 'video'
                     else 'audio' end) AS media_type,
               (case when doc_id % 8 = 0 then
                  cast('P6' || chr(10) || '8 8' || chr(10) || '255' || chr(10) as binary)
                  || unhex(repeat(lpad(hex(doc_id % 256), 2, '0'), 192))
                when doc_id % 8 = 4 then
                  cast('P6' || chr(10) || '2 2' || chr(10) || '255' || chr(10) as binary)
                  || unhex(repeat(lpad(hex(doc_id % 256), 2, '0'), 12))
                when doc_id % 8 = 1 then
                  unhex({png_case})
                when doc_id % 8 = 3 then
                  unhex({gif_case})
                when doc_id % 8 = 5 then
                  unhex({jpeg_case})
                when doc_id % 4 = 2 then
                  unhex('{_WAV_HDR_HEX}')
                  || unhex(repeat(lpad(hex(doc_id % 256), 2, '0'), 8))
                when doc_id % 16 = 7 then
                  unhex({mp4_case})
                else cast(text as binary) end) AS payload
        FROM documents
        """
    ).repartition(spark.sparkContext.defaultParallelism)
    # ^ single-row-group driver parquet = one scan split; the per-payload
    # decode chain is the heavy stage, spread it across cores (guide §2.5)
    resized = resize_media(media)
    feats = extract_media_features(resized)
    is_img = F.col("decode_status").isin("ok_ppm", "ok_png", "ok_gif", "ok_jpeg")
    is_wav = F.col("decode_status") == "ok_wav"
    is_mp4 = F.col("decode_status") == "ok_mp4_meta"

    def q(expr: F.Column, cond: F.Column) -> F.Column:
        return F.when(cond, F.round(expr).cast("long"))

    return feats.join(resized.select("doc_id", "resize_status"), "doc_id").select(
        "doc_id", "media_type", "n_bytes", "decode_status", "resize_status",
        q(F.col("feature")[4] * 255, is_img).alias("mean_byte"),
        q(F.col("feature")[5] * 1000, is_img).alias("std_milli"),
        q(F.col("feature")[6] * 4096, is_img | is_mp4).alias("px_w"),
        q(F.col("feature")[7] * 4096, is_img | is_mp4).alias("px_h"),
        q(F.col("feature")[0] * 128, is_wav).alias("rms_byte"),
        q(F.col("feature")[7] * 96000, is_wav).alias("sample_rate"),
        q(F.col("feature")[0] * 3600, is_mp4).alias("vid_dur_sec"),
        q(F.col("feature")[4] * 108000, is_mp4).alias("vid_frames"),
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (sequence+explode, shuffle-free): one
    work unit per sampled frame index. The frame counts are no longer
    synthesized — extract_video_meta runs the REAL ISO-BMFF parse (mp4.py)
    over planted MP4 containers and frame_sample_plan expands the parsed
    stsz sample counts; the audio-only plant exercises the
    coalesce(n_frames, 1) guard. One decode pass, payload rides through —
    no re-join shuffle between parse and fan-out."""
    from avc_parser_spark.functions.multimodal import (
        extract_video_meta,
        frame_sample_plan,
    )

    _views(spark, sf_dir, ["documents"])
    mp4_case = _sql_case("cast(floor(doc_id / 16.0) as int) % 8", _MP4_HEX)
    media = spark.sql(
        f"""
        SELECT doc_id, 'video' AS media_type, unhex({mp4_case}) AS payload
        FROM documents WHERE doc_id % 3 = 0
        """
    )
    return frame_sample_plan(extract_video_meta(media), every_n=300).select(
        "doc_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


def q_json_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 JSON-contract normalization: typed pid/ino, boolean permissive,
    numeric port + class, context component structs, saddr laddr/lport
    decomposition (reference formatters/json_formatter.py:39-191)."""
    from avc_parser_spark.sinks import normalize_events_for_json

    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    n = normalize_events_for_json(ev)
    return n.select(
        "url",
        "pid",
        "permissive",
        "dest_port_num",
        "dest_port_class",
        F.col("scontext_components.user").alias("sc_user_c"),
        F.col("scontext_components.type").alias("sc_type_c"),
        F.col("scontext_components.level").alias("sc_level_c"),
        F.col("tcontext_components.type").alias("tc_type_c"),
        F.col("local_address").alias("laddr"),
        F.col("local_port").alias("lport"),
        "path",
    )


def q_extracted_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-exact invariant surface itself: canonical extracted_text per
    url, reconstructed independently by the oracle."""
    ev = _parsed(spark, sf_dir).filter(F.col("route") == "parse_ok")
    return ev.select("url", "extracted_text")


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate over sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    ev = signature_exprs(_parsed(spark, sf_dir).filter(F.col("route") == "parse_ok"))
    groups = aggregate_signatures(ev, salted=True)
    return groups.select(
        "signature", "count", "first_seen", "last_seen",
        "permissive_count", "permissions", "langs",
    ).orderBy(F.desc("count"), "signature")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver checks the first 50 in dict order, so
    every query here gets a CORRECTNESS row; every entry has an oracle_sql()
    twin (near-duplicate demos were consolidated into mode-tagged unions in
    round 3 to fit the window without dropping operator coverage)."""
    return {
        # forensic pipeline (parse → enrich → route → aggregate)
        "pipeline_extracted_text": q_extracted_text,
        "pipeline_grok_parse": q_grok_parse,
        "pipeline_json_normalize": q_json_normalize,
        "pipeline_route_counts": q_route_counts,
        "pipeline_signature_legacy": q_signature_legacy,
        "pipeline_signature_smart": q_signature_smart,
        "pipeline_lang_hour_rollup": q_lang_hour_rollup,
        "pipeline_enrich_dims": q_enrich_dims,
        "pipeline_errno_translate": q_errno_translate,
        "pipeline_mls_case": q_mls_case,
        "pipeline_policy_events": q_policy_events,
        "pipeline_resource_rollup": q_resource_rollup,
        "pipeline_stats_counters": q_stats_counters,
        # aggregates / analyzers / detectors
        "resource_consolidation": q_resource_consolidation,
        "grouping_optimality_suite": q_grouping_optimality_suite,
        "detector_flags": q_detector_flags,
        "analyzer_findings": q_analyzer_findings,
        # sorts + filters (post-aggregation contract)
        "sort_groups_all": q_sort_groups_all,
        "filter_groups_suite": q_filter_groups_suite,
        "filter_time_range": q_filter_time_range,
        "filter_mls_only": q_filter_mls_only,
        # general engine: events
        "events_hourly": q_events_hourly,
        "events_top_users": q_events_top_users,
        "events_sessions": q_events_sessions,
        "events_window_funcs": q_events_window_funcs,
        "events_type_stats": q_events_type_stats,
        "events_set_ops": q_events_set_ops,
        "events_pivot": q_events_pivot,
        # general engine: TPC-H star schema
        "tpch_q1": q_tpch_q1,
        "tpch_q6": q_tpch_q6,
        "tpch_q3ish": q_tpch_q3ish,
        "tpch_top_suppliers_per_nation": q_tpch_top_suppliers_per_nation,
        "tpch_semi_anti": q_tpch_semi_anti,
        "tpch_q12ish_caseagg": q_tpch_q12ish,
        "tpch_rollup_revenue": q_tpch_rollup,
        # training-data ops: text
        "text_suite": q_text_suite,
        "token_suite": q_token_suite,
        # training-data ops: dedup
        "dedup_exact": q_dedup_exact,
        "ngram_overlap_suite": q_ngram_overlap_suite,
        "dedup_minhash_lsh": q_minhash_candidates,
        "dedup_simhash_suite": q_dedup_simhash_suite,
        "dedup_embedding_cosine": q_dedup_embedding,
        "dedup_resolve": q_dedup_resolve,
        "link_graph_suite": q_link_graph_suite,
        "corpus_curation": q_corpus_curation,
        # training-data ops: similarity search
        "ann_suite": q_ann_suite,
        "ann_lsh_topk": q_ann_lsh_topk,
        # training-data ops: multimodal
        "multimodal_features": q_multimodal_features,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        # streaming execution path (batch-equivalent availableNow run)
        "streaming_lang_rollup": q_streaming_lang_rollup,
    }


def _errno_case() -> str:
    whens = " ".join(
        f"when {c} then '{_errno.errorcode[c]}'"
        for c in sorted(_errno.errorcode)
        if 0 < c < 40
    )
    return f"(case (event_id % 40) when 0 then 'SUCCESS' {whens} else '-' || cast(event_id % 40 as string) end)"


def _analyzer_findings_oracle() -> str:
    from avc_parser_spark.oracle_shared import (
        AZ_COMM, AZ_PERM, AZ_STYPE, AZ_TTYPE,
    )

    lo, hi = (e - EPOCH0 for e in AN6_LOAD_EPOCHS)
    return f"""
        WITH g AS (
          SELECT doc_id,
                 (doc_id % 5) + 1 AS cnt,
                 {AZ_STYPE} AS s_type,
                 {AZ_TTYPE} AS t_type,
                 {AZ_COMM} AS comm,
                 {AZ_PERM} AS perm
          FROM documents),
        recur AS (
          SELECT t_type,
                 sum(case when doc_id < {lo} then cnt else 0 end) AS before_ev,
                 sum(case when doc_id >= {hi} then cnt else 0 end) AS after_ev
          FROM g GROUP BY t_type)
        SELECT 'WARNING' AS severity, 'labeling' AS category,
               'Widespread unlabeled_t files' AS title,
               cast(count(*) as bigint) AS affected_groups,
               cast(sum(cnt) as bigint) AS total_events,
               cast(count(*) as string) || ' groups / ' || cast(sum(cnt) as string)
                 || ' events target unlabeled_t' AS detail
        FROM g WHERE t_type = 'unlabeled_t'
        UNION ALL
        SELECT 'CRITICAL', 'relabeling', 'Relabeling tools are being denied',
               cast(count(*) as bigint), cast(sum(cnt) as bigint),
               'tools: setfiles'
        FROM g WHERE s_type = 'setfiles_t' AND perm = 'relabelfrom'
        UNION ALL
        SELECT 'CRITICAL', 'boot_impact', 'Boot-blocking denials detected',
               cast(count(*) as bigint), cast(sum(cnt) as bigint),
               'services: init'
        FROM g WHERE s_type = 'init_t' AND t_type = 'lib_t'
        UNION ALL
        SELECT 'WARNING', 'systemic',
               'Systemic issue: ' || cast(count(distinct s_type) as string)
                 || ' processes denied on shared_target_t',
               cast(count(*) as bigint), cast(sum(cnt) as bigint),
               'target=shared_target_t mls=s0'
        FROM g WHERE t_type = 'shared_target_t'
        UNION ALL
        SELECT 'CRITICAL', 'labeling',
               'MLS labeling inconsistency: system files at wrong level',
               cast(count(*) as bigint), cast(sum(cnt) as bigint),
               cast(count(distinct t_type) as string)
                 || ' core types labeled s15 vs s0 sources'
        FROM g WHERE doc_id % 10 = 8
        UNION ALL
        SELECT 'WARNING', 'recurrence',
               'Recurring denials for ' || t_type || ' across policy reloads',
               cast(0 as bigint), cast(before_ev + after_ev as bigint),
               'before=' || cast(before_ev as string) || ' after='
                 || cast(after_ev as string) || ' trend='
                 || (case when after_ev * 10 >= before_ev * 7 then 'stable'
                          else 'decreasing' end)
        FROM recur WHERE before_ev > 0 AND after_ev * 10 >= before_ev * 3
    """


_ANALYZER_FINDINGS_ORACLE = _analyzer_findings_oracle()


def _enrich_dims_oracle() -> str:
    """Expected E1-E6/E11 values reconstructed in Python from the dim tables
    themselves (the spec constants), emitted as doc_id-keyed CASEs — fully
    independent of the Spark join/fallback machinery under test."""
    import re as _re

    from avc_parser_spark.enrich.dims import (
        CLASS_DESCRIPTIONS,
        CONTEXTUAL_ANALYSIS,
        PATH_PATTERNS,
        PERM_CONTEXT_DESCRIPTIONS,
        PORT_DESCRIPTIONS,
        TYPE_DESCRIPTIONS,
    )

    perm_d = dict(PERM_DESCRIPTIONS)
    class_d = dict(CLASS_DESCRIPTIONS)
    type_d = dict(TYPE_DESCRIPTIONS)
    port_d = dict(PORT_DESCRIPTIONS)
    pcd = {(p, k): d for p, k, d in PERM_CONTEXT_DESCRIPTIONS}
    ctx = {(p, c): d for p, c, d in CONTEXTUAL_ANALYSIS}

    def pp(path: str | None, tclass: str) -> str:
        if path is None or path in ("?", '"?"', "unknown", ""):
            return "no_path"
        if path.startswith("dev:"):
            return "dev_inode"
        for pat, rep in PATH_PATTERNS:
            if _re.search(pat, path):
                return rep
        if tclass == "file":
            m = _re.match(r"^(.*)/[^/]*$", path)
            if m and m.group(1):
                return m.group(1) + "/*"
        if tclass == "dir":
            if path.startswith("..."):
                return "/var/local/log(/.*)?"
            return path + "/*"
        return path

    ctx24, pc24 = [], []
    for r in range(24):
        perm, tclass = _ED_PERMS[r % 8], _ED_CLASSES[r % 6]
        ctx24.append(
            ctx.get(
                (perm, tclass),
                f"process attempted '{perm}' on object class '{tclass}'",
            )
        )
        obj_kind = "dir" if tclass == "dir" else "file"
        pc24.append(pcd.get((perm, obj_kind)))
    pp18 = [
        pp(_ED_PATHS[(r // 6) % 3], _ED_CLASSES[r % 6]) for r in range(18)
    ]
    port10 = [
        port_d.get(_ED_PORTS[r // 2]) if r % 2 == 0 else None for r in range(10)
    ]

    return f"""
        SELECT doc_id,
               {_sql_case('doc_id % 8', _ED_PERMS)} AS permission,
               {_sql_case('doc_id % 6', _ED_CLASSES)} AS tclass,
               {_sql_case('doc_id % 8', [perm_d.get(p) for p in _ED_PERMS])}
                 AS permission_description,
               {_sql_case('doc_id % 6', [class_d.get(c) for c in _ED_CLASSES])}
                 AS class_description,
               {_sql_case('doc_id % 5', [type_d.get(t) for t in _ED_SC_TYPES])}
                 AS source_type_description,
               {_sql_case('doc_id % 4', [type_d.get(t) for t in _ED_TC_TYPES])}
                 AS target_type_description,
               {_sql_case('doc_id % 10', port10)} AS port_description,
               {_sql_case('doc_id % 24', pc24)} AS perm_context_description,
               {_sql_case('doc_id % 24', ctx24)} AS contextual_analysis,
               {_sql_case('doc_id % 18', pp18)} AS path_pattern
        FROM documents
    """


_ENRICH_DIMS_ORACLE = _enrich_dims_oracle()


def _text_quality_oracle() -> str:
    """Quality heuristics + the SAME generated trigram score/pick fragments
    the Spark query uses (lang_score_sql/lang_pick_sql are dialect-shared:
    length/replace/greatest only)."""
    from avc_parser_spark.functions.text import (
        LANG_TRIGRAMS,
        lang_pick_sql,
        lang_score_sql,
    )

    score_cols = ",\n                     ".join(
        f"{lang_score_sql('text', lang)} AS _s_{lang}" for lang in LANG_TRIGRAMS
    )
    pick = lang_pick_sql({lang: f"_s_{lang}" for lang in LANG_TRIGRAMS})
    return f"""
            WITH t AS (
              SELECT doc_id, text,
                     case when trim(text) = '' then 0
                          else len(regexp_split_to_array(trim(text), '\\s+')) end AS n_tok,
                     case when len(regexp_split_to_array(lower(trim(text)), '\\s+')) = 0 then 0.0
                          else len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x in ('the','a','an','and','or','of','to','in','is','it','for',
                                          'der','die','das','und','le','la','les','et','el','los','y')))
                               * 1.0 / len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                     end AS sw_ratio,
                     case when len(text) = 0 then 0.0
                          else len(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1.0 / len(text)
                     end AS p_ratio,
                     {score_cols}
              FROM documents)
            SELECT doc_id,
                   round((case when n_tok between 10 and 100000 then 0.4 else 0.0 end)
                       + (case when sw_ratio between 0.05 and 0.6 then 0.3 else 0.0 end)
                       + (case when p_ratio <= 0.2 then 0.3 else 0.0 end), 2)::DOUBLE AS quality,
                   {pick} AS lang_guess
            FROM t
        """


def _text_suite_oracle() -> str:
    """text_suite: the former text_profile body (token/subtoken counts +
    stopword ratio) and the former text_quality body (quality heuristics +
    the generated trigram lang-id fragments) union-tagged under one
    (mode, doc_id, n1, n2, x1, s1) schema."""
    return f"""
            SELECT 'profile' AS mode, doc_id,
                   CAST(n_tokens AS BIGINT) AS n1,
                   CAST(n_subtokens AS BIGINT) AS n2,
                   stopword_ratio AS x1, CAST(NULL AS VARCHAR) AS s1
            FROM (
              SELECT doc_id,
                   case when trim(text) = '' then 0
                        else len(regexp_split_to_array(trim(text), '\\s+')) end AS n_tokens,
                   len(regexp_extract_all(text, '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])')) AS n_subtokens,
                   round(
                     case when len(regexp_split_to_array(lower(trim(text)), '\\s+')) = 0 then 0.0
                          else len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x in ('the','a','an','and','or','of','to','in','is','it','for',
                                              'der','die','das','und','le','la','les','et','el','los','y')))
                               / len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                     end, 6) AS stopword_ratio
              FROM documents) p
            UNION ALL
            SELECT 'quality', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   quality, lang_guess
            FROM ({_text_quality_oracle()}) q
        """


def _links_html_case() -> str:
    """Dialect-shared planted HTML for link_graph_suite mode='links':
    doc_id % 4 anchors, anchor j targeting page (doc_id*7 + j) % 500 —
    CAST(... AS STRING) and `||` parse identically in Spark and DuckDB,
    so both engines build byte-identical pages and the EXTRACTION is what
    the hash verifies."""

    def anchor(j: int) -> str:
        return (
            "'<a href=\"https://site.com/p' || "
            f"CAST((doc_id * 7 + {j}) % 500 AS STRING) || '\">t</a>'"
        )

    a0, a1, a2 = anchor(0), anchor(1), anchor(2)
    return (
        "(CASE WHEN doc_id % 4 = 0 THEN '' "
        f"WHEN doc_id % 4 = 1 THEN {a0} "
        f"WHEN doc_id % 4 = 2 THEN {a0} || {a1} "
        f"ELSE {a0} || {a1} || {a2} END)"
    )


def _link_graph_oracle(iters: int = 8) -> str:
    """link_graph_suite: the planted graph re-built in SQL, degrees from
    two GROUP BYs, PageRank AND seeded TrustRank UNROLLED — one generated
    CTE per round doing the identical integer-micro arithmetic (`//` on
    non-negative operands ≡ Spark's `div`), so the final ranks are
    bit-exact — plus the ≤2-hop reach via the same hop self-join."""

    def _rank_rounds(
        prefix: str,
        reset_sql: str,
        start_sql: str,
        n_rounds: int = iters,
        nodes: str = "nodes",
        edges: str = "edges",
        outdeg: str = "outdeg",
    ) -> str:
        ctes = [
            f"""
            {prefix}0 AS (SELECT node, CAST({start_sql} AS BIGINT) AS r
                          FROM {nodes})"""
        ]
        for k in range(1, n_rounds + 1):
            ctes.append(f"""
            {prefix}{k} AS (
              SELECT n.node,
                     CAST({reset_sql.replace('node', 'n.node')}
                          + (850000 * coalesce(s.s, 0)) // 1000000
                          AS BIGINT) AS r
              FROM {nodes} n LEFT JOIN (
                SELECT e.dst AS node, sum(r.r // o.od) AS s
                FROM {edges} e
                JOIN {prefix}{k - 1} r ON r.node = e.src
                JOIN {outdeg} o ON o.src = e.src
                GROUP BY e.dst) s ON s.node = n.node)""")
        return ",".join(ctes)

    pr = _rank_rounds("r", "150000", "1000000")
    tr = _rank_rounds(
        "t",
        "(CASE WHEN node % 100 = 0 THEN 150000 ELSE 0 END)",
        "CASE WHEN node % 100 = 0 THEN 1000000 ELSE 0 END",
    )
    dr = _rank_rounds(
        "d", "150000", "1000000", n_rounds=4,
        nodes="dnodes", edges="dedges", outdeg="doutdeg",
    )

    def _hits_rounds(n_rounds: int = 4) -> str:
        """Unrolled max-normalized integer HITS (graph.hits_micro): per
        round auth = Σ hub(in-nbrs) ·1e6 // max, then hub = Σ auth(out-
        nbrs) ·1e6 // max — all non-negative int64, `//` ≡ Spark div.
        Every CTE is MATERIALIZED and the max rides as a 1-row cross-join:
        a correlated (SELECT max(...)) per row re-evaluates the whole
        upstream chain per row per round — exponential (hard-won)."""
        ctes = [
            """
            s0 AS MATERIALIZED (
              SELECT node, CAST(1000000 AS BIGINT) AS a,
                     CAST(1000000 AS BIGINT) AS h FROM nodes)"""
        ]
        for k in range(1, n_rounds + 1):
            ctes.append(f"""
            a{k}r AS MATERIALIZED (
                      SELECT e.dst AS node, sum(s.h) AS ar
                      FROM edges e JOIN s{k - 1} s ON s.node = e.src
                      GROUP BY e.dst),
            a{k}m AS MATERIALIZED (SELECT max(ar) AS m FROM a{k}r),
            a{k} AS MATERIALIZED (
                     SELECT n.node,
                            CAST(coalesce(r.ar, 0) * 1000000 // m.m
                                 AS BIGINT) AS a
                     FROM nodes n LEFT JOIN a{k}r r ON r.node = n.node,
                          a{k}m m),
            h{k}r AS MATERIALIZED (
                      SELECT e.src AS node, sum(a.a) AS hr
                      FROM edges e JOIN a{k} a ON a.node = e.dst
                      GROUP BY e.src),
            h{k}m AS MATERIALIZED (SELECT max(hr) AS m FROM h{k}r),
            s{k} AS MATERIALIZED (
                     SELECT n.node, a.a,
                            CAST(coalesce(r.hr, 0) * 1000000 // m.m
                                 AS BIGINT) AS h
                     FROM nodes n JOIN a{k} a ON a.node = n.node
                          LEFT JOIN h{k}r r ON r.node = n.node, h{k}m m)""")
        return ",".join(ctes)

    hh = _hits_rounds()
    return f"""
            WITH nodes AS (
              SELECT doc_id AS node FROM documents WHERE doc_id < 500),
            edges AS (
              SELECT node AS src, (node + 1) % 500 AS dst FROM nodes
              UNION ALL SELECT node, (node * 31 + 7) % 500 FROM nodes
              UNION ALL SELECT node, (node // 10) * 10 FROM nodes
                        WHERE node % 10 <> 0),
            outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
            indeg AS (SELECT dst, count(*) AS ind FROM edges GROUP BY dst),
            dedges AS (
              SELECT DISTINCT src // 50 AS src, dst // 50 AS dst
              FROM edges WHERE src // 50 <> dst // 50),
            dnodes AS (
              SELECT DISTINCT node FROM (
                SELECT src AS node FROM dedges
                UNION ALL SELECT dst FROM dedges)),
            doutdeg AS (SELECT src, count(*) AS od FROM dedges GROUP BY src),
            reach AS (
              SELECT src AS node, count(*) AS c FROM (
                SELECT DISTINCT src, dst FROM (
                  SELECT src, dst FROM edges
                  UNION ALL
                  SELECT a.src, b.dst FROM edges a
                  JOIN edges b ON a.dst = b.src))
              GROUP BY src),
            links_html AS (
              SELECT doc_id, '<html><body>' || {_links_html_case()}
                     || '</body></html>' AS html
              FROM documents WHERE doc_id < 500),
            lnk AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(html,
                       '(?i)href\\s*=\\s*"([^"]*)"', 1)) AS href
              FROM links_html),
            {pr},
            {tr},
            {dr},
            {hh}
            SELECT 'degree' AS mode, n.node,
                   CAST(coalesce(o.od, 0) AS BIGINT) AS n1,
                   CAST(coalesce(i.ind, 0) AS BIGINT) AS n2
            FROM nodes n LEFT JOIN outdeg o ON o.src = n.node
                         LEFT JOIN indeg i ON i.dst = n.node
            UNION ALL
            SELECT 'pagerank', node, r, CAST(NULL AS BIGINT) FROM r{iters}
            UNION ALL
            SELECT 'trustrank', node, r, CAST(NULL AS BIGINT) FROM t{iters}
            UNION ALL
            SELECT 'domainrank', node, r, CAST(NULL AS BIGINT) FROM d4
            UNION ALL
            SELECT 'reach2', node, CAST(c AS BIGINT), CAST(NULL AS BIGINT)
            FROM reach
            UNION ALL
            SELECT 'links', doc_id, CAST(count(*) AS BIGINT),
                   CAST(sum(CAST(regexp_extract(href, '([0-9]+)$', 1)
                                 AS BIGINT)) AS BIGINT)
            FROM lnk GROUP BY doc_id
            UNION ALL
            SELECT 'hits', node, a, h FROM s4
        """


def _ann_lsh_oracle() -> str:
    """Full algorithmic oracle for the LSH probe: the hyperplanes are a
    deterministic function of the seed, so DuckDB can replicate the
    sign-projection bucketing with the same constants (dim=64 in the driver
    testdata) and brute-force the cosine top-k within the query's bucket."""
    from avc_parser_spark.functions.similarity import make_planes

    terms = []
    for i, p in enumerate(make_planes(64, 8)):
        lst = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(case when list_dot_product(embedding::DOUBLE[], {lst}) >= 0 "
            f"then {1 << i} else 0 end)"
        )
    bucket = "\n               + ".join(terms)
    return f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        bkt AS (SELECT vec_id, {bucket} AS bucket FROM embeddings),
        qb AS (SELECT bucket FROM bkt WHERE vec_id = 0),
        ex AS (
          SELECT e.vec_id,
                 unnest(e.embedding)::DOUBLE AS x,
                 unnest((SELECT qe FROM q))::DOUBLE AS y
          FROM embeddings e JOIN bkt b ON b.vec_id = e.vec_id
          WHERE b.bucket = (SELECT bucket FROM qb))
        SELECT vec_id,
               round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
        FROM ex GROUP BY vec_id
        ORDER BY cosine DESC, vec_id ASC LIMIT 10
    """


_ANN_LSH_ORACLE = _ann_lsh_oracle()


def _token_suite_html_branch() -> str:
    """token_suite mode='html': the DuckDB twin runs the SAME extraction
    chain (html_extract_sql is generated from the identical step lists the
    Spark Column chain uses) over the SAME decoration CASE, and pins the
    extracted text byte-exactly via a 14-hex md5 prefix as bigint. Built by
    plain-string concatenation — the decoration literal contains braces."""
    from avc_parser_spark.functions.text import html_extract_sql

    return ("""
            UNION ALL
            SELECT 'html', cast(doc_id as varchar),
                   cast(length(x) as bigint),
                   ('0x' || substr(md5(x), 1, 14))::bigint,
                   cast(hl as bigint),
                   cast(null as bigint), cast(null as bigint)
            FROM (SELECT doc_id, """ + html_extract_sql("html") + """ AS x,
                         length(html) AS hl
                  FROM (SELECT doc_id, """ + _HTML_DECOR_CASE + """ AS html
                        FROM documents) hdec) hext
        """)


def _token_suite_bm25_branch() -> str:
    """token_suite mode='bm25': the DuckDB twin (bm25_sql) is generated
    from the SAME rational constants and tokenizer semantics; integer
    micro scores make the ranking comparison bit-stable."""
    from avc_parser_spark.functions.retrieval import bm25_sql

    return ("""
            UNION ALL
            SELECT 'bm25', cast(doc_id as varchar),
                   score_micro, terms_matched,
                   cast(rank as bigint),
                   cast(null as bigint), cast(null as bigint)
            FROM (""" + bm25_sql(["spark", "vector", "window"], k=20) + """) b
        """)


def _token_suite_chunk_branch() -> str:
    """token_suite mode='chunk': the DuckDB twin (chunk_sql) shares the
    split regex, the `div`/`//` chunk-count arithmetic, and the 1-based
    clamped slice semantics; chunk text is pinned byte-exactly via a
    14-hex md5 prefix."""
    from avc_parser_spark.functions.text import chunk_sql

    return ("""
            UNION ALL
            SELECT 'chunk',
                   cast(doc_id as varchar) || '/' || cast(chunk_idx as varchar),
                   cast(n_chunk_tokens as bigint),
                   ('0x' || substr(md5(chunk_text), 1, 14))::bigint,
                   tok_start, cast(chunk_idx as bigint), cast(null as bigint)
            FROM (""" + chunk_sql("documents", size=32, overlap=8) + """) ck
        """)


def _token_suite_cms_branch() -> str:
    """token_suite mode='cms': count-min-sketch point estimates for a
    fixed probe set (planted heavy/rare/absent tokens on doc_id%40==19)
    against a FULL DuckDB re-derivation of the counter table from the same
    md5-slice cells — estimates, exact counts, and the row-0 bucket are
    all integers, bit-exact cross-engine (collisions included: width 512
    guarantees the min-over-rows path is live at corpus vocab size)."""
    return ("""
            UNION ALL
            SELECT 'cms', term,
                   est, cast(coalesce(xact, 0) as bigint),
                   ('0x' || substr(md5(term), 1, 8))::BIGINT % 512,
                   cast(null as bigint), cast(null as bigint)
            FROM (
              WITH cms_docs AS (
                SELECT CASE WHEN doc_id % 40 = 19 THEN
                         text || ' cmshh' || (doc_id % 3)::VARCHAR
                              || ' cmshh' || (doc_id % 3)::VARCHAR
                              || ' cmsrare'
                       ELSE text END AS text
                FROM documents),
              cms_words AS (
                SELECT unnest(string_split(text, ' ')) AS term FROM cms_docs),
              cms_w AS (SELECT term FROM cms_words WHERE term <> ''),
              cms_cells AS (
                SELECT rr.r AS r,
                       ('0x' || substr(md5(term), 1 + 8 * rr.r, 8))::BIGINT
                         % 512 AS c
                FROM cms_w CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rr),
              cms_counters AS (
                SELECT r, c, count(*) AS cnt FROM cms_cells GROUP BY r, c),
              cms_probes AS (
                SELECT unnest(['cmshh0','cmshh1','cmshh2','cmsrare',
                               'cmsabsent']) AS term),
              cms_pcells AS (
                SELECT p.term, rr.r AS r,
                       ('0x' || substr(md5(p.term), 1 + 8 * rr.r, 8))::BIGINT
                         % 512 AS c
                FROM cms_probes p
                CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rr),
              cms_est AS (
                SELECT term, min(coalesce(ct.cnt, 0)) AS est
                FROM cms_pcells pc LEFT JOIN cms_counters ct USING (r, c)
                GROUP BY term),
              cms_exact AS (
                SELECT term, count(*) AS xact FROM cms_w
                WHERE term IN ('cmshh0','cmshh1','cmshh2','cmsrare',
                               'cmsabsent')
                GROUP BY term)
              SELECT e.term, e.est, x.xact
              FROM cms_est e LEFT JOIN cms_exact x USING (term)
            ) cmsq
        """)


def _token_suite_heavy_branch() -> str:
    """token_suite mode='heavy': CMS-gated exact heavy hitters. The gate
    admits every true heavy hitter (CMS never undercounts) and the exact
    verify drops the rest, so the RESULT SET is simply exact counts ≥
    threshold — no sketch needed; n2 re-derives the admitting estimate
    from the full counter table so the gate arithmetic is pinned too."""
    return ("""
            UNION ALL
            SELECT 'heavy', term, cnt, est, thr,
                   cast(null as bigint), cast(null as bigint)
            FROM (
              WITH hv_docs AS (
                SELECT CASE WHEN doc_id % 40 = 19 THEN
                         text || ' cmshh' || (doc_id % 3)::VARCHAR
                              || ' cmshh' || (doc_id % 3)::VARCHAR
                              || ' cmsrare'
                       ELSE text END AS text
                FROM documents),
              hv_words AS (
                SELECT unnest(string_split(text, ' ')) AS term FROM hv_docs),
              hv_w AS (SELECT term FROM hv_words WHERE term <> ''),
              hv_thr AS (
                SELECT greatest(2, count(*) // 200) AS t FROM hv_w),
              hv_cells AS (
                SELECT term, rr.r AS r,
                       ('0x' || substr(md5(term), 1 + 8 * rr.r, 8))::BIGINT
                         % 512 AS c
                FROM hv_w CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rr),
              hv_counters AS (
                SELECT r, c, count(*) AS cnt FROM hv_cells GROUP BY r, c),
              hv_xact AS (
                SELECT term, cast(count(*) as bigint) AS cnt FROM hv_w
                GROUP BY term),
              hv_hh AS (
                SELECT term, cnt FROM hv_xact, hv_thr WHERE cnt >= t),
              hv_est AS (
                SELECT h.term, min(coalesce(ct.cnt, 0)) AS est
                FROM hv_hh h
                CROSS JOIN (SELECT unnest(range(0, 4)) AS r) rr
                LEFT JOIN hv_counters ct
                  ON ct.r = rr.r
                 AND ct.c = ('0x' || substr(md5(h.term), 1 + 8 * rr.r, 8))::BIGINT
                             % 512
                GROUP BY h.term)
              SELECT h.term, h.cnt, cast(e.est as bigint) AS est,
                     cast((SELECT t FROM hv_thr) as bigint) AS thr
              FROM hv_hh h JOIN hv_est e USING (term)
            ) hvq
        """)


def _token_suite_order_branch() -> str:
    """token_suite mode='order': deterministic training order — shard and
    within-shard rank re-derived from the same 14-hex md5 key (row_number
    over the identical partition/order keys; ties impossible — ids are
    distinct and break them)."""
    return ("""
            UNION ALL
            SELECT 'order', doc_id::VARCHAR, shard, pos,
                   cast(null as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM (
              WITH ord_keys AS (
                SELECT doc_id,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 14))::BIGINT
                         AS okey
                FROM documents)
              SELECT doc_id, okey % 8 AS shard,
                     cast(row_number() OVER (
                       PARTITION BY okey % 8 ORDER BY okey, doc_id)
                       as bigint) AS pos
              FROM ord_keys
            ) ordq
        """)


def _token_suite_kmv_branch() -> str:
    """token_suite mode='kmv': the KMV/theta sketch is a pure function of
    the value set, so DuckDB re-derives the sketch TABLE (distinct-order-
    limit), the integer distinct estimate ((k-1)·2^60 // h_k, HUGEINT
    intermediate), and the theta intersection estimate exactly."""
    return ("""
            UNION ALL
            SELECT 'kmv', kk, n1, cast(null as bigint), cast(null as bigint),
                   cast(null as bigint), cast(null as bigint)
            FROM (
              WITH kwords AS (
                SELECT unnest(string_split(text, ' ')) AS term FROM documents),
              kw AS (SELECT term FROM kwords WHERE term <> ''),
              ksk AS (
                SELECT DISTINCT ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
                FROM kw ORDER BY h LIMIT 256),
              ewords AS (
                SELECT unnest(string_split(text, ' ')) AS term
                FROM documents WHERE lang = 'en'),
              esk AS (
                SELECT DISTINCT ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
                FROM ewords WHERE term <> '' ORDER BY h LIMIT 256),
              dwords AS (
                SELECT unnest(string_split(text, ' ')) AS term
                FROM documents WHERE lang = 'de'),
              dsk AS (
                SELECT DISTINCT ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
                FROM dwords WHERE term <> '' ORDER BY h LIMIT 256),
              usk AS (
                SELECT h FROM (SELECT h FROM esk UNION SELECT h FROM dsk)
                ORDER BY h LIMIT 256),
              kparams AS (
                SELECT (SELECT count(*) FROM ksk) AS nall,
                       (SELECT max(h) FROM ksk) AS hk,
                       (SELECT count(*) FROM esk) AS ne,
                       (SELECT count(*) FROM dsk) AS nd,
                       (SELECT max(h) FROM usk) AS theta),
              kcommon AS (
                SELECT count(*) AS c
                FROM (SELECT h FROM esk INTERSECT SELECT h FROM dsk) t, kparams
                WHERE t.h <= kparams.theta)
              SELECT CAST(row_number() OVER (ORDER BY h) AS VARCHAR) AS kk,
                     h AS n1
              FROM ksk
              UNION ALL
              SELECT 'est',
                     (CASE WHEN p.nall < 256 THEN p.nall::HUGEINT
                      ELSE (255::HUGEINT * 1152921504606846976::HUGEINT)
                           // p.hk END)::BIGINT
              FROM kparams p
              UNION ALL
              SELECT 'ix_en_de',
                     (CASE
                       WHEN p.ne < 256 AND p.nd < 256 THEN
                         (SELECT count(*) FROM
                           (SELECT h FROM esk INTERSECT SELECT h FROM dsk)
                         )::HUGEINT
                       WHEN (SELECT c FROM kcommon) = 0 THEN 0::HUGEINT
                       ELSE ((SELECT c FROM kcommon)::HUGEINT
                             * 1152921504606846976::HUGEINT) // p.theta
                      END)::BIGINT
              FROM kparams p
            ) kmvq
        """)


def _token_suite_hll_branch() -> str:
    """token_suite mode='hll': the FULL HyperLogLog register table (p=6,
    m=64) over the documents word stream, re-derived in DuckDB from the
    same 15-hex md5-slice hash — idx = low 6 bits, rho via
    length(bin(w)) — plus distinct-terms-per-register as an independent
    pin of the index assignment. All integers, bit-exact cross-engine."""
    return ("""
            UNION ALL
            SELECT 'hll', cast(idx as varchar),
                   max(rho), cast(count(DISTINCT term) as bigint),
                   cast(null as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM (
              WITH hll_words AS (
                SELECT unnest(string_split(text, ' ')) AS term
                FROM documents),
              hll_w AS (SELECT term FROM hll_words WHERE term <> ''),
              hll_h AS (
                SELECT term,
                       ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
                FROM hll_w)
              SELECT term, h % 64 AS idx,
                     CASE WHEN h // 64 > 0
                          THEN 54 - (length(bin(h // 64)) - 1)
                          ELSE 55 END AS rho
              FROM hll_h
            ) hllq GROUP BY idx
        """)


def _token_suite_quantile_branch() -> str:
    """token_suite mode='quantile': exact token-count percentiles — DuckDB
    runs the same per-value count → ordered cumsum → smallest value with
    cum >= (q·n + 99) // 100 (integer ceiling, both operands non-negative
    so truncation == floor in every engine)."""
    return ("""
            UNION ALL
            SELECT 'quantile', cast(q as varchar), v, n_total,
                   cast(null as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM (
              WITH qt_c AS (
                SELECT (case when trim(text) = '' then 0
                        else len(regexp_split_to_array(trim(text), '\\s+')) end)
                         AS value,
                       count(*) AS cnt
                FROM documents GROUP BY 1),
              qt_cum AS (
                SELECT value,
                       sum(cnt) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                       sum(cnt) OVER () AS n_total
                FROM qt_c),
              qt_q AS (SELECT q FROM (VALUES (25),(50),(75),(90),(99)) t(q))
              SELECT q.q AS q, min(c.value) AS v,
                     CAST(min(c.n_total) AS BIGINT) AS n_total
              FROM qt_q q JOIN qt_cum c
                ON c.cum >= (q.q * c.n_total + 99) // 100
              GROUP BY q.q
            ) qq
        """)


def _token_suite_t5span_branch() -> str:
    """token_suite mode='t5span': DuckDB re-runs the FULL span-corruption
    algorithm (md5 token gate → gaps-and-islands span merge → ordered
    sentinel splice → string_agg rebuild) and the 14-hex md5 prefixes of
    input/target bind the exact STRINGS, not just counts."""
    return ("""
            UNION ALL
            SELECT 't5span', cast(d.doc_id as varchar),
                   ('0x' || substr(md5(coalesce(i.input_text, '')), 1, 14))::BIGINT,
                   ('0x' || substr(md5(coalesce(g.target_text, '')), 1, 14))::BIGINT,
                   coalesce(g.n_spans, 0), coalesce(g.n_masked, 0),
                   cast(null as bigint)
            FROM documents d
            LEFT JOIN (
              WITH t5a AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS arr
                FROM documents),
              t5t AS (
                SELECT doc_id, unnest(arr) AS tok,
                       generate_subscripts(arr, 1) - 1 AS pos
                FROM t5a),
              t5k AS (
                SELECT doc_id, tok, pos,
                       (('0x' || substr(md5(cast(doc_id as varchar) || ':'
                          || cast(pos as varchar)), 1, 15))::BIGINT % 1000)
                         < 150 AS m
                FROM t5t WHERE length(tok) > 0),
              t5m AS (
                SELECT doc_id, pos, tok,
                       pos - row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS island
                FROM t5k WHERE m),
              t5si AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                                             ORDER BY start) - 1 AS k
                FROM (SELECT doc_id, island, min(pos) AS start,
                             string_agg(tok, ' ' ORDER BY pos) AS span_toks,
                             count(*) AS span_len
                      FROM t5m GROUP BY doc_id, island) s)
              SELECT doc_id,
                     string_agg(tok, ' ' ORDER BY pos) AS input_text
              FROM (SELECT doc_id, pos, tok FROM t5k WHERE NOT m
                    UNION ALL
                    SELECT doc_id, start,
                           '<extra_id_' || cast(k as varchar) || '>'
                    FROM t5si)
              GROUP BY doc_id
            ) i ON i.doc_id = d.doc_id
            LEFT JOIN (
              WITH t5a AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS arr
                FROM documents),
              t5t AS (
                SELECT doc_id, unnest(arr) AS tok,
                       generate_subscripts(arr, 1) - 1 AS pos
                FROM t5a),
              t5k AS (
                SELECT doc_id, tok, pos,
                       (('0x' || substr(md5(cast(doc_id as varchar) || ':'
                          || cast(pos as varchar)), 1, 15))::BIGINT % 1000)
                         < 150 AS m
                FROM t5t WHERE length(tok) > 0),
              t5m AS (
                SELECT doc_id, pos, tok,
                       pos - row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS island
                FROM t5k WHERE m),
              t5si AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                                             ORDER BY start) - 1 AS k
                FROM (SELECT doc_id, island, min(pos) AS start,
                             string_agg(tok, ' ' ORDER BY pos) AS span_toks,
                             count(*) AS span_len
                      FROM t5m GROUP BY doc_id, island) s)
              SELECT doc_id,
                     string_agg('<extra_id_' || cast(k as varchar) || '> '
                                || span_toks, ' ' ORDER BY k) AS target_text,
                     count(*) AS n_spans, sum(span_len) AS n_masked
              FROM t5si GROUP BY doc_id
            ) g ON g.doc_id = d.doc_id
        """)


def _token_suite_fim_branch() -> str:
    """token_suite mode='fim': DuckDB re-derives both md5 cut offsets and
    rebuilds the exact PSM string (1-based substr in both dialects); the
    14-hex md5 prefix binds it."""
    return ("""
            UNION ALL
            SELECT 'fim', cast(doc_id as varchar),
                   ('0x' || substr(md5('<PRE>' || substr(t, 1, lo)
                       || '<SUF>' || substr(t, hi + 1, n)
                       || '<MID>' || substr(t, lo + 1, hi - lo)), 1, 14)
                   )::BIGINT,
                   lo, hi, cast(null as bigint), cast(null as bigint)
            FROM (
              SELECT doc_id, t, n,
                     least(c1, c2) AS lo, greatest(c1, c2) AS hi
              FROM (
                SELECT doc_id, t, n,
                       ('0x' || substr(md5(cast(doc_id as varchar) || ':1'),
                                       1, 15))::BIGINT % (n + 1) AS c1,
                       ('0x' || substr(md5(cast(doc_id as varchar) || ':2'),
                                       1, 15))::BIGINT % (n + 1) AS c2
                FROM (SELECT doc_id, coalesce(text, '') AS t,
                             length(coalesce(text, '')) AS n
                      FROM documents) b) c) f
        """)


def _token_suite_wsample_branch() -> str:
    """token_suite mode='wsample': the exact Efraimidis-Spirakis sample —
    DuckDB re-derives the 60-bit md5 uniform, the micro-quantized -ln(u),
    the integer race key ((-lnu_micro * 1e6) // w, both operands
    non-negative so truncation == floor in every engine) and takes the
    same (key, doc_id)-ordered top 40."""
    return ("""
            UNION ALL
            SELECT 'wsample', cast(doc_id as varchar),
                   skey, w,
                   cast(null as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM (
              WITH ws_h AS (
                SELECT doc_id, length(text) + 1 AS w,
                       ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::BIGINT AS h
                FROM documents),
              ws_k AS (
                SELECT doc_id, w,
                       (round(-ln((h + 1) / 1152921504606846976.0)
                              * 1000000)::BIGINT * 1000000) // w AS skey
                FROM ws_h)
              SELECT doc_id, w, skey FROM ws_k
              ORDER BY skey, doc_id LIMIT 40
            ) wsq
        """)


def _token_suite_nfc_branch() -> str:
    """token_suite mode='nfc': plant the decomposed suffix via the SAME
    codepoint list (chr() composition) and normalize with DuckDB's
    nfc_normalize (utf8proc) against Spark's unicodedata pass."""
    return ("""
            UNION ALL
            SELECT 'nfc', cast(doc_id as varchar),
                   cast(length(t) as bigint),
                   cast(length(nfc_normalize(t)) as bigint),
                   ('0x' || substr(md5(nfc_normalize(t)), 1, 14))::bigint,
                   cast(null as bigint), cast(null as bigint)
            FROM (SELECT doc_id,
                         CASE WHEN doc_id % 40 = 37 AND doc_id < 500
                              THEN text || """ + _NFC_SUFFIX_SQL + """
                              ELSE text END AS t
                  FROM documents) nfcd
        """)


def oracle_sql() -> dict[str, str]:
    f = ORACLE_FIELDS
    return {
        "pipeline_grok_parse": f"""
            SELECT 'doc' || cast(doc_id as string) AS url,
                   {f['permission']} AS permission,
                   {f['pid']} AS pid,
                   {f['comm']} AS comm,
                   {f['path']} AS path,
                   (case when doc_id % 5 = 3 then cast(null as string)
                         else 'file_path' end) AS path_type,
                   {f['tclass']} AS tclass,
                   {f['sc_type']} AS sc_type,
                   {f['tc_type']} AS tc_type,
                   {f['dest_port']} AS dest_port,
                   {f['permissive']} AS permissive,
                   {f['scontext_raw']} AS scontext_raw,
                   {f['exe']} AS exe,
                   {f['proctitle']} AS proctitle,
                   {f['cwd']} AS cwd,
                   {f['syscall']} AS syscall,
                   {f['exit']} AS exit,
                   {f['success']} AS success,
                   {f['execve_cmdline']} AS execve_cmdline,
                   {f['saddr']} AS saddr,
                   {f['epoch']} AS epoch
            FROM documents
        """,
        "pipeline_route_counts": """
            SELECT case when doc_id % 20 = 19 then 'malformed' else 'parse_ok' end AS route,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "pipeline_signature_legacy": f"""
            SELECT {f['scontext_raw']} AS scontext_raw,
                   {f['tcontext_raw']} AS tcontext_raw,
                   {f['tclass']} AS tclass,
                   {f['permission']} AS permission,
                   count(*) AS cnt,
                   min({f['epoch']}) AS first_epoch,
                   max({f['epoch']}) AS last_epoch,
                   cast(sum(case when doc_id % 7 = 0 then 1 else 0 end) as bigint) AS permissive_cnt
            FROM documents GROUP BY 1, 2, 3, 4
        """,
        "pipeline_signature_smart": f"""
            WITH base AS (
              SELECT {PROCESS_CATEGORY_ORACLE} AS process_category,
                     (case when doc_id % 5 = 4 then {TC_TYPE_CASE} else {TCONTEXT} end) AS sig_target,
                     {OBJECT_GROUP_ORACLE} AS object_group,
                     (case when doc_id % 5 = 3 then {f['dest_port']}
                           when doc_id % 5 = 4 then ''
                           else {PATH_PATTERN_ORACLE} end) AS sig_extra,
                     {PERMISSION_CATEGORY_ORACLE} AS permission_category,
                     {f['permission']} AS permission,
                     {f['epoch']} AS epoch,
                     (case when doc_id % 7 = 0 then 1 else 0 end) AS permissive
              FROM documents)
            SELECT process_category, sig_target, object_group, sig_extra,
                   permission_category,
                   count(*) AS cnt,
                   min(epoch) AS first_epoch,
                   max(epoch) AS last_epoch,
                   cast(sum(permissive) as bigint) AS permissive_cnt,
                   array_to_string(list_sort(list(DISTINCT permission)), ',') AS perms
            FROM base GROUP BY 1, 2, 3, 4, 5
        """,
        "pipeline_lang_hour_rollup": f"""
            SELECT lang,
                   cast(floor(({f['epoch']}) / 3600.0) * 3600 as bigint) AS hour_epoch,
                   count(*) AS n,
                   count(distinct doc_id) AS docs
            FROM documents GROUP BY 1, 2
        """,
        "pipeline_enrich_dims": _ENRICH_DIMS_ORACLE,
        "pipeline_errno_translate": f"""
            SELECT event_id,
                   cast(-(event_id % 40) as string) AS exit_code,
                   {_errno_case()} AS exit_name
            FROM events
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
                   event_type, count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_top_users": """
            SELECT user_id, count(*) AS n, round(avg(value), 4) AS avg_value
            FROM events GROUP BY user_id
            ORDER BY n DESC, user_id ASC LIMIT 10
        """,
        "events_sessions": """
            WITH gaps AS (
              SELECT user_id, ts,
                     CASE WHEN epoch_us(ts)
                            - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800000000 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events)
            SELECT user_id, cast(sum(new_session) as bigint) AS sessions,
                   count(*) AS events
            FROM gaps GROUP BY user_id
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= timestamp '1994-01-01 00:00:00'
              AND l_shipdate < timestamp '1995-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q3ish": """
            SELECT o.o_orderkey AS orderkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   count(*) AS line_count
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey
            ORDER BY revenue DESC, orderkey ASC
            LIMIT 10
        """,
        "tpch_top_suppliers_per_nation": """
            SELECT n_name, s_name, s_acctbal
            FROM (
              SELECT n.n_name, s.s_name, round(s.s_acctbal, 2) AS s_acctbal,
                     row_number() OVER (PARTITION BY n.n_name
                                        ORDER BY s.s_acctbal DESC, s.s_name) AS rk
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey)
            WHERE rk <= 3
        """,
        "text_suite": _text_suite_oracle(),
        "link_graph_suite": _link_graph_oracle(),
        "token_suite": """
            WITH toks AS (
              SELECT doc_id, lang,
                     (case when trim(coalesce(text, '')) = '' then 0
                           else len(regexp_split_to_array(trim(text), '\\s+')) end) AS n_tokens,
                     len(regexp_extract_all(coalesce(text, ''),
                         '([A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9])')) AS n_subtokens,
                     (('0x' || substr(md5(cast(doc_id as varchar)), 1, 4))::bigint % 16)
                       AS pack_bucket
              FROM documents),
            packed AS (
              SELECT doc_id, pack_bucket, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                         PARTITION BY pack_bucket ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS tok_start
              FROM toks),
            mixw AS (SELECT * FROM (VALUES ('en', 2), ('de', 1),
                                            ('fr', 1), ('zh', 1)) w(lang, w)),
            mixc AS (
              SELECT d.lang, count(*) AS n, min(w.w) AS w
              FROM documents d JOIN mixw w ON d.lang = w.lang
              GROUP BY d.lang),
            mixt AS (SELECT min((n * 5) // w) AS t FROM mixc),
            mixcut AS (
              SELECT lang,
                     ((w * (SELECT t FROM mixt) * 10000) // (5 * n)) AS cutoff
              FROM mixc),
            mixkeep AS (
              SELECT d.doc_id,
                     (('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 4))::bigint
                        % 10000) AS bucket,
                     c.cutoff
              FROM documents d JOIN mixcut c ON d.lang = c.lang),
            ppl_docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 100 = 61 THEN
                       'zzqx' || doc_id || ' unseenword' || doc_id
                       || ' entirely novel phrasing here'
                     ELSE text END AS text
              FROM documents),
            ppl_grams AS (
              SELECT doc_id, u.r.w1 AS w1, u.r.w2 AS w2 FROM (
                SELECT doc_id,
                       unnest(CASE WHEN len(t) < 2 THEN [] ELSE
                         list_transform(generate_series(1, len(t) - 1),
                                        i -> {'w1': t[i], 'w2': t[i+1]}) END) AS r
                FROM (SELECT doc_id,
                             regexp_split_to_array(
                               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                               ' ') AS t
                      FROM ppl_docs)) u),
            ppl_ref AS (SELECT * FROM ppl_grams WHERE doc_id % 10 < 5),
            ppl_uni AS (SELECT w1 AS w, count(*) AS c FROM ppl_ref GROUP BY w1),
            ppl_bi AS (
              SELECT w1, w2,
                     cast(round(ln(c12 * 1.0 / c) * 1000000) as bigint) AS lp
              FROM (SELECT w1, w2, count(*) AS c12
                    FROM ppl_ref GROUP BY w1, w2) b
              JOIN ppl_uni ON ppl_uni.w = b.w1
              ORDER BY c12 DESC, w1, w2 LIMIT 50000),
            ppl_tot AS (SELECT count(*) AS total FROM ppl_ref),
            ppl_inst AS (
              SELECT g.doc_id,
                     CASE WHEN bi.lp IS NULL AND u2.c IS NULL
                          THEN 1 ELSE 0 END AS oov,
                     coalesce(bi.lp,
                              cast(round(ln(0.4 * coalesce(u2.c, 0.5)
                                            / ppl_tot.total) * 1000000)
                                   as bigint)) AS lp
              FROM ppl_grams g
              LEFT JOIN ppl_bi bi ON bi.w1 = g.w1 AND bi.w2 = g.w2
              LEFT JOIN ppl_uni u2 ON u2.w = g.w2
              CROSS JOIN ppl_tot
              WHERE g.doc_id % 50 = 11),
            rep AS (
              SELECT case when (('0x' || substr(md5(cast(doc_id as varchar)), 1, 4))::bigint
                               % 10000) < 9000 then 'train'
                          when (('0x' || substr(md5(cast(doc_id as varchar)), 1, 4))::bigint
                               % 10000) < 9500 then 'val'
                          else 'test' end AS split,
                     lang, source AS domain,
                     strlen(text) AS bytes,
                     (case when trim(coalesce(text, '')) = '' then 0
                           else len(regexp_split_to_array(trim(text), '\\s+')) end)
                       AS ntok
              FROM documents),
            rep_out AS (
              SELECT split, lang, count(*) AS docs,
                     sum(bytes) AS text_bytes, sum(ntok) AS tokens,
                     count(DISTINCT domain) AS n_domains
              FROM rep GROUP BY GROUPING SETS ((split, lang), (split))),
            gop AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 40 = 17 AND doc_id < 500 THEN
                       (CASE cast(floor(doc_id / 40.0) as int) % 4
                        WHEN 0 THEN 'word'
                        WHEN 1 THEN '## # ## tag # pound # sign # heavy #'
                        WHEN 2 THEN '- one' || chr(10) || '- two'
                                    || chr(10) || '- three'
                        ELSE 'first...' || chr(10) || 'second...'
                             || chr(10) || 'third' END)
                     ELSE text END AS text
              FROM documents),
            gtok AS (
              SELECT doc_id, text,
                     case when trim(text) = '' then []
                          else regexp_split_to_array(trim(text), '\\s+') end AS toks,
                     case when trim(text) = '' then []
                          else regexp_split_to_array(lower(trim(text)), '\\s+') end AS lo,
                     string_split(text, chr(10)) AS lines
              FROM gop),
            gm AS (
              SELECT doc_id,
                     len(toks) AS nw, len(lines) AS nl,
                     length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
                     length(text) - length(replace(text, '#', '')) AS nhash,
                     length(text) - length(replace(text, '…', '')) AS nell,
                     len(list_filter(toks,
                         x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
                     (case when list_contains(lo, 'the') then 1 else 0 end
                      + case when list_contains(lo, 'be') then 1 else 0 end
                      + case when list_contains(lo, 'to') then 1 else 0 end
                      + case when list_contains(lo, 'of') then 1 else 0 end
                      + case when list_contains(lo, 'and') then 1 else 0 end
                      + case when list_contains(lo, 'that') then 1 else 0 end
                      + case when list_contains(lo, 'have') then 1 else 0 end
                      + case when list_contains(lo, 'with') then 1 else 0 end)
                       AS nstop,
                     len(list_filter(lines,
                         l -> regexp_matches(l, '^\\s*[-*•]'))) AS nbul,
                     len(list_filter(lines,
                         l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS nelll
              FROM gtok),
            gbit AS (
              SELECT doc_id, nw,
                     (case when nw >= 20 AND nw <= 100000 then 0 else 1 end)
                   + (case when nw > 0 AND 3 * nw <= nonspace
                                AND nonspace <= 10 * nw then 0 else 2 end)
                   + (case when nw > 0 AND 10 * (nhash + nell) <= nw
                           then 0 else 4 end)
                   + (case when nw > 0 AND 10 * nalpha >= 8 * nw
                           then 0 else 8 end)
                   + (case when nstop >= 2 then 0 else 16 end)
                   + (case when 10 * nbul <= 9 * nl then 0 else 32 end)
                   + (case when 10 * nelll <= 3 * nl then 0 else 64 end)
                       AS bitmask
              FROM gm),
            c4doc AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 40 = 23 AND doc_id < 500 THEN
                       (CASE cast(floor(doc_id / 40.0) as int) % 4
                        WHEN 0 THEN 'function f() { return one; }'
                        WHEN 1 THEN 'Lorem ipsum dolor sit amet consectetur adipiscing elit.'
                        WHEN 2 THEN 'This planted page has a clean long sentence right here.'
                                    || chr(10) || 'tiny line.' || chr(10)
                                    || 'Unfinished line without terminal punctuation'
                        ELSE 'This planted page has a clean long sentence right here.'
                             || chr(10) || 'Enable javascript to view this content now.'
                             || chr(10) || 'Another fine sentence is present right here in the doc.'
                             || chr(10) || 'A third full sentence rounds out the page nicely.'
                        END)
                     ELSE text END AS text
              FROM documents),
            c4k AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, chr(10)),
                       l -> regexp_matches(trim(l), '[.!?"”]$')
                            AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5
                            AND NOT contains(lower(l), 'javascript')) AS kept
              FROM c4doc),
            c4bit AS (
              SELECT doc_id, len(kept) AS nkept,
                     length(coalesce(array_to_string(kept, chr(10)), ''))
                       AS klen,
                     (case when contains(text, '{') then 1 else 0 end)
                   + (case when contains(lower(text), 'lorem ipsum')
                           then 2 else 0 end)
                   + (case when regexp_matches(lower(text),
                           '\\b(porn|xxx)\\b') then 4 else 0 end)
                   + (case when len(kept) < 3 then 8 else 0 end) AS bitmask
              FROM c4k),
            repdoc AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 40 = 31 AND doc_id < 500 THEN
                       (CASE cast(floor(doc_id / 40.0) as int) % 4
                        WHEN 0 THEN 'echo line repeats.' || chr(10)
                                    || 'echo line repeats.' || chr(10)
                                    || 'echo line repeats.' || chr(10)
                                    || 'a closing unique line.'
                        WHEN 1 THEN 'spam ham spam ham spam ham spam ham eventually something else'
                        WHEN 2 THEN 'a wholly varied sentence keeps every window unique across this planted document today.'
                        ELSE 'alpha beta gamma delta alpha beta gamma delta closing words here now'
                        END)
                     ELSE text END AS text
              FROM documents),
            rsplit AS (
              SELECT doc_id,
                     coalesce(text, '') AS t,
                     string_split(coalesce(text, ''), chr(10)) AS lines,
                     case when trim(coalesce(text, '')) = '' then []
                          else regexp_split_to_array(trim(text), '\\s+') end AS w
              FROM repdoc),
            rln AS (
              SELECT doc_id, w,
                     len(lines) AS n_lines,
                     len(list_filter(lines, l ->
                         len(list_filter(lines, m -> m = l)) >= 2)) AS dup_lines,
                     coalesce(list_sum(list_transform(lines,
                         l -> length(l))), 0) AS line_chars,
                     coalesce(list_sum(list_transform(
                         list_filter(lines, l ->
                             len(list_filter(lines, m -> m = l)) >= 2),
                         l -> length(l))), 0) AS dup_line_chars,
                     length(t) AS total_chars
              FROM rsplit),
            rgram AS (
              SELECT doc_id, k, gram, count(*) AS c FROM (
                SELECT r.doc_id, kk.k AS k,
                       unnest(case when len(r.w) >= kk.k then
                         list_transform(
                           generate_series(1, len(r.w) - kk.k + 1),
                           i -> array_to_string(r.w[i:i+kk.k-1], ' '))
                         else [] end) AS gram
                FROM rln r, (VALUES (2), (3), (4)) kk(k))
              GROUP BY doc_id, k, gram),
            rtop AS (
              SELECT doc_id, k, max({'c': c, 'gram': gram}) AS m
              FROM rgram GROUP BY doc_id, k),
            rcov AS (
              SELECT doc_id,
                     sum(case when k = 2 AND m.c >= 2
                              then m.c * length(m.gram) else 0 end) AS top2,
                     sum(case when k = 3 AND m.c >= 2
                              then m.c * length(m.gram) else 0 end) AS top3,
                     sum(case when k = 4 AND m.c >= 2
                              then m.c * length(m.gram) else 0 end) AS top4
              FROM rtop GROUP BY doc_id),
            rbit AS (
              SELECT l.doc_id, l.dup_line_chars,
                     coalesce(c.top2, 0) + coalesce(c.top3, 0)
                       + coalesce(c.top4, 0) AS topcov,
                     (case when 10 * l.dup_lines > 3 * l.n_lines
                           then 1 else 0 end)
                   + (case when 5 * l.dup_line_chars > l.line_chars
                           then 2 else 0 end)
                   + (case when 5 * coalesce(c.top2, 0) > l.total_chars
                           then 4 else 0 end)
                   + (case when 50 * coalesce(c.top3, 0) > 9 * l.total_chars
                           then 8 else 0 end)
                   + (case when 25 * coalesce(c.top4, 0) > 4 * l.total_chars
                           then 16 else 0 end) AS bitmask
              FROM rln l LEFT JOIN rcov c ON l.doc_id = c.doc_id)
            SELECT 'stats' AS mode, lang AS k,
                   count(*) AS n1,
                   cast(sum(n_tokens) as bigint) AS n2,
                   cast(sum(n_subtokens) as bigint) AS n3,
                   cast(null as bigint) AS n4, cast(null as bigint) AS n5
            FROM toks GROUP BY lang
            UNION ALL
            SELECT 'pack', cast(doc_id as varchar),
                   pack_bucket, cast(n_tokens as bigint),
                   cast(tok_start as bigint),
                   cast(tok_start // 2048 as bigint),
                   cast(tok_start % 2048 as bigint)
            FROM packed
            UNION ALL
            SELECT 'mix', cast(doc_id as varchar),
                   cast(bucket as bigint), cast(cutoff as bigint),
                   cast(null as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM mixkeep WHERE bucket < cutoff
            UNION ALL
            SELECT 'ppl', cast(doc_id as varchar),
                   count(*), cast(sum(oov) as bigint),
                   cast(sum(lp) as bigint),
                   cast(null as bigint), cast(null as bigint)
            FROM ppl_inst GROUP BY doc_id
            UNION ALL
            SELECT 'report', split || '/' || coalesce(lang, 'ALL'),
                   cast(docs as bigint), cast(text_bytes as bigint),
                   cast(tokens as bigint), cast(n_domains as bigint),
                   cast(null as bigint)
            FROM rep_out
            UNION ALL
            SELECT 'gopher', cast(bitmask as varchar),
                   count(*), cast(sum(nw) as bigint),
                   cast(null as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM gbit GROUP BY bitmask
            UNION ALL
            SELECT 'c4', cast(bitmask as varchar),
                   count(*), cast(sum(nkept) as bigint),
                   cast(sum(klen) as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM c4bit GROUP BY bitmask
            UNION ALL
            SELECT 'rep', cast(bitmask as varchar),
                   count(*), cast(sum(dup_line_chars) as bigint),
                   cast(sum(topcov) as bigint), cast(null as bigint),
                   cast(null as bigint)
            FROM rbit GROUP BY bitmask
        """ + _token_suite_html_branch() + _token_suite_bm25_branch()
            + _token_suite_chunk_branch() + _token_suite_nfc_branch()
            + _token_suite_cms_branch() + _token_suite_heavy_branch()
            + _token_suite_order_branch() + _token_suite_kmv_branch()
            + _token_suite_hll_branch()
            + _token_suite_wsample_branch() + _token_suite_quantile_branch()
            + _token_suite_t5span_branch() + _token_suite_fim_branch(),
        "dedup_exact": """
            WITH corpus AS (
              SELECT doc_id,
                     case when doc_id % 3 = 0 then 'dup ' || lang else text end AS text
              FROM documents)
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS digest,
                   count(*) AS dup_count,
                   min(doc_id) AS keeper
            FROM corpus GROUP BY 1 HAVING count(*) >= 2
        """,
        # brute and ivf_exact modes are exact by construction → both equal
        # the brute-force cosine top-10; ivf_pruned runs over the planted
        # separable corpus where n_probe=1 provably equals exact (disjoint
        # block supports → cross-group cosine 0; see _IVF_PLANT_SPARK_SQL).
        # the pq mode's oracle needs no quantization at all: the plants make
        # quantization lossless (every subvector IS a codeword), so the ADC
        # top-10 must equal the exact dot-product top-10 over the enumerated
        # closed-form vectors (see _PQ_PLANT_SPARK_SQL).
        "ann_suite": f"""
            WITH pqe AS (
              SELECT vec_id,
                     list_transform(range(0, {_PQ_M * _PQ_D}), d ->
                       0.1 * ((((d // {_PQ_D}) * 131
                                + ((vec_id * 7 + vec_id % 13 + (d // {_PQ_D}) * 3) % {_PQ_K}) * 17
                                + (d % {_PQ_D}) * 7) % 23) - 11)) AS v
              FROM embeddings),
            pqq AS (SELECT v AS qv FROM pqe WHERE vec_id = 0),
            pqtop AS (
              SELECT vec_id,
                     (round(list_dot_product(v, (SELECT qv FROM pqq)), 6))::DOUBLE AS cosine
              FROM pqe
              ORDER BY cosine DESC, vec_id ASC LIMIT 10),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            ex AS (
              SELECT vec_id,
                     unnest(embedding)::DOUBLE AS x,
                     unnest((SELECT qe FROM q))::DOUBLE AS y
              FROM embeddings),
            exact AS (
              SELECT vec_id,
                     round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
              FROM ex GROUP BY vec_id
              ORDER BY cosine DESC, vec_id ASC LIMIT 10),
            pe AS (
              SELECT vec_id,
                     list_transform(range(0, {_IVF_DIM}), d ->
                       case when cast(floor(d / {_IVF_BLOCK}.0) as int) = vec_id % {_IVF_GROUPS}
                            then 1.0 + 0.001 * ((vec_id * 31 + d) % 97)
                            else 0.0 end) AS v
              FROM embeddings),
            pq AS (SELECT v AS qv FROM pe WHERE vec_id = 0),
            pruned AS (
              SELECT vec_id,
                     (round(list_dot_product(v, (SELECT qv FROM pq))
                        / (sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product((SELECT qv FROM pq),
                                                   (SELECT qv FROM pq)))), 6))::DOUBLE AS cosine
              FROM pe
              ORDER BY cosine DESC, vec_id ASC LIMIT 10),
            -- ivfpq: the oracle needs NEITHER the pruning nor the
            -- quantization — the plant makes both provably lossless (see
            -- _IVFPQ_PLANT_SPARK_SQL), so the fused probe must equal the
            -- exact dot-product top-10 over the full enumerated corpus.
            fpe AS (
              SELECT vec_id,
                     list_transform(range(0, {_IVF_DIM}), d ->
                       case when (d // {_IVF_BLOCK}) = vec_id % {_IVF_GROUPS}
                            then 1.0 + 0.1 * ((2 * vec_id + d) % 5)
                            else 0.0 end) AS v
              FROM embeddings),
            fpq AS (SELECT v AS qv FROM fpe WHERE vec_id = 0),
            fptop AS (
              SELECT vec_id,
                     (round(list_dot_product(v, (SELECT qv FROM fpq)), 6))::DOUBLE AS cosine
              FROM fpe
              ORDER BY cosine DESC, vec_id ASC LIMIT 10)
            SELECT 'brute' AS mode, vec_id, cosine FROM exact
            UNION ALL
            SELECT 'ivf_exact' AS mode, vec_id, cosine FROM exact
            UNION ALL
            SELECT 'ivf_pruned' AS mode, vec_id, cosine FROM pruned
            UNION ALL
            SELECT 'pq' AS mode, vec_id, cosine FROM pqtop
            UNION ALL
            SELECT 'ivfpq' AS mode, vec_id, cosine FROM fptop
        """,
        "pipeline_mls_case": f"""
            SELECT doc_id,
                   (case doc_id % 4 when 0 then 's0' when 1 then 's15'
                         when 2 then 's0:c1' else 's0:c1.c2' end) AS s_mls,
                   (case doc_id % 3 when 0 then 's0' when 1 then 's15'
                         else 's0:c2' end) AS t_mls,
                   (case
                      when doc_id % 4 = 0 and doc_id % 3 = 0 then cast(null as string)
                      when doc_id % 4 = 0 and doc_id % 3 = 1 then 'no_read_up'
                      when doc_id % 4 = 0 and doc_id % 3 = 2 then 'mcs_missing_categories'
                      when doc_id % 4 = 1 and doc_id % 3 = 0 then 'no_write_down'
                      when doc_id % 4 = 1 and doc_id % 3 = 1 then cast(null as string)
                      when doc_id % 4 = 1 and doc_id % 3 = 2 then 'no_write_down'
                      when doc_id % 4 = 2 and doc_id % 3 = 0 then 'mcs_source_superset'
                      when doc_id % 4 = 2 and doc_id % 3 = 1 then 'no_read_up'
                      when doc_id % 4 = 2 and doc_id % 3 = 2 then 'mcs_disjoint'
                      when doc_id % 4 = 3 and doc_id % 3 = 0 then 'mcs_source_superset'
                      when doc_id % 4 = 3 and doc_id % 3 = 1 then 'no_read_up'
                      else 'mcs_source_superset'
                    end) AS mls_case
            FROM documents
        """,
        "pipeline_policy_events": f"""
            SELECT 'e' || cast(event_id as string) AS url,
                   (case when event_id % 2 = 0 then 'MAC_POLICY_LOAD' else 'MAC_STATUS' end) AS rtype,
                   (case when event_id % 2 = 0 then
                        (case event_id % 6 when 0 then '500' when 2 then 'unset'
                              else cast(500 + event_id % 9 as string) end)
                    else '500' end) AS auid,
                   (case when event_id % 2 = 0 then cast(event_id % 99 as string)
                         else cast(null as string) end) AS ses,
                   (case when event_id % 2 = 1 then '1' else cast(null as string) end) AS enforcing,
                   (case when event_id % 2 = 1 then '0' else cast(null as string) end) AS old_enforcing,
                   ({EPOCH0} + event_id) AS epoch
            FROM events
        """,
        "pipeline_resource_rollup": f"""
            WITH base AS (
              SELECT (case when doc_id % 5 = 3 then 'port:' || {f['dest_port']}
                           else {f['path']} end) AS resource,
                     {f['permission']} AS permission,
                     {f['pid']} AS pid
              FROM documents)
            SELECT resource, count(*) AS event_count,
                   array_to_string(list_sort(list(DISTINCT permission)), ',') AS perms,
                   count(DISTINCT pid) AS distinct_pids
            FROM base GROUP BY resource
        """,
        "pipeline_stats_counters": f"""
            WITH base AS (
              SELECT {f['comm']} AS comm, {f['sc_type']} AS sc_type,
                     {f['tclass']} AS tclass, {f['permission']} AS permission
              FROM documents)
            SELECT comm, sc_type, tclass, permission, count(*) AS cnt
            FROM base
            GROUP BY GROUPING SETS ((comm), (sc_type), (tclass), (permission))
        """,
        "filter_time_range": f"""
            WITH base AS (
              SELECT {PROCESS_CATEGORY_ORACLE} AS process_category,
                     (case when doc_id % 5 = 4 then {TC_TYPE_CASE} else {TCONTEXT} end) AS sig_target,
                     {OBJECT_GROUP_ORACLE} AS object_group,
                     (case when doc_id % 5 = 3 then {f['dest_port']}
                           when doc_id % 5 = 4 then ''
                           else {PATH_PATTERN_ORACLE} end) AS sig_extra,
                     {PERMISSION_CATEGORY_ORACLE} AS permission_category,
                     {f['epoch']} AS epoch
              FROM documents),
            grp AS (
              SELECT process_category, sig_target, object_group, sig_extra,
                     permission_category, count(*) AS cnt, max(epoch) AS last_epoch
              FROM base GROUP BY 1,2,3,4,5)
            SELECT * FROM grp WHERE last_epoch <= epoch('2023-11-14 22:21:34'::TIMESTAMP)
        """,
        "filter_groups_suite": f"""
            WITH base AS (
              SELECT {PROCESS_CATEGORY_ORACLE} AS process_category,
                     (case when doc_id % 5 = 4 then {TC_TYPE_CASE} else {TCONTEXT} end) AS sig_target,
                     {OBJECT_GROUP_ORACLE} AS object_group,
                     (case when doc_id % 5 = 3 then {f['dest_port']}
                           when doc_id % 5 = 4 then ''
                           else {PATH_PATTERN_ORACLE} end) AS sig_extra,
                     {PERMISSION_CATEGORY_ORACLE} AS permission_category,
                     {f['comm']} AS comm,
                     {f['path']} AS path,
                     (doc_id % 4 in (0, 1)) AS ctx_match
              FROM documents),
            grp AS (
              SELECT process_category, sig_target, object_group, sig_extra,
                     permission_category, count(*) AS cnt,
                     bool_or(comm LIKE '%httpd%' OR comm LIKE '%mysqld%') AS m_process,
                     bool_or(path LIKE '/var/www/%') AS m_glob,
                     bool_or(ctx_match) AS m_ctx
              FROM base GROUP BY 1,2,3,4,5)
            SELECT 'process' AS fmode, process_category, sig_target,
                   object_group, sig_extra, permission_category, cnt
            FROM grp WHERE m_process
            UNION ALL
            SELECT 'glob', process_category, sig_target, object_group,
                   sig_extra, permission_category, cnt
            FROM grp WHERE m_glob
            UNION ALL
            SELECT 'context', process_category, sig_target, object_group,
                   sig_extra, permission_category, cnt
            FROM grp WHERE m_ctx
        """,
        "filter_mls_only": """
            SELECT doc_id FROM documents WHERE doc_id % 3 <> 0
        """,
        "sort_groups_all": f"""
            WITH base AS (
              SELECT {PROCESS_CATEGORY_ORACLE} || '␟' ||
                     (case when doc_id % 5 = 4 then {TC_TYPE_CASE} else {TCONTEXT} end) || '␟' ||
                     {OBJECT_GROUP_ORACLE} || '␟' ||
                     (case when doc_id % 5 = 3 then {f['dest_port']}
                           when doc_id % 5 = 4 then ''
                           else {PATH_PATTERN_ORACLE} end) || '␟' ||
                     {PERMISSION_CATEGORY_ORACLE} AS signature,
                     {f['epoch']} AS epoch
              FROM documents),
            grp AS (
              SELECT signature, count(*) AS cnt,
                     min(epoch) AS first_epoch, max(epoch) AS last_epoch
              FROM base GROUP BY 1)
            SELECT * FROM (
              SELECT 'count' AS mode, signature, cnt AS k1, last_epoch AS k2
              FROM grp ORDER BY cnt DESC, last_epoch DESC, signature ASC
              LIMIT 20)
            UNION ALL
            SELECT * FROM (
              SELECT 'recent' AS mode, signature, last_epoch AS k1,
                     first_epoch AS k2
              FROM grp ORDER BY last_epoch DESC, first_epoch DESC,
                               signature ASC LIMIT 15)
            UNION ALL
            SELECT * FROM (
              SELECT 'chrono' AS mode, signature, first_epoch AS k1,
                     last_epoch AS k2
              FROM grp ORDER BY first_epoch ASC, last_epoch ASC,
                               signature ASC LIMIT 15)
            UNION ALL
            SELECT * FROM (
              SELECT 'top5' AS mode, signature, cnt AS k1, cnt AS k2
              FROM grp ORDER BY cnt DESC, signature ASC LIMIT 5)
        """,
        "resource_consolidation": f"""
            WITH base AS (
              SELECT {PROCESS_CATEGORY_ORACLE} AS pc,
                     (case when doc_id % 5 = 4 then {TC_TYPE_CASE} else {TCONTEXT} end) AS st,
                     {OBJECT_GROUP_ORACLE} AS og,
                     (case when doc_id % 5 = 3 then {f['dest_port']}
                           when doc_id % 5 = 4 then ''
                           else {PATH_PATTERN_ORACLE} end) AS se,
                     {PERMISSION_CATEGORY_ORACLE} AS pcat,
                     (case when doc_id % 5 = 3 then 'port:' || {f['dest_port']}
                           else {f['path']} end) AS resource,
                     {f['permission']} AS permission,
                     {f['pid']} AS pid,
                     {f['comm']} AS comm
              FROM documents),
            sub AS (
              SELECT pc, st, og, se, pcat, resource,
                     count(*) AS event_count,
                     list_sort(list(DISTINCT permission)) AS perms,
                     array_to_string(list_sort(list(DISTINCT pid)), ',') AS pids_str,
                     array_to_string(list_sort(list(DISTINCT comm)), ',') AS comms_str
              FROM base GROUP BY 1,2,3,4,5,6)
            SELECT pids_str, comms_str, unnest(perms) AS permission, resource,
                   cast(event_count as bigint) AS rcount
            FROM sub
        """,
        "grouping_optimality_suite": f"""
            WITH base AS (
              SELECT {PROCESS_CATEGORY_ORACLE} AS pc,
                     (case when doc_id % 5 = 4 then {TC_TYPE_CASE} else {TCONTEXT} end) AS st,
                     {OBJECT_GROUP_ORACLE} AS og,
                     (case when doc_id % 5 = 3 then {f['dest_port']}
                           when doc_id % 5 = 4 then ''
                           else {PATH_PATTERN_ORACLE} end) AS se,
                     {PERMISSION_CATEGORY_ORACLE} AS pcat,
                     {f['sc_type']} AS sc_type, {f['tc_type']} AS tc_type,
                     {f['tclass']} AS tclass, {f['permission']} AS permission
              FROM documents),
            grp AS (
              SELECT pc, st, og, se, pcat,
                     'sesearch -A -s ' || min(sc_type) || ' -t ' || min(tc_type)
                     || ' -c ' || min(tclass) || ' -p '
                     || array_to_string(list_sort(list(DISTINCT permission)), ',')
                     AS sesearch_command
              FROM base GROUP BY 1,2,3,4,5),
            cmds AS (
              SELECT sesearch_command, count(*) AS c FROM grp GROUP BY 1)
            SELECT 'detail' AS mode, sesearch_command AS k,
                   cast(c as bigint) AS n1,
                   cast(case when c > 1 then 1 else 0 end as bigint) AS n2,
                   cast(NULL as bigint) AS n3, cast(NULL as double) AS eff
            FROM cmds
            UNION ALL
            SELECT 'report', '',
                   cast(sum(c) as bigint),
                   cast(count(*) as bigint),
                   cast(sum(case when c > 1 then 1 else 0 end) as bigint),
                   (round(count(*) * 1.0 / sum(c), 6))::DOUBLE
            FROM cmds
        """,
        "detector_flags": """
            SELECT doc_id AS sig_id,
                   (doc_id % 6) in (0, 2, 4) AS flag_dontaudit,
                   doc_id % 7 = 0 AS flag_permissive,
                   doc_id % 5 = 0 AS flag_container_paths,
                   (doc_id % 5) in (1, 3) AS flag_custom_paths
            FROM documents
        """,
        "analyzer_findings": _ANALYZER_FINDINGS_ORACLE,
        "ngram_overlap_suite": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) < 3
                            THEN [regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')]
                            ELSE list_transform(
                                   generate_series(1, len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) - 2),
                                   i -> array_to_string(
                                          (regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))[i:i+2],
                                          ' '))
                       END) AS sh
              FROM documents),
            sh8 AS (
              SELECT doc_id,
                     len(list_distinct(
                       CASE WHEN len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) < 8
                            THEN [regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')]
                            ELSE list_transform(
                                   generate_series(1, len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) - 7),
                                   i -> array_to_string(
                                          (regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))[i:i+7],
                                          ' '))
                       END)) AS n8
              FROM documents),
            pd_docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 20 = 3 AND doc_id < 500 THEN
                       'subscribe to our newsletter for updates'
                       || chr(10) || chr(10)
                       || 'unique paragraph for document ' || doc_id
                       || CASE WHEN doc_id % 40 = 3
                               THEN chr(10) || chr(10)
                                    || 'copyright footer all rights reserved'
                               ELSE '' END
                       || CASE WHEN doc_id % 40 = 23
                               THEN chr(10) || chr(10)
                                    || 'breaking news ticker repeats'
                                    || chr(10) || chr(10)
                                    || 'breaking news ticker repeats'
                               ELSE '' END
                     ELSE text END AS text
              FROM documents),
            pd_inst AS (
              SELECT doc_id, r.pos AS pos, r.para AS para, md5(r.para) AS ph
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             string_split(text, chr(10) || chr(10)),
                             (x, i) -> {'pos': i, 'para': x})) AS r
                    FROM pd_docs)),
            pd_first AS (
              SELECT ph, min(doc_id * 1048576 + pos) AS fk
              FROM pd_inst GROUP BY ph),
            pd_out AS (
              SELECT i.doc_id,
                     string_agg(i.para, chr(10) || chr(10) ORDER BY i.pos) AS text,
                     count(*) AS kept
              FROM pd_inst i JOIN pd_first f
                ON f.ph = i.ph AND i.doc_id * 1048576 + i.pos = f.fk
              GROUP BY i.doc_id),
            ss_docs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 30 = 11 AND doc_id < 500 THEN
                       'the quick brown fox jumps over the lazy dog again'
                       || ' unique tail for document ' || doc_id
                     ELSE text END AS text
              FROM documents),
            ss_tok AS (
              SELECT doc_id,
                     regexp_split_to_array(
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                       ' ') AS toks
              FROM ss_docs),
            ss_inst AS (
              SELECT doc_id, r.pos AS pos, r.wh AS wh
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             generate_series(1, greatest(len(toks) - 7, 0)),
                             j -> {'pos': j - 1,
                                   'wh': md5(array_to_string(toks[j:j+7], ' '))})) AS r
                    FROM ss_tok)),
            ss_first AS (
              SELECT wh, count(*) AS n_inst,
                     min(doc_id * 1048576 + pos) AS fk
              FROM ss_inst GROUP BY wh),
            ss_marked AS (
              SELECT i.doc_id, i.pos
              FROM ss_inst i JOIN ss_first f ON f.wh = i.wh
              WHERE i.doc_id % 30 = 11 AND i.doc_id < 500
                AND f.n_inst >= 2 AND i.doc_id * 1048576 + i.pos <> f.fk),
            ss_tokinst AS (
              SELECT doc_id, r.pos AS pos, r.tok AS tok
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             generate_series(1, len(toks)),
                             j -> {'pos': j - 1, 'tok': toks[j]})) AS r
                    FROM ss_tok
                    WHERE doc_id % 30 = 11 AND doc_id < 500)),
            ss_out AS (
              SELECT t.doc_id,
                     string_agg(t.tok, ' ' ORDER BY t.pos) AS text,
                     count(*) AS kept
              FROM ss_tokinst t
              WHERE NOT EXISTS (SELECT 1 FROM ss_marked m
                                WHERE m.doc_id = t.doc_id
                                  AND m.pos <= t.pos AND t.pos <= m.pos + 7)
              GROUP BY t.doc_id)
            SELECT 'adjacent' AS mode, x.doc_id AS a,
                   round(len(list_intersect(x.sh, y.sh)) * 1.0
                         / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS k1,
                   cast(null as double) AS k2
            FROM sh x JOIN sh y ON y.doc_id = x.doc_id + 1
            WHERE x.doc_id % 2 = 0
            UNION ALL
            SELECT 'contam' AS mode, d.doc_id AS a,
                   cast(t.n8 as double) AS k1,
                   cast(t.n8 as double) AS k2
            FROM documents d JOIN sh8 t ON t.doc_id = d.doc_id - 7
            WHERE d.doc_id % 50 = 7 AND d.doc_id < 500
            UNION ALL
            -- winnow: identical planted texts => identical fingerprint sets
            -- => every intra-cluster pair, fp_jaccard exactly 1.0
            SELECT 'winnow' AS mode, x.doc_id AS a,
                   1.0 AS k1, cast(y.doc_id as double) AS k2
            FROM documents x JOIN documents y
              ON y.doc_id > x.doc_id
             AND (cast(floor(y.doc_id / 25.0) as int) % 4)
                 = (cast(floor(x.doc_id / 25.0) as int) % 4)
            WHERE x.doc_id % 25 = 0 AND y.doc_id % 25 = 0
              AND x.doc_id < 500 AND y.doc_id < 500
            UNION ALL
            SELECT 'paradedup' AS mode, t.doc_id AS a,
                   (('0x' || substr(md5(t.text), 1, 4))::bigint)::DOUBLE AS k1,
                   cast(t.kept as double) AS k2
            FROM pd_out t
            WHERE t.doc_id % 20 = 3 AND t.doc_id < 500
            UNION ALL
            SELECT 'substr' AS mode, o.doc_id AS a,
                   (('0x' || substr(md5(o.text), 1, 4))::bigint)::DOUBLE AS k1,
                   cast(o.kept as double) AS k2
            FROM ss_out o
            UNION ALL
            SELECT 'bloomdelta' AS mode, d.doc_id AS a,
                   1.0 AS k1,
                   (('0x' || substr(d.digest, 1, 12))::bigint)::DOUBLE AS k2
            FROM (SELECT doc_id,
                         md5(regexp_replace(lower(trim(
                           CASE WHEN doc_id % 40 IN (0, 21)
                                THEN 'bloom planted page ' || (doc_id % 3)
                                ELSE text END)), '\\s+', ' ', 'g')) AS digest
                  FROM documents) d
            WHERE d.doc_id % 2 = 1
              AND EXISTS (SELECT 1 FROM
                    (SELECT doc_id,
                            md5(regexp_replace(lower(trim(
                              CASE WHEN doc_id % 40 IN (0, 21)
                                   THEN 'bloom planted page ' || (doc_id % 3)
                                   ELSE text END)), '\\s+', ' ', 'g')) AS digest
                     FROM documents) s
                    WHERE s.doc_id % 2 = 0 AND s.digest = d.digest)
        """,
        "tpch_semi_anti": _TPCH_SEMI_ANTI_SQL,
        "tpch_q12ish_caseagg": """
            SELECT l.l_linestatus AS linestatus,
                   cast(sum(case when o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            then 1 else 0 end) as bigint) AS high_line_count,
                   cast(sum(case when o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            then 1 else 0 end) as bigint) AS low_line_count
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_linestatus
        """,
        # 'win' = the window battery; 'asof' = DuckDB's NATIVE ASOF LEFT
        # JOIN (an independent implementation of the operator the Spark
        # side builds join-free via union+window); 'range' = plain
        # inequality join (the Spark side is the bucketized equi-join).
        "events_window_funcs": f"""
            WITH win AS ({_EVENTS_WINDOWS_SQL}),
            markers AS (
              SELECT event_type, ts, event_id AS marker_id,
                     (round(value, 4))::DOUBLE AS marker_value
              FROM events WHERE event_id % 97 = 0)
            SELECT 'win' AS mode, event_id, event_type AS k,
                   CAST(rk AS BIGINT) AS n1, moving_avg AS x1,
                   running_value AS x2
            FROM win
            UNION ALL
            SELECT 'asof', e.event_id, e.event_type,
                   m.marker_id, m.marker_value, CAST(NULL AS DOUBLE)
            FROM events e ASOF LEFT JOIN markers m
              ON e.event_type = m.event_type AND e.ts >= m.ts
            UNION ALL
            SELECT 'range', e.event_id, e.event_type,
                   m.marker_id, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM events e JOIN markers m
              ON e.event_type = m.event_type
             AND e.ts >= m.ts AND e.ts <= m.ts + INTERVAL 1 DAY
        """,
        "events_type_stats": """
            SELECT event_type,
                   (round(quantile_cont(value, 0.5), 4))::DOUBLE AS p50,
                   (round(quantile_cont(value, 0.95), 4))::DOUBLE AS p95,
                   (round(min(value), 4))::DOUBLE AS vmin,
                   (round(max(value), 4))::DOUBLE AS vmax,
                   (round(exp(avg(ln(case when value > 0 then value end))), 4))::DOUBLE AS geo_value
            FROM events GROUP BY event_type
        """,
        "events_pivot": """
            SELECT user_id,
                   cast(count(*) FILTER (event_type = 'click') as bigint) AS click,
                   cast(count(*) FILTER (event_type = 'view') as bigint) AS view,
                   cast(count(*) FILTER (event_type = 'purchase') as bigint) AS purchase,
                   cast(count(*) FILTER (event_type = 'signup') as bigint) AS signup,
                   cast(count(*) FILTER (event_type = 'error') as bigint) AS error
            FROM events GROUP BY user_id
        """,
        "events_set_ops": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view'
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'purchase' AND value > 180
        """,
        "tpch_rollup_revenue": """
            SELECT coalesce(r.r_name, 'ALL') AS region,
                   coalesce(n.n_name, 'ALL') AS nation,
                   round(sum(s.s_acctbal), 2) AS total_acctbal,
                   count(*) AS suppliers
            FROM supplier s
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY ROLLUP(r.r_name, n.n_name)
        """,
        "multimodal_features": f"""
            SELECT doc_id,
                   (case when doc_id % 4 in (0, 1) then 'image'
                         when doc_id % 8 in (3, 5) then 'image'
                         when doc_id % 16 = 7 then 'video'
                         else 'audio' end) AS media_type,
                   (case when doc_id % 8 = 0 then 59
                         when doc_id % 8 = 4 then 23
                         when doc_id % 8 = 1 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _PNG_NBYTES)}
                         when doc_id % 8 = 3 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _GIF_NBYTES)}
                         when doc_id % 8 = 5 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _JPEG_NBYTES)}
                         when doc_id % 4 = 2 then 52
                         when doc_id % 16 = 7 then
                           {_sql_case_int('cast(floor(doc_id / 16.0) as int) % 8', _MP4_NBYTES)}
                         else octet_length(encode(text)) end)::BIGINT AS n_bytes,
                   (case when doc_id % 4 = 0 then 'ok_ppm'
                         when doc_id % 4 = 2 then 'ok_wav'
                         when doc_id % 8 = 1 then 'ok_png'
                         when doc_id % 8 = 3 then 'ok_gif'
                         when doc_id % 8 = 5 then 'ok_jpeg'
                         when doc_id % 16 = 7 then 'ok_mp4_meta'
                         else 'stubbed_fake' end) AS decode_status,
                   (case when doc_id % 8 in (0, 1, 3) then 'resized'
                         when doc_id % 8 = 5 then
                           (case when (cast(floor(doc_id / 8.0) as int) % 8) % 4 = 3
                                 then 'already_small' else 'resized' end)
                         when doc_id % 8 = 4 then 'already_small'
                         else 'passthrough' end) AS resize_status,
                   (case when doc_id % 4 = 0 then doc_id % 256
                         when doc_id % 8 = 1 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _PNG_MEAN)}
                         when doc_id % 8 = 3 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _GIF_MEAN)}
                         when doc_id % 8 = 5 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _JPEG_MEAN)}
                    end)::BIGINT AS mean_byte,
                   (case when doc_id % 4 = 0 then 0
                         when doc_id % 8 = 1 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _PNG_STD)}
                         when doc_id % 8 = 3 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _GIF_STD)}
                         when doc_id % 8 = 5 then
                           {_sql_case_int('cast(floor(doc_id / 8.0) as int) % 8', _JPEG_STD)}
                    end)::BIGINT AS std_milli,
                   (case when doc_id % 8 in (0, 1, 3, 5) then 4
                         when doc_id % 8 = 4 then 2
                         when doc_id % 16 = 7 then
                           {_sql_case_int('cast(floor(doc_id / 16.0) as int) % 8', _MP4_W)}
                         end)::BIGINT AS px_w,
                   (case when doc_id % 8 in (0, 1, 3, 5) then 4
                         when doc_id % 8 = 4 then 2
                         when doc_id % 16 = 7 then
                           {_sql_case_int('cast(floor(doc_id / 16.0) as int) % 8', _MP4_H)}
                         end)::BIGINT AS px_h,
                   (case when doc_id % 4 = 2
                         then abs((doc_id % 256) - 128) end)::BIGINT AS rms_byte,
                   (case when doc_id % 4 = 2 then 8000 end)::BIGINT AS sample_rate,
                   (case when doc_id % 16 = 7 then
                           {_sql_case_int('cast(floor(doc_id / 16.0) as int) % 8', _MP4_DUR)}
                         end)::BIGINT AS vid_dur_sec,
                   (case when doc_id % 16 = 7 then
                           {_sql_case_int('cast(floor(doc_id / 16.0) as int) % 8', _MP4_FRAMES)}
                         end)::BIGINT AS vid_frames
            FROM documents
        """,
        "multimodal_frame_sample": f"""
            SELECT doc_id,
                   unnest(generate_series(
                       0,
                       greatest({_sql_case_int('cast(floor(doc_id / 16.0) as int) % 8', _MP4_RAW_FRAMES)} - 1, 0),
                       300)) AS frame_idx
            FROM documents WHERE doc_id % 3 = 0
        """,
        "pipeline_json_normalize": f"""
            SELECT 'doc' || cast(doc_id as string) AS url,
                   cast(1000 + doc_id % 97 as int) AS pid,
                   (doc_id % 7 = 0) AS permissive,
                   (case when doc_id % 5 = 3
                         then cast({f['dest_port']} as int) end) AS dest_port_num,
                   (case when doc_id % 5 = 3
                         then (case when doc_id % 3 = 0 then 'system'
                                    else 'registered' end) end) AS dest_port_class,
                   'system_u' AS sc_user_c,
                   {f['sc_type']} AS sc_type_c,
                   's0' AS sc_level_c,
                   {f['tc_type']} AS tc_type_c,
                   (case when doc_id % 5 = 3 and doc_id % 2 = 0
                         then '192.168.1.' || cast(doc_id % 9 as string) end) AS laddr,
                   (case when doc_id % 5 = 3 and doc_id % 2 = 0
                         then cast((case doc_id % 3 when 0 then '80'
                                    when 1 then '5432' else '9999' end) as int)
                    end) AS lport,
                   {f['path']} AS path
            FROM documents
        """,
        "pipeline_extracted_text": f"""
            SELECT 'doc' || cast(doc_id as string) AS url,
                   'denial_type=AVC|event_id=' || cast({EPOCH0} + doc_id as string)
                   || '.000:' || cast(doc_id as string)
                   || '|permission=' || {f['permission']}
                   || '|pid=' || {f['pid']}
                   || '|comm=' || {f['comm']}
                   || '|exe=' || {f['exe']}
                   || (case when doc_id % 5 = 3 then ''
                        else '|path=' || {f['path']} || '|path_type=file_path' end)
                   || '|scontext_raw=' || {f['scontext_raw']}
                   || '|tcontext_raw=' || {f['tcontext_raw']}
                   || '|tclass=' || {f['tclass']}
                   || (case when doc_id % 5 = 3 then '|dest_port=' || {f['dest_port']} else '' end)
                   || '|permissive=' || {f['permissive']}
                   || '|syscall=' || {f['syscall']}
                   || '|exit=' || {f['exit']}
                   || '|success=' || {f['success']}
                   || '|cwd=' || {f['cwd']}
                   || '|proctitle=' || {f['proctitle']}
                   || '|execve_cmdline=' || {f['execve_cmdline']}
                   || (case when doc_id % 5 = 3 and doc_id % 2 = 1
                            then '|saddr=' || {f['saddr']} else '' end)
                   AS extracted_text
            FROM documents
        """,
        "dedup_embedding_cosine": """
            WITH e AS (
              SELECT a.vec_id,
                     case when a.vec_id % 10 = 1
                          then list_transform(b.embedding::DOUBLE[], x -> x * 1.5)
                          else a.embedding::DOUBLE[] end AS v
              FROM embeddings a LEFT JOIN embeddings b ON b.vec_id = a.vec_id - 1),
            p AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v))) AS c
              FROM e x JOIN e y ON x.vec_id < y.vec_id)
            SELECT a, b, (round(c, 6))::DOUBLE AS cosine FROM p WHERE c >= 0.8
        """,
        # guaranteed-recall invariants: the planted near-dup sets are
        # deterministic functions of doc_id, and identical texts / vectors
        # share sketches with probability 1 — so DuckDB can enumerate the
        # exact expected pair sets without expressing the sketch itself.
        "dedup_minhash_lsh": """
            SELECT a.doc_id AS a, b.doc_id AS b, 1.0::DOUBLE AS jaccard
            FROM documents a JOIN documents b ON b.doc_id > a.doc_id
            WHERE a.doc_id % 25 = 0 AND b.doc_id % 25 = 0
              AND a.doc_id < 500 AND b.doc_id < 500
              AND (cast(floor(a.doc_id / 25.0) as int) % 4)
                = (cast(floor(b.doc_id / 25.0) as int) % 4)
        """,
        "dedup_simhash_suite": """
            SELECT 'cluster' AS mode,
                   cast(count(*) as bigint) AS k1,
                   cast(min(doc_id) as bigint) AS k2,
                   cast(0 as bigint) AS k3
            FROM documents WHERE doc_id % 4 = 1 AND doc_id < 500
            UNION ALL
            SELECT 'pair' AS mode,
                   cast(a.doc_id as bigint) AS k1,
                   cast(b.doc_id as bigint) AS k2,
                   cast(case when (a.doc_id % 3 = 2) <> (b.doc_id % 3 = 2)
                         then 2 else 0 end as bigint) AS k3
            FROM documents a JOIN documents b ON b.doc_id > a.doc_id
            WHERE a.doc_id % 10 = 2 AND b.doc_id % 10 = 2
              AND a.doc_id < 500 AND b.doc_id < 500
        """,
        # chain: blocks of 5 consecutive ids ⇒ keeper = block head (needs
        # multi-hop propagation on the Spark side); minhash: the planted
        # identical-text clusters ⇒ keeper = 25 × variant (the cluster
        # minimum always exists because doc_ids are contiguous from 0).
        "dedup_resolve": """
            SELECT 'chain' AS strategy, doc_id,
                   cast(doc_id - doc_id % 5 as bigint) AS keeper
            FROM documents WHERE doc_id < 500
            UNION ALL
            SELECT 'minhash' AS strategy, doc_id,
                   cast((cast(floor(doc_id / 25.0) as int) % 4) * 25 as bigint) AS keeper
            FROM documents WHERE doc_id % 25 = 0 AND doc_id < 500
            UNION ALL
            SELECT 'embedding' AS strategy, vec_id AS doc_id,
                   cast(vec_id - (case when vec_id % 10 = 1 then 1 else 0 end)
                        as bigint) AS keeper
            FROM embeddings WHERE vec_id % 10 IN (0, 1)
            UNION ALL
            SELECT 'semdedup' AS strategy, vec_id AS doc_id,
                   cast(vec_id - (case when vec_id % 8 >= 4 then 4 else 0 end)
                        as bigint) AS keeper
            FROM embeddings WHERE vec_id < 64
        """,
        # curation survivors enumerated stage by stage from the plants:
        # url-dup drops (doc_id%10==9), planted-cluster non-keepers
        # (doc_id ≠ 25×variant), decontaminated keepers (variant 0/1);
        # split re-derived from md5 exactly as split_by_hash(method='md5').
        "corpus_curation": """
            WITH s3 AS (
              SELECT doc_id,
                     'https://w.example.com/p/' ||
                       cast(doc_id - (case when doc_id % 10 = 9 then 9 else 0 end) as varchar)
                       AS canon_url
              FROM documents
              WHERE doc_id % 10 <> 9
                AND NOT (doc_id % 25 = 0 AND doc_id < 500
                         AND doc_id <> (cast(floor(doc_id / 25.0) as int) % 4) * 25)
                AND NOT (doc_id % 25 = 0 AND doc_id < 500
                         AND (cast(floor(doc_id / 25.0) as int) % 4) IN (0, 1))),
            b AS (
              SELECT doc_id, canon_url,
                     ('0x' || substr(md5(cast(doc_id as varchar)), 1, 4))::bigint
                       % 10000 AS bucket
              FROM s3)
            SELECT doc_id, canon_url,
                   case when bucket < 9000 then 'train'
                        when bucket < 9500 then 'val'
                        else 'test' end AS split
            FROM b
        """,
        "ann_lsh_topk": _ANN_LSH_ORACLE,
        # streaming == batch invariant, both modes: the availableNow
        # windowed rollup equals the batch per-lang/per-hour aggregate, and
        # the stateful event-time-timeout sessionizer equals the batch
        # lag/cumsum sessionization over the same planted events.
        "streaming_lang_rollup": f"""
            WITH ev AS (
              SELECT 'c' || cast(doc_id % 5 as varchar) AS comm,
                     {_SESS_TS_SQL.format(e0=EPOCH0)} AS ts
              FROM documents),
            lagd AS (
              SELECT comm, ts,
                     lag(ts) OVER (PARTITION BY comm ORDER BY ts) AS prev
              FROM ev),
            sess AS (
              SELECT comm, ts,
                     sum(case when prev IS NULL OR ts - prev > 1800
                              then 1 else 0 end)
                       OVER (PARTITION BY comm ORDER BY ts) AS sid
              FROM lagd)
            SELECT 'rollup' AS mode, lang AS k,
                   cast(floor(({f['epoch']}) / 3600.0) * 3600 as bigint) AS t1,
                   cast(NULL as bigint) AS t2,
                   count(*) AS n
            FROM documents GROUP BY 2, 3
            UNION ALL
            SELECT 'sessions', comm,
                   cast(min(ts) as bigint), cast(max(ts) as bigint),
                   count(*)
            FROM sess GROUP BY comm, sid
        """,
    }
