"""Text analysis operators — all native Spark SQL expressions (JVM-side).

Each function returns Column expressions so they compose into any query and
stay inside whole-stage codegen; none of these need Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Small multilingual stopword seed — enough for quality heuristics.
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
    "der", "die", "das", "und", "le", "la", "les", "et", "el", "los", "y",
]

# Character-trigram profiles for deterministic lang-id: per language, its
# most characteristic trigrams (space = word boundary; single CJK chars for
# zh where trigrams don't apply). Scoring = total occurrence count across
# the profile; argmax wins, ties broken by dict order, all-zero → 'und'.
# A profile score beats the old first-marker-wins cascade because one
# accidental " le " in English text no longer flips the verdict — English
# evidence accumulates across its own ten trigrams.
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": ["the", " th", "he ", "and", " an", "ing", "ng ", " of", "of ", " to"],
    "de": ["der", "die", "und", " un", "sch", "ein", "ich", "cht", " ge", "en "],
    "fr": ["les", " le", " la", "ent", " et", "est", "que", "ion", " de", "de "],
    "es": ["el ", " el", "la ", " la", "os ", "ión", "que", " qu", " de", "de "],
    "ru": [" пр", "ого", "ени", " не", " на", "ть ", " по", "ние", "ост", "то "],
    "zh": ["的", "是", "了", "在", "和", "有", "这", "中", "人", "不"],
}


def lang_count_sql(col_sql: str, marker: str) -> str:
    """Occurrence count of `marker` in lower(col): the length-difference
    trick — identical text in Spark SQL and DuckDB."""
    s = f"lower(coalesce({col_sql}, ''))"
    return f"(length({s}) - length(replace({s}, '{marker}', ''))) / {len(marker)}"


def lang_score_sql(col_sql: str, lang: str) -> str:
    """Total trigram-profile score for one language (sum of counts)."""
    return "(" + " + ".join(lang_count_sql(col_sql, t) for t in LANG_TRIGRAMS[lang]) + ")"


def lang_pick_sql(score_cols: dict[str, str]) -> str:
    """Argmax over named score columns (ties → dict order, zero → 'und')."""
    mx = "greatest(" + ", ".join(score_cols.values()) + ")"
    whens = " ".join(
        f"when {score_cols[lang]} = {mx} then '{lang}'" for lang in LANG_TRIGRAMS
    )
    return f"(case when {mx} <= 0 then 'und' {whens} end)"


def with_lang_guess(docs: DataFrame, out_col: str = "lang_guess") -> DataFrame:
    """Trigram-profile language id of `text` as a two-Project plan: the 60
    counts are computed ONCE into per-language score columns (first
    Project), then the argmax case reads the named columns (second Project)
    — so the expensive string scans aren't re-evaluated per CASE branch.
    All native (length/replace/greatest inside codegen); the oracle twin
    uses the same generated fragments in a WITH subquery."""
    score_names = {lang: f"_lang_s_{lang}" for lang in LANG_TRIGRAMS}
    scored = docs.select(
        "*",
        *[
            F.expr(lang_score_sql("text", lang)).alias(name)
            for lang, name in score_names.items()
        ],
    )
    return scored.withColumn(out_col, F.expr(lang_pick_sql(score_names))).drop(
        *score_names.values()
    )


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/null)."""
    trimmed = F.trim(F.coalesce(text, F.lit("")))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on word/number/punct boundaries with
    a BPE-flavored regex (approximation of common tokenizer pre-splits)."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(text, F.lit("")),
            F.lit(r"([A-Za-z]+|\d+|[^\sA-Za-z\d])"),
            1,
        )
    )


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (0.0 for empty)."""
    total = F.length(F.coalesce(text, F.lit("")))
    punct = F.length(F.regexp_replace(F.coalesce(text, F.lit("")), r"[^\p{Punct}]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    toks = F.split(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+")
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(sw / n)


def quality_score(text: Column) -> Column:
    """Composite document quality in [0,1]: length band + stopword presence
    + low punctuation noise (web-pipeline heuristic, Gopher-rule flavored)."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    sw = stopword_ratio(text)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(0.3)).otherwise(F.lit(0.0))
    pr = punct_ratio(text)
    punct_ok = F.when(pr <= 0.2, F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(len_ok + sw_ok + punct_ok, 2)


def split_by_hash(docs: DataFrame, method: str = "xxhash") -> DataFrame:
    """Deterministic train/val/test assignment in a `split` column: bucket
    = pmod(xxhash64(doc_id, 42), 10000), split chosen by the cumulative
    cutoffs of the fixed 0.9/0.05/0.05 weights. Unlike rand()-based
    sampling this is a pure function of the id — stable under
    repartitioning, re-runs, and incremental appends (a doc never migrates
    between splits), which is the property a 100 TB training pipeline
    actually needs.

    method='md5' buckets on the first 16 bits of md5(cast(doc_id as
    string)) instead — slower than xxhash64 but reproducible in any engine
    with md5 (DuckDB, Trino, Postgres), so cross-engine audits and the SQL
    oracle can re-derive the exact assignment."""
    if method == "md5":
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
            ).cast("bigint")
            % 10_000
        )
    else:
        bucket = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(10_000))
    return docs.withColumn(
        "split",
        F.when(bucket < 9000, F.lit("train"))
        .when(bucket < 9500, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def training_order(docs: DataFrame, n_shards: int, method: str = "xxhash") -> DataFrame:
    """Deterministic GLOBAL training-data order without a global sort —
    the reproducible corpus shuffle an LLM training run needs (fixed data
    order across re-runs, engines, and cluster sizes, so a resumed or
    re-provisioned job consumes batches in the identical sequence).

    Adds (shard, pos): shard = doc_id-hash mod n_shards, pos = rank of the
    id's hash key within its shard (ties broken by doc_id). The global order
    is (shard, pos) — a pure function of the ID SET, independent of input
    partitioning or row arrival order. Scale shape: ONE hash exchange on
    shard + a per-shard local sort (the Window sort is within partitions;
    plan-gated — no corpus-wide range sort, no driver state), exactly the
    repartition+sortWithinPartitions layout a sharded training-data write
    wants: each shard's file is internally ordered, readers stream shards
    in index order.

    method='md5' derives key and shard from a 14-hex md5 prefix so any SQL
    engine re-derives the exact order; default xxhash64(doc_id, 42) is the
    cheap JVM path."""
    if n_shards < 1:
        raise ValueError("training_order: n_shards must be >= 1")
    if method == "md5":
        key = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 14), 16, 10
        ).cast("bigint")
    else:
        key = F.xxhash64(F.col("doc_id"), F.lit(42))
    shard = F.pmod(key, F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy(F.col("_ord_key"), F.col("doc_id"))
    return (
        docs.withColumn("_ord_key", key)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_ord_key")
    )


def canonicalize_url(url: Column) -> Column:
    """Canonical URL for exact URL-level dedup (web-crawl standard):
    lowercase scheme+host, strip fragments, default ports, tracking params
    (utm_*/fbclid/gclid), trailing '?'/'&' leftovers and trailing slash.
    Chained native regexp_replace — no UDF."""
    u = F.coalesce(url, F.lit(""))
    # lowercase scheme://host (leave path/query case alone)
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([^/]*//[^/]*)", 1)),
        F.regexp_replace(u, r"^[^/]*//[^/]*", ""),
    )
    u = F.regexp_replace(u, r"#.*$", "")                       # fragment
    # default ports: scheme-matched only (http:443 / https:80 are distinct)
    u = F.regexp_replace(u, r"^(http://[^/:]+):80(/|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:]+):443(/|$)", r"$1$2")
    tracking = r"(?:utm_[a-z]+|fbclid|gclid)=[^&#]*"
    u = F.regexp_replace(u, r"[?&]" + tracking, "")            # all occurrences
    # repair a query that lost its '?' (leading tracking params stripped
    # before a real param leave '&q=1'): first '&' with no '?' before it
    u = F.regexp_replace(u, r"^([^?&]*)&", r"$1?")
    u = F.regexp_replace(u, r"[?&]$", "")                      # dangling ? or &
    u = F.regexp_replace(u, r"(.)/\?", r"$1?")                 # slash before query
    return F.regexp_replace(u, r"(.)/$", r"$1")                # trailing slash


# HTML → text extraction (trafilatura/jusText-lite boilerplate strip) as an
# ORDERED step list shared between Spark and DuckDB, so the oracle runs the
# byte-identical chain. Patterns use the RE2-safe subset only (no backrefs,
# no lookaround — DuckDB is RE2; Spark is java.util.regex — both accept
# these). NOTE: never use \v here — Java \v is the vertical-WHITESPACE
# class (includes \n) while RE2 \v is the single vertical-tab char; \x0B
# is spelled explicitly instead.
_HTML_REGEX_STEPS: list[tuple[str, str]] = [
    (r"(?s)<!--.*?-->", " "),                         # comments
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),    # script incl. body
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),      # style incl. body
    (r"(?is)<head\b[^>]*>.*?</head\s*>", " "),        # head boilerplate
    # block-level tags become line breaks so paragraph structure survives
    (r"(?is)</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|blockquote"
     r"|section|article|header|footer|nav|pre)\b[^>]*>", "\n"),
    (r"(?s)<[^>]*>", " "),                            # any remaining tag
]
# Entities decode AFTER tag strip (decoding first would turn &lt;script&gt;
# into a live tag — the classic double-decode hole). &amp; must come last.
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&#x27;", "'"), ("&amp;", "&"),
]
_HTML_WS_STEPS: list[tuple[str, str]] = [
    (r"[\t\r\f\x0B]", " "),     # non-newline whitespace → space
    (r" {2,}", " "),            # collapse space runs
    (r" ?\n[ \n]*", "\n"),      # collapse blank lines + flanking spaces
    (r"^[ \n]+", ""),           # leading
    (r"[ \n]+$", ""),           # trailing
]


def extract_html_text(html: Column) -> Column:
    """Visible-text extraction from raw HTML (the first stage of every
    Common-Crawl-style pipeline: html:binary → text): drop comments/script/
    style/head, turn block tags into newlines, strip remaining tags, decode
    the common entities, normalize whitespace. One chained native
    regexp_replace/replace expression — whole-stage codegen, no UDF, and the
    scan that feeds it prunes to just the html column. Accepts binary or
    string input (binary is UTF-8 decoded by the cast)."""
    out = F.coalesce(html.cast("string"), F.lit(""))
    for pat, rep in _HTML_REGEX_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    for pat, rep in _HTML_WS_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def html_extract_sql(col_sql: str) -> str:
    """DuckDB twin of extract_html_text built from the SAME step lists —
    the oracle literally runs the identical chain ('g' flag spelled out;
    inline (?is) flags ride inside the patterns)."""
    def q(s: str) -> str:
        return s.replace("'", "''")

    expr = f"coalesce({col_sql}, '')"
    for pat, rep in _HTML_REGEX_STEPS:
        expr = f"regexp_replace({expr}, '{q(pat)}', '{q(rep)}', 'g')"
    for ent, ch in _HTML_ENTITIES:
        expr = f"replace({expr}, '{q(ent)}', '{q(ch)}')"
    for pat, rep in _HTML_WS_STEPS:
        expr = f"regexp_replace({expr}, '{q(pat)}', '{q(rep)}', 'g')"
    return expr


def fingerprint64(text: Column) -> Column:
    """Rolling-hash-style 64-bit document fingerprint: xxhash64 over the
    whitespace-normalized, lowercased text (stable across formatting noise)."""
    norm = F.regexp_replace(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+", " ")
    return F.xxhash64(norm)


def pack_sequences(
    docs: DataFrame, seq_len: int = 2048, bucket_count: int = 64
) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing: place every document
    (`doc_id`, `text`) into the fixed-`seq_len` training-sequence stream.

    Documents are distributed into `bucket_count` id-hash buckets (md5, the
    same engine-portable discipline as split_by_hash(method='md5'), so any
    SQL engine can re-derive the exact layout), concatenated in id order
    within each bucket, and the token stream is chunked into `seq_len`
    sequences — documents may straddle sequence boundaries, the standard
    pretraining layout. Returns per-doc placement:

      pack_bucket  — which independent packing stream the doc landed in
      n_tokens     — whitespace token count contributed
      tok_start    — exclusive prefix sum of tokens within the bucket
      seq_start    — index of the training sequence the doc starts in
      seq_offset   — token offset within that sequence
      n_seqs       — how many sequences the doc spans (0 for empty docs)

    Scale shape: ONE window prefix-sum per bucket — no global ordering, no
    driver state; parallelism = bucket_count (set ≈ cluster cores at
    100 TB, each bucket's stream is an independent shard). Placement is
    stable under append-only ingest with increasing ids: new docs extend
    each bucket's stream, existing placements never move. The no-split
    greedy variant needs a sequential per-bucket scan and is deliberately
    not offered — concat-chunk is what large-scale pretraining uses."""
    from pyspark.sql.window import Window

    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % bucket_count
    )
    n_tok = token_count(F.col("text"))
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = docs.select(
        F.col("doc_id"),
        bucket.alias("pack_bucket"),
        n_tok.alias("n_tokens"),
    ).withColumn("tok_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return placed.select(
        "doc_id",
        "pack_bucket",
        "n_tokens",
        "tok_start",
        F.floor(F.col("tok_start") / seq_len).alias("seq_start"),
        (F.col("tok_start") % seq_len).alias("seq_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(
            F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / seq_len)
            - F.floor(F.col("tok_start") / seq_len)
            + 1
        )
        .alias("n_seqs"),
    )


def document_profile(docs: DataFrame) -> DataFrame:
    """One-pass text-analysis profile of a documents table's `text`."""
    t = F.col("text")
    profiled = docs.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_subtokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
        fingerprint64(t).alias("fingerprint"),
    )
    return with_lang_guess(profiled)


def sample_to_mixture(
    docs: DataFrame, weights: dict[str, int], method: str = "xxhash"
) -> DataFrame:
    """Deterministic down-sampling to a target `lang` mixture (the
    pretraining-corpus rebalance step: "make the kept corpus w_s/W parts
    stratum s"). No upsampling: the kept corpus is
    the LARGEST one whose target shares all fit inside their strata —
    T = min_s floor(n_s*W/w_s) docs total, so the scarcest stratum is kept
    whole and the rest are hash-gated down to w_s*T/W.

    All cutoff arithmetic is bigint (`div`), so any engine re-derives the
    exact same kept set — method='md5' buckets like split_by_hash(md5) for
    cross-engine audits, default xxhash64(doc_id, 42) stays JVM-native.
    Strata absent from `weights` (weight 0) are dropped.

    Scale shape: one partial-agg count per stratum (tiny result), cutoffs
    computed on that tiny frame (min-cap cross join, broadcast), then ONE
    narrow filter pass over the corpus — no corpus shuffle, no collect.
    Output adds `mix_bucket` and `mix_cutoff` (bucket < cutoff ⇔ kept).
    """
    w_total = int(sum(weights.values()))
    if w_total <= 0:
        raise ValueError("weights must contain a positive total")
    wexpr = None
    for name, w in weights.items():
        cond = F.col("lang") == name
        lit = F.lit(int(w)).cast("bigint")
        wexpr = F.when(cond, lit) if wexpr is None else wexpr.when(cond, lit)
    wexpr = wexpr.otherwise(F.lit(0).cast("bigint"))

    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
        .withColumn("_w", wexpr)
        .filter(F.col("_w") > 0)
    )
    capped = counts.withColumn(
        "_cap", F.expr(f"(_n * {w_total}) div _w")
    )
    total = capped.agg(F.min("_cap").alias("_t"))
    cutoffs = (
        capped.crossJoin(F.broadcast(total))
        .withColumn(
            "mix_cutoff",
            F.expr(f"(_w * _t * 10000) div ({w_total} * _n)"),
        )
        .select("lang", "mix_cutoff")
    )
    if method == "md5":
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
            ).cast("bigint")
            % 10_000
        )
    else:
        bucket = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(10_000))
    return (
        docs.join(F.broadcast(cutoffs), "lang")
        .withColumn("mix_bucket", bucket)
        .filter(F.col("mix_bucket") < F.col("mix_cutoff"))
    )


def _word_bigrams(text: Column) -> Column:
    """Adjacent word-pair structs (w1, w2) over the shared shingle
    normalization; empty for docs with <2 tokens."""
    from avc_parser_spark.functions.dedup import normalized_text

    toks = F.split(normalized_text(text), " ")
    n = F.size(toks)
    # zip-of-shifted-slices, not element_at over a captured `toks`: a
    # captured outer expression re-evaluates per element (O(tokens²) per
    # doc — see word_shingles, same fix, measured 11× on the bench corpus).
    zipped = F.arrays_zip(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1))
    return F.when(n < 2, F.array()).otherwise(
        F.transform(
            zipped,
            lambda p: F.struct(
                p["0"].alias("w1"),
                p["1"].alias("w2"),
            ),
        )
    )


def build_ngram_lm(ref_docs: DataFrame, top_k: int = 50_000) -> dict[str, DataFrame]:
    """Bigram language model from a reference corpus's `text` — the artifact behind
    CCNet-style perplexity filtering (Wenzek et al. 2019 score CommonCrawl
    against a Wikipedia-trained KenLM; the reference repo has no analog —
    this is the corpus-curation step between lang-id and mixture sampling).

    Returns {'bigrams': (w1, w2, logp_micro), 'unigrams': (w, c),
    'total': one row (total)}. logp_micro = round(ln(c12/c1) * 1e6) stored
    as a LONG: per-bigram rounding makes every downstream aggregate a sum
    of integers — order-independent, so scores are bit-stable across
    partitionings AND re-derivable in any engine (no float-sum drift).

    100 TB shape: two hash-shuffled counts over the reference corpus, then
    a DISTRIBUTED top-k (orderBy+limit = TakeOrderedAndProject — no global
    sort partition) caps the bigram table at `top_k` rows with a
    deterministic tie-break, so the scoring-side broadcast is bounded by
    construction no matter how big the reference corpus is. Unigrams are
    vocab-bounded already.
    """
    grams = ref_docs.select(
        F.explode(_word_bigrams(F.col("text"))).alias("g")
    ).select("g.w1", "g.w2")
    # ONE corpus explode + partial-aggregated groupBy builds the bounded
    # (w1, w2, c12) count table; unigram counts and the grand total are
    # re-aggregations of IT (c12 sums to c1 over w2 by construction, and
    # to the gram total over both), not extra corpus passes — the three
    # consumers share the same exchange (ReusedExchange in the plan), so
    # the reference corpus is exploded exactly once per job instead of
    # four times (r6, guide §2.3 — aggregate before you shuffle).
    bc = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # unigram counts over w1 positions: every token but the doc-final one.
    # Consistent numerator/denominator (c12 sums to c1 over w2) is what
    # matters for a filtering score, not inclusive last-token counting.
    uni = bc.groupBy(F.col("w1").alias("w")).agg(
        F.sum("c12").cast("long").alias("c")
    )
    bi = (
        bc
        .join(uni, F.col("w1") == F.col("w"))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(F.log(F.col("c12") / F.col("c")) * 1_000_000)
            .cast("long")
            .alias("logp_micro"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(top_k)
        .drop("c12")
    )
    total = uni.groupBy().agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("total")
    )
    return {"bigrams": bi, "unigrams": uni, "total": total}


def lm_score(docs: DataFrame, lm: dict[str, DataFrame]) -> DataFrame:
    """Score docs' `text` under the bigram LM with stupid backoff: a bigram
    in the (top-k capped) LM contributes its stored logp_micro; a missing
    bigram backs off to round(ln(0.4 * c(w2) / total) * 1e6) with c=0.5 for
    out-of-vocabulary w2. Returns one row per doc with >=1 bigram:
    (doc_id, n_bigrams, n_oov, logp_micro_sum, ppl) where ppl =
    exp(-mean logprob) — the CCNet filter threshold quantity.

    100 TB shape: the LM tables are explicitly broadcast (bigrams capped
    at top_k, unigrams vocab-bounded, total one row), so the train corpus
    is ONE narrow pass — explode, two broadcast left joins, one partial-
    aggregated groupBy on doc id. Same shape as the decontamination op.
    """
    bi = F.broadcast(
        lm["bigrams"].withColumnRenamed("logp_micro", "_lp")
    )
    uni = F.broadcast(
        lm["unigrams"].select(
            F.col("w").alias("w2"), F.col("c").alias("_c2")
        )
    )
    total = F.broadcast(lm["total"])
    inst = (
        docs.select(
            F.col("doc_id").alias("_id"),
            F.explode(_word_bigrams(F.col("text"))).alias("g"),
        )
        .select("_id", "g.w1", "g.w2")
        .join(bi, ["w1", "w2"], "left")
        .join(uni, ["w2"], "left")
        .crossJoin(total)
        .select(
            "_id",
            F.when(F.col("_lp").isNull() & F.col("_c2").isNull(), 1)
            .otherwise(0)
            .alias("_oov"),
            F.coalesce(
                F.col("_lp"),
                F.round(
                    F.log(
                        F.lit(0.4)
                        * F.coalesce(F.col("_c2"), F.lit(0.5))
                        / F.col("total")
                    )
                    * 1_000_000
                ).cast("long"),
            ).alias("_lp_eff"),
        )
    )
    return (
        inst.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_oov").cast("long").alias("n_oov"),
            F.sum("_lp_eff").alias("logp_micro_sum"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "n_bigrams",
            "n_oov",
            "logp_micro_sum",
            F.round(
                F.exp(-F.col("logp_micro_sum") / 1e6 / F.col("n_bigrams")), 4
            ).alias("ppl"),
        )
    )


def gopher_quality_flags(docs: DataFrame, min_words: int = 50) -> DataFrame:
    """Gopher rule-based quality filters (Rae et al. 2021, Appendix A —
    the heuristic document screens applied before model-based filtering;
    reference repo has no analog) over `text`. Seven rules, each a
    PASS/FAIL flag plus a failure bitmask (bit i set = rule i failed):

    0 word_count     min_words <= n_words <= 100,000
    1 mean_word_len  mean word length in [3, 10] chars
    2 symbol_ratio   '#'/'…' symbols <= 0.1 per word
    3 alpha_words    >= 80% of words contain an alphabetic char
    4 stopwords      >= 2 distinct common stopwords present
    5 bullet_lines   <= 90% of lines start with a bullet
    6 ellipsis_lines <= 30% of lines end with an ellipsis

    Every threshold is evaluated with INTEGER cross-multiplication
    (10*symbols <= n_words, not float ratios), so decisions are bit-exact
    across engines and partitionings — the same trick as the integer-micro
    LM scores. All native expressions (split/filter/length arithmetic);
    no UDF, no shuffle — a pure per-row projection that runs inside
    whole-stage codegen over the 100 TB scan.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    trimmed = F.trim(t)
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    lo_toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(F.lower(trimmed), r"\s+")
    )
    lines = F.split(t, "\n")
    n_words = F.size(toks)
    n_lines = F.size(lines)
    nonspace = F.length(F.regexp_replace(t, r"\s+", ""))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    n_stop = sum(
        F.when(F.array_contains(lo_toks, s), 1).otherwise(0) for s in stops
    )
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ellline = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    flags = [
        ("word_count", (n_words >= min_words) & (n_words <= 100_000)),
        (
            "mean_word_len",
            (n_words > 0)
            & (3 * n_words <= nonspace)
            & (nonspace <= 10 * n_words),
        ),
        ("symbol_ratio", (n_words > 0) & (10 * (n_hash + n_ell) <= n_words)),
        ("alpha_words", (n_words > 0) & (10 * n_alpha >= 8 * n_words)),
        ("stopwords", n_stop >= 2),
        ("bullet_lines", 10 * n_bullet <= 9 * n_lines),
        ("ellipsis_lines", 10 * n_ellline <= 3 * n_lines),
    ]
    out = docs.withColumn("n_words", n_words)
    bitmask = F.lit(0)
    for i, (name, cond) in enumerate(flags):
        out = out.withColumn(f"pass_{name}", cond)
        bitmask = bitmask + F.when(cond, 0).otherwise(1 << i)
    return out.withColumn("gopher_bitmask", bitmask).withColumn(
        "gopher_pass", bitmask == 0
    )


def gopher_repetition_flags(docs: DataFrame) -> DataFrame:
    """Gopher repetition screens (Rae et al. 2021, Table A1 — the
    duplicate-text half of the quality battery; reference repo has no
    analog). Per doc (bit i of ``rep_bitmask`` set = rule i failed):

    0 dup_line_frac   lines whose exact text occurs >= 2x  <= 30%
    1 dup_line_chars  chars inside such duplicated lines   <= 20%
    2 top2gram_chars  chars covered by the most frequent word 2-gram
                      (count x gram length) <= 20% of text chars
    3 top3gram_chars  same, 3-gram, <= 18%
    4 top4gram_chars  same, 4-gram, <= 16%

    Most-frequent gram ties break to the lexicographically LARGEST gram
    (both engines compare (count, gram) structs field-by-field), and
    every threshold is an integer cross-multiplication — bit-exact
    across engines and partitionings. Deviation from the paper: a gram
    occurring ONCE contributes 0 coverage (a single occurrence is not
    repetition — without this, every short doc trips the 4-gram rule
    because any 4-gram exceeds 16% of a tweet-length text; Gopher never
    hits this because its word-count floor runs first).

    Scale shape: line stats are a pure per-row projection (lines lists
    are short; the O(L^2) duplicate probe stays inside codegen). Gram
    stats are ONE tagged explode -> groupBy(id,k,gram) count ->
    groupBy(id,k) max(struct) -> pivot — two partial-aggregated
    shuffles and a narrow hash join back on the id, NO window, so a
    billion-doc corpus never sorts one hot partition. Returns one row
    per doc: id + metrics + ``rep_bitmask``/``rep_pass``.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n")
    dup_lines_arr = F.filter(
        lines, lambda l: F.size(F.filter(lines, lambda m: m == l)) >= 2
    )
    trimmed = F.trim(t)
    words = F.when(
        trimmed == "", F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))
    base = docs.select(
        F.col("doc_id"),
        F.size(lines).alias("n_lines"),
        F.size(dup_lines_arr).alias("dup_lines"),
        F.aggregate(
            lines, F.lit(0), lambda acc, x: acc + F.length(x)
        ).alias("line_chars"),
        F.aggregate(
            dup_lines_arr, F.lit(0), lambda acc, x: acc + F.length(x)
        ).alias("dup_line_chars"),
        F.length(t).alias("total_chars"),
        words.alias("w"),
    )

    def _grams(k: int):
        # zip-of-shifted-slices, not slice-at-i over the captured `w`:
        # CollapseProject inlines the upstream split into a captured
        # reference, re-evaluating it per element (O(tokens²) per doc) —
        # same fix as word_shingles/_word_bigrams (r6).
        w = F.col("w")
        n = F.size(w)
        zipped = F.arrays_zip(
            *[F.slice(w, j + 1, n - (k - 1)) for j in range(k)]
        )
        return F.when(
            n >= k,
            F.transform(
                zipped,
                lambda p: F.struct(
                    F.lit(k).alias("k"),
                    F.concat_ws(
                        " ", *[p[str(j)] for j in range(k)]
                    ).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<k:int,gram:string>>"))

    tagged = base.select(
        "doc_id",
        F.explode(
            F.concat(_grams(2), _grams(3), _grams(4))
        ).alias("kg"),
    )
    # One conditional max per k inside a single groupBy(id) replaces the
    # former groupBy(id, k) + pivot pair — max over the k-filtered struct
    # stream is the same (count, gram) argmax, at one exchange instead of
    # two (r6, guide §2.4; both aggregations stay partial/map-side).
    def _cov(m: Column) -> Column:
        return F.coalesce(
            F.when(m["c"] >= 2, m["c"] * F.length(m["gram"])).otherwise(0),
            F.lit(0),
        )

    top = (
        tagged.groupBy("doc_id", "kg.k", "kg.gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            *[
                F.max(
                    F.when(F.col("k") == k, F.struct("c", "gram"))
                ).alias(f"m{k}")
                for k in (2, 3, 4)
            ]
        )
        .select(
            "doc_id",
            _cov(F.col("m2")).alias("top2_chars"),
            _cov(F.col("m3")).alias("top3_chars"),
            _cov(F.col("m4")).alias("top4_chars"),
        )
    )
    out = (
        base.drop("w")
        .join(top, on="doc_id", how="left")
        .na.fill({"top2_chars": 0, "top3_chars": 0, "top4_chars": 0})
    )
    flags = [
        10 * F.col("dup_lines") > 3 * F.col("n_lines"),
        5 * F.col("dup_line_chars") > F.col("line_chars"),
        5 * F.col("top2_chars") > F.col("total_chars"),
        50 * F.col("top3_chars") > 9 * F.col("total_chars"),
        25 * F.col("top4_chars") > 4 * F.col("total_chars"),
    ]
    bitmask = F.lit(0)
    for i, cond in enumerate(flags):
        bitmask = bitmask + F.when(cond, 1 << i).otherwise(0)
    return out.withColumn("rep_bitmask", bitmask).withColumn(
        "rep_pass", bitmask == 0
    )


def c4_line_filter(docs: DataFrame) -> DataFrame:
    """C4 line-level cleaning heuristics (Raffel et al. 2020, §2.2 —
    the webtext pass applied to Common Crawl before training T5;
    reference repo has no analog) over `text`. Line rules (a line
    SURVIVES iff all hold):

    - ends in a terminal punctuation mark (``.`` ``!`` ``?`` ``"`` ``”``
      after trailing-space trim),
    - has at least 5 whitespace words,
    - does not mention "javascript" (case-insensitive).

    Document rules (bit i of ``c4_bitmask`` set = rule i violated):

    0 ``{`` anywhere (code page),
    1 "lorem ipsum" (placeholder page),
    2 a bad word (word-boundary match over the lowercased text; C4's
      long external list is stood in for by "porn" and "xxx"),
    3 fewer than 3 SURVIVING lines (C4 drops pages with
      < 3 sentences; surviving-line count is our sentence proxy).

    ``c4_keep`` = bitmask 0; ``c4_kept_text`` = the surviving lines
    rejoined with ``\\n``. Everything is native expressions (split /
    filter / rlike / array_join) — a pure per-row projection inside
    whole-stage codegen, no UDF, no shuffle, so the pass streams over a
    100 TB scan at input bandwidth. NOTE: Spark's ``trim`` strips ONLY
    U+0020 — the DuckDB oracle mirrors that exactly (both engines'
    default ``trim`` is space-only).
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n")

    def _line_ok(l):  # noqa: E741 - single-param HOF lambda (arity trap)
        l2 = F.trim(l)
        return (
            l2.rlike('[.!?"”]$')
            & (F.size(F.split(l2, r"\s+")) >= 5)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, _line_ok)
    lo = F.lower(t)
    flags = [
        ("brace", t.contains("{")),
        ("lorem", lo.contains("lorem ipsum")),
        ("badword", lo.rlike(r"\b(porn|xxx)\b")),
        ("short", F.size(kept) < 3),
    ]
    out = (
        docs.withColumn("n_lines", F.size(lines))
        .withColumn("n_kept_lines", F.size(kept))
        .withColumn("c4_kept_text", F.array_join(kept, "\n"))
    )
    bitmask = F.lit(0)
    for i, (name, cond) in enumerate(flags):
        out = out.withColumn(f"c4_flag_{name}", cond)
        bitmask = bitmask + F.when(cond, 1 << i).otherwise(0)
    return out.withColumn("c4_bitmask", bitmask).withColumn(
        "c4_keep", bitmask == 0
    )


def chunk_documents(docs: DataFrame, size: int = 32, overlap: int = 8) -> DataFrame:
    """Overlapping token-window chunking (RAG indexing / long-context eval
    prep; mirrors the retrieval-side analog of the reference's block split,
    parse_avc.py ausearch block walk): each document becomes windows of
    `size` whitespace tokens advancing by stride = size - overlap, so
    consecutive chunks share `overlap` tokens of context. The last chunk is
    short rather than padded; a non-empty doc shorter than `size` yields
    exactly ONE chunk; empty/null docs yield none.

    Scale shape: fully native split → sequence → explode → slice →
    array_join. The fan-out is a Generate (no shuffle, no Python), so at
    100 TB this is a map-only pass that chains onto the scan — chunk counts
    are bounded per doc by construction, never by a collect.

    Returns (id, chunk_idx, tok_start, n_chunk_tokens, chunk_text)."""
    stride = size - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than size")
    trimmed = F.trim(F.coalesce(F.col("text"), F.lit("")))
    base = docs.select(
        F.col("doc_id"),
        F.when(trimmed == "", F.array().cast("array<string>"))
        .otherwise(F.split(trimmed, r"\s+"))
        .alias("_toks"),
    )
    n_tok = F.size(F.col("_toks"))
    # integer-exact chunk count: 1 + ceil((n - size) / stride) for n > size,
    # via `div` so the arithmetic is bigint-exact in both engines
    n_chunks = F.when(n_tok <= size, F.lit(1)).otherwise(
        F.lit(1) + F.expr(
            f"(size(_toks) - {size} + {stride - 1}) div {stride}"
        )
    )
    out = (
        base.filter(n_tok > 0)
        .select(
            F.col("doc_id"),
            F.col("_toks"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            F.col("doc_id"),
            F.col("chunk_idx"),
            (F.col("chunk_idx").cast("long") * stride).alias("tok_start"),
            F.slice(
                F.col("_toks"), F.col("chunk_idx") * stride + F.lit(1), F.lit(size)
            ).alias("_chunk"),
        )
        .select(
            F.col("doc_id"),
            "chunk_idx",
            "tok_start",
            F.size("_chunk").alias("n_chunk_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )
    return out


def chunk_sql(table: str, size: int = 32, overlap: int = 8) -> str:
    """DuckDB twin of chunk_documents over `table` — same split, same
    integer chunk-count arithmetic (`//` vs Spark `div`), same 1-based
    inclusive list slice semantics (list_slice clamps the end exactly like
    Spark's slice clamps the length)."""
    stride = size - overlap
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 (CASE WHEN trim(coalesce(text, '')) = ''
                       THEN []::varchar[]
                       ELSE regexp_split_to_array(trim(text), '\\s+')
                  END) AS arr
          FROM {table}),
        sized AS (
          SELECT doc_id, arr, len(arr) AS n,
                 (CASE WHEN len(arr) <= {size} THEN 1
                       ELSE 1 + ((len(arr) - {size} + {stride - 1}) // {stride})
                  END) AS n_chunks
          FROM toks WHERE len(arr) > 0),
        chunks AS (
          SELECT doc_id,
                 unnest(generate_series(0, n_chunks - 1)) AS chunk_idx,
                 arr
          FROM sized)
        SELECT doc_id, chunk_idx,
               (chunk_idx * {stride})::bigint AS tok_start,
               len(list_slice(arr, chunk_idx * {stride} + 1,
                              chunk_idx * {stride} + {size})) AS n_chunk_tokens,
               array_to_string(list_slice(arr, chunk_idx * {stride} + 1,
                                          chunk_idx * {stride} + {size}),
                               ' ') AS chunk_text
        FROM chunks
    """


def normalize_nfc(docs: DataFrame) -> DataFrame:
    """Unicode NFC normalization of `text` into `text_nfc` — the
    canonical-composition pass a web-crawl pipeline runs before
    hashing/dedup so that 'café' composed and 'café' decomposed (e +
    U+0301) dedup to the same key. Spark has no
    native normalizer, so this is an Arrow-batched pandas pass over
    stdlib unicodedata (sanctioned per-payload Python, same class as the
    decode loop); the DuckDB twin is nfc_normalize() (utf8proc) —
    cross-engine agreement is pinned by a pytest battery over Latin
    combining marks, Hangul jamo, and the Angstrom sign."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata as _ud

        return s.map(
            lambda t: _ud.normalize("NFC", t) if t is not None else None
        )

    return docs.withColumn("text_nfc", _nfc(F.col("text")))


def weighted_sample(docs: DataFrame, n: int, weight_col: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): keep the n docs winning an exponential race where doc i
    draws key u_i^(1/w_i) — inclusion probability proportional to weight,
    e.g. "sample 10M docs favoring high quality_score". rand()-free: u is
    derived from the 15-hex md5 slice of `doc_id` (u = (h+1)/2^60 ∈ (0,1]),
    so the sample is a pure function of (corpus, weights, n) — stable
    under repartitioning and re-runs, and re-derivable in any SQL engine
    (maximizing u^(1/w) ⇔ minimizing -ln(u)/w; -ln(u) is quantized to a
    micro-long and divided by the INTEGER weight with int64 `div`, both
    operands non-negative so every engine truncates identically).

    Weights must be positive integers (quantize upstream, micro-units are
    fine); rows with weight <= 0 or NULL are excluded. Scale shape: ONE
    narrow projection over the scan + TakeOrderedAndProject(n) — no
    shuffle, no window, every task keeps at most n candidate rows. Each
    kept row carries its race key as `sample_key`.
    """
    if n <= 0:
        raise ValueError("weighted_sample: n must be positive")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    neg_lnu_micro = F.round(
        -F.log((h + F.lit(1)) / F.lit(float(1 << 60))) * F.lit(1_000_000.0)
    ).cast("long")
    gated = (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_neglnu", neg_lnu_micro)
        .withColumn(
            "sample_key",
            F.expr(f"(_neglnu * 1000000) div cast({weight_col} as bigint)"),
        )
        .drop("_neglnu")
    )
    return gated.orderBy("sample_key", "doc_id").limit(n)


def exact_quantiles(
    docs: DataFrame,
    value_col: str,
    qs: tuple[int, ...] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """EXACT percentiles of an integer-valued column, computed the way
    that's right at 100 TB: never sort the corpus — aggregate it down to
    the per-VALUE count table first (token counts, doc lengths, etc. have
    a bounded distinct-value domain no matter how many rows the corpus
    has), then run the cumulative sum and percentile picks over that tiny
    table. One partial-agg shuffle over the scan (map-side combine does
    the heavy lifting); the ordered window runs on ≤|domain| rows, so the
    single-partition window is bounded by the value domain, not the data.

    Pinned engine-portable definition (no interpolation): the q-th
    percentile is the smallest value whose cumulative count reaches
    ceil(q·n/100), with the ceiling as integer arithmetic
    ((q·n + 99) div 100) — bit-exact in any engine. NULL values are
    excluded (and excluded from n).

    Returns (q, value, n_total) for each q in `qs` (each q an integer
    percent in 1..100).
    """
    if not qs or any(q < 1 or q > 100 for q in qs):
        raise ValueError("exact_quantiles: each q must be in 1..100")
    counts = (
        docs.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).cast("long").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = counts.select(
        "value",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    q_lit = ", ".join(f"({q})" for q in sorted(set(qs)))
    qdf = cum.sparkSession.sql(f"SELECT q FROM VALUES {q_lit} AS t(q)")
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.expr("(q * n_total + 99) div 100"))
        .groupBy(F.col("q").cast("long").alias("q"))
        .agg(
            F.min("value").alias("value"),
            F.first("n_total").alias("n_total"),
        )
    )


# Hyperlink extraction: the pinned RE2-safe subset — case-insensitive
# href, optional spaces around '=', DOUBLE-quoted value (the dominant real
# form; single-quoted/unquoted attrs are out of the pinned subset, like the
# html extractor's documented simplifications). Group 1 is the URL.
_HREF_PATTERN = r'(?i)href\s*=\s*"([^"]*)"'


def extract_links(docs: DataFrame) -> DataFrame:
    """Hyperlink extraction — the front stage that turns a crawled page
    table into the edge list graph ops consume (graph.pagerank_micro &
    co.): one native regexp_extract_all over the `html` column, exploded to
    (doc_id, href) pairs. Whole-stage codegen, no UDF; the scan feeding it
    prunes to (doc_id, html). Docs with no links vanish (edge lists don't
    carry empty rows; degree joins are left/outer downstream). Accepts
    binary or string html. Join the hrefs against the corpus's canonical
    URL column to produce (src_id, dst_id) edges."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))
    return docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(h, F.lit(_HREF_PATTERN), F.lit(1))
        ).alias("href"),
    )


def span_corrupt(docs: DataFrame, ratio_permille: int = 150) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020's denoising objective):
    mask token spans, emit `input_text` (surviving tokens with one
    <extra_id_k> sentinel where each span was) and `target_text`
    (<extra_id_k> followed by the span's tokens, spans in order) — the
    pretraining-pair generator run over the curated corpus.

    DETERMINISTIC variant (pinned, engine-portable): token i of doc d is
    masked iff md5(d || ':' || i) mod 1000 < ratio_permille — a pure
    function of (corpus, ratio), stable under repartitioning; consecutive
    masked tokens merge into one span (overlap-free by construction, and
    span length is geometric-ish like the T5 sampler's). Docs with no
    maskable tokens (or blank text) pass through with target_text = ''.

    Scale shape: ONE shuffle on the doc id (posexplode → per-doc window/
    agg); strings are rebuilt with array_sort(collect_list(struct(pos,…)))
    + array_join — no per-doc Python, no global sort. Returns
    (id, input_text, target_text, n_spans, n_masked).
    """
    if not 0 <= ratio_permille <= 1000:
        raise ValueError("span_corrupt: ratio_permille must be in 0..1000")
    trimmed = F.trim(F.coalesce(F.col("text"), F.lit("")))
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(trimmed, r"\s+")).alias("pos", "tok"),
    ).filter(F.length("tok") > 0)
    gate = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"),
                        F.col("pos").cast("string"),
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long") % 1000
        < F.lit(ratio_permille)
    )
    toks = toks.withColumn("m", gate)
    # islands of consecutive masked tokens: pos - (rank among masked) is
    # constant within a run — the classic gaps-and-islands key.
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    masked = (
        toks.filter("m")
        .withColumn("island", F.col("pos") - F.row_number().over(wdoc))
    )
    spans = masked.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("span_toks"),
        F.count(F.lit(1)).alias("span_len"),
    )
    wspan = Window.partitionBy("doc_id").orderBy("start")
    spans = spans.withColumn("k", F.row_number().over(wspan) - 1)
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">"))
    # input = unmasked tokens + one sentinel at each span's start pos
    # (start belongs to a masked token, so positions never collide)
    pieces = (
        toks.filter(~F.col("m"))
        .select("doc_id", "pos", "tok")
        .unionByName(
            spans.select(
                "doc_id", F.col("start").alias("pos"), sentinel.alias("tok")
            )
        )
    )
    inputs = pieces.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("input_text")
    )
    targets = spans.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("k", "span_toks"))
                ),
                lambda s: F.concat(
                    F.lit("<extra_id_"), s["k"], F.lit("> "), s["span_toks"]
                ),
            ),
            " ",
        ).alias("target_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("n_masked"),
    )
    return (
        docs.select("doc_id")
        .join(inputs, "doc_id", "left")
        .join(targets, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("input_text", F.lit("")).alias("input_text"),
            F.coalesce("target_text", F.lit("")).alias("target_text"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_masked", F.lit(0)).cast("long").alias("n_masked"),
        )
    )


def fim_transform(docs: DataFrame) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022 — the
    code/infilling pretraining objective): split each doc at two cut
    points into (prefix, middle, suffix) and emit the PSM layout
    `<PRE> prefix <SUF> suffix <MID> middle` for the model to complete.

    DETERMINISTIC variant (pinned): the two cuts are md5-derived character
    offsets — cut_i = md5(id ':' i) mod (len+1), lo/hi ordered — so the
    transform is a pure function of the corpus, stable under re-runs, and
    re-derivable in any SQL engine. Zero-length pieces are legal (the
    paper keeps them; models must learn empty spans). Pure native
    substring arithmetic — whole-stage codegen, no shuffle at all: the
    transform streams over the 100 TB scan. Returns (id, fim_text,
    cut_lo, cut_hi)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n = F.length(t)

    def cut(i: int) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                                  F.lit(str(i)))),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        return h % (n.cast("long") + F.lit(1))

    c1, c2 = cut(1), cut(2)
    lo, hi = F.least(c1, c2), F.greatest(c1, c2)
    # substring is 1-based; slice lengths from the 0-based cut offsets
    prefix = F.substring(t, F.lit(1), lo.cast("int"))
    middle = F.substring(t, (lo + 1).cast("int"), (hi - lo).cast("int"))
    suffix = F.substring(t, (hi + 1).cast("int"), n)
    return docs.select(
        F.col("doc_id"),
        F.concat(
            F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix,
            F.lit("<MID>"), middle,
        ).alias("fim_text"),
        lo.alias("cut_lo"),
        hi.alias("cut_hi"),
    )
