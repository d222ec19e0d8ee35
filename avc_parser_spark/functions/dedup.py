"""Deduplication operators for web-scale corpora.

Five strategies, cheapest→smartest; every one is shuffle-on-key with
map-side partial work, no driver collection:

- exact:        hash-groupBy on md5(text) — one shuffle on the digest.
- minhash LSH:  shingle → minhash sketch → band buckets → bucket join.
                The band bucket id is the shuffle key, so candidate pairs
                co-locate; no O(n²) compare.
- simhash:      64-bit sign-random-projection over token hashes; near-dups
                share simhash within small Hamming distance (bucket on
                rotated prefixes).
- ngram jaccard: exact Jaccard on shingle sets for candidate pairs.
- embedding cosine: near-dup via cosine ≥ τ on an embedding column
                (see similarity.py for the ANN machinery).

Sketch compute split: string hashing is always native (one xxhash64 per
token/shingle, JVM-side); the wide per-hash arithmetic — MinHash's
num_perms universal hashes, SimHash's 64 majority votes — runs as ONE
Arrow-batched numpy pass per sketch (measured faster than the equivalent
64-wide native expression trees, whose codegen size dominated); band/bucket
keys and all joins/verifies are native.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SHINGLE = 5
DEFAULT_PERMS = 64
DEFAULT_BANDS = 16  # 16 bands × 4 rows/band for 64 perms


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.coalesce(text, F.lit("")))), r"\s+", " ")


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup over `text`: md5 digest groupBy → clusters with ≥2
    members.

    Returns (digest, dup_count, doc_ids sorted, keeper = min doc_id)."""
    return (
        docs.select(F.md5(normalized_text(F.col("text"))).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("dup_count") >= 2)
    )


# --- Bloom-filter delta gate (operational incremental exact dedup) -------
#
# The 100 TB ingest problem: a small delta arrives and must be exact-deduped
# against a huge stored corpus. A digest semi-join shuffles the whole stored
# digest set every batch. A Bloom filter over the stored digests is tiny
# (m/8 bytes regardless of corpus size), has NO false negatives, and lets
# the delta drop its definitely-new rows in a NARROW pass — only the maybe
# fraction (true dups + fpp) reaches the verify join. Both halves stay
# fully native:
#   build: k probe positions per digest (xxhash64 salted by probe index)
#          → word_idx = pos >> 6, bit = 1 << (pos & 63)
#          → groupBy(word_idx).agg(bit_or(bit)) — partial aggregation
#          means map-side combine everywhere and the result is bounded by
#          m/64 rows (131072 at the default m = 2^23) INDEPENDENT of
#          corpus size: a broadcastable bitmap-as-table.
#   probe: k broadcast hash joins on word_idx + a shiftrightunsigned bit
#          test per probe — no shuffle of the delta at all.

BLOOM_M_BITS = 1 << 23
BLOOM_K = 5


def _bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_words(
    stored: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Distributed Bloom bitmap over `stored.digest` as a (word_idx, word)
    table — ≤ m/64 rows however large the corpus. One partial-aggregated
    shuffle; never collected."""
    pos = F.explode(F.array(*_bloom_positions(F.col("digest"), m_bits, k)))
    return (
        stored.select(pos.alias("pos"))
        .select(
            # pyspark's shiftleft/shiftrightunsigned wrappers take a
            # Python-int bit count — dynamic shifts go through F.expr
            F.expr("shiftrightunsigned(pos, 6)").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pos % 64 as int))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_gate(
    delta: DataFrame,
    words: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Keep only delta rows whose `digest` the Bloom filter says MIGHT be
    in the stored corpus (no false negatives — a true duplicate always
    survives). k broadcast joins on word_idx, bit tests native; a word_idx
    absent from the bitmap table coalesces to 0 = definitely new."""
    out = delta
    probes = _bloom_positions(F.col("digest"), m_bits, k)
    for i, pos in enumerate(probes):
        w = words.select(
            F.col("word_idx").alias(f"_bw_idx_{i}"),
            F.col("word").alias(f"_bw_word_{i}"),
        )
        out = out.withColumn(f"_bw_pos_{i}", pos).join(
            F.broadcast(w),
            F.expr(f"shiftrightunsigned(_bw_pos_{i}, 6)")
            == F.col(f"_bw_idx_{i}"),
            "left",
        )
    cond = None
    for i in range(k):
        # & 1, never % 2: a zero shift leaves the word possibly NEGATIVE
        # (bit 63 set) and negative-odd % 2 is -1 in Spark SQL
        hit = F.expr(
            f"(shiftrightunsigned(coalesce(_bw_word_{i}, cast(0 as bigint)),"
            f" cast(_bw_pos_{i} % 64 as int)) & 1) = 1"
        )
        cond = hit if cond is None else (cond & hit)
    drop = [c for i in range(k)
            for c in (f"_bw_pos_{i}", f"_bw_idx_{i}", f"_bw_word_{i}")]
    return out.filter(cond).drop(*drop)


def exact_delta_dups(
    delta: DataFrame,
    stored: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Incremental exact dedup: which delta docs already exist (by
    normalized-`text` digest) in the stored corpus? Bloom gate first
    (narrow, no delta shuffle), then a semi-join verify of the surviving
    maybe-set against the stored digests — false positives die here, so
    the result is EXACT set membership while the expensive join only ever
    sees the maybe fraction. Returns (doc_id, digest) per
    confirmed-duplicate delta doc."""
    dig = F.md5(normalized_text(F.col("text")))
    d = delta.select(F.col("doc_id"), dig.alias("digest"))
    s = stored.select(dig.alias("digest"))
    gated = bloom_gate(d, bloom_words(s, m_bits, k), m_bits, k)
    return gated.join(s.distinct(), "digest", "left_semi").select(
        "doc_id", "digest"
    )


def word_shingles(text: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """k-word shingles as an array<string> (empty-safe).

    Shape note (r6, guide §1.2 step 2): the shingle list is built by
    zipping k shifted slices of the token array and joining each zipped
    struct — NOT by indexing a captured `toks` expression inside a
    transform lambda. A lambda that captures an outer non-attribute
    expression re-evaluates it PER ELEMENT after CollapseProject inlines
    it (split+regex per shingle position ⇒ O(tokens²) per doc — measured
    8× on the 5k-doc bench corpus); the zip form evaluates the tokenizer
    O(k) times per row."""
    toks = F.split(normalized_text(text), " ")
    n = F.size(toks)
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, n - k + 1) for j in range(k)]
    )
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            zipped,
            lambda p: F.concat_ws(" ", *[p[str(j)] for j in range(k)]),
        )
    )


MERSENNE61 = (1 << 61) - 1


def _perm_params(num_perms: int) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash parameters (a_p, b_p) for MinHash."""
    import numpy as np

    rng = np.random.RandomState(42)
    a = rng.randint(1, MERSENNE61 - 1, size=num_perms, dtype="int64").tolist()
    b = rng.randint(0, MERSENNE61 - 1, size=num_perms, dtype="int64").tolist()
    return a, b


def _minhash_signatures(base_hashes, a, b, chunk_hashes: int) -> list[list[int]]:
    """MinHash signature per doc: min over its hashes h of (a_p·h + b_p) mod
    M61 in wrapping uint64 arithmetic, for every permutation p. A doc that
    is None or empty gets all zeros.

    The hashes of all docs are flattened into ONE array, and the
    (num_perms × hashes) matrix is computed in doc-aligned chunks of at most
    ``chunk_hashes`` columns (a longer doc is a chunk of its own), with
    per-doc segment minima: no per-row Python/numpy calls, and the chunk
    size never changes a signature."""
    import numpy as np

    num_perms = len(a)
    m = np.uint64(MERSENNE61)
    lens = np.fromiter(
        (0 if hs is None else len(hs) for hs in base_hashes),
        dtype=np.int64,
        count=len(base_hashes),
    )
    empty_sig = [0] * num_perms
    if int(lens.sum()) == 0:
        return [empty_sig] * len(lens)

    flat = np.concatenate(
        [np.asarray(hs, dtype=np.int64) for hs in base_hashes if hs is not None and len(hs)]
    ).astype(np.uint64)
    seg_lens = lens[lens > 0]
    starts = np.zeros(len(seg_lens), dtype=np.int64)
    np.cumsum(seg_lens[:-1], out=starts[1:])

    mins = np.empty((num_perms, len(seg_lens)), dtype=np.uint64)
    doc_lo = 0
    while doc_lo < len(seg_lens):
        doc_hi = doc_lo
        span = 0
        while doc_hi < len(seg_lens) and (
            span + seg_lens[doc_hi] <= chunk_hashes or doc_hi == doc_lo
        ):
            span += seg_lens[doc_hi]
            doc_hi += 1
        lo = starts[doc_lo]
        vals = (np.outer(a, flat[lo : lo + span]) + b[:, None]) % m
        mins[:, doc_lo:doc_hi] = np.minimum.reduceat(
            vals, (starts[doc_lo:doc_hi] - lo).astype(np.int64), axis=1
        )
        doc_lo = doc_hi

    it = iter(mins.T.astype(np.int64).tolist())
    return [next(it) if n else empty_sig for n in lens]


def minhash_signature_udf(num_perms: int = DEFAULT_PERMS):
    """Arrow-vectorized MinHash over base shingle hashes.

    Strategy: the expensive string hashing happens once, natively
    (xxhash64 per shingle); the num_perms permutations are then numpy
    matrix ops ((a_p·h + b_p) mod M, min over shingles) inside one pandas
    UDF — one Arrow round trip instead of a num_perms-wide codegen tree
    (which dominated compile+eval time in benchmarks)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    a_list, b_list = _perm_params(num_perms)
    a = np.array(a_list, dtype=np.uint64)
    b = np.array(b_list, dtype=np.uint64)

    # bound the (num_perms × chunk) uint64 work matrix to ~8 MB per Python
    # worker; chunks are doc-aligned, so the size never changes a signature
    chunk_hashes = max(1, (1 << 20) // num_perms)

    @pandas_udf("array<long>")
    def _sig(base_hashes: pd.Series) -> pd.Series:
        return pd.Series(_minhash_signatures(base_hashes, a, b, chunk_hashes))

    return _sig


def base_shingle_hashes(shingles: Column) -> Column:
    """Native 64-bit hash per shingle (the only string hashing pass)."""
    return F.transform(F.array_distinct(shingles), lambda s: F.xxhash64(s))


def _minhash_band_keys(bands: int, rows_per_band: int) -> list[Column]:
    """Band bucket ids over a `sig` array column: xxhash64 of the band's
    signature SLICE directly (native array hashing — no per-band string
    materialization, ~8× cheaper than array_join+hash on the same slices).
    Two docs share a bucket iff their band slices are equal, either way."""
    return [
        F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band), F.lit(b))
        for b in range(bands)
    ]


def minhash_lsh_candidates(
    docs: DataFrame,
    num_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 512,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs over `text`, keyed by `doc_id`.

    plan: sketch (narrow) → explode bands (narrow) → groupBy band bucket
    (ONE shuffle) → pairs within bucket.

    Pair generation within a bucket is O(|bucket|²), so buckets larger than
    `max_bucket` are DROPPED (standard at web scale: a band bucket holding
    millions of documents is boilerplate noise whose members are better
    handled by exact dedup; emitting its 10^11+ pairs would be the classic
    LSH blow-up). Pair count is therefore bounded by
    buckets × C(max_bucket, 2). Use `minhash_bucket_stats` to observe how
    many buckets/documents the cap dropped.
    Returns distinct candidate (a, b) id pairs with a < b.
    """
    hashed = docs.select(
        F.col("doc_id").alias("_id"),
        base_shingle_hashes(word_shingles(F.col("text"))).alias("h"),
    )
    return minhash_candidates_from_hashes(hashed, num_perms, bands, max_bucket)


def minhash_candidates_from_hashes(
    hashed: DataFrame,
    num_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 512,
) -> DataFrame:
    """minhash_lsh_candidates over a PRECOMPUTED (_id, h) hashed-shingle
    frame — lets callers (curate_corpus) share one shingling pass between
    the sketch and the Jaccard verifier instead of re-hashing the corpus
    per consumer."""
    rows_per_band = num_perms // bands
    sig_udf = minhash_signature_udf(num_perms)
    sketched = hashed.select("_id", sig_udf(F.col("h")).alias("sig"))
    banded = sketched.select(
        "_id",
        F.posexplode(F.array(*_minhash_band_keys(bands, rows_per_band))).alias(
            "band", "bucket"
        ),
    )
    grouped = banded.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_set("_id")).alias("members")
    ).filter(F.size("members").between(2, max_bucket))
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("members"),
                    lambda a, i: F.transform(
                        F.slice(F.col("members"), i + 2, F.size("members")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b").distinct()
    return pairs


def minhash_bucket_stats(
    docs: DataFrame,
    num_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 512,
) -> DataFrame:
    """Observability for the bucket cap: per-band bucket-size histogram plus
    how many buckets/members exceed `max_bucket` (those are dropped by
    `minhash_lsh_candidates`). One row: total/oversized bucket and member
    counts — cheap enough to log every run at scale."""
    rows_per_band = num_perms // bands
    sig_udf = minhash_signature_udf(num_perms)
    sketched = docs.select(
        F.col("doc_id").alias("_id"),
        sig_udf(base_shingle_hashes(word_shingles(F.col("text")))).alias("sig"),
    )
    banded = sketched.select(
        "_id",
        F.posexplode(F.array(*_minhash_band_keys(bands, rows_per_band))).alias(
            "band", "bucket"
        ),
    )
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    over = F.col("sz") > max_bucket
    return sizes.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum(F.when(over, 1).otherwise(0)).alias("oversized_buckets"),
        F.sum(F.when(over, F.col("sz")).otherwise(0)).alias("oversized_members"),
    )


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """n-gram Jaccard of `text` for candidate `doc_id` pairs: join shingle
    sets back on both sides (2 broadcast-or-shuffle joins), compute |∩|/|∪|
    natively.

    It intersects 64-bit shingle hashes instead of the shingle strings —
    same Jaccard up to xxhash64 collisions (~n²/2⁶⁴, negligible) at a
    fraction of the compare cost."""
    shingles = F.transform(
        F.array_distinct(word_shingles(F.col("text"), k)), lambda s: F.xxhash64(s)
    )
    sh = docs.select(F.col("doc_id").alias("_id"), shingles.alias("h"))
    return jaccard_from_hashes(sh, pairs)


def jaccard_from_hashes(hashed: DataFrame, pairs: DataFrame) -> DataFrame:
    """ngram_jaccard over a PRECOMPUTED (_id, h) shingle-set frame (shared
    with minhash_candidates_from_hashes so the corpus is shingled once)."""
    sh = hashed
    return (
        pairs.join(sh.withColumnRenamed("_id", "a").withColumnRenamed("h", "sh_a"), "a")
        .join(sh.withColumnRenamed("_id", "b").withColumnRenamed("h", "sh_b"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def _simhash_from_hashes_udf():
    """Arrow-vectorized SimHash majority vote over precomputed token hashes.

    The string hashing stays native (one xxhash64 per token, JVM-side); the
    64 per-bit majority votes — which previously ran as 64 separate
    `F.filter` passes over the hash array — collapse into one numpy pass:
    flatten every doc's hashes, unpack to a (tokens × 64) bit matrix, segment
    sum per document (reduceat), majority-compare against the token count,
    repack to int64. Semantics identical to the per-bit filter formulation
    (vote: sum(bit) * 2 > n_tokens)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("long")
    def _sim(hashes: pd.Series) -> pd.Series:
        n_docs = len(hashes)
        lens = np.fromiter(
            (0 if hs is None else len(hs) for hs in hashes),
            dtype=np.int64,
            count=n_docs,
        )
        out = np.zeros(n_docs, dtype=np.uint64)
        if int(lens.sum()):
            flat = np.concatenate(
                [
                    np.asarray(hs, dtype=np.int64)
                    for hs in hashes
                    if hs is not None and len(hs)
                ]
            ).astype(np.uint64)
            # bit matrix: little-endian byte view → unpackbits per byte
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )  # (tokens, 64), column b == bit b of the hash
            nz = lens > 0
            starts = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            sums = np.add.reduceat(bits, starts, axis=0)  # (docs_nz, 64)
            votes = (sums * 2) > lens[nz][:, None]
            weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))[None, :]
            out[nz] = (votes.astype(np.uint64) * weights).sum(axis=1)
        # reinterpret (not convert) as two's-complement signed 64-bit
        return pd.Series(out.view(np.int64))

    return _sim


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens: per-bit majority vote of the
    native xxhash64 token hashes (one Arrow-batched numpy vote pass)."""
    toks = F.split(normalized_text(text), " ")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_from_hashes_udf()(hashes)


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """Near-dup `doc_id` clusters via identical SimHash of `text`
    (Hamming-0 buckets). For Hamming ≤ k pairs use `simhash_pairs` (banded
    bucketing)."""
    return (
        docs.select(
            F.col("doc_id").alias("_id"), simhash64(F.col("text")).alias("simhash")
        )
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list("_id")).alias("doc_ids"),
        )
        .filter(F.col("dup_count") >= 2)
    )


def _simhash_block_keys(n_blocks: int, max_hamming: int) -> list[Column]:
    """Manku-style block-permutation bucket keys over a `simhash` column.

    Split the 64 bits into `n_blocks` near-equal disjoint blocks; for every
    combination of (n_blocks - max_hamming) blocks, emit one table key =
    xxhash64(table_id, block values…). Two hashes within Hamming ≤
    max_hamming differ in at most max_hamming blocks, so at least one
    combination avoids every differing block → they share that table's key
    exactly (recall 1). Key entropy is 64·(n_blocks-max_hamming)/n_blocks
    bits (≈32 for 6/3), so buckets stay small even at 10^12
    docs — unlike bucketing on raw (max_hamming+1)-way bands whose 16-bit
    values saturate at web scale."""
    from itertools import combinations

    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if not max_hamming < n_blocks <= 64:
        raise ValueError(f"need max_hamming < n_blocks <= 64, got {n_blocks}")

    base, rem = divmod(64, n_blocks)
    blocks = []
    lo = 0
    for b in range(n_blocks):
        w = base + (1 if b < rem else 0)
        mask = (1 << w) - 1
        blocks.append(
            F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit(mask))
        )
        lo += w
    keys = []
    for t, combo in enumerate(combinations(range(n_blocks), n_blocks - max_hamming)):
        keys.append(F.xxhash64(F.lit(t), *[blocks[b] for b in combo]))
    return keys


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup `doc_id` PAIRS whose `text` hashes lie within
    Hamming distance ≤ max_hamming.

    Manku-style block permutation (Manku, Jain & Sarma, WWW'07 — the
    Google-crawl simhash dedup design): 64 bits → max_hamming+3 disjoint
    blocks (6 for k=3); bucket once per combination of 3 blocks —
    C(6,3)=20 tables with ~32-bit keys for k=3. Pigeonhole: any pair
    within Hamming ≤ k agrees on every block of at least one combination →
    recall is exactly 1, while the ~32-bit key space keeps bucket sizes
    tractable at web scale (the old (k+1)-band scheme had 16-bit band
    values that saturate ≥10^8 docs and the cap then silently dropped all
    near-dup buckets). max_hamming=0
    degenerates to one table keyed on the full hash (exact clustering).
    Shuffle key is (table, key); candidates are verified with a native
    bit_count(xor) filter. Buckets over 512 members (all-identical
    boilerplate) are dropped like in minhash_lsh_candidates — those members
    are exact dups caught by `exact_duplicates`/Hamming-0 clustering.
    Returns (a, b, hamming) with a < b.
    """
    sh = docs.select(
        F.col("doc_id").alias("_id"), simhash64(F.col("text")).alias("simhash")
    )
    keys = _simhash_block_keys(max_hamming + 3, max_hamming)
    banded = sh.select(
        "_id", "simhash", F.posexplode(F.array(*keys)).alias("band", "val")
    )
    grouped = (
        banded.groupBy("band", "val")
        .agg(F.sort_array(F.collect_set("_id")).alias("members"))
        .filter(F.size("members").between(2, 512))
    )
    pairs = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda a, i: F.transform(
                            F.slice(F.col("members"), i + 2, F.size("members")),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    ha = sh.select(F.col("_id").alias("a"), F.col("simhash").alias("_sha"))
    hb = sh.select(F.col("_id").alias("b"), F.col("simhash").alias("_shb"))
    return (
        pairs.join(ha, "a")
        .join(hb, "b")
        .withColumn(
            "hamming", F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_bucket_stats(hashes: DataFrame) -> DataFrame:
    """Observability for `simhash_pairs`' Manku block-permutation bucketing
    at max_hamming=3 (6 blocks): bucket-size histogram over a DataFrame
    that already carries a `simhash` column (so web-scale audits can run it
    on the stored sketch without re-hashing text). One row: total buckets,
    max size, oversized bucket/member counts relative to the 512-member
    cap — the saturation signal that the old 16-bit band scheme tripped at
    ≥10^8 docs."""
    keys = _simhash_block_keys(6, 3)
    banded = hashes.select(
        F.posexplode(F.array(*keys)).alias("band", "val")
    )
    sizes = banded.groupBy("band", "val").agg(F.count(F.lit(1)).alias("sz"))
    over = F.col("sz") > 512
    return sizes.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum(F.when(over, 1).otherwise(0)).alias("oversized_buckets"),
        F.sum(F.when(over, F.col("sz")).otherwise(0)).alias("oversized_members"),
    )


def ngram_contamination(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Train/eval n-gram decontamination (the GPT-3/PaLM-style overlap
    check): for every eval document (`eval_id`, `text`), how many of its
    distinct word 8-grams appear anywhere in the training corpus's `text`.

    Scale shape: the EVAL side is small (benchmark suites), so its distinct
    n-gram set BROADCASTS and the 100 TB train corpus is scanned ONCE,
    narrow: train grams are semi-joined against the broadcast eval set
    FIRST (so the full train gram stream is never shuffled or distinct-ed),
    and only the surviving hit set — at most |eval grams| rows — is
    deduplicated and joined back. It compares the exact gram strings.

    Returns (eval_id, total_ngrams, overlap_ngrams, contaminated).
    """
    def gram_col() -> F.Column:
        return F.explode(F.array_distinct(word_shingles(F.col("text"), 8))).alias("g")

    eg = eval_docs.select(F.col("eval_id").alias("_eid"), gram_col())
    eval_gram_set = eg.select("g").distinct()
    train_grams = train.select(gram_col())
    # one narrow pass over train; output ⊆ eval grams → small from here on
    hit_grams = train_grams.join(
        F.broadcast(eval_gram_set), "g", "left_semi"
    ).distinct()

    totals = eg.groupBy(F.col("_eid").alias("eval_id")).agg(
        F.countDistinct("g").alias("total_ngrams")
    )
    hits = (
        eg.join(F.broadcast(hit_grams), "g", "left_semi")
        .groupBy(F.col("_eid").alias("eval_id"))
        .agg(F.countDistinct("g").alias("overlap_ngrams"))
    )
    return (
        totals.join(hits, "eval_id", "left")
        .withColumn("overlap_ngrams", F.coalesce("overlap_ngrams", F.lit(0)))
        .withColumn(
            "contaminated", F.col("overlap_ngrams") * 2 >= F.col("total_ngrams")
        )
    )


def contaminated_train_docs(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Per-TRAIN-doc decontamination verdict — the direction a corpus
    curation pipeline actually filters on: a train document is contaminated
    when ANY of the distinct word 8-grams of its `text` appears in the
    (small, broadcast) eval benchmark gram set. Grams are compared as
    xxhash64 values (collision odds ~|grams|²/2⁶⁴).

    Scale shape: train grams explode to (doc_id, gram) and are INNER-joined
    against the broadcast eval gram set immediately, so only hit grams —
    at most |eval grams| distinct values — survive into the per-doc count
    shuffle; grams of clean documents die map-side and never shuffle.

    Returns (doc_id, eval_hits) for contaminated train docs ONLY (absent ⇒
    clean); callers drop them with a left_anti join.
    """

    def grams() -> F.Column:
        g = F.array_distinct(word_shingles(F.col("text"), 8))
        return F.explode(F.transform(g, lambda s: F.xxhash64(s))).alias("g")

    eval_gram_set = eval_docs.select(grams()).distinct()
    return (
        train.select(F.col("doc_id"), grams())
        .join(F.broadcast(eval_gram_set), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("eval_hits"))
    )


def resolve_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve candidate near-dup (a, b) PAIRS into connected-component
    clusters: every doc in a component gets the component's min id as its
    keeper — the step that turns verified pairs (minhash/simhash/embedding paths)
    into an actionable keep/drop decision, the dedup analog of the
    reference collapsing raw denials into groups (parse_avc.py:3942-4046).

    Algorithm: iterative min-label propagation with pointer-doubling.
    label(v) starts at min(v, direct neighbors); each round every vertex
    takes the min of its own label, its neighbors' labels (edges ⋈ labels →
    groupBy), and its LABEL'S label (labels ⋈ labels — the shortcut that
    halves remaining path length every round, à la Shiloach-Vishkin /
    hash-to-min). Two shuffles per round on the vertex id; convergence in
    O(log diameter) rounds instead of O(diameter), so a cap of 25 rounds
    bounds even pathological 10^6-hop chains. Convergence is detected with a
    scalar count aggregate per round (no row data reaches the driver);
    each round's labels are localCheckpoint'ed — persist alone keeps the
    LOGICAL plan, which references the prior round 3× and grows 3^rounds
    (OOMs the planner by round ~15); checkpointing rebases the plan on the
    materialized partitions so lineage stays O(1). On a real cluster use
    `spark.sparkContext.setCheckpointDir` + `.checkpoint()` for
    executor-loss-tolerant truncation; local mode keeps blocks in memory.

    At 100 TB the edge table is orders of magnitude smaller than the corpus
    (bounded by buckets × C(max_bucket,2)); vertices not in any pair are
    their own keepers and never enter the loop.

    Returns (doc_id, keeper) for every vertex that appears in `pairs`.
    """
    # Both orientations of each pair come from ONE read of `pairs`: a union
    # of two selects under `persist` re-plans the whole lazy pair subtree
    # (MinHash UDF, bucket shuffle, verify joins) once per branch, and AQE
    # does not reuse those stages across the branches.
    a, b = F.col("a"), F.col("b")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        # pre-partition the reusable join side by the per-round join key so
        # the cached edge table never re-exchanges inside the loop (r6,
        # guide §2.4 — one exchange up front instead of one per round)
        .repartition("src")
        .persist()
    )
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nmin"))
        .select("id", F.least(F.col("id"), F.col("nmin")).alias("label"))
        # lazy: the first round's convergence count materializes it — the
        # plan is truncated (LogicalRDD) either way, one job fewer (r6)
        .localCheckpoint(eager=False)
    )

    # Per round, new_label(v) = min(label(v), neighbor labels, label's
    # label). The min is computed as ONE union-seeded aggregation over
    # three branches (self row, neighbor contributions, pointer-doubling
    # shortcut) instead of left-joining the contribution frames back onto
    # the label universe — integer mins commute, so seeding the self row
    # is bit-identical to the former least/coalesce chain at two joins
    # per round instead of three (r6, guide §2.4). The self row also
    # carries the old label (other branches carry LONG_MAX, so the min
    # recovers it), which keeps the convergence check join-free.
    long_max = (1 << 63) - 1
    for _ in range(25):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("src"), "label"), "src"
            )
            .select(
                F.col("dst").alias("id"),
                "label",
                F.lit(long_max).alias("_old"),
            )
        )
        shortcut = (
            labels.join(
                labels.select(
                    F.col("id").alias("label"), F.col("label").alias("slabel")
                ),
                "label",
            )
            .select(
                "id",
                F.col("slabel").alias("label"),
                F.lit(long_max).alias("_old"),
            )
        )
        self_rows = labels.select(
            "id", "label", F.col("label").cast("long").alias("_old")
        )
        new_labels = (
            self_rows.unionByName(nbr)
            .unionByName(shortcut)
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min("_old").alias("_old"),
            )
            .select(
                "id",
                "label",
                (F.col("label") < F.col("_old")).alias("_changed"),
            )
            # lazy checkpoint: plan truncation is immediate (LogicalRDD);
            # the convergence count right below computes AND caches the
            # partitions, so each round costs one job, not two (r6)
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("keeper")
    )


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup `vec_id` pairs whose `embedding` cosine is
    above `threshold`.

    Scale shape: sign-random-projection bucket over 4 planes is the
    EQUI-JOIN key (one shuffle on bucket), cosine is evaluated only within
    buckets — never an all-pairs cross join. Same-direction duplicates
    (scaled copies) always share every sign bit, so their recall is exactly
    1; merely-similar pairs have recall (1 - θ/π)^4. At 10^12 rows the
    bucketed table is written bucketed-by(bucket) so the join is co-located.
    """
    from avc_parser_spark.functions.similarity import (
        cosine_expr,
        lsh_project_bucket,
        make_planes,
    )

    # probe the vector width once (skip NULL vectors); empty input → empty
    # pairs frame instead of a TypeError at plan-build time
    first = (
        embeddings.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("d"))
        .head()
    )
    if first is None:
        id_type = embeddings.schema["vec_id"].dataType.simpleString()
        return embeddings.sparkSession.createDataFrame(
            [], f"a {id_type}, b {id_type}, cosine double"
        )
    planes = make_planes(int(first["d"]), 4)
    bucketed = embeddings.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        lsh_project_bucket(F.col("embedding"), planes).alias("bucket"),
    )
    a = bucketed.select("bucket", F.col("_id").alias("a"), F.col("_v").alias("va"))
    b = bucketed.select("bucket", F.col("_id").alias("b"), F.col("_v").alias("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    centroids: list[list[float]],
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): partition the `embedding`
    space with k-means, then treat within-cluster `vec_id` pairs with
    cosine >= 0.9 as semantic duplicates — catches paraphrases and re-renders
    that no lexical sketch (minhash/simhash/winnowing) can see. Reference
    repo has no analog; centroids come from train_centroids (or any
    k-means) and the pairs feed resolve_clusters like every other edge
    source.

    Scale shape: the CLUSTER id is the equi-join key — one shuffle on
    cluster, cosine evaluated only within clusters, never an all-pairs
    cross join (the paper's design premise: k is sized so clusters stay
    small). `max_cluster` is the skew stop-list: clusters above the cap
    are dropped from pairing (a mega-cluster means k is too small — at
    web scale raise k rather than pay its quadratic join).

    Returns (a, b, cosine, cluster) with a < b.
    """
    from avc_parser_spark.functions.similarity import cosine_expr, ivf_assign

    assigned = ivf_assign(embeddings, centroids).select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"), "cluster"
    )
    if max_cluster is not None:
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
        assigned = (
            assigned.join(sizes, "cluster")
            .filter(F.col("_n") <= max_cluster)
            .drop("_n")
        )
    a = assigned.select("cluster", F.col("_id").alias("a"), F.col("_v").alias("va"))
    b = assigned.select("cluster", F.col("_id").alias("b"), F.col("_v").alias("vb"))
    return (
        a.join(b, "cluster")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_expr(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= 0.9)
        .select("a", "b", F.round("cosine", 6).alias("cosine"), "cluster")
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, window: int = 4) -> DataFrame:
    """MOSS-style winnowing document fingerprints (Schleimer/Wilkerson/
    Aiken, SIGMOD'03 — rolling-hash fingerprinting): hash every byte
    k-gram of the UTF-8 normalized `text` with a polynomial rolling hash,
    then keep the minimum of each sliding window of `window` consecutive
    gram hashes. Guarantee: two documents sharing a normalized substring
    of length >= window + k - 1 bytes share at least one fingerprint, so
    fingerprint-equality joins have full recall on matches at least that
    long; expected density is ~2/(window+1) of all k-grams — a bounded,
    tunable sketch.

    The whole sketch is ONE batched-numpy pass inside a pandas UDF over
    the JVM-normalized text: the polynomial gram hashes are k vectorized
    ops over the byte array (acc = acc*B + bytes[j:j+m] for j in 0..k-1 —
    the columnar form of the Rabin rolling recurrence), then
    sliding_window_view.min + unique. Two earlier shapes measured worse:
    a native transform-of-slice window tree re-inlines through every
    downstream Generate/Exchange stage (minutes of compile+eval on 500
    docs), and native-xxhash64-grams→Arrow→numpy-window ships the full
    gram-hash array (~8 bytes per TEXT BYTE) across the Arrow boundary —
    hashing in numpy ships only the text. Docs shorter than k bytes get
    one whole-text fingerprint (note: all empty docs therefore share
    one). Returns (doc_id, fingerprints array<bigint>, n_fingerprints)."""
    normed = docs.select(
        F.col("doc_id"), normalized_text(F.col("text")).alias("_wn_t")
    )
    fp = _winnow_fp_udf(k, window)
    return normed.select(
        "doc_id", fp(F.col("_wn_t")).alias("fingerprints")
    ).withColumn("n_fingerprints", F.size("fingerprints"))


def _winnow_fp_udf(k: int, window: int):
    """Rolling-hash + window-min winnowing sketch, one Arrow round trip."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    B = np.uint64(1099511628211)  # FNV-1a prime as the polynomial base
    OFF = np.uint64(0xCBF29CE484222325)

    def _whole(b: bytes) -> int:
        # pure-Python masked ints: scalar numpy uint64 arithmetic WARNS on
        # overflow (array ops wrap silently) — see the FP-flake history
        acc = 0xCBF29CE484222325
        for c in b:
            acc = (acc * 1099511628211 + c) & 0xFFFFFFFFFFFFFFFF
        return acc - (1 << 64) if acc >= (1 << 63) else acc

    @pandas_udf("array<long>")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            b = (s or "").encode("utf-8")
            n = len(b)
            if n < k:
                out.append([_whole(b)])
                continue
            codes = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
            m = n - k + 1
            acc = np.full(m, OFF, dtype=np.uint64)
            for j in range(k):
                acc = acc * B + codes[j : j + m]
            if m < window:
                out.append(
                    [int(np.uint64(acc.min()).astype(np.int64))]
                )
                continue
            mins = np.lib.stride_tricks.sliding_window_view(
                acc, window
            ).min(axis=1)
            out.append(np.unique(mins).view(np.int64).tolist())
        return pd.Series(out)

    return _fp


def winnow_candidates_from_fps(fps: DataFrame, max_bucket: int = 512) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprint over a
    PRECOMPUTED (doc_id, fingerprints) frame (winnow_fingerprints): explode
    fingerprints → bucket docs per fingerprint (buckets over `max_bucket`
    dropped — same web-scale stop-list rationale as the LSH band cap: a
    fingerprint shared by thousands of docs is boilerplate, and keeping it
    costs C(bucket, 2) pairs) → intra-bucket pairs → distinct. The CORPUS
    crosses one shuffle (on the fingerprint key); the only other exchange
    is the pair-level distinct, which is bounded by the bucket cap.
    Callers that also verify (winnow_jaccard_from_fps) sketch the corpus
    ONCE and persist, the same one-sketch-pass pattern as
    minhash_candidates_from_hashes. Returns (a, b) with a < b."""
    exploded = fps.select(
        F.col("doc_id").alias("_id"), F.explode("fingerprints").alias("fp")
    )
    grouped = (
        exploded.groupBy("fp")
        .agg(F.sort_array(F.collect_set("_id")).alias("members"))
        .filter(F.size("members").between(2, max_bucket))
    )
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("members"),
                        lambda a, i: F.transform(
                            F.slice(F.col("members"), i + 2, F.size("members")),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def winnow_jaccard_from_fps(fps: DataFrame, pairs: DataFrame) -> DataFrame:
    """Fingerprint-set Jaccard for candidate pairs over a PRECOMPUTED
    (doc_id, fingerprints) frame (the cheap verify step: fingerprints are
    ~2/(window+1) the size of the gram sets). Broadcast NOT assumed —
    pairs join fingerprints on each side by doc_id."""
    a = fps.select(F.col("doc_id").alias("a"), F.col("fingerprints").alias("_fa"))
    b = fps.select(F.col("doc_id").alias("b"), F.col("fingerprints").alias("_fb"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .select(
            "a",
            "b",
            F.round(
                F.size(F.array_intersect("_fa", "_fb"))
                / F.size(F.array_union("_fa", "_fb")),
                6,
            ).alias("fp_jaccard"),
        )
    )


def paragraph_dedup(docs: DataFrame, keep: str = "first") -> DataFrame:
    """CCNet-style paragraph-level deduplication (reference has no analog;
    this is the web-corpus curation step between exact and near dedup:
    Wenzek et al. 2019 dedup CommonCrawl at paragraph granularity before
    any document-level pass).

    Splits each doc's `text` on blank lines ("\\n\\n"), removes duplicated
    paragraphs corpus-wide, and reassembles the surviving text in original
    order, keyed by `doc_id`:

    - keep='first': keep only the globally FIRST instance of each
      paragraph — ordered by (id, position) — so boilerplate survives
      exactly once; intra-doc repeats collapse too.
    - keep='none':  drop every paragraph that appears in >=2 DISTINCT
      docs (pure boilerplate strip; intra-doc repeats survive).

    A doc whose every paragraph was dropped disappears from the output
    (it was itself a duplicate — the CCNet behavior).

    100 TB shape: paragraph instances shuffle ONCE on md5(para) into a
    partial-aggregated min(struct(id,pos)) / count(distinct id) — a
    groupBy, NOT a window, so a billion-instance boilerplate paragraph
    map-side combines instead of sorting one hot partition; the join back
    is on the same key (no extra exchange under AQE); reassembly shuffles
    once on doc id. md5 (not xxhash64) keys keep the decision re-derivable
    in any engine for cross-system audits.
    """
    inst = docs.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.split(F.col("text"), "\n\n")).alias("pos", "para"),
    ).withColumn("ph", F.md5("para"))
    if keep == "first":
        firsts = inst.groupBy("ph").agg(
            F.min(F.struct("_id", "pos")).alias("_first")
        )
        kept = inst.join(firsts, "ph").filter(
            (F.col("_id") == F.col("_first._id"))
            & (F.col("pos") == F.col("_first.pos"))
        )
    elif keep == "none":
        counts = inst.groupBy("ph").agg(
            F.count_distinct("_id").alias("_ndocs")
        )
        kept = inst.join(counts, "ph").filter(F.col("_ndocs") == 1)
    else:
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    return kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            "\n\n",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("paragraphs_kept"),
    ).withColumnRenamed("_id", "doc_id")


def substring_dedup(docs: DataFrame, k: int = 50) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": the ExactSubstr pass that
    strips >=50-token spans repeated anywhere in the corpus; the reference
    repo has no analog — this is the corpus-curation step between
    paragraph dedup and near-dup sketching).

    Distributed reformulation of the paper's suffix-array scan: every
    k-token window is keyed by md5 of its normalized text; a window
    instance is DROPPED when the same window occurs >=2 times corpus-wide
    and this instance is not the globally first one (min packed
    (doc_id, pos) — the kept occurrence, the paper's keep-one semantics).
    A token is removed when ANY dropped window covers it, so a duplicated
    region of length L >= k vanishes wholesale from every non-canonical
    copy while the first copy survives verbatim (windows inside the region
    all collide; windows straddling its edges don't, so surrounding unique
    text is untouched).

    100 TB shape: the window stream shuffles ONCE on the window hash into
    a partial-aggregated (count, min packed-key) groupBy — a
    billion-instance boilerplate window map-side combines instead of
    sorting one hot partition; the hits join reuses that hash partitioning
    under AQE; marked positions shuffle once on doc id; reassembly is a
    native indexed array filter (no Python anywhere). The k× text blowup
    of the window explode is the price ngram_contamination already pays
    and is the honest distributed cost of exact-substring dedup (the
    paper's suffix array is a single-machine construct). md5 keys keep
    every drop decision re-derivable in other engines (paragraph_dedup
    precedent); a doc-id filter ABOVE this operator pushes into the
    instance side of the hits join but not into the global firsts
    aggregate, so "dedup these docs against the whole corpus" is the plan
    Catalyst already produces.

    Returns (doc_id, text_dedup, tokens_kept, tokens_total) for EVERY
    input doc; text_dedup is the whitespace-normalized `text`.
    """
    if k < 2:
        raise ValueError(f"window must span >=2 tokens, got k={k}")
    toks = F.split(normalized_text(F.col("text")), " ")
    base = docs.select(F.col("doc_id").alias("_id"), toks.alias("_toks"))
    n = F.size(F.col("_toks"))
    # zip-of-shifted-slices, not slice-at-j over the captured `_toks`: a
    # captured outer reference is inlined back to the split by
    # CollapseProject and re-evaluated per window (O(tokens²) per doc) —
    # same fix as word_shingles (r6).
    _zipped = F.arrays_zip(
        *[F.slice(F.col("_toks"), j + 1, n - k + 1) for j in range(k)]
    )
    windows = F.when(
        n >= k,
        F.transform(
            _zipped,
            lambda p: F.md5(
                F.concat_ws(" ", *[p[str(j)] for j in range(k)])
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    inst = base.select("_id", F.posexplode(windows).alias("pos", "wh")).withColumn(
        "_pk", F.col("_id") * F.lit(1048576) + F.col("pos")
    )
    firsts = inst.groupBy("wh").agg(
        F.count(F.lit(1)).alias("_n"), F.min("_pk").alias("_fk")
    )
    marked = (
        inst.join(firsts, "wh")
        .filter((F.col("_n") >= 2) & (F.col("_pk") != F.col("_fk")))
        .groupBy("_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("_mpos"))
    )
    out = base.join(marked, "_id", "left").withColumn(
        "_mpos", F.coalesce(F.col("_mpos"), F.array().cast("array<int>"))
    )

    def _keep_fn(span: int):
        def fn(tok, j):
            return ~F.exists(
                F.col("_mpos"), lambda p: (p <= j) & (j <= p + F.lit(span - 1))
            )

        return fn

    kept = F.filter(F.col("_toks"), _keep_fn(k))
    return out.select(
        F.col("_id").alias("doc_id"),
        F.array_join(kept, " ").alias("text_dedup"),
        F.size(kept).alias("tokens_kept"),
        F.size("_toks").alias("tokens_total"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): bounded-memory frequency
# tracking. A groupBy(term) over a 100 TB corpus shuffles a corpus-sized key
# space; the CMS counter table is ≤ depth·width rows NO MATTER the corpus —
# each partition pre-combines into at most depth·width cells, so the one
# shuffle is corpus-size-independent. Counters are sums, so per-batch
# sketches merge by re-summing the counter tables. Estimates only ever
# OVERcount (collisions add), so "estimate < threshold" prunes safely.
# md5-slice hashing (the split_by_hash convention) keeps every cell
# re-derivable in any SQL engine — the token_suite 'cms' mode pins counters
# bit-exactly against DuckDB.
# ---------------------------------------------------------------------------

CMS_WIDTH = 1 << 12
CMS_DEPTH = 4


def _cms_positions(col: Column, width: int, depth: int) -> list[Column]:
    """Row-r bucket = 8-hex md5 slice r (32-bit value) mod width —
    engine-portable: DuckDB twin is ('0x'||substr(md5(x),1+8r,8))::BIGINT
    % width. depth ≤ 4 (md5 has 32 hex chars)."""
    if depth > 4:
        raise ValueError("md5-slice CMS supports depth <= 4")
    h = F.md5(col)
    return [
        F.pmod(
            F.conv(F.substring(h, 1 + 8 * r, 8), 16, 10).cast("long"),
            F.lit(width),
        )
        for r in range(depth)
    ]


def cms_build(
    terms: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Build the sketch of the `term` column: a (r, c, cnt) counter table,
    ≤ depth·width rows. One partial-aggregated shuffle (Expand to depth
    cells per term, then map-side combine into the bounded cell space)."""
    pos = _cms_positions(F.col("term"), width, depth)
    pairs = F.explode(
        F.array(*[
            F.struct(F.lit(r).alias("r"), pos[r].alias("c"))
            for r in range(depth)
        ])
    )
    return (
        terms.select(pairs.alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.c").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    probes: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Point-frequency estimates for a bounded `term` probe set: explode each
    probe into its depth (r, c) cells, broadcast-join the (small, bounded)
    counter table, take the min across rows. cms_count ≥ true count
    always; a cell absent from the table coalesces to 0 = never seen."""
    pos = _cms_positions(F.col("term"), width, depth)
    cells = probes.select(
        F.col("term"),
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("r"), pos[r].alias("c"))
                for r in range(depth)
            ])
        ).alias("p"),
    ).select("term", F.col("p.r").alias("r"), F.col("p.c").alias("c"))
    return (
        cells.join(F.broadcast(counters), ["r", "c"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy("term")
        .agg(F.min("cnt").cast("long").alias("cms_count"))
    )


def cms_heavy_hitters(
    terms: DataFrame,
    threshold: int,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
    counters: DataFrame | None = None,
) -> DataFrame:
    """EXACT heavy hitters (every `term` with true count ≥ threshold, with
    its exact count) without ever shuffling the vocabulary — the classic
    CMS-gate + verify two-pass:

    1. the counter table (built here, or passed as `counters` — token_suite
       passes its collected table) collects to the driver (≤ depth·width
       longs, bounded by construction like the k-means means) and folds
       into ONE native `least(element_at(...))` expression, so the gate
       pass over the corpus is a pure whole-stage-codegen FILTER — no
       join, no explode, no shuffle on the 100 TB side;
    2. CMS never undercounts, so every true heavy hitter passes the gate
       (no false negatives); collision-inflated impostors survive it;
    3. the exact groupBy runs ONLY over gate survivors — occurrences of
       ≲ N/threshold + ε·N terms, partial-aggregated map-side, so the one
       shuffle is candidate-bounded, not corpus-bounded — and the final
       `count ≥ threshold` filter kills the impostors exactly.

    Returns (term, cnt, cms_count): the exact count and the (over-)estimate
    that admitted the term. Literal-table gate is for bounded sketches
    (width·depth ≤ 16384 cells); bigger sketches should pre-gate with
    cms_estimate's broadcast join instead."""
    if threshold < 1:
        raise ValueError("cms_heavy_hitters: threshold must be >= 1")
    if width * depth > 16384:
        raise ValueError(
            "cms_heavy_hitters: literal gate capped at width*depth <= 16384"
        )
    if counters is None:
        counters = cms_build(terms, width, depth)
    tables = [[0] * width for _ in range(depth)]
    for row in counters.collect():
        tables[row["r"]][row["c"]] = row["cnt"]
    pos = _cms_positions(F.col("term"), width, depth)
    # One parsed SQL literal per row instead of `width` F.lit() column
    # objects: identical array literals, but a single expression-parse
    # each — building 2048 lit() columns through py4j measured ~1.5 s of
    # pure driver time per call (r6, guide §1.2 step 2).
    cells = [
        F.element_at(
            F.expr(
                "array(" + ",".join(str(int(v)) + "L" for v in tables[r]) + ")"
            ),
            (pos[r] + 1).cast("int"),
        )
        for r in range(depth)
    ]
    est = cells[0] if depth == 1 else F.least(*cells)
    return (
        terms.filter(est >= F.lit(int(threshold)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= int(threshold))
        .withColumn("cms_count", est.cast("long"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007): bounded-memory cardinality. An exact
# COUNT(DISTINCT url) over 100 TB shuffles the full distinct key space; the
# HLL register table is <= m = 2^p rows no matter the corpus (partial max per
# partition, one corpus-size-independent shuffle), and per-batch sketches
# merge by register-wise MAX.
# Hashing is the md5-slice convention: a 60-bit value from 15 hex chars
# (positive in int64 in every engine); register index = low p bits, rho =
# leading-zero rank of the remaining B = 60-p bits derived via length(bin(w))
# — pure integer arithmetic, so the register table is bit-exact re-derivable
# in DuckDB (token_suite mode 'hll' pins it). Estimation touches only the
# <= m collected register rows (bounded driver state, like the k-means
# means); the float harmonic mean never crosses an engine boundary.
# ---------------------------------------------------------------------------

HLL_P = 12


def _hll_register_cols(col: Column, p: int) -> tuple[Column, Column]:
    """(idx, rho) for one value: idx = h & (m-1); w = h >> p over the
    remaining B = 60-p bits; rho = B - (length(bin(w)) - 1) when w > 0
    (leading-zero count + 1), else B + 1 (all-zero suffix)."""
    if not 4 <= p <= 18:
        raise ValueError("hll: p must be in [4, 18]")
    bits = 60
    h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    idx = h.bitwiseAND(F.lit((1 << p) - 1))
    w = F.shiftright(h, p)
    rho = F.when(w > 0, F.lit(bits - p) - (F.length(F.bin(w)) - F.lit(1))) \
        .otherwise(F.lit(bits - p + 1))
    return idx.cast("long"), rho.cast("long")


def hll_build(values: DataFrame, p: int = HLL_P) -> DataFrame:
    """Sketch a `term` stream into the (idx, rho) register table: rho =
    per-register MAX (partial-aggregated — each task emits <= m rows).
    Registers never hit by any value are absent (implicit 0)."""
    idx, rho = _hll_register_cols(F.col("term"), p)
    return (
        values.select(idx.alias("idx"), rho.alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").cast("long").alias("rho"))
    )


KMV_BITS = 60  # md5-slice hash domain: 15 hex chars, positive in int64


def kmv_build(values: DataFrame, k: int = 256) -> DataFrame:
    """KMV / theta sketch (Bar-Yossef et al. 2002; the DataSketches theta
    family): the k SMALLEST distinct 60-bit md5-slice hashes of a `term`
    stream, as one `h`-column table. Unlike HLL this sketch supports SET
    OPERATIONS — union, and crucially INTERSECTION estimates (overlap of
    two corpora's vocabularies/url sets) which HLL cannot express.

    Determinism: the sketch is a PURE FUNCTION of the value SET (no
    randomness, no order sensitivity — the k smallest distinct hashes are
    what they are), so the sketch TABLE itself is re-derivable in any SQL
    engine (DuckDB: SELECT DISTINCT hash ORDER BY hash LIMIT k).

    Scale shape: one Arrow-batched numpy pass (the sanctioned batched
    sketch-arithmetic class) keeps a per-batch unique-k-smallest —
    bounded memory per task — emitting ≤ k rows per batch; the global
    merge then runs distinct+TakeOrdered over that tiny candidate frame
    (≤ k · n_batches rows), never over the corpus."""
    import pandas as _pd

    from pyspark.sql.types import LongType, StructField, StructType

    h = F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long")
    hashed = values.select(h.alias("h")).filter(F.col("h").isNotNull())

    schema = StructType([StructField("h", LongType())])

    def _batch_mins(batches):
        import numpy as np

        for pdf in batches:
            arr = np.unique(pdf["h"].to_numpy())
            yield _pd.DataFrame({"h": arr[:k]})

    candidates = hashed.mapInPandas(_batch_mins, schema)
    return candidates.distinct().orderBy("h").limit(k)


def kmv_build_grouped(values: DataFrame, group_col: str, k: int = 256) -> DataFrame:
    """Per-group KMV sketches — (grp, h) with ≤ k rows per group — from
    ONE pass over the `term` stream. Because groups PARTITION the stream, any
    union of groups' sketches merges (distinct + k smallest) into exactly
    the sketch of the combined stream: one grouped pass serves per-stratum
    cardinalities AND the global/any-subset sketch (the token_suite kmv
    mode computes corpus+en+de from this single pass — measured 3
    corpus scans → 1). Same batched-numpy candidate shape as kmv_build;
    the per-group k-smallest rank runs over the tiny candidate frame."""
    import pandas as _pd

    h = F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long")
    hashed = values.select(
        F.col(group_col).cast("string").alias("grp"), h.alias("h")
    ).filter(F.col("h").isNotNull() & F.col("grp").isNotNull())

    def _batch_mins(batches):
        import numpy as np

        for pdf in batches:
            parts = []
            for g, sub in pdf.groupby("grp"):
                arr = np.unique(sub["h"].to_numpy())[:k]
                parts.append(_pd.DataFrame({"grp": g, "h": arr}))
            if parts:
                yield _pd.concat(parts, ignore_index=True)

    candidates = hashed.mapInPandas(_batch_mins, "grp string, h long")
    # k smallest distinct per group in ONE shuffle: collect_set bounds the
    # per-group state to <= k·n_batches candidate hashes (the map-side
    # pruning above), sort + slice picks the sketch — replaces the former
    # distinct + window pair (two shuffles + a sort) with one partial-
    # aggregated groupBy; identical (grp, h) row set (r6, guide §2.4).
    return (
        candidates.groupBy("grp")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_hs"))
        .select("grp", F.explode("_hs").alias("h"))
    )


def kmv_estimate(hashes: list[int], k: int = 256) -> int:
    """Distinct-count estimate from a sketch's hashes, as an INTEGER
    (bit-exact cross-engine): (k-1) · 2^60 // h_k. If the stream had fewer
    than k distinct values the sketch is exhaustive and the count is
    exact."""
    if len(hashes) < k:
        return len(hashes)
    return ((k - 1) << KMV_BITS) // max(hashes)


def kmv_intersect_estimate(ha: list[int], hb: list[int], k: int = 256) -> int:
    """|A ∩ B| estimate from two sketches' hashes (the theta-sketch rule):
    theta = the k-th smallest hash of the UNION sketch; count hashes below
    theta present in BOTH sketches; estimate = common · 2^60 // theta
    (integer, bit-exact). Exact when both streams had < k distinct
    values."""
    both = set(ha) & set(hb)
    if len(ha) < k and len(hb) < k:
        return len(both)
    theta = sorted(set(ha) | set(hb))[:k][-1]
    common = sum(1 for h in both if h <= theta)
    return (common << KMV_BITS) // theta


def hll_estimate(registers: DataFrame, p: int = HLL_P) -> float:
    """Cardinality estimate from a register table: collect the <= 2^p rows
    (bounded), apply the HLL harmonic mean with the standard small-range
    linear-counting correction. Relative error ~1.04/sqrt(2^p)."""
    import math

    m = 1 << p
    regs = {int(r["idx"]): int(r["rho"]) for r in registers.collect()}
    alpha = (
        0.673 if m == 16 else 0.697 if m == 32 else 0.709 if m == 64
        else 0.7213 / (1.0 + 1.079 / m)
    )
    denom = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    est = alpha * m * m / denom
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est
