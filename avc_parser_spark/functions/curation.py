"""End-to-end corpus curation: the composed flow a training-data engineer
actually ships (reference analog: the full run lifecycle that chains parse →
dedup → group → emit in parse_avc.py:3584-4117, re-expressed as a data
pipeline over documents instead of a CLI over denials).

canonicalize_url → URL-level exact dedup → optional domain blocklist/cap →
optional heuristic quality battery (C4 line cleaning, Gopher doc +
repetition screens — the FineWeb order) → MinHash+LSH near-dup candidates →
n-gram Jaccard verification → connected-component resolution (keep cluster
keepers) → train/eval n-gram decontamination → optional LM perplexity
filter (CCNet) → deterministic split assignment → optional hive-partitioned
write of the surviving corpus.

Every stage is individually verified by its own query/pytest; this module
owns the COMPOSITION. Scale audit of the chain at 100 TB:

- URL dedup: one shuffle on canon_url (window min), no driver state.
- Blocklist: broadcast anti-join, dies map-side; cap: one window
  shuffle on domain (the cap itself bounds what any hot domain emits).
- Near-dup: sketch is narrow, bucket groupBy is one bounded shuffle
  (max_bucket cap), verification joins only candidate pairs.
- Resolution: edges ≤ buckets × C(max_bucket, 2), both orientations built
  from ONE read of the verified pairs, so the lazy sketch → bucket →
  verify subtree runs once per run; O(log d) rounds.
- Decontamination: eval grams BROADCAST; clean-doc grams die map-side.
- LM filter: the (top-k capped) LM tables BROADCAST; scoring is one
  narrow pass + one partial-aggregated groupBy on doc id.
- Split: pure function of doc id, no shuffle.
- Drops apply as left_anti joins on the (small) drop sets, so the full
  corpus streams through exactly once per stage boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from avc_parser_spark.functions.dedup import (
    base_shingle_hashes,
    contaminated_train_docs,
    jaccard_from_hashes,
    minhash_candidates_from_hashes,
    resolve_clusters,
    word_shingles,
)
from avc_parser_spark.functions.text import canonicalize_url, split_by_hash


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    pair_filter: Column | None = None,
    contam_n: int = 8,
    blocked_domains: list[str] | None = None,
    max_per_domain: int | None = None,
    c4_clean: bool = False,
    gopher: bool = False,
    gopher_min_words: int = 50,
    lm: dict[str, DataFrame] | None = None,
    max_ppl: float | None = None,
    ranks: DataFrame | None = None,
    min_rank_micro: int | None = None,
    clf_w_micro: list[int] | None = None,
    clf_threshold_micro: int = 0,
    weights: dict[str, float] | None = None,
    split_method: str = "md5",
) -> DataFrame:
    """Run the full curation chain; returns the SURVIVING corpus with
    `canon_url`, `domain` and `split` columns added.

    `blocked_domains` drops every doc whose registered host appears in
    the (broadcast) blocklist — the C4 badlist pattern; applied FIRST
    so blocked docs never reach the expensive sketching stages.

    `max_per_domain` caps any one domain's contribution (the C4/Gopher
    anti-spam rule): the K keepers per domain are the smallest
    md5(doc_id) values — a deterministic pseudo-random sample any engine
    can re-derive, not "first K in scan order".

    `c4_clean` / `gopher` switch on the heuristic quality battery in the
    FineWeb order — C4 line-level cleaning FIRST (it rewrites the text:
    surviving lines only, doc-screen violators dropped), then the Gopher
    doc screens and repetition screens over the CLEANED text — all before
    any sketching, so junk never reaches the expensive stages. The C4 and
    Gopher doc screens are pure per-row projections (no shuffle); the
    repetition screen costs one doc-keyed gram aggregation, with its drop
    set applied as a hits-only left_anti like every other stage.

    `pair_filter` optionally restricts which verified near-dup pairs feed
    the resolver (e.g. a demo corpus's known dup universe); production runs
    leave it None and drop on every verified pair.

    `eval_docs` (id + text of the benchmark/eval suite) enables the
    decontamination stage; None skips it.

    `lm` (a build_ngram_lm result) + `max_ppl` enable the CCNet-style
    perplexity filter: surviving docs scoring ppl > max_ppl under the
    reference LM are dropped (docs too short to score — <2 tokens — are
    kept; perplexity is undefined for them, and dropping on missing
    evidence would silently bias toward long docs).

    `ranks` (a (node, rank_micro) frame from graph.pagerank_micro — vanilla
    or TrustRank-seeded) + `min_rank_micro` enable the link-graph quality
    floor: docs whose page rank falls below the floor are dropped BEFORE
    sketching (link-spam never reaches the expensive stages). Docs absent
    from the rank table are KEPT — missing link evidence is not spam
    evidence (same keep-on-missing choice as the <2-token ppl rule). The
    drop set is hits-only: only low-rank ids shuffle into the left_anti.

    `clf_w_micro` (quantized weights from classify.train_quality_classifier
    via quantize_classifier) + `clf_threshold_micro` enable the trained
    model-based filter: docs whose int64 micro-logit fails the threshold
    are dropped. The logit is a native integer projection, so unlike the
    join-based stages this one is a plain filter pushed into the scan of
    the surviving set — and, being integer-exact, any SQL engine can
    re-derive the exact kept set (classifier_logit_sql).
    """
    # 1. canonical URL + exact URL-level dedup: keeper = min id per canon.
    #    One shuffle (window over canon_url); at warehouse scale the corpus
    #    is typically already bucketed by url hash, making this co-located.
    w = Window.partitionBy("canon_url")
    s1 = (
        docs.withColumn("canon_url", canonicalize_url(F.col(url_col)))
        .withColumn(
            "domain",
            F.regexp_extract(F.col("canon_url"), r"^[a-z]+://([^/:?#]+)", 1),
        )
        .withColumn("_url_keeper", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_url_keeper"))
        .drop("_url_keeper")
        # consumed three times (sketching, near-dup anti-join, contamination):
        # cache the url-deduped survivors instead of re-running the
        # canonicalize+window lineage per stage. MEMORY_AND_DISK spills at
        # scale; a 100 TB deployment would materialize this boundary as a
        # table (write once, read per stage) — same shape.
    )

    # 1b. domain blocklist (broadcast anti-join — blocked docs die before
    #     any sketching) and per-domain cap (one window shuffle on domain;
    #     keepers = smallest md5(id) per domain, deterministic).
    if blocked_domains:
        bl = F.broadcast(
            docs.sparkSession.createDataFrame(
                [(d,) for d in blocked_domains], ["domain"]
            )
        )
        s1 = s1.join(bl, "domain", "left_anti")
    if max_per_domain is not None:
        wd = Window.partitionBy("domain").orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        )
        s1 = (
            s1.withColumn("_dom_rank", F.row_number().over(wd))
            .filter(F.col("_dom_rank") <= max_per_domain)
            .drop("_dom_rank")
        )
    # 1c. heuristic quality battery (opt-in): C4 line cleaning rewrites
    #     text and drops doc-screen violators; Gopher quality screens the
    #     cleaned text; repetition screens drop via hits-only left_anti.
    if c4_clean:
        from avc_parser_spark.functions.text import c4_line_filter

        before = set(s1.columns)
        flagged = c4_line_filter(s1, text_col=text_col)
        extra = [c for c in flagged.columns if c not in before]
        s1 = (
            flagged.filter(F.col("c4_bitmask") == 0)
            .withColumn(text_col, F.col("c4_kept_text"))
            .drop(*extra)
        )
    if gopher:
        from avc_parser_spark.functions.text import (
            gopher_quality_flags,
            gopher_repetition_flags,
        )

        before = set(s1.columns)
        flagged = gopher_quality_flags(
            s1, text_col=text_col, min_words=gopher_min_words
        )
        extra = [c for c in flagged.columns if c not in before]
        s1 = flagged.filter(F.col("gopher_bitmask") == 0).drop(*extra)
        rep_drops = (
            gopher_repetition_flags(
                s1.select(id_col, text_col), text_col=text_col, id_col=id_col
            )
            .filter(F.col("rep_bitmask") != 0)
            .select(id_col)
        )
        s1 = s1.join(rep_drops, id_col, "left_anti")
    # 1d. link-graph quality floor (opt-in): hits-only drop of low-rank
    #     pages before any sketching; absent-from-graph docs are kept.
    if ranks is not None and min_rank_micro is not None:
        rank_drops = ranks.filter(
            F.col("rank_micro") < F.lit(int(min_rank_micro))
        ).select(F.col("node").alias(id_col))
        s1 = s1.join(rank_drops, id_col, "left_anti")
    s1 = s1.persist()

    # 2. text near-dup: candidates → Jaccard verify → connected components →
    #    drop everything but each cluster's keeper (min id). The corpus is
    #    shingled+hashed ONCE (persisted) and shared between the MinHash
    #    sketch and the Jaccard verifier's two join sides — shingling is the
    #    expensive string pass, so never run it per consumer.
    hashed = s1.select(
        F.col(id_col).alias("_id"),
        base_shingle_hashes(word_shingles(F.col(text_col))).alias("h"),
    ).persist()
    candidates = minhash_candidates_from_hashes(hashed)
    verified = jaccard_from_hashes(hashed, candidates).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    if pair_filter is not None:
        verified = verified.filter(pair_filter)
    resolved = resolve_clusters(verified)
    hashed.unpersist()  # resolve_clusters materialized the edge set
    near_dup_drops = resolved.filter(F.col("doc_id") != F.col("keeper")).select(
        F.col("doc_id").alias(id_col)
    )
    s2 = s1.join(near_dup_drops, id_col, "left_anti")

    # 3. decontamination: drop surviving train docs sharing any contam_n-gram
    #    with the (broadcast) eval suite.
    if eval_docs is not None:
        contam = contaminated_train_docs(
            s2, eval_docs, n=contam_n, text_col=text_col, id_col=id_col
        )
        s2 = s2.join(contam.select(id_col), id_col, "left_anti")

    # 4. LM perplexity filter: drop surviving docs the reference LM finds
    #    implausible (ppl > max_ppl). Drop set is hits-only, applied as a
    #    left_anti like the other stages.
    if lm is not None and max_ppl is not None:
        from avc_parser_spark.functions.text import lm_score

        ppl_drops = (
            lm_score(s2, lm, text_col=text_col, id_col=id_col)
            .filter(F.col("ppl") > max_ppl)
            .select(id_col)
        )
        s2 = s2.join(ppl_drops, id_col, "left_anti")

    # 4b. trained quality classifier (model-based filter, LLaMA-style):
    #     the quantized int64 logit is a pure projection, so the gate is a
    #     native filter — no join needed, nothing but surviving rows move.
    if clf_w_micro is not None:
        from avc_parser_spark.functions.classify import classifier_logit_micro

        s2 = s2.filter(
            classifier_logit_micro(F.col(text_col), clf_w_micro)
            > F.lit(int(clf_threshold_micro))
        )

    # 5. deterministic split assignment (md5 default: SQL-portable, so any
    #    engine can re-derive the exact train/val/test membership).
    return split_by_hash(s2, weights, id_col=id_col, method=split_method)


def write_curated(
    curated: DataFrame, path: str, partition_col: str = "split"
) -> None:
    """Materialize the surviving training corpus hive-partitioned by split,
    so downstream training jobs read split=train/ as a directory-pruned scan
    (same stored-layout contract as the IVF/LSH tables: the partition filter
    must show up in the scan, test-gated in tests/test_curation.py)."""
    curated.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def write_sharded(
    curated: DataFrame,
    path: str,
    target_shard_mb: int = 256,
    text_col: str = "text",
    partition_col: str = "split",
) -> dict[str, int]:
    """Materialize the corpus hive-partitioned with CONTROLLED shard
    sizes: per partition value, measure the actual text bytes, derive
    n_shards = ceil(bytes / target), and repartition that split to
    exactly n_shards files before writing. Returns {split: n_shards}.

    Why this exists: at 100 TB, `df.write.partitionBy(...)` emits one
    file per (task × partition-value) — either thousands of tiny files
    (the small-files problem: naming, listing and open() overhead
    dominate downstream reads) or multi-GB monsters a single training
    reader must stream alone. Sizing shards from MEASURED bytes keeps
    both failure modes out. The per-split byte totals are one partial-
    aggregated groupBy (a few rows to the driver — bounded by the
    number of splits); each split then writes independently, so the
    repartition exchange is sized to that split alone.
    """
    import math

    sizes = {
        r[partition_col]: int(r["_bytes"])
        for r in curated.groupBy(partition_col)
        .agg(F.sum(F.octet_length(F.col(text_col))).alias("_bytes"))
        .collect()
    }
    shards: dict[str, int] = {}
    target = max(1, target_shard_mb) * 1024 * 1024
    for split_val, nbytes in sorted(sizes.items()):
        n = max(1, math.ceil(nbytes / target))
        shards[split_val] = n
        (
            curated.filter(F.col(partition_col) == split_val)
            .repartition(n)
            .write.mode("overwrite")
            .parquet(f"{path}/{partition_col}={split_val}")
        )
    return shards


def corpus_report(
    curated: DataFrame,
    text_col: str = "text",
    partition_col: str = "split",
    lang_col: str | None = None,
) -> DataFrame:
    """Data-card rollup over the curated corpus: per split (× lang when
    available) doc count, total/mean text bytes, whitespace-token total,
    and distinct-domain count. One GROUPING SETS pass (split totals and
    split×lang breakdown share the scan); everything is a partial-
    aggregated exact count except n_domains (exact count_distinct —
    acceptable because domains are vocabulary-bounded; swap for
    approx_count_distinct at extreme cardinalities)."""
    from avc_parser_spark.functions.text import token_count

    keys = [partition_col] + ([lang_col] if lang_col else [])
    base = curated.withColumn("_tok", token_count(F.col(text_col)))
    gb = (
        base.groupingSets([keys, [partition_col]], *[F.col(k) for k in keys])
        if lang_col
        else base.groupBy(partition_col)
    )
    return gb.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.octet_length(F.col(text_col))).alias("text_bytes"),
        F.round(F.avg(F.octet_length(F.col(text_col))), 2).alias("mean_bytes"),
        F.sum("_tok").alias("tokens"),
        (
            F.count_distinct(F.col("domain"))
            if "domain" in curated.columns
            else F.lit(None).cast("long")
        ).alias("n_domains"),
    )


def curate_delta(
    spark,
    delta: DataFrame,
    corpus_path: str,
    sketch_path: str,
    eval_docs: DataFrame | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    contam_n: int = 8,
    weights: dict[str, float] | None = None,
    split_method: str = "md5",
) -> DataFrame:
    """INCREMENTAL curation: clean a newly-arrived delta batch against the
    STORED curated corpus without reprocessing it — the daily-ingest shape
    of the curate_corpus capstone. The corpus is read narrowly (pruned
    columns only), never re-sketched, never shuffled:

    1. URL dedup: canonicalize the delta, keep min-id per canon_url WITHIN
       the batch, then drop deltas whose canon_url already exists in the
       store — Bloom gate (bit_or bitmap over stored canon digests, one
       narrow corpus pass with a bounded m/64-row result; a production
       deployment maintains this bitmap table incrementally) + a verify
       semi-join where the small gated maybe-set BROADCASTS against the
       store, so the store is never shuffled.
    2. Exact text dedup vs the store: exact_delta_dups (same gate+verify).
    3. Near-dup: minhash_delta_candidates probes the delta's band keys
       against the STORED sketch table (sig column never read, plan-gated
       elsewhere) — a verified cross pair always drops the DELTA side (the
       stored doc is already canonical); within-delta pairs resolve via
       the usual connected-components keeper rule.
    4. Decontamination + split assignment exactly as the batch chain —
       split_by_hash is a pure id-hash function, so delta splits are
       consistent with the store's by construction.

    Returns the SURVIVING delta (with canon_url/domain/split) ready for
    commit_delta. Every verify join keys on the (small) delta side.
    """
    from avc_parser_spark.functions.dedup import (
        bloom_gate,
        bloom_words,
        jaccard_from_hashes,
        minhash_candidates_from_hashes,
        minhash_delta_candidates,
        normalized_text,
        resolve_clusters,
    )

    corpus = spark.read.parquet(corpus_path)

    # 1. URL-level: within-batch keeper, then store-membership drop
    w = Window.partitionBy("canon_url")
    d1 = (
        delta.withColumn("canon_url", canonicalize_url(F.col(url_col)))
        .withColumn(
            "domain",
            F.regexp_extract(F.col("canon_url"), r"^[a-z]+://([^/:?#]+)", 1),
        )
        .withColumn("_k", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_k"))
        .drop("_k")
    )
    url_dig = F.md5(F.col("canon_url"))
    stored_urls = corpus.select(url_dig.alias("digest"))
    maybe = bloom_gate(
        d1.select(F.col(id_col), url_dig.alias("digest")),
        bloom_words(stored_urls),
    )
    url_hits = stored_urls.join(
        F.broadcast(maybe.select("digest").distinct()), "digest", "left_semi"
    )
    url_drops = maybe.join(F.broadcast(url_hits.distinct()), "digest",
                           "left_semi").select(id_col)
    d1 = d1.join(url_drops, id_col, "left_anti")

    # 2. exact text dedup against the store (bloom gate + verify)
    from avc_parser_spark.functions.dedup import exact_delta_dups

    text_dups = exact_delta_dups(d1, corpus, text_col=text_col, id_col=id_col)
    d2 = d1.join(text_dups.select(id_col), id_col, "left_anti").persist()

    # 3. near-dup: vs stored sketches AND within the batch
    cross = minhash_delta_candidates(spark, sketch_path, d2,
                                     text_col=text_col, id_col=id_col)
    from avc_parser_spark.functions.dedup import base_shingle_hashes, word_shingles

    cross_a = cross.select(F.col("a").alias(id_col)).distinct()
    stored_texts = corpus.join(F.broadcast(cross_a), id_col, "left_semi")
    hashed = (
        d2.select(F.col(id_col), F.col(text_col))
        .unionByName(stored_texts.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col).alias("_id"),
            base_shingle_hashes(word_shingles(F.col(text_col))).alias("h"),
        )
        .persist()
    )
    cross_verified = jaccard_from_hashes(hashed, cross).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    # stored doc always wins a cross pair → drop the delta member (b)
    cross_drops = cross_verified.select(F.col("b").alias(id_col)).distinct()
    delta_hashed = hashed.join(
        F.broadcast(cross_a.select(F.col(id_col).alias("_id"))),
        "_id", "left_anti",
    )
    within = minhash_candidates_from_hashes(delta_hashed)
    within_verified = jaccard_from_hashes(hashed, within).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    resolved = resolve_clusters(within_verified)
    within_drops = resolved.filter(F.col("doc_id") != F.col("keeper")).select(
        F.col("doc_id").alias(id_col)
    )
    d3 = (
        d2.join(cross_drops, id_col, "left_anti")
        .join(within_drops, id_col, "left_anti")
    )
    hashed.unpersist()

    # 4. decontamination (broadcast eval grams) + split
    if eval_docs is not None:
        contam = contaminated_train_docs(
            d3, eval_docs, n=contam_n, text_col=text_col, id_col=id_col
        )
        d3 = d3.join(contam.select(id_col), id_col, "left_anti")
    return split_by_hash(d3, weights, id_col=id_col, method=split_method)


def commit_delta(
    survivors: DataFrame,
    corpus_path: str,
    sketch_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append the surviving delta to the curated store: corpus rows land
    hive-partitioned by split next to the existing data; their sketches
    append to the sketch table so FUTURE deltas dedup against them — each
    document is sketched exactly once in its lifetime."""
    from avc_parser_spark.functions.dedup import write_sketch_table

    survivors.write.mode("append").partitionBy("split").parquet(corpus_path)
    write_sketch_table(
        survivors, sketch_path, mode="append", text_col=text_col, id_col=id_col
    )
