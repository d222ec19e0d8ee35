"""End-to-end corpus curation: the composed flow a training-data engineer
actually ships (reference analog: the full run lifecycle that chains parse →
dedup → group → emit in parse_avc.py:3584-4117, re-expressed as a data
pipeline over documents instead of a CLI over denials).

canonicalize_url → URL-level exact dedup → optional heuristic quality
battery (C4 line cleaning, Gopher doc + repetition screens — the FineWeb
order) → MinHash+LSH near-dup candidates → n-gram Jaccard verification →
connected-component resolution (keep cluster keepers) → train/eval n-gram
decontamination → deterministic split assignment → optional
hive-partitioned write of the surviving corpus.

Every stage is individually verified by its own query/pytest; this module
owns the COMPOSITION. Scale audit of the chain at 100 TB:

- URL dedup: one shuffle on canon_url (window min), no driver state.
- Near-dup: sketch is narrow, bucket groupBy is one bounded shuffle
  (max_bucket cap), verification joins only candidate pairs.
- Resolution: edges ≤ buckets × C(max_bucket, 2), both orientations built
  from ONE read of the verified pairs, so the lazy sketch → bucket →
  verify subtree runs once per run; O(log d) rounds.
- Decontamination: eval grams BROADCAST; clean-doc grams die map-side.
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
    pair_filter: Column | None = None,
    c4_clean: bool = False,
    gopher: bool = False,
    gopher_min_words: int = 50,
) -> DataFrame:
    """Run the full curation chain over a (doc_id, url, text, …) corpus;
    returns the SURVIVING corpus with `canon_url`, `domain` and `split`
    columns added.

    `c4_clean` / `gopher` switch on the heuristic quality battery in the
    FineWeb order — C4 line-level cleaning FIRST (it rewrites the text:
    surviving lines only, doc-screen violators dropped), then the Gopher
    doc screens and repetition screens over the CLEANED text — all before
    any sketching, so junk never reaches the expensive stages. The C4 and
    Gopher doc screens are pure per-row projections (no shuffle); the
    repetition screen costs one doc-keyed gram aggregation, with its drop
    set applied as a hits-only left_anti like every other stage.

    Near-dup pairs are verified at word-5-gram Jaccard >= 0.5.
    `pair_filter` optionally restricts which verified near-dup pairs feed
    the resolver (e.g. a demo corpus's known dup universe); production runs
    leave it None and drop on every verified pair.

    `eval_docs` (id + text of the benchmark/eval suite) enables the
    decontamination stage over word 8-grams; None skips it.
    """
    # 1. canonical URL + exact URL-level dedup: keeper = min id per canon.
    #    One shuffle (window over canon_url); at warehouse scale the corpus
    #    is typically already bucketed by url hash, making this co-located.
    w = Window.partitionBy("canon_url")
    s1 = (
        docs.withColumn("canon_url", canonicalize_url(F.col("url")))
        .withColumn(
            "domain",
            F.regexp_extract(F.col("canon_url"), r"^[a-z]+://([^/:?#]+)", 1),
        )
        .withColumn("_url_keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_url_keeper"))
        .drop("_url_keeper")
        # consumed three times (sketching, near-dup anti-join, contamination):
        # cache the url-deduped survivors instead of re-running the
        # canonicalize+window lineage per stage. MEMORY_AND_DISK spills at
        # scale; a 100 TB deployment would materialize this boundary as a
        # table (write once, read per stage) — same shape.
    )

    # 1b. heuristic quality battery (opt-in): C4 line cleaning rewrites
    #     text and drops doc-screen violators; Gopher quality screens the
    #     cleaned text; repetition screens drop via hits-only left_anti.
    if c4_clean:
        from avc_parser_spark.functions.text import c4_line_filter

        before = set(s1.columns)
        flagged = c4_line_filter(s1)
        extra = [c for c in flagged.columns if c not in before]
        s1 = (
            flagged.filter(F.col("c4_bitmask") == 0)
            .withColumn("text", F.col("c4_kept_text"))
            .drop(*extra)
        )
    if gopher:
        from avc_parser_spark.functions.text import (
            gopher_quality_flags,
            gopher_repetition_flags,
        )

        before = set(s1.columns)
        flagged = gopher_quality_flags(s1, min_words=gopher_min_words)
        extra = [c for c in flagged.columns if c not in before]
        s1 = flagged.filter(F.col("gopher_bitmask") == 0).drop(*extra)
        rep_drops = (
            gopher_repetition_flags(s1.select("doc_id", "text"))
            .filter(F.col("rep_bitmask") != 0)
            .select("doc_id")
        )
        s1 = s1.join(rep_drops, "doc_id", "left_anti")
    s1 = s1.persist()

    # 2. text near-dup: candidates → Jaccard verify → connected components →
    #    drop everything but each cluster's keeper (min id). The corpus is
    #    shingled+hashed ONCE (persisted) and shared between the MinHash
    #    sketch and the Jaccard verifier's two join sides — shingling is the
    #    expensive string pass, so never run it per consumer.
    hashed = s1.select(
        F.col("doc_id").alias("_id"),
        base_shingle_hashes(word_shingles(F.col("text"))).alias("h"),
    ).persist()
    candidates = minhash_candidates_from_hashes(hashed)
    verified = jaccard_from_hashes(hashed, candidates).filter(
        F.col("jaccard") >= 0.5
    )
    if pair_filter is not None:
        verified = verified.filter(pair_filter)
    resolved = resolve_clusters(verified)
    hashed.unpersist()  # resolve_clusters materialized the edge set
    near_dup_drops = resolved.filter(F.col("doc_id") != F.col("keeper")).select("doc_id")
    s2 = s1.join(near_dup_drops, "doc_id", "left_anti")

    # 3. decontamination: drop surviving train docs sharing any 8-gram with
    #    the (broadcast) eval suite.
    if eval_docs is not None:
        contam = contaminated_train_docs(s2, eval_docs)
        s2 = s2.join(contam.select("doc_id"), "doc_id", "left_anti")

    # 4. deterministic split assignment (md5: SQL-portable, so any engine
    #    can re-derive the exact train/val/test membership).
    return split_by_hash(s2, method="md5")


def write_curated(curated: DataFrame, path: str) -> None:
    """Materialize the surviving training corpus hive-partitioned by split,
    so downstream training jobs read split=train/ as a directory-pruned scan
    (the partition filter must show up in the scan, test-gated in
    tests/test_curation.py)."""
    curated.write.mode("overwrite").partitionBy("split").parquet(path)


def corpus_report(curated: DataFrame, lang_col: str | None = None) -> DataFrame:
    """Data-card rollup over the curated corpus: per split (× lang when
    available) doc count, total/mean text bytes, whitespace-token total,
    and distinct-domain count. One GROUPING SETS pass (split totals and
    split×lang breakdown share the scan); everything is a partial-
    aggregated exact count except n_domains (exact count_distinct —
    acceptable because domains are vocabulary-bounded; swap for
    approx_count_distinct at extreme cardinalities)."""
    from avc_parser_spark.functions.text import token_count

    keys = ["split"] + ([lang_col] if lang_col else [])
    base = curated.withColumn("_tok", token_count(F.col("text")))
    gb = (
        base.groupingSets([keys, ["split"]], *[F.col(k) for k in keys])
        if lang_col
        else base.groupBy("split")
    )
    return gb.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.octet_length(F.col("text"))).alias("text_bytes"),
        F.round(F.avg(F.octet_length(F.col("text"))), 2).alias("mean_bytes"),
        F.sum("_tok").alias("tokens"),
        (
            F.count_distinct(F.col("domain"))
            if "domain" in curated.columns
            else F.lit(None).cast("long")
        ).alias("n_domains"),
    )
