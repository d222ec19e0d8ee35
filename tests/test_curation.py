"""End-to-end corpus curation (functions/curation.py): the composed
canonicalize → dedup → resolve → decontaminate → split flow, plus the
hive-partitioned routed write (reference analog: the full main() lifecycle,
parse_avc.py:3584-4117)."""

from pyspark.sql import functions as F


def _corpus(spark):
    """12-doc micro-corpus planting every drop reason exactly once:
    - docs 0/1 share a canonical URL under different decorations → drop 1;
    - docs 2/3/4 carry identical text → near-dup cluster, keeper 2 → drop 3,4;
    - doc 5's text is lifted verbatim into the eval suite → contaminated;
    - docs 6-11 are clean survivors."""
    dup_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    lifted = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (0, "HTTPS://Site.COM/a?utm_source=x", "clean page zero body words here padd zero aa bb"),
        (1, "https://site.com/a#frag", "clean page one body words here padd one cc dd"),
        (2, "https://site.com/b", dup_text),
        (3, "https://site.com/c", dup_text),
        (4, "https://site.com/d", dup_text),
        (5, "https://site.com/e", lifted),
    ] + [
        (i, f"https://site.com/p{i}",
         f"distinct survivor document number {i} with enough unique words body {i * 7}")
        for i in range(6, 12)
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def _evals(spark):
    return spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten eleven twelve")],
        "eval_id long, text string",
    )


def test_curate_corpus_every_stage_drops(spark):
    from avc_parser_spark.functions.curation import curate_corpus

    out = curate_corpus(_corpus(spark), _evals(spark)).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    # survivors: 0 (url keeper), 2 (cluster keeper), 6..11
    assert sorted(rows) == [0, 2] + list(range(6, 12))
    assert rows[0]["canon_url"] == "https://site.com/a"
    assert all(r["split"] in ("train", "val", "test") for r in rows.values())


def test_curate_corpus_skips_optional_stages(spark):
    """eval_docs=None skips decontamination; the lifted doc then survives."""
    from avc_parser_spark.functions.curation import curate_corpus

    out = curate_corpus(_corpus(spark), None)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 5] + list(range(6, 12))


def test_curated_write_partition_prunes(spark, tmp_path):
    """write_curated materializes hive-partitioned by split; a split=train
    read must carry the predicate as PartitionFilters (directory pruning),
    and the union of partitions must round-trip the curated rows."""
    from avc_parser_spark.functions.curation import curate_corpus, write_curated

    curated = curate_corpus(_corpus(spark), _evals(spark)).select(
        "doc_id", "canon_url", "split"
    )
    path = str(tmp_path / "curated")
    write_curated(curated, path)

    back = spark.read.parquet(path)
    train = back.filter(F.col("split") == "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "split" in plan.split("PartitionFilters:")[1][:200]

    want = sorted((r["doc_id"], r["canon_url"], r["split"]) for r in curated.collect())
    got = sorted((r["doc_id"], r["canon_url"], r["split"]) for r in back.collect())
    assert got == want


def test_split_by_hash_md5_portable(spark):
    """method='md5' must re-derive in plain SQL: bucket = first 16 md5 bits
    of the id string — the property the DuckDB oracle (and any other
    engine) relies on. Spot-check against hashlib."""
    import hashlib

    from avc_parser_spark.functions.text import split_by_hash

    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    out = {r["doc_id"]: r["split"] for r in split_by_hash(docs, method="md5").collect()}
    for i in (0, 7, 42, 199):
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 10_000
        want = "train" if bucket < 9000 else ("val" if bucket < 9500 else "test")
        assert out[i] == want, (i, bucket)


def test_corpus_report_rollup(spark):
    """Data-card rollup: split totals plus split-by-lang breakdown in one
    GROUPING SETS pass; token/byte sums exact."""
    from avc_parser_spark.functions.curation import corpus_report

    df = spark.createDataFrame(
        [
            (0, "one two three", "train", "en", "a.com"),
            (1, "vier fuenf", "train", "de", "b.com"),
            (2, "six seven", "val", "en", "a.com"),
        ],
        "doc_id long, text string, split string, lang string, domain string",
    )
    rows = {
        (r["split"], r["lang"]): r
        for r in corpus_report(df, lang_col="lang").collect()
    }
    assert rows[("train", None)]["docs"] == 2
    assert rows[("train", None)]["tokens"] == 5
    assert rows[("train", None)]["n_domains"] == 2
    assert rows[("train", "en")]["docs"] == 1
    assert rows[("train", "en")]["text_bytes"] == 13
    assert rows[("val", "en")]["tokens"] == 2
    # without lang: plain per-split rollup
    plain = {r["split"]: r for r in corpus_report(df).collect()}
    assert plain["train"]["docs"] == 2 and plain["val"]["n_domains"] == 1


def test_curate_corpus_quality_battery(spark):
    """c4_clean + gopher stages (FineWeb order): the C4 doc screens drop
    code/lorem pages, a javascript line is REWRITTEN away while its doc
    survives, the Gopher screens drop a too-short page and the repetition
    screen drops a looping page — all before sketching; clean docs flow
    through to splits unchanged."""
    from avc_parser_spark.functions.curation import curate_corpus

    good = (
        "This is a perfectly ordinary opening line with enough words in it.\n"
        "Another complete thought follows and the vocabulary stays varied.\n"
        "Different phrasing closes out the paragraph quite nicely today."
    )
    js_doc = (
        "A first clean opener that is long enough to survive the filter.\n"
        "Please enable javascript to view this page now folks.\n"
        "Some second remark that also has plenty of words within it.\n"
        "One final varied statement rounds out this document rather well."
    )
    rep = ("spam ham " * 40).strip() + "."
    rows = [
        (0, "https://q.com/good", good),
        (1, "https://q.com/js", js_doc),
        (2, "https://q.com/code", "function f() { return 1; } " + good),
        (3, "https://q.com/lorem", "Lorem ipsum dolor sit amet. " + good),
        (4, "https://q.com/short", "tiny."),
        (5, "https://q.com/rep", rep),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = curate_corpus(
        docs, None, c4_clean=True, gopher=True, gopher_min_words=10
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert sorted(got) == [0, 1]
    # the js line is gone, every other line of doc 1 survives in order
    assert got[1] == "\n".join(
        line for line in js_doc.split("\n") if "javascript" not in line
    )
    assert got[0] == good
    # default-off: the battery never runs unless asked — the code/lorem/
    # short/rep pages survive it; 2 and 3 still near-dup-cluster with 0
    # (they share the `good` body), so only those drop, via dedup not C4
    base = curate_corpus(docs, None)
    assert sorted(r["doc_id"] for r in base.collect()) == [0, 1, 4, 5]
