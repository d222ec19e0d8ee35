"""Training-data-pipeline operator tests (dedup, similarity, text, media)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from avc_parser_spark.functions.dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard,
    simhash_near_dups,
)
from avc_parser_spark.functions.multimodal import extract_media_features
from avc_parser_spark.functions.similarity import brute_force_topk, lsh_topk
from avc_parser_spark.functions.text import document_profile


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat and runs away fast"),  # near dup
        (3, "completely different content about spark dataframes and shuffles"),
        (4, "der schnelle braune fuchs springt und rennt weg ganz schnell"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    dups = exact_duplicates(docs).collect()
    assert len(dups) == 1
    assert dups[0]["dup_count"] == 2
    assert dups[0]["keeper"] == 0
    assert sorted(dups[0]["doc_ids"]) == [0, 1]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = minhash_lsh_candidates(docs, num_perms=32, bands=16)
    verified = ngram_jaccard(docs, pairs, k=3).collect()
    found = {(r["a"], r["b"]): r["jaccard"] for r in verified}
    assert (0, 1) in found and found[(0, 1)] == 1.0
    assert (0, 2) in found or (1, 2) in found  # near-dup caught by some band
    for (a, b), j in found.items():
        if (a, b) in [(0, 2), (1, 2)]:
            assert 0.3 < j < 1.0


def test_minhash_lsh_bucket_cap_bounds_pairs(spark):
    """A pathological boilerplate corpus (600 identical docs) must NOT emit
    C(600,2) pairs per band: oversized buckets are dropped, so the pair
    count is bounded by buckets x C(max_bucket, 2)."""
    from avc_parser_spark.functions.dedup import minhash_bucket_stats

    n = 600
    rows = [(i, "identical boilerplate footer text repeated on every page") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_lsh_candidates(docs, num_perms=32, bands=8, max_bucket=100)
    assert capped.count() == 0  # every bucket holds all 600 docs → dropped

    stats = minhash_bucket_stats(docs, num_perms=32, bands=8, max_bucket=100).head()
    assert stats["oversized_buckets"] == 8  # one bucket per band, all over cap
    assert stats["max_bucket_size"] == n

    # raising the cap above the corpus restores the pairs
    uncapped = minhash_lsh_candidates(docs, num_perms=32, bands=8, max_bucket=1000)
    assert uncapped.count() == n * (n - 1) // 2


@pytest.mark.parametrize("matrix_cells", [1 << 20, 4 << 20])
def test_minhash_signatures_match_per_doc_reference(matrix_cells):
    """The chunked MinHash kernel equals a plain per-doc numpy MinHash (same
    wrapping uint64 arithmetic) with a num_perms × chunk work matrix of 1M
    and of 4M cells (8 MB and 32 MB): None and [] docs sign as zeros, a doc
    longer than one chunk is signed whole, and docs that straddle a chunk
    boundary are never split."""
    import numpy as np

    from avc_parser_spark.functions.dedup import (
        DEFAULT_PERMS,
        MERSENNE61,
        _minhash_signatures,
        _perm_params,
    )

    a_list, b_list = _perm_params(DEFAULT_PERMS)
    a = np.array(a_list, dtype=np.uint64)
    b = np.array(b_list, dtype=np.uint64)
    chunk = matrix_cells // DEFAULT_PERMS

    rng = np.random.default_rng(7)

    def doc(n):
        return rng.integers(-(1 << 63), (1 << 63) - 1, size=n, dtype=np.int64)

    third = chunk // 3 + 5  # three of these overrun one chunk
    base = pd.Series(
        [None, doc(3), np.array([], dtype=np.int64), doc(2 * chunk + 7), None]
        + [doc(third) for _ in range(4)]
        + [doc(1), [], doc(chunk - 2), doc(5), None]
    )

    def reference(hs):
        if hs is None or len(hs) == 0:
            return [0] * DEFAULT_PERMS
        h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        vals = (a[:, None] * h[None, :] + b[:, None]) % np.uint64(MERSENNE61)
        return vals.min(axis=1).astype(np.int64).tolist()

    got = _minhash_signatures(base, a, b, chunk)
    assert got == [reference(hs) for hs in base]


def test_embedding_near_dups_bucketed_no_cross_join(spark):
    """Scaled copies are always found (same sign bits) and the physical plan
    joins on the bucket key — no cartesian / nested-loop join."""
    from avc_parser_spark.functions.dedup import embedding_near_dups

    import random

    rnd = random.Random(7)
    base = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        if i % 4 == 0:  # plant a scaled copy (cosine exactly 1)
            rows.append((2 * i + 1, [float(1.5 * x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = embedding_near_dups(emb, threshold=0.95)
    found = {(r["a"], r["b"]) for r in out.collect()}
    for i in range(0, 40, 4):
        assert (2 * i, 2 * i + 1) in found

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dups_empty_and_null_safe(spark):
    """Empty input → empty pairs frame (no eager-job TypeError); NULL
    vectors are skipped when inferring the dimension (ADVICE r2)."""
    from avc_parser_spark.functions.dedup import embedding_near_dups

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = embedding_near_dups(empty)
    assert out.columns == ["a", "b", "cosine"]
    assert out.count() == 0

    with_null = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0]), (2, [2.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["a"], r["b"]) for r in embedding_near_dups(with_null).collect()}
    assert (1, 2) in pairs


def test_simhash_clusters_exact_dups(docs):
    clusters = simhash_near_dups(docs).collect()
    assert any(set(c["doc_ids"]) == {0, 1} for c in clusters)


def test_simhash_pairs_hamming_banding_matches_brute_force(spark):
    """Pigeonhole guarantee: banded bucketing must find EVERY pair within
    Hamming <= 3 that brute force finds (recall 1, not probabilistic)."""
    from itertools import combinations

    from avc_parser_spark.functions.dedup import simhash64, simhash_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    words = base.split()
    rows = []
    for i in range(30):
        w = list(words)
        # perturb a few words per doc so some pairs land within Hamming<=3
        for j in range(i % 4):
            w[(i + 5 * j) % len(w)] = f"tok{i}_{j}"
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    hashes = {
        r["doc_id"]: r["h"]
        for r in docs.select("doc_id", simhash64(F.col("text")).alias("h")).collect()
    }
    expected = {
        (a, b)
        for a, b in combinations(sorted(hashes), 2)
        if bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert expected, "corpus must contain at least one near-dup pair"

    got = {(r["a"], r["b"]) for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert got == expected


def test_split_by_hash_deterministic_and_proportional(spark):
    from avc_parser_spark.functions.text import split_by_hash

    docs = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    out = split_by_hash(docs).groupBy("split").count()
    counts = {r["split"]: r["count"] for r in out.collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    # determinism + stability: same id → same split, independent of subset
    first = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(docs.filter(F.col("doc_id") < 100)).collect()
    }
    again = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(docs).filter(F.col("doc_id") < 100).collect()
    }
    assert first == again


def test_canonicalize_url(spark):
    from avc_parser_spark.functions.text import canonicalize_url

    cases = [
        ("HTTP://Example.COM:80/Path/?utm_source=x&q=1#frag",
         "http://example.com/Path?q=1"),
        ("https://A.B:443/", "https://a.b"),
        ("https://a.b/x?utm_a=1&utm_b=2&c=3", "https://a.b/x?c=3"),
        ("https://a.b/x?c=3&fbclid=zzz", "https://a.b/x?c=3"),
        ("https://a.b/x?utm_only=1", "https://a.b/x"),
        ("https://a.b/p/", "https://a.b/p"),
        ("relative/path", "relative/path"),
        # 4+ leading tracking params before a real one: the stripped query
        # must get its '?' repaired, not leave a dangling '&q=1'
        ("https://a.b/x?utm_a=1&utm_b=1&utm_c=1&utm_d=1&q=1",
         "https://a.b/x?q=1"),
        # default-port strip is scheme-matched: these are DIFFERENT urls
        ("http://a.b:443/x", "http://a.b:443/x"),
        ("https://a.b:80/x", "https://a.b:80/x"),
    ]
    df = spark.createDataFrame(cases, "url string, expected string")
    rows = df.select("url", "expected",
                     canonicalize_url(F.col("url")).alias("got")).collect()
    wrong = [(r["url"], r["expected"], r["got"])
             for r in rows if r["got"] != r["expected"]]
    assert not wrong, wrong


def test_ngram_contamination(spark):
    """Decontamination: verbatim copy → fully contaminated; half-lifted text
    → partial overlap below the 50% flag threshold... and the train gram
    stream must be probed via a BROADCAST join (never shuffled whole)."""
    from avc_parser_spark.functions.dedup import ngram_contamination

    train_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train = spark.createDataFrame(
        [(0, train_text), (1, "unrelated corpus line about spark shuffles here")],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (100, train_text),  # verbatim: 8 tokens window → 3 distinct 8-grams
            (101, "one two three four five six seven eight nine ten"),  # clean
        ],
        "eval_id long, text string",
    )
    out = ngram_contamination(train, evals)
    rows = {r["eval_id"]: r for r in out.collect()}
    assert rows[100]["overlap_ngrams"] == rows[100]["total_ngrams"] == 3
    assert rows[100]["contaminated"]
    assert rows[101]["overlap_ngrams"] == 0
    assert not rows[101]["contaminated"]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_resolve_clusters_transitive_chain(spark):
    """A~B, B~C ⇒ same keeper: pure chains require label propagation across
    hops, not just direct-pair min."""
    from avc_parser_spark.functions.dedup import resolve_clusters

    # chains 0-1-2-3-4 and 10-11-12, plus an isolated pair (20,21)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "a long, b long",
    )
    got = {r["doc_id"]: r["keeper"] for r in resolve_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_resolve_clusters_reads_pairs_once(spark):
    """The edge build reads `pairs` once. A lazy pair frame (in curation: the
    MinHash UDF, bucket shuffle and Jaccard joins) must not be re-planned
    per edge orientation; an identity pandas UDF on column `a` counts the
    pair rows it sees."""
    from pyspark.sql.functions import pandas_udf

    from avc_parser_spark.functions.dedup import resolve_clusters

    rows_seen = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def counted(a: pd.Series) -> pd.Series:
        rows_seen.add(len(a))
        return a

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)],
        "a long, b long",
    ).select(counted("a").alias("a"), "b")
    got = {r["doc_id"]: r["keeper"] for r in resolve_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}
    assert rows_seen.value == 7


def test_resolve_clusters_matches_union_find(spark):
    """Random-graph convergence: min-label propagation == classic union-find
    on the same edges (deterministic seeded graph)."""
    import random

    from avc_parser_spark.functions.dedup import resolve_clusters

    rng = random.Random(7)
    n = 400
    edges = sorted(
        {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(300)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical keeper = min id in component
    comp: dict[int, list[int]] = {}
    touched = {v for e in edges for v in e}
    for v in touched:
        comp.setdefault(find(v), []).append(v)
    expected = {
        v: min(members) for members in comp.values() for v in members
    }

    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["doc_id"]: r["keeper"] for r in resolve_clusters(pairs).collect()}
    assert got == expected


def test_lang_id_trigram_accuracy(spark):
    """Mixed-language fixtures: the trigram-profile scorer must classify
    real sentences correctly — including English text containing ' le '
    (which flipped the old first-marker-wins cascade to 'fr')."""
    from avc_parser_spark.functions.text import with_lang_guess

    fixtures = [
        ("the quick brown fox and the hound are running to the top of the hill", "en"),
        ("she wanted to learn the language of the people living there", "en"),
        ("let the little lemon tree grow in the garden of the old house", "en"),
        ("der schnelle braune fuchs springt über den faulen hund und die geschichte endet", "de"),
        ("ich habe ein schönes geschenk und eine gute nachricht bekommen", "de"),
        ("les enfants de la ville sont allés à l'école et ils ont mangé du pain", "fr"),
        ("c'est une question importante que le gouvernement doit régler rapidement", "fr"),
        ("el perro de la casa es muy grande y los niños que viven allí son felices", "es"),
        ("la situación de la región es complicada y el gobierno busca una solución", "es"),
        ("это не просто слово программа работает на основе процесса обучения", "ru"),
        ("这是一个很好的例子因为它有很多中文字符在里面", "zh"),
        ("", "und"),
        ("12345 67890 #!?", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t, e) for i, (t, e) in enumerate(fixtures)],
        "doc_id long, text string, expected string",
    )
    rows = with_lang_guess(df).collect()
    wrong = [(r["text"][:40], r["expected"], r["lang_guess"])
             for r in rows if r["lang_guess"] != r["expected"]]
    assert not wrong, wrong


def test_png_roundtrip_all_filters():
    """encode→decode identity for every PNG filter type (0-4) across
    gray/RGB/RGBA — the unfiltering math is the error-prone part."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        _decode_png_pixels,
        encode_png,
    )

    rng = np.random.RandomState(11)
    for ch in (1, 3, 4):
        img = rng.randint(0, 256, size=(7, 5, ch), dtype="uint8")
        for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
            payload = encode_png(img, row_filters=filters)
            decoded = _decode_png_pixels(payload)
            assert decoded is not None, (ch, filters)
            out, och = decoded
            assert och == ch
            assert np.array_equal(out, img), (ch, filters)


def test_png_unfilter_scan_matches_reference_predictor():
    """The round-5 list-scan Average/Paeth unfilters must be byte-identical
    to a direct per-byte evaluation of the spec predictor (_png_paeth) —
    guards both sides: a matching encode/decode bug pair would slip past
    the roundtrip test alone."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        _png_paeth,
        _unfilter_avg,
        _unfilter_paeth,
    )

    rng = np.random.RandomState(5)
    for ch in (1, 3, 4):
        for width in (1, 2, 17):
            stride = width * ch
            line = rng.randint(0, 256, stride).astype(np.int32)
            prev = rng.randint(0, 256, stride).astype(np.int32)
            ref_avg = np.empty(stride, dtype=np.int32)
            ref_pae = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                la = ref_avg[x - ch] if x >= ch else 0
                ref_avg[x] = (line[x] + (la + prev[x]) // 2) % 256
                lp = ref_pae[x - ch] if x >= ch else 0
                ul = prev[x - ch] if x >= ch else 0
                ref_pae[x] = (line[x] + _png_paeth(int(lp), int(prev[x]), int(ul))) % 256
            assert np.array_equal(_unfilter_avg(line, prev, ch, stride), ref_avg)
            assert np.array_equal(_unfilter_paeth(line, prev, ch, stride), ref_pae)


def test_png_zlib_bomb_rejected():
    """Untrusted IDAT must never inflate past the IHDR-implied raw size:
    a ~1000:1 zlib bomb returns None instead of allocating gigabytes, and
    a truncated stream returns None (ADVICE r4, medium)."""
    import struct
    import zlib

    from avc_parser_spark.functions.multimodal import _PNG_SIG, _decode_png_pixels

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # 4x4 RGB → 52 raw bytes
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)
    assert _decode_png_pixels(
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    ) is None
    trunc = zlib.compress(b"\x00" * 10)
    assert _decode_png_pixels(
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", trunc) + chunk(b"IEND", b"")
    ) is None


def test_jpeg_exact_plant_subspace():
    """Flat 8×8 blocks with EVEN values at quality 50 must roundtrip
    byte-exactly (DC = 8·(v−128) divisible by q00 = 16, all AC zero) —
    the invariant the multimodal_features oracle's JPEG plants rely on."""
    import numpy as np

    from avc_parser_spark.functions.jpeg import decode_jpeg_pixels, encode_jpeg

    for v in range(8):  # the 8 actual plant images
        blocks = np.array(
            [[2 * ((7 * v + 13 * q) % 128) for q in (0, 1)],
             [2 * ((7 * v + 13 * q) % 128) for q in (2, 3)]],
            dtype=np.uint8,
        )
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        out, nc = decode_jpeg_pixels(encode_jpeg(img, quality=50))
        assert nc == 1 and np.array_equal(out, img), v


def test_jpeg_features_match_ppm_within_quantization():
    """Property: a JPEG and a P6 PPM of the SAME smooth RGB pixels produce
    close features (shared _image_features; the JPEG side differs only by
    quantization loss)."""
    import numpy as np
    import pytest

    from avc_parser_spark.functions.jpeg import encode_jpeg
    from avc_parser_spark.functions.multimodal import decode_features

    yy, xx = np.meshgrid(np.arange(24), np.arange(24), indexing="ij")
    img = np.stack(
        [40 + yy * 3, 60 + xx * 2, 90 + yy + xx], axis=2
    ).clip(0, 255).astype(np.uint8)
    ppm = b"P6\n24 24\n255\n" + img.tobytes()
    jpg = encode_jpeg(img, quality=90)
    jpg_feats, jpg_status = decode_features(jpg)
    ppm_feats, ppm_status = decode_features(ppm)
    assert jpg_status == "ok_jpeg" and ppm_status == "ok_ppm"
    assert jpg_feats == pytest.approx(ppm_feats, abs=0.01)


def test_jpeg_subsampling_and_restart_markers():
    """4:2:0 chroma subsampling and DRI/RSTn restart intervals both decode
    close to the source (smooth image, so subsampling loss is small)."""
    import numpy as np

    from avc_parser_spark.functions.jpeg import decode_jpeg_pixels, encode_jpeg

    yy, xx = np.meshgrid(np.arange(40), np.arange(48), indexing="ij")
    img = np.stack(
        [50 + yy * 2, 80 + xx, 100 + yy + xx], axis=2
    ).clip(0, 255).astype(np.uint8)
    for kwargs in (
        {"subsampling": "420"},
        {"subsampling": "422"},
        {"restart_interval": 2},
        {"subsampling": "420", "restart_interval": 3},
    ):
        out, nc = decode_jpeg_pixels(encode_jpeg(img, quality=90, **kwargs))
        assert nc == 3 and out.shape == img.shape, kwargs
        err = np.abs(out.astype(int) - img.astype(int))
        assert err.mean() < 2.0 and err.max() <= 16, (kwargs, err.max())


def test_jpeg_corrupt_rejected():
    """Corrupt/truncated/non-baseline payloads must return None (and so
    fall through to the honest stubbed_fake path), never raise."""
    import numpy as np

    from avc_parser_spark.functions.jpeg import decode_jpeg_pixels, encode_jpeg

    good = encode_jpeg(np.full((8, 8), 100, dtype=np.uint8))
    assert decode_jpeg_pixels(b"") is None
    assert decode_jpeg_pixels(b"\xff\xd8\xff\xdbjunk") is None
    assert decode_jpeg_pixels(good[:40]) is None          # truncated headers
    assert decode_jpeg_pixels(good[:-20]) is None         # truncated entropy
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2")  # SOF2 unsupported
    assert decode_jpeg_pixels(progressive) is None


def test_png_features_match_ppm():
    """Property: a PNG and a P6 PPM of the SAME RGB pixels produce identical
    features (shared _image_features; decode kernels can't drift)."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        decode_features,
        encode_png,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(6, 9, 3), dtype="uint8")
    png_feats, png_status = decode_features(encode_png(img, row_filters=[4, 2, 1]))
    ppm = b"P6\n9 6\n255\n" + img.tobytes()
    ppm_feats, ppm_status = decode_features(ppm)
    assert png_status == "ok_png" and ppm_status == "ok_ppm"
    assert png_feats == pytest.approx(ppm_feats, abs=1e-12)


def test_png_resize_nearest_neighbor():
    """_resize_png: 8×8 → 4×4 NN downsample, re-encoded and decodable, with
    exactly the pixels at the NN source coordinates."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        _decode_png_pixels,
        _resize_png,
        encode_png,
    )

    img = (np.arange(8 * 8 * 3, dtype="uint8").reshape(8, 8, 3) * 3) % 256
    small_payload = _resize_png(encode_png(img), 4)
    out, ch = _decode_png_pixels(small_payload)
    ys = (np.arange(4) * 8 // 4).clip(0, 7)
    xs = ys
    assert np.array_equal(out, img[ys][:, xs])
    # already small → same object back
    p = encode_png(img[:4, :4])
    assert _resize_png(p, 4) is p


def test_png_malformed_rejected():
    """Truncated/corrupt PNG payloads route to the stub, never raise."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        decode_features,
        encode_png,
    )

    good = encode_png(np.zeros((4, 4, 3), dtype="uint8"))
    for bad in (
        good[:20],                      # truncated inside IHDR
        good[:8],                       # signature only
        good[:45],                      # truncated mid-IDAT
        good[:33] + b"\x00" * (len(good) - 33),  # zeroed IDAT (bad zlib)
    ):
        feats, status = decode_features(bad)
        assert status == "stubbed_fake"
        assert len(feats) == 8


def test_gif_roundtrip_and_feature_parity():
    """encode→decode identity for the pure-Python GIF LZW path, and
    GIF-of-same-pixels == PGM features (shared _image_features)."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        _decode_gif_pixels,
        decode_features,
        encode_gif,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(9, 7), dtype="uint8")
    payload = encode_gif(img)
    out = _decode_gif_pixels(payload)
    assert out is not None
    assert np.array_equal(out, np.repeat(img[:, :, None], 3, axis=2))

    gif_feats, gif_status = decode_features(payload)
    pgm = b"P5\n7 9\n255\n" + img.tobytes()
    pgm_feats, pgm_status = decode_features(pgm)
    assert gif_status == "ok_gif" and pgm_status == "ok_ppm"
    assert gif_feats == pytest.approx(pgm_feats, abs=1e-12)


def test_gif_interlaced_decode():
    """Interlaced GIFs (4-pass row order) reassemble to the original."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        _decode_gif_pixels,
        encode_gif,
    )

    img = (np.arange(11 * 5, dtype="uint8").reshape(11, 5) * 4) % 256
    h = img.shape[0]
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    payload = bytearray(encode_gif(img[np.asarray(order)]))
    desc_packed = 6 + 7 + 768 + 9  # header + LSD + palette + descriptor offset
    assert payload[6 + 7 + 768] == 0x2C
    payload[desc_packed] |= 0x40  # set the interlace flag
    out = _decode_gif_pixels(bytes(payload))
    assert out is not None
    assert np.array_equal(out[:, :, 0], img)


def test_gif_resize_nearest_neighbor():
    """_resize_gif: 8×8 → 4×4 NN downsample through decode → re-encode
    (dictionary LZW), decodable, matching a direct NN index of the source;
    already-small payloads return identity (caller marks already_small)."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        _decode_gif_pixels,
        _resize_gif,
        encode_gif,
    )

    yy, xx = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    img = ((31 * yy + 7 * xx) % 256).astype("uint8")
    small_payload = _resize_gif(encode_gif(img), 4)
    out = _decode_gif_pixels(small_payload)
    assert out is not None and out.shape[:2] == (4, 4)
    ys = np.arange(4) * 8 // 4
    want = img[ys][:, ys]
    got = out.astype(np.uint16).mean(axis=2).astype(np.uint8)
    assert np.array_equal(got, want)

    p = encode_gif(img[:4, :4])
    assert _resize_gif(p, 4) is p  # identity object → already_small


def test_gif_malformed_rejected():
    import numpy as np

    from avc_parser_spark.functions.multimodal import (
        decode_features,
        encode_gif,
    )

    good = encode_gif(np.zeros((4, 4), dtype="uint8"))
    for bad in (good[:10], good[:600], b"GIF89a" + b"\x00" * 5):
        feats, status = decode_features(bad)
        assert status == "stubbed_fake"
        assert len(feats) == 8


def test_ppm_negative_dims_rejected():
    """A malformed 'P6\\n-1 4\\n255\\n' header must route to the stub, not
    produce NaN features under decode_status='ok_ppm' (ADVICE r3)."""
    from avc_parser_spark.functions.multimodal import (
        _parse_ppm_header,
        decode_features,
    )

    bad = b"P6\n-1 4\n255\n" + b"\x00" * 16
    assert _parse_ppm_header(bad) is None
    feats, status = decode_features(bad)
    assert status == "stubbed_fake"
    assert all(not math.isnan(f) for f in feats)


def test_simhash_planted_variant_distances(spark):
    """The dedup_simhash_hamming oracle bakes in the pairwise distances of
    the three planted variant texts (d(v0,v1)=0, d(v*,v2)=2). Re-derive them
    from simhash64 so drift in _SIMHASH_BASE or the hash function surfaces
    here as a named assertion, not an opaque driver hash mismatch."""
    import __spark_entry__ as em
    from avc_parser_spark.functions.dedup import simhash64

    variants = [em._SIMHASH_BASE * 3 + f"tail variant {v}" for v in range(3)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(variants)], "vid int, text string"
    )
    hashes = {
        r["vid"]: r["h"]
        for r in df.select("vid", simhash64(F.col("text")).alias("h")).collect()
    }

    def ham(a: int, b: int) -> int:
        return bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1")

    assert ham(0, 1) == 0
    assert ham(0, 2) == 2
    assert ham(1, 2) == 2


def test_ann_query_vec_guard_empty_table(spark):
    """q_ann_* must return an empty frame, not TypeError, when vec_id=0 is
    absent (ADVICE r3: `.head()[0]` on an empty probe)."""
    import __spark_entry__ as em

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert em._query_vec(empty) is None
    out = em._empty_topk(empty)
    assert out.count() == 0
    assert out.columns == ["vec_id", "cosine"]


def test_simhash_pairs_hamming_zero(spark):
    """max_hamming=0 degenerates to one full-hash table: exactly the
    identical-simhash pairs, no plan-time overflow (ADVICE r2)."""
    from avc_parser_spark.functions.dedup import simhash_pairs

    rows = [(i, "identical page body" if i % 2 == 0 else f"unique text {i} words")
            for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]) for r in simhash_pairs(docs, max_hamming=0).collect()}
    from itertools import combinations

    assert got == set(combinations([0, 2, 4, 6], 2))


def test_simhash_bucket_stats_no_saturation_at_1m(spark):
    """Web-scale guard for the Manku block keys: 10^6 distinct sketches must
    NOT saturate any bucket (the old 16-bit band scheme put ~15 docs/bucket
    at 10^6 and *every* bucket over the cap at 10^8; ~32-bit keys keep the
    expected bucket size ≪ 1 here and ~250 at 10^12)."""
    from avc_parser_spark.functions.dedup import simhash_bucket_stats

    hashes = spark.range(1_000_000).select(F.xxhash64("id").alias("simhash"))
    stats = simhash_bucket_stats(hashes).head()
    assert stats["oversized_buckets"] == 0
    assert stats["max_bucket_size"] <= 16


def test_text_profile(docs, spark):
    prof = {r["doc_id"]: r for r in document_profile(docs).collect()}
    assert prof[0]["n_tokens"] == 13
    assert prof[5]["n_tokens"] == 0
    assert prof[0]["lang_guess"] == "en"
    assert prof[4]["lang_guess"] == "de"
    assert prof[0]["fingerprint"] == prof[1]["fingerprint"]
    assert prof[0]["fingerprint"] != prof[3]["fingerprint"]
    assert 0.0 <= prof[0]["stopword_ratio"] <= 1.0


def test_brute_force_topk_cosine(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = brute_force_topk(emb, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in got] == [0, 1]
    assert got[0]["cosine"] == 1.0
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(got[1]["cosine"] - expected) < 1e-5


def test_lsh_topk_subset_of_exact(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.randn(100, 16).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    ann = lsh_topk(emb, q, k=5).collect()
    ids = [r["vec_id"] for r in ann]
    assert 0 in ids  # the query vector itself lands in its own bucket
    exact = {r["vec_id"]: r["cosine"] for r in brute_force_topk(emb, q, k=100).collect()}
    for r in ann:  # ANN scores must agree with exact scores
        assert abs(exact[r["vec_id"]] - r["cosine"]) < 1e-6


def test_lsh_topk_multi_probe_improves_recall(spark):
    """Multi-probe (nearest-plane bit flips) must weakly improve recall vs
    the exact top-k at every probe depth, and scores stay exact."""
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(16)
    # 20 planted near-neighbors of the query + 280 unrelated vectors
    planted = base + 0.25 * rng.randn(20, 16)
    noise = rng.randn(280, 16)
    vecs = np.vstack([base[None, :], planted, noise]).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    exact_top = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]

    last_recall = -1.0
    for probes in (0, 4, 8):
        ann = [r["vec_id"] for r in lsh_topk(emb, q, k=10, multi_probe=probes).collect()]
        recall = len(set(ann) & set(exact_top)) / len(exact_top)
        assert recall >= last_recall  # weakly monotone in probe depth
        last_recall = recall
    assert last_recall >= 0.7  # clustered data + Hamming-1 probes → high recall


def test_media_feature_plumbing(spark):
    rows = [
        (0, "image", bytearray(b"\x89PNG fake")),
        (1, "audio", bytearray(b"RIFF fake")),
        (2, "image", None),
    ]
    media = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    out = extract_media_features(media).collect()
    assert len(out) == 3
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n_bytes"] == 9
    assert len(by_id[0]["feature"]) == 8
    assert by_id[2]["n_bytes"] == 0
    assert all(r["decode_status"] == "stubbed_fake" for r in out)
    # determinism
    again = {r["doc_id"]: r["sha1"] for r in extract_media_features(media).collect()}
    assert again == {r["doc_id"]: r["sha1"] for r in out}


def test_ivf_topk_recall(spark):
    import numpy as np

    from avc_parser_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    rng = np.random.RandomState(11)
    # clustered data: 4 gaussian blobs in 8d
    centers = rng.randn(4, 8) * 4
    vecs = np.vstack([centers[i % 4] + rng.randn(8) * 0.3 for i in range(200)])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()

    cents = train_centroids(emb)
    assert len(cents) == 4 and len(cents[0]) == 8

    q = [float(x) for x in vecs[7]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    ann = [r["vec_id"] for r in ivf_topk(emb, q, cents, n_probe=1).collect()]
    # probing 1 of 4 well-separated clusters must recover most of top-10
    assert len(set(exact) & set(ann)) >= 8
    # full probe == exact
    full = [r["vec_id"] for r in ivf_topk(emb, q, cents, n_probe=4).collect()]
    assert full == exact


def test_media_real_decoders_ppm_wav(spark):
    """PPM/PGM and WAV payloads decode for REAL (pure numpy / stdlib wave):
    features reflect actual pixel/sample content, not the digest fake."""
    import io
    import struct
    import wave as wavmod

    # 2x2 P6 image: white, black, white, black → mean 0.5, quadrant means 1/0
    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(
        [255, 255, 255, 0, 0, 0, 0, 0, 0, 255, 255, 255]
    )
    # 1-second 8kHz mono 16-bit WAV: constant half-amplitude square
    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<h", 16384) * 8000)
    wav = buf.getvalue()

    rows = [
        (0, "image", bytearray(ppm)),
        (1, "audio", bytearray(wav)),
        (2, "image", bytearray(b"\x89PNG compressed")),
    ]
    media = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    out = {r["doc_id"]: r for r in extract_media_features(media).collect()}

    assert out[0]["decode_status"] == "ok_ppm"
    f0 = out[0]["feature"]
    assert abs(f0[0] - 1.0) < 1e-6 and abs(f0[1] - 0.0) < 1e-6  # quadrants
    assert abs(f0[4] - 0.5) < 1e-6  # global mean

    assert out[1]["decode_status"] == "ok_wav"
    f1 = out[1]["feature"]
    for rms in f1[:6]:
        assert abs(rms - 0.5) < 1e-3  # constant half-amplitude signal
    assert abs(f1[7] - 8000 / 96000) < 1e-6  # sample-rate feature

    assert out[2]["decode_status"] == "stubbed_fake"  # compressed: honest fake


def test_media_resize_ppm(spark):
    """resize_media really downsamples P6 payloads (longest side <= max_dim,
    still-decodable PPM, preserved intensity), passes others through."""
    import numpy as np

    from avc_parser_spark.functions.multimodal import _decode_ppm, resize_media

    w, h = 16, 8
    grad = np.tile(np.linspace(0, 255, w, dtype=np.uint8), (h, 1))
    px = np.repeat(grad[:, :, None], 3, axis=2)
    big = b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()

    rows = [
        (0, "image", bytearray(big)),
        (1, "audio", bytearray(b"RIFF not really")),
    ]
    media = spark.createDataFrame(rows, "doc_id long, media_type string, payload binary")
    out = {r["doc_id"]: r for r in resize_media(media).collect()}

    assert out[0]["resize_status"] == "resized"
    small = bytes(out[0]["payload"])
    assert small[:2] == b"P6"
    feats_small, status = _decode_ppm(small)
    assert status == "ok_ppm"
    feats_big, _ = _decode_ppm(big)
    assert abs(feats_small[4] - feats_big[4]) < 0.1  # global mean preserved
    header = small.split(b"\n")
    nw, nh = (int(x) for x in header[1].split())
    assert max(nw, nh) <= 4

    assert out[1]["resize_status"] == "passthrough"
    assert bytes(out[1]["payload"]) == b"RIFF not really"


def test_mp4_meta_roundtrip():
    """build_mp4 → parse_mp4_meta recovers every planted container field
    exactly (metadata parse is lossless — no roundtrip subspace needed)."""
    from avc_parser_spark.functions.mp4 import build_mp4, parse_mp4_meta

    p = build_mp4(
        60.0,
        1000,
        [
            {"kind": "vide", "codec": "avc1", "width": 1280, "height": 720,
             "n_samples": 1800},
            {"kind": "soun", "codec": "mp4a", "n_samples": 2812},
        ],
    )
    meta = parse_mp4_meta(p)
    assert meta["timescale"] == 1000
    assert meta["duration_sec"] == 60.0
    assert meta["n_tracks"] == 2
    v, a = meta["tracks"]
    assert (v["kind"], v["codec"], v["width"], v["height"], v["n_samples"]) == (
        "vide", "avc1", 1280, 720, 1800
    )
    assert (a["kind"], a["codec"], a["n_samples"]) == ("soun", "mp4a", 2812)
    # 64-bit largesize boxes parse too (size==1 + largesize prefix)
    import struct

    big = struct.pack(">I4sQ", 1, b"free", 24) + b"\x00" * 8
    assert parse_mp4_meta(p + big)["n_tracks"] == 2


def test_mp4_malformed_rejected():
    """Truncated/crafted payloads return None (and route to stubbed_fake
    through decode_features), never raise and never loop on a lying size."""
    import struct

    from avc_parser_spark.functions.mp4 import build_mp4, parse_mp4_meta
    from avc_parser_spark.functions.multimodal import decode_features

    good = build_mp4(10.0, 1000, [{"kind": "vide", "codec": "avc1",
                                   "width": 64, "height": 64, "n_samples": 5}])
    bad_cases = [
        b"",
        b"\x00" * 32,                      # no ftyp
        good[:12],                         # inside ftyp
        good[:200],                        # truncated inside moov
        struct.pack(">I", 2 ** 31) + good[4:],   # lying top-level size
        good[:4] + b"ftyp" + b"\xff" * 64,       # garbage after magic
    ]
    for bad in bad_cases:
        assert parse_mp4_meta(bad) is None
        feats, status = decode_features(bad) if bad else (None, None)
        if bad:
            assert status == "stubbed_fake"
    # zero-size box (extends to end) must terminate, not spin
    zero = good + struct.pack(">I4s", 0, b"free")
    assert parse_mp4_meta(zero)["n_tracks"] == 1


def test_mp4_decode_features_quantization():
    """decode_features on an MP4 yields ok_mp4_meta with features that
    quantize back to the exact planted metadata (float32 discipline — the
    same invariant the multimodal_features oracle relies on)."""
    import numpy as np

    from avc_parser_spark.functions.mp4 import build_mp4
    from avc_parser_spark.functions.multimodal import decode_features

    p = build_mp4(
        3600.0,
        90000,
        [
            {"kind": "vide", "codec": "avc1", "width": 160, "height": 120,
             "n_samples": 107999},
            {"kind": "soun", "codec": "mp4a", "n_samples": 1000},
            {"kind": "soun", "codec": "mp4a", "n_samples": 2000},
        ],
    )
    feats, status = decode_features(p)
    assert status == "ok_mp4_meta"
    f32 = [float(np.float32(x)) for x in feats]
    assert round(f32[0] * 3600) == 3600      # duration cap boundary exact
    assert round(f32[4] * 108000) == 107999  # video sample count
    assert round(f32[5] * 90000) == 90000    # timescale cap boundary
    assert round(f32[6] * 4096) == 160 and round(f32[7] * 4096) == 120
    assert round(f32[1] * 8) == 3 and round(f32[3] * 8) == 2  # track counts


def test_extract_video_meta_and_frame_sample(spark):
    """extract_video_meta parses real containers in one Arrow pass (payload
    rides through) and frame_sample_plan expands the PARSED stsz counts;
    audio-only and corrupt payloads exercise the coalesce(n_frames,1) and
    not_mp4 guards."""
    from avc_parser_spark.functions.mp4 import build_mp4
    from avc_parser_spark.functions.multimodal import (
        extract_video_meta,
        frame_sample_plan,
    )

    vid = build_mp4(10.0, 1000, [{"kind": "vide", "codec": "hvc1",
                                  "width": 320, "height": 240,
                                  "n_samples": 61}])
    aud = build_mp4(5.0, 1000, [{"kind": "soun", "codec": "mp4a",
                                 "n_samples": 9}])
    rows = [
        (0, "video", bytearray(vid)),
        (1, "video", bytearray(aud)),
        (2, "video", bytearray(b"garbage, not a container")),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )
    meta = extract_video_meta(media)
    by_id = {r["doc_id"]: r for r in meta.collect()}
    assert by_id[0]["parse_status"] == "ok_mp4_meta"
    assert (by_id[0]["codec"], by_id[0]["width"], by_id[0]["n_frames"]) == (
        "hvc1", 320, 61
    )
    assert by_id[0]["duration_sec"] == 10.0
    assert by_id[1]["parse_status"] == "ok_mp4_meta"
    assert by_id[1]["n_frames"] is None and by_id[1]["codec"] is None
    assert by_id[2]["parse_status"] == "not_mp4"
    assert bytes(by_id[0]["payload"]) == vid  # payload rides through intact

    sampled = frame_sample_plan(meta, every_n=30).collect()
    frames = sorted(
        (r["doc_id"], r["frame_idx"]) for r in sampled
    )
    # doc 0: parsed 61 frames -> indices 0,30,60; docs 1-2: coalesce -> 0
    assert frames == [(0, 0), (0, 30), (0, 60), (1, 0), (2, 0)]


def test_mp4_parser_mutation_robustness_property():
    """parse_mp4_meta over byte-mutated / truncated / garbage-extended
    variants of valid containers must always terminate quickly and return
    a dict or None — never raise, never loop on crafted size fields (the
    box-walk budget and bounds checks are the contract for untrusted
    web-crawl payloads)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from avc_parser_spark.functions.mp4 import build_mp4, parse_mp4_meta

    base = build_mp4(
        30.0,
        1000,
        [
            {"kind": "vide", "codec": "avc1", "width": 320, "height": 240,
             "n_samples": 900},
            {"kind": "soun", "codec": "mp4a", "n_samples": 1406},
        ],
    )

    edits = st.lists(
        st.tuples(st.integers(0, len(base) - 1), st.integers(0, 255)),
        max_size=8,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        edits,
        st.integers(0, len(base)),
        st.binary(max_size=64),
    )
    def check(muts, cut, tail):
        buf = bytearray(base)
        for pos, val in muts:
            buf[pos] = val
        payload = bytes(buf[:cut]) + tail
        out = parse_mp4_meta(payload)
        assert out is None or isinstance(out, dict)
        if isinstance(out, dict):
            assert out["timescale"] > 0
            assert isinstance(out["tracks"], list)

    check()


def test_pack_sequences_layout(spark):
    """pack_sequences = concat-then-chunk placement: per-bucket prefix sums
    (verified against a Python reference), correct sequence indices for
    straddling docs, zero-token docs span 0 sequences, and append-only
    stability (adding higher-id docs never moves existing placements)."""
    import hashlib as _hl

    from avc_parser_spark.functions.text import pack_sequences

    rows = [(i, "tok " * (i * 7 % 23)) for i in range(40)]  # 0..22 tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pack_sequences(
        docs, seq_len=10, bucket_count=4
    ).collect()}

    # python reference: same md5 bucket, id order, exclusive prefix sum
    def bucket(i):
        return int(_hl.md5(str(i).encode()).hexdigest()[:4], 16) % 4

    streams: dict[int, int] = {}
    for i in sorted(r[0] for r in rows):
        ntok = (i * 7 % 23)
        b = bucket(i)
        pre = streams.get(b, 0)
        r = out[i]
        assert (r["pack_bucket"], r["n_tokens"], r["tok_start"]) == (b, ntok, pre)
        assert r["seq_start"] == pre // 10 and r["seq_offset"] == pre % 10
        expected_span = 0 if ntok == 0 else (pre + ntok - 1) // 10 - pre // 10 + 1
        assert r["n_seqs"] == expected_span
        streams[b] = pre + ntok

    # append-only stability: add docs with HIGHER ids, existing rows frozen
    more = docs.union(
        spark.createDataFrame([(100, "a b c"), (101, "d e")],
                              "doc_id long, text string")
    )
    again = {r["doc_id"]: r for r in pack_sequences(
        more, seq_len=10, bucket_count=4
    ).collect()}
    for i in out:
        assert (again[i]["tok_start"], again[i]["seq_start"]) == (
            out[i]["tok_start"], out[i]["seq_start"]
        )


def test_sample_to_mixture_exact_md5_rederivation(spark):
    """sample_to_mixture(md5): the kept id set equals a pure-Python
    re-derivation of the integer cutoff arithmetic — the property that lets
    any engine (DuckDB oracle, cross-engine audit) reproduce the sample."""
    import hashlib

    from avc_parser_spark.functions.text import sample_to_mixture

    def lang_of(i):
        m = i % 10
        return "en" if m < 5 else "de" if m < 7 else "fr" if m < 9 else "es"

    n = 1000
    docs = spark.createDataFrame(
        [(i, lang_of(i)) for i in range(n)], "doc_id bigint, lang string"
    )
    weights = {"en": 2, "de": 1, "fr": 1}  # es: weight 0 -> dropped
    out = sample_to_mixture(docs, weights, method="md5")
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}

    # pure-Python twin: counts -> T = min((n*W) div w) -> integer cutoffs
    counts = {"en": 500, "de": 200, "fr": 200}
    w_total = sum(weights.values())
    t = min((counts[s] * w_total) // w for s, w in weights.items())
    cutoffs = {
        s: (w * t * 10_000) // (w_total * counts[s])
        for s, w in weights.items()
    }
    assert t == 800
    # de and fr are binding (cap 800): kept whole; en gated to 8000/10000
    assert cutoffs == {"en": 8000, "de": 10_000, "fr": 10_000}
    expected = {
        i
        for i in range(n)
        if lang_of(i) in cutoffs
        and int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 10_000
        < cutoffs[lang_of(i)]
    }
    assert kept == expected
    # every es doc dropped, every de/fr doc kept
    langs_kept = {lang_of(i) for i in kept}
    assert "es" not in langs_kept
    assert sum(1 for i in kept if lang_of(i) == "de") == 200
    assert sum(1 for i in kept if lang_of(i) == "fr") == 200


def test_sample_to_mixture_xxhash_deterministic_and_proportional(spark):
    from avc_parser_spark.functions.text import sample_to_mixture

    docs = (
        spark.range(0, 20000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 4 < 2, "en")
            .when(F.col("doc_id") % 4 == 2, "de")
            .otherwise("fr"),
        )
    )
    weights = {"en": 1, "de": 1, "fr": 1}
    out = sample_to_mixture(docs, weights)
    a = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    b = {r["lang"]: r["n"] for r in sample_to_mixture(docs, weights).groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert a == b  # pure function of ids
    # en (10000 docs) gated toward the 5000-doc strata; de/fr kept whole
    assert a["de"] == 5000 and a["fr"] == 5000
    assert abs(a["en"] - 5000) < 300  # hash-gate binomial tolerance


def test_winnow_fingerprints_guarantee_and_density(spark):
    """Winnowing invariants (Schleimer et al.): identical texts → identical
    fingerprint sets; a shared normalized substring of length >= window+k-1
    → at least one shared fingerprint; density stays well below the raw
    gram count; short/empty docs degrade to one whole-text fingerprint."""
    from avc_parser_spark.functions.dedup import winnow_fingerprints

    k, w = 8, 4
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    shared = "a very distinctive shared passage that is plenty long enough"
    rows = [
        (0, base),
        (1, base),                                   # identical to 0
        (2, "unrelated WORDS zqxj kvw pmt " + shared),
        (3, shared + " plus a completely different tail xyzzy"),
        (4, "tiny"),                                 # < k chars
        (5, ""),                                     # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (set(r["fingerprints"]), r["n_fingerprints"])
        for r in winnow_fingerprints(docs, k=k, window=w).collect()
    }
    assert out[0][0] == out[1][0]                    # identical → identical
    assert len(shared) >= w + k - 1
    assert out[2][0] & out[3][0]                     # guarantee: >=1 shared
    n_grams = len(base) - k + 1
    assert 0 < out[0][1] < 0.8 * n_grams             # real compression
    assert out[4][1] == 1 and out[5][1] == 1         # degenerate docs


def test_winnow_candidates_and_jaccard(spark):
    """Candidate join finds the planted identical pair with fp_jaccard 1.0
    and emits nothing between character-disjoint documents."""
    from avc_parser_spark.functions.dedup import (
        winnow_candidates_from_fps,
        winnow_fingerprints,
        winnow_jaccard_from_fps,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "0123456789 0123456789 0123456789 0123456789 0123456789"),
        (3, "ZZZZZZZZZZ YYYYYYYYYY XXXXXXXXXX WWWWWWWWWW VVVVVVVVVV"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = winnow_fingerprints(docs)
    pairs = winnow_candidates_from_fps(fps)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert (2, 3) not in got and (3, 2) not in got
    jac = {
        (r["a"], r["b"]): r["fp_jaccard"]
        for r in winnow_jaccard_from_fps(fps, pairs).collect()
    }
    assert jac[(0, 1)] == 1.0


def test_resolve_clusters_over_winnow_pairs(spark):
    """Strategy-agnostic resolution, winnowing edition: winnowing candidate
    pairs feed the SAME resolve loop that serves minhash/simhash/embedding
    edges — a transitive chain (A≈B via shared prefix, B≈C via shared
    suffix) collapses to one keeper even though A and C share nothing."""
    from avc_parser_spark.functions.dedup import (
        resolve_clusters,
        winnow_candidates_from_fps,
        winnow_fingerprints,
    )

    # head and tail share NO 8-char substring (disjoint vocabularies), so
    # the only candidate edges are the planted head/tail overlaps
    head = "zebra quokka wombat flamingo heron egret plover lapwing osprey"
    tail = "copper zinc nickel cobalt titanium vanadium chromium molybdenum"
    rows = [
        (0, head + " aaa111"),
        (1, head + " " + tail),            # bridges 0 and 2
        (2, "bbb222 " + tail),
        (3, "qqq www eee rrr ttt yyy uuu iii ooo ppp sss ddd fff ggg"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnow_candidates_from_fps(winnow_fingerprints(docs))
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got and (1, 2) in got and (0, 2) not in got
    resolved = {
        r["doc_id"]: r["keeper"] for r in resolve_clusters(pairs).collect()
    }
    assert resolved == {0: 0, 1: 0, 2: 0}  # transitive closure via 1


def test_winnow_fingerprints_differential_vs_python_reference(spark):
    """The vectorized numpy rolling-hash sketch must equal an independent
    scalar pure-Python implementation of the same scheme (FNV-base
    polynomial over UTF-8 bytes, window-min, unique) on a seeded corpus
    covering multibyte chars, boundary lengths (n<k, grams<window), runs,
    and whitespace-collapse normalization."""
    import random
    import re

    from avc_parser_spark.functions.dedup import winnow_fingerprints

    K, W = 8, 4
    B, OFF, MASK = 1099511628211, 0xCBF29CE484222325, (1 << 64) - 1

    def py_winnow(text):
        # mirror normalized_text exactly: Spark SQL trim() strips ONLY
        # spaces (U+0020), then lower, then ASCII \s+ collapse
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", (text or "").strip(" ").lower())
        b = norm.encode("utf-8")
        def signed(v):
            return v - (1 << 64) if v >= (1 << 63) else v
        if len(b) < K:
            acc = OFF
            for c in b:
                acc = (acc * B + c) & MASK
            return {signed(acc)}
        grams = []
        for i in range(len(b) - K + 1):
            acc = OFF
            for c in b[i : i + K]:
                acc = (acc * B + c) & MASK
            grams.append(acc)
        if len(grams) < W:
            return {signed(min(grams))}
        return {
            signed(min(grams[j : j + W]))
            for j in range(len(grams) - W + 1)
        }

    rng = random.Random(20260817)
    alphabet = "ab c\tde\nf0.,:!漢字éß日本語 "
    rows = []
    for i in range(200):
        n = rng.choice([0, 1, 3, 7, 8, 9, 11, 12, 30, 80, 300])
        rows.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(docs, k=K, window=W).collect()
    }
    mismatches = [
        i for i, t in rows if got[i] != py_winnow(t)
    ]
    assert mismatches == [], f"{len(mismatches)} docs diverge: {mismatches[:5]}"


def test_paragraph_dedup_first_and_none(spark):
    """CCNet paragraph dedup: keep='first' keeps only the globally first
    (id,pos) instance of each paragraph (intra-doc repeats collapse;
    fully-deduplicated docs vanish); keep='none' drops any paragraph
    appearing in >=2 distinct docs but keeps intra-doc repeats."""
    from avc_parser_spark.functions.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (3, "aa\n\nbb\n\naa"),   # aa repeated intra-doc
            (5, "aa"),               # single para, dup of doc 3 -> vanishes
            (7, "cc\n\nbb"),         # bb dup of doc 3
            (9, "dd\n\ndd"),         # intra-doc repeat only
        ],
        ["doc_id", "text"],
    )
    first = {r["doc_id"]: (r["text_dedup"], r["paragraphs_kept"])
             for r in paragraph_dedup(df).collect()}
    assert first == {
        3: ("aa\n\nbb", 2),
        7: ("cc", 1),
        9: ("dd", 1),
    }
    none = {r["doc_id"]: (r["text_dedup"], r["paragraphs_kept"])
            for r in paragraph_dedup(df, keep="none").collect()}
    # aa and bb appear in 2 distinct docs -> stripped everywhere; dd's
    # intra-doc repeat is NOT cross-doc boilerplate and survives.
    assert none == {
        7: ("cc", 1),
        9: ("dd\n\ndd", 2),
    }
    with pytest.raises(ValueError):
        paragraph_dedup(df, keep="both")


def test_paragraph_dedup_matches_duckdb_full_algorithm(spark):
    """Cross-engine parity on a randomized corpus: the DuckDB twin (split
    -> min packed (id,pos) -> ordered string_agg) must reproduce the Spark
    result exactly — the md5 grouping key is engine-portable by design."""
    import random

    import duckdb

    from avc_parser_spark.functions.dedup import paragraph_dedup

    rng = random.Random(20260817)
    pool = [f"para {i}" for i in range(12)]
    rows = [
        (i, "\n\n".join(rng.choice(pool)
                        for _ in range(rng.randint(1, 5))))
        for i in range(60)
    ]
    got = {
        r["doc_id"]: (r["text_dedup"], r["paragraphs_kept"])
        for r in paragraph_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = {
        row[0]: (row[1], row[2])
        for row in con.execute(
            """
            WITH inst AS (
              SELECT doc_id, r.pos AS pos, r.para AS para, md5(r.para) AS ph
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             string_split(text, chr(10) || chr(10)),
                             (x, i) -> {'pos': i, 'para': x})) AS r
                    FROM d)),
            firsts AS (
              SELECT ph, min(doc_id * 1048576 + pos) AS fk
              FROM inst GROUP BY ph)
            SELECT i.doc_id,
                   string_agg(i.para, chr(10) || chr(10) ORDER BY i.pos),
                   count(*)
            FROM inst i JOIN firsts f
              ON f.ph = i.ph AND i.doc_id * 1048576 + i.pos = f.fk
            GROUP BY i.doc_id
            """
        ).fetchall()
    }
    assert got == want


def test_gopher_quality_flags_rules(spark):
    """Each Gopher rule trips on its crafted violator and the bitmask
    records exactly the failed rules (bit i = rule i); a clean doc passes
    everything. Thresholds are integer cross-multiplications, so the
    boundaries are exact."""
    from avc_parser_spark.functions.text import gopher_quality_flags

    clean = (
        "the quick brown fox and the lazy dog have gone to the market "
        "with plenty of time that remains for everyone to be happy today"
    )
    docs = spark.createDataFrame(
        [
            (0, clean),
            (1, "word"),                                # too few words
            (2, "a b c d e f g h i j"),                 # mean word len < 3
            (3, "## # ## tag # pound # sign # heavy #"),  # symbols
            (4, "12 34 56 78 90 11 22 33 44 55"),       # no alpha words
            (5, "zebra quokka lemur wombat gecko heron"),  # no stopwords
            (6, "- one\n- two\n- three\n- four\n- five"),  # all bullets
            (7, "first...\nsecond...\nthird\nplain here"),  # 50% ellipsis
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["gopher_bitmask"]
        for r in gopher_quality_flags(docs, min_words=5).collect()
    }
    assert got[0] == 0
    assert got[1] & 1                       # word_count failed
    assert got[2] & 2                       # mean_word_len failed
    assert got[3] & 4                       # symbol_ratio failed
    assert got[4] & 8                       # alpha_words failed
    assert got[5] & 16                      # stopwords failed
    assert got[6] & 32                      # bullet_lines failed
    assert got[7] & 64                      # ellipsis_lines failed
    rows = {r["doc_id"]: r for r in gopher_quality_flags(docs, min_words=5).collect()}
    assert rows[0]["gopher_pass"] is True
    assert rows[6]["pass_bullet_lines"] is False
    # 2 of 4 lines end with ellipsis -> 10*2 > 3*4 fails; exactly 1 of 4
    # would pass (10*1 <= 12): boundary is integer-exact
    assert rows[7]["pass_ellipsis_lines"] is False


def test_gopher_repetition_flags(spark):
    """Hand-derived repetition metrics: duplicated lines, duplicated-line
    chars, and the top 2/3/4-gram coverage (with the struct tie-break)
    must match exact arithmetic."""
    from avc_parser_spark.functions.text import gopher_repetition_flags

    docs = spark.createDataFrame(
        [
            (0, "the same line here.\nthe same line here.\nanother distinct line."),
            (1, "spam ham spam ham spam ham unique words"),
            (2, "a wholly varied sentence with no repeated parts at all today."),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in gopher_repetition_flags(docs).collect()}
    r0 = rows[0]
    assert r0["n_lines"] == 3 and r0["dup_lines"] == 2
    assert r0["dup_line_chars"] == 2 * len("the same line here.")
    assert r0["rep_bitmask"] & 1 and r0["rep_bitmask"] & 2
    r1 = rows[1]
    # 'spam ham' occurs 3x (overlapping windows), len 8 -> 24 chars of 39
    assert r1["top2_chars"] == 3 * len("spam ham")
    assert r1["top3_chars"] == 2 * len("spam ham spam")
    assert r1["top4_chars"] == 2 * len("spam ham spam ham")
    assert r1["rep_bitmask"] & 4 and r1["rep_bitmask"] & 8 and r1["rep_bitmask"] & 16
    assert rows[2]["rep_bitmask"] == 0 and rows[2]["rep_pass"] is True
    # tie-break: equal counts -> lexicographically largest gram wins;
    # single-occurrence grams contribute 0 coverage
    tie = spark.createDataFrame(
        [(0, "aa xx aa xx aa"), (1, "bb aa bb cc")], ["doc_id", "text"]
    )
    t = {r["doc_id"]: r for r in gopher_repetition_flags(tie).collect()}
    # 2-grams of doc 0: 'aa xx' x2, 'xx aa' x2 -> tie -> 'xx aa' wins
    assert t[0]["top2_chars"] == 2 * len("xx aa")
    # all 2-grams of doc 1 occur once -> no repetition coverage
    assert t[1]["top2_chars"] == 0


def test_c4_line_filter_rules(spark):
    """Each C4 doc rule trips on its crafted violator; line filtering
    keeps exactly the terminal-punctuated, long-enough, non-javascript
    lines and reassembles them in order."""
    from avc_parser_spark.functions.text import c4_line_filter

    good1 = "This is a proper sentence with plenty of words in it."
    good2 = "Another fine sentence is present right here in this doc."
    good3 = "A third full sentence rounds out the page quite nicely."
    docs = spark.createDataFrame(
        [
            (0, "\n".join([good1, good2, good3])),
            (1, "\n".join([good1, "short line.", good2, good3])),
            (2, "\n".join([good1, "No terminal punctuation on this line", good2, good3])),
            (3, "\n".join([good1, "He wrote some Javascript code for the site today.", good2, good3])),
            (4, "\n".join([good1, "if (x) { return y; }", good2, good3])),
            (5, "\n".join([good1, "Lorem ipsum dolor sit amet consectetur adipiscing elit.", good2, good3])),
            (6, "\n".join([good1, "This page has porn somewhere in the middle of it.", good2, good3])),
            (7, "\n".join([good1, good2])),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    assert rows[0]["c4_bitmask"] == 0 and rows[0]["c4_keep"] is True
    assert rows[0]["c4_kept_text"] == "\n".join([good1, good2, good3])
    # line rules drop the offending line but the doc survives
    for d in (1, 2, 3):
        assert rows[d]["n_kept_lines"] == 3 and rows[d]["c4_bitmask"] == 0
        assert rows[d]["c4_kept_text"] == "\n".join([good1, good2, good3])
    assert rows[4]["c4_bitmask"] & 1      # brace
    assert rows[5]["c4_bitmask"] & 2      # lorem ipsum
    assert rows[6]["c4_bitmask"] & 4      # bad word
    assert rows[7]["c4_bitmask"] & 8      # too few surviving lines
    # 'transporting' must NOT trip the word-boundary bad-word screen
    extra = spark.createDataFrame(
        [(0, "They were transporting xxxl crates to the docks today.")],
        ["doc_id", "text"],
    )
    assert c4_line_filter(extra).collect()[0]["c4_bitmask"] & 4 == 0


def test_semantic_dedup_pairs_planted(spark):
    """SemDeDup: k-means cluster then within-cluster cosine pairs. The
    planted corpus makes every decision exact: 4 clusters on disjoint
    16-dim blocks (block-indicator centroids ⇒ provable assignment),
    members one-hot on distinct in-block dims (non-dup cosine exactly 0),
    and vec_id%8>=4 a 2.5×-scaled copy of vec_id-4 (cosine exactly 1) —
    so the detected pairs are exactly the planted copies. max_cluster is
    the skew stop-list: a cap below the cluster size yields no pairs."""
    from avc_parser_spark.functions.dedup import semantic_dedup_pairs

    def vec(i):
        if i % 8 >= 4:
            return [2.5 * x for x in vec(i - 4)]
        slot = 16 * (i % 4) + ((i // 4) % 16)
        return [1.0 if d == slot else 0.0 for d in range(64)]

    rows = [(i, vec(i)) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [
        [1.0 if 16 * g <= d < 16 * (g + 1) else 0.0 for d in range(64)]
        for g in range(4)
    ]
    got = {
        (r["a"], r["b"], r["cosine"], r["cluster"])
        for r in semantic_dedup_pairs(emb, cents).collect()
    }
    want = {
        (8 * m + g, 8 * m + g + 4, 1.0, g) for m in range(8) for g in range(4)
    }
    assert got == want
    assert (
        semantic_dedup_pairs(emb, cents, max_cluster=8).count()
        == 0
    )


def test_substring_dedup_planted(spark):
    """Lee-et-al exact-substring removal: duplicated >=k-token windows
    vanish from every non-canonical copy (the globally-first instance
    survives verbatim); docs shorter than k pass through; intra-doc
    repeats collapse to the first occurrence; a doc that was ALL
    duplicate text stays in the output with empty text (contract: every
    input doc yields a row)."""
    from avc_parser_spark.functions.dedup import substring_dedup

    df = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta unique two"),
            (4, "alpha beta gamma delta epsilon zeta unique four"),
            (6, "short text"),
            (8, "alpha beta gamma delta epsilon zeta"),
            (10, "a b c d e a b c d e"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["text_dedup"], r["tokens_kept"], r["tokens_total"])
        for r in substring_dedup(df, k=5).collect()
    }
    assert got == {
        # canonical copy (min packed (id,pos)) survives verbatim
        2: ("alpha beta gamma delta epsilon zeta unique two", 8, 8),
        # windows 0-2 collide with doc 2 -> tokens 0..6 stripped
        4: ("four", 1, 8),
        6: ("short text", 2, 2),
        # pure duplicate region -> everything stripped, row kept
        8: ("", 0, 6),
        # intra-doc repeat: second 'a b c d e' window is non-canonical
        10: ("a b c d e", 5, 10),
    }
    with pytest.raises(ValueError):
        substring_dedup(df, k=1)


def test_substring_dedup_matches_python_reference(spark):
    """Randomized differential: the distributed window-hash formulation
    must reproduce a direct single-machine implementation of the same
    keep-first semantics token-for-token."""
    import random
    import re

    from avc_parser_spark.functions.dedup import substring_dedup

    k = 3
    rng = random.Random(20260817)
    pool = ["red", "blue", "green", "gold", "iron", "clay"]
    rows = [
        (i, " ".join(rng.choice(pool) for _ in range(rng.randint(1, 12))))
        for i in range(80)
    ]

    docs = {i: re.sub(r"\s+", " ", t.strip().lower()).split(" ") for i, t in rows}
    firsts: dict[str, tuple[int, int]] = {}
    inst = []
    for i in sorted(docs):
        toks = docs[i]
        for p in range(max(len(toks) - k + 1, 0)):
            w = " ".join(toks[p : p + k])
            pk = i * 1048576 + p
            inst.append((i, p, w, pk))
            c, m = firsts.get(w, (0, pk))
            firsts[w] = (c + 1, min(m, pk))
    marked: dict[int, set[int]] = {}
    for i, p, w, pk in inst:
        c, m = firsts[w]
        if c >= 2 and pk != m:
            marked.setdefault(i, set()).add(p)
    want = {}
    for i, toks in docs.items():
        mp = marked.get(i, set())
        kept = [
            t
            for j, t in enumerate(toks)
            if not any(p <= j <= p + k - 1 for p in mp)
        ]
        want[i] = (" ".join(kept), len(kept), len(toks))

    got = {
        r["doc_id"]: (r["text_dedup"], r["tokens_kept"], r["tokens_total"])
        for r in substring_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"]), k=k
        ).collect()
    }
    assert got == want


def test_lm_score_backoff_branches(spark):
    """Stupid-backoff arithmetic, re-derived by hand for all three
    branches: bigram in LM (ln(c12/c1)), backoff to a seen unigram
    (ln(0.4*c2/total)), and OOV (ln(0.4*0.5/total), counted in n_oov)."""
    import math

    from avc_parser_spark.functions.text import build_ngram_lm, lm_score

    ref = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran"), (2, "the dog sat")],
        ["doc_id", "text"],
    )
    # ref bigrams: (the,cat)x2 (the,dog) (cat,sat) (cat,ran) (dog,sat)
    # w1 counts: the=3 cat=2 dog=1 ; total=6
    lm = build_ngram_lm(ref)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["logp_micro_sum"])
        for r in lm_score(
            spark.createDataFrame(
                [(10, "the cat"), (11, "sat the"), (12, "qq zz")],
                ["doc_id", "text"],
            ),
            lm,
        ).collect()
    }
    mic = lambda p: int(round(math.log(p) * 1_000_000))
    assert got[10] == (1, 0, mic(2 / 3))            # in LM
    # (sat,the): not a ref bigram, 'the' seen as w2? c2 = count of 'the'
    # as a *w1-position* unigram = 3 -> backoff ln(0.4*3/6)
    assert got[11] == (1, 0, mic(0.4 * 3 / 6))
    assert got[12] == (1, 1, mic(0.4 * 0.5 / 6))    # OOV w2
    # single-token / empty docs produce no bigrams and no row
    assert lm_score(
        spark.createDataFrame([(20, "word"), (21, "")], ["doc_id", "text"]),
        lm,
    ).count() == 0


def test_build_ngram_lm_top_k_cap_deterministic(spark):
    """The top_k cap keeps the HIGHEST-count bigrams with a deterministic
    (count desc, w1, w2) tie-break — the broadcast stays bounded no matter
    the reference corpus size."""
    from avc_parser_spark.functions.text import build_ngram_lm

    ref = spark.createDataFrame(
        [(i, "aa bb aa bb cc dd") for i in range(5)], ["doc_id", "text"]
    )
    # counts: (aa,bb)=10, (bb,aa)=5, (bb,cc)=5, (cc,dd)=5
    kept = {
        (r["w1"], r["w2"])
        for r in build_ngram_lm(ref, top_k=2)["bigrams"].collect()
    }
    assert kept == {("aa", "bb"), ("bb", "aa")}


def test_extract_html_text_behavior(spark):
    """HTML→text extraction: script/style/head/comments dropped, block tags
    become newlines, entities decode AFTER tag strip (no double-decode),
    whitespace normalized. Exact expected strings."""
    from avc_parser_spark.functions.text import extract_html_text

    cases = [
        ('<html><head><title>T</title><style>p{color:red}</style></head>'
         '<body><script type="text/javascript">var x=1;</script>'
         '<p>hello  world</p><div>footer &amp; nav &lt;links&gt;</div>'
         '</body></html>',
         'hello world\nfooter & nav <links>'),
        ('<p>A &quot;quoted&quot; start&#39;s here</p><br><BR/>tail  text',
         'A "quoted" start\'s here\ntail text'),
        # entity-encoded script must NOT come back to life as a tag
        ('<p>&lt;script&gt;alert(1)&lt;/script&gt;</p>',
         '<script>alert(1)</script>'),
        # no closing '>' → not a tag; dangling markup survives verbatim
        ('broken <tag never closes', 'broken <tag never closes'),
        ('', ''),
        (None, ''),
    ]
    df = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(cases)], ["i", "h"]
    )
    from pyspark.sql import functions as F

    got = {
        r["i"]: r["x"]
        for r in df.select("i", extract_html_text(F.col("h")).alias("x")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_extract_html_text_duckdb_differential(spark):
    """Seeded fuzz: 300 adversarial HTML-ish strings (nested/broken/cased
    tags, comments, entities, CJK, control whitespace) must extract
    BYTE-IDENTICALLY through the Spark Column chain and the generated
    DuckDB twin (html_extract_sql) — the oracle-parity contract."""
    import random

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from avc_parser_spark.functions.text import extract_html_text, html_extract_sql

    rng = random.Random(20260817)
    frags = [
        "plain words ", "zwölf öl ", "中文片段", "a&amp;b", "&lt;x&gt;",
        "&nbsp;&quot;&#39;", "<p>", "</p>", "<P CLASS='x'>", "<br/>",
        "<div id=\"d\">", "</div>", "<script>var a='<p>';</script>",
        "<style>h1{font: 12px}</style>", "<!-- c -->", "<!--", "-->",
        "<head><meta x></head>", "<li>item</li>", "< notatag",
        "tag never closes <em", ">", "\t", "\r\n", "\n\n", "  ",
        "<table><tr><td>z</td></tr></table>", "<h2>H</h2>", "text.",
        "<SCRIPT>while(1){}</SCRIPT>", "<pre>a\n b</pre>", "\x0b",
    ]
    cases = [
        "".join(rng.choice(frags) for _ in range(rng.randint(0, 20)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], ["i", "h"]
    )
    got = {
        r["i"]: r["x"]
        for r in df.select("i", extract_html_text(F.col("h")).alias("x")).collect()
    }
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame({"i": range(len(cases)),
                           "h": pd.array(cases, dtype="string")})
    )
    oracle = dict(con.execute(f"select i, {html_extract_sql('h')} from t").fetchall())
    bad = [i for i in range(len(cases)) if got[i] != oracle[i]]
    assert not bad, (bad[:5], [(got[i], oracle[i]) for i in bad[:2]])


def test_bloom_delta_gate_exactness(spark):
    """Bloom delta gate: (a) NO false negatives — every true cross-batch
    duplicate survives the gate and lands in the confirmed set, even with
    a deliberately undersized bitmap that forces heavy false positives;
    (b) the verify semi-join kills every false positive, so the result is
    exact set membership; (c) at the default sizing the maybe-set stays
    close to the true-dup set (the narrow-pass 100 TB claim)."""
    from pyspark.sql import functions as F

    from avc_parser_spark.functions.dedup import (
        bloom_gate,
        bloom_words,
        exact_delta_dups,
        normalized_text,
    )

    stored = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("stored text "), F.col("id")).alias("text"),
    )
    delta = spark.range(0, 1000).select(
        (F.col("id") + 100000).alias("doc_id"),
        F.when(F.col("id") < 150,
               F.concat(F.lit("stored text "), F.col("id") * 7))
        .otherwise(F.concat(F.lit("new text "), F.col("id"))).alias("text"),
    )
    expect = set(range(100000, 100150))

    # undersized bloom (2^10 bits, k=2): most non-members collide, but the
    # confirmed set must still be exactly the true duplicates
    tiny = exact_delta_dups(delta, stored, m_bits=1 << 10, k=2)
    assert {r["doc_id"] for r in tiny.collect()} == expect

    dig = F.md5(normalized_text(F.col("text")))
    d = delta.select("doc_id", dig.alias("digest"))
    s = stored.select(dig.alias("digest"))

    # undersized gate: full recall regardless of fpp
    gated_tiny = bloom_gate(d, bloom_words(s, m_bits=1 << 10, k=2),
                            m_bits=1 << 10, k=2)
    assert expect <= {r["doc_id"] for r in gated_tiny.collect()}

    # default sizing: maybe-set ≈ true dups (fpp under 5% of non-members)
    gated = bloom_gate(d, bloom_words(s))
    n = gated.count()
    assert n >= 150 and (n - 150) / 850 < 0.05

    # plan shape: probe is broadcast-only (no shuffle of the delta), and
    # the bitmap table is bounded by m/64 rows whatever the corpus size
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    assert bloom_words(s).count() <= (1 << 23) // 64


def test_bm25_topk_ranking_semantics(spark):
    """BM25 hand-check: a doc with more query-term hits outranks; among
    equal-tf docs the shorter one wins (length normalization); docs
    without any query term never appear; terms_matched counts distinct
    matched terms; the plan is TakeOrderedAndProject (no global sort)."""
    from avc_parser_spark.functions.retrieval import bm25_topk

    rows = [
        (1, "spark vector spark vector filler filler filler"),
        (2, "spark filler filler filler filler filler filler"),
        (3, "spark filler"),                      # same tf as 2, shorter
        (4, "nothing relevant here at all"),
        (5, "vector vector vector filler filler"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(docs, ["spark", "vector"], k=10).collect()
    ids = [r["doc_id"] for r in got]
    assert 4 not in ids
    assert ids[0] == 1                       # both terms, tf 2 each
    assert ids.index(3) < ids.index(2)       # shorter doc wins at equal tf
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[1]["terms_matched"] == 2
    assert by_id[2]["terms_matched"] == 1
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))

    plan = (
        bm25_topk(docs, ["spark", "vector"], k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_bm25_duckdb_differential(spark):
    """Seeded random word-soup corpus: bm25_topk must reproduce the
    generated DuckDB twin EXACTLY (ids, integer micro scores, ranks) —
    the integer-arithmetic cross-engine contract, on a fresh corpus and
    a different query than the driver mode uses."""
    import random

    import duckdb
    import pandas as pd

    from avc_parser_spark.functions.retrieval import bm25_sql, bm25_topk

    rng = random.Random(20260818)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu"]
    pdf = pd.DataFrame({
        "doc_id": range(400),
        "text": [" ".join(rng.choice(vocab)
                          for _ in range(rng.randint(1, 60)))
                 for _ in range(400)],
    })
    docs = spark.createDataFrame(pdf)
    query = ["gamma", "kappa", "mu", "absentterm"]
    got = [
        (r["doc_id"], r["score_micro"], r["terms_matched"], r["rank"])
        for r in bm25_topk(docs, query, k=25).collect()
    ]
    con = duckdb.connect()
    con.register("documents", pdf)
    want = [tuple(x) for x in con.execute(bm25_sql(query, k=25)).fetchall()]
    assert got == want


def test_chunk_documents_invariants(spark):
    """Structural invariants of overlapping token-window chunking:
    full coverage (chunk tokens reassemble the doc), overlap equality
    between consecutive chunks, exactly one chunk for short docs, zero
    chunks for empty/null docs, and last-chunk-short (never padded)."""
    from avc_parser_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"t{i}" for i in range(100))),  # multi-chunk
            (1, " ".join(f"t{i}" for i in range(32))),   # exactly size
            (2, "one two three"),                        # single short chunk
            (3, ""),                                     # empty -> none
            (4, None),                                   # null -> none
            (5, " ".join(f"t{i}" for i in range(33))),   # size+1 -> 2 chunks
        ],
        ["doc_id", "text"],
    )
    size, overlap, stride = 32, 8, 24
    rows = (
        chunk_documents(docs, size=size, overlap=overlap)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {0, 1, 2, 5}
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_chunk_tokens"] == 32
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "one two three"
    assert len(by_doc[5]) == 2
    # ceil((100-32)/24) = 3 extra chunks after the first
    assert len(by_doc[0]) == 4
    for chunks in by_doc.values():
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["tok_start"] == i * stride
            toks = c["chunk_text"].split(" ")
            assert len(toks) == c["n_chunk_tokens"] <= size
            if i > 0:
                prev = chunks[i - 1]["chunk_text"].split(" ")
                # consecutive chunks share exactly `overlap` tokens
                assert prev[stride:] == toks[: len(prev) - stride]
    # coverage: stitching non-overlapping parts reassembles the doc
    doc0 = " ".join(f"t{i}" for i in range(100)).split(" ")
    stitched = by_doc[0][0]["chunk_text"].split(" ")
    for c in by_doc[0][1:]:
        stitched.extend(c["chunk_text"].split(" ")[overlap:])
    assert stitched == doc0


def test_chunk_documents_duckdb_differential(spark):
    """chunk_documents ≡ chunk_sql (the oracle twin) row-for-row over the
    sf0.001 documents table plus adversarial whitespace edge cases, at two
    (size, overlap) settings."""
    import duckdb

    from avc_parser_spark.functions.text import chunk_documents, chunk_sql

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [
            (100001, "  leading and   multiple   spaces\ttabs\nnewlines  "),
            (100002, "solo"),
            (100003, ""),
        ],
        ["doc_id", "text"],
    )
    docs = base.select("doc_id", "text").unionByName(extra)
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    for size, overlap in ((32, 8), (16, 15)):
        got = sorted(
            tuple(r)
            for r in chunk_documents(docs, size=size, overlap=overlap).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                chunk_sql("documents", size=size, overlap=overlap)
            ).fetchall()
        )
        assert got == want, (size, overlap, got[:2], want[:2])


def test_normalize_nfc_duckdb_battery(spark):
    """Cross-engine NFC agreement: Python unicodedata (the Spark pass) must
    match DuckDB nfc_normalize (utf8proc) over a battery of decomposed
    Latin marks, Hangul jamo, the Angstrom sign, multi-mark reordering,
    ligatures (NFC-invariant), and already-composed text (idempotence) —
    plus the planted suffix used by token_suite mode='nfc'."""
    import duckdb
    import pandas as pd

    from avc_parser_spark.functions.text import normalize_nfc

    import __spark_entry__ as em

    cases = [
        "café", "Å", "vũ", "가", "Å",
        "Á̖", "ﬁle", "already composed café",
        "", "mixed é̀ stack", "x" + em._NFC_SUFFIX,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], ["i", "text"]
    )
    got = {
        r["i"]: r["text_nfc"]
        for r in normalize_nfc(df).collect()
    }
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame({"i": range(len(cases)),
                      "s": pd.array(cases, dtype="string")}),
    )
    want = dict(con.execute("select i, nfc_normalize(s) from t").fetchall())
    assert got == want
    # planted suffix really is non-trivial: NFC must shrink it
    assert len(want[10]) < len(cases[10])
    # null passthrough
    ndf = spark.createDataFrame([(0, None)], "i: int, text: string")
    assert normalize_nfc(ndf).collect()[0]["text_nfc"] is None


def test_pq_encode_matches_numpy(spark):
    """Native per-subspace L2-argmin encoding must equal a numpy
    re-derivation code-for-code (deterministic lowest-index tie-break)."""
    import numpy as np

    from avc_parser_spark.functions.similarity import pq_encode

    rng = np.random.RandomState(7)
    m, d, k = 4, 4, 8
    books = [rng.randn(k, d).round(3).tolist() for _ in range(m)]
    vecs = rng.randn(40, m * d).round(3)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    )
    got = {
        r["vec_id"]: list(r["pq_codes"])
        for r in pq_encode(df, books).collect()
    }
    for i, v in enumerate(vecs):
        want = [
            int(np.argmin(((np.asarray(books[s]) - v[s * d:(s + 1) * d]) ** 2).sum(1)))
            for s in range(m)
        ]
        assert got[i] == want, (i, got[i], want)


def test_pq_lossless_on_codeword_corpus(spark):
    """When every subvector IS a codeword, quantization is exact and the
    ADC ranking must equal brute-force cosine ranking on the same corpus
    (dot products are identical; the planted corpus has constant norms so
    cosine order == dot order)."""
    import numpy as np

    from avc_parser_spark.functions.similarity import (
        brute_force_topk,
        pq_adc_expr,
        pq_encode,
    )

    rng = np.random.RandomState(11)
    m, d, k = 4, 8, 8
    books = [rng.randn(k, d).tolist() for _ in range(m)]
    # corpus rows = random codeword picks; constant norm via normalizing
    # each codeword first
    books = [
        (np.asarray(b) / np.linalg.norm(b, axis=1, keepdims=True)).tolist()
        for b in books
    ]
    rows = []
    for i in range(60):
        picks = rng.randint(0, k, size=m)
        v = np.concatenate([np.asarray(books[s][picks[s]]) for s in range(m)])
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    q = rng.randn(m * d).tolist()
    codes = pq_encode(df, books)
    ranked = (
        codes.select("vec_id", pq_adc_expr(books, q).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col("vec_id").asc())
        .limit(10)
    )
    adc = [r["vec_id"] for r in ranked.collect()]
    exact = [r["vec_id"] for r in brute_force_topk(df, q, k=10).collect()]
    assert adc == exact


def test_pq_non_finite_codebook_rejected(spark):
    """A NaN/inf codeword (or one whose squared norm overflows) has no SQL
    double literal: building the expression must raise a ValueError that
    names the codeword, not emit `nanD`/`infD` for the SQL parser to choke
    on."""
    from avc_parser_spark.functions.similarity import ivf_assign, pq_encode

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match=r"codeword \[nan, 1\.0\]"):
        pq_encode(df, [[[0.0, 0.0], [math.nan, 1.0]]])
    with pytest.raises(ValueError, match=r"codeword \[1e\+200, 0\.0\]"):
        pq_encode(df, [[[1e200, 0.0]]])
    with pytest.raises(ValueError, match=r"codeword \[inf, 0\.0\]"):
        ivf_assign(df, [[0.5, 0.5], [math.inf, 0.0]])


def test_ivf_assign_nan_embedding(spark):
    """Embeddings are not guarded: a NaN value makes every dot of its row
    NaN, and array_max ranks NaN highest, so the row lands in cluster 0
    while its finite neighbours are assigned as usual."""
    from avc_parser_spark.functions.similarity import ivf_assign

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [math.nan, 1.0]), (2, [0.0, math.nan])],
        "vec_id: long, embedding: array<double>",
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in ivf_assign(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
    }
    assert got == {0: 1, 1: 0, 2: 0}
    nan_first = spark.range(1).select(
        F.expr("array_max(array(1.0D, double('NaN'), 2.0D))").alias("m")
    ).head()["m"]
    assert math.isnan(nan_first)


def test_ivfpq_fused_probe_equals_brute(spark):
    """The fused IVF+PQ path (assign → prune to the query's cluster →
    encode → ADC top-10) must equal brute-force over the full plant: the
    driver plant makes pruning exact (disjoint block supports) and
    quantization lossless (every subvector is a codeword). Also pins the
    closed-form encoding: code(v, s) = 0 out-of-block, else
    1 + (2v + 8s) % 5."""
    import __spark_entry__ as em

    from avc_parser_spark.functions.similarity import (
        _probe_clusters,
        ivf_assign,
        pq_adc_expr,
        pq_encode,
    )

    spark.range(0, 120).selectExpr("id AS vec_id").createOrReplaceTempView(
        "embeddings"
    )
    try:
        planted = spark.sql(em._IVFPQ_PLANT_SPARK_SQL)
        books = em._ivfpq_codebooks()
        q = em._ivfpq_plant_query_vec()

        codes = {
            r["vec_id"]: list(r["pq_codes"])
            for r in pq_encode(planted, books).collect()
        }
        for v in range(120):
            want = [
                1 + (2 * v + 8 * s) % 5 if s // 2 == v % 4 else 0
                for s in range(8)
            ]
            assert codes[v] == want, (v, codes[v], want)

        probe = _probe_clusters(q, em._ivf_plant_centroids(), n_probe=1)
        assert probe == [0]
        cand = ivf_assign(planted, em._ivf_plant_centroids()).filter(
            F.col("cluster").isin(probe)
        )
        fused = [
            r["vec_id"]
            for r in pq_encode(cand, books)
            .select(
                "vec_id",
                F.round(pq_adc_expr(books, q), 6).alias("s"),
            )
            .orderBy(F.desc("s"), F.asc("vec_id"))
            .limit(10)
            .collect()
        ]
        # exact DOT-product reference over the FULL corpus (pruning must
        # not change the answer), re-derived in pure Python from the same
        # closed form; round-then-id ranking mirrors both engines
        def vec(v: int) -> list[float]:
            return [
                1.0 + 0.1 * ((2 * v + d) % 5)
                if d // 16 == v % 4 else 0.0
                for d in range(64)
            ]

        def dot(v: int) -> float:
            return round(sum(a * b for a, b in zip(vec(v), q)), 6)

        exact = [v for v in sorted(range(120), key=lambda v: (-dot(v), v))][:10]
        assert fused == exact
    finally:
        spark.catalog.dropTempView("embeddings")


def test_cms_estimate_never_undercounts_and_exact_when_wide(spark):
    """CMS law: estimate ≥ true count for every term; with a sketch wide
    enough that no two terms collide in all rows, estimates are EXACT."""
    from avc_parser_spark.functions.dedup import cms_build, cms_estimate

    words = (
        ["alpha"] * 7 + ["beta"] * 3 + ["gamma"] * 11 + ["delta"] * 1
    )
    df = spark.createDataFrame([(w,) for w in words], "term: string")
    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("delta",), ("absent",)],
        "term: string",
    )
    wide = cms_estimate(
        cms_build(df, width=1 << 16, depth=4), probes, width=1 << 16, depth=4
    )
    got = {r["term"]: r["cms_count"] for r in wide.collect()}
    assert got == {"alpha": 7, "beta": 3, "gamma": 11, "delta": 1, "absent": 0}

    narrow = cms_estimate(
        cms_build(df, width=4, depth=2), probes, width=4, depth=2
    )
    truth = {"alpha": 7, "beta": 3, "gamma": 11, "delta": 1, "absent": 0}
    for r in narrow.collect():
        assert r["cms_count"] >= truth[r["term"]], r


def test_cms_collisions_match_python_rederivation(spark):
    """At width=4, depth=2 collisions are guaranteed; the estimate must
    equal min over rows of the sum of counts hashing to the same cell,
    re-derived in pure Python from the same md5 slices."""
    import hashlib
    from collections import Counter

    from avc_parser_spark.functions.dedup import cms_build, cms_estimate

    width, depth = 4, 2
    words = (
        ["alpha"] * 7 + ["beta"] * 3 + ["gamma"] * 11 + ["delta"] * 1
        + ["epsilon"] * 5 + ["zeta"] * 2
    )
    counts = Counter(words)

    def cell(t, r):
        return int(hashlib.md5(t.encode()).hexdigest()[8 * r:8 * r + 8], 16) % width

    def expected(t):
        return min(
            sum(n for u, n in counts.items() if cell(u, r) == cell(t, r))
            for r in range(depth)
        )

    df = spark.createDataFrame([(w,) for w in words], "term: string")
    probes = spark.createDataFrame(
        [(t,) for t in counts], "term: string"
    )
    est = cms_estimate(
        cms_build(df, width=width, depth=depth), probes,
        width=width, depth=depth,
    )
    for r in est.collect():
        assert r["cms_count"] == expected(r["term"]), r


def test_cms_heavy_hitters_exact_with_collisions(spark):
    """With an UNDERSIZED sketch (width 4, depth 2 — collisions rampant)
    the heavy-hitter set must still be exactly {terms with true count ≥
    threshold}: CMS can't undercount, so the gate admits every true heavy
    hitter; the exact verify drops every collision-inflated impostor.
    cms_count must equal the Python CMS re-derivation per survivor."""
    import hashlib
    from collections import Counter

    from avc_parser_spark.functions.dedup import cms_heavy_hitters

    words = []
    for i in range(30):
        words += [f"w{i}"] * (1 + (i * 7) % 13)
    counts = Counter(words)
    width, depth, thr = 4, 2, 8
    df = spark.createDataFrame([(w,) for w in words], "term: string")
    got = {
        r["term"]: (r["cnt"], r["cms_count"])
        for r in cms_heavy_hitters(df, thr, width=width, depth=depth).collect()
    }
    want = {t: n for t, n in counts.items() if n >= thr}
    assert {t: c[0] for t, c in got.items()} == want

    def cell(t, r):
        return int(hashlib.md5(t.encode()).hexdigest()[8 * r:8 * r + 8], 16) % width

    for t, (_, est) in got.items():
        py_est = min(
            sum(n for u, n in counts.items() if cell(u, r) == cell(t, r))
            for r in range(depth)
        )
        assert est == py_est, (t, est, py_est)


def test_cms_heavy_hitters_gate_is_codegen_filter(spark):
    """The corpus-side gate must be a native filter: no join and no
    exchange upstream of the single candidate-side aggregate."""
    from avc_parser_spark.functions.dedup import cms_heavy_hitters

    df = spark.createDataFrame(
        [(f"t{i % 5}",) for i in range(100)], "term: string"
    )
    plan = cms_heavy_hitters(df, 10, width=64, depth=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1, plan
    # (pre-AQE-finalization plan has no WholeStageCodegen spans yet; the
    # structural facts — no join, one candidate shuffle — are the gate)


def test_asof_join_matches_bruteforce(spark):
    """Union+window as-of join ≡ per-row brute force over random data:
    backward, forward, tolerance, and no-match NULLs."""
    import random

    from avc_parser_spark.functions.joins import asof_join

    rng = random.Random(7)
    lrows = [
        (i, rng.choice("abc"), float(rng.randint(0, 100)))
        for i in range(120)
    ]
    rrows = []
    seen = set()
    for j in range(40):
        g, t = rng.choice("abc"), float(rng.randint(0, 100))
        if (g, t) in seen:  # right (by, on) must be unique (documented)
            continue
        seen.add((g, t))
        rrows.append((g, t, f"v{j}"))
    left = spark.createDataFrame(lrows, "id long, g string, t double")
    right = spark.createDataFrame(rrows, "g string, t double, v string")

    def brute(direction, tol=None):
        out = {}
        for i, g, t in lrows:
            if direction == "backward":
                cands = [(rt, rv) for rg, rt, rv in rrows if rg == g and rt <= t]
                m = max(cands) if cands else None
            else:
                cands = [(rt, rv) for rg, rt, rv in rrows if rg == g and rt >= t]
                m = min(cands) if cands else None
            if m is not None and tol is not None and abs(m[0] - t) > tol:
                m = None
            out[i] = m
        return out

    for direction in ("backward", "forward"):
        got = {
            r["id"]: (
                None
                if r["t_asof"] is None
                else (r["t_asof"], r["v_asof"])
            )
            for r in asof_join(
                left, right, on="t", by=["g"], value_cols=["v"],
                direction=direction,
            ).collect()
        }
        assert got == brute(direction), direction

    got_tol = {
        r["id"]: (None if r["t_asof"] is None else (r["t_asof"], r["v_asof"]))
        for r in asof_join(
            left, right, on="t", by=["g"], value_cols=["v"], tolerance_sec=5.0
        ).collect()
    }
    assert got_tol == brute("backward", tol=5.0)


def test_asof_join_is_join_free(spark):
    """The plan must contain NO join operator — one exchange on the
    by-keys and a window carry-forward is the whole operator."""
    from avc_parser_spark.functions.joins import asof_join

    left = spark.createDataFrame([(1, "a", 1.0)], "id long, g string, t double")
    right = spark.createDataFrame([("a", 1.0, "x")], "g string, t double, v string")
    plan = asof_join(left, right, on="t", by=["g"], value_cols=["v"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_range_join_matches_bruteforce_and_no_nested_loop(spark):
    """Bucketized point-in-interval join ≡ brute-force filter (inclusive
    ends, multi-coverage, empty/inverted intervals dropped) across bucket
    widths spanning the interval sizes; plan has a hash join, never a
    nested loop or cartesian product."""
    import random

    from avc_parser_spark.functions.joins import range_join

    rng = random.Random(23)
    pts = [(i, rng.choice("ab"), float(rng.randint(0, 200))) for i in range(80)]
    ivs = []
    for j in range(25):
        lo = float(rng.randint(0, 200))
        ivs.append((rng.choice("ab"), lo, lo + rng.choice([-3.0, 0.0, 7.0, 40.0]), j))
    p_df = spark.createDataFrame(pts, "pid long, g string, p double")
    i_df = spark.createDataFrame(ivs, "g string, lo double, hi double, iid long")
    want = sorted(
        (pid, iid)
        for pid, pg, p in pts
        for ig, lo, hi, iid in ivs
        if pg == ig and lo <= p <= hi
    )
    for width in (1.0, 10.0, 500.0):
        joined = range_join(
            p_df, i_df, "p", "lo", "hi", by=["g"], bucket_width=width
        )
        got = sorted((r["pid"], r["iid"]) for r in joined.collect())
        assert got == want, width
    plan = range_join(
        p_df, i_df, "p", "lo", "hi", by=["g"], bucket_width=10.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan, plan


def test_salted_join_equals_plain_join_on_skewed_keys(spark):
    """Salting must not change results: inner and left joins over a
    heavily skewed key distribution (90% one key) equal the plain join
    row-for-row, including unmatched-left NULLs and multi-row matches."""
    from avc_parser_spark.functions.joins import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(500)],
        "id long, key string",
    )
    small = spark.createDataFrame(
        [("hot", 1.0), ("hot", 2.0), ("k20", 3.0), ("absent", 9.0)],
        "key string, v double",
    )
    for how in ("inner", "left"):
        want = sorted(
            (r["id"], r["key"], r["v"])
            for r in big.join(small, "key", how).collect()
        )
        got = sorted(
            (r["id"], r["key"], r["v"])
            for r in salted_join(big, small, "key", n_salts=8, how=how).collect()
        )
        assert got == want, how


def test_kmv_sketch_matches_duckdb_and_estimates(spark):
    """The KMV sketch table is a pure function of the value set — must be
    IDENTICAL to DuckDB's distinct-order-limit re-derivation; estimates:
    exact below k, within the ~1/√(k-2) band above."""
    import duckdb

    from avc_parser_spark.functions.dedup import kmv_build, kmv_estimate

    vals = [f"v{i % 5000}" for i in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "term: string")
    sk = kmv_build(df, k=256)
    got = [int(r["h"]) for r in sk.collect()]
    want = [
        int(r[0])
        for r in duckdb.sql(
            "SELECT DISTINCT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h "
            "FROM (SELECT unnest($v) AS t) ORDER BY h LIMIT 256",
            params={"v": vals},
        ).fetchall()
    ]
    assert sorted(got) == want

    est = kmv_estimate(got, k=256)
    assert abs(est - 5000) < 5000 * 0.35  # ~5σ at k=256

    small = kmv_build(
        spark.createDataFrame([(f"s{i}",) for i in range(40)], "term: string"),
        k=256,
    )
    small_hashes = [int(r["h"]) for r in small.collect()]
    assert kmv_estimate(small_hashes, k=256) == 40  # exhaustive → exact


def test_kmv_build_grouped_matches_per_group_and_merges(spark):
    """Per-group sketches from the single grouped pass == kmv_build over
    each group's subset; and (groups partition the stream) merging all
    groups' sketches == the whole-stream sketch."""
    from avc_parser_spark.functions.dedup import kmv_build, kmv_build_grouped

    rows = [("a", f"x{i % 700}") for i in range(3000)] + [
        ("b", f"y{i % 40}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, "grp: string, term: string")
    grouped: dict[str, list[int]] = {}
    for r in kmv_build_grouped(df, "grp", k=128).collect():
        grouped.setdefault(r["grp"], []).append(int(r["h"]))
    for g in ("a", "b"):
        want = sorted(
            int(r["h"])
            for r in kmv_build(
                df.filter(F.col("grp") == g), k=128
            ).collect()
        )
        assert sorted(grouped[g]) == want, g
    merged = sorted(set(grouped["a"]) | set(grouped["b"]))[:128]
    whole = sorted(int(r["h"]) for r in kmv_build(df, k=128).collect())
    assert merged == whole


def test_kmv_intersection_estimate(spark):
    """Theta-style intersection: exact when both streams are below k;
    within the error band on larger overlapping streams — the set
    operation HLL cannot express."""
    from avc_parser_spark.functions.dedup import (
        kmv_build,
        kmv_intersect_estimate,
    )

    def hashes(df):
        return [int(r["h"]) for r in kmv_build(df, k=256).collect()]

    a_small = spark.createDataFrame(
        [(f"x{i}",) for i in range(60)], "term: string"
    )
    b_small = spark.createDataFrame(
        [(f"x{i}",) for i in range(40, 100)], "term: string"
    )
    ask, bsk = hashes(a_small), hashes(b_small)
    assert kmv_intersect_estimate(ask, bsk, k=256) == 20  # x40..x59 exact

    a_big = spark.createDataFrame(
        [(f"y{i}",) for i in range(4000)], "term: string"
    )
    b_big = spark.createDataFrame(
        [(f"y{i}",) for i in range(2000, 6000)], "term: string"
    )
    est = kmv_intersect_estimate(hashes(a_big), hashes(b_big), k=256)
    assert abs(est - 2000) < 2000 * 0.6  # intersection noise compounds
    disjoint = kmv_intersect_estimate(
        hashes(a_big),
        hashes(
            spark.createDataFrame([(f"z{i}",) for i in range(4000)], "term: string")
        ),
        k=256,
    )
    assert disjoint == 0


def test_training_order_md5_matches_python_and_is_partition_invariant(spark):
    """(shard, pos) equals a pure-Python md5 re-derivation (the
    cross-engine contract) and is invariant to input partitioning — the
    reproducible-training-order property."""
    import hashlib

    from avc_parser_spark.functions.text import training_order

    ids = list(range(200))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id: long")
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in training_order(df, 8, method="md5").collect()
    }

    keys = {i: int(hashlib.md5(str(i).encode()).hexdigest()[:14], 16) for i in ids}
    want = {}
    for s in range(8):
        members = sorted(
            (i for i in ids if keys[i] % 8 == s), key=lambda i: (keys[i], i)
        )
        for p, i in enumerate(members, start=1):
            want[i] = (s, p)
    assert got == want

    scrambled = df.repartition(7)
    again = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in training_order(scrambled, 8, method="md5").collect()
    }
    assert again == got


def test_training_order_no_global_sort(spark):
    """One hash exchange on shard, local sorts only — never a corpus-wide
    range sort."""
    from avc_parser_spark.functions.text import training_order

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id: long")
    plan = training_order(df, 4)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") == 1, plan


def test_cms_counters_match_duckdb(spark):
    """The counter table over the sf0.001 documents word stream must be
    bit-identical to a DuckDB re-derivation from the same md5 slices —
    the cross-engine pin the driver 'cms' mode relies on."""
    import duckdb

    from avc_parser_spark.functions.dedup import cms_build

    width, depth = 64, 4
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    got = {
        (r["r"], r["c"]): r["cnt"]
        for r in cms_build(terms, width=width, depth=depth).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(f"""
            WITH words AS (
              SELECT unnest(string_split(text, ' ')) AS term FROM documents
            ), w AS (SELECT term FROM words WHERE term <> ''),
            cells AS (
              SELECT r.r AS r,
                     ('0x' || substr(md5(term), 1 + 8 * r.r, 8))::BIGINT
                       % {width} AS c
              FROM w CROSS JOIN (SELECT unnest(range(0, {depth})) AS r) r
            )
            SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c
        """).fetchall()
    }
    assert got == want


def test_hll_registers_match_duckdb(spark):
    """The register table over the sf0.001 documents word stream must be
    bit-identical to a DuckDB re-derivation from the same md5-slice hash
    (idx = low p bits, rho via length(bin(w))) — the cross-engine pin the
    driver 'hll' mode relies on."""
    import duckdb

    from avc_parser_spark.functions.dedup import hll_build

    p = 6
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    got = {
        int(r["idx"]): int(r["rho"]) for r in hll_build(terms, p=p).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = dict(con.execute(f"""
        WITH words AS (
          SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ), w AS (SELECT term FROM words WHERE term <> ''),
        h AS (SELECT ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM w),
        reg AS (SELECT h % {1 << p} AS idx, h // {1 << p} AS wv FROM h)
        SELECT idx,
               max(CASE WHEN wv > 0 THEN {60 - p} - (length(bin(wv)) - 1)
                        ELSE {60 - p + 1} END) AS rho
        FROM reg GROUP BY idx
    """).fetchall())
    assert got == want


def test_hll_estimate_accuracy_and_python_parity(spark):
    """p=12 estimate over 20k distinct values lands within 5 sigma
    (~5.2%) of truth, and the estimate equals a full pure-Python HLL
    re-derivation from hashlib (same hash, same registers, same formula)
    — pinning the whole pipeline, not just the formula."""
    import hashlib

    from avc_parser_spark.functions.dedup import hll_build, hll_estimate

    p, n = 12, 20000
    vals = spark.range(n).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("term")
    )
    est = hll_estimate(hll_build(vals, p=p), p=p)
    assert abs(est - n) / n < 5 * 1.04 / (1 << p) ** 0.5, est

    regs: dict[int, int] = {}
    m, bits = 1 << p, 60
    for i in range(n):
        h = int(hashlib.md5(f"doc-{i}".encode()).hexdigest()[:15], 16)
        idx, w = h % m, h >> p
        rho = (bits - p) - (w.bit_length() - 1) if w else bits - p + 1
        regs[idx] = max(regs.get(idx, 0), rho)
    denom = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    want = alpha * m * m / denom
    zeros = m - len(regs)
    if want <= 2.5 * m and zeros > 0:
        import math

        want = m * math.log(m / zeros)
    assert est == want


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinalities fall into the linear-counting branch and come
    out near-exact (error < 1 at 10 distinct, p=12)."""
    from avc_parser_spark.functions.dedup import hll_build, hll_estimate

    vals = spark.createDataFrame(
        [(f"u{i}",) for i in range(10) for _ in range(3)], "term: string"
    )
    est = hll_estimate(hll_build(vals, p=12), p=12)
    assert abs(est - 10) < 1, est


def test_jpeg_resize_nearest_neighbor():
    """_resize_jpeg: flat even-valued 16×16 (exact-roundtrip subspace) →
    4×4 through decode → NN → re-encode at quality 50; the resized payload
    decodes byte-exactly to the NN index of the source (flatness survives
    sampling AND the encoder's edge-replication MCU padding). A mosaic
    source also resizes (shape + decodability), and already-small /
    non-JPEG payloads return identity / None."""
    import numpy as np

    from avc_parser_spark.functions.jpeg import decode_jpeg_pixels, encode_jpeg
    from avc_parser_spark.functions.multimodal import _resize_jpeg

    flat = np.full((16, 16), 214, dtype=np.uint8)
    small_payload = _resize_jpeg(encode_jpeg(flat, quality=50), 4)
    out, ncomp = decode_jpeg_pixels(small_payload)
    assert ncomp == 1 and out.shape == (4, 4)
    assert np.array_equal(out, flat[:4, :4])

    blocks = np.array([[20, 60], [100, 140]], dtype=np.uint8)
    mosaic = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
    rp = _resize_jpeg(encode_jpeg(mosaic, quality=50), 4)
    rout, _ = decode_jpeg_pixels(rp)
    assert rout.shape == (4, 4)  # lossy in general — shape+decode only

    p = encode_jpeg(flat[:4, :4], quality=50)
    assert _resize_jpeg(p, 4) is p  # identity object → already_small
    assert _resize_jpeg(b"\x89PNG\r\n\x1a\n", 4) is None
    assert _resize_jpeg(b"\xff\xd8\xff\xe0junk", 4) is None


def test_weighted_sample_matches_python_rederivation(spark):
    """The selected set and key values equal a pure-Python Efraimidis-
    Spirakis re-derivation with the same md5/ln/micro-quantized integer
    arithmetic — the engine-portability contract."""
    import hashlib
    import math

    from avc_parser_spark.functions.text import weighted_sample

    rows = [(i, (i * 37) % 90 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id: long, w: long")
    got = [
        (r["doc_id"], r["sample_key"])
        for r in weighted_sample(df, 40, "w").collect()
    ]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        neglnu = round(-math.log((h + 1) / float(1 << 60)) * 1_000_000)
        return (neglnu * 1_000_000) // w

    want = sorted(((key(i, w), i) for i, w in rows))[:40]
    assert got == [(i, k) for k, i in want]


def test_weighted_sample_prefers_heavy_weights(spark):
    """Docs with 1000x the weight dominate the sample (inclusion
    probability is proportional to weight)."""
    from avc_parser_spark.functions.text import weighted_sample

    rows = [(i, 1000 if i < 100 else 1) for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id: long, w: long")
    picked = {r["doc_id"] for r in weighted_sample(df, 50, "w").collect()}
    assert sum(1 for i in picked if i < 100) >= 45, picked


def test_weighted_sample_excludes_nonpositive_and_plan(spark):
    """Zero/negative/NULL weights never appear; the physical plan is a
    shuffle-free TakeOrderedAndProject over one narrow projection."""
    from avc_parser_spark.functions.text import weighted_sample

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -4), (4, None), (5, 7)],
        "doc_id: long, w: long",
    )
    out = weighted_sample(df, 10, "w")
    assert {r["doc_id"] for r in out.collect()} == {1, 5}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def _plant_edges(n):
    """The link_graph_suite planted graph: ring + affine scatter + local
    hubs (every (i div 10)*10 collects its block's 9 members)."""
    edges = []
    for i in range(n):
        edges.append((i, (i + 1) % n))
        edges.append((i, (i * 31 + 7) % n))
        if i % 10 != 0:
            edges.append((i, (i // 10) * 10))
    return edges


def _pagerank_py(edges, iters, damping=850_000):
    """Pure-Python integer-micro PageRank — the engine-portability twin."""
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    out_deg = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    rank = {v: 1_000_000 for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += rank[a] // out_deg[a]
        rank = {
            v: (1_000_000 - damping) + (damping * s[v]) // 1_000_000
            for v in nodes
        }
    return rank


def test_pagerank_matches_python_rederivation(spark):
    """Spark ranks equal the pure-Python integer re-derivation exactly —
    the bit-exact cross-engine contract behind the DuckDB oracle."""
    from avc_parser_spark.functions.graph import pagerank_micro

    edges = _plant_edges(50)
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(df, 8).collect()}
    assert got == _pagerank_py(edges, 8)


def test_pagerank_hubs_dominate_and_iter0(spark):
    """Local hubs (9 extra in-links) outrank every non-hub; iters=0 is the
    uniform start vector."""
    from avc_parser_spark.functions.graph import pagerank_micro

    edges = _plant_edges(100)
    df = spark.createDataFrame(edges, "src: long, dst: long")
    ranks = {r["node"]: r["rank_micro"] for r in pagerank_micro(df, 8).collect()}
    hubs = [v for v in ranks if v % 10 == 0]
    rest = [v for v in ranks if v % 10 != 0]
    assert min(ranks[v] for v in hubs) > max(ranks[v] for v in rest)
    flat = pagerank_micro(df, 0).collect()
    assert {r["rank_micro"] for r in flat} == {1_000_000}


def test_degree_stats_full_outer_and_parallel_edges(spark):
    """Sink-only and source-only nodes appear with the missing side 0;
    parallel edges count once each."""
    from avc_parser_spark.functions.graph import degree_stats

    df = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (3, 1)], "src: long, dst: long"
    )
    got = {
        r["node"]: (r["out_deg"], r["in_deg"])
        for r in degree_stats(df).collect()
    }
    assert got == {1: (3, 1), 2: (0, 2), 3: (1, 1)}


def test_pagerank_dangling_leak_is_pinned(spark):
    """A dangling node contributes nothing (documented mass leak): in
    1 -> 2 with 2 dangling, after one round rank(1)=reset and
    rank(2)=reset + 850000*1000000 div 1e6."""
    from avc_parser_spark.functions.graph import pagerank_micro

    df = spark.createDataFrame([(1, 2)], "src: long, dst: long")
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(df, 1).collect()}
    assert got == {1: 150_000, 2: 1_000_000}


def _trustrank_py(edges, seeds, iters, damping=850_000):
    """Pure-Python integer-micro TrustRank twin (seed-only reset/start)."""
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    out_deg = {}
    for a, _ in edges:
        out_deg[a] = out_deg.get(a, 0) + 1
    reset = 1_000_000 - damping
    rank = {v: (1_000_000 if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += rank[a] // out_deg[a]
        rank = {
            v: (reset if v in seeds else 0) + (damping * s[v]) // 1_000_000
            for v in nodes
        }
    return rank


def test_trustrank_matches_python_and_unreachable_zero(spark):
    """Seeded pagerank_micro equals the pure-Python TrustRank twin exactly,
    and a node with no path from any seed converges to exactly 0."""
    from avc_parser_spark.functions.graph import pagerank_micro

    # seeds 0,100,200,300,400 (the plant); node 999 -> 998 is an island
    # unreachable from every seed.
    edges = _plant_edges(50) + [(999, 998), (998, 999)]
    seeds = [0, 10, 20, 30, 40]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node: long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(df, 8, seeds=sdf).collect()
    }
    assert got == _trustrank_py(edges, set(seeds), 8)
    assert got[999] == 0 and got[998] == 0
    assert got[0] > 0


def test_two_hop_reach_exact_counts(spark):
    """Hand-derived reach on a path + cycle: 1->2->3->4 and 5<->6."""
    from avc_parser_spark.functions.graph import two_hop_reach

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 5)], "src: long, dst: long"
    )
    got = {r["node"]: r["reach2"] for r in two_hop_reach(df).collect()}
    # 1 reaches {2,3}; 2 reaches {3,4}; 3 reaches {4}; 5 reaches {6,5};
    # 6 reaches {5,6} (cycle self-reach is counted, pinned).
    assert got == {1: 2, 2: 2, 3: 1, 5: 2, 6: 2}


def _hits_py(edges, iters):
    """Pure-Python integer max-normalized HITS twin of graph.hits_micro."""
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    auth = {v: 1_000_000 for v in nodes}
    hub = {v: 1_000_000 for v in nodes}
    for _ in range(iters):
        ar = {v: 0 for v in nodes}
        for a, b in edges:
            ar[b] += hub[a]
        am = max(ar.values())
        auth = {v: ar[v] * 1_000_000 // am for v in nodes}
        hr = {v: 0 for v in nodes}
        for a, b in edges:
            hr[a] += auth[b]
        hm = max(hr.values())
        hub = {v: hr[v] * 1_000_000 // hm for v in nodes}
    return auth, hub


def test_hits_matches_python_rederivation(spark):
    """hits_micro equals the pure-Python integer twin exactly (the
    bit-exact cross-engine contract behind the unrolled DuckDB chain)."""
    from avc_parser_spark.functions.graph import hits_micro

    edges = _plant_edges(50)
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["node"]: (r["auth_micro"], r["hub_micro"])
        for r in hits_micro(df, 4).collect()
    }
    auth, hub = _hits_py(edges, 4)
    assert got == {v: (auth[v], hub[v]) for v in auth}


def test_hits_separates_hubs_from_authorities(spark):
    """Directory-page structure: node 0 links to 1..5, each of which links
    to 6. Node 0 is the best hub but a zero authority (nothing links to
    it); the mid-layer nodes split the difference. iters=0 = start."""
    from avc_parser_spark.functions.graph import hits_micro

    edges = [(0, v) for v in range(1, 6)] + [(v, 6) for v in range(1, 6)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["node"]: (r["auth_micro"], r["hub_micro"])
        for r in hits_micro(df, 3).collect()
    }
    assert got[0] == (0, 1_000_000)  # no in-links, but links to all mids
    assert got[6] == (1_000_000, 0)  # collects every mid hub, no out-links
    for v in range(1, 6):
        # hand-derived fixed point: auth = 1e6·1e6 // 5e6; hub ties at max
        # (each mid links to THE top authority, same as 0's full sum)
        assert got[v] == (200_000, 1_000_000)
    flat = hits_micro(df, 0).collect()
    assert {(r["auth_micro"], r["hub_micro"]) for r in flat} == {
        (1_000_000, 1_000_000)
    }


def test_exact_quantiles_matches_numpy_style_rederivation(spark):
    """Percentiles equal the pinned smallest-value-with-cum>=ceil(q*n/100)
    definition re-derived in pure Python; NULLs excluded from n."""
    from avc_parser_spark.functions.text import exact_quantiles

    vals = [(i % 37) * (i % 11) for i in range(1000)]
    rows = [(v,) for v in vals] + [(None,)] * 25
    df = spark.createDataFrame(rows, "v: long")
    got = {
        r["q"]: (r["value"], r["n_total"])
        for r in exact_quantiles(df, "v", (1, 25, 50, 75, 99, 100)).collect()
    }
    sv = sorted(vals)
    n = len(sv)
    for q in (1, 25, 50, 75, 99, 100):
        thr = (q * n + 99) // 100
        assert got[q] == (sv[thr - 1], n), (q, got[q])


def test_exact_quantiles_validates_q(spark):
    import pytest as _pt

    from avc_parser_spark.functions.text import exact_quantiles

    df = spark.createDataFrame([(1,)], "v: long")
    with _pt.raises(ValueError):
        exact_quantiles(df, "v", (0, 50))
    with _pt.raises(ValueError):
        exact_quantiles(df, "v", ())


def test_extract_links_pinned_subset(spark):
    """Double-quoted hrefs extracted case-insensitively with optional
    spaces; single-quoted/unquoted are outside the pinned subset; linkless
    and NULL-html docs vanish; binary html decodes."""
    from avc_parser_spark.functions.text import extract_links

    rows = [
        (0, '<a href="https://a.com/x">t</a><p><A HREF = "http://b.com">u</A>'),
        (1, "<a href='https://nope.com'>s</a><a href=bare>b</a>"),
        (2, None),
        (3, '<a href="">empty ok</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = sorted(
        (r["doc_id"], r["href"]) for r in extract_links(df).collect()
    )
    assert got == [(0, "http://b.com"), (0, "https://a.com/x"), (3, "")]

    bdf = spark.createDataFrame(
        [(9, bytearray(b'<a href="https://bin.com">z</a>'))],
        "doc_id long, html binary",
    )
    assert [r["href"] for r in extract_links(bdf).collect()] == [
        "https://bin.com"
    ]


def test_pagerank_multi_equals_singles(spark):
    """k variants in one loop produce exactly the same ranks as k separate
    single-variant runs (columns ride the same join, arithmetic identical)."""
    from avc_parser_spark.functions.graph import (
        pagerank_micro,
        pagerank_micro_multi,
    )

    edges = _plant_edges(60)
    df = spark.createDataFrame(edges, "src: long, dst: long")
    seeds = spark.createDataFrame([(0,), (30,)], "node: long")
    both = {
        r["node"]: (r["rank_pr"], r["rank_tr"])
        for r in pagerank_micro_multi(df, {"pr": None, "tr": seeds}, 6).collect()
    }
    single_pr = {
        r["node"]: r["rank_micro"] for r in pagerank_micro(df, 6).collect()
    }
    single_tr = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(df, 6, seeds=seeds).collect()
    }
    assert both == {v: (single_pr[v], single_tr[v]) for v in single_pr}


def test_extract_links_differential_vs_python_re(spark):
    """Java-regex extraction ≡ Python re.findall over adversarial ASCII
    html (alphabet kept ASCII: Java \\s is ASCII-only while Python's is
    Unicode-wide — exotic whitespace is outside the pinned subset)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from avc_parser_spark.functions.text import _HREF_PATTERN, extract_links

    alphabet = st.sampled_from(list('<>ab"=href HREF\'/x.:'))
    pat = re.compile(_HREF_PATTERN)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.text(alphabet, max_size=40), min_size=1, max_size=6))
    def check(htmls):
        df = spark.createDataFrame(
            [(i, h) for i, h in enumerate(htmls)], "doc_id long, html string"
        )
        got = sorted(
            (r["doc_id"], r["href"]) for r in extract_links(df).collect()
        )
        want = sorted(
            (i, m) for i, h in enumerate(htmls) for m in pat.findall(h)
        )
        assert got == want

    check()


def _span_corrupt_py(rows, ratio=150):
    """Pure-Python twin of span_corrupt's pinned spec."""
    import hashlib

    out = {}
    for did, text in rows:
        toks = [t for t in (text or "").strip().split() if t]
        m = [
            int(hashlib.md5(f"{did}:{i}".encode()).hexdigest()[:15], 16)
            % 1000 < ratio
            for i in range(len(toks))
        ]
        inp, spans, cur = [], [], None
        for i, t in enumerate(toks):
            if m[i]:
                if cur is None:
                    cur = [i, []]
                cur[1].append(t)
            else:
                if cur is not None:
                    spans.append(cur)
                    cur = None
                inp.append((i, t))
        if cur is not None:
            spans.append(cur)
        pieces = inp + [
            (start, f"<extra_id_{k}>") for k, (start, _) in enumerate(spans)
        ]
        pieces.sort()
        out[did] = (
            " ".join(t for _, t in pieces),
            " ".join(
                f"<extra_id_{k}> " + " ".join(body)
                for k, (_, body) in enumerate(spans)
            ),
            len(spans),
            sum(len(b) for _, b in spans),
        )
    return out


def test_span_corrupt_matches_python_twin(spark):
    """input/target/n_spans/n_masked equal the pure-Python re-derivation
    (same md5 gate, same island merging) — incl. blank and all-masked docs."""
    from avc_parser_spark.functions.text import span_corrupt

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(i % 17))) for i in range(60)]
    rows += [(100, ""), (101, "   "), (102, "single")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["input_text"], r["target_text"], r["n_spans"], r["n_masked"]
        )
        for r in span_corrupt(df, 400).collect()
    }
    assert got == _span_corrupt_py(rows, 400)
    # sanity: a high ratio actually masks something in this corpus
    assert sum(v[3] for v in got.values()) > 50


def test_span_corrupt_ratio_bounds(spark):
    import pytest as _pt

    from avc_parser_spark.functions.text import span_corrupt

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pt.raises(ValueError):
        span_corrupt(df, -1)
    with _pt.raises(ValueError):
        span_corrupt(df, 1001)
    # ratio 0 → identity input, empty targets
    r = span_corrupt(df, 0).collect()[0]
    assert (r["input_text"], r["target_text"], r["n_spans"]) == ("a b", "", 0)


def test_fim_transform_matches_python_twin(spark):
    """PSM layout and cut offsets equal the pure-Python md5 re-derivation;
    roundtrip: prefix+middle+suffix reassembles the original text."""
    import hashlib

    from avc_parser_spark.functions.text import fim_transform

    rows = [(i, ("word%d " % i) * (i % 9)) for i in range(40)] + [(99, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["fim_text"], r["cut_lo"], r["cut_hi"])
        for r in fim_transform(df).collect()
    }
    for did, text in rows:
        cuts = sorted(
            int(hashlib.md5(f"{did}:{i}".encode()).hexdigest()[:15], 16)
            % (len(text) + 1)
            for i in (1, 2)
        )
        lo, hi = cuts
        want = f"<PRE>{text[:lo]}<SUF>{text[hi:]}<MID>{text[lo:hi]}"
        assert got[did] == (want, lo, hi), did
        # roundtrip
        f = got[did][0]
        pre = f[len("<PRE>"):f.index("<SUF>")]
        suf = f[f.index("<SUF>") + 5:f.index("<MID>")]
        mid = f[f.index("<MID>") + 5:]
        assert pre + mid + suf == text


def test_fim_transform_is_shuffle_free(spark):
    from avc_parser_spark.functions.text import fim_transform

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    plan = fim_transform(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
