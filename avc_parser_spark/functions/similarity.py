"""Similarity search over an embedding column (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline — narrow map (native dot product
  via F.zip_with + F.aggregate), then a single top-k (orderBy+limit, which
  Spark executes as TakeOrdered: per-partition heap + driver merge of k·P
  rows, no full sort shuffle).
- LSH-bucketed ANN: sign-random-projection buckets as the shuffle key; query
  probes only its own bucket (and neighbors at higher recall). At 10^12 rows
  the bucket table is written bucketed-by(bucket) so probes are
  partition-pruned scans.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """Native dot product: zip_with multiply + aggregate sum (no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a constant query vector.

    The query vector is a literal array → constant-folded; scan is narrow;
    only k·partitions rows reach the driver (TakeOrderedAndProject)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def lsh_project_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: one bit per hyperplane."""
    bits = [
        F.when(dot_expr(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, 1 << i).otherwise(0)
        for i, p in enumerate(planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure function of seed)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cluster assignment: argmax dot-product against a small centroid
    set — native expressions only (one greatest() over N dot products).

    At 10^12 scale the assigned table is written bucketed by `cluster`, so
    a probe scans only its clusters (partition pruning), the IVF classic.

    Centroids must be finite (a ValueError names the bad codeword), but
    embeddings are not checked: a NaN embedding value makes every dot of
    that row NaN, and array_max ranks NaN above every double, so such a
    row lands in cluster 0."""
    # Built as ONE parsed SQL expression, not a k-deep F.when chain of
    # k zip_with/aggregate Column trees: the py4j call per lit/lambda made
    # construction alone cost ~0.5 s per call at k=4, dim=64 (r6, guide
    # §1.2 step 2). array_position over array_max picks the FIRST maximal
    # dot — the same earliest-index tie-break as the former strict-greater
    # when-chain, over identically-computed doubles.
    scores = (
        "array(" + ",".join(_dot_sql(f"`{vec_col}`", c) for c in centroids) + ")"
    )
    best = F.expr(
        f"CAST(array_position({scores}, array_max({scores})) - 1 AS INT)"
    )
    return embeddings.withColumn("cluster", best)


def train_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Mini k-means: deterministic seeded init from a sample, then `iters`
    Lloyd steps computed distributively (groupBy cluster → avg per dim via
    posexplode — one shuffle per iteration on (cluster, dim))."""
    import numpy as np

    sample = np.array(
        [list(r[vec_col]) for r in embeddings.select(vec_col).limit(512).collect()],
        dtype="float64",
    )
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]

    for _ in range(iters):
        assigned = ivf_assign(embeddings, centroids.tolist(), vec_col)
        means = (
            assigned.select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = centroids.copy()
        for r in means:
            new[r["cluster"]][r["dim"]] = r["m"]
        centroids = new
    return centroids.tolist()


def _probe_clusters(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The n_probe centroid ids nearest (by dot product) to the query."""
    import numpy as np

    q = np.asarray(query_vec, dtype="float64")
    order = np.argsort([-float(np.dot(q, c)) for c in centroids])
    return [int(i) for i in order[:n_probe]]


def _topk_within(
    candidates: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact cosine top-k inside an (already pruned) candidate set."""
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        candidates.select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), qcol), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe the n_probe nearest clusters, exact cosine
    within them. Recall grows with n_probe; n_probe=len(centroids) is
    exact."""
    probe = _probe_clusters(query_vec, centroids, n_probe)
    assigned = ivf_assign(embeddings, centroids, vec_col)
    return _topk_within(
        assigned.filter(F.col("cluster").isin(probe)), query_vec, k, id_col, vec_col
    )


def write_ivf_table(
    embeddings: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-assigned embedding table hive-partitioned by
    `cluster` (no Iceberg in this environment; a directory per cluster is
    the partition-pruning layout). This is the storage half of the 10^12
    design: probes against the stored table scan ONLY the probed clusters'
    files — asserted by the PartitionFilters plan gate in
    tests/test_streaming_plans.py."""
    ivf_assign(embeddings, centroids, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(path)


def ivf_topk_stored(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe over the STORED assigned table: the cluster predicate is a
    partition filter, so the scan reads only n_probe of the cluster
    directories (no full pass, no assignment recompute)."""
    probe = _probe_clusters(query_vec, centroids, n_probe)
    stored = spark.read.parquet(path).filter(F.col("cluster").isin(probe))
    return _topk_within(stored, query_vec, k, id_col, vec_col)


def write_lsh_table(
    embeddings: DataFrame,
    planes: list[list[float]],
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the LSH-bucketed embedding table hive-partitioned by
    `bucket` — the stored twin of lsh_topk's bucket probe."""
    embeddings.withColumn(
        "bucket", lsh_project_bucket(F.col(vec_col), planes)
    ).write.mode("overwrite").partitionBy("bucket").parquet(path)


def lsh_topk_stored(
    spark,
    path: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    multi_probe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH probe over the STORED bucketed table (partition-pruned scan of
    the query's bucket + multi-probe neighbors)."""
    import numpy as np

    dots = [float(np.dot(query_vec, p)) for p in planes]
    qbits = 0
    for i, d in enumerate(dots):
        if d >= 0:
            qbits |= 1 << i
    flip_order = sorted(range(len(planes)), key=lambda i: abs(dots[i]))
    probes = [qbits] + [qbits ^ (1 << i) for i in flip_order[:multi_probe]]
    stored = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    return _topk_within(stored, query_vec, k, id_col, vec_col)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    multi_probe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket (plus multi-probe neighbors),
    then exact cosine within the probed buckets.

    multi_probe = number of extra single-bit-flip buckets to probe, ordered
    by how close the query sits to each hyperplane (|dot| ascending — the
    planes most likely to have put a true neighbor on the other side).
    multi_probe=0 is the classic single-bucket probe (recall < 1);
    multi_probe=n_planes probes all Hamming-1 neighbors. The bucket column
    doubles as a bucketing key for the stored table so every probe is a
    pruned scan, not a full pass."""
    planes = make_planes(len(query_vec), n_planes)
    import numpy as np

    dots = [float(np.dot(query_vec, p)) for p in planes]
    qbits = 0
    for i, d in enumerate(dots):
        if d >= 0:
            qbits |= 1 << i
    # nearest-plane-first bit flips
    flip_order = sorted(range(n_planes), key=lambda i: abs(dots[i]))
    probes = [qbits] + [qbits ^ (1 << i) for i in flip_order[:multi_probe]]

    bucketed = embeddings.withColumn(
        "bucket", lsh_project_bucket(F.col(vec_col), planes)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --- int8 scalar quantization (embedding storage compression) -------------
#
# At 10^12 vectors the embedding column dominates storage; per-vector
# min/max scalar quantization stores uint8 codes + two floats = ~4× smaller
# than float32 with ~1e-2 cosine error at typical dims. Both directions are
# pure native array expressions (transform/aggregate — whole-stage codegen,
# no UDF), so quantize-on-write and dequantize-on-read ride the scan.


def quantize_embedding_expr(emb: Column) -> Column:
    """array<float> → struct(codes: array<int> in [0,255], lo, hi).
    Degenerate constant vectors (hi == lo) code to 0 with scale kept
    harmless (dequantize returns the constant)."""
    lo = F.array_min(F.transform(emb, lambda x: x.cast("double")))
    hi = F.array_max(F.transform(emb, lambda x: x.cast("double")))
    rng = hi - lo
    codes = F.transform(
        emb,
        lambda x: F.when(rng > 0,
                         F.round((x.cast("double") - lo) / rng * 255))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return F.struct(
        codes.alias("codes"),
        lo.cast("float").alias("lo"),
        hi.cast("float").alias("hi"),
    )


def dequantize_embedding_expr(qcol: Column) -> Column:
    """struct(codes, lo, hi) → array<float> reconstruction."""
    lo = qcol["lo"].cast("double")
    hi = qcol["hi"].cast("double")
    rng = hi - lo
    return F.transform(
        qcol["codes"],
        lambda c: (
            F.when(rng > 0, lo + c.cast("double") / 255.0 * rng).otherwise(lo)
        ).cast("float"),
    )


def quantized_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    q_col: str = "q",
) -> DataFrame:
    """Brute-force cosine top-k over QUANTIZED vectors: dequantize inside
    the scan projection and rank — the memory-bandwidth win of reading
    uint8 codes instead of float32 is exactly what a 10^12-row scan needs;
    the TakeOrdered top-k shape is identical to the float path."""
    qv = F.array(*[F.lit(float(v)) for v in query_vec])
    deq = dequantize_embedding_expr(F.col(q_col))
    return (
        emb.select(
            F.col(id_col),
            F.round(
                dot_expr(deq, qv) / (norm_expr(deq) * norm_expr(qv)), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the classic ANN compression path (Jégou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011). A 64-dim
# float32 vector (256 B) becomes m uint8 codes (m bytes) — 32× smaller at
# m=8 — and query scoring needs only the codes table plus an m×k lookup
# table built from the query on the driver. At 10^12 vectors the codes
# table is the only thing scanned: no shuffle, no Python, one
# TakeOrderedAndProject (plan-gated in tests).
# ---------------------------------------------------------------------------


def _double_sql(x: float, codeword: list[float]) -> str:
    """`x` as a SQL double literal. NaN/inf have no literal form (`nanD`
    fails to parse), so a non-finite value derived from `codeword` is
    rejected here, naming the codeword, instead of inside the SQL parser."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite value {x!r} from codeword {list(codeword)!r}"
        )
    return repr(x) + "D"


def _dot_sql(subvec_sql: str, c: list[float]) -> str:
    """SQL text of dot_expr(subvec, lit array) — identical zip_with /
    aggregate arithmetic, but one driver-side string instead of ~2·dim
    py4j calls (repr() round-trips every double exactly, and the JVM
    parses shortest-repr decimals back to the same double)."""
    arr = "array(" + ",".join(_double_sql(x, c) for x in c) + ")"
    return (
        f"aggregate(zip_with({subvec_sql}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _l2_argmin_sql(subvec_sql: str, codebook: list[list[float]]) -> str:
    """SQL text of the L2 argmin over a small codebook — expanded to
    ||c||² - 2·<sub,c> (the ||sub||² term is constant across codewords);
    native expressions only. Shape is a FLAT k-wide score array +
    array_position(array_min) — a nested when-ladder embeds every prior
    score in each rung, and the doubled tree overflows the JVM
    expression-converter stack at m=8,k=16 (hard-won). array_position
    returns the FIRST match ⇒ deterministic lowest-index tie-break, and
    both sides compare the same computed double so equality is exact.
    Emitted as ONE parseable string for the same py4j-cost reason as
    _dot_sql (construction measured ~5 s per pq_encode call before)."""
    scores = "array(" + ",".join(
        f"({_double_sql(sum(x * x for x in c), c)}"
        f" - ({_dot_sql(subvec_sql, c)} * 2.0D))"
        for c in codebook
    ) + ")"
    return f"CAST(array_position({scores}, array_min({scores})) - 1 AS INT)"


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 4,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks (k codewords each) with L2 Lloyd
    steps, ALL subspaces in one job per iteration: the corpus is exploded
    once into (sub, subvec) rows and persisted; each iteration is one
    assignment projection + ONE groupBy shuffle on (sub, cluster, dim),
    collecting only m·k·(dim/m) = k·dim doubles to the driver — the same
    bounded-loop contract as train_centroids/train_quality_classifier."""
    import numpy as np

    first = embeddings.select(vec_col).first()
    if first is None:
        raise ValueError("no vectors to train on")
    dim = len(first[vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m

    sub = embeddings.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(F.col(vec_col), s * d + 1, d).alias("subvec"),
                )
                for s in range(m)
            ])
        ).alias("e")
    ).select("e.sub", "e.subvec").persist()
    try:
        # deterministic seeded init per subspace from one bounded sample
        sample = sub.limit(512 * m).collect()
        by_sub: dict[int, list[list[float]]] = {}
        for r in sample:
            by_sub.setdefault(r["sub"], []).append(list(r["subvec"]))
        rng = np.random.RandomState(seed)
        books = []
        for s in range(m):
            pool = np.array(by_sub[s], dtype="float64")
            idx = rng.choice(len(pool), size=k, replace=False)
            books.append(pool[idx])

        for _ in range(iters):
            assign_sql = "0"
            for s in range(m):
                assign_sql = (
                    f"(CASE WHEN (sub = {s}) THEN "
                    f"({_l2_argmin_sql('subvec', books[s].tolist())}) "
                    f"ELSE {assign_sql} END)"
                )
            assign = F.expr(assign_sql)
            means = (
                sub.withColumn("cluster", assign)
                .select("sub", "cluster", F.posexplode("subvec").alias("dim", "x"))
                .groupBy("sub", "cluster", "dim")
                .agg(F.avg("x").alias("mu"))
                .collect()
            )
            new = [b.copy() for b in books]
            for r in means:
                new[r["sub"]][r["cluster"]][r["dim"]] = r["mu"]
            books = new
        return [b.tolist() for b in books]
    finally:
        sub.unpersist()


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Vector → array of m codebook indices, one native L2-argmin per
    subspace (pure projection: at scale this chains onto the scan and the
    codes table is what you persist — m bytes per vector)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    codes = F.expr(
        "array(" + ",".join(
            _l2_argmin_sql(f"slice(`{vec_col}`, {s * d + 1}, {d})", codebooks[s])
            for s in range(m)
        ) + ")"
    )
    return embeddings.withColumn(out_col, codes)


def pq_adc_expr(
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    codes_col: str = "pq_codes",
) -> Column:
    """The ADC score column: the query is cut into m subvectors and dotted
    with every codeword ON THE DRIVER (m·k multiplications — constant),
    producing a lookup table shipped as a literal; per row the score is
    Σ_s lut[s][code_s], a zip_with/aggregate over the m-byte code array.
    Exposed separately from pq_topk so callers that need a cross-engine
    deterministic ranking (the driver oracle) can round BEFORE ranking."""
    import numpy as np

    if query_vec is None:
        raise ValueError("query_vec is required")
    m = len(codebooks)
    d = len(codebooks[0][0])
    q = np.asarray(query_vec, dtype="float64")
    if len(q) != m * d:
        raise ValueError(f"query dim {len(q)} != {m * d}")
    lut = [
        [float(np.dot(q[s * d:(s + 1) * d], np.asarray(c))) for c in codebooks[s]]
        for s in range(m)
    ]
    lut_lit = F.array(*[
        F.array(*[F.lit(v) for v in row]) for row in lut
    ])
    return F.aggregate(
        F.zip_with(
            F.col(codes_col), lut_lit,
            lambda c, l: F.element_at(l, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k by inner product over the codes
    table. No shuffle, no join, no Python:
    scan → project → TakeOrderedAndProject (plan-gated)."""
    score = pq_adc_expr(codebooks, query_vec, codes_col)
    return (
        codes_df.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def mine_bitext_pairs(
    embeddings: DataFrame,
    src_lang: str,
    tgt_lang: str,
    min_cos: float = 0.7,
    margin_ratio: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
    n_planes: int = 4,
) -> DataFrame:
    """Cross-lingual parallel-pair mining (the LASER/CCMatrix recipe that
    built the big MT corpora): for every src-lang doc, its best tgt-lang
    neighbor by embedding cosine — kept only when the match is both
    strong (cosine ≥ min_cos) AND UNAMBIGUOUS (best/second-best ratio ≥
    margin_ratio, the margin criterion that kills hub false positives
    plain thresholding admits).

    Scale shape: candidates come from a sign-projection bucket EQUI-join
    restricted to src×tgt (never all-pairs; same-direction translations
    share every sign bit ⇒ recall 1 for near-parallel embeddings); the
    top-2-per-src margin is a window over each src's own candidate set.
    Returns (src_id, tgt_id, cosine, margin_micro) — margin_micro =
    cos1·1e6 div max(cos2_micro, 1) as an integer ratio (second-best
    missing ⇒ margin is maximal: the match is trivially unambiguous)."""
    from pyspark.sql.window import Window

    first = (
        embeddings.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .head()
    )
    if first is None:
        id_type = embeddings.schema[id_col].dataType.simpleString()
        return embeddings.sparkSession.createDataFrame(
            [], f"src_id {id_type}, tgt_id {id_type},"
                " cosine double, margin_micro bigint"
        )
    planes = make_planes(int(first["d"]), n_planes)
    bucketed = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(lang_col).alias("_lang"),
        F.col(vec_col).alias("_v"),
        lsh_project_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    src = bucketed.filter(F.col("_lang") == src_lang).select(
        "bucket", F.col("_id").alias("src_id"), F.col("_v").alias("vs")
    )
    tgt = bucketed.filter(F.col("_lang") == tgt_lang).select(
        "bucket", F.col("_id").alias("tgt_id"), F.col("_v").alias("vt")
    )
    cand = (
        src.join(tgt, "bucket")
        .withColumn(
            "cos_micro",
            F.round(
                cosine_expr(F.col("vs"), F.col("vt")) * 1_000_000
            ).cast("long"),
        )
        .select("src_id", "tgt_id", "cos_micro")
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cos_micro").desc(), F.col("tgt_id").asc()
    )
    ranked = cand.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    best = ranked.filter(F.col("rk") == 1).select(
        "src_id", "tgt_id", F.col("cos_micro").alias("c1")
    )
    second = ranked.filter(F.col("rk") == 2).select(
        "src_id", F.col("cos_micro").alias("c2")
    )
    return (
        best.join(second, "src_id", "left")
        .withColumn(
            "margin_micro",
            F.expr("c1 * 1000000 div greatest(coalesce(c2, 1L), 1L)"),
        )
        .filter(
            (F.col("c1") >= int(round(min_cos * 1_000_000)))
            & (F.col("margin_micro") >= int(round(margin_ratio * 1_000_000)))
        )
        .select(
            "src_id",
            "tgt_id",
            (F.col("c1") / 1_000_000.0).alias("cosine"),
            "margin_micro",
        )
    )
