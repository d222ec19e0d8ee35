"""Similarity search over an embedding column (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline — narrow map (native dot product
  via F.zip_with + F.aggregate), then a single top-k (orderBy+limit, which
  Spark executes as TakeOrdered: per-partition heap + driver merge of k·P
  rows, no full sort shuffle).
- LSH-bucketed ANN: sign-random-projection buckets as the shuffle key; query
  probes only its own bucket (and neighbors at higher recall).
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
) -> DataFrame:
    """Exact cosine top-k `vec_id`s by `embedding` against a constant query
    vector.

    The query vector is a literal array → constant-folded; scan is narrow;
    only k·partitions rows reach the driver (TakeOrderedAndProject)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col("vec_id"),
            F.round(cosine_expr(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
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


def make_planes(dim: int, n_planes: int = 8) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (a fixed seed)."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.randn(n_planes, dim).tolist()


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]]) -> DataFrame:
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
        "array(" + ",".join(_dot_sql("`embedding`", c) for c in centroids) + ")"
    )
    best = F.expr(
        f"CAST(array_position({scores}, array_max({scores})) - 1 AS INT)"
    )
    return embeddings.withColumn("cluster", best)


def train_centroids(embeddings: DataFrame) -> list[list[float]]:
    """Mini k-means over `embedding` with k=4: deterministic seeded init
    from a sample, then 2 Lloyd steps computed distributively (groupBy
    cluster → avg per dim via posexplode — one shuffle per iteration on
    (cluster, dim))."""
    import numpy as np

    sample = np.array(
        [list(r[0]) for r in embeddings.select("embedding").limit(512).collect()],
        dtype="float64",
    )
    rng = np.random.RandomState(42)
    centroids = sample[rng.choice(len(sample), size=4, replace=False)]

    for _ in range(2):
        assigned = ivf_assign(embeddings, centroids.tolist())
        means = (
            assigned.select("cluster", F.posexplode("embedding").alias("dim", "x"))
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


def _topk_within(candidates: DataFrame, query_vec: list[float], k: int) -> DataFrame:
    """Exact cosine top-k inside an (already pruned) candidate set."""
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        candidates.select(
            F.col("vec_id"),
            F.round(cosine_expr(F.col("embedding"), qcol), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    n_probe: int = 2,
) -> DataFrame:
    """IVF ANN top-10: probe the n_probe nearest clusters, exact cosine
    within them. Recall grows with n_probe; n_probe=len(centroids) is
    exact."""
    probe = _probe_clusters(query_vec, centroids, n_probe)
    assigned = ivf_assign(embeddings, centroids)
    return _topk_within(assigned.filter(F.col("cluster").isin(probe)), query_vec, 10)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket over 8 planes (plus
    multi-probe neighbors), then exact cosine within the probed buckets.

    multi_probe = number of extra single-bit-flip buckets to probe, ordered
    by how close the query sits to each hyperplane (|dot| ascending — the
    planes most likely to have put a true neighbor on the other side).
    multi_probe=0 is the classic single-bucket probe (recall < 1);
    multi_probe=8 probes all Hamming-1 neighbors."""
    planes = make_planes(len(query_vec), 8)
    import numpy as np

    dots = [float(np.dot(query_vec, p)) for p in planes]
    qbits = 0
    for i, d in enumerate(dots):
        if d >= 0:
            qbits |= 1 << i
    # nearest-plane-first bit flips
    flip_order = sorted(range(8), key=lambda i: abs(dots[i]))
    probes = [qbits] + [qbits ^ (1 << i) for i in flip_order[:multi_probe]]

    bucketed = embeddings.withColumn(
        "bucket", lsh_project_bucket(F.col("embedding"), planes)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.filter(F.col("bucket").isin(probes))
        .select(
            F.col("vec_id"),
            F.round(cosine_expr(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
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


def pq_encode(embeddings: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Vector → array of m codebook indices, one native L2-argmin per
    subspace (pure projection: at scale this chains onto the scan and the
    codes table is what you persist — m bytes per vector)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    codes = F.expr(
        "array(" + ",".join(
            _l2_argmin_sql(f"slice(`embedding`, {s * d + 1}, {d})", codebooks[s])
            for s in range(m)
        ) + ")"
    )
    return embeddings.withColumn("pq_codes", codes)


def pq_adc_expr(codebooks: list[list[list[float]]], query_vec: list[float]) -> Column:
    """The ADC score column: the query is cut into m subvectors and dotted
    with every codeword ON THE DRIVER (m·k multiplications — constant),
    producing a lookup table shipped as a literal; per row the score is
    Σ_s lut[s][code_s], a zip_with/aggregate over the m-byte code array.
    Callers rank by it themselves, so those that need a cross-engine
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
            F.col("pq_codes"), lut_lit,
            lambda c, l: F.element_at(l, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
