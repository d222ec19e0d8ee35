"""Link-graph analytics over a web corpus — degrees + PageRank/TrustRank.

The hyperlink graph is the classic web-crawl quality signal (Common Crawl
publishes host/domain-level rank data computed exactly this way; the
reference repo has no analog — this is part of the training-data toolbox
beyond it): curation pipelines use link-derived centrality to weight or
filter pages before training (text.extract_links is the front stage that
produces the edge list; curate_corpus consumes the ranks as a quality
floor). Scale shape at 100 TB:

- The edge table is the unit of work, never the page payloads: edges are
  (src, dst) longs, orders of magnitude smaller than the corpus.
- `degree_stats` is two partial-agg shuffles (map-side combine on src and
  dst) merged with one full-outer join on the node id — no row explosion.
- `pagerank_micro_multi` is the canonical distributed PageRank: the edge
  table is joined with out-degrees ONCE and persisted (on a real cluster:
  pre-partitioned by src and reused every round), then each iteration is
  one join (ranks → edges on src) plus one partial-agg groupBy on dst —
  two shuffles per round, state bounded by |nodes|. ALL requested rank
  variants (vanilla + any number of seed-personalized TrustRanks) ride
  the SAME join as extra columns, so k variants cost k integer columns,
  not k× corpus-scale shuffles. Rank lineage grows linearly, so an eager
  localCheckpoint every 4th round bounds plan depth without a
  materialization barrier per round (contrast resolve_clusters,
  dedup.py:785, whose 3× self-reference needs one per round).

Determinism contract: ranks are held in MICRO units (1.0 → 1_000_000) and
every step is int64 arithmetic on non-negative operands — contribution =
rank div out_degree, update = reset + (damping * in_sum) div 1_000_000 —
so floor-division truncation is identical in every engine and the final
ranks are bit-exact re-derivable in DuckDB (generated chained-CTE oracle
in __spark_entry__.py). No floats ⇒ no accumulation-order sensitivity:
integer SUMs commute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 1_000_000
DAMPING_MICRO = 850_000  # PageRank damping 0.85 in micro units


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node (node, out_deg, in_deg) over an edge list. Parallel edges
    count once each (PageRank treats them the same way). Nodes appearing
    only as src get in_deg 0 and vice versa (full-outer merge)."""
    out_deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
    )
    in_deg = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.count(F.lit(1)).alias("in_deg"))
    )
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


def pagerank_micro_multi(
    edges: DataFrame,
    variants: dict[str, DataFrame | None],
    iters: int = 8,
) -> DataFrame:
    """Compute SEVERAL PageRank variants in one synchronized loop: returns
    (node, rank_<name> …) after `iters` rounds of

        rank'(v) = reset(v) + damping * sum_{u→v}(rank(u) div
                   out_deg(u)) div 1e6

    over the union of src/dst nodes. A variant mapped to None is vanilla
    per-page PageRank: reset(v) = 1e6 - damping everywhere, ranks starting
    at 1_000_000 (total mass ≈ |V|). A variant mapped to a one-column
    DataFrame of trusted node ids is unnormalized TrustRank (Gyöngyi,
    Garcia-Molina & Pedersen, VLDB 2004 — the web-spam curation signal):
    reset mass and the start vector live ONLY on the seeds, so trust
    decays along link distance from the trusted set and pages unreachable
    from any seed converge to exactly 0. Per-topic trust is the batch use
    case: k seed sets = k extra long columns on ONE loop, not k loops.

    Dangling nodes (no out-edges) simply leak their mass — a pinned,
    engine-portable choice; callers who need conservation can add a
    self-loop upstream. Fixed iteration count (not convergence detection)
    keeps the result a pure function of (edges, variants, iters) —
    re-derivable in any SQL engine by unrolling the same number of
    rounds. Seed sets join as broadcast-sized dimensions (trusted
    whitelists are tiny next to the graph).
    """
    if iters < 0:
        raise ValueError("pagerank_micro_multi: iters must be >= 0")
    if not variants:
        raise ValueError("pagerank_micro_multi: need at least one variant")
    reset = RANK_SCALE - DAMPING_MICRO
    # one read of `edges` (a union of two selects would evaluate a lazy
    # edge input twice)
    nodes = edges.select(
        F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
    ).distinct()
    for name, seeds in variants.items():
        if seeds is None:
            nodes = nodes.withColumns(
                {
                    f"_reset_{name}": F.lit(reset).cast("long"),
                    f"_start_{name}": F.lit(RANK_SCALE).cast("long"),
                }
            )
        else:
            seed_flag = seeds.select(
                F.col(seeds.columns[0]).cast("long").alias("node"),
                F.lit(1).alias("_seed"),
            ).distinct()
            nodes = (
                nodes.join(F.broadcast(seed_flag), "node", "left")
                .withColumns(
                    {
                        f"_reset_{name}": F.when(
                            F.col("_seed") == 1, F.lit(reset)
                        ).otherwise(F.lit(0)).cast("long"),
                        f"_start_{name}": F.when(
                            F.col("_seed") == 1, F.lit(RANK_SCALE)
                        ).otherwise(F.lit(0)).cast("long"),
                    }
                )
                .drop("_seed")
            )
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # Edges carry their source's out-degree from round 0 on — computed and
    # persisted ONCE, the reusable join side of every iteration.
    edeg = (
        edges.select("src", "dst")
        .join(out_deg.withColumnRenamed("node", "src"), "src")
        .persist()
    )
    names = list(variants)
    # The rank frame CARRIES each variant's reset column through the loop,
    # so the per-round update needs no join back to the node universe: the
    # in-contributions are union-seeded with one zero row per node (rank
    # frame side) and summed — integer sums commute, so seeding zeros is
    # bit-identical to the former left-join + coalesce(s, 0), at one join
    # per round instead of two (r6 optimization, guide §2.4).
    ranks = nodes.select(
        "node",
        *[F.col(f"_start_{n}").alias(f"rank_{n}") for n in names],
        *[F.col(f"_reset_{n}") for n in names],
    ).localCheckpoint(eager=False)
    for i in range(iters):
        contrib = (
            edeg.join(
                ranks.select(
                    F.col("node").alias("src"),
                    *[F.col(f"rank_{n}") for n in names],
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                *[
                    F.expr(f"rank_{n} div out_deg").alias(f"c_{n}")
                    for n in names
                ],
                *[F.lit(0).cast("long").alias(f"_reset_{n}") for n in names],
            )
        )
        seed = ranks.select(
            "node",
            *[F.lit(0).cast("long").alias(f"c_{n}") for n in names],
            *[F.col(f"_reset_{n}") for n in names],
        )
        summed = (
            seed.unionByName(contrib)
            .groupBy("node")
            .agg(
                *[F.sum(f"c_{n}").alias(f"s_{n}") for n in names],
                # exactly one seed row per node carries its reset; contrib
                # rows carry 0 — the sum IS the node's reset value.
                *[F.sum(f"_reset_{n}").alias(f"_reset_{n}") for n in names],
            )
        )
        ranks = summed.select(
            "node",
            *[
                (
                    F.col(f"_reset_{n}")
                    + F.expr(f"({DAMPING_MICRO} * s_{n}) div {RANK_SCALE}")
                ).cast("long").alias(f"rank_{n}")
                for n in names
            ],
            *[F.col(f"_reset_{n}") for n in names],
        )
        # Linear lineage growth: checkpoint every 4th round is enough to
        # bound plan depth. Intermediate checkpoints are LAZY (plan
        # truncation is immediate; partitions cache on first use), so the
        # whole loop materializes in the single eager job of the FINAL
        # round — one construction-time job per loop instead of one per
        # checkpoint (r6). The final one must stay eager: edeg is
        # unpersisted right below and every round references it.
        if (i + 1) % 4 == 0 or i + 1 == iters:
            ranks = ranks.localCheckpoint(eager=(i + 1 == iters))
    edeg.unpersist()
    return ranks.select(
        "node", *[F.col(f"rank_{n}") for n in names]
    )


def pagerank_micro(
    edges: DataFrame,
    iters: int = 8,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Single-variant convenience wrapper over pagerank_micro_multi:
    (node, rank_micro) — vanilla PageRank, or TrustRank when `seeds` is
    given. See pagerank_micro_multi for semantics and the scale shape."""
    return pagerank_micro_multi(
        edges,
        {"micro": seeds},  # the variant's column name IS rank_micro
        iters=iters,
    )


def hits_micro(edges: DataFrame, iters: int = 4) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) — the second classic
    link-analysis signal: a page is a good AUTHORITY if good hubs link to
    it, a good HUB if it links to good authorities. Curation pipelines use
    authority as a complementary quality floor to PageRank (directory/hub
    pages score high on hub but low on authority — a mix signal PageRank
    alone can't separate).

    Returns (node, auth_micro, hub_micro) after `iters` rounds of

        auth'(v) = Σ_{u→v} hub(u);   auth = auth' · 1e6 div max(auth')
        hub'(u)  = Σ_{u→v} auth(v);  hub  = hub'  · 1e6 div max(hub')

    (auth updated first from the previous hubs, then hubs from the NEW
    authorities — the standard ordering). Max-normalization replaces the
    usual L2 norm so every step stays int64 (sums of micro scores, one
    1-row max broadcast per half-round) and the result is bit-exact
    re-derivable in any SQL engine by unrolling the rounds — the same
    determinism contract as pagerank_micro_multi. Overflow bound: the
    mul-then-div normalization needs max_in/out_degree · 1e12 < 2^63,
    i.e. degrees below ~9·10^6 — real web graphs cap hub fan-out far
    earlier (and should, for skew).

    Scale shape: per round two joins + two partial-agg groupBys over the
    edge table (state bounded by |nodes|); each half-round's aggregated
    (≤|nodes|-row) sum frame is localCheckpoint'ed once (un-checkpointed,
    the 3-way self-reference re-inlines the whole upstream chain per
    round — measured 151 s on a 3-node graph, hard-won) and its 1-row max
    rides back as a broadcast cross-join, so normalization adds no extra
    job and no driver action. Fixed iteration count keeps the result a
    pure function of (edges, iters)."""
    if iters < 0:
        raise ValueError("hits_micro: iters must be >= 0")
    e = edges.select("src", "dst")
    nodes = e.select(F.explode(F.array("src", "dst")).alias("node")).distinct()
    e = e.persist()
    zero = F.lit(0).cast("long")
    scores = nodes.select(
        "node",
        F.lit(RANK_SCALE).cast("long").alias("auth_micro"),
        F.lit(RANK_SCALE).cast("long").alias("hub_micro"),
    ).localCheckpoint(eager=False)
    for _it in range(iters):
        # Union-seeding one zero row per node (from the score frame itself)
        # replaces the former left-join back to the node universe: integer
        # sums commute, so sum(contribs + a zero) == coalesce(join, 0) —
        # one join per half-round instead of two, and the score frame no
        # longer needs its own checkpoint (it is a projection over the
        # checkpointed hub sums). r6 optimization, guide §2.4.
        araw = (
            e.join(
                scores.select(F.col("node").alias("src"), "hub_micro"), "src"
            )
            .select(F.col("dst").alias("node"), F.col("hub_micro").alias("ar"))
            .unionByName(scores.select("node", zero.alias("ar")))
            .groupBy("node")
            .agg(F.sum("ar").alias("ar"))
            # lazy: plan truncation is what matters mid-loop (see the
            # pagerank loop note); partitions cache on first use
            .localCheckpoint(eager=False)
        )
        # the 1-row max rides as a broadcast cross-join computed from the
        # CHECKPOINTED sum frame inside the consumer's job — no extra
        # driver action, and nothing upstream recomputes
        amax = araw.agg(F.max("ar").alias("am"))
        auth = (
            araw.crossJoin(F.broadcast(amax))
            .select(
                "node",
                F.expr(
                    f"ar * {RANK_SCALE} div am"
                ).cast("long").alias("auth_micro"),
            )
        )
        # the hub half-round carries auth through the same union-seeded
        # aggregation (contrib rows carry auth 0; the single seed row per
        # node carries its auth and a 0 contribution — max picks the auth,
        # sum the contributions), fusing the former auth ⋈ hraw join away.
        hraw = (
            e.join(
                auth.select(F.col("node").alias("dst"), "auth_micro"), "dst"
            )
            .select(
                F.col("src").alias("node"),
                F.col("auth_micro").alias("hr"),
                zero.alias("auth_micro"),
            )
            .unionByName(
                auth.select("node", zero.alias("hr"), "auth_micro")
            )
            .groupBy("node")
            .agg(
                F.sum("hr").alias("hr"),
                F.max("auth_micro").alias("auth_micro"),
            )
            # the FINAL round's checkpoint stays eager so the whole loop
            # materializes before `e` is unpersisted below
            .localCheckpoint(eager=(_it == iters - 1))
        )
        hmax = hraw.agg(F.max("hr").alias("hm"))
        scores = (
            hraw.crossJoin(F.broadcast(hmax))
            .select(
                "node",
                "auth_micro",
                F.expr(
                    f"hr * {RANK_SCALE} div hm"
                ).cast("long").alias("hub_micro"),
            )
        )
    e.unpersist()
    return scores


def two_hop_reach(edges: DataFrame) -> DataFrame:
    """Per-node count of DISTINCT pages reachable in one or two hops —
    the truncated-neighborhood centrality used as a cheap link-locality
    signal (full closeness needs all-pairs BFS; two hops is one self-join).
    Cycles can make a node reach itself; that's counted (pinned choice).
    Scale shape: edges ⋈ edges on the hop-join key (dst = src) is the one
    potentially heavy shuffle — for power-law web graphs cap hub fan-out
    upstream; the distinct + count are partial-aggregated per node."""
    e1 = edges.select("src", "dst")
    hop2 = (
        e1.alias("a")
        .join(e1.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
    )
    return (
        e1.unionByName(hop2)
        .distinct()
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("reach2"))
    )
