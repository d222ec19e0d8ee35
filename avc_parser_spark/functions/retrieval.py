"""BM25 keyword retrieval over the corpus — fully native, hits-only.

The standard "search your training corpus" primitive (Robertson/Spärck
Jones BM25; reference repo has no analog — this is part of the
training-data toolbox beyond it). Scale shape at 100 TB:

- ONE narrow pass over the corpus: tokenize, keep only the query's terms
  (the isin filter rides the scan), so the shuffled hits frame is bounded
  by |query| × docs-containing-a-term — sparse queries touch a sliver.
- Document frequencies come from the SAME hits frame (no second corpus
  pass); corpus totals (N docs, L tokens) are one 1-row aggregate
  cross-joined back — never collected to the driver.
- Scoring is EXACT integer arithmetic: with rational constants
  k1 = p/q, b = r/s, the per-term factor

      tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))      (avgdl = L/N)

  multiplies out to  tf·(p+q)·s·L  /  (q·s·L·tf + p·(s−r)·L + p·r·dl·N),
  an integer ratio. The IDF ln() is quantized once per term to a
  micro-long (round(ln·1e6) — the same trick as the bigram LM), so every
  per-term contribution is an int64 floor-division and per-doc scores are
  integer SUMS: order-independent and bit-exact across engines, which is
  what lets DuckDB re-derive the exact ranking in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# k1 = 6/5 (1.2), b = 3/4 (0.75) — the textbook defaults, held as exact
# rationals so the score arithmetic stays integral.
BM25_K1 = (6, 5)
BM25_B = (3, 4)


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10) -> DataFrame:
    """Top-k docs (`doc_id`, `text`) for a bag-of-words query under BM25.

    Returns (doc_id, score_micro, terms_matched, rank) — score_micro is
    the integer-exact micro-scaled score (sum of floor-divided per-term
    contributions), rank breaks score ties on ascending id.
    """
    terms = sorted({t.lower() for t in query_terms})

    toks = _tokens_expr()
    base = docs.select(
        F.col("doc_id"),
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    ).filter(F.col("term").isin(terms))

    tfd = base.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )
    dfreq = tfd.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    totals = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_tokens_expr())).cast("long").alias(
            "total_tokens"
        ),
    )

    return _score_hits(tfd, dfreq, totals, k)


def _score_hits(
    tfd: DataFrame, dfreq: DataFrame, totals: DataFrame, k: int
) -> DataFrame:
    """BM25 scoring tail: tfd = (doc_id, term, tf, dl), dfreq = (term, df),
    totals 1 row."""
    p, q = BM25_K1
    r, s = BM25_B
    scored = (
        tfd.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf_micro",
            F.expr(
                "cast(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1) * 1e6)"
                " as bigint)"
            ),
        )
        .withColumn(
            "contrib",
            F.expr(
                f"(idf_micro * tf * {(p + q) * s} * total_tokens) div "
                f"({q * s} * total_tokens * tf"
                f" + {p * (s - r)} * total_tokens"
                f" + {p * r} * dl * n_docs)"
            ),
        )
    )
    out = (
        scored.groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("score_micro"),
            F.count(F.lit(1)).alias("terms_matched"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    # rank over the ≤k surviving rows only (the orderBy+limit above is a
    # TakeOrderedAndProject — the window never sees the corpus)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return out.withColumn("rank", F.row_number().over(w))


def _tokens_expr():
    return F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
        ),
        lambda x: x != "",
    )


def bm25_sql(query_terms: list[str], k: int = 10) -> str:
    """DuckDB twin of bm25_topk over the `documents` table, built from the
    SAME rational constants and the same tokenizer semantics — the oracle
    re-derives the exact ranking (integer micro scores make the comparison
    bit-stable)."""
    p, q = BM25_K1
    r, s = BM25_B
    terms = sorted({t.lower() for t in query_terms})
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
        WITH toked AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                   lower(trim(coalesce(text, ''))), '\\s+'),
                   x -> x <> '') AS toks
          FROM documents),
        base AS (
          SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
          FROM toked),
        hits AS (
          SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
          FROM base WHERE term IN ({in_list})
          GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
        totals AS (
          SELECT count(*) AS n_docs, sum(len(toks))::BIGINT AS total_tokens
          FROM toked),
        scored AS (
          SELECT h.doc_id,
                 (round(ln((t.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                        * 1e6)::BIGINT
                  * h.tf * {(p + q) * s} * t.total_tokens)
                 // ({q * s} * t.total_tokens * h.tf
                     + {p * (s - r)} * t.total_tokens
                     + {p * r} * h.dl * t.n_docs) AS contrib
          FROM hits h JOIN dfreq d ON h.term = d.term CROSS JOIN totals t)
        SELECT doc_id,
               sum(contrib)::BIGINT AS score_micro,
               count(*)::BIGINT AS terms_matched,
               row_number() OVER (ORDER BY sum(contrib) DESC, doc_id ASC)
                 AS rank
        FROM scored
        GROUP BY doc_id
        ORDER BY score_micro DESC, doc_id ASC
        LIMIT {k}
    """
