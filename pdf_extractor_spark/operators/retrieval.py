"""Lexical retrieval: BM25 scoring of a corpus against literal query sets.

The retrieval step behind several curation jobs — BM25-probe
decontamination, prompt-leak search over a crawl, and retrieval-based
data selection (the lexical counterpart of ``operators/similarity.py``'s
dense ANN). The reference has no retrieval operator; this is
beyond-reference curation surface like the rest of ``operators/``.

Spark-first shape, chosen because the query-term set is SMALL and known
up front (the usual case for decontamination probes and eval-set search):

- Query terms are literals, so per-document term frequency is a
  scan-side expression (``size(filter(toks, x -> x = lit(term)))``) —
  no token explode, no (doc, term) shuffle, no materialized inverted
  index. One projection computes dl + every tf in a single corpus pass.
- One map-side-combinable aggregate reduces the corpus to a SINGLE row
  of global stats (N, sum(dl), per-term document frequency) — the only
  full-corpus reduction in the plan; its result rides back into the
  scoring expressions as literals (k×terms floats, the same
  legitimate-scalar class as the k-means centroids).
- Each query's top-k is a ``TakeOrderedAndProject`` limb (per-partition
  top-k, driver merge, zero shuffle) over the checkpointed per-doc tf
  table, unioned across queries.

At thousands of queries flip to the inverted-index form instead:
explode tokens once, semi-join a broadcast term->query map, groupBy
(query_id, doc_id). The literal-scan form wins while
|queries| × |terms| fits comfortably in the task binary.

Float determinism (both engines must produce bit-identical doubles for
the oracle's value hash): idf is the rational Robertson-Sparck-Jones
surrogate ``(N - df + 0.5) / (df + 0.5)`` — same monotonicity as the
log form, but built only from +,*,/ which are IEEE-exact (ln() differs
at ULP level across engines; same trade as ``queries.t_tfidf``) — and
the per-query score is a FIXED-ORDER left-to-right sum over the query's
terms inside one projection, never a groupBy sum whose accumulation
order could vary with partitioning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from pdf_extractor_spark.operators.dedup import word_tokens

# BM25 constants (Robertson et al., TREC-3). K1P1/ONE_MINUS_B are spelled
# out (not derived as k1+1.0 / 1.0-b at runtime) so the SQL oracle can embed
# repr() of the very same doubles — a derived `1.2 + 1.0` need not be the
# same IEEE double as the literal `2.2` an oracle would parse.
BM25_K1 = 1.2
BM25_K1P1 = 2.2
BM25_B = 0.75
BM25_ONE_MINUS_B = 0.25


def _tf_expr(toks: Column, term: str) -> Column:
    """Scan-side term frequency: count of exact matches of a literal term.

    Single-arg lambda via a closure helper (a two-arg form would receive
    the element INDEX as its second argument — CLAUDE.md gotcha); ``toks``
    must be an attribute column (staged projection) so the higher-order
    function iterates a materialized array instead of re-evaluating the
    tokenization per element.
    """

    def _eq(x: Column) -> Column:
        return x == F.lit(term)

    return F.size(F.filter(toks, _eq))


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[str, tuple[str, ...]]],
    k: int = 10,
    n_partitions: int | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25 with rational idf.

    Returns (query_id, doc_id, score) — ``score`` rounded to 6 dp, ties
    at the k boundary broken by ascending ``doc_id`` (total order, so
    the result is partition-invariant).
    """
    terms = sorted({t for _, qterms in queries for t in qterms})
    staged = df.select(
        F.col("doc_id"), word_tokens(F.col("text")).alias("_t")
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "doc_id")
    per_doc = staged.select(
        F.col("doc_id"),
        F.size("_t").alias("dl"),
        *[_tf_expr(F.col("_t"), t).alias(f"tf_{t}") for t in terms],
    ).localCheckpoint()

    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in terms
        ],
    ).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:
        return per_doc.select(
            F.lit("").alias("query_id"),
            F.col("doc_id"),
            F.lit(0.0).alias("score"),
        ).limit(0)
    avgdl = float(stats["sdl"]) / n_docs

    # k1 * (1 - b + b * dl / avgdl), association mirrored in the oracle SQL
    norm = F.lit(BM25_K1) * (
        F.lit(BM25_ONE_MINUS_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / F.lit(avgdl)
    )
    limbs = []
    for query_id, qterms in queries:
        score: Column | None = None
        for t in qterms:
            df_t = int(stats[f"df_{t}"])
            idf = (n_docs - df_t + 0.5) / (df_t + 0.5)
            tf = F.col(f"tf_{t}").cast("double")
            term_score = F.lit(idf) * (tf * F.lit(BM25_K1P1)) / (tf + norm)
            score = term_score if score is None else score + term_score
        any_hit = reduce(
            lambda a, b: a + b, [F.col(f"tf_{t}") for t in qterms]
        )
        limbs.append(
            per_doc.filter(any_hit > 0)
            .select(
                F.lit(query_id).alias("query_id"),
                F.col("doc_id"),
                F.round(score, 6).alias("score"),
            )
            .orderBy(F.desc("score"), F.col("doc_id"))
            .limit(k)
        )
    return reduce(DataFrame.unionByName, limbs)
