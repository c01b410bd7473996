"""Round-4 pass 13: DoReMi, temporal split, MRL truncation, KL.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    S,
    SparkSession,
    Window,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _HEX8,
    _TOK_SQL_SAFE,
)


# --- round-4 thirteenth pass: mixture optimization & eval — DoReMi
# --- weights, temporal split, MRL truncation eval, sample-vs-corpus KL
# --- (appended AFTER the pinned r4 driver window)


_DOREMI_T = 6  # fixed round count, unrolled identically in the oracle
_DOREMI_ETA_PPM = 200000  # multiplicative step size (eta = 0.2)


def _doremi_rounds_sql() -> str:
    """T unrolled multiplicative-weight rounds as chained CTEs. Each round:
    raw = w * (1e6 + eta*excess//1e6) // 1e6, then renormalize to ppm."""
    parts = []
    prev = "w0"
    for t in range(1, _DOREMI_T + 1):
        parts.append(
            f"""r{t} AS (
      SELECT lang, n_tokens, excess_ppm, w_init_ppm,
             w * (1000000 + {_DOREMI_ETA_PPM} * excess_ppm // 1000000)
               // 1000000 AS raw
      FROM {prev}),
    w{t} AS (
      SELECT lang, n_tokens, excess_ppm, w_init_ppm,
             1000000 * raw // (SELECT sum(raw) FROM r{t}) AS w
      FROM r{t})"""
        )
        prev = f"w{t}"
    return ",\n    ".join(parts)


@query(
    "m_doremi_weights",
    f"""
    WITH tok AS (
      SELECT lang, unnest({_TOK_SQL_SAFE}) AS term FROM documents),
    tc AS (SELECT lang, count(*) AS n_tokens FROM tok GROUP BY lang),
    ex AS (
      SELECT lang, n_tokens,
             1000000 * n_tokens // (SELECT max(n_tokens) FROM tc)
               AS excess_ppm
      FROM tc),
    w0 AS (
      SELECT lang, n_tokens, excess_ppm,
             1000000 // (SELECT count(*) FROM tc) AS w_init_ppm,
             1000000 // (SELECT count(*) FROM tc) AS w
      FROM ex),
    {_doremi_rounds_sql()}
    SELECT lang, cast(n_tokens AS BIGINT) AS n_tokens,
           cast(excess_ppm AS BIGINT) AS excess_ppm,
           cast(w_init_ppm AS BIGINT) AS w_init_ppm,
           cast(w AS BIGINT) AS w_final_ppm
    FROM w{_DOREMI_T}
    """,
)
def m_doremi_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. NeurIPS'23): T rounds
    of multiplicative weights over per-domain excess loss, renormalized
    each round — the mixture optimizer that upweights domains the proxy
    model finds hardest. Domains are languages; the excess-loss stand-in
    is each domain's token mass normalized to the largest domain (integer
    ppm — in production the per-domain proxy/reference loss gap plugs
    into the same recurrence). Every update is integer-ppm floor
    arithmetic, so the T=6 rounds replay EXACTLY in the oracle's chained
    CTEs. Plan: one map-side-combinable groupBy(lang) for token mass,
    then the recurrence runs DECLARATIVELY over the |langs|-row
    aggregate — each round's cross-domain normalizer is a 1-row sum agg
    broadcast back (no driver collect anywhere), and |domains| is tiny
    by construction. At 100 TB the only corpus-scale stage is the
    token-count groupBy."""
    d = _t(spark, sf, "documents")
    tok = (
        d.select("lang", D.word_tokens(F.col("text")).alias("_t"))
        .repartition(_par(spark), "lang")
        .select("lang", F.explode("_t").alias("term"))
    )
    tc = tok.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tokens"))
    # The T-round multiplicative-weights recurrence runs DECLARATIVELY
    # over the |langs|-row aggregate: each round is one 1-row sum agg
    # broadcast back (the temperature-mix discipline) — no driver-side
    # collect at all, and the chained plan mirrors the oracle's chained
    # CTEs term for term. All arithmetic is integer-ppm floor division.
    glob = tc.agg(
        F.max("n_tokens").alias("_mx"), F.count(F.lit(1)).alias("_k")
    )
    w = tc.crossJoin(F.broadcast(glob)).select(
        "lang",
        "n_tokens",
        F.expr("1000000 * n_tokens div _mx").alias("excess_ppm"),
        F.expr("1000000 div _k").alias("w_init_ppm"),
        F.expr("1000000 div _k").alias("w"),
    )
    for _ in range(_DOREMI_T):
        raw = w.withColumn(
            "_raw",
            F.expr(
                f"w * (1000000 + {_DOREMI_ETA_PPM} * excess_ppm"
                " div 1000000) div 1000000"
            ),
        )
        tot = raw.agg(F.sum("_raw").alias("_tot"))
        w = raw.crossJoin(F.broadcast(tot)).select(
            "lang",
            "n_tokens",
            "excess_ppm",
            "w_init_ppm",
            F.expr("1000000 * _raw div _tot").alias("w"),
        )
    return w.select(
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("excess_ppm").cast("bigint").alias("excess_ppm"),
        F.col("w_init_ppm").cast("bigint").alias("w_init_ppm"),
        F.col("w").cast("bigint").alias("w_final_ppm"),
    )


@query(
    "m_temporal_split",
    """
    SELECT doc_id,
           DATE '2025-01-01' + CAST(doc_id * 37 % 365 AS INT) AS warc_date,
           CASE WHEN DATE '2025-01-01' + CAST(doc_id * 37 % 365 AS INT)
                     >= DATE '2025-10-01' THEN 'eval'
                WHEN DATE '2025-01-01' + CAST(doc_id * 37 % 365 AS INT)
                     >= DATE '2025-10-01' - 14 THEN 'embargo'
                ELSE 'train' END AS split,
           cast(DATE '2025-10-01'
                - (DATE '2025-01-01' + CAST(doc_id * 37 % 365 AS INT))
                AS BIGINT) AS days_to_cutoff
    FROM documents
    """,
)
def m_temporal_split(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal train/eval split with an embargo gap — the leakage rule
    for TIME, complementing d_leakage_free_split's rule for CONTENT:
    train on crawls before the cutoff, evaluate on crawls after it, and
    EXCLUDE a 14-day embargo window before the cutoff (near-boundary
    pages are routinely re-crawled minutes apart across the line — the
    same document would otherwise sit on both sides). The fixture has no
    timestamp column, so warc_date is synthesized deterministically from
    doc_id (the input-hint's warc_ts stands in). Pure scan-side CASE over
    date arithmetic — zero shuffles; at corpus scale the same predicate
    is an Iceberg partition filter on the crawl-date column and prunes
    at the manifest level."""
    d = _t(spark, sf, "documents")
    warc_date = F.date_add(
        F.to_date(F.lit("2025-01-01")),
        (F.col("doc_id") * 37 % 365).cast("int"),
    )
    cutoff = F.to_date(F.lit("2025-10-01"))
    return d.select(
        "doc_id",
        warc_date.alias("warc_date"),
        F.when(warc_date >= cutoff, F.lit("eval"))
        .when(warc_date >= F.date_sub(cutoff, 14), F.lit("embargo"))
        .otherwise(F.lit("train"))
        .alias("split"),
        F.datediff(cutoff, warc_date).cast("bigint").alias("days_to_cutoff"),
    )


@query(
    "e_dim_truncation",
    """
    WITH anchors AS (
      SELECT vec_id AS anchor_id, embedding AS av FROM embeddings
      WHERE vec_id % 50 = 0),
    pairs AS (
      SELECT a.anchor_id, e.vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], a.av::DOUBLE[])
               / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(a.av::DOUBLE[], a.av::DOUBLE[])),
                 1e-12), 6) AS cos_full,
             round(list_dot_product(list_slice(e.embedding, 1, 16)::DOUBLE[],
                                    list_slice(a.av, 1, 16)::DOUBLE[])
               / greatest(sqrt(list_dot_product(
                     list_slice(e.embedding, 1, 16)::DOUBLE[],
                     list_slice(e.embedding, 1, 16)::DOUBLE[]))
                 * sqrt(list_dot_product(list_slice(a.av, 1, 16)::DOUBLE[],
                                         list_slice(a.av, 1, 16)::DOUBLE[])),
                 1e-12), 6) AS cos_trunc
      FROM embeddings e, anchors a
      WHERE e.vec_id <> a.anchor_id),
    rk AS (
      SELECT anchor_id, vec_id, cos_full, cos_trunc,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos_full DESC, vec_id) AS rk_full,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos_trunc DESC, vec_id) AS rk_trunc
      FROM pairs)
    SELECT anchor_id,
           cast(sum(CASE WHEN rk_full <= 10 AND rk_trunc <= 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10,
           cast(min(CASE WHEN rk_full = 1 THEN vec_id END) AS BIGINT)
             AS top1_full,
           cast(min(CASE WHEN rk_trunc = 1 THEN vec_id END) AS BIGINT)
             AS top1_trunc,
           max(CASE WHEN rk_full = 1 THEN cos_full END) AS top1_full_sim
    FROM rk GROUP BY anchor_id
    """,
)
def e_dim_truncation(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-truncation retrieval eval (Kusupati et al. '22): how
    much of each anchor's exact top-10 survives when embeddings are
    truncated to the first 16 of 64 dims — the readout that decides
    whether the cheap low-dim prefilter (4x less IO and FLOPs per probe)
    is safe as the first stage of a two-stage ANN cascade. Per anchor:
    overlap@10 between full-dim and truncated-dim rankings, both top-1
    ids, and the full top-1 similarity. Plan: the anchor set (vec_id%50)
    is a BROADCAST side against the corpus scan — no N² pair shuffle,
    cost is |anchors|·N like e_cosine_topk; two window ranks share one
    hash partitioning on anchor_id (a single shuffle). Cosines rounded
    6dp before ranking with vec_id tie-break (the cosine-family float
    discipline)."""
    e = _t(spark, sf, "embeddings")
    anchors = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("av")
    )
    pairs = (
        e.crossJoin(F.broadcast(anchors))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            F.round(
                S.dot(F.col("embedding"), F.col("av"))
                / F.greatest(
                    S.norm(F.col("embedding")) * S.norm(F.col("av")),
                    F.lit(1e-12),
                ),
                6,
            ).alias("cos_full"),
            F.round(
                S.dot(
                    F.slice(F.col("embedding"), 1, 16),
                    F.slice(F.col("av"), 1, 16),
                )
                / F.greatest(
                    S.norm(F.slice(F.col("embedding"), 1, 16))
                    * S.norm(F.slice(F.col("av"), 1, 16)),
                    F.lit(1e-12),
                ),
                6,
            ).alias("cos_trunc"),
        )
    )
    w_full = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_full").desc(), F.col("vec_id")
    )
    w_trunc = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_trunc").desc(), F.col("vec_id")
    )
    rk = pairs.select(
        "anchor_id",
        "vec_id",
        "cos_full",
        "cos_trunc",
        F.row_number().over(w_full).alias("rk_full"),
        F.row_number().over(w_trunc).alias("rk_trunc"),
    )
    return rk.groupBy("anchor_id").agg(
        F.sum(
            F.when((F.col("rk_full") <= 10) & (F.col("rk_trunc") <= 10), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("overlap_at_10"),
        F.min(F.when(F.col("rk_full") == 1, F.col("vec_id")))
        .cast("bigint")
        .alias("top1_full"),
        F.min(F.when(F.col("rk_trunc") == 1, F.col("vec_id")))
        .cast("bigint")
        .alias("top1_trunc"),
        F.max(F.when(F.col("rk_full") == 1, F.col("cos_full"))).alias(
            "top1_full_sim"
        ),
    )


@query(
    "t_unigram_kl",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOK_SQL_SAFE}) AS term FROM documents),
    tc AS (SELECT lang, term, count(*) AS cc FROM tok GROUP BY lang, term),
    top AS (
      SELECT lang, term, cc,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cc DESC, term) AS rnk
      FROM tc),
    v AS (SELECT lang, term, cc FROM top WHERE rnk <= 50),
    samp AS (
      SELECT t.lang, t.term, count(*) AS cs
      FROM tok t
      JOIN (SELECT doc_id FROM documents
            WHERE ({_HEX8.format(h="md5(concat('kl:', doc_id))", p="1")})
                  / 4294967296.0 < 0.2) s USING (doc_id)
      GROUP BY t.lang, t.term),
    j AS (
      SELECT v.lang, v.term, v.cc, coalesce(samp.cs, 0) AS cs
      FROM v LEFT JOIN samp ON v.lang = samp.lang AND v.term = samp.term),
    tots AS (
      SELECT lang, count(*) AS n_terms, sum(cc) AS tot_c, sum(cs) AS tot_s
      FROM j GROUP BY lang),
    kl AS (
      SELECT j.lang,
             sum((cast(cs + 1 AS DOUBLE) / (tot_s + n_terms))
                 * ln((cast(cs + 1 AS DOUBLE) / (tot_s + n_terms))
                      / (cast(cc + 1 AS DOUBLE) / (tot_c + n_terms))))
               AS kl_val
      FROM j JOIN tots ON j.lang = tots.lang
      GROUP BY j.lang)
    SELECT kl.lang, cast(t.n_terms AS BIGINT) AS n_terms,
           cast(t.tot_c AS BIGINT) AS corpus_tokens,
           cast(t.tot_s AS BIGINT) AS sample_tokens,
           round(kl.kl_val, 6) AS kl_divergence
    FROM kl JOIN tots t ON kl.lang = t.lang
    """,
)
def t_unigram_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-vs-corpus unigram KL divergence per language — the drift
    readout run after ANY subsetting stage (sampling, filtering, dedup):
    if the kept subset's token distribution diverges from the corpus, the
    stage skewed content, not just size (DSIR uses the same statistic to
    MAXIMIZE targeted shift; here it's the regression guard against
    unintentional shift). Per language: KL(sample ‖ corpus) over the
    corpus top-50 vocabulary with add-one smoothing (sampled-out terms
    get probability mass instead of -inf), integer counts aggregated
    first, one IEEE division+ln per surviving (lang, term), rounded 6dp
    (the zipf-fit float discipline). Sample = the deterministic md5-keyed
    20% (t_sample_split's partition-invariant coin, salt 'kl:'). Plan:
    one (lang, term) groupBy each side (map-side combinable), the top-50
    window over the AGGREGATED vocabulary (Heaps-sublinear), a 1:1 left
    join, and a <=50-row-per-lang final agg."""
    from pdf_extractor_spark.operators.sampling import _hash_frac

    d = _t(spark, sf, "documents")
    tok = (
        d.select("doc_id", "lang", D.word_tokens(F.col("text")).alias("_t"))
        .repartition(_par(spark), "doc_id")
        .select("doc_id", "lang", F.explode("_t").alias("term"))
    )
    tc = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cc"))
    w = Window.partitionBy("lang").orderBy(F.col("cc").desc(), F.col("term"))
    v = (
        tc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 50)
        .drop("rnk")
    )
    sampled_ids = d.where(_hash_frac(F.col("doc_id"), "kl") < 0.2).select(
        "doc_id"
    )
    samp = (
        tok.join(sampled_ids, "doc_id")
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cs"))
    )
    j = v.join(samp, ["lang", "term"], "left").select(
        "lang", "term", "cc", F.coalesce("cs", F.lit(0)).alias("cs")
    )
    tots = j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cc").alias("tot_c"),
        F.sum("cs").alias("tot_s"),
    )
    p = (F.col("cs") + 1).cast("double") / (F.col("tot_s") + F.col("n_terms"))
    q = (F.col("cc") + 1).cast("double") / (F.col("tot_c") + F.col("n_terms"))
    kl = (
        j.join(tots, "lang")
        .groupBy("lang")
        .agg(F.sum(p * F.log(p / q)).alias("kl_val"))
    )
    return kl.join(tots, "lang").select(
        "lang",
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.col("tot_c").cast("bigint").alias("corpus_tokens"),
        F.col("tot_s").cast("bigint").alias("sample_tokens"),
        F.round("kl_val", 6).alias("kl_divergence"),
    )
