"""Round-4: soft dedup, Poisson-bootstrap CI, LSH band tuning.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    Column,
    DataFrame,
    F,
    SparkSession,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _HEX8,
)


# --- round-4 thirteenth pass: soft dedup, Poisson-bootstrap CI, LSH tuning --

@query(
    "d_soft_dedup_weights",
    """
    WITH h AS (SELECT doc_id, md5(text) AS th FROM documents),
    g AS (SELECT th, count(*) AS c, min(doc_id) AS m FROM h GROUP BY th)
    SELECT h.doc_id,
           cast(g.c AS BIGINT) AS dup_count,
           cast(1000000 // g.c AS BIGINT) AS weight_ppm,
           (h.doc_id = g.m) AS is_canonical
    FROM h JOIN g USING (th)
    """,
)
def d_soft_dedup_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Soft deduplication: DOWN-WEIGHT duplicates instead of dropping
    them. Hard dedup throws away the repetition signal entirely; the
    data-constrained-scaling results (Muennighoff et al., NeurIPS 2023)
    show repeated content should be *discounted*, not necessarily
    removed — weight_ppm = 1e6 / dup_count gives every distinct content
    the same TOTAL sampling mass regardless of how many crawl copies
    exist, which is exactly the first epoch of hard dedup in expectation
    while keeping url/host diversity available to the sampler. Emits the
    per-doc integer-ppm weight (feeds t_quality_weighted_sample's
    weighted coin directly) plus the canonical-representative flag (min
    doc_id — the row hard dedup would keep). Plan: one map-side-
    combinable groupBy on the md5 content key and a 1:1 probe-side join
    — the d_exact_dup_groups shape, linear at 100 TB."""
    d = _t(spark, sf, "documents")
    h = d.select(
        "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("th")
    )
    g = h.groupBy("th").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("m")
    )
    return h.join(g, "th").select(
        "doc_id",
        F.col("c").cast("bigint").alias("dup_count"),
        F.expr("1000000 div c").cast("bigint").alias("weight_ppm"),
        (F.col("doc_id") == F.col("m")).alias("is_canonical"),
    )


# Poisson(1) inverse-CDF thresholds on the md5 32-bit lane, precomputed to
# integer constants so NEITHER engine evaluates exp() (cross-engine libm
# is not bit-stable): threshold[k] = floor(P(X<=k) * 2^32).
_POIS1_THRESHOLDS = [
    1580030168,  # k=0
    3160060337,  # k=1
    3950075421,  # k=2
    4213413783,  # k=3
    4279248373,  # k=4
    4292415291,  # k=5; coins above this draw k=6 (tail mass 3.6e-4)
]
_POIS_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN coin <= {t} THEN {k}"
        for k, t in enumerate(_POIS1_THRESHOLDS)
    )
    + " ELSE 6 END"
)


@query(
    "a_bootstrap_ci",
    f"""
    WITH c AS (
      SELECT doc_id, n_chars, unnest(range(0, 32)) AS b FROM documents),
    w AS (
      SELECT b, n_chars,
             {_HEX8.format(h="md5(concat('boot:', b, ':', doc_id))", p="1")}
               AS coin
      FROM c),
    k AS (SELECT b, n_chars, {_POIS_CASE_SQL} AS k FROM w),
    rep AS (
      SELECT b, round(cast(sum(k * n_chars) AS DOUBLE) / sum(k), 6)
               AS mean_b
      FROM k GROUP BY b),
    rk AS (
      SELECT mean_b,
             row_number() OVER (ORDER BY mean_b, b) AS rn
      FROM rep),
    pt AS (
      SELECT count(*) AS n_docs,
             round(avg(cast(n_chars AS DOUBLE)), 6) AS mean_nchars
      FROM documents)
    SELECT cast(pt.n_docs AS BIGINT) AS n_docs,
           pt.mean_nchars,
           min(CASE WHEN rk.rn = 2 THEN rk.mean_b END) AS ci_lo_p05,
           min(CASE WHEN rk.rn = 31 THEN rk.mean_b END) AS ci_hi_p95,
           cast(32 AS BIGINT) AS n_replicates
    FROM rk, pt
    GROUP BY pt.n_docs, pt.mean_nchars
    """,
)
def a_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap 90% confidence interval for a corpus mean — the
    eval-rigor primitive behind every 'did this filter change the corpus?'
    readout. The classical bootstrap (resample n rows WITH replacement, B
    times) is unshardable at 100 TB; the Poisson bootstrap (Chamandy et
    al., Google 2012) replaces each replicate's multinomial with an
    independent Poisson(1) count PER (row, replicate) — computable
    scan-side from the row's own md5 coin with no coordination, and
    indistinguishable from the true bootstrap at corpus n. The Poisson
    inverse-CDF is a fixed integer threshold table (exp() precomputed to
    2^-32 resolution — neither engine calls libm, so the oracle replays
    bit-exactly). B=32 replicates explode inline (generator child is a
    literal sequence — no inferred-filter regression); each replicate
    mean is one map-side-combinable groupBy over (b); the percentile pick
    is a sorted-array agg over the 32-row replicate table (elements 2/31
    = the 5th/95th percentile at B=32 — bounded by construction, so no
    order-only window enters the plan). Output: one row — point mean of
    n_chars, CI bounds, replicate count."""
    d = _t(spark, sf, "documents")
    c = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    )
    coin = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "",
                    F.lit("boot:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    k: Column = F.lit(6)
    for kk, t in reversed(list(enumerate(_POIS1_THRESHOLDS))):
        k = F.when(F.col("coin") <= t, F.lit(kk)).otherwise(k)
    w = c.select("b", "n_chars", coin.alias("coin")).select(
        "b", "n_chars", k.alias("k")
    )
    rep = w.groupBy("b").agg(
        F.round(
            F.sum(F.col("k") * F.col("n_chars")).cast("double")
            / F.sum("k"),
            6,
        ).alias("mean_b")
    )
    # percentile pick over the 32-row replicate table: a bounded
    # collect_list agg (B structs), NOT an unpartitioned window — the
    # plan-hygiene sweep bans order-only windows because at corpus scale
    # they serialize the input; here the input is B rows by construction
    # and the sorted-array agg says so in the plan.
    ci = rep.agg(
        F.sort_array(F.collect_list(F.struct("mean_b", "b"))).alias("ms")
    ).select(
        F.element_at("ms", 2)["mean_b"].alias("ci_lo_p05"),
        F.element_at("ms", 31)["mean_b"].alias("ci_hi_p95"),
    )
    pt = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias(
            "mean_nchars"
        ),
    )
    return F.broadcast(pt).crossJoin(F.broadcast(ci)).select(
        "n_docs",
        "mean_nchars",
        "ci_lo_p05",
        "ci_hi_p95",
        F.lit(32).cast("bigint").alias("n_replicates"),
    )


@query(
    "d_minhash_band_tuning",
    """
    WITH b AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS bands),
    p AS (SELECT bands, 128 // bands AS rows_per_band FROM b)
    SELECT cast(bands AS BIGINT) AS bands,
           cast(rows_per_band AS BIGINT) AS rows_per_band,
           round(pow(1.0 / bands, 1.0 / rows_per_band), 4) AS threshold,
           round(1 - pow(1 - pow(0.5, rows_per_band), bands), 4) AS p_at_050,
           round(1 - pow(1 - pow(0.7, rows_per_band), bands), 4) AS p_at_070,
           round(1 - pow(1 - pow(0.8, rows_per_band), bands), 4) AS p_at_080,
           round(1 - pow(1 - pow(0.9, rows_per_band), bands), 4) AS p_at_090
    FROM p ORDER BY bands
    """,
)
def d_minhash_band_tuning(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding S-curve planner: for every (bands b, rows r) split of
    the 128-hash minhash signature, the candidate-pair probability at
    Jaccard j is 1-(1-j^r)^b and the curve's inflection threshold is
    (1/b)^(1/r) (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
    ch.3). This is the table a curator reads to pick d_lsh_pairs'
    parameters for a target near-dup threshold BEFORE burning a 100-TB
    pass — b=16/r=8 puts the knee at j≈0.71 with p(0.9)≈0.996, while
    b=128/r=1 degenerates to 'any shared hash' (p(0.5)=1.0). Companion
    of d_lsh_recall, which MEASURES the same curve empirically on the
    corpus sample. Pure 8-row literal computation (no table scan); both
    engines use IEEE-double pow rounded to 4dp."""
    b = spark.range(8).select(
        F.expr("shiftleft(1, cast(id AS int))").alias("bands")
    )
    p = b.select(
        "bands", F.expr("128 div bands").alias("rows_per_band")
    )
    one = F.lit(1.0)
    def s_curve(j: float) -> Column:
        return F.round(
            one
            - F.pow(
                one - F.pow(F.lit(j), F.col("rows_per_band")),
                F.col("bands"),
            ),
            4,
        )
    return p.select(
        F.col("bands").cast("bigint").alias("bands"),
        F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
        F.round(
            F.pow(one / F.col("bands"), one / F.col("rows_per_band")), 4
        ).alias("threshold"),
        s_curve(0.5).alias("p_at_050"),
        s_curve(0.7).alias("p_at_070"),
        s_curve(0.8).alias("p_at_080"),
        s_curve(0.9).alias("p_at_090"),
    ).orderBy("bands")
