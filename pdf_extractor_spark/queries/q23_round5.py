"""Round-5 additions: protocol canary + composed phash dedup.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    M,
    SparkSession,
    Window,
    query,
)

import pdf_extractor_spark.queries as _q_pkg


def _t(spark, sf_dir, name):
    """Late-bound delegator: resolves the package-level _t at call
    time (the single-file catalog resolved it via module globals, and
    tests monkeypatch pdf_extractor_spark.queries._t)."""
    return _q_pkg._t(spark, sf_dir, name)


def _par(spark):
    """Late-bound delegator to the package-level _par (see _t)."""
    return _q_pkg._par(spark)
from pdf_extractor_spark.queries.q11_retrieval_phash import (
    _H60_PHASH_SQL,
)


# --- round-5 additions (catalog near-frozen: each addition displaces a ------
# --- driver-window slot; justifications in COVERAGE.md round-5 section) -----


@query(
    "a_protocol_canary",
    """
    WITH r AS (SELECT cast(i AS BIGINT) AS i FROM range(6) r(i)),
    g AS (SELECT i % 3 AS grp, sum(i) AS hugeint_sum, count(*) AS cnt
          FROM r GROUP BY i % 3)
    SELECT cast(grp AS BIGINT) AS grp,
           cast(hugeint_sum AS BIGINT) AS hugeint_sum,
           cnt,
           cast(grp AS BIGINT) * 1000000007 AS big_mul,
           round(cast(grp AS DOUBLE) / 7, 6) AS dbl_round,
           'canary-' || cast(grp AS VARCHAR) AS label,
           grp = 1 AS flag,
           DATE '2025-01-01' + cast(grp AS INT) AS d
    FROM g
    """,
)
def a_protocol_canary(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-vs-local protocol-drift canary (VERDICT r4 item 4): a
    table-free 3-row result with FIXED literal values covering every
    numeric type family the driver hashes — BIGINT, a sum() aggregate
    (cast to BIGINT on the oracle side: its uncast HUGEINT form, the
    shape implicated in the m_mixture_epochs hash mismatch, was
    confirmed to hash differently at the driver and is retired), a
    rounded DOUBLE, VARCHAR, BOOLEAN, and DATE. Both engines compute the
    identical values by construction (integer arithmetic over range(6),
    one IEEE-exact division rounded to 6dp), so ANY driver hash mismatch
    on this row set is provably environmental (DuckDB version /
    hash-normalization drift), never a query bug — turning a red driver
    row elsewhere into a five-minute diagnosis instead of a round-long
    hunt. Scale: no table scan at all; constant 3-row plan."""
    r = spark.range(6).select(
        (F.col("id") % 3).alias("grp"), F.col("id").alias("i")
    )
    g = r.groupBy("grp").agg(
        F.sum("i").alias("hugeint_sum"), F.count(F.lit(1)).alias("cnt")
    )
    return g.select(
        F.col("grp").cast("bigint").alias("grp"),
        "hugeint_sum",
        "cnt",
        (F.col("grp").cast("bigint") * 1000000007).alias("big_mul"),
        F.round(F.col("grp").cast("double") / 7, 6).alias("dbl_round"),
        F.concat(F.lit("canary-"), F.col("grp").cast("string")).alias(
            "label"
        ),
        (F.col("grp") == 1).alias("flag"),
        F.date_add(
            F.to_date(F.lit("2025-01-01")), F.col("grp").cast("int")
        ).alias("d"),
    )


@query(
    "mm_phash_dedup_reps",
    f"""
    WITH RECURSIVE ph AS (
      SELECT doc_id AS media_id, {_H60_PHASH_SQL} AS phash
      FROM documents),
    keyed AS (
      SELECT media_id, phash, ci,
             ((phash // power(2, ci * 15)::bigint) % 32768) AS ck
      FROM ph CROSS JOIN range(4) r(ci)),
    pairs AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.ci = b.ci AND a.ck = b.ck AND a.media_id < b.media_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 3),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT eg.dst, w.reach FROM walk w JOIN edges eg ON w.node = eg.src),
    comps AS (SELECT node, min(reach) AS comp FROM walk GROUP BY node),
    labeled AS (
      SELECT p.media_id, coalesce(c.comp, p.media_id) AS rep_id
      FROM ph p LEFT JOIN comps c ON p.media_id = c.node)
    SELECT cast(media_id AS BIGINT) AS media_id,
           cast(rep_id AS BIGINT) AS rep_id,
           cast(count(*) OVER (PARTITION BY rep_id) AS BIGINT) AS n_members,
           cast(CASE WHEN media_id = rep_id THEN 0 ELSE 1 END AS BIGINT)
             AS is_dup
    FROM labeled
    """,
)
def mm_phash_dedup_reps(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end multimodal dedup path (VERDICT r4 item 6): decode ->
    60-bit perceptual hash (mapInPandas, multimodal.extract_phash) ->
    chunk-blocked Hamming candidate join (Manku WWW'07 pigeonhole,
    signature_near_dup_pairs) -> star connected components (Kiveris
    SoCC'14) -> canonical representative per component (component-min id,
    singletons their own rep) + component size + keep/drop flag. This is
    the COMPOSITION of the driver-checked pieces mm_phash_near_dup (r4
    window) and the CC operator behind d_dup_components/d_leakage_free_
    split, proving the image-dedup pipeline end-to-end: the rep table is
    what a curator anti-joins against the media corpus to drop re-encoded
    duplicates. Payloads are the deterministic fake-codec signatures
    (doc_id % 300 exact-re-encode classes; no codec libs in this sandbox
    — real path is phash_from_gray, unit-tested on pixel matrices).
    Scale: the pairwise stage is the bucketed equi-join (never all-pairs,
    popcount on candidates only); CC is O(log^2 n) alternating-star
    rounds over the (tiny, near-dup-only) edge set; the rep/size readout
    is one window over the component key's hash partitioning."""
    from pdf_extractor_spark.operators.dedup import (
        connected_components_star,
        signature_near_dup_pairs,
    )

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.repeat(
                F.concat(
                    F.lit("px:"),
                    (F.col("doc_id") % 300).cast("string"),
                    F.lit(";"),
                ),
                16,
            ),
            "UTF-8",
        ).alias("payload"),
    ).repartition(_par(spark), "media_id")
    ph = M.extract_phash(media, fake=True).localCheckpoint()
    pairs = signature_near_dup_pairs(
        ph.select("media_id", "phash"),
        sig_col="phash",
        id_col="media_id",
        bits=M.PHASH_BITS,
        n_chunks=4,
        hamming_max=3,
    )
    comps = connected_components_star(pairs)
    labeled = (
        ph.select("media_id")
        .join(comps, ph["media_id"] == comps["node"], "left")
        .select(
            F.col("media_id").cast("bigint").alias("media_id"),
            F.coalesce("comp", F.col("media_id"))
            .cast("bigint")
            .alias("rep_id"),
        )
    )
    w = Window.partitionBy("rep_id")
    return labeled.select(
        "media_id",
        "rep_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_members"),
        F.when(F.col("media_id") == F.col("rep_id"), 0)
        .otherwise(1)
        .cast("bigint")
        .alias("is_dup"),
    )
