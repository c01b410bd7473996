"""Embedding similarity.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    N,
    S,
    SparkSession,
    T,
    Window,
    _dotted_rank,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _HEX8,
    _TOK_SQL,
)


# =============================================================================
# Embedding similarity
# =============================================================================


def _query_vec(spark: SparkSession, sf: str) -> list[float]:
    row = (
        _t(spark, sf, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(x) for x in row["embedding"]]


@query(
    "e_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 6) AS cosine_sim
    FROM embeddings, q
    WHERE vec_id != 0
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """,
)
def e_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-10 to embedding #0 (exact ANN baseline)."""
    e = _t(spark, sf, "embeddings")
    return S.cosine_topk(e, _query_vec(spark, sf), k=10, exclude_id=0)


@query(
    "e_label_centroid_sim",
    """
    WITH e2 AS (
      SELECT vec_id, label, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings),
    c AS (SELECT label, d, avg(v) AS cv FROM e2 GROUP BY label, d),
    j AS (
      SELECT e2.vec_id, e2.label,
             sum(e2.v * c.cv) AS dp, sum(e2.v * e2.v) AS n1, sum(c.cv * c.cv) AS n2
      FROM e2 JOIN c ON e2.label = c.label AND e2.d = c.d
      GROUP BY e2.vec_id, e2.label)
    SELECT vec_id, label, round(dp / (sqrt(n1) * sqrt(n2)), 4) AS centroid_sim
    FROM j
    """,
)
def e_centroid(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid + each vector's cosine to its centroid (IVF building
    block: centroid assignment = the coarse quantizer of an IVF index)."""
    e = _t(spark, sf, "embeddings")
    dim = 64
    cent = e.groupBy("label").agg(
        F.array(
            *[F.avg(F.col("embedding")[i].cast("double")) for i in range(dim)]
        ).alias("centroid")
    )
    return e.join(cent, "label").select(
        "vec_id",
        "label",
        F.round(S.cosine(F.col("embedding"), F.col("centroid")), 4).alias(
            "centroid_sim"
        ),
    )


@query(
    "e_srp_buckets",
    """
    WITH planes AS (
      SELECT p, d,
             (((strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 4, 1)) - 1))
              / 32768.0) - 1.0 AS w
      FROM range(6) t1(p), range(64) t2(d)),
    e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings),
    proj AS (
      SELECT e2.vec_id, planes.p, sum(e2.v * planes.w) AS s
      FROM e2 JOIN planes USING (d) GROUP BY e2.vec_id, planes.p)
    SELECT vec_id,
           cast(sum(CASE WHEN s >= 0 THEN power(2, p)::bigint ELSE 0 END) AS BIGINT)
             AS bucket
    FROM proj GROUP BY vec_id
    """,
)
def e_srp(spark: SparkSession, sf: str) -> DataFrame:
    """SRP-LSH bucket assignment (the ANN index key): sign-of-projection
    against 6 md5-derived hyperplanes — bit-for-bit reproducible in SQL.
    At corpus scale the table is written bucketed by this key and an ANN
    query becomes a single-bucket partition-pruned scan."""
    e = _t(spark, sf, "embeddings")
    planes = S.hyperplanes(6, 64)
    return e.select(
        "vec_id",
        S.srp_bucket(F.col("embedding"), planes).cast("bigint").alias("bucket"),
    )


@query(
    "e_cosine_near_dup",
    """
    WITH planes AS (
      SELECT p, d,
             (((strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 4, 1)) - 1))
              / 32768.0) - 1.0 AS w
      FROM range(6) t1(p), range(64) t2(d)),
    e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings),
    proj AS (
      SELECT e2.vec_id, planes.p, sum(e2.v * planes.w) AS s
      FROM e2 JOIN planes USING (d) GROUP BY e2.vec_id, planes.p),
    b AS (
      SELECT vec_id,
             cast(sum(CASE WHEN s >= 0 THEN power(2, p)::bigint ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id),
    k AS (SELECT b.vec_id AS id, bucket, embedding AS v
          FROM b JOIN embeddings ON b.vec_id = embeddings.vec_id)
    SELECT a.id AS id_a, bb.id AS id_b,
           round(list_dot_product(a.v::DOUBLE[], bb.v::DOUBLE[])
                 / (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]))
                    * sqrt(list_dot_product(bb.v::DOUBLE[], bb.v::DOUBLE[]))), 6)
             AS cosine_sim
    FROM k a JOIN k bb ON a.bucket = bb.bucket AND a.id < bb.id
    WHERE round(list_dot_product(a.v::DOUBLE[], bb.v::DOUBLE[])
                / (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]))
                   * sqrt(list_dot_product(bb.v::DOUBLE[], bb.v::DOUBLE[]))), 6) >= 0.35
    """,
)
def e_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: SRP-bucket blocking (6 md5-derived
    hyperplanes) + exact cosine rescore of in-bucket candidates only.
    The N x N cross product never materializes — the join key is a short
    bucket int, so at corpus scale this is one shuffle on ~N rows followed
    by per-bucket local pair generation (same shape as minhash-LSH d_lsh).
    Threshold 0.35 is demo-scale (the synthetic embeddings have no true
    dups); production near-dup uses ~0.95 with the identical plan."""
    e = _t(spark, sf, "embeddings")
    return S.cosine_near_dup_pairs(e, threshold=0.35, n_planes=6)


@query(
    "e_ivf_topk",
    """
    WITH e2 AS (
      SELECT vec_id, label, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings),
    c AS (SELECT label, d, avg(v) AS cv FROM e2 GROUP BY label, d),
    q AS (SELECT d, v AS qv FROM e2 WHERE vec_id = 0),
    sc AS (
      SELECT c.label, sum(c.cv * q.qv) AS dp,
             sum(c.cv * c.cv) AS n1, sum(q.qv * q.qv) AS n2
      FROM c JOIN q USING (d) GROUP BY c.label),
    probe AS (
      SELECT label FROM sc ORDER BY dp / (sqrt(n1) * sqrt(n2)) DESC, label LIMIT 1),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], qv.qe::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv.qe::DOUBLE[], qv.qe::DOUBLE[]))), 6)
             AS cosine_sim
    FROM embeddings e, qv WHERE e.label = (SELECT label FROM probe)
    ORDER BY cosine_sim DESC, e.vec_id LIMIT 10
    """,
)
def e_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN top-10: tiny per-label centroid table (the coarse
    quantizer), driver picks the single nearest probe cluster, then an exact
    rescore over a partition-prunable ``label = probe`` filter. At 100 TB the
    table is written partitioned by cluster id so the probe is a
    partition-pruned scan; recall is traded via ``n_probe``."""
    e = _t(spark, sf, "embeddings")
    return S.ivf_topk(e, _query_vec(spark, sf), k=10, n_probe=1)


_SRP_PLANES_SQL = """
    planes AS (
      SELECT p, d,
             (((strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 4, 1)) - 1))
              / 32768.0) - 1.0 AS w
      FROM range(6) t1(p), range(64) t2(d)),
    e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings),
    proj AS (
      SELECT e2.vec_id, planes.p, sum(e2.v * planes.w) AS s
      FROM e2 JOIN planes USING (d) GROUP BY e2.vec_id, planes.p),
    b AS (
      SELECT vec_id,
             cast(sum(CASE WHEN s >= 0 THEN power(2, p)::bigint ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id)
"""


@query(
    "e_ann_multiprobe",
    f"""
    WITH {_SRP_PLANES_SQL},
    qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
    flips AS (
      SELECT p FROM proj WHERE vec_id = 0
      ORDER BY round(abs(s), 6), p LIMIT 2),
    probes AS (
      SELECT qbucket AS bucket FROM qb
      UNION
      SELECT xor(qbucket, power(2, p)::bigint) FROM qb, flips),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], qv.qe::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv.qe::DOUBLE[], qv.qe::DOUBLE[]))), 6)
             AS cosine_sim
    FROM embeddings e
    JOIN b ON b.vec_id = e.vec_id, qv
    WHERE b.bucket IN (SELECT bucket FROM probes) AND e.vec_id != 0
    ORDER BY cosine_sim DESC, e.vec_id LIMIT 10
    """,
)
def e_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multiprobe SRP ANN (Lv et al. VLDB'07): probe the query's bucket PLUS
    the two buckets across its lowest-|margin| hyperplanes, exact-rescore
    candidates only. Same plan shape as single-probe (partition-prunable
    bucket IN filter + TakeOrdered) at 3x the scanned buckets; recall
    strictly improves over single-probe (asserted in
    tests/test_parity_ops.py)."""
    e = _t(spark, sf, "embeddings")
    return S.ann_topk(
        e, _query_vec(spark, sf), k=10, n_planes=6, n_flip=2, exclude_id=0
    )


@query(
    "e_ivf_multiprobe",
    """
    WITH e2 AS (
      SELECT vec_id, label, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings),
    c AS (SELECT label, d, avg(v) AS cv FROM e2 GROUP BY label, d),
    q AS (SELECT d, v AS qv FROM e2 WHERE vec_id = 0),
    sc AS (
      SELECT c.label, sum(c.cv * q.qv) AS dp,
             sum(c.cv * c.cv) AS n1, sum(q.qv * q.qv) AS n2
      FROM c JOIN q USING (d) GROUP BY c.label),
    probe AS (
      SELECT label FROM sc
      ORDER BY round(dp / (sqrt(n1) * sqrt(n2)), 6) DESC, label LIMIT 2),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], qv.qe::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv.qe::DOUBLE[], qv.qe::DOUBLE[]))), 6)
             AS cosine_sim
    FROM embeddings e, qv WHERE e.label IN (SELECT label FROM probe)
    ORDER BY cosine_sim DESC, e.vec_id LIMIT 10
    """,
)
def e_ivf2(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with n_probe=2: rescore the two clusters whose centroids are
    nearest the query — the standard IVF recall/probe-count trade, same
    partition-pruned plan shape as n_probe=1 over twice the clusters."""
    e = _t(spark, sf, "embeddings")
    return S.ivf_topk(e, _query_vec(spark, sf), k=10, n_probe=2)


@query(
    "e_kmeans_clusters",
    """
    WITH e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings),
    c0 AS (SELECT vec_id AS cluster, d, v AS cv FROM e2 WHERE vec_id < 4),
    s1 AS (
      SELECT e2.vec_id, c0.cluster,
             round(sum(e2.v * c0.cv)
                   / (sqrt(sum(e2.v * e2.v)) * sqrt(sum(c0.cv * c0.cv))), 6) AS sim
      FROM e2 JOIN c0 USING (d) GROUP BY e2.vec_id, c0.cluster),
    a1 AS (
      SELECT vec_id,
             -(max(struct_pack(s := sim, nc := -cluster)).nc) AS cluster
      FROM s1 GROUP BY vec_id),
    c1 AS (
      SELECT a1.cluster, e2.d, avg(e2.v) AS cv
      FROM a1 JOIN e2 ON a1.vec_id = e2.vec_id GROUP BY a1.cluster, e2.d),
    c1f AS (
      SELECT * FROM c1
      UNION ALL
      SELECT c0.cluster, c0.d, c0.cv FROM c0
      WHERE c0.cluster NOT IN (SELECT DISTINCT cluster FROM c1)),
    s2 AS (
      SELECT e2.vec_id, c1f.cluster,
             round(sum(e2.v * c1f.cv)
                   / (sqrt(sum(e2.v * e2.v)) * sqrt(sum(c1f.cv * c1f.cv))), 6) AS sim
      FROM e2 JOIN c1f USING (d) GROUP BY e2.vec_id, c1f.cluster),
    a2 AS (
      SELECT vec_id,
             -(max(struct_pack(s := sim, nc := -cluster)).nc) AS cluster
      FROM s2 GROUP BY vec_id)
    SELECT vec_id, cast(cluster AS BIGINT) AS cluster FROM a2
    """,
)
def e_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Spherical k-means (k=4, 2 rounds) — the IVF coarse quantizer's
    training loop as repeated assign+mean steps (similarity.py
    kmeans_iterations). Deterministic init (k lowest-id vectors), rounded
    similarities, struct-greatest tie-break; every iteration's argmax and
    centroid update replicated in SQL."""
    e = _t(spark, sf, "embeddings")
    return S.kmeans_iterations(e, k=4, n_iter=2).select(
        F.col("id").alias("vec_id"), F.col("cluster").cast("bigint").alias("cluster")
    )


@query(
    "m3_reassemble_chunks",
    """
    SELECT l_orderkey AS doc_key,
           string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS text,
           count(*) AS n_chunks
    FROM lineitem GROUP BY l_orderkey
    """,
)
def m3(spark: SparkSession, sf: str) -> DataFrame:
    """M3 — continuation-chunk reassembly: deterministic ordered concat per
    key (reference src/extractor.py:226-243 loop as one groupBy)."""
    from pdf_extractor_spark.operators.chunks import reassemble_chunks

    li = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("doc_key"),
        F.col("l_linenumber").alias("chunk_id"),
        F.col("l_returnflag").alias("chunk_text"),
    )
    return reassemble_chunks(li, key_col="doc_key")


@query(
    "m_chunk_for_training",
    f"""
    WITH tok AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
    meta AS (SELECT doc_id, t, array_length(t) AS n FROM tok),
    idx AS (
      SELECT doc_id,
             unnest(range(1, CASE WHEN n > 0 THEN ((n-1)//48)+2 ELSE 1 END)) AS i
      FROM meta)
    SELECT idx.doc_id, cast(i - 1 AS INT) AS chunk_id,
           array_to_string(list_slice(t, (i-1)*48 + 1, (i-1)*48 + 64), ' ') AS chunk_text,
           cast(len(list_slice(t, (i-1)*48 + 1, (i-1)*48 + 64)) AS INT) AS chunk_n_tokens
    FROM idx JOIN meta ON idx.doc_id = meta.doc_id
    """,
)
def m_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Training-chunk split (inverse of M3 reassembly): documents cut into
    64-token chunks with 16-token overlap — the standard pre-training prep
    shape. Staged token array + one posexplode; tail chunks may be short."""
    from pdf_extractor_spark.operators.chunks import chunk_for_training

    d = _t(spark, sf, "documents")
    return chunk_for_training(
        d, chunk_tokens=64, overlap=16, n_partitions=_par(spark)
    ).withColumnRenamed("id", "doc_id")


@query(
    "x_curation_pipeline",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    uni AS (
      SELECT doc_id, cast(sum(c) AS BIGINT) AS n_tokens,
             round(count(*) / sum(c), 6) AS distinct_token_frac,
             round(max(c) / sum(c), 6) AS top_token_frac
      FROM c GROUP BY doc_id),
    keepers AS (
      SELECT d.doc_id, d.lang, u.n_tokens
      FROM documents d JOIN uni u ON d.doc_id = u.doc_id
      WHERE u.n_tokens BETWEEN 10 AND 100000
        AND u.distinct_token_frac >= 0.3 AND u.top_token_frac <= 0.3
        AND d.doc_id = (SELECT min(d2.doc_id) FROM documents d2
                        WHERE md5(d2.text) = md5(d.text))
        AND ({_HEX8.format(h="md5(concat('strat:', d.doc_id))", p="1")})
            / 4294967296.0 < CASE d.lang WHEN 'en' THEN 0.5 ELSE 0.9 END),
    final AS (
      SELECT doc_id, lang, n_tokens,
             cast(CASE WHEN n_tokens > 0 THEN ((n_tokens - 1) // 48) + 1
                  ELSE 0 END AS BIGINT) AS n_chunks
      FROM keepers)
    SELECT doc_id, lang, n_tokens, n_chunks FROM final
    """,
)
def x_curation(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end CURATION decision in one declarative plan — the
    composition this engine exists for: Gopher repetition/length filter ->
    exact-dup keep-first -> per-language rebalancing sample -> training
    chunk accounting. One explode-aggregate for the quality signals, one
    hash groupBy for the dup keep-set (broadcast back), a scan-side
    deterministic sample filter, and pure arithmetic for chunk counts —
    no UDF anywhere."""
    from pdf_extractor_spark.operators.sampling import stratified_sample

    d = _t(spark, sf, "documents")
    stats = T.repetition_stats(d, "doc_id", "text", n_partitions=_par(spark))
    keep_q = stats.filter(
        F.col("n_tokens").between(10, 100000)
        & (F.col("distinct_token_frac") >= 0.3)
        & (F.col("top_token_frac") <= 0.3)
    ).select("doc_id", "n_tokens")
    reps = (
        d.select(F.md5(F.encode(F.col("text"), "UTF-8")).alias("_h"), "doc_id")
        .groupBy("_h")
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias("doc_id"))
    )
    sampled = stratified_sample(
        d.select("doc_id", "lang"), {"en": 0.5}, "lang", "doc_id",
        default_rate=0.9,
    )
    curated = (
        keep_q.join(reps, "doc_id").join(sampled, "doc_id")
    )
    step = 64 - 16
    n_chunks = F.when(
        F.col("n_tokens") > 0, F.floor((F.col("n_tokens") - 1) / step) + 1
    ).otherwise(F.lit(0)).cast("bigint")
    return curated.select("doc_id", "lang", "n_tokens", n_chunks.alias("n_chunks"))


@query(
    "m_pack_sequences",
    f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK_SQL} AS t FROM documents),
    meta AS (
      SELECT doc_id, lang, array_length(t) AS n FROM tok),
    cum AS (
      SELECT doc_id, lang, n,
             coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_prev
      FROM meta)
    SELECT doc_id, lang, cast(n AS BIGINT) AS n_tokens,
           cast(cum_prev // 2048 AS BIGINT) AS seq_id,
           cast(cum_prev % 2048 AS BIGINT) AS seq_offset
    FROM cum
    """,
)
def m_pack(spark: SparkSession, sf: str) -> DataFrame:
    """SEQUENCE PACKING: assign documents to fixed-budget training
    sequences (2048 tokens) per language stream by streaming quotient
    packing — seq_id = floor(exclusive-running-token-sum / budget).
    A sequence may exceed the budget by < one document's tokens, the
    standard trade of stateless packing (exact first-fit needs a
    sequential pass). seq_offset = position inside the sequence.

    Two-level running sum (the ``_dotted_rank`` pattern): a window
    partitioned by ``lang`` alone serializes each language stream on one
    task — with 'en' ≈ half the corpus that is a single task owning ~10⁹
    rows at 100 TB. Instead shard each language into contiguous doc_id
    ranges (shard id monotone in doc_id, so per-lang order is preserved),
    run the prefix sum within (lang, shard), and add broadcast per-shard
    prefix offsets (|lang|×S rows — tiny at any scale). Output identical
    to the single-window form; no serialized task anywhere."""
    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", "lang", D.word_tokens(F.col("text")).alias("_t")
    ).repartition(_par(spark), "doc_id")
    meta = staged.select("doc_id", "lang", F.size("_t").alias("n"))
    # contiguous range shards: shard = floor(doc_id * S / (max_id + 1)).
    # The 1-row max rides in as a broadcast nested-loop join (no driver
    # action, no collect); S scales with the session's parallelism.
    n_shards = _par(spark) * 4
    hi = meta.agg(F.max("doc_id").alias("_hi"))
    sharded = meta.join(F.broadcast(hi)).select(
        "doc_id",
        "lang",
        "n",
        F.floor(F.col("doc_id") * n_shards / (F.col("_hi") + 1))
        .cast("int")
        .alias("_shard"),
    )
    w_in = (
        Window.partitionBy("lang", "_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prev = F.coalesce(F.sum("n").over(w_in), F.lit(0))
    totals = sharded.groupBy("lang", "_shard").agg(F.sum("n").alias("_cnt"))
    x, y = totals.alias("x"), totals.alias("y")
    offsets = (
        x.join(
            F.broadcast(y),
            (F.col("y.lang") == F.col("x.lang"))
            & (F.col("y._shard") < F.col("x._shard")),
            "left",
        )
        .groupBy(F.col("x.lang").alias("lang"), F.col("x._shard").alias("_shard"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    cum_prev = F.col("_off") + local_prev
    return (
        sharded.join(F.broadcast(offsets), ["lang", "_shard"])
        .select(
            "doc_id",
            "lang",
            F.col("n").cast("bigint").alias("n_tokens"),
            F.floor(cum_prev / 2048).cast("bigint").alias("seq_id"),
            (cum_prev % 2048).cast("bigint").alias("seq_offset"),
        )
    )


@query(
    "p6_quick_validate",
    """
    SELECT doc_id,
           (length(trim(text)) = 0) AS is_empty,
           contains(text, '[CONTINUE]') AS has_continuation,
           (contains(upper(text), 'ERROR') OR contains(upper(text), 'FAILED')) AS has_error_marker,
           (length(trim(text)) > 0 AND NOT contains(text, '[CONTINUE]')
            AND NOT (contains(upper(text), 'ERROR') OR contains(upper(text), 'FAILED'))) AS passes
    FROM documents
    """,
)
def p6(spark: SparkSession, sf: str) -> DataFrame:
    """P6 — content sanity predicates (reference src/validator.py:234-292
    quick_validate: empty output, [CONTINUE] marker, ERROR/FAILED)."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    is_empty = F.length(F.trim(t)) == 0
    has_cont = t.contains("[CONTINUE]")
    has_err = F.upper(t).contains("ERROR") | F.upper(t).contains("FAILED")
    return d.select(
        "doc_id",
        is_empty.alias("is_empty"),
        has_cont.alias("has_continuation"),
        has_err.alias("has_error_marker"),
        (~is_empty & ~has_cont & ~has_err).alias("passes"),
    )


@query(
    "a1_collect_note_refs",
    """
    WITH raw AS (
      SELECT n_nationkey, unnest([
        concat('Note ', cast(n_regionkey AS VARCHAR), '.', cast(n_nationkey % 4 AS VARCHAR)),
        concat(cast(n_regionkey AS VARCHAR), '.', cast(n_nationkey % 3 AS VARCHAR), ' (continued)'),
        'no digits here'
      ]) AS ref FROM nation),
    norm AS (
      SELECT DISTINCT regexp_extract(ref, '(\\d+(?:\\.\\d+)*)', 1) AS note_id FROM raw
      WHERE length(regexp_extract(ref, '(\\d+(?:\\.\\d+)*)', 1)) > 0)
    SELECT note_id, row_number() OVER (
      ORDER BY cast(split_part(note_id, '.', 1) AS INT),
               cast(split_part(note_id, '.', 2) AS INT)) AS rank
    FROM norm
    """,
)
def a1(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2 — collect + normalize + dedupe + dotted-sort note references
    (reference src/notes_extractor.py:29-68)."""
    n = _t(spark, sf, "nation")
    refs = n.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("Note "),
                    F.col("n_regionkey").cast("string"),
                    F.lit("."),
                    (F.col("n_nationkey") % 4).cast("string"),
                ),
                F.concat(
                    F.col("n_regionkey").cast("string"),
                    F.lit("."),
                    (F.col("n_nationkey") % 3).cast("string"),
                    F.lit(" (continued)"),
                ),
                F.lit("no digits here"),
            )
        ).alias("ref")
    )
    norm = (
        refs.select(N.normalize_note_ref(F.col("ref")).alias("note_id"))
        .filter(F.length("note_id") > 0)
        .distinct()
    )
    return _dotted_rank(norm, "note_id")
