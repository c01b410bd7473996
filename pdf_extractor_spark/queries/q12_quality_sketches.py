"""Trained quality classifier, PQ/ADC, sketches, FIM, WET codec.

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
    _TOK_SQL,
    _TOK_SQL_SAFE,
)
from pdf_extractor_spark.queries.q06_embeddings import (
    _query_vec,
)
from pdf_extractor_spark.queries.q07_extraction_multimodal import (
    _bpe_round_sql,
)


# --- trained quality classifier (VERDICT r3 item 5) ---------------------------

_PTRON_X = ["xb", "x1", "x2", "x3", "x4"]
_PTRON_W = ["wb", "w1", "w2", "w3", "w4"]
_PTRON_MARGIN = " + ".join(f"{w}*{x}" for w, x in zip(_PTRON_W, _PTRON_X))


def _ptron_epoch_sql(k: int) -> str:
    """One unrolled batch-perceptron epoch: the 5 gradient sums over the
    misclassified rows (d{k}) then the weight update (s{k})."""
    sums = ", ".join(
        f"coalesce(sum(CASE WHEN y * ({_PTRON_MARGIN}) <= 0 "
        f"THEN y * {x} END), 0) AS g{j}"
        for j, x in enumerate(_PTRON_X)
    )
    upd = ", ".join(f"{w} + g{j} AS {w}" for j, w in enumerate(_PTRON_W))
    return f"d{k} AS (SELECT {sums} FROM feats, s{k-1}),\n    s{k} AS (SELECT {upd} FROM s{k-1}, d{k})"


_PTRON_FEATS_SQL = f"""
    t AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks,
                 cast(length(text) AS BIGINT) AS n_chars FROM documents),
    ptok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    pc AS (SELECT doc_id, tok, count(*) AS c FROM ptok GROUP BY doc_id, tok),
    puni AS (SELECT doc_id, cast(sum(c) AS BIGINT) AS n_tokens,
                    cast(count(*) AS BIGINT) AS d_tokens,
                    cast(max(c) AS BIGINT) AS m_count
             FROM pc GROUP BY doc_id),
    pbig AS (SELECT doc_id, n_chars,
                    cast(coalesce(array_length(s), 0) AS BIGINT) AS n_big,
                    cast(coalesce(array_length(list_distinct(s)), 0) AS BIGINT) AS d_big
             FROM (SELECT doc_id, n_chars,
                          list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                         i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS s
                   FROM t)),
    feats AS (
      SELECT u.doc_id,
             CASE WHEN (n_tokens BETWEEN 10 AND 100000)
                   AND (1000000 * d_tokens) // n_tokens >= 300000
                   AND (1000000 * m_count) // n_tokens <= 300000
                   AND (CASE WHEN n_big <= 0 THEN 0
                        ELSE (1000000 * (n_big - d_big)) // n_big END) <= 300000
                  THEN cast(1 AS BIGINT) ELSE cast(-1 AS BIGINT) END AS y,
             cast(1000000 AS BIGINT) AS xb,
             least(n_chars, 2000) * 500 AS x1,
             (1000000 * d_tokens) // n_tokens AS x2,
             (1000000 * m_count) // n_tokens AS x3,
             least((1000000 * n_chars) // (20 * n_tokens), 1000000) AS x4
      FROM puni u JOIN pbig b ON u.doc_id = b.doc_id),
    s0 AS (SELECT {', '.join(f'cast(0 AS BIGINT) AS {w}' for w in _PTRON_W)})
"""


@query(
    "t_quality_train",
    f"""
    WITH {_PTRON_FEATS_SQL},
    {_ptron_epoch_sql(1)},
    {_ptron_epoch_sql(2)},
    {_ptron_epoch_sql(3)},
    {_ptron_epoch_sql(4)}
    SELECT f.doc_id, f.y AS label,
           cast(({_PTRON_MARGIN}) AS BIGINT) AS margin,
           (({_PTRON_MARGIN}) > 0) AS keep,
           {', '.join(f'cast({w} AS BIGINT) AS {w}' for w in _PTRON_W)}
    FROM feats f, s4
    """,
)
def t_quality_train(spark: SparkSession, sf: str) -> DataFrame:
    """TRAINED quality classifier (VERDICT r3 item 5 — replaces
    t_quality_classifier's documented stand-in weights with a fitted
    model): 4 batch-perceptron epochs over integer ppm features, with the
    rule-based Gopher filter as the labeling teacher (classifier
    distillation of an expensive rule — the trained model never sees the
    bigram signal the rule needs). Driver discipline matches m_bpe_train:
    each epoch is ONE map-side-combinable aggregate collapsing to a single
    collected 5-number gradient row over the cached ~40-byte/doc feature
    table; the feature build itself is the usual explode -> (id, tok)
    partial-agg counts. Everything is BIGINT arithmetic from zero-
    initialized weights, so the oracle replays the full training
    trajectory with one unrolled CTE pair per epoch and the margins —
    and the trained weights themselves, returned as columns — match
    bit-for-bit across engines."""
    from pdf_extractor_spark.operators.textstats import (
        quality_training_features,
        train_quality_perceptron,
    )

    feats = quality_training_features(
        _t(spark, sf, "documents"), "doc_id", "text", n_partitions=_par(spark)
    )
    w, scored = train_quality_perceptron(feats, n_epochs=4)
    return scored.select(
        "doc_id",
        F.col("y").alias("label"),
        "margin",
        "keep",
        *[
            F.lit(wj).cast("bigint").alias(name)
            for wj, name in zip(w, _PTRON_W)
        ],
    )


@query("t_compression_ratio")
def t_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Compression-ratio quality screen (VERDICT r3 item 6 — the
    RefinedWeb/MassiveText cheap redundancy check): zlib-deflate each
    document once in an Arrow-batched mapInPandas stage and keep docs in
    the healthy band — too-compressible (< 0.30) is looping boilerplate or
    keyword spam, barely-compressible (> 0.95) is high-entropy junk. One
    repartition barrier then a single C-speed batch stage; OUTSIDE the
    extraction hot path, so the single-Arrow-UDF extraction invariant is
    untouched. DEFLATE has no ANSI-SQL counterpart, so this is the
    catalog's one rows-only entry: correctness is pytest-golden-gated
    instead (distributed UDF == single-process zlib, byte-identical at two
    parallelism levels — tests/test_compression_ratio.py)."""
    from pdf_extractor_spark.operators.textstats import compression_stats

    d = _t(spark, sf, "documents")
    stats = compression_stats(d, "doc_id", "text", n_partitions=_par(spark))
    return stats.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        "ratio_ppm",
        ((F.col("ratio_ppm") >= 300000) & (F.col("ratio_ppm") <= 950000)).alias(
            "keep"
        ),
    )


@query(
    "e_bitext_mine",
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
    k AS (SELECT b.vec_id AS id, label, bucket, embedding AS v
          FROM b JOIN embeddings ON b.vec_id = embeddings.vec_id),
    cand AS (
      SELECT a.id AS src_id, bb.id AS tgt_id,
             round(list_dot_product(a.v::DOUBLE[], bb.v::DOUBLE[])
                   / (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]))
                      * sqrt(list_dot_product(bb.v::DOUBLE[], bb.v::DOUBLE[]))), 6)
               AS cosine_sim
      FROM k a JOIN k bb ON a.bucket = bb.bucket
      WHERE a.label = 0 AND bb.label = 1),
    r AS (
      SELECT src_id, tgt_id, cosine_sim,
             row_number() OVER w AS rk,
             lead(cosine_sim) OVER w AS second_sim
      FROM cand
      WINDOW w AS (PARTITION BY src_id ORDER BY cosine_sim DESC, tgt_id))
    SELECT src_id, tgt_id, cosine_sim, second_sim,
           (cosine_sim >= 0.5 AND
            (second_sim IS NULL OR cosine_sim >= 1.05 * second_sim)) AS mined
    FROM r WHERE rk = 1
    """,
)
def e_bitext_mine(spark: SparkSession, sf: str) -> DataFrame:
    """Bitext / parallel-pair mining (Artetxe & Schwenk ACL 2019 margin
    criterion, ratio form over the top-2 neighborhood): per label-0
    ("source language") vector, the best label-1 ("target language")
    candidate by cosine, mined when it clears min_sim AND towers over the
    runner-up by the margin ratio — the step that turns a multilingual
    embedding space into translation-pair training data. SRP-bucket
    blocking + in-bucket exact rescore + one source-partitioned window
    (rank + lead together); see operators/similarity.mine_bitext_pairs
    for the 100-TB notes. The margin test multiplies already-rounded
    similarities, so the mined flag hashes identically across engines."""
    from pdf_extractor_spark.operators.similarity import mine_bitext_pairs

    e = _t(spark, sf, "embeddings")
    return mine_bitext_pairs(
        e, src_label=0, tgt_label=1, n_planes=6, min_sim=0.5, margin=1.05
    )


@query(
    "t_readability",
    """
    WITH f AS (
      SELECT doc_id,
             cast(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                  THEN 0 ELSE len(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
                  END AS BIGINT) AS n_words,
             greatest(cast(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
               AS n_sentences,
             cast(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
      FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           206835 - (1015 * n_words) // n_sentences
                  - (84600 * n_syllables) // n_words AS flesch_milli,
           CASE WHEN 206835 - (1015 * n_words) // n_sentences
                       - (84600 * n_syllables) // n_words >= 60000 THEN 'easy'
                WHEN 206835 - (1015 * n_words) // n_sentences
                       - (84600 * n_syllables) // n_words >= 30000 THEN 'medium'
                ELSE 'hard' END AS band
    FROM f WHERE n_words > 0
    """,
)
def t_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Readability quality signal (Flesch reading ease, Flesch 1948 — the
    classic curation-side complexity screen; e.g. FineWeb-Edu buckets by
    an educational-readability score): words via the engine tokenizer,
    sentences as terminal-punctuation runs (min 1), syllables as vowel
    GROUPS — the standard dictionary-free approximation. The score is
    kept in integer MILLI-points (206835 - 1015*W//S - 84600*Syl//W):
    every term an integral division of counts, so both engines hash
    bit-identically with no float in sight. Pure scan-side expressions —
    three regexp counts per row, no shuffle at all."""
    from pdf_extractor_spark.operators.dedup import word_tokens

    d = _t(spark, sf, "documents")
    f = d.select(
        "doc_id",
        F.size(word_tokens(F.col("text"))).cast("bigint").alias("n_words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
        .cast("bigint")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206835).cast("bigint")
        - F.expr("(1015 * n_words) div n_sentences")
        - F.expr("(84600 * n_syllables) div n_words")
    )
    return f.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch_milli"),
        F.when(flesch >= 60000, F.lit("easy"))
        .when(flesch >= 30000, F.lit("medium"))
        .otherwise(F.lit("hard"))
        .alias("band"),
    )


@query(
    "m_span_corruption",
    f"""
    WITH t AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM documents),
    p AS (SELECT doc_id, unnest(range(len(toks))) AS pos
          FROM t WHERE len(toks) > 0),
    hx AS (SELECT doc_id, pos,
                  md5(concat('span:', doc_id, ':', pos)) AS h FROM p),
    s AS (SELECT doc_id, pos,
                 (({_HEX8.format(h="h", p="1")}) / 4294967296.0 < 0.05)
                   AS is_start
          FROM hx),
    c AS (SELECT doc_id, pos, is_start,
                 max(CASE WHEN is_start THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS covered
          FROM s),
    i AS (SELECT doc_id, covered,
                 (covered AND NOT coalesce(
                   lag(covered) OVER (PARTITION BY doc_id ORDER BY pos),
                   FALSE)) AS island
          FROM c),
    agg AS (SELECT doc_id,
                   cast(count(*) AS BIGINT) AS n_tokens,
                   cast(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_masked,
                   cast(sum(CASE WHEN island THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_spans
            FROM i GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_masked, n_spans,
           n_tokens - n_masked + n_spans AS input_len,
           n_masked + n_spans + 1 AS target_len,
           (1000000 * n_masked) // n_tokens AS mask_ppm
    FROM agg
    """,
)
def m_span_corruption(spark: SparkSession, sf: str) -> DataFrame:
    """T5-style span-corruption accounting (Raffel et al. JMLR 2020 §3.1.4:
    mask contiguous spans, replace each with one sentinel): deterministic
    span starts from an md5 coin per (doc, position) (~5% start density x
    3-token spans ~= the 15% noise budget), coverage via a 3-row
    doc-partitioned window max, sentinel (island) starts via lag — then
    per doc the exact INPUT and TARGET sequence lengths a T5-objective
    batch builder must budget for (inputs = tokens - masked + sentinels;
    targets = masked + sentinels + EOS). Every value integer, every
    window bounded by the document's own length, the md5 coin partition-
    invariant — bit-identical across engines and layouts."""
    from pyspark.sql import Window

    from pdf_extractor_spark.operators.dedup import word_tokens
    from pdf_extractor_spark.operators.sampling import _hash_frac

    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", word_tokens(F.col("text")).alias("_t")
    ).repartition(_par(spark), "doc_id")
    pos = staged.filter(F.size("_t") > 0).select(
        "doc_id", F.posexplode("_t").alias("pos", "_tok")
    )
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    s = pos.select(
        "doc_id", "pos", (_hash_frac(key, "span") < 0.05).alias("is_start")
    )
    w3 = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-2, 0)
    wl = Window.partitionBy("doc_id").orderBy("pos")
    c = s.select(
        "doc_id",
        "pos",
        (F.max(F.when(F.col("is_start"), 1).otherwise(0)).over(w3) == 1).alias(
            "covered"
        ),
    )
    i = c.select(
        "doc_id",
        "covered",
        (
            F.col("covered")
            & ~F.coalesce(F.lag("covered").over(wl), F.lit(False))
        ).alias("island"),
    )
    agg = i.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("covered"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_masked"),
        F.sum(F.when(F.col("island"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_spans"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        (F.col("n_tokens") - F.col("n_masked") + F.col("n_spans")).alias(
            "input_len"
        ),
        (F.col("n_masked") + F.col("n_spans") + F.lit(1)).alias("target_len"),
        F.expr("(1000000 * n_masked) div n_tokens").alias("mask_ppm"),
    )


def _pq_sub_sql(s: int, lo: int, hi: int) -> str:
    """CTE chain for one PQ subspace: seed -> 2 Lloyd's rounds (assign by
    rounded L2, struct-min tie-break, mean update with empty-codeword
    carry) -> final code + quantization error."""
    return f"""
    sub{s} AS (SELECT vec_id, v, d FROM (
                 SELECT vec_id, unnest(embedding)::DOUBLE AS v,
                        generate_subscripts(embedding, 1) AS d
                 FROM embeddings)
               WHERE d BETWEEN {lo} AND {hi}),
    c0_{s} AS (SELECT vec_id AS code, d, v AS cv FROM sub{s} WHERE vec_id < 4),
    d1_{s} AS (SELECT b.vec_id, c.code,
                      round(sum((b.v - c.cv) * (b.v - c.cv)), 6) AS dd
               FROM sub{s} b JOIN c0_{s} c USING (d)
               GROUP BY b.vec_id, c.code),
    a1_{s} AS (SELECT vec_id, min(struct_pack(dd := dd, cc := code)).cc AS code
               FROM d1_{s} GROUP BY vec_id),
    c1_{s} AS (SELECT a.code, b.d, avg(b.v) AS cv
               FROM a1_{s} a JOIN sub{s} b USING (vec_id)
               GROUP BY a.code, b.d),
    c1f_{s} AS (SELECT * FROM c1_{s}
                UNION ALL
                SELECT c0.code, c0.d, c0.cv FROM c0_{s} c0
                WHERE c0.code NOT IN (SELECT DISTINCT code FROM c1_{s})),
    d2_{s} AS (SELECT b.vec_id, c.code,
                      round(sum((b.v - c.cv) * (b.v - c.cv)), 6) AS dd
               FROM sub{s} b JOIN c1f_{s} c USING (d)
               GROUP BY b.vec_id, c.code),
    a2_{s} AS (SELECT vec_id,
                      cast(min(struct_pack(dd := dd, cc := code)).cc AS INTEGER)
                        AS code_{s},
                      min(struct_pack(dd := dd, cc := code)).dd AS err_{s}
               FROM d2_{s} GROUP BY vec_id)"""


@query(
    "e_pq_encode",
    f"""
    WITH {_pq_sub_sql(0, 1, 32)},
    {_pq_sub_sql(1, 33, 64)}
    SELECT a2_0.vec_id, a2_0.code_0, a2_0.err_0, a2_1.code_1, a2_1.err_1
    FROM a2_0 JOIN a2_1 USING (vec_id)
    """,
)
def e_pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization (Jegou et al. TPAMI 2011 — the PQ half of
    IVF-PQ, completing the IVF story the catalog already carries): 2
    subspaces x 4 euclidean codewords, 2 Lloyd's rounds each, emitting
    every vector's code word per subspace plus its final squared
    quantization error. Seeds are the lowest-id vectors' sub-vectors
    (driver-table vec_ids are 0-based, so the SQL seed filter is
    vec_id < 4); distances round to 6 dp before the struct-min argmin, so
    both engines replay the identical training trajectory. See
    operators/similarity.pq_encode for the per-round plan shape (k
    broadcast centroid literals per subspace, k-row collects, no wide
    shuffle)."""
    from pdf_extractor_spark.operators.similarity import pq_encode

    e = _t(spark, sf, "embeddings")
    out = pq_encode(e, m=2, k=4, n_iter=2)
    return out.select(
        F.col("id").alias("vec_id"), "code_0", "err_0", "code_1", "err_1"
    )


@query(
    "m_curriculum_order",
    """
    WITH f AS (
      SELECT doc_id, lang,
             cast(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                  THEN 0 ELSE len(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
                  END AS BIGINT) AS n_words,
             greatest(cast(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
               AS n_sentences,
             cast(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syllables
      FROM documents),
    s AS (SELECT doc_id, lang,
                 206835 - (1015 * n_words) // n_sentences
                        - (84600 * n_syllables) // n_words AS flesch_milli
          FROM f WHERE n_words > 0),
    r AS (SELECT doc_id, lang, flesch_milli,
                 cast(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY flesch_milli DESC, doc_id) AS BIGINT) AS lang_rank
          FROM s)
    SELECT doc_id, lang, flesch_milli, lang_rank,
           cast(row_number() OVER (ORDER BY lang_rank, lang) AS BIGINT)
             AS curriculum_pos
    FROM r
    """,
)
def m_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum data ordering (Bengio et al. ICML 2009): a global
    easy-to-hard training order by readability, round-robin interleaved
    across languages so early steps see every language's easy head. The
    ORACLE defines the order with two plain windows (one of them an
    unpartitioned global row_number — fine for DuckDB's single process);
    the ENGINE computes the identical order with no global window at all:
    two-level (lang, score-bucket) ranks + broadcast prefix offsets for
    the within-language rank, then a CLOSED-FORM interleave position from
    the |langs|-row totals table (1 + sum_l min(r-1, n_l) + earlier-lang
    same-rank count) — see operators/sampling.curriculum_interleave.
    Integer score (Flesch milli-points, as t_readability), integer
    positions: bit-exact across engines and layouts."""
    from pdf_extractor_spark.operators.dedup import word_tokens
    from pdf_extractor_spark.operators.sampling import curriculum_interleave

    d = _t(spark, sf, "documents")
    f = d.select(
        "doc_id",
        "lang",
        F.size(word_tokens(F.col("text"))).cast("bigint").alias("n_words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
        .cast("bigint")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    scored = f.select(
        "doc_id",
        "lang",
        (
            F.lit(206835).cast("bigint")
            - F.expr("(1015 * n_words) div n_sentences")
            - F.expr("(84600 * n_syllables) div n_words")
        ).alias("flesch_milli"),
    ).repartition(_par(spark), "doc_id")
    return curriculum_interleave(scored, "flesch_milli", "lang", "doc_id")


@query(
    "e_adc_topk",
    f"""
    WITH {_pq_sub_sql(0, 1, 32)},
    {_pq_sub_sql(1, 33, 64)},
    lut0 AS (SELECT c.code, round(sum((q.v - c.cv) * (q.v - c.cv)), 6) AS ld
             FROM c1f_0 c JOIN sub0 q ON q.d = c.d AND q.vec_id = 0
             GROUP BY c.code),
    lut1 AS (SELECT c.code, round(sum((q.v - c.cv) * (q.v - c.cv)), 6) AS ld
             FROM c1f_1 c JOIN sub1 q ON q.d = c.d AND q.vec_id = 0
             GROUP BY c.code)
    SELECT a2_0.vec_id, a2_0.code_0, a2_1.code_1,
           round(l0.ld + l1.ld, 6) AS adc_dist
    FROM a2_0 JOIN a2_1 USING (vec_id)
    JOIN lut0 l0 ON l0.code = a2_0.code_0
    JOIN lut1 l1 ON l1.code = a2_1.code_1
    WHERE vec_id != 0
    ORDER BY adc_dist ASC, vec_id LIMIT 10
    """,
)
def e_adc_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric-distance PQ search (Jegou et al. TPAMI 2011 §V) — the
    search half of IVF-PQ, completing the encode half e_pq_encode carries:
    top-10 nearest to embedding #0 ranked by sum of per-subspace lookup
    distances LUT_s[code_s], the query unquantized and the database
    represented only by its 2x4 PQ codes. The oracle replays the identical
    training trajectory (_pq_sub_sql CTEs, shared with e_pq_encode), builds
    the same LUTs against the final-assignment codebook c1f_s, and ranks by
    the same two-term sum of 6-dp-rounded entries — bit-exact across
    engines because each LUT entry rounds half-up to 6 dp before the add.
    Scale shape: one scan of the codes table (m*log2(k) bits/vector, no
    embedding reads), m array-literal lookups per row, finishing in a
    TakeOrderedAndProject — see operators/similarity.pq_adc_topk."""
    from pdf_extractor_spark.operators.similarity import pq_adc_topk

    e = _t(spark, sf, "embeddings")
    return pq_adc_topk(
        e, _query_vec(spark, sf), topk=10, m=2, k=4, n_iter=2, exclude_id=0
    )


@query(
    "a_hll_distinct",
    f"""
    WITH tok AS (SELECT lang, unnest({_TOK_SQL_SAFE}) AS t FROM documents),
    h AS (SELECT lang, md5(concat('hll:', t)) AS hx FROM tok),
    r AS (SELECT lang,
            strpos('0123456789abcdef', substr(hx, 1, 1)) - 1 AS reg,
            ltrim(substr(hx, 2, 12), '0') AS stripped
          FROM h),
    rk AS (SELECT lang, reg,
            CASE WHEN stripped = '' THEN 49
                 ELSE (12 - len(stripped)) * 4
                      + CASE WHEN substr(stripped, 1, 1) = '1' THEN 3
                             WHEN substr(stripped, 1, 1) IN ('2', '3') THEN 2
                             WHEN substr(stripped, 1, 1) IN ('4', '5', '6', '7')
                               THEN 1
                             ELSE 0 END
                      + 1 END AS rank
           FROM r),
    m AS (SELECT lang, reg, max(rank) AS mr FROM rk GROUP BY lang, reg),
    s AS (SELECT lang, cast(count(*) AS INTEGER) AS registers_hit,
                 sum(power(2.0, -mr)) AS hs
          FROM m GROUP BY lang)
    SELECT lang, registers_hit,
           round(hs + (16 - registers_hit), 6) AS hll_sum,
           round((0.673 * 256) / (hs + (16 - registers_hit)), 2) AS hll_est
    FROM s
    """,
)
def a_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog distinct-token sketch per language (Flajolet et al.
    2007) — the mergeable-REGISTER complement to a_kmv_distinct_tokens:
    16 registers under max-merge, so shard sketches union without ever
    shuffling tokens (the 128-byte accumulator shape a 100 TB
    distinct-count wants). Register index/rank are pure md5-hex string
    arithmetic, the harmonic sum adds exact dyadic rationals, and the
    raw estimate avoids any cross-engine ln() ulp drift — the oracle
    checks the EXACT sketch, not an approximation band. See
    operators/sampling.hll_distinct."""
    from pdf_extractor_spark.operators.dedup import word_tokens
    from pdf_extractor_spark.operators.sampling import hll_distinct

    d = _t(spark, sf, "documents")
    toks = d.select("lang", F.explode(word_tokens(F.col("text"))).alias("tok"))
    return hll_distinct(toks, "lang", "tok")


@query(
    "m_fim_transform",
    f"""
    WITH b AS (
      SELECT doc_id, text, len(text) AS n,
             ({_HEX8.format(h="md5(concat('fim:', doc_id))", p="1")})
               / 4294967296.0 < 0.5 AS coin,
             ({_HEX8.format(h="md5(concat('fim1:', doc_id))", p="1")}) AS h1,
             ({_HEX8.format(h="md5(concat('fim2:', doc_id))", p="1")}) AS h2
      FROM documents),
    s AS (
      SELECT doc_id, text, n, (coin AND n > 0) AS fim_applied,
             CASE WHEN n > 0 THEN least(1 + h1 % n, 1 + h2 % n) ELSE 1 END AS lo,
             CASE WHEN n > 0 THEN greatest(1 + h1 % n, 1 + h2 % n) ELSE 1 END AS hi
      FROM b)
    SELECT doc_id, fim_applied,
           cast(CASE WHEN fim_applied THEN lo - 1 ELSE n END AS BIGINT)
             AS prefix_len,
           cast(CASE WHEN fim_applied THEN hi - lo ELSE 0 END AS BIGINT)
             AS middle_len,
           cast(CASE WHEN fim_applied THEN n - hi + 1 ELSE 0 END AS BIGINT)
             AS suffix_len,
           md5(CASE WHEN fim_applied
                    THEN concat('<PRE>', substr(text, 1, lo - 1),
                                '<SUF>', substr(text, hi),
                                '<MID>', substr(text, lo, hi - lo))
                    ELSE text END) AS fim_md5
    FROM s
    """,
)
def m_fim_transform(spark: SparkSession, sf: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"): for a
    deterministic md5-coin half of the corpus, pick two md5-derived split
    points, cut the document into prefix/middle/suffix, and emit the
    PSM-reordered document (<PRE>prefix<SUF>suffix<MID>middle) — the
    augmentation an infilling-capable LM trains on. Pure scan-side
    projection: integer hash mod for the cut points, three substrings and
    a concat per row — no shuffle, no UDF; at 100 TB this runs at scan
    bandwidth with the md5 coin making reruns and engine ports bit-exact
    (fim_md5 checks the reordered BYTES, lengths check the accounting).
    Documents that normalize to empty pass through untransformed."""
    d = _t(spark, sf, "documents")
    h1 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fim1:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    h2 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fim2:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    from pdf_extractor_spark.operators.sampling import _hash_frac

    n = F.length("text")
    b = d.select(
        "doc_id",
        "text",
        n.alias("n"),
        (_hash_frac(F.col("doc_id"), "fim") < 0.5).alias("coin"),
        h1.alias("h1"),
        h2.alias("h2"),
    )
    s = b.select(
        "doc_id",
        "text",
        "n",
        (F.col("coin") & (F.col("n") > 0)).alias("fim_applied"),
        F.when(
            F.col("n") > 0,
            F.least(
                1 + F.col("h1") % F.col("n"), 1 + F.col("h2") % F.col("n")
            ),
        )
        .otherwise(F.lit(1))
        .alias("lo"),
        F.when(
            F.col("n") > 0,
            F.greatest(
                1 + F.col("h1") % F.col("n"), 1 + F.col("h2") % F.col("n")
            ),
        )
        .otherwise(F.lit(1))
        .alias("hi"),
    )
    fim = F.col("fim_applied")
    psm = F.concat(
        F.lit("<PRE>"),
        F.expr("substring(text, 1, lo - 1)"),
        F.lit("<SUF>"),
        F.expr("substring(text, hi)"),
        F.lit("<MID>"),
        F.expr("substring(text, lo, hi - lo)"),
    )
    return s.select(
        "doc_id",
        "fim_applied",
        F.when(fim, F.col("lo") - 1).otherwise(F.col("n")).cast("bigint").alias("prefix_len"),
        F.when(fim, F.col("hi") - F.col("lo")).otherwise(F.lit(0)).cast("bigint").alias("middle_len"),
        F.when(fim, F.col("n") - F.col("hi") + 1).otherwise(F.lit(0)).cast("bigint").alias("suffix_len"),
        F.md5(F.when(fim, psm).otherwise(F.col("text"))).alias("fim_md5"),
    )


_CMS_B = "({hex}) % 64"


@query(
    "a_cms_heavy_hitters",
    f"""
    WITH tok AS (SELECT unnest({_TOK_SQL_SAFE}) AS v FROM documents),
    tot AS (SELECT greatest(cast(floor(count(*) * 0.002) AS BIGINT), 1) AS th
            FROM tok),
    k AS (SELECT v,
            {_CMS_B.format(hex=_HEX8.format(h="md5(concat('cms0:', v))", p="1"))} AS b0,
            {_CMS_B.format(hex=_HEX8.format(h="md5(concat('cms1:', v))", p="1"))} AS b1,
            {_CMS_B.format(hex=_HEX8.format(h="md5(concat('cms2:', v))", p="1"))} AS b2,
            {_CMS_B.format(hex=_HEX8.format(h="md5(concat('cms3:', v))", p="1"))} AS b3
          FROM tok),
    c0 AS (SELECT b0 AS b, cast(count(*) AS BIGINT) AS c FROM k GROUP BY b0),
    c1 AS (SELECT b1 AS b, cast(count(*) AS BIGINT) AS c FROM k GROUP BY b1),
    c2 AS (SELECT b2 AS b, cast(count(*) AS BIGINT) AS c FROM k GROUP BY b2),
    c3 AS (SELECT b3 AS b, cast(count(*) AS BIGINT) AS c FROM k GROUP BY b3),
    cand AS (SELECT v, b0, b1, b2, b3, cast(count(*) AS BIGINT) AS exact_n
             FROM k GROUP BY v, b0, b1, b2, b3)
    SELECT cand.v AS token,
           least(c0.c, c1.c, c2.c, c3.c) AS cms_est, exact_n
    FROM cand
    JOIN c0 ON cand.b0 = c0.b
    JOIN c1 ON cand.b1 = c1.b
    JOIN c2 ON cand.b2 = c2.b
    JOIN c3 ON cand.b3 = c3.b, tot
    WHERE least(c0.c, c1.c, c2.c, c3.c) >= tot.th
    """,
)
def a_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005):
    tokens whose 4x64 sketch estimate reaches 0.2% of the corpus token
    stream. The sketch is 256 integers built by four map-side-combinable
    aggregates and merges across corpora by cell-wise addition — the
    fixed-size accumulator that answers "is this token frequent?" over
    100 TB with no per-token state; the probe is four 64-row broadcast
    joins + least(). exact_n is the verification readout showing CMS's
    one-sided overestimate (cms_est >= exact_n always). All-integer
    arithmetic: the oracle replays the exact sketch. See
    operators/sampling.cms_heavy_hitters."""
    from pdf_extractor_spark.operators.dedup import word_tokens
    from pdf_extractor_spark.operators.sampling import cms_heavy_hitters

    d = _t(spark, sf, "documents")
    toks = d.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    out = cms_heavy_hitters(toks, "tok", depth=4, width=64, min_frac=0.002)
    return out.select(F.col("tok").alias("token"), "cms_est", "exact_n")


@query(
    "w_wet_codec",
    r"""
    WITH rec AS (
      SELECT doc_id,
             concat('https://docs.example/', cast(doc_id AS VARCHAR)) AS url,
             strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id),
                      '%Y-%m-%dT%H:%M:%SZ') AS wdate,
             text,
             strlen(text) AS plen
      FROM documents),
    full_rec AS (
      SELECT doc_id, url, plen,
             concat('WARC/1.0', chr(13), chr(10),
                    'WARC-Type: conversion', chr(13), chr(10),
                    'WARC-Target-URI: ', url, chr(13), chr(10),
                    'WARC-Date: ', wdate, chr(13), chr(10),
                    'WARC-Record-ID: <urn:md5:',
                    md5(concat(url, '|', wdate, '|wet')), '>', chr(13), chr(10),
                    'WARC-Refers-To: <urn:md5:',
                    md5(concat(url, '|', wdate)), '>', chr(13), chr(10),
                    'Content-Type: text/plain', chr(13), chr(10),
                    'Content-Length: ', cast(plen AS VARCHAR),
                    chr(13), chr(10), chr(13), chr(10),
                    text, chr(13), chr(10), chr(13), chr(10)) AS record
      FROM rec)
    SELECT doc_id, url, md5(record) AS record_md5,
           cast(strlen(record) AS BIGINT) AS n_bytes,
           true AS roundtrip_ok
    FROM full_rec
    """,
)
def w_wet_codec(spark: SparkSession, sf: str) -> DataFrame:
    """WET codec contract (sources/warc.py build_wet_conversion/wet_rows):
    the extracted-text sibling of w_warc_codec. Every document's text is
    serialized as a WARC/1.0 ``conversion`` record (Common Crawl's
    *.warc.wet framing: no HTTP envelope, text/plain body, WARC-Refers-To
    linking back to the response record's md5 id) by the REAL python
    writer and parsed back by the REAL parser inside mapInPandas; the
    oracle reconstructs the exact record bytes in SQL and hashes them —
    the codec's bytes are the public WET framing, not just
    self-consistent."""
    import hashlib as _hl
    import pandas as _pd
    from pdf_extractor_spark.sources import warc as W

    base = __import__("datetime").datetime(2024, 1, 1)

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                url = f"https://docs.example/{doc_id}"
                date = base + __import__("datetime").timedelta(
                    seconds=int(doc_id)
                )
                rec = W.build_wet_conversion(url, date, text.encode("utf-8"))
                rows = list(W.wet_rows(rec))
                ok = (
                    len(rows) == 1
                    and rows[0]["url"] == url
                    and rows[0]["warc_ts"] == date
                    and rows[0]["text"] == text
                )
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "url": url,
                        "record_md5": _hl.md5(rec).hexdigest(),
                        "n_bytes": len(rec),
                        "roundtrip_ok": bool(ok),
                    }
                )
            yield _pd.DataFrame(
                out,
                columns=[
                    "doc_id", "url", "record_md5", "n_bytes", "roundtrip_ok",
                ],
            )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    d = d.repartition(_par(spark), "doc_id")
    return d.mapInPandas(
        gen,
        schema="doc_id bigint, url string, record_md5 string, "
        "n_bytes bigint, roundtrip_ok boolean",
    )


@query(
    "m_tokenizer_fertility",
    f"""
    WITH wf AS (
      SELECT tok AS word, cast(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOK_SQL}) AS tok FROM documents)
      GROUP BY tok),
    w0 AS (
      SELECT word, freq,
             '||' || array_to_string(
               list_concat(
                 list_transform(range(1, length(word) + 1),
                                i -> substring(word, i, 1)),
                 ['_']), '||') || '||' AS syms
      FROM wf),
    {_bpe_round_sql(1)},
    {_bpe_round_sql(2)},
    {_bpe_round_sql(3)},
    v AS (SELECT word,
                 cast(array_length(string_split(trim(syms, '|'), '||'))
                      AS BIGINT) AS n_syms
          FROM w3),
    tok AS (SELECT lang, unnest({_TOK_SQL}) AS tok FROM documents)
    SELECT lang,
           cast(count(*) AS BIGINT) AS n_words,
           cast(sum(v.n_syms) AS BIGINT) AS n_bpe_tokens,
           cast(sum(length(tok.tok)) AS BIGINT) AS n_chars,
           (1000000 * cast(sum(v.n_syms) AS BIGINT)) // count(*)
             AS fertility_ppm,
           (1000000 * cast(sum(length(tok.tok)) AS BIGINT))
             // cast(sum(v.n_syms) AS BIGINT) AS chars_per_token_ppm
    FROM tok JOIN v ON tok.tok = v.word
    GROUP BY lang
    """,
)
def m_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language — the multilingual tokenizer-equity
    readout (tokens emitted per word, chars per token) a mixture planner
    checks before fixing a vocab (cf. the fertility tables in XLM-R /
    NLLB): languages a tokenizer over-fragments pay more sequence budget
    per word. Composes the trained corpus BPE (m_bpe_train's 3 merges,
    applied to the vocab-bounded DISTINCT word table) with one
    broadcast-join + per-lang map-side-combinable rollup; ratios are
    integer ppm (floor division), so the contract is bit-exact in any
    engine. Scale: the only per-corpus work is the token-stream groupBy —
    the BPE apply never leaves the vocab table."""
    from pdf_extractor_spark.operators.bpe import bpe_train, word_frequencies

    d = _t(spark, sf, "documents")
    wf = word_frequencies(d, n_partitions=_par(spark))
    trained, _merges = bpe_train(wf, n_merges=3)
    vocab = trained.select("word", F.col("n_syms").cast("long").alias("n_syms"))
    # spread the explode+join work by doc_id (NOT lang: |langs| partitions
    # would serialize the scan); the lang groupBy is map-side combinable,
    # so its shuffle moves only |langs| x n_tasks partial rows
    toks = (
        d.select("doc_id", "lang", D.word_tokens(F.col("text")).alias("_t"))
        .repartition(_par(spark), "doc_id")
        .select("lang", F.explode("_t").alias("word"))
    )
    agg = (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        F.expr("(1000000 * n_bpe_tokens) div n_words").alias("fertility_ppm"),
        F.expr("(1000000 * n_chars) div n_bpe_tokens").alias(
            "chars_per_token_ppm"
        ),
    )


def _global_rank_asc(
    df: DataFrame, val_col: str, bucket: "F.Column", id_col: str = "doc_id"
) -> DataFrame:
    """Ascending twin of ``_global_rank_desc`` (exact global row_number over
    (value ASC, id ASC) with a partitioned window + broadcast bucket
    offsets, never an unpartitioned window); returns (id, value, rank)."""
    keyed = df.select(id_col, F.col(val_col).alias("_v"), bucket.alias("_b"))
    w_in = Window.partitionBy("_b").orderBy(F.col("_v").asc(), F.col(id_col))
    ranked = keyed.withColumn("_rn", F.row_number().over(w_in))
    counts = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.col("y._b") < F.col("x._b"), "left")
        .groupBy(F.col("x._b").alias("_b"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    return ranked.join(F.broadcast(offsets), "_b").select(
        id_col,
        F.col("_v"),
        (F.col("_off") + F.col("_rn")).cast("bigint").alias("rank"),
    )


@query(
    "a_range_bounds",
    """
    WITH s AS (SELECT doc_id, length(text) AS n_chars FROM documents),
    r AS (SELECT doc_id, n_chars,
                 cast(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS rk
          FROM s),
    n AS (SELECT count(*) AS n FROM s),
    p AS (SELECT cast(i AS INT) AS bound_idx, (i * n.n) // 8 AS pos
          FROM range(1, 8) t(i), n
          WHERE (i * n.n) // 8 >= 1)
    SELECT p.bound_idx,
           cast(r.n_chars AS BIGINT) AS boundary_value,
           r.doc_id AS boundary_id,
           p.pos AS rows_below
    FROM p JOIN r ON r.rk = p.pos
    """,
)
def a_range_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """Balanced range-partitioner boundaries — the sampling step of a
    100 TB global sort / sorted write, done EXACTLY: the 7 cut keys that
    split the corpus into 8 equal-count ranges by (doc length, doc_id).
    Spark's own RangePartitioner samples and can mis-balance under skew;
    this contract computes exact equal-frequency bounds with the
    two-level bucket-rank + broadcast-offsets plan (_global_rank_asc — no
    unpartitioned window), then picks ranks i*N/8 with a 7-row broadcast
    join. At scale: one partitioned window + two broadcast joins; the
    boundary table is what a writer passes to repartitionByRange or a
    bucketed sink."""
    d = _t(spark, sf, "documents")
    s = d.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
    ranked = _global_rank_asc(
        s, "n_chars", (F.col("n_chars") / 256).cast("int"), "doc_id"
    )
    n = s.count()
    k = 8
    pos_rows = [
        (i, (i * n) // k) for i in range(1, k) if (i * n) // k >= 1
    ]
    pos = spark.createDataFrame(pos_rows, "bound_idx int, pos bigint")
    return (
        ranked.join(F.broadcast(pos), ranked["rank"] == pos["pos"])
        .select(
            "bound_idx",
            F.col("_v").alias("boundary_value"),
            F.col("doc_id").alias("boundary_id"),
            F.col("pos").alias("rows_below"),
        )
    )


def _z16_sql(a: str, b: str, div: str = "//") -> str:
    """Morton/Z-order bit interleave of two 16-bit values as pure integer
    arithmetic (floor-div/mod/multiply — no engine bit operators; the one
    dialect difference is the integer-division token: DuckDB spells it
    ``//``, Spark SQL ``div``): bit i of ``a`` lands at position 2i, bit
    i of ``b`` at 2i+1."""
    terms = []
    for i in range(16):
        terms.append(f"(({a} {div} {2 ** i}) % 2) * {2 ** (2 * i)}")
        terms.append(f"(({b} {div} {2 ** i}) % 2) * {2 ** (2 * i + 1)}")
    return " + ".join(terms)


@query(
    "a_zorder_key",
    f"""
    WITH s AS (
      SELECT event_id,
             user_id % 65536 AS a,
             (dayofyear(ts) * 24 + hour(ts)) % 65536 AS b
      FROM events)
    SELECT event_id, cast(a AS BIGINT) AS a, cast(b AS BIGINT) AS b,
           cast({_z16_sql("a", "b")} AS BIGINT) AS zkey,
           cast(({_z16_sql("a", "b")}) // 67108864 AS BIGINT) AS zbucket
    FROM s
    """,
)
def a_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key — the multi-dimensional storage
    layout a 100 TB table wants when queries prune on TWO axes (here
    user and time-of-year): interleaving the bits of both keys makes
    rows close in EITHER dimension land in the same file, so min/max
    file statistics prune for user-range AND time-range predicates
    simultaneously (the Delta/Iceberg OPTIMIZE ZORDER idea, computed
    exactly). Pure scan-side integer arithmetic — the 32-term interleave
    is generated by one helper whose text runs verbatim in BOTH engines,
    so the contract is bit-exact by construction. ``zbucket`` (top 6
    bits, 64 buckets) is what a writer passes to repartitionByRange /
    partitionBy for the clustered write."""
    e = _t(spark, sf, "events")
    s = e.select(
        "event_id",
        (F.col("user_id") % 65536).alias("a"),
        ((F.dayofyear("ts") * 24 + F.hour("ts")) % 65536)
        .cast("bigint")
        .alias("b"),
    )
    z = F.expr(_z16_sql("a", "b", div="div")).cast("bigint")
    return s.select(
        "event_id",
        F.col("a").cast("bigint").alias("a"),
        F.col("b").cast("bigint").alias("b"),
        z.alias("zkey"),
        F.expr(f"({_z16_sql('a', 'b', div='div')}) div 67108864")
        .cast("bigint")
        .alias("zbucket"),
    )


def _hits_iter_sql(i: int) -> str:
    """One HITS round: hub-weighted in-sums -> L1-normalized integer auth,
    then auth-weighted out-sums -> normalized integer hub (mirrors
    operators/graph.hits_integer bit for bit)."""
    p = i - 1
    return f"""
    ar{i} AS (SELECT e.dst AS node, sum(h{p}.hub) AS raw
              FROM e JOIN h{p} ON e.src = h{p}.node GROUP BY e.dst),
    at{i} AS (SELECT coalesce(sum(raw), 0) AS t FROM ar{i}),
    a{i} AS (SELECT nodes.node,
                    coalesce((1000000 * ar{i}.raw) // nullif(at{i}.t, 0), 0)
                      AS auth
             FROM nodes LEFT JOIN ar{i} USING (node) CROSS JOIN at{i}),
    hr{i} AS (SELECT e.src AS node, sum(a{i}.auth) AS raw
              FROM e JOIN a{i} ON e.dst = a{i}.node GROUP BY e.src),
    ht{i} AS (SELECT coalesce(sum(raw), 0) AS t FROM hr{i}),
    h{i} AS (SELECT nodes.node,
                    coalesce((1000000 * hr{i}.raw) // nullif(ht{i}.t, 0), 0)
                      AS hub
             FROM nodes LEFT JOIN hr{i} USING (node) CROSS JOIN ht{i})"""


@query(
    "g_host_hits",
    f"""
    WITH e0 AS (
      SELECT doc_id % 20 AS src, (doc_id * 7 + 3) % 20 AS dst FROM documents
      UNION ALL
      SELECT doc_id % 20, (doc_id * 13 + 5) % 20 FROM documents),
    e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    nn AS (SELECT count(*) AS n FROM nodes),
    h0 AS (SELECT node, (1000000 // nn.n) AS hub FROM nodes CROSS JOIN nn),
    {_hits_iter_sql(1)},
    {_hits_iter_sql(2)}
    SELECT h2.node AS host, cast(h2.hub AS BIGINT) AS hub,
           cast(a2.auth AS BIGINT) AS auth
    FROM h2 JOIN a2 USING (node)
    """,
)
def g_host_hits(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph HITS hubs & authorities (Kleinberg JACM 1999 —
    operators/graph.hits_integer): the crawl-seeding complement to
    g_host_pagerank over the same deterministic synthetic host edges.
    Two mutual-reinforcement rounds in integer rank units with L1 mass
    normalization (integer multiply/divide only — no cross-engine sqrt),
    every round replayed CTE-for-CTE by the oracle. Per-round plan: two
    edge⋈score equi-joins + two map-side-combinable sums; only the
    one-row normalization totals touch the driver."""
    from pdf_extractor_spark.operators.graph import hits_integer

    d = _t(spark, sf, "documents")
    e = d.select(
        (F.col("doc_id") % 20).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 20).alias("dst"),
    ).unionByName(
        d.select(
            (F.col("doc_id") % 20).alias("src"),
            ((F.col("doc_id") * 13 + 5) % 20).alias("dst"),
        )
    )
    return hits_integer(e, n_iter=2).select(
        F.col("node").alias("host"), "hub", "auth"
    )


@query(
    "x_extract_outline",
    """
    SELECT doc_id, cast(0 AS INT) AS heading_idx, cast(1 AS INT) AS level,
           'Chapter ' || cast(doc_id % 7 AS VARCHAR) AS title,
           '' AS path
    FROM documents
    UNION ALL
    SELECT doc_id, 1, 2,
           'Part & ' || cast(doc_id % 3 AS VARCHAR),
           'Chapter ' || cast(doc_id % 7 AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT doc_id, 2, 3,
           'Sub ' || cast(doc_id % 5 AS VARCHAR),
           'Chapter ' || cast(doc_id % 7 AS VARCHAR)
             || '/Part & ' || cast(doc_id % 3 AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT doc_id, 3, 2,
           'Part ' || cast(doc_id % 4 AS VARCHAR),
           'Chapter ' || cast(doc_id % 7 AS VARCHAR)
    FROM documents
    """,
)
def x_extract_outline(spark: SparkSession, sf: str) -> DataFrame:
    """Document-OUTLINE extraction (heading hierarchy with ancestor
    paths — the structural signal chunkers/TOC builders/retrieval key
    sections on): every h1..h6 in the page payload becomes (heading_idx,
    level, title, path) via the real heading-tree parser
    (extract/outline.py: outline nesting rule, entity unescape, inline
    markup tolerated), Arrow-batched through ONE pandas UDF and exploded
    inline. Pages here are synthesized regular — h1 > h2 > h3 then a
    SIBLING h2 (exercising the ancestor-stack pop) — so the oracle states
    the expected tree closed-form from doc_id; malformed/edge cases are
    pinned by tests/test_outline_extract.py."""
    from pdf_extractor_spark.extract.udfs import outline_udf

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body><h1>Chapter "),
        (did % 7).cast("string"),
        F.lit("</h1><p>intro text</p><h2>Part &amp; "),
        (did % 3).cast("string"),
        F.lit("</h2><p>body</p><h3>Sub "),
        (did % 5).cast("string"),
        F.lit("</h3><p>deep</p><h2>Part "),
        (did % 4).cast("string"),
        F.lit("</h2><p>tail</p></body></html>"),
    )
    page = d.select("doc_id", html.alias("html")).repartition(
        _par(spark), "doc_id"
    )
    rows = page.select(
        "doc_id",
        F.explode(outline_udf(F.encode(F.col("html"), "UTF-8"))).alias("h"),
    )
    return rows.select(
        "doc_id",
        F.col("h.heading_idx").alias("heading_idx"),
        F.col("h.level").alias("level"),
        F.col("h.title").alias("title"),
        F.col("h.path").alias("path"),
    )


@query(
    "d_cdc_chunks",
    f"""
    WITH s AS (SELECT doc_id, text, len(text) AS n FROM documents),
    cand AS (SELECT doc_id, text, unnest(range(8, n + 1)) AS i
             FROM s WHERE n >= 8),
    ends0 AS (
      SELECT doc_id, i
      FROM cand
      WHERE ({_HEX8.format(h="md5(substr(text, i - 7, 8))", p="1")}) % 64 = 0
      UNION
      SELECT doc_id, n FROM s WHERE n >= 1),
    r AS (SELECT doc_id, i AS e,
                 coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
                   AS st,
                 cast(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
                      AS INT) AS chunk_idx
          FROM ends0)
    SELECT r.doc_id, r.chunk_idx,
           cast(r.e - r.st + 1 AS BIGINT) AS chunk_len,
           md5(substr(s.text, r.st, r.e - r.st + 1)) AS chunk_md5
    FROM r JOIN s USING (doc_id)
    """,
)
def d_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (the rolling-window boundary idea behind
    LBFS/FastCDC, here with a deterministic md5 window so both engines
    agree bit-for-bit): a chunk boundary falls wherever the hash of the
    8-char window ending at that position is ≡ 0 mod 64 (expected chunk
    ~64 chars), plus a forced boundary at end-of-document. Because
    boundaries depend only on LOCAL content, an insertion early in a
    document shifts only the chunks it touches — unlike fixed-size
    blocks — so chunk_md5 equality across documents finds shared content
    at sub-document granularity (storage dedup, delta sync, partial
    near-dup evidence). Plan: boundary detection is a scan-side
    higher-order filter into a per-doc ends array (text evaluated once
    per row — attribute, not a re-inlined subtree), exploded INLINE (a
    non-attribute generator child, so no inferred filter); then one
    doc-partitioned lag/row_number window over ~n/64 boundary rows per
    doc and a join back to the text for the chunk hash. Per-doc window
    input is bounded by doc length — never corpus-scale."""
    d = _t(spark, sf, "documents")
    n = F.length("text")

    def is_boundary(i):
        win = F.substring(F.col("text"), i - 7, F.lit(8))
        h = F.conv(F.substring(F.md5(win), 1, 8), 16, 10).cast("bigint")
        return h % 64 == 0

    bpos = F.when(
        n >= 8,
        F.filter(F.sequence(F.lit(8), n), lambda i: is_boundary(i)),
    ).otherwise(F.array().cast("array<int>"))
    ends_arr = F.array_distinct(
        F.concat(
            bpos.cast("array<bigint>"),
            F.when(n >= 1, F.array(n.cast("bigint"))).otherwise(
                F.array().cast("array<bigint>")
            ),
        )
    )
    e = d.select("doc_id", F.explode(ends_arr).alias("e")).repartition(
        _par(spark), "doc_id"
    )
    w = Window.partitionBy("doc_id").orderBy("e")
    r = e.select(
        "doc_id",
        "e",
        (F.coalesce(F.lag("e").over(w), F.lit(0)) + 1).alias("st"),
        (F.row_number().over(w) - 1).cast("int").alias("chunk_idx"),
    )
    j = r.join(d.select("doc_id", "text"), "doc_id")
    return j.select(
        "doc_id",
        "chunk_idx",
        (F.col("e") - F.col("st") + 1).cast("bigint").alias("chunk_len"),
        F.md5(F.expr("substring(text, st, e - st + 1)")).alias("chunk_md5"),
    )


_PLD_HOST_SQL = """
    concat('www.blog', cast(doc_id % 4 AS VARCHAR),
           '.site', cast(doc_id % 6 AS VARCHAR),
           CASE doc_id % 5 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com.au'
                WHEN 2 THEN '.com' WHEN 3 THEN '.org' ELSE '.co.jp' END)
"""


@query(
    "u_pld_rollup",
    rf"""
    WITH h AS (SELECT doc_id, {_PLD_HOST_SQL} AS host FROM documents),
    p AS (SELECT doc_id, host,
                 CASE WHEN regexp_extract(host, '([^.]+\.(?:ac\.uk|co\.in|co\.jp|co\.nz|co\.uk|com\.au|com\.br|gov\.uk|net\.au|org\.au|org\.uk))$', 1) <> ''
                        THEN regexp_extract(host, '([^.]+\.(?:ac\.uk|co\.in|co\.jp|co\.nz|co\.uk|com\.au|com\.br|gov\.uk|net\.au|org\.au|org\.uk))$', 1)
                      WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
                        THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                      ELSE host END AS pld
          FROM h)
    SELECT pld, count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           min(doc_id) AS first_doc
    FROM p GROUP BY pld
    """,
)
def u_pld_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Pay-level-domain rollup (publicsuffix.org registrable-domain
    grouping): crawl budgeting and domain-level dedup key on the eTLD+1,
    not the host — per-host keys split a site's subdomains apart, and a
    two-label public suffix (co.uk, com.au, ...) must not swallow the
    registrant label. Hosts here are synthesized with subdomains across
    five suffix classes; extraction is two regexp_extracts whose PATTERN
    STRINGS are module constants shared verbatim with the oracle
    (functions/urls.pay_level_domain). One groupBy on the PLD key — the
    same Zipf-skew posture as u_host_rollup."""
    from pdf_extractor_spark.functions.urls import pay_level_domain

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    host = F.concat(
        F.lit("www.blog"),
        (did % 4).cast("string"),
        F.lit(".site"),
        (did % 6).cast("string"),
        F.when(did % 5 == 0, F.lit(".co.uk"))
        .when(did % 5 == 1, F.lit(".com.au"))
        .when(did % 5 == 2, F.lit(".com"))
        .when(did % 5 == 3, F.lit(".org"))
        .otherwise(F.lit(".co.jp")),
    )
    p = d.select("doc_id", host.alias("host"))
    return (
        p.select("doc_id", "host", pay_level_domain(F.col("host")).alias("pld"))
        .groupBy("pld")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "e_ann_recall",
    """
    WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    ex AS (
      SELECT vec_id FROM embeddings, qv
      ORDER BY round(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))), 6) DESC,
               vec_id
      LIMIT 10),
    e2 AS (
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
    iv AS (
      SELECT e.vec_id FROM embeddings e, qv
      WHERE e.label = (SELECT label FROM probe)
      ORDER BY round(list_dot_product(e.embedding::DOUBLE[], qe::DOUBLE[])
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))), 6) DESC,
               e.vec_id
      LIMIT 10)
    SELECT cast(10 AS INT) AS k,
           cast(count(*) AS BIGINT) AS n_overlap,
           round(count(*) / 10.0, 4) AS recall
    FROM ex JOIN iv USING (vec_id)
    """,
)
def e_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """ANN quality evaluation — recall@10 of the single-probe IVF index
    against the exact cosine top-10 for the standard query vector: the
    number an index operator actually tunes n_probe/k against (the
    recall-vs-probes trade IS the IVF contract). Composes the two
    existing operators and reduces their id sets with one 10x10 join +
    count; at 100 TB this runs per index build over a sampled query set —
    the eval cost is k^2 per query, independent of corpus size."""
    from pdf_extractor_spark.operators import similarity as S

    e = _t(spark, sf, "embeddings")
    qv = _query_vec(spark, sf)
    ex = S.cosine_topk(e, qv, k=10).select("vec_id")
    iv = S.ivf_topk(e, qv, k=10, n_probe=1).select("vec_id")
    return ex.join(iv, "vec_id").agg(
        F.lit(10).cast("int").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        F.round(F.count(F.lit(1)) / 10.0, 4).alias("recall"),
    )


def _mmr_round_sql(r: int, lam: str = "0.7") -> str:
    """One greedy MMR round (r >= 2): redundancy = max pair-sim to the
    already-selected set, score rounded 6 dp, (score DESC, id) argmax."""
    prev = " UNION ALL ".join(f"SELECT vec_id FROM s{i}" for i in range(1, r))
    return f"""
    sel{r} AS ({prev}),
    m{r} AS (SELECT c.cid, c.qsim,
               round({lam} * c.qsim - (1 - {lam}) * coalesce(
                 (SELECT max(p.ps) FROM pair p
                  WHERE p.ia = c.cid
                    AND p.ib IN (SELECT vec_id FROM sel{r})), 0), 6) AS score
             FROM cand c
             WHERE c.cid NOT IN (SELECT vec_id FROM sel{r})),
    s{r} AS (SELECT cid AS vec_id, qsim, score, {r} AS rank FROM m{r}
             ORDER BY score DESC, cid LIMIT 1)"""


@query(
    "e_mmr_rerank",
    f"""
    WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT vec_id AS cid,
             round(list_dot_product(embedding::DOUBLE[], qe::DOUBLE[])
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))), 6)
               AS qsim
      FROM embeddings, qv WHERE vec_id != 0
      ORDER BY qsim DESC, vec_id LIMIT 10),
    pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
               AS ps
      FROM embeddings a, embeddings b
      WHERE a.vec_id IN (SELECT cid FROM cand)
        AND b.vec_id IN (SELECT cid FROM cand)
        AND a.vec_id != b.vec_id),
    s1 AS (SELECT cid AS vec_id, qsim, round(0.7 * qsim, 6) AS score, 1 AS rank
           FROM cand ORDER BY round(0.7 * qsim, 6) DESC, cid LIMIT 1),
    {_mmr_round_sql(2)},
    {_mmr_round_sql(3)},
    {_mmr_round_sql(4)},
    {_mmr_round_sql(5)}
    SELECT cast(rank AS INT) AS rank, vec_id, qsim, score FROM (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
      SELECT * FROM s3 UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)
    """,
)
def e_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell & Goldstein
    SIGIR'98) of the exact top-10 for the standard query: 5 greedy picks
    maximizing 0.7·sim(q,d) − 0.3·max sim(d, selected) — what a RAG /
    retrieval layer runs to stop a near-dup cluster monopolizing the
    context window (composes with the near-dup family: redundancy IS the
    near-dup signal). Engine side: candidate scan + k×k broadcast
    nested-loop pair table, then 5 one-row argmax collects (the bpe_train
    discipline; all scores rounded 6 dp in-engine). The oracle replays
    every greedy round CTE-for-CTE. See operators/similarity.mmr_rerank."""
    from pdf_extractor_spark.operators.similarity import mmr_rerank

    e = _t(spark, sf, "embeddings")
    return mmr_rerank(
        e, _query_vec(spark, sf), n_cand=10, n_pick=5, lam=0.7, exclude_id=0
    )


_SPAM_URL_SQL = """
    concat('https://',
      CASE WHEN doc_id % 4 = 0
             THEN concat('best-',
                         CASE doc_id % 6 WHEN 0 THEN 'casino' WHEN 1 THEN 'poker'
                              WHEN 2 THEN 'news' WHEN 3 THEN 'blog'
                              WHEN 4 THEN 'recipes' ELSE 'xxx' END,
                         cast(doc_id % 1000 AS VARCHAR))
           ELSE concat('site', cast(doc_id % 9 AS VARCHAR)) END,
      '.example.com/',
      CASE doc_id % 6 WHEN 0 THEN 'casino' WHEN 1 THEN 'poker'
           WHEN 2 THEN 'news' WHEN 3 THEN 'blog'
           WHEN 4 THEN 'recipes' ELSE 'xxx' END,
      '/', repeat('p/', cast(doc_id % 8 AS INT)),
      cast(doc_id % 50 AS VARCHAR),
      CASE doc_id % 5 WHEN 0 THEN '?a=1&b=2&c=3&d=4'
           WHEN 1 THEN '?id=9' ELSE '' END)
"""
