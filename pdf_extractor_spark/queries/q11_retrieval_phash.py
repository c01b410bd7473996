"""BM25 lexical retrieval + multimodal perceptual-hash near-dup.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    M,
    SparkSession,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _TOK_SQL,
    _TOK_SQL_SAFE,
)


# --- BM25 lexical retrieval -------------------------------------------------
# Query sets are module constants so the oracle SQL below is GENERATED from
# the same data (and the same float constants, via repr()) the Spark operator
# uses — the invariant "both engines evaluate the identical expression tree"
# is structural, not copy-maintained.
_BM25_QUERIES: list[tuple[str, tuple[str, ...]]] = [
    ("lexical_join", ("customer", "order", "join")),
    ("lexical_scan", ("vector", "scan", "filter")),
    ("lexical_window", ("spark", "window", "agg")),
]
_BM25_K = 10


def _bm25_oracle() -> str:
    from pdf_extractor_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        BM25_K1P1,
        BM25_ONE_MINUS_B,
    )

    terms = sorted({t for _, qterms in _BM25_QUERIES for t in qterms})
    tf_cols = ",\n             ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf_{t}" for t in terms
    )
    df_cols = ",\n             ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in terms
    )
    norm = (
        f"{BM25_K1!r}::DOUBLE * ({BM25_ONE_MINUS_B!r}::DOUBLE"
        f" + {BM25_B!r}::DOUBLE * dl / avgdl)"
    )

    def term_score(t: str) -> str:
        idf = f"(n - df_{t} + 0.5::DOUBLE) / (df_{t} + 0.5::DOUBLE)"
        return (
            f"{idf}\n                 * (tf_{t} * {BM25_K1P1!r}::DOUBLE)"
            f" / (tf_{t} + {norm})"
        )

    limbs = []
    for query_id, qterms in _BM25_QUERIES:
        s = "\n               + ".join(term_score(t) for t in qterms)
        nz = " + ".join(f"tf_{t}" for t in qterms)
        limbs.append(
            f"""
      SELECT '{query_id}' AS query_id, doc_id, round({s}, 6) AS score
      FROM per_doc, stats WHERE {nz} > 0"""
        )
    union = "\n      UNION ALL".join(limbs)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                  THEN []::VARCHAR[] ELSE {_TOK_SQL} END AS t
      FROM documents),
    per_doc AS (
      SELECT doc_id, len(t) AS dl,
             {tf_cols}
      FROM toks),
    stats AS (
      SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {df_cols}
      FROM per_doc),
    scored AS ({union})
    SELECT query_id, doc_id, score FROM scored
    QUALIFY row_number()
            OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) <= {_BM25_K}
    """


@query("t_bm25_topk", _bm25_oracle())
def t_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 lexical retrieval: top-10 documents per probe query
    (operators/retrieval.py — Robertson et al. TREC-3; rational idf
    surrogate for cross-engine float determinism, rationale in the module
    docstring). The retrieval step of BM25-probe decontamination and
    eval-set leak search; the lexical counterpart of e_cosine_topk.

    Plan (asserted in tests/test_scale_plan.py): literal query terms make
    tf a scan-side array expression — ONE corpus pass computes dl + every
    tf with no explode and no (doc, term) shuffle; one map-side-combinable
    agg reduces the corpus to a single stats row (collected: scalar class,
    like the k-means centroids); each query's top-k is a zero-shuffle
    TakeOrderedAndProject limb over the checkpointed tf table."""
    from pdf_extractor_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf, "documents")
    return bm25_topk(
        d, _BM25_QUERIES, k=_BM25_K, n_partitions=_par(spark)
    )


# --- multimodal perceptual-hash near-dup -------------------------------------
# Synthetic media corpus: payloads keyed by doc_id % 300, so the table
# contains exact re-encodes (the same source image crawled under multiple
# urls — the duplicate class pHash catches at hamming 0). The bytes are a
# pure function of doc_id; both engines build the identical string.
_PHASH_PAYLOAD_SQL = "repeat('px:' || (doc_id % 300)::VARCHAR || ';', 16)"
_H60_PHASH_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5('phash:' || {_PHASH_PAYLOAD_SQL}), "
    f"{i + 1}, 1)) - 1) * {16 ** (14 - i)}"
    for i in range(15)
)


@query(
    "mm_phash_near_dup",
    f"""
    WITH ph AS (
      SELECT doc_id AS media_id, {_H60_PHASH_SQL} AS phash
      FROM documents),
    keyed AS (
      SELECT media_id, phash, ci,
             ((phash // power(2, ci * 15)::bigint) % 32768) AS ck
      FROM ph CROSS JOIN range(4) r(ci))
    SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM keyed a JOIN keyed b
      ON a.ci = b.ci AND a.ck = b.ck AND a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
)
def mm_phash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: mapInPandas decode ->
    60-bit pHash -> the same 4x15-bit chunk-blocked Hamming equi-join as
    d_simhash_near_dups (signature_near_dup_pairs — Manku/Jain/Sarma
    WWW'07 pigeonhole; candidates from a bucketed join, popcount on
    candidates only). The real DCT pHash math (multimodal.phash_from_gray)
    is unit-tested on pixel matrices; this environment has no codecs, so
    the distributed path runs the deterministic md5 fake signature that
    the oracle reproduces nibble-for-nibble — identical payloads (exact
    re-encodes: the same source image under multiple urls, synthesized by
    keying payloads on doc_id % 300) pair at hamming 0, unrelated payloads
    land ~30 bits apart and are filtered."""
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
    ph = M.extract_phash(media, fake=True)
    from pdf_extractor_spark.operators.dedup import signature_near_dup_pairs

    return signature_near_dup_pairs(
        ph.select("media_id", "phash"),
        sig_col="phash",
        id_col="media_id",
        bits=M.PHASH_BITS,
        n_chunks=4,
        hamming_max=3,
    )


@query(
    "t_simpson_diversity",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK_SQL_SAFE}) AS term FROM documents),
    cnt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
    agg AS (
      SELECT doc_id,
             cast(sum(c) AS BIGINT) AS n_tokens,
             cast(count(*) AS BIGINT) AS n_types,
             cast(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           round(cast(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
           CASE WHEN n_tokens > 1
                THEN round(cast(rep_pairs AS DOUBLE)
                           / (cast(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
                ELSE 0.0 END AS simpson
    FROM agg
    """,
)
def t_simpson_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical-diversity quality signal per document: type-token ratio and
    Simpson concentration (probability two tokens drawn without replacement
    are the same word — the rational-arithmetic stand-in for token entropy;
    ln() differs between engines at ULP level, see t_tfidf_top_terms).
    Integer sums only (exact in both engines), one IEEE-exact division per
    output row. Plan: staged token materialization behind a repartition
    barrier, explode, two map-side-combinable groupBys — the same linear
    shape as t_tfidf_top_terms, no window, no join."""
    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", D.word_tokens(F.col("text")).alias("_t")
    ).repartition(_par(spark), "doc_id")
    tok = staged.select("doc_id", F.explode("_t").alias("term"))
    cnt = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep_pairs"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 4).alias("ttr"),
        F.when(
            F.col("n_tokens") > 1,
            F.round(
                F.col("rep_pairs").cast("double")
                / (F.col("n_tokens").cast("double") * (F.col("n_tokens") - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("simpson"),
    )


@query(
    "d_boilerplate_paragraphs",
    f"""
    WITH t AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM documents),
    segs AS (
      SELECT doc_id,
             unnest(list_transform(
               range(cast(floor((len(toks) - 1) / 20) AS BIGINT) + 1),
               i -> array_to_string(
                 list_slice(toks, i * 20 + 1, i * 20 + 20), ' '))) AS seg_text
      FROM t WHERE len(toks) > 0),
    h AS (SELECT doc_id, md5(seg_text) AS seg_h FROM segs),
    dfreq AS (SELECT seg_h, count(DISTINCT doc_id) AS df FROM h GROUP BY seg_h),
    per AS (
      SELECT h.doc_id,
             count(*) AS n_segments,
             sum(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS n_boiler
      FROM h JOIN dfreq d USING (seg_h)
      GROUP BY h.doc_id)
    SELECT doc_id,
           cast(n_segments AS BIGINT) AS n_segments,
           cast(n_boiler AS BIGINT) AS n_boiler_segments,
           round(cast(n_boiler AS DOUBLE) / n_segments, 4) AS boiler_frac
    FROM per
    """,
)
def d_boilerplate_paragraphs(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style paragraph-hash dedup signal (Wenzek et al. LREC 2020
    dedup paragraphs by hash across shards): md5 each 20-token segment,
    count the corpus-wide DISTINCT-document frequency per hash, and report
    per document how many of its segments are shared boilerplate (df >= 3
    docs = df_max 2 exceeded) plus the boilerplate fraction. High-fraction
    docs are template farms / mirror shells. Delegates to the generic
    dedup.line_boilerplate_clean operator (one df groupBy, one 1:1
    equi-join back — no blowup on hot boilerplate, one per-doc groupBy)
    over token_segments, so the oracle gates the production operator
    itself; integer counts + one IEEE-exact division, md5-only hashing."""
    from pdf_extractor_spark.operators.dedup import (
        line_boilerplate_clean,
        token_segments,
    )

    d = _t(spark, sf, "documents")
    segs = token_segments(d, seg_tokens=20, n_partitions=_par(spark))
    out = line_boilerplate_clean(segs, df_max=2, joiner=" ")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_lines").alias("n_segments"),
        F.col("n_boilerplate_lines").alias("n_boiler_segments"),
        F.round(
            F.col("n_boilerplate_lines").cast("double") / F.col("n_lines"), 4
        ).alias("boiler_frac"),
    )


@query(
    "d_drop_boilerplate",
    f"""
    WITH t AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM documents),
    segs AS (
      SELECT doc_id,
             unnest(list_transform(
               range(cast(floor((len(toks) - 1) / 20) AS BIGINT) + 1),
               i -> {{'idx': i,
                     'seg': array_to_string(
                       list_slice(toks, i * 20 + 1, i * 20 + 20), ' ')}})) AS u
      FROM t WHERE len(toks) > 0),
    h AS (SELECT doc_id, u.idx AS idx, u.seg AS seg_text,
                 md5(u.seg) AS seg_h FROM segs),
    dfreq AS (SELECT seg_h, count(DISTINCT doc_id) AS df FROM h GROUP BY seg_h),
    kept AS (
      SELECT h.doc_id, h.idx, h.seg_text
      FROM h JOIN dfreq d USING (seg_h) WHERE d.df < 3)
    SELECT doc_id,
           cast(count(*) AS BIGINT) AS n_kept_segments,
           md5(string_agg(seg_text, ' ' ORDER BY idx)) AS clean_md5
    FROM kept GROUP BY doc_id
    """,
)
def d_drop_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """The cleaning transform behind d_boilerplate_paragraphs: rebuild each
    document WITHOUT its shared-boilerplate segments (df >= 3 docs dropped),
    CCNet's drop-duplicated-paragraphs pass (Wenzek et al. LREC 2020).
    Reassembly is deterministic under any partitioning: collect (idx, seg)
    structs, array_sort on the unique idx, join with spaces — the md5 of
    the rebuilt text is the checked output, so the oracle proves the
    byte-level result, not just counts. Docs that were 100% boilerplate
    disappear (no row, both engines). Delegates to
    dedup.line_boilerplate_clean (df groupBy, 1:1 equi-join back, one
    per-doc collect-and-sort rebuild bounded by the doc's own segment
    count) over token_segments — the oracle gates the production
    operator's rebuild byte-for-byte."""
    from pdf_extractor_spark.operators.dedup import (
        line_boilerplate_clean,
        token_segments,
    )

    d = _t(spark, sf, "documents")
    segs = token_segments(d, seg_tokens=20, n_partitions=_par(spark))
    out = line_boilerplate_clean(segs, df_max=2, joiner=" ")
    return out.filter(F.col("n_lines") > F.col("n_boilerplate_lines")).select(
        F.col("id").alias("doc_id"),
        (F.col("n_lines") - F.col("n_boilerplate_lines"))
        .cast("bigint")
        .alias("n_kept_segments"),
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )
