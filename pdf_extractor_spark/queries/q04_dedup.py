"""Deduplication (training-data ops).

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    SparkSession,
    T,
    Window,
    _par,
    _t,
    query,
)


# =============================================================================
# Deduplication (training-data ops)
# =============================================================================


@query(
    "d_winnow_shared_pairs",
    f"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(t) - 4, 0) + 1),
                            i -> substr(t, i, 5)) AS gs
      FROM n),
    h AS (
      SELECT doc_id,
             list_transform(gs, g ->
               (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) AS hs
      FROM g),
    sel AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(hs) - 7, 0) + 1),
               j -> list_min(list_slice(hs, j, j + 7))))) AS fps
      FROM h),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS shared_fps
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 40
    """,
)
def d_winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Shared-substring candidate pairs via winnowing fingerprints
    (Schleimer et al. SIGMOD'03, the MOSS construction; the distributed
    stand-in for Lee et al.'s suffix-array substring dedup): docs sharing
    >= 40 selected k-gram fingerprints have long verbatim overlaps
    (threshold sized to the fixture corpus's pervasive template overlap). Pair
    generation is an equi-join on the fingerprint value (short int key)
    + count aggregate — candidates only, no cross join."""
    fps = T.winnow_fingerprints_df(
        _t(spark, sf, "documents"), "doc_id", "text", k=5, w=8,
        n_partitions=_par(spark),
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 40)
    )


@query(
    "d_exact_dup_groups",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def d_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return D.exact_duplicates(d)


_TOK_SQL = "regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
# Guarded variant (ADVICE r3): for text that normalizes to empty, DuckDB's
# regexp_split_to_array('', ' ') yields [''] (one empty term) while Spark's
# word_tokens yields [] — oracles over per-token aggregates must use this
# form so an all-punctuation/empty document tokenizes to [] on both engines.
_TOK_SQL_SAFE = (
    "CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = '' "
    f"THEN []::VARCHAR[] ELSE {_TOK_SQL} END"
)
# first 8 hex nibbles of an md5 column {h} at 1-based offset {p}, as an int
_HEX8 = " + ".join(
    f"(strpos('0123456789abcdef', substr({{h}}, {{p}} + {i}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)
_SHINGLE_SQL = f"""
    list_transform(range(1, greatest(array_length({_TOK_SQL}) - 1, 0) + 1),
                   i -> array_to_string(list_slice({_TOK_SQL}, i, i + 1), ' '))
"""


@query(
    "t_repetition",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    uni AS (
      SELECT doc_id, cast(sum(c) AS BIGINT) AS n_tokens,
             round(count(*) / sum(c), 6) AS distinct_token_frac,
             round(max(c) / sum(c), 6) AS top_token_frac
      FROM c GROUP BY doc_id),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS s FROM documents),
    big AS (
      SELECT doc_id,
             round(CASE WHEN coalesce(array_length(s), 0) <= 0 THEN 0.0
                   ELSE 1.0 - array_length(list_distinct(s)) / array_length(s)
                   END, 6) AS dup_bigram_frac
      FROM sh)
    SELECT uni.doc_id, n_tokens, distinct_token_frac, top_token_frac,
           dup_bigram_frac
    FROM uni JOIN big ON uni.doc_id = big.doc_id
    """,
)
def t_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters: distinct-token / top-token /
    duplicate-bigram fractions per document (textstats.repetition_stats —
    explode + two-level aggregate, one shuffle)."""
    d = _t(spark, sf, "documents")
    return T.repetition_stats(d, "doc_id", "text", n_partitions=_par(spark))


@query(
    "t_gopher_filter",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    uni AS (
      SELECT doc_id, cast(sum(c) AS BIGINT) AS n_tokens,
             round(count(*) / sum(c), 6) AS distinct_token_frac,
             round(max(c) / sum(c), 6) AS top_token_frac
      FROM c GROUP BY doc_id),
    sh AS (SELECT doc_id, {_SHINGLE_SQL} AS s FROM documents),
    big AS (
      SELECT doc_id,
             round(CASE WHEN coalesce(array_length(s), 0) <= 0 THEN 0.0
                   ELSE 1.0 - array_length(list_distinct(s)) / array_length(s)
                   END, 6) AS dup_bigram_frac
      FROM sh),
    j AS (SELECT uni.doc_id, n_tokens, distinct_token_frac, top_token_frac,
                 dup_bigram_frac
          FROM uni JOIN big ON uni.doc_id = big.doc_id)
    SELECT doc_id,
           (n_tokens BETWEEN 10 AND 100000) AS ok_length,
           (distinct_token_frac >= 0.3) AS ok_distinct,
           (top_token_frac <= 0.3) AS ok_top_token,
           (dup_bigram_frac <= 0.3) AS ok_bigram,
           ((n_tokens BETWEEN 10 AND 100000) AND distinct_token_frac >= 0.3
            AND top_token_frac <= 0.3 AND dup_bigram_frac <= 0.3) AS keep
    FROM j
    """,
)
def t_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style composite keep/drop decision (Rae et al. 2021 §A1.1
    repetition/length rules, demo-scale thresholds): composes the
    repetition_stats signals into per-rule booleans + the final filter
    verdict — the shape a corpus-prep pipeline materializes before the
    drop."""
    stats = T.repetition_stats(
        _t(spark, sf, "documents"), "doc_id", "text", n_partitions=_par(spark)
    )
    ok_len = F.col("n_tokens").between(10, 100000)
    ok_dis = F.col("distinct_token_frac") >= 0.3
    ok_top = F.col("top_token_frac") <= 0.3
    ok_big = F.col("dup_bigram_frac") <= 0.3
    return stats.select(
        "doc_id",
        ok_len.alias("ok_length"),
        ok_dis.alias("ok_distinct"),
        ok_top.alias("ok_top_token"),
        ok_big.alias("ok_bigram"),
        T.gopher_keep_expr().alias("keep"),
    )


@query(
    "t_clean_text",
    r"""
    WITH dirty AS (
      SELECT doc_id,
             concat(substr(text, 1, 60), chr(7), ' bell', chr(160), 'nbsp ',
                    chr(8203), 'zw', chr(173), 'joined', '   runs ',
                    chr(12288), 'ideo') AS raw
      FROM documents)
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(raw, '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g'),
                 '[\x{AD}\x{200B}-\x{200D}\x{2060}\x{FEFF}]', '', 'g'),
               '[\x{A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]', ' ', 'g'),
             ' {2,}', ' ', 'g')) AS clean,
           cast(length(raw) AS INT) AS n_raw
    FROM dirty
    """,
)
def t_clean(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-tokenizer text cleanup (beyond-reference corpus prep): control
    chars and zero-width/soft-hyphen marks dropped, exotic unicode spaces
    mapped to ASCII space, runs collapsed, trimmed. Dirt is injected
    deterministically so both engines clean identical strings; the
    \\x{{..}} codepoint classes parse the same in Java regex and RE2.
    Pure codegen projection."""
    from pdf_extractor_spark.functions.redact import clean_training_text

    d = _t(spark, sf, "documents")
    dirty = F.concat(
        F.substring(F.col("text"), 1, 60),
        F.lit(
            "\x07 bell\u00a0nbsp \u200bzw\u00adjoined   runs \u3000ideo"
        ),
    )
    return d.select(
        "doc_id",
        clean_training_text(dirty).alias("clean"),
        F.length(dirty).cast("int").alias("n_raw"),
    )


@query(
    "w_page_metadata",
    """
    WITH page AS (
      SELECT doc_id,
             concat('<html><head><title>Doc ', cast(doc_id AS VARCHAR), ' - ',
                    lang, '</title>',
                    '<meta name="description" content="',
                    substr(translate(text, '"', ''), 1, 50), '">',
                    '<link rel="canonical" href="https://example',
                    cast(doc_id % 7 AS VARCHAR), '.com/d/',
                    cast(doc_id AS VARCHAR), '">',
                    '</head><body><p>body</p></body></html>') AS html
      FROM documents)
    SELECT doc_id,
           regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
           regexp_extract(html, 'name="description" content="([^"]*)"', 1) AS description,
           regexp_extract(html, 'rel="canonical" href="([^"]*)"', 1) AS canonical_url
    FROM page
    """,
)
def w_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Page-metadata extraction (beyond-reference web op): title / meta
    description / canonical link pulled from page markup — the metadata
    columns a training corpus carries beside the main text. Pages are
    synthesized deterministically from the documents table so both engines
    parse identical markup; the regexes are in the shared Java/RE2
    dialect. Pure codegen projection, no shuffle."""
    d = _t(spark, sf, "documents")
    page = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" - "),
        F.col("lang"),
        F.lit('</title><meta name="description" content="'),
        F.substring(F.translate(F.col("text"), '"', ""), 1, 50),
        F.lit('"><link rel="canonical" href="https://example'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/d/"),
        F.col("doc_id").cast("string"),
        F.lit('"></head><body><p>body</p></body></html>'),
    )
    return d.select(
        "doc_id",
        F.regexp_extract(page, r"<title>([^<]*)</title>", 1).alias("title"),
        F.regexp_extract(page, r'name="description" content="([^"]*)"', 1).alias(
            "description"
        ),
        F.regexp_extract(page, r'rel="canonical" href="([^"]*)"', 1).alias(
            "canonical_url"
        ),
    )


def _messy_url_col() -> F.Column:
    """The deterministic messy-url synthesis shared by the u_* / d_joint
    queries (mirrors _MESSY_URL_SQL exactly)."""
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.lit("WWW.Example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        F.lit("/Articles/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("&utm_campaign=x"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("?id="),
                (F.col("doc_id") % 10).cast("string"),
                F.lit("&gclid=abc"),
            ),
        )
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )


_MESSY_URL_SQL = """
    concat(
      CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',
      'WWW.Example', cast(doc_id % 7 AS VARCHAR), '.COM',
      CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END,
      '/Articles/', cast(doc_id % 50 AS VARCHAR),
      CASE WHEN doc_id % 3 = 0
             THEN concat('?utm_source=feed&id=', cast(doc_id % 10 AS VARCHAR),
                         '&utm_campaign=x')
           WHEN doc_id % 3 = 1
             THEN concat('?id=', cast(doc_id % 10 AS VARCHAR), '&gclid=abc')
           ELSE '' END,
      CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END)
"""

@query(
    "t_feature_vector",
    f"""
    WITH q AS (
      SELECT doc_id, length(text) AS n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens,
             round(cast(length(text) AS DOUBLE)
                   / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END, 1), 4)
               AS mean_word_len,
        CASE WHEN length(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
             WHEN greatest(en, de, fr, es) = 0 THEN 'und'
             WHEN en = greatest(en, de, fr, es) THEN 'en'
             WHEN de = greatest(en, de, fr, es) THEN 'de'
             WHEN fr = greatest(en, de, fr, es) THEN 'fr'
             ELSE 'es' END AS lang_pred
      FROM (
        SELECT doc_id, text,
          length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|for)\\b')) AS en,
          length(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht|ein|mit)\\b')) AS de,
          length(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est|dans|que)\\b')) AS fr,
          length(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|en|una|por)\\b')) AS es
        FROM documents)),
    tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    rep AS (
      SELECT doc_id,
             round(count(*) / sum(c), 6) AS distinct_token_frac,
             round(max(c) / sum(c), 6) AS top_token_frac
      FROM c GROUP BY doc_id)
    SELECT q.doc_id, n_chars, n_ws_tokens, mean_word_len, lang_pred,
           distinct_token_frac, top_token_frac
    FROM q JOIN rep ON q.doc_id = rep.doc_id
    """,
)
def t_features(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-classifier feature vector: one wide row per document
    composing the cheap projections (length/word stats, language id) with
    the repetition aggregate — the table a learned quality filter trains
    and scores on. One explode-aggregate plus codegen projections; a
    single join on doc_id."""
    d = _t(spark, sf, "documents")
    feats = T.quality_features(F.col("text"))
    proj = d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_ws_tokens"),
        feats["mean_word_len"].alias("mean_word_len"),
        T.language_id(F.col("text")).alias("lang_pred"),
    )
    rep = T.repetition_stats(d, "doc_id", "text", n_partitions=_par(spark)).select(
        "doc_id", "distinct_token_frac", "top_token_frac"
    )
    return proj.join(rep, "doc_id")


@query(
    "u_host_rollup",
    f"""
    WITH raw AS (SELECT doc_id, lang, n_chars, {_MESSY_URL_SQL} AS url FROM documents),
    h AS (
      SELECT doc_id, lang, n_chars,
             regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':[0-9]+$', '') AS host
      FROM raw)
    SELECT host, count(*) AS n_docs,
           round(avg(n_chars), 4) AS mean_chars,
           count(DISTINCT lang) AS n_langs,
           min(doc_id) AS first_doc
    FROM h GROUP BY host
    """,
)
def u_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host crawl rollup over canonical hosts (the partition key a
    web-corpus curator budgets by: docs per host, size, language spread).
    Host extraction is the same engine-portable regex pair as
    u_canonical_dedupe; one groupBy shuffle on the host key — the Zipf-
    skewed key the salting machinery exists for at 100 TB."""
    from pdf_extractor_spark.functions.urls import HOSTPORT_RE

    d = _t(spark, sf, "documents")
    messy = _messy_url_col()
    host = F.regexp_replace(
        F.lower(F.regexp_extract(messy, HOSTPORT_RE, 1)), r":[0-9]+$", ""
    )
    return (
        d.select("doc_id", "lang", "n_chars", host.alias("host"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("mean_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "d_minhash_signature",
    f"""
    SELECT doc_id,
           list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('0:', s)))) AS mh0,
           list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('1:', s)))) AS mh1,
           list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('2:', s)))) AS mh2,
           list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('3:', s)))) AS mh3
    FROM documents
    """,
)
def d_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (k=4, word-bigram shingles) — engine-agnostic md5
    family. Staged projection: shingles materialized once, then 4 min-hashes
    over the attribute (not 4 re-expansions of the shingle tree)."""
    d = _t(spark, sf, "documents")
    staged = (
        d.select("doc_id", D.word_tokens(F.col("text")).alias("_t"))
        .repartition(_par(spark), "doc_id")
        .select("doc_id", D.shingles_from_tokens(F.col("_t"), 2).alias("_sh"))
    )

    def _one(seed: int):
        prefix = f"{seed}:"
        return F.array_min(
            F.transform(F.col("_sh"), lambda s: F.md5(F.concat(F.lit(prefix), s)))
        )

    return staged.select(
        "doc_id",
        _one(0).alias("mh0"),
        _one(1).alias("mh1"),
        _one(2).alias("mh2"),
        _one(3).alias("mh3"),
    )


_LSH_PAIRS_SQL = f"""
    WITH sig AS (
      SELECT doc_id,
             md5(concat_ws('|',
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('0:', s)))),
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('1:', s)))))) AS band0,
             md5(concat_ws('|',
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('2:', s)))),
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('3:', s)))))) AS band1
      FROM documents),
    buckets AS (
      SELECT doc_id, 0 AS band, band0 AS key FROM sig
      UNION ALL SELECT doc_id, 1, band1 FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


@query("d_lsh_pairs", _LSH_PAIRS_SQL)
def d_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH candidate pairs (k=4, 2 bands of 2 rows)."""
    d = _t(spark, sf, "documents")
    return D.minhash_lsh_pairs(d, k=4, bands=2, shingle_n=2, n_partitions=_par(spark))


@query(
    "d_dup_components",
    f"""
    WITH RECURSIVE e AS ({_LSH_PAIRS_SQL}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM e
              UNION SELECT id_b, id_a FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, w.reach FROM walk w JOIN edges e ON w.node = e.src)
    SELECT node, min(reach) AS comp FROM walk GROUP BY node
    """,
)
def d_components(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster labeling: connected components over the LSH
    candidate-pair graph via alternating large-star/small-star rounds
    (Kiveris et al. SoCC'14) — O(log^2 n) rounds on ANY graph shape,
    including adversarial long chains where min-label propagation needs
    diameter-many rounds. comp = min doc_id per cluster — the
    representative a dedup pass keeps. The oracle computes the same
    labeling via a recursive CTE. Scale note (BENCH.md sf1 decomposition):
    this contract query runs CC on UNCAPPED candidate pairs to keep the
    textbook semantics the oracle defines; a production run at corpus
    scale feeds CC the max_bucket-capped pairs instead (d_lsh_pairs_capped
    is that guard, driver-green) so degenerate buckets cannot inflate the
    edge list quadratically."""
    d = _t(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(
        d, k=4, bands=2, shingle_n=2, n_partitions=_par(spark)
    )
    return D.connected_components_star(pairs)


@query(
    "d_ngram_jaccard",
    f"""
    WITH sh AS (SELECT doc_id, source, {_SHINGLE_SQL} AS sh FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN (array_length(list_distinct(a.sh)) + array_length(list_distinct(b.sh))
                            - array_length(list_intersect(a.sh, b.sh))) <= 0 THEN 0.0
                 ELSE cast(array_length(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / (array_length(list_distinct(a.sh)) + array_length(list_distinct(b.sh))
                         - array_length(list_intersect(a.sh, b.sh))) END, 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(CASE WHEN (array_length(list_distinct(a.sh)) + array_length(list_distinct(b.sh))
                           - array_length(list_intersect(a.sh, b.sh))) <= 0 THEN 0.0
                ELSE cast(array_length(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / (array_length(list_distinct(a.sh)) + array_length(list_distinct(b.sh))
                        - array_length(list_intersect(a.sh, b.sh))) END, 6) >= 0.2
    """,
)
def d_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs, blocked by source."""
    d = _t(spark, sf, "documents")
    return D.ngram_jaccard_pairs(
        d, group_col="source", shingle_n=2, threshold=0.2, n_partitions=_par(spark)
    )


_JACCARD_CASE = """
    round(CASE WHEN (array_length(a.sh) + array_length(b.sh)
                     - array_length(list_intersect(a.sh, b.sh))) <= 0 THEN 0.0
          ELSE cast(array_length(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (array_length(a.sh) + array_length(b.sh)
                  - array_length(list_intersect(a.sh, b.sh))) END, 6)
"""


@query(
    "d_verified_near_dups",
    f"""
    WITH cand AS ({_LSH_PAIRS_SQL}),
    sh AS (SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS sh FROM documents)
    SELECT c.id_a, c.id_b, {_JACCARD_CASE} AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE {_JACCARD_CASE} >= 0.3
    """,
)
def d_verified(spark: SparkSession, sf: str) -> DataFrame:
    """The DEFAULT near-dup path: LSH candidates -> exact Jaccard verify
    (generate-then-verify, reference src/validator.py:86-95). Exact
    similarity runs only on the LSH candidate pairs — candidate count
    scales with true near-dup density, never with any blocking group's
    size squared."""
    d = _t(spark, sf, "documents")
    return D.lsh_verified_pairs(
        d, k=4, bands=2, shingle_n=2, threshold=0.3, n_partitions=_par(spark)
    )


@query(
    "t_redact_pii",
    r"""
    WITH inj AS (
      SELECT doc_id,
             concat(text, ' Contact: user', cast(doc_id AS VARCHAR),
                    '@example.com or +1 (555) 010-',
                    lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' / host 192.168.', cast(doc_id % 256 AS VARCHAR), '.7 now.')
               AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS text_redacted,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text,
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
           len(regexp_extract_all(text,
               '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS n_phones
    FROM inj
    """,
)
def t_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (beyond-reference corpus-prep op): emails, IPv4
    literals, and phone-like digit runs replaced with typed tokens; counts
    taken on the original text. PII is injected deterministically from
    doc_id so both engines scrub identical inputs. All codegen'd
    regexp_replace — no UDF, no shuffle (pure projection)."""
    from pdf_extractor_spark.functions.redact import pii_counts, redact_pii

    d = _t(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" / host 192.168."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 now."),
    )
    staged = d.select("doc_id", injected.alias("_t")).repartition(
        _par(spark), "doc_id"
    )
    n_emails, n_ips, n_phones = pii_counts(F.col("_t"))
    return staged.select(
        "doc_id",
        redact_pii(F.col("_t")).alias("text_redacted"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
    )



@query(
    "u_canonical_dedupe",
    f"""
    WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS pathq
      FROM raw),
    canon AS (
      SELECT doc_id,
        concat(
          scheme, '://',
          CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
               WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
               ELSE hostport END,
          CASE WHEN length(regexp_extract(pathq, '^([^?]*)', 1)) = 0 THEN '/'
               ELSE regexp_extract(pathq, '^([^?]*)', 1) END,
          CASE WHEN length(array_to_string(list_filter(
                     string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
                     kv -> NOT regexp_matches(kv, '^(utm_[^=&]*|gclid|fbclid)(=|$)')
                           AND length(kv) > 0), '&')) > 0
               THEN concat('?', array_to_string(list_filter(
                     string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
                     kv -> NOT regexp_matches(kv, '^(utm_[^=&]*|gclid|fbclid)(=|$)')
                           AND length(kv) > 0), '&'))
               ELSE '' END) AS canon_url
      FROM parts)
    SELECT canon_url, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM canon GROUP BY canon_url
    """,
)
def u_canon(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization + url-keyed dedup (beyond-reference web op):
    lowercase scheme/host, strip fragment + default port + tracking params,
    then first-seen-representative groups per canonical url. Messy urls are
    synthesized deterministically from doc_id so both engines canonicalize
    the identical inputs. Plan: pure regexp/array expressions + one
    groupBy shuffle on the canonical key."""
    from pdf_extractor_spark.functions.urls import canonicalize_url

    d = _t(spark, sf, "documents")
    messy = _messy_url_col()
    return (
        d.select("doc_id", canonicalize_url(messy).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_SHINGLE5_SQL = f"""
    list_transform(range(1, greatest(array_length({_TOK_SQL}) - 4, 0) + 1),
                   i -> array_to_string(list_slice({_TOK_SQL}, i, i + 4), ' '))
"""


# Decontamination shingle document-frequency cap: shingles appearing in more
# than this many documents (both splits counted) are dropped BEFORE the
# train×eval join. Boilerplate shingles ("all rights reserved ...") occur in
# a large fraction of BOTH sides; one such key materializes E·T join rows —
# a task-killing hot key at 10⁹ docs. Dropping ultra-common n-grams is
# standard decontamination practice (they carry no contamination signal).
DECONTAM_DF_MAX = 50


@query(
    "d_decontaminate",
    f"""
    WITH hkey AS (
      SELECT doc_id, text, md5(concat('eval:', doc_id)) AS hx FROM documents),
    split AS (
      SELECT doc_id, text,
             (({_HEX8.format(h="hx", p="1")}) / 4294967296.0 < 0.05) AS is_eval
      FROM hkey),
    sh AS (
      SELECT doc_id, is_eval, unnest(list_distinct({_SHINGLE5_SQL})) AS s
      FROM split),
    keep AS (
      SELECT s FROM sh GROUP BY s HAVING count(*) <= {DECONTAM_DF_MAX}),
    hits AS (
      SELECT t.doc_id, count(*) AS n_overlap_shingles,
             count(DISTINCT e.doc_id) AS n_eval_docs
      FROM sh t JOIN keep k ON t.s = k.s JOIN sh e ON t.s = e.s
      WHERE NOT t.is_eval AND e.is_eval
      GROUP BY t.doc_id)
    SELECT doc_id, n_overlap_shingles, n_eval_docs FROM hits
    """,
)
def d_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """DECONTAMINATION: flag training docs sharing any 5-token shingle
    with the held-out eval split (the GPT-3-style n-gram overlap check;
    eval set = deterministic 5% md5 split of the same corpus). Per-doc
    distinct shingles materialize once behind a repartition barrier.

    Skew guards (the two 100-TB failure modes of this join):
    - shingles with document frequency > DECONTAM_DF_MAX are removed on
      BOTH sides before the join via the same broadcast anti-join pattern
      as the LSH hot-bucket cap (operators/dedup.py max_bucket) — a
      boilerplate shingle in E eval × T train docs would otherwise emit
      E·T rows into the shuffle;
    - the eval side is broadcast EXPLICITLY (an eval set is a fixed
      benchmark suite — small by construction; post-explode cardinality
      estimates are unreliable, so this is not left to Catalyst stats).
    Returns every contaminated train doc with overlap counts."""
    from pdf_extractor_spark.operators.sampling import _hash_frac

    d = _t(spark, sf, "documents")
    split = d.select(
        "doc_id",
        "text",
        (_hash_frac(F.col("doc_id"), "eval") < 0.05).alias("is_eval"),
    )
    return D.decontaminate(
        split,
        shingle_n=5,
        df_max=DECONTAM_DF_MAX,
        n_partitions=_par(spark),
    ).withColumnRenamed("id", "doc_id")


@query(
    "d_joint_dedup_clusters",
    f"""
    WITH RECURSIVE raw AS (
      SELECT doc_id, text, {_MESSY_URL_SQL} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             concat(
               lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '://',
               regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', ''),
               regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '^([^?]*)', 1)
             ) AS key
      FROM raw),
    url_edges AS (
      SELECT min(doc_id) OVER (PARTITION BY key) AS src, doc_id AS dst FROM canon),
    text_edges AS (
      SELECT min(doc_id) OVER (PARTITION BY md5(text)) AS src, doc_id AS dst FROM raw),
    edges0 AS (
      SELECT src, dst FROM url_edges WHERE src != dst
      UNION SELECT src, dst FROM text_edges WHERE src != dst),
    edges AS (SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e2.dst, w.reach FROM walk w JOIN edges e2 ON w.node = e2.src),
    comps AS (SELECT node, min(reach) AS comp FROM walk GROUP BY node)
    SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comps c ON d.doc_id = c.node
    """,
)
def d_joint(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-signal dedup clustering (entity-resolution shape): docs are
    the same item if they share a canonical URL (query/fragment stripped —
    the same page recrawled with tracking params) OR identical text bytes;
    connected components over the UNION of both edge sets give the joint
    clusters. Each signal contributes star edges (group-min -> member), so
    the union graph is shallow and the star rounds converge immediately."""
    from pdf_extractor_spark.functions.urls import HOSTPORT_RE, PATHQ_RE, SCHEME_RE

    d = _t(spark, sf, "documents")
    messy = _messy_url_col()
    url_key = F.concat(
        F.lower(F.regexp_extract(messy, SCHEME_RE, 1)),
        F.lit("://"),
        F.regexp_replace(
            F.lower(F.regexp_extract(messy, HOSTPORT_RE, 1)), r":[0-9]+$", ""
        ),
        F.regexp_extract(F.regexp_extract(messy, PATHQ_RE, 1), r"^([^?]*)", 1),
    )
    w_url = Window.partitionBy(url_key)
    w_txt = Window.partitionBy(F.md5(F.encode(F.col("text"), "UTF-8")))
    url_edges = d.select(
        F.min("doc_id").over(w_url).alias("id_a"), F.col("doc_id").alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))
    text_edges = d.select(
        F.min("doc_id").over(w_txt).alias("id_a"), F.col("doc_id").alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))
    comps = D.connected_components_star(url_edges.union(text_edges).distinct())
    return d.select("doc_id").join(
        comps, d["doc_id"] == comps["node"], "left"
    ).select(
        "doc_id", F.coalesce(comps["comp"], d["doc_id"]).alias("cluster")
    )


@query(
    "d_simhash",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents),
    h AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1) AS h16
      FROM tok),
    bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (h16 // power(2, j)::int) % 2 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN range(16) r(j) GROUP BY doc_id, j)
    SELECT doc_id,
           cast(sum(CASE WHEN vote > 0 THEN power(2, j)::bigint ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def d_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash per document (majority vote across token hashes)."""
    d = _t(spark, sf, "documents")
    return D.with_simhash(d, n_partitions=_par(spark)).select(
        F.col("id").alias("doc_id"), F.col("simhash").cast("bigint").alias("simhash")
    )


@query(
    "t_tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf * (n_docs + 1.0) / (df + 1.0), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, score, cast(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def t_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF-style top-3 characteristic terms per document. The score is
    tf*(N+1)/(df+1) — a pure-rational idf surrogate: +,*,/ are IEEE-exact
    so both engines produce bit-identical doubles (ln() implementations
    differ at ULP level and would flake the value hash). Plan: one explode
    + two-level agg, a broadcast of the tiny per-term df table's join, and
    a doc-partitioned window for the top-k."""
    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", D.word_tokens(F.col("text")).alias("_t")
    ).repartition(_par(spark), "doc_id")
    tok = staged.select("doc_id", F.explode("_t").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # driver scalar: one number, rides as a literal
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0), 6
            ).alias("score"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@query(
    "d_cluster_representatives",
    f"""
    WITH RECURSIVE e AS ({_LSH_PAIRS_SQL}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM e
              UNION SELECT id_b, id_a FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e2.dst, w.reach FROM walk w JOIN edges e2 ON w.node = e2.src),
    comps AS (SELECT node, min(reach) AS comp FROM walk GROUP BY node),
    labeled AS (
      SELECT d.doc_id, d.n_chars, coalesce(c.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.node)
    SELECT comp,
           max(struct_pack(nc := n_chars, neg_id := -doc_id)).neg_id * -1 AS rep_id,
           cast(max(struct_pack(nc := n_chars, neg_id := -doc_id)).nc AS BIGINT)
             AS rep_n_chars,
           count(*) AS n_members
    FROM labeled GROUP BY comp
    """,
)
def d_cluster_reps(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end dedup decision: LSH candidates -> connected components ->
    ONE representative per duplicate cluster, chosen by quality (longest
    n_chars, ties to the smallest doc_id via the struct-max trick — min_by/
    max_by tie order is undefined in both engines). Docs in no cluster are
    their own singleton representative. This is the row set a dedup pass
    actually keeps."""
    d = _t(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(
        d, k=4, bands=2, shingle_n=2, n_partitions=_par(spark)
    )
    comps = D.connected_components_star(pairs)
    labeled = d.join(comps, d["doc_id"] == comps["node"], "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(comps["comp"], d["doc_id"]).alias("comp"),
    )
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return labeled.groupBy("comp").agg(
        (best.getField("neg_id") * -1).alias("rep_id"),
        best.getField("n_chars").cast("bigint").alias("rep_n_chars"),
        F.count(F.lit(1)).alias("n_members"),
    )


_H48_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(t), {i + 1}, 1)) - 1) * {16 ** (11 - i)}"
    for i in range(12)
)


@query(
    "d_simhash_near_dups",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents),
    h AS (SELECT doc_id, {_H48_SQL} AS h48 FROM tok),
    bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (h48 // power(2, j)::bigint) % 2 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN range(48) r(j) GROUP BY doc_id, j),
    sh AS (
      SELECT doc_id,
             cast(sum(CASE WHEN vote > 0 THEN power(2, j)::bigint ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id),
    keyed AS (
      SELECT doc_id, simhash, ci,
             ((simhash // power(2, ci * 12)::bigint) % 4096) AS ck
      FROM sh CROSS JOIN range(4) r(ci))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM keyed a JOIN keyed b
      ON a.ci = b.ci AND a.ck = b.ck AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def d_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs: 48-bit signature, 4x12-bit chunk blocking +
    exact Hamming verify (Manku/Jain/Sarma WWW'07). Pigeonhole guarantees
    every pair within 3 bit flips shares a chunk, so candidates come from a
    short-key bucketed equi-join — never an all-pairs popcount."""
    d = _t(spark, sf, "documents")
    return D.simhash_near_dup_pairs(
        d, bits=48, n_chunks=4, hamming_max=3, n_partitions=_par(spark)
    )


_LSH_CAPPED_SQL = f"""
    WITH sig AS (
      SELECT doc_id,
             md5(concat_ws('|',
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('0:', s)))),
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('1:', s)))))) AS band0,
             md5(concat_ws('|',
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('2:', s)))),
               list_min(list_transform({_SHINGLE_SQL}, s -> md5(concat('3:', s)))))) AS band1
      FROM documents),
    buckets AS (
      SELECT doc_id, 0 AS band, band0 AS key FROM sig
      UNION ALL SELECT doc_id, 1, band1 FROM sig),
    ok AS (SELECT band, key FROM buckets GROUP BY band, key HAVING count(*) <= 4),
    b2 AS (SELECT buckets.* FROM buckets JOIN ok USING (band, key))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM b2 a JOIN b2 b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


@query("d_lsh_pairs_capped", _LSH_CAPPED_SQL)
def d_lsh_capped(spark: SparkSession, sf: str) -> DataFrame:
    """LSH candidates with the hot-bucket skew guard (max_bucket=4): a
    degenerate bucket of B docs contributes B(B-1)/2 pairs, and web corpora
    have boilerplate/empty-doc buckets with B in the millions — one such
    bucket turns the pair join quadratic. Oversized buckets are dropped
    (their members still pair via their other, more selective bands)."""
    d = _t(spark, sf, "documents")
    return D.minhash_lsh_pairs(
        d, k=4, bands=2, shingle_n=2, n_partitions=_par(spark), max_bucket=4
    )


@query(
    "f10_json_parse",
    """
    SELECT event_id,
           cast(json_extract(props, '$.k') AS INT) AS k,
           (json_extract(props, '$.k') IS NOT NULL) AS parse_ok
    FROM events
    """,
)
def f10(spark: SparkSession, sf: str) -> DataFrame:
    """F10/S6 — semi-structured JSON parsing with error capture
    (reference src/formatter.py:30-115): from_json over the props column,
    unparseable rows flagged rather than failed."""
    e = _t(spark, sf, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k"),
        parsed.getField("k").isNotNull().alias("parse_ok"),
    )
