"""Text analysis (training-data ops over documents).

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    SparkSession,
    T,
    _par,
    _t,
    query,
)


# =============================================================================
# Text analysis (training-data ops over `documents`)
# =============================================================================


@query(
    "t_token_counts",
    f"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens,
           length(regexp_extract_all(text, '{T.BPE_RE}')) AS n_bpe_tokens
    FROM documents
    """,
)
def t_tokens(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.whitespace_token_count(F.col("text")).alias("n_ws_tokens"),
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


@query(
    "t_quality",
    """
    SELECT doc_id, n_chars2 AS n_chars, n_tokens,
           round(cast(n_chars2 AS DOUBLE) / greatest(n_tokens, 1), 4) AS mean_word_len,
           round(least(40.0, cast(n_chars2 AS DOUBLE) / 50.0)
                 + least(30.0, round(cast(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) * 100.0)
                 + CASE WHEN round(cast(n_chars2 AS DOUBLE) / greatest(n_tokens, 1), 4)
                             BETWEEN 3.0 AND 12.0 THEN 30.0 ELSE 0.0 END, 2) AS quality
    FROM (
      SELECT doc_id, length(text) AS n_chars2,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
             length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|for)\\b'))
             + length(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht|ein|mit)\\b'))
             + length(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est|dans|que)\\b'))
             + length(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|en|una|por)\\b')) AS n_stop
      FROM documents)
    """,
)
def t_quality(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    feats = T.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_word_len"].alias("mean_word_len"),
        T.quality_score(F.col("text")).alias("quality"),
    )


@query(
    "t_langid",
    """
    SELECT doc_id,
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
      FROM documents)
    """,
)
def t_langid(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select("doc_id", T.language_id(F.col("text")).alias("lang_pred"))


@query(
    "t_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def t_fp(spark: SparkSession, sf: str) -> DataFrame:
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", T.content_fingerprint(F.col("text")).alias("fingerprint")
    )


_NIB = "(strpos('0123456789abcdef', substr(md5({g}), {i}, 1)) - 1)"
_H16_SQL = (
    f"({_NIB.format(g='{g}', i=1)} * 4096 + {_NIB.format(g='{g}', i=2)} * 256 + "
    f"{_NIB.format(g='{g}', i=3)} * 16 + {_NIB.format(g='{g}', i=4)})"
)


@query(
    "t_winnow_fingerprints",
    f"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(length(s) - 4, 0) + 1),
               i -> {_H16_SQL.format(g="substr(s, i, 5)")}) AS hs
      FROM n),
    sel AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(hs) - 7, 0) + 1),
               j -> list_min(list_slice(hs, j, j + 7))))) AS fps
      FROM h)
    SELECT doc_id, unnest(fps) AS fp FROM sel
    """,
)
def t_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=5 char-grams, window 8) as
    (doc_id, fp) rows — the linear explode + rolling-min-window formulation
    (winnow_fingerprints_df); the pure-column form is O(n^2) in document
    length because the per-window lambda re-evaluates the hash array."""
    d = _t(spark, sf, "documents")
    return T.winnow_fingerprints_df(
        d, "doc_id", "text", k=5, w=8, n_partitions=_par(spark)
    )
