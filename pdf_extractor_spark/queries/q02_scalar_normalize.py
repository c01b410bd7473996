"""Scalar normalization catalog (SURVEY.md 2.7).

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    N,
    SparkSession,
    _t,
    query,
)


# =============================================================================
# Scalar normalization catalog (SURVEY.md §2.7)
# =============================================================================


@query(
    "f1_snake_case",
    """
    SELECT p_partkey,
           trim(regexp_replace(regexp_replace(lower(p_name), '["'']', '', 'g'),
                               '[^a-z0-9]+', '_', 'g'), '_') AS snake
    FROM part
    """,
)
def f1(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    return p.select("p_partkey", N.snake_case(F.col("p_name")).alias("snake"))


@query(
    "f2_iso_date_flag",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS iso,
           regexp_matches(strftime(o_orderdate, '%Y-%m-%d'),
                          '^\\d{4}-\\d{2}-\\d{2}$') AS is_iso
    FROM orders
    """,
)
def f2(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    iso = F.date_format("o_orderdate", "yyyy-MM-dd")
    return o.select(
        "o_orderkey", iso.alias("iso"), N.is_iso_date(iso).alias("is_iso")
    )


_DIRTY_SQL = """
    CASE o_orderkey % 5
      WHEN 0 THEN concat(' ', cast(o_orderkey AS VARCHAR), ',', '250 ')
      WHEN 1 THEN concat('(', cast(o_orderkey AS VARCHAR), ')')
      WHEN 2 THEN 'n/a'
      WHEN 3 THEN '—'
      ELSE cast(o_orderkey AS VARCHAR)
    END
"""


def _dirty_col() -> F.Column:
    k = F.col("o_orderkey")
    return (
        F.when(k % 5 == 0, F.concat(F.lit(" "), k.cast("string"), F.lit(","), F.lit("250 ")))
        .when(k % 5 == 1, F.concat(F.lit("("), k.cast("string"), F.lit(")")))
        .when(k % 5 == 2, F.lit("n/a"))
        .when(k % 5 == 3, F.lit("—"))
        .otherwise(k.cast("string"))
    )


@query(
    "f3_numeric_coercion",
    f"""
    SELECT o_orderkey, dirty,
           CASE WHEN lower(trim(dirty)) IN ('', '-', '—', '–', 'n/a', 'na', 'null', 'none')
                THEN NULL
                WHEN regexp_matches(regexp_replace(trim(dirty), '[,\\s]', '', 'g'), '^\\(.*\\)$')
                THEN -cast(regexp_replace(regexp_replace(trim(dirty), '[,\\s]', '', 'g'), '[()]', '', 'g') AS DOUBLE)
                ELSE try_cast(regexp_replace(trim(dirty), '[,\\s]', '', 'g') AS DOUBLE)
           END AS parsed
    FROM (SELECT o_orderkey, {_DIRTY_SQL} AS dirty FROM orders)
    """,
)
def f3(spark: SparkSession, sf: str) -> DataFrame:
    """F3/F4 — numeric-string coercion incl. '(x)' negatives and null-likes."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        _dirty_col().alias("dirty"),
        N.coerce_numeric_string(_dirty_col()).alias("parsed"),
    )


@query(
    "f5_percent",
    """
    SELECT o_orderkey,
           cast(regexp_extract(concat(cast(o_orderkey % 200 AS VARCHAR), '%'),
                               '^(-?\\d+(?:\\.\\d+)?)\\s*%$', 1) AS DOUBLE) AS pct
    FROM orders
    """,
)
def f5(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    pct_str = F.concat((F.col("o_orderkey") % 200).cast("string"), F.lit("%"))
    return o.select("o_orderkey", N.coerce_percent(pct_str).alias("pct"))


@query(
    "f6_units_scaling",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity != 0 AND abs(l_quantity) < 1000
                THEN l_quantity * 1000 ELSE l_quantity END AS scaled
    FROM lineitem
    """,
)
def f6(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        N.scale_units(F.col("l_quantity"), F.lit(1000)).alias("scaled"),
    )


@query(
    "f8_note_ref",
    """
    SELECT n_nationkey,
           regexp_extract(concat('Note ', cast(n_regionkey AS VARCHAR), '.',
                                 cast(n_nationkey AS VARCHAR), ' (continued)'),
                          '(\\d+(?:\\.\\d+)*)', 1) AS note_id
    FROM nation
    """,
)
def f8(spark: SparkSession, sf: str) -> DataFrame:
    n = _t(spark, sf, "nation")
    raw = F.concat(
        F.lit("Note "),
        F.col("n_regionkey").cast("string"),
        F.lit("."),
        F.col("n_nationkey").cast("string"),
        F.lit(" (continued)"),
    )
    return n.select("n_nationkey", N.normalize_note_ref(raw).alias("note_id"))


@query(
    "f9_note_key_roundtrip",
    """
    SELECT note_id,
           concat('note_', replace(note_id, '.', '_')) AS note_key,
           replace(regexp_replace(concat('note_', replace(note_id, '.', '_')),
                                  '^note_', ''), '_', '.') AS back
    FROM (SELECT DISTINCT concat(cast(n_regionkey AS VARCHAR), '.',
                                 cast(n_nationkey AS VARCHAR)) AS note_id FROM nation)
    """,
)
def f9(spark: SparkSession, sf: str) -> DataFrame:
    n = _t(spark, sf, "nation")
    ids = n.select(
        F.concat(
            F.col("n_regionkey").cast("string"),
            F.lit("."),
            F.col("n_nationkey").cast("string"),
        ).alias("note_id")
    ).distinct()
    key = N.note_id_to_key(F.col("note_id"))
    return ids.select(
        "note_id", key.alias("note_key"), N.note_key_to_id(key).alias("back")
    )


@query(
    "f11_is_total",
    """
    SELECT p_partkey, label,
           CASE WHEN row_kind = 'subtotal' THEN true
                ELSE coalesce(regexp_matches(lower(label), '\\b(sub)?total\\b'), false)
           END AS is_total
    FROM (SELECT p_partkey,
                 CASE p_partkey % 3 WHEN 0 THEN concat('Total ', p_type)
                                    WHEN 1 THEN p_name ELSE concat(p_name, ' subtotal') END AS label,
                 CASE p_partkey % 4 WHEN 0 THEN 'subtotal' ELSE 'position' END AS row_kind
          FROM part)
    """,
)
def f11(spark: SparkSession, sf: str) -> DataFrame:
    p = _t(spark, sf, "part")
    label = (
        F.when(F.col("p_partkey") % 3 == 0, F.concat(F.lit("Total "), F.col("p_type")))
        .when(F.col("p_partkey") % 3 == 1, F.col("p_name"))
        .otherwise(F.concat(F.col("p_name"), F.lit(" subtotal")))
    )
    row_kind = F.when(F.col("p_partkey") % 4 == 0, F.lit("subtotal")).otherwise(
        F.lit("position")
    )
    return p.select(
        "p_partkey",
        label.alias("label"),
        N.derive_is_total(row_kind, label).alias("is_total"),
    )
