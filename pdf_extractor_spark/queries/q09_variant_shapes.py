"""P4/F18/F19/F21 VARIANT-shape reference behaviors.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    SparkSession,
    _par,
    _t,
    query,
)


# --------------------------------------------------------------------------
# P4 / F18 / F19 / F21 — the last reference behaviors, re-expressed over
# semi-structured payload columns (the engine's fixed-schema hot path makes
# them constants; these queries implement the VARIANT-shape versions the
# reference runs on raw dicts, so the behaviors survive schema drift too)
# --------------------------------------------------------------------------

_P4_JSON_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN concat(
      '{"metadata": {"company": "c', cast(doc_id AS VARCHAR),
      '"}, "income_statement": {"metadata": {"periods": 2}, "rows": []}, ',
      '"note_', cast(doc_id % 9 AS VARCHAR),
      '": {"metadata": {}, "rows": []}}')
    ELSE concat(
      '{"metadata": {"company": "c', cast(doc_id AS VARCHAR),
      '"}, "rows": [], "columns": ["2024", "2023"]}')
    END
"""


def _p4_json_col() -> F.Column:
    did = F.col("doc_id").cast("string")
    multi = F.concat(
        F.lit('{"metadata": {"company": "c'), did,
        F.lit('"}, "income_statement": {"metadata": {"periods": 2}, '
              '"rows": []}, "note_'),
        (F.col("doc_id") % 9).cast("string"),
        F.lit('": {"metadata": {}, "rows": []}}'),
    )
    single = F.concat(
        F.lit('{"metadata": {"company": "c'), did,
        F.lit('"}, "rows": [], "columns": ["2024", "2023"]}'),
    )
    return F.when(F.col("doc_id") % 3 == 0, multi).otherwise(single)


@query(
    "p4_multi_statement_detect",
    f"""
    WITH payload AS (SELECT doc_id, {_P4_JSON_SQL} AS js FROM documents),
    keyed AS (
      SELECT doc_id,
             list_filter(json_keys(js),
               k -> k != 'metadata'
                    AND json_extract(js, concat('$.', k, '.metadata'))
                        IS NOT NULL) AS stmt_keys
      FROM payload)
    SELECT doc_id,
           len(stmt_keys) > 0 AS is_multi,
           len(stmt_keys) AS n_statements
    FROM keyed
    """,
)
def p4_multi_detect(spark: SparkSession, sf: str) -> DataFrame:
    """P4 — multi-statement format detection (reference
    src/validator.py:33-52: data is multi-statement iff any non-metadata
    top-level value is a dict carrying its own 'metadata'). The engine's
    fixed StructType makes this a parse-time constant on the hot path;
    this is the VARIANT-shape version over a raw JSON payload column —
    json_object_keys + a dynamic-path get_json_object under exists(),
    all codegen'd expressions (the payload is staged as an attribute so
    the HOF lambda maps over a column, not a re-evaluated subtree)."""
    d = _t(spark, sf, "documents")
    payload = d.select("doc_id", _p4_json_col().alias("js")).repartition(
        _par(spark), "doc_id"
    )
    keyed = payload.select(
        "doc_id",
        F.expr(
            "filter(json_object_keys(js), k -> k != 'metadata' AND "
            "get_json_object(js, concat('$.', k, '.metadata')) IS NOT NULL)"
        ).alias("stmt_keys"),
    )
    return keyed.select(
        "doc_id",
        (F.size("stmt_keys") > 0).alias("is_multi"),
        F.size("stmt_keys").alias("n_statements"),
    )


_F18_JSON_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN concat(
      '{"metadata": {"columns": ["2024", "2023"]}, "rows": [{"label": "a"}',
      CASE WHEN doc_id % 4 = 0 THEN ', {"label": "b"}' ELSE '' END, ']}')
    ELSE concat(
      '{"columns": ["2024"], "lines": [{"label": "x"}',
      CASE WHEN doc_id % 5 = 0 THEN ', {"label": "y"}, {"label": "z"}'
           ELSE '' END, ']}')
    END
"""


def _f18_json_col() -> F.Column:
    did = F.col("doc_id")
    canonical = F.concat(
        F.lit('{"metadata": {"columns": ["2024", "2023"]}, '
              '"rows": [{"label": "a"}'),
        F.when(did % 4 == 0, F.lit(', {"label": "b"}')).otherwise(F.lit("")),
        F.lit("]}"),
    )
    drifted = F.concat(
        F.lit('{"columns": ["2024"], "lines": [{"label": "x"}'),
        F.when(
            did % 5 == 0, F.lit(', {"label": "y"}, {"label": "z"}')
        ).otherwise(F.lit("")),
        F.lit("]}"),
    )
    return F.when(did % 2 == 0, canonical).otherwise(drifted)


@query(
    "f18_schema_drift_repair",
    f"""
    WITH payload AS (SELECT doc_id, {_F18_JSON_SQL} AS js FROM documents)
    SELECT doc_id,
           json_extract(js, '$.lines') IS NOT NULL AS renamed_lines,
           json_extract(js, '$.metadata.columns') IS NULL AS columns_moved,
           json_array_length(coalesce(json_extract(js, '$.rows'),
                                      json_extract(js, '$.lines')))
             AS n_rows,
           coalesce(json_extract_string(js, '$.metadata.columns[0]'),
                    json_extract_string(js, '$.columns[0]'))
             AS first_column
    FROM payload
    """,
)
def f18_drift(spark: SparkSession, sf: str) -> DataFrame:
    """F18 — key-rename / key-move schema-drift repair (reference
    src/validator.py:457-477 rows->lines, :518-521 columns->
    metadata.columns): every drift variant is read through a coalesce of
    the canonical and drifted JSON paths, and the drift itself is
    reported as typed flags (the repair worklist). On the fixed-schema
    hot path this vanishes at parse time; over raw payloads it is four
    get_json_object expressions — scan-side, no UDF."""
    d = _t(spark, sf, "documents")
    payload = d.select("doc_id", _f18_json_col().alias("js")).repartition(
        _par(spark), "doc_id"
    )
    return payload.select(
        "doc_id",
        F.get_json_object("js", "$.lines").isNotNull().alias("renamed_lines"),
        F.get_json_object("js", "$.metadata.columns")
        .isNull()
        .alias("columns_moved"),
        F.when(
            F.get_json_object("js", "$.rows").isNotNull(),
            F.json_array_length(F.get_json_object("js", "$.rows")),
        )
        .otherwise(F.json_array_length(F.get_json_object("js", "$.lines")))
        .alias("n_rows"),
        F.coalesce(
            F.get_json_object("js", "$.metadata.columns[0]"),
            F.get_json_object("js", "$.columns[0]"),
        ).alias("first_column"),
    )


_F19_CFG_SQL = """
    CASE doc_id % 4
      WHEN 0 THEN 'income statement and balance sheet'
      WHEN 1 THEN 'cash flow, equity & notes'
      WHEN 2 THEN 'balance sheet; income statement ,cash flow'
      ELSE 'notes'
    END
"""


@query(
    "f19_statement_type_split",
    f"""
    WITH cfg AS (SELECT doc_id, {_F19_CFG_SQL} AS raw FROM documents),
    parts AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(raw, '\\s+and\\s+|,|&|;'),
                 p -> trim(p)),
               p -> p != '') AS types
      FROM cfg)
    SELECT doc_id, idx - 1 AS idx, types[idx] AS statement_type
    FROM parts
    CROSS JOIN range(1, 8) r(idx)
    WHERE idx <= array_length(types)
    """,
)
def f19_split(spark: SparkSession, sf: str) -> DataFrame:
    """F19 — statement-type delimiter parsing (reference
    src/prompts.py:11-40: user config split on ' and ', ',', '&', ';').
    The split/trim/drop-empties runs as column expressions and the types
    explode with their position — the same parse the reference does
    per-request, here once per row over the whole corpus."""
    d = _t(spark, sf, "documents")
    raw = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("income statement and balance sheet"),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit("cash flow, equity & notes"))
        .when(
            F.col("doc_id") % 4 == 2,
            F.lit("balance sheet; income statement ,cash flow"),
        )
        .otherwise(F.lit("notes"))
    )
    cfg = d.select("doc_id", raw.alias("raw")).repartition(
        _par(spark), "doc_id"
    )
    parts = cfg.select(
        "doc_id",
        F.filter(
            F.transform(
                F.split("raw", r"\s+and\s+|,|&|;"), lambda p: F.trim(p)
            ),
            lambda p: p != "",
        ).alias("types"),
    )
    return parts.select(
        "doc_id", F.posexplode("types").alias("idx", "statement_type")
    )


_F21_REPORT_SQL = """
    concat('STATUS: PARTIAL: ', cast(doc_id % 101 AS VARCHAR), '%', chr(10),
           'MISSING_STATEMENTS: ',
           CASE doc_id % 3 WHEN 0 THEN 'balance_sheet, cash_flow'
                WHEN 1 THEN 'income_statement' ELSE 'equity, notes' END,
           chr(10),
           '- note_', cast(doc_id % 9 AS VARCHAR),
           ' — empty table', chr(10),
           '2024: ', cast(doc_id % 10 AS VARCHAR), '.',
           cast(doc_id % 7 AS VARCHAR), ' (not ',
           cast(doc_id % 10 AS VARCHAR), ',',
           cast(doc_id % 7 AS VARCHAR), '00,000)')
"""


@query(
    "f21_parse_validation_report",
    f"""
    WITH rep AS (SELECT doc_id, {_F21_REPORT_SQL} AS report FROM documents)
    SELECT doc_id,
           cast(regexp_extract(report, 'PARTIAL: ([0-9]+)%', 1) AS BIGINT)
             AS partial_pct,
           len(string_split(
             regexp_extract(report, 'MISSING_STATEMENTS: ([^\n]*)', 1),
             ', ')) AS n_missing,
           string_split(
             regexp_extract(report, 'MISSING_STATEMENTS: ([^\n]*)', 1),
             ', ')[1] AS first_missing,
           regexp_extract(report, '- (note_[0-9]+) —', 1) AS flagged_note,
           regexp_extract(report, '([0-9]{{4}}): ', 1) AS value_year,
           regexp_extract(report, ': ([0-9]+\\.[0-9]+) \\(not ', 1)
             AS reported_value,
           replace(replace(
             regexp_extract(report, '\\(not ([0-9,]+)\\)', 1), ',', ''),
             '.', '') AS full_value
    FROM rep
    """,
)
def f21_parse(spark: SparkSession, sf: str) -> DataFrame:
    """F21 — semi-structured validation-report line parsers (reference
    main.py:41-137, src/validator.py:126-232: 'PARTIAL: NN%' status
    lines, 'MISSING_STATEMENTS:' lists, '- key (em-dash) reason' bullets,
    and 'YYYY: v.v (not v,vv0,000)' mis-scaling claims). The engine has
    no LLM, so the repair WORKLIST normally comes from typed checks
    (golden anti-joins) — but the parsers themselves are pure
    regexp_extract column expressions, shown here over deterministically
    synthesized report text so both engines parse identical bytes."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    report = F.concat(
        F.lit("STATUS: PARTIAL: "), (did % 101).cast("string"), F.lit("%\n"),
        F.lit("MISSING_STATEMENTS: "),
        F.when(did % 3 == 0, F.lit("balance_sheet, cash_flow"))
        .when(did % 3 == 1, F.lit("income_statement"))
        .otherwise(F.lit("equity, notes")),
        F.lit("\n- note_"), (did % 9).cast("string"),
        F.lit(" — empty table\n2024: "),
        (did % 10).cast("string"), F.lit("."), (did % 7).cast("string"),
        F.lit(" (not "), (did % 10).cast("string"), F.lit(","),
        (did % 7).cast("string"), F.lit("00,000)"),
    )
    rep = d.select("doc_id", report.alias("report")).repartition(
        _par(spark), "doc_id"
    )
    missing = F.split(
        F.regexp_extract("report", r"MISSING_STATEMENTS: ([^\n]*)", 1), ", "
    )
    return rep.select(
        "doc_id",
        F.regexp_extract("report", r"PARTIAL: ([0-9]+)%", 1)
        .cast("long")
        .alias("partial_pct"),
        F.size(missing).alias("n_missing"),
        missing.getItem(0).alias("first_missing"),
        F.regexp_extract("report", "- (note_[0-9]+) —", 1).alias(
            "flagged_note"
        ),
        F.regexp_extract("report", r"([0-9]{4}): ", 1).alias("value_year"),
        F.regexp_extract("report", r": ([0-9]+\.[0-9]+) \(not ", 1).alias(
            "reported_value"
        ),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_extract("report", r"\(not ([0-9,]+)\)", 1), ",", ""
            ),
            r"\.",
            "",
        ).alias("full_value"),
    )
