"""V1 (SURVEY.md §2.8): the statement schema validator as constraint
columns — a pure ``select`` building ``errors: array<string>``, ``warnings``,
``is_valid`` and the A11 confidence score. Mirrors the reference's
validate_financial_json error catalog (reference src/validator.py:947-1355)
over the fixed StructType model (plans/model.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pdf_extractor_spark.functions.normalize import (
    ISO_DATE_RE,
    confidence_score,
)
from pdf_extractor_spark.plans.model import ALLOWED_MULTIPLIERS


def _err(cond: Column, msg: str) -> Column:
    """One constraint -> [] or [msg]."""
    return F.when(cond, F.array(F.lit(msg))).otherwise(
        F.array().cast("array<string>")
    )


def statement_errors(stmt: Column) -> Column:
    """Error catalog for one STATEMENT struct column.

    Reference checks re-expressed (file:line = reference src/validator.py):
    - required metadata fields (:971-1010)
    - periods well-formed: label + ISO iso_date (:1012-1036)
    - units_multiplier in {1,1e3,1e6,1e9} (:1044-1050)
    - both axes declared (:1052-1054)
    - at least one section with items (:1059-1079)
    - per-item: label present, values map present (:1090-1162)
    - time-series values keyed by declared ISO periods (:1187-1206)
    """
    meta = stmt.getField("metadata")
    periods = meta.getField("periods")
    columns = meta.getField("columns")
    sections = stmt.getField("sections")

    has_periods = F.coalesce(F.size(periods), F.lit(0)) > 0
    has_columns = F.coalesce(F.size(columns), F.lit(0)) > 0
    declared_dates = F.transform(
        F.coalesce(periods, F.array()), lambda p: p.getField("iso_date")
    )

    all_items = F.flatten(
        F.transform(
            F.coalesce(sections, F.array()),
            lambda s: F.coalesce(s.getField("items"), F.array()),
        )
    )

    errs = F.concat(
        _err(meta.getField("company_name").isNull(), "metadata.company_name missing"),
        _err(meta.getField("statement_type").isNull(), "metadata.statement_type missing"),
        _err(meta.getField("currency").isNull(), "metadata.currency missing"),
        _err(
            ~meta.getField("units_multiplier").isin(ALLOWED_MULTIPLIERS)
            | meta.getField("units_multiplier").isNull(),
            "metadata.units_multiplier invalid",
        ),
        _err(
            has_periods
            & ~F.forall(
                periods,
                lambda p: p.getField("iso_date").rlike(ISO_DATE_RE)
                & p.getField("label").isNotNull(),
            ),
            "metadata.periods malformed",
        ),
        _err(
            has_columns
            & ~F.forall(
                columns,
                lambda c: c.getField("key").isNotNull() & c.getField("label").isNotNull(),
            ),
            "metadata.columns malformed",
        ),
        _err(has_periods & has_columns, "both periods and columns declared"),
        _err(
            F.coalesce(F.size(sections), F.lit(0)) == 0,
            "no sections with line items",
        ),
        _err(
            F.exists(all_items, lambda it: it.getField("label").isNull()),
            "line item missing label",
        ),
        _err(
            F.exists(all_items, lambda it: it.getField("values").isNull()),
            "line item missing values map",
        ),
        _err(
            has_periods
            & F.exists(
                all_items,
                lambda it: it.getField("values").isNotNull()
                & ~F.forall(
                    F.map_keys(it.getField("values")),
                    lambda k: F.array_contains(declared_dates, k),
                ),
            ),
            "values keyed outside declared periods",
        ),
    )
    return errs


def statement_warnings(stmt: Column) -> Column:
    """Warning catalog (non-fatal): ambiguity notes, empty extraction_notes.

    Reference: ambiguity filter src/validator.py:1383-1392 (P5)."""
    notes = F.coalesce(
        stmt.getField("extraction_notes"), F.array().cast("array<string>")
    )
    return F.concat(
        _err(
            F.exists(
                notes,
                lambda n: F.lower(n).rlike("ambiguous|unclear|uncertain|assumed"),
            ),
            "ambiguous extraction noted",
        ),
    )


def validate_statements(df: DataFrame) -> DataFrame:
    """V1 as a pure select: append errors/warnings/is_valid/confidence."""
    stmt = F.col("statement")
    errs = statement_errors(stmt)
    warns = statement_warnings(stmt)
    return (
        df.withColumn("errors", errs)
        .withColumn("warnings", warns)
        .withColumn("is_valid", F.size("errors") == 0)
        .withColumn(
            "confidence", confidence_score(F.size("errors"), F.size("warnings"))
        )
    )
