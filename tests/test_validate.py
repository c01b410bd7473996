"""Structured-layer tests: statement model and V1 schema validator
(FIXTURES.md §5 cases)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql.types import StructField, StructType, StringType

from pdf_extractor_spark.functions.validate import validate_statements
from pdf_extractor_spark.plans.model import STATEMENT


def _item(label="Goodwill", values=None, **kw):
    return Row(
        line_number=kw.get("line_number", 1),
        label=label,
        level=kw.get("level", 1),
        is_total=kw.get("is_total", False),
        row_kind=kw.get("row_kind", "position"),
        row_as_of=kw.get("row_as_of"),
        row_period=kw.get("row_period"),
        row_description=kw.get("row_description"),
        values=values if values is not None else {"2024-12-31": 1234.0},
        values_text=kw.get("values_text"),
        notes_reference=kw.get("notes_reference", ["7.2"]),
    )


def _meta(**kw):
    return Row(
        company_name=kw.get("company_name", "Example Corp"),
        statement_type=kw.get("statement_type", "balance_sheet"),
        reporting_date=kw.get("reporting_date", "2024-12-31"),
        currency=kw.get("currency", "EUR"),
        original_units=kw.get("original_units", "millions"),
        units_multiplier=kw.get("units_multiplier", 1_000_000),
        dates_covered=kw.get("dates_covered", "2023-2024"),
        periods=kw.get(
            "periods",
            [
                Row(label="FY2024", iso_date="2024-12-31", context=None),
                Row(label="FY2023", iso_date="2023-12-31", context=None),
            ],
        ),
        columns=kw.get("columns"),
    )


def _stmt(meta=None, sections=None, notes=None):
    return Row(
        metadata=meta or _meta(),
        extraction_notes=notes or [],
        sections=sections
        if sections is not None
        else [Row(section_name="assets", items=[_item()])],
    )


SCHEMA = StructType(
    [StructField("url", StringType()), StructField("statement", STATEMENT)]
)


def _df(spark, *stmts):
    return spark.createDataFrame(
        [(f"u{i}", s) for i, s in enumerate(stmts)], SCHEMA
    )


def test_valid_statement(spark):
    out = validate_statements(_df(spark, _stmt())).first()
    assert out["errors"] == []
    assert out["is_valid"] is True
    assert out["confidence"] == 100


def test_missing_metadata_fields(spark):
    bad = _stmt(meta=_meta(company_name=None, currency=None))
    out = validate_statements(_df(spark, bad)).first()
    assert "metadata.company_name missing" in out["errors"]
    assert "metadata.currency missing" in out["errors"]
    assert out["is_valid"] is False
    assert out["confidence"] == 80


def test_invalid_multiplier(spark):
    bad = _stmt(meta=_meta(units_multiplier=500))
    out = validate_statements(_df(spark, bad)).first()
    assert "metadata.units_multiplier invalid" in out["errors"]


def test_malformed_periods(spark):
    bad = _stmt(
        meta=_meta(periods=[Row(label="FY24", iso_date="31/12/2024", context=None)])
    )
    out = validate_statements(_df(spark, bad)).first()
    assert "metadata.periods malformed" in out["errors"]


def test_both_axes_flagged(spark):
    bad = _stmt(
        meta=_meta(
            columns=[Row(key="carrying", label="Carrying", group=None, value_type="number")]
        )
    )
    out = validate_statements(_df(spark, bad)).first()
    assert "both periods and columns declared" in out["errors"]


def test_matrix_statement_valid(spark):
    mx = _stmt(
        meta=_meta(
            periods=[],
            columns=[
                Row(key="cost", label="Cost", group=None, value_type="number"),
                Row(key="carrying", label="Carrying", group=None, value_type="number"),
            ],
        ),
        sections=[
            Row(
                section_name="intangibles",
                items=[_item(values={"cost": 10.0, "carrying": 8.0})],
            )
        ],
    )
    out = validate_statements(_df(spark, mx)).first()
    assert out["errors"] == []


def test_no_sections(spark):
    out = validate_statements(_df(spark, _stmt(sections=[]))).first()
    assert "no sections with line items" in out["errors"]


def test_item_missing_label_and_stray_period_key(spark):
    bad = _stmt(
        sections=[
            Row(
                section_name="assets",
                items=[
                    _item(label=None),
                    _item(values={"2022-06-30": 5.0}),  # not a declared period
                ],
            )
        ]
    )
    out = validate_statements(_df(spark, bad)).first()
    assert "line item missing label" in out["errors"]
    assert "values keyed outside declared periods" in out["errors"]


def test_ambiguity_warning(spark):
    s = _stmt(notes=["Column header was ambiguous; assumed FY2024."])
    out = validate_statements(_df(spark, s)).first()
    assert out["is_valid"] is True
    assert out["warnings"] == ["ambiguous extraction noted"]
    assert out["confidence"] == 95
