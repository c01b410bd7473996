"""Tests for the composed statement normalizer (FIXTURES.md §5 drift cases)."""

from __future__ import annotations

from pyspark.sql import Row

from pdf_extractor_spark.functions.statement import normalize_statement
from tests.test_validate import SCHEMA, _item, _meta, _stmt


def test_normalize_fills_defaults_and_scales(spark):
    drift = Row(
        metadata=_meta(
            units_multiplier=1000,
            periods=[Row(label="FY24", iso_date="2024-12-31", context=None)],
        ),
        extraction_notes=None,
        sections=[
            Row(
                section_name="Current Assets!",
                items=[
                    Row(
                        line_number=None,  # -> pos+1
                        label=None,  # -> row_description
                        level=None,  # -> 0
                        is_total=None,
                        row_kind="subtotal",  # -> is_total True
                        row_as_of=None,
                        row_period=None,
                        row_description="Cash and equivalents",
                        values={"2024-12-31": 4.38},  # |v| < 1000 -> scaled
                        values_text=None,
                        notes_reference=None,
                    ),
                    Row(
                        line_number=None,
                        label="-",  # null-like -> unknown_line_2
                        level=2,
                        is_total=False,
                        row_kind="position",
                        row_as_of=None,
                        row_period=None,
                        row_description=None,
                        values={"2024-12-31": 2500.0},  # already scaled, untouched
                        values_text=None,
                        notes_reference=["7.2", None],
                    ),
                ],
            )
        ],
    )
    df = spark.createDataFrame([("u1", drift)], SCHEMA)
    out = normalize_statement(df).first()
    sec = out["statement"]["sections"][0]
    assert sec["section_name"] == "current_assets"
    i1, i2 = sec["items"]
    assert i1["line_number"] == 1 and i2["line_number"] == 2
    assert i1["label"] == "Cash and equivalents"
    assert i1["is_total"] is True  # from row_kind=subtotal
    assert i1["level"] == 0
    assert i1["values"]["2024-12-31"] == 4380.0  # scaled by 1000
    assert i2["label"] == "unknown_line_2"
    assert i2["values"]["2024-12-31"] == 2500.0  # untouched
    assert i2["notes_reference"] == ["7.2"]  # null dropped
    assert out["axis"] == "time_series"


def test_normalize_matrix_axis_and_key_remap(spark):
    mx = _stmt(
        meta=_meta(
            periods=[],
            columns=[
                Row(key="carrying_amount", label="Carrying Amount", group=None, value_type="number"),
            ],
        ),
        sections=[
            Row(
                section_name="intangibles",
                # values keyed by the human LABEL -> remapped to the key
                items=[_item(values={"Carrying Amount".lower(): 9.0})],
            )
        ],
    )
    # note: reference remaps via lower(label) -> key (src/validator.py:524-535)
    df = spark.createDataFrame([("u1", mx)], SCHEMA)
    out = normalize_statement(df).first()
    item = out["statement"]["sections"][0]["items"][0]
    assert "carrying_amount" in item["values"]
    assert out["axis"] == "matrix"


def test_normalized_statement_validates(spark):
    from pdf_extractor_spark.functions.validate import validate_statements

    df = spark.createDataFrame([("u1", _stmt())], SCHEMA)
    out = validate_statements(normalize_statement(df)).first()
    assert out["is_valid"] is True
