"""Fixed StructType schema for the structured-document layer (SURVEY.md §1.2).

The reference's output model is dynamically-schemed nested JSON (sections
discovered per document, reference src/prompts.py:266-269). Spark structs
cannot have dynamic field names, so sections become an exploded
``array<struct<section_name, items>>`` — the §1.2 mapping table, verbatim.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# LineItem (reference src/prompts.py:250-261; type rules src/validator.py:1090-1162)
LINE_ITEM = StructType(
    [
        StructField("line_number", IntegerType()),
        StructField("label", StringType()),
        StructField("level", IntegerType()),
        StructField("is_total", BooleanType()),
        StructField("row_kind", StringType()),  # position|movement|subtotal
        StructField("row_as_of", StringType()),
        StructField(
            "row_period",
            StructType(
                [StructField("start", StringType()), StructField("end", StringType())]
            ),
        ),
        StructField("row_description", StringType()),
        # values: map NOT array (reference src/validator.py:1119-1121);
        # typed note cells are union-by-columns (value_num/value_text)
        StructField("values", MapType(StringType(), DoubleType())),
        StructField("values_text", MapType(StringType(), StringType())),
        StructField("notes_reference", ArrayType(StringType())),
    ]
)

PERIOD = StructType(
    [
        StructField("label", StringType()),
        StructField("iso_date", StringType()),
        StructField("context", StringType()),
    ]
)

COLUMN_DEF = StructType(
    [
        StructField("key", StringType()),
        StructField("label", StringType()),
        StructField("group", StringType()),
        StructField("value_type", StringType()),  # number|percent|text|date
    ]
)

METADATA = StructType(
    [
        StructField("company_name", StringType()),
        StructField("statement_type", StringType()),
        StructField("reporting_date", StringType()),
        StructField("currency", StringType()),
        StructField("original_units", StringType()),
        StructField("units_multiplier", IntegerType()),  # ∈ {1,1e3,1e6,1e9}
        StructField("dates_covered", StringType()),
        StructField("periods", ArrayType(PERIOD)),
        StructField("columns", ArrayType(COLUMN_DEF)),
    ]
)

SECTION = StructType(
    [
        StructField("section_name", StringType()),
        StructField("items", ArrayType(LINE_ITEM)),
    ]
)

STATEMENT = StructType(
    [
        StructField("metadata", METADATA),
        StructField("extraction_notes", ArrayType(StringType())),
        StructField("sections", ArrayType(SECTION)),
    ]
)

ALLOWED_MULTIPLIERS = [1, 1_000, 1_000_000, 1_000_000_000]
