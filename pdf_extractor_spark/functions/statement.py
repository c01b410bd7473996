"""The composed statement normalizer (reference src/validator.py:389-945
``normalize_financial_json``) as ONE pure column-expression pass over the
fixed StructType model — the structured-layer analog of the extraction UDF.

Drift repairs applied per line item (reference behavior, file:line):
- line_number default = position+1 (W1, :552-554)
- label fallback: label | row_description | unknown_line_N (F12, :556-563)
- is_total derived from row_kind/label (F11, :566-582)
- notes_reference -> clean string array (F13, :584-602)
- values keys remapped label->key via metadata.columns (F14, :524-535,619-638)
- numeric values scaled by units_multiplier where |v| < multiplier (F6, :914-923)
- axis inferred per statement (F17, :414-431,822-851)

Schema-level drifts of the reference (rows->lines, top-level columns,
metadata_columns, dict row_as_of — F18, :457-477,:711-731) vanish at parse
time in a fixed-schema engine (SURVEY.md §2.7 F18) and are therefore handled
by the ingest mapping, not here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pdf_extractor_spark.functions import normalize as N


def _normalize_item(item: Column, pos: Column, meta: Column) -> Column:
    mult = F.coalesce(meta.getField("units_multiplier"), F.lit(1))
    columns = meta.getField("columns")
    # {lower(label): key} lookup from declared columns (F14)
    lookup = F.map_from_entries(
        F.transform(
            F.coalesce(columns, F.array()),
            lambda c: F.struct(
                F.lower(c.getField("label")).alias("key"),
                c.getField("key").alias("value"),
            ),
        )
    )
    line_number = F.coalesce(item.getField("line_number"), (pos + 1).cast("int"))
    label = N.label_fallback(
        item.getField("label"), item.getField("row_description"), line_number
    )
    remapped = N.remap_map_keys(
        F.coalesce(
            item.getField("values"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<double>")
            ),
        ),
        lookup,
    )
    scaled = F.map_from_entries(
        F.transform(
            F.map_entries(remapped),
            lambda e: F.struct(
                e.getField("key").alias("key"),
                N.scale_units(e.getField("value"), mult).alias("value"),
            ),
        )
    )
    return F.struct(
        line_number.alias("line_number"),
        label.alias("label"),
        F.coalesce(item.getField("level"), F.lit(0)).alias("level"),
        N.derive_is_total(item.getField("row_kind"), label).alias("is_total"),
        item.getField("row_kind").alias("row_kind"),
        item.getField("row_as_of").alias("row_as_of"),
        item.getField("row_period").alias("row_period"),
        item.getField("row_description").alias("row_description"),
        scaled.alias("values"),
        item.getField("values_text").alias("values_text"),
        N.coerce_string_array(
            F.coalesce(item.getField("notes_reference"), F.array())
        ).alias("notes_reference"),
    )


def normalize_statement(df: DataFrame) -> DataFrame:
    """Apply the full normalization pass; adds an ``axis`` column (F17)."""
    stmt = F.col("statement")
    meta = stmt.getField("metadata")

    sections = F.transform(
        F.coalesce(stmt.getField("sections"), F.array()),
        lambda s: F.struct(
            N.snake_case(s.getField("section_name")).alias("section_name"),
            F.transform(
                F.coalesce(s.getField("items"), F.array()),
                lambda it, i: _normalize_item(it, i, meta),
            ).alias("items"),
        ),
    )
    normalized = F.struct(
        meta.alias("metadata"),
        N.coerce_string_array(
            F.coalesce(stmt.getField("extraction_notes"), F.array())
        ).alias("extraction_notes"),
        sections.alias("sections"),
    )
    first_values = F.element_at(
        F.flatten(
            F.transform(
                F.coalesce(stmt.getField("sections"), F.array()),
                lambda s: F.transform(
                    F.coalesce(s.getField("items"), F.array()),
                    lambda it: it.getField("values"),
                ),
            )
        ),
        1,
    )
    has_columns = F.coalesce(F.size(meta.getField("columns")), F.lit(0)) > 0
    return df.withColumn("statement", normalized).withColumn(
        "axis",
        N.infer_axis(
            F.coalesce(
                first_values,
                F.map_from_arrays(
                    F.array().cast("array<string>"), F.array().cast("array<double>")
                ),
            ),
            has_columns,
        ),
    )
