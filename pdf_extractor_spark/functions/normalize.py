"""F1-F18 (SURVEY.md §2.7): the reference's scalar normalization pass as
JVM-side column expressions — no UDFs, fully whole-stage-codegen'd.

Each function cites the reference behavior it re-expresses. All are pure
``Column -> Column`` builders usable in select/filter anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# F4 — null-like strings (reference src/validator.py:873-875, prompts.py:348)
NULL_LIKES = ["", "-", "—", "–", "n/a", "na", "null", "none"]

ISO_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
NOTE_REF_RE = r"(\d+(?:\.\d+)*)"


def snake_case(col: Column) -> Column:
    """F1 — lower, strip quotes, non-alnum -> '_', squeeze, trim '_'
    (reference main.py:34-39, src/validator.py:406-408)."""
    c = F.lower(F.regexp_replace(col, r"""["']""", ""))
    c = F.regexp_replace(c, r"[^a-z0-9]+", "_")
    return F.regexp_replace(c, r"^_+|_+$", "")


def is_iso_date(col: Column) -> Column:
    """F2 — ^\\d{4}-\\d{2}-\\d{2}$ (reference src/validator.py:404,1024-1025)."""
    return col.rlike(ISO_DATE_RE)


def clean_null_likes(col: Column) -> Column:
    """F4 — '', '-', '—', 'n/a', ... -> NULL (reference src/validator.py:873-875)."""
    return F.when(F.lower(F.trim(col)).isin(NULL_LIKES), F.lit(None)).otherwise(col)


def coerce_numeric_string(col: Column) -> Column:
    """F3 — strip commas/spaces, '(x)' -> -x, cast double; null-likes -> NULL
    (reference src/validator.py:869-899)."""
    cleaned = clean_null_likes(col)
    stripped = F.regexp_replace(F.trim(cleaned), r"[,\s]", "")
    negated = F.when(
        stripped.rlike(r"^\(.*\)$"),
        F.concat(F.lit("-"), F.regexp_replace(stripped, r"[()]", "")),
    ).otherwise(stripped)
    return negated.try_cast("double")


def coerce_percent(col: Column) -> Column:
    """F5 — '5%' -> 5.0 (reference src/validator.py:752,877-882)."""
    return F.regexp_extract(
        F.trim(col), r"^(-?\d+(?:\.\d+)?)\s*%$", 1
    ).try_cast("double")


def scale_units(value: Column, multiplier: Column) -> Column:
    """F6 — if 0 < |v| < multiplier: v * multiplier (reference src/validator.py:914-923)."""
    return F.when(
        (value != 0) & (F.abs(value) < multiplier), value * multiplier
    ).otherwise(value)


def normalize_note_ref(col: Column) -> Column:
    """F8 — 'Note 7.1' -> '7.1' (reference src/notes_extractor.py:70-95)."""
    return F.regexp_extract(col, NOTE_REF_RE, 1)


def note_id_to_key(col: Column) -> Column:
    """F9 — '8.3' -> 'note_8_3' (reference main.py:139-140)."""
    return F.concat(F.lit("note_"), F.replace(col, F.lit("."), F.lit("_")))


def note_key_to_id(col: Column) -> Column:
    """F9 — 'note_8_3' -> '8.3' (reference src/validator.py:1555-1561)."""
    return F.replace(
        F.regexp_replace(col, r"^note_", ""), F.lit("_"), F.lit(".")
    )


def derive_is_total(row_kind: Column, label: Column) -> Column:
    """F11 — subtotal row_kind or 'total'-ish label (reference src/validator.py:566-582)."""
    return F.when(row_kind == "subtotal", F.lit(True)).otherwise(
        F.coalesce(F.lower(label).rlike(r"\b(sub)?total\b"), F.lit(False))
    )


def label_fallback(label: Column, row_description: Column, line_number: Column) -> Column:
    """F12 — label := label | row_description | 'unknown_line_N'
    (reference src/validator.py:556-563)."""
    return F.coalesce(
        clean_null_likes(label),
        clean_null_likes(row_description),
        F.concat(F.lit("unknown_line_"), line_number.cast("string")),
    )


def coerce_string_array(col: Column) -> Column:
    """F13 — cast entries to string, drop nulls (reference src/validator.py:584-602)."""
    return F.filter(
        F.transform(col, lambda x: x.cast("string")), lambda x: x.isNotNull()
    )


def remap_map_keys(values: Column, lookup: Column) -> Column:
    """F14 — rewrite values-map keys via a {lower(label): key} lookup map
    (reference src/validator.py:524-535,619-638)."""
    return F.map_from_entries(
        F.transform(
            F.map_entries(values),
            lambda e: F.struct(
                F.coalesce(
                    F.element_at(lookup, F.lower(e.getField("key"))),
                    e.getField("key"),
                ).alias("key"),
                e.getField("value").alias("value"),
            ),
        )
    )


def all_keys_iso_dates(values: Column) -> Column:
    """F17 helper — every key of the values map is an ISO date
    (reference src/validator.py:822,1187-1206)."""
    return F.forall(F.map_keys(values), lambda k: k.rlike(ISO_DATE_RE))


def infer_axis(values: Column, has_columns: Column) -> Column:
    """F17 — all-ISO keys -> 'time_series'; declared columns -> 'matrix'; else 'unknown'
    (reference src/validator.py:414-431,506-515,822-851)."""
    return (
        F.when(all_keys_iso_dates(values) & (F.size(F.map_keys(values)) > 0), "time_series")
        .when(has_columns, "matrix")
        .otherwise("unknown")
    )


def confidence_score(n_errors: Column, n_warnings: Column) -> Column:
    """A11 — clamp(100 - 10*errors - 5*warnings, 0, 100)
    (reference src/validator.py:1325-1328)."""
    return F.greatest(
        F.lit(0),
        F.least(F.lit(100), F.lit(100) - 10 * n_errors - 5 * n_warnings),
    )


def dotted_sort_key(col: Column) -> Column:
    """A2 — '3.1' sorts by tuple-of-ints: array comparison is elementwise
    (reference src/notes_extractor.py:19-23)."""
    return F.transform(F.split(col, r"\."), lambda x: x.try_cast("int"))


def format_size(bytes_col: Column) -> Column:
    """F20 — human-readable size string (reference src/pdf_uploader.py:143-149:
    binary-1024 units B/KB/MB/GB/TB with one decimal).

    All-integer arithmetic: the value is scaled to DECI-units
    (round-half-up of 10*bytes/1024^k as (20v + D) div (2D)) and the
    decimal string is assembled from div/mod — bit-identical on any
    engine, unlike float printf. The reference's f"{x:.1f}" is
    round-half-even; half-up is used here (documented divergence — ties
    are only hit by exact multiples of 1024^k/20)."""
    v = bytes_col.cast("long")

    def _div(a: Column, b: Column) -> Column:
        # TRUE long division (IntegralDivide) — `/` is double division and
        # floor(double) can cross an integer boundary once the numerator
        # exceeds 2^53 (~0.5 PB in deci-byte units)
        return F.call_function("div", a, b)

    def _deci_str(k: int, unit: str) -> Column:
        d = F.lit(1024**k).cast("long")
        q = _div(v * 20 + d, d * 2)
        return F.concat(
            _div(q, F.lit(10).cast("long")).cast("string"),
            F.lit("."),
            (q % 10).cast("string"),
            F.lit(" " + unit),
        )

    out = None
    for k, unit in ((0, "B"), (1, "KB"), (2, "MB"), (3, "GB")):
        cond = v < F.lit(1024 ** (k + 1))
        s = _deci_str(k, unit)
        out = F.when(cond, s) if out is None else out.when(cond, s)
    return out.otherwise(_deci_str(4, "TB"))
