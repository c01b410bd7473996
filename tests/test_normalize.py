"""Unit tests for the scalar normalization catalog (SURVEY.md §2.7 F1-F18)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.functions import normalize as N


def _one(spark, expr):
    return spark.range(1).select(expr.alias("v")).first()["v"]


def test_snake_case(spark):
    cases = {
        "Total Assets": "total_assets",
        '  "Net income" (loss) ': "net_income_loss",
        "R&D—expense": "r_d_expense",
        "__already__snake__": "already_snake",
    }
    for raw, want in cases.items():
        assert _one(spark, N.snake_case(F.lit(raw))) == want


def test_is_iso_date(spark):
    assert _one(spark, N.is_iso_date(F.lit("2024-12-31"))) is True
    assert _one(spark, N.is_iso_date(F.lit("31/12/2024"))) is False
    assert _one(spark, N.is_iso_date(F.lit("2024-1-1"))) is False


def test_coerce_numeric_string(spark):
    cases = {
        "1,234": 1234.0,
        "(567)": -567.0,
        " 1 234,5 ": 12345.0,  # spaces and commas both stripped
        "n/a": None,
        "—": None,
        "-": None,
        "12.5": 12.5,
        "(1,000.25)": -1000.25,
    }
    for raw, want in cases.items():
        got = _one(spark, N.coerce_numeric_string(F.lit(raw)))
        assert got == want, f"{raw!r}: {got} != {want}"


def test_coerce_percent(spark):
    assert _one(spark, N.coerce_percent(F.lit("5%"))) == 5.0
    assert _one(spark, N.coerce_percent(F.lit(" -2.5 %"))) == -2.5
    assert _one(spark, N.coerce_percent(F.lit("abc"))) is None


def test_scale_units(spark):
    assert _one(spark, N.scale_units(F.lit(4.38), F.lit(1000000))) == 4380000.0
    assert _one(spark, N.scale_units(F.lit(0.0), F.lit(1000))) == 0.0
    # |v| >= multiplier means the value is already in original units
    assert _one(spark, N.scale_units(F.lit(2500.0), F.lit(1000))) == 2500.0


def test_note_refs(spark):
    assert _one(spark, N.normalize_note_ref(F.lit("Note 7.1"))) == "7.1"
    assert _one(spark, N.normalize_note_ref(F.lit("see notes 3 and 4"))) == "3"
    assert _one(spark, N.note_id_to_key(F.lit("8.3"))) == "note_8_3"
    assert _one(spark, N.note_key_to_id(F.lit("note_8_3"))) == "8.3"


def test_derive_is_total(spark):
    assert _one(spark, N.derive_is_total(F.lit("subtotal"), F.lit("x"))) is True
    assert _one(spark, N.derive_is_total(F.lit("position"), F.lit("Total equity"))) is True
    assert _one(spark, N.derive_is_total(F.lit("position"), F.lit("Goodwill"))) is False


def test_label_fallback(spark):
    got = _one(spark, N.label_fallback(F.lit("-"), F.lit(None), F.lit(7)))
    assert got == "unknown_line_7"
    got = _one(spark, N.label_fallback(F.lit(None), F.lit("desc"), F.lit(1)))
    assert got == "desc"


def test_remap_map_keys(spark):
    df = spark.sql(
        "SELECT map('Revenue', 1.0, 'other', 2.0) AS v, "
        "map('revenue', 'rev') AS lookup"
    )
    got = df.select(N.remap_map_keys(F.col("v"), F.col("lookup")).alias("m")).first()["m"]
    assert got == {"rev": 1.0, "other": 2.0}


def test_infer_axis(spark):
    ts = spark.sql("SELECT map('2024-12-31', 1.0, '2023-12-31', 2.0) AS v")
    assert ts.select(N.infer_axis(F.col("v"), F.lit(False)).alias("a")).first()["a"] == "time_series"
    mx = spark.sql("SELECT map('carrying_amount', 1.0) AS v")
    assert mx.select(N.infer_axis(F.col("v"), F.lit(True)).alias("a")).first()["a"] == "matrix"
    assert mx.select(N.infer_axis(F.col("v"), F.lit(False)).alias("a")).first()["a"] == "unknown"


def test_confidence_score(spark):
    assert _one(spark, N.confidence_score(F.lit(2), F.lit(1))) == 75
    assert _one(spark, N.confidence_score(F.lit(20), F.lit(0))) == 0
    assert _one(spark, N.confidence_score(F.lit(0), F.lit(0))) == 100


def test_dotted_sort_key(spark):
    df = spark.createDataFrame([("3",), ("3.1",), ("10.2",), ("7.10",), ("7.9",)], ["r"])
    got = [r["r"] for r in df.orderBy(N.dotted_sort_key(F.col("r"))).collect()]
    assert got == ["3", "3.1", "7.9", "7.10", "10.2"]


def test_canonicalize_url_rules(spark):
    from pdf_extractor_spark.functions.urls import canonicalize_url
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://WWW.Site.COM:80/Page?utm_source=x&a=1#frag", "http://www.site.com/Page?a=1"),
        ("https://Site.com:443/", "https://site.com/"),
        ("https://site.com:8443/p", "https://site.com:8443/p"),  # non-default kept
        ("http://site.com", "http://site.com/"),  # empty path -> /
        ("http://site.com/p?gclid=z", "http://site.com/p"),
        ("http://site.com/p?a=1&fbclid=q&b=2", "http://site.com/p?a=1&b=2"),
        ("  http://site.com/x  ", "http://site.com/x"),  # trimmed
        ("http://site.com/CaseKept/Path", "http://site.com/CaseKept/Path"),
        ("example.com/no-scheme?a=1", "example.com/no-scheme?a=1"),  # passthrough
        ("not a url at all", "not a url at all"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"] for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_clean_training_text_explicit_codepoints(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.functions.redact import clean_training_text

    dirty = (
        "a\x00b\x07c"                    # controls dropped -> abc
        "\tkeep\nlines\r"               # tab/newline/CR preserved
        "\u00a0x\u2003y\u3000z"         # NBSP/em-space/ideographic -> ' '
        "\u00a0j\u200bo\u00adi\ufeffn"  # zero-width/SHY/BOM removed
        "  many   spaces "
    )
    df = spark.createDataFrame([(dirty,)], "t string")
    got = df.select(clean_training_text(F.col("t")).alias("c")).first()["c"]
    assert got == "abc\tkeep\nlines\r x y z join many spaces"


def test_pay_level_domain_rules(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.functions.urls import pay_level_domain

    cases = [
        ("www.blog.example.co.uk", "example.co.uk"),
        ("a.b.c.site.com.au", "site.com.au"),
        ("www.example.com", "example.com"),
        ("example.org", "example.org"),
        ("deep.sub.domain.example.co.jp", "example.co.jp"),
        ("localhost", "localhost"),
        ("co.uk", "co.uk"),  # bare suffix: no registrant label to take
    ]
    df = spark.createDataFrame(cases, "host string, want string")
    rows = df.select("host", "want", pay_level_domain(F.col("host")).alias("got")).collect()
    for r in rows:
        assert r["got"] == r["want"], r["host"]


# -------------------------------------------------------- F20 format_size
@pytest.mark.parametrize(
    "n,expected",
    [
        (0, "0.0 B"),
        (1023, "1023.0 B"),
        (1024, "1.0 KB"),
        (1536, "1.5 KB"),
        (1048576, "1.0 MB"),
        (1073741824, "1.0 GB"),
        (1099511627776, "1.0 TB"),
        (5 * 1099511627776 + 1099511627776 // 2, "5.5 TB"),
        (2048 * 1099511627776, "2048.0 TB"),  # unbounded TB tail
        # numerator beyond 2^53 and not a power of two: double division
        # would floor across the boundary here; true long div must not
        (3 * 2**50 + 7, "3072.0 TB"),
        (2**53 + 987654321, "8192.0 TB"),
    ],
)
def test_format_size_units(spark, n, expected):
    assert _one(spark, N.format_size(F.lit(n))) == expected
