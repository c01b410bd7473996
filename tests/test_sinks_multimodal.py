"""Tests for multi-format sinks and multimodal plumbing."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.multimodal import (
    extract_image_features,
    frame_sample_plan,
)
from pdf_extractor_spark.sources.sinks import (
    display_preview,
    read_json_with_repair,
    save_multiple_formats,
)


def _df(spark):
    return spark.createDataFrame(
        [(1, "hello world", ["7.1", "8"]), (2, "second doc", [])],
        "doc_id long, text string, refs array<string>",
    )


def test_multi_format_fanout(spark, tmp_path):
    out = save_multiple_formats(_df(spark), str(tmp_path), ("json", "txt", "csv", "md"))
    # json
    json_rows = []
    for p in glob.glob(out["json"] + "/part-*"):
        with open(p) as fh:
            json_rows += [json.loads(line) for line in fh if line.strip()]
    assert {r["doc_id"] for r in json_rows} == {1, 2}
    # txt
    txt = ""
    for p in glob.glob(out["txt"] + "/part-*"):
        txt += open(p).read()
    assert "hello world" in txt
    # csv has header and JSON-encoded array cells
    csv_text = ""
    for p in glob.glob(out["csv"] + "/part-*.csv"):
        csv_text += open(p).read()
    assert "doc_id" in csv_text and '"[\\"7.1\\",\\"8\\"]"' in csv_text
    # md report exists with fenced json
    md = open(out["md"]).read()
    assert md.startswith("# ") and "```json" in md


def test_unknown_format_rejected(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        save_multiple_formats(_df(spark), str(tmp_path), ("parquet",))


def test_read_json_with_repair(spark):
    rows = [
        (1, '```json\n{"a": 1, "b": "x"}\n```'),
        (2, 'noise before {"a": 2, "b": "y"} noise after'),
        (3, "not json at all"),
    ]
    df = spark.createDataFrame(rows, "id long, raw string")
    out = read_json_with_repair(spark, df, "raw", "a INT, b STRING")
    got = {r["id"]: (r["parse_ok"], r["parsed"]) for r in out.collect()}
    assert got[1][0] is True and got[1][1]["a"] == 1
    assert got[2][0] is True and got[2][1]["b"] == "y"
    assert got[3][0] is False


def test_display_preview_truncates(spark):
    df = spark.createDataFrame([("x" * 1000,)], "text string")
    s = display_preview(df, max_chars=50)
    assert "x" * 10 in s and "x" * 200 not in s


def test_image_features_fake_plumbing(spark):
    rows = [(1, b"imagebytes-1"), (2, b"imagebytes-2"), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary").repartition(2)
    out = extract_image_features(df, fake=True).collect()
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["decode_ok"] and len(by_id[1]["features"]) == 16
    assert all(0.0 <= v < 1.0 for v in by_id[1]["features"])
    # determinism across partitionings
    out2 = extract_image_features(df.repartition(3), fake=True).collect()
    assert {r["media_id"]: r["features"] for r in out2}[1] == by_id[1]["features"]
    assert by_id[3]["n_bytes"] == 0


def test_image_decode_stub_errors_per_row(spark):
    df = spark.createDataFrame([(1, b"x")], "media_id long, payload binary")
    out = extract_image_features(df, fake=False).first()
    assert out["decode_ok"] is False
    assert "NotImplementedError" in out["error"]


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 3500), (2, 0)], "media_id long, duration_ms long")
    out = frame_sample_plan(df, every_ms=1000).groupBy("media_id").count().collect()
    got = {r["media_id"]: r["count"] for r in out}
    assert got[1] == 4  # 0,1000,2000,3000
    assert got[2] == 1  # frame 0


def test_every_driver_collect_is_bounded():
    """Guard: every ``.collect()`` in the package must be bounded — preceded
    by a ``.limit(`` in the same statement (sink previews), or one of the
    documented small-by-construction aggregates (heavy-host top-k, IVF
    centroid table: k x dim floats). A new unbounded collect is a scale
    regression this test turns into a review conversation."""
    import pathlib
    import re

    import pdf_extractor_spark

    pkg = pathlib.Path(pdf_extractor_spark.__file__).parent
    allowed = {
        ("plans/partitioning.py",): "heavy-host aggregate (top-k rows)",
        ("operators/similarity.py",): "IVF centroid table (k x dim floats)",
        ("operators/retrieval.py",): "BM25 global stats (single-row agg)",
        ("operators/sampling.py",): (
            "curriculum prefix-offset table (|langs| x |score-buckets| "
            "rows — bucket count bounded by score range / bucket_width)"
        ),
    }
    allowed_files = {f for key in allowed for f in key}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        src = path.read_text()
        for m in re.finditer(r"\.collect\(\)", src):
            # the statement: back up to the start of the enclosing expression
            stmt_start = src.rfind("\n\n", 0, m.start())
            stmt = src[stmt_start : m.end()]
            if ".limit(" in stmt:
                continue
            if rel in allowed_files:
                continue
            offenders.append(rel)
    assert offenders == [], offenders


def test_display_table_preview_tabular_and_fallback(spark):
    """S11 table preview (reference src/formatter.py:302-336): tabular JSON
    renders as an aligned table with a rows-shown footer; non-tabular input
    falls back to the plain preview."""
    import json

    from pdf_extractor_spark.sources.sinks import display_table_preview

    payload = json.dumps(
        [{"label": f"Item {i}", "value": i * 10} for i in range(12)]
    )
    df = spark.createDataFrame([(payload,)], "text string")
    out = display_table_preview(df, "text", max_rows=10)
    assert "| label" in out and "| value" in out
    assert "Item 0" in out and "90" in out
    assert "Item 11" not in out  # beyond max_rows
    assert "(Showing 10 of 12 rows)" in out

    # dict-of-lists shape
    df2 = spark.createDataFrame(
        [(json.dumps({"a": [1, 2], "b": ["x", "y"]}),)], "text string"
    )
    out2 = display_table_preview(df2, "text")
    assert "| a" in out2 and "| x" in out2

    # non-JSON: graceful fallback to the plain column preview
    df3 = spark.createDataFrame([("plain prose, not json",)], "text string")
    out3 = display_table_preview(df3, "text")
    assert "text" in out3 and "plain prose" in out3


def test_save_curated_corpus_partitioned_and_pruned(spark, tmp_path):
    """The curated-corpus sink writes per-language partition directories;
    a language-filtered read partition-prunes (PartitionFilters in plan)
    and file counts respect maxRecordsPerFile."""
    from pdf_extractor_spark.sources.sinks import save_curated_corpus

    df = spark.createDataFrame(
        [(i, f"text {i}", "en" if i % 3 else "de") for i in range(90)],
        "doc_id long, text string, lang string",
    )
    path = str(tmp_path / "corpus")
    save_curated_corpus(df, path, max_records_per_file=10)

    import glob
    import os

    langs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "lang=*"))
    )
    assert langs == ["lang=de", "lang=en"]
    # 60 en rows / 10 per file -> at least 6 files in the en partition
    en_files = glob.glob(os.path.join(path, "lang=en", "*.parquet"))
    assert len(en_files) >= 6

    scan = spark.read.parquet(path).filter(F.col("lang") == "de")
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0]
    assert scan.count() == 30


def test_curated_sink_keeps_exactly_the_contract_query_rows(spark, tmp_path):
    """Closing the loop between the oracle-checked sampling queries and the
    production sink: rows written by save_curated_corpus after
    curate_corpus must equal the intersection of t_quality_weighted_sample
    and t_stratified_sample keep-sets on the same table (same salts, same
    rates)."""
    from pdf_extractor_spark.queries import all_queries
    from pdf_extractor_spark.sources.sinks import curate_corpus, save_curated_corpus

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    q_quality = {r["doc_id"] for r in qs["t_quality_weighted_sample"](spark, sf).collect()}
    q_strat = {r["doc_id"] for r in qs["t_stratified_sample"](spark, sf).collect()}
    expected = q_quality & q_strat
    assert expected  # non-trivial keep-set

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    path = str(tmp_path / "curated")
    save_curated_corpus(
        curate_corpus(docs, rates={"en": 0.1, "de": 0.4}, default_rate=0.8), path
    )
    written = {r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()}
    assert written == expected
    # partition layout: per-language directories exist for written langs
    import os

    assert any(d.startswith("lang=") for d in os.listdir(path))


def test_curation_job_stage_accounting_and_keep_set(spark, tmp_path):
    """The --curate job surface: written rows must equal the independent
    composition of the oracle-checked contract operators (gopher keep ∩
    first-copy-per-exact-hash among survivors ∩ sampling keep), and the
    single-aggregation stage metrics must count exactly those sets."""
    import hashlib

    from pdf_extractor_spark.curate import run_curation_job
    from pdf_extractor_spark.queries import all_queries
    from pdf_extractor_spark.sources.sinks import curate_corpus

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    qs = all_queries()
    gopher = {
        r["doc_id"]
        for r in qs["t_gopher_filter"](spark, sf).collect()
        if r["keep"]
    }
    by_doc = {
        r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()
    }
    firsts = {}
    for doc_id in sorted(gopher):
        h = hashlib.md5(by_doc[doc_id].encode()).hexdigest()
        firsts.setdefault(h, doc_id)
    first_ids = set(firsts.values())
    sampled = {
        r["doc_id"]
        for r in curate_corpus(
            docs, rates={"en": 0.1, "de": 0.4}, default_rate=0.8
        ).select("doc_id").collect()
    }
    expected = gopher & first_ids & sampled
    assert expected  # non-trivial

    out = str(tmp_path / "curated_job")
    metrics = run_curation_job(
        spark, docs, out, rates={"en": 0.1, "de": 0.4}, default_rate=0.8
    )
    written = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert written == expected
    assert metrics["rows_in"] == docs.count()
    assert metrics["after_filter"] == len(gopher)
    assert metrics["after_dedup"] == len(gopher & first_ids)
    assert metrics["written"] == len(expected)
