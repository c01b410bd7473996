"""Tests for the curated-corpus sink, the curation job and multimodal
plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.multimodal import (
    extract_image_features,
    frame_sample_plan,
)


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
    """Guard: every ``.collect()`` in the package must be bounded — a
    ``.limit(`` in the expression it collects, or one of the documented
    small-by-construction results below, each exempted for one function
    only. A new unbounded collect is a scale regression this test turns
    into a review conversation; an exemption that matches no collect goes."""
    import ast
    import pathlib

    import pdf_extractor_spark

    pkg = pathlib.Path(pdf_extractor_spark.__file__).parent
    allowed = {
        ("plans/partitioning.py", "heavy_hosts"): "hosts above a row fraction (< 1/fraction rows)",
        ("operators/sampling.py", "curriculum_interleave"): (
            "curriculum prefix-offset table (|langs| x |score-buckets| rows)"
        ),
        ("operators/similarity.py", "kmeans_iterations"): "per-round centroids (k x dim floats)",
        ("operators/similarity.py", "ivf_topk"): "IVF centroid table (|labels| x dim floats)",
        ("operators/similarity.py", "pq_train"): "per-subspace codebooks (m x k x dim/m floats)",
        ("operators/retrieval.py", "bm25_topk"): "BM25 global stats (single-row agg)",
    }
    unbounded = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for fn in ast.parse(path.read_text()).body:
            for call in ast.walk(fn):
                if not (isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                        and call.func.attr == "collect"):
                    continue
                limited = any(
                    isinstance(n, ast.Attribute) and n.attr == "limit"
                    for n in ast.walk(call.func.value)
                )
                if not limited:
                    unbounded.add((rel, getattr(fn, "name", None)))
    assert unbounded - set(allowed) == set(), sorted(unbounded - set(allowed))
    assert set(allowed) - unbounded == set(), f"stale: {sorted(set(allowed) - unbounded)}"


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


def test_curation_job_stage_accounting_and_keep_set(spark, tmp_path):
    """The --curate job surface: written rows must equal the independent
    composition of the oracle-checked contract operators (gopher keep ∩
    first-copy-per-exact-hash among survivors ∩ sampling keep), and the
    single-aggregation stage metrics must count exactly those sets."""
    import hashlib

    from pdf_extractor_spark.curate import run_curation_job
    from pdf_extractor_spark.queries import all_queries

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
    # the sampling keep: both contract sampling queries, which use the
    # job's salts and rates {"en": 0.1, "de": 0.4}, 0.8 for every other
    # language
    sampled = {
        r["doc_id"] for r in qs["t_quality_weighted_sample"](spark, sf).collect()
    } & {r["doc_id"] for r in qs["t_stratified_sample"](spark, sf).collect()}
    expected = gopher & first_ids & sampled
    assert expected  # non-trivial

    out = str(tmp_path / "curated_job")
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    rates = {**{lang: 0.8 for lang in langs}, "en": 0.1, "de": 0.4}
    metrics = run_curation_job(spark, docs, out, rates=rates)
    written = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert written == expected
    assert metrics["rows_in"] == docs.count()
    assert metrics["after_filter"] == len(gopher)
    assert metrics["after_dedup"] == len(gopher & first_ids)
    assert metrics["written"] == len(expected)
