"""Tests for reference-parity operators: chunks (M3), repair loop (V7),
catalog listing/delete (S4/S5), binaryFile ingest (S1/S2), fuzzy
correction join (J4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.chunks import (
    reassemble_chunks,
    strip_continuation_marker,
)
from pdf_extractor_spark.sources import catalog
from pdf_extractor_spark.sources.ingest import read_binary_documents


def test_reassemble_chunks_order_independent(spark):
    rows = [("u1", 2, "world"), ("u1", 1, "hello "), ("u2", 1, "solo")]
    df = spark.createDataFrame(rows, "url string, chunk_id int, chunk_text string")
    got = {r["url"]: (r["text"], r["n_chunks"]) for r in reassemble_chunks(df.repartition(3)).collect()}
    assert got == {"u1": ("hello world", 2), "u2": ("solo", 1)}


def test_strip_continuation_marker(spark):
    df = spark.createDataFrame([("part one [CONTINUE]",), ("clean",)], ["t"])
    got = [r["s"] for r in df.select(strip_continuation_marker(F.col("t")).alias("s")).collect()]
    assert got == ["part one", "clean"]


def test_catalog_listing_delete_compact(spark, tmp_path):
    table = str(tmp_path / "t")
    df1 = spark.createDataFrame([("u1", 1), ("u2", 2)], ["url", "v"])
    df2 = spark.createDataFrame([("u3", 3)], ["url", "v"])
    catalog.commit_snapshot(df1, table)
    catalog.commit_snapshot(df2, table)

    listing = catalog.list_snapshots(spark, table).collect()
    assert [r["snapshot_id"] for r in listing] == [1, 2]
    assert all(r["n_files"] > 0 and r["total_bytes"] > 0 for r in listing)

    # S5 delete: drop u2, table rewrites to a single consolidated snapshot
    catalog.delete_where(spark, table, spark.createDataFrame([("u2",)], ["url"]))
    remaining_urls = sorted(
        r["url"] for r in catalog.read_committed(spark, table).collect()
    )
    assert remaining_urls == ["u1", "u3"]
    assert [r["snapshot_id"] for r in catalog.list_snapshots(spark, table).collect()] == [3]

    # compact is a no-op-equivalent on a single snapshot
    catalog.compact(spark, table)
    assert catalog.read_committed(spark, table).count() == 2


def test_binary_file_ingest(spark, tmp_path):
    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(b"%PDF-1.4 fake")
    (d / "b.pdf").write_bytes(b"%PDF-1.4 other")
    (d / "skip.txt").write_bytes(b"not a pdf")
    df = read_binary_documents(spark, str(d), glob="*.pdf")
    rows = df.collect()
    assert len(rows) == 2
    assert all(r["url"].startswith("file://") and r["url"].endswith(".pdf") for r in rows)
    assert all(bytes(r["html"]).startswith(b"%PDF-") for r in rows)
    assert all(r["warc_ts"] is not None for r in rows)


def test_rerun_failed_repairs(spark, tmp_path, monkeypatch):
    """V7: commit a snapshot with a failure, then the repair loop re-extracts
    only that url and read_latest shows the fixed row winning."""
    from pdf_extractor_spark import pipeline

    table = str(tmp_path / "out")
    good_html = b"<p>" + b"enough real words to extract from this paragraph " * 2 + b"</p>"
    input_df = spark.createDataFrame(
        [("u1", None, good_html, "", "en"), ("u2", None, good_html, "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    # first run: u2's payload is empty -> error row
    broken = spark.createDataFrame(
        [("u1", None, good_html, "", "en"), ("u2", None, b"", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    pipeline.run_extraction_job(spark, broken, table, resume=False)
    done = catalog.read_committed(spark, table)
    assert done.filter(~F.col("ok")).count() == 1

    # "fix the parser" (here: fix the input) and repair
    metrics = pipeline.rerun_failed(spark, input_df, table, max_rounds=3)
    assert metrics and metrics[0]["retried"] == 1 and metrics[0]["fixed"] == 1

    latest = pipeline.read_latest(spark, table)
    assert latest.count() == 2
    assert latest.filter(~F.col("ok")).count() == 0

    # the repair snapshot carries lineage like any other commit: it sums to
    # the retried row, its refetched payload and its extracted text
    from pdf_extractor_spark.extract.udfs import extract_one

    lineage = catalog.read_committed(spark, os.path.join(table, "_lineage"))
    repair = lineage.filter(F.col("checkpoint_marker") == f"snap_{metrics[0]['snapshot']}")
    sums = repair.agg(
        F.sum("doc_count").alias("docs"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
    ).first()
    assert sums["docs"] == metrics[0]["retried"] == 1
    assert sums["bytes_in"] == len(good_html)
    assert sums["bytes_out"] == len(extract_one(good_html)[0]) > 0


def test_fuzzy_label_correction_join(spark):
    from pdf_extractor_spark.operators.merges import fuzzy_label_correction_join

    items = spark.createDataFrame(
        [("Goodwill", 10.0), ("Net Income", 20.0), ("Other", 30.0)],
        ["label", "value"],
    )
    corrections = spark.createDataFrame(
        [("  goodwill ", 11.0), ("NET INCOME", 22.0)], ["label", "new_value"]
    )
    got = {r["label"]: r["value"] for r in fuzzy_label_correction_join(items, corrections).collect()}
    assert got == {"Goodwill": 11.0, "Net Income": 22.0, "Other": 30.0}


def test_multiprobe_improves_recall_same_plan_shape(spark):
    """Multiprobe ANN (SRP bit-flips / IVF n_probe=2) must strictly improve
    recall@10 vs single-probe on the sf0.01 embeddings, while keeping the
    filter+rescore plan shape (no join of the full table against itself)."""
    from pdf_extractor_spark.operators import similarity as S
    from pdf_extractor_spark.queries.q06_embeddings import _query_vec

    sf = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    qv = _query_vec(spark, sf)

    exact = {
        r["vec_id"] for r in S.cosine_topk(e, qv, k=10, exclude_id=0).collect()
    }
    single = {
        r["vec_id"]
        for r in S.ann_topk(e, qv, k=10, n_planes=6, n_flip=0, exclude_id=0).collect()
    }
    multi = {
        r["vec_id"]
        for r in S.ann_topk(e, qv, k=10, n_planes=6, n_flip=2, exclude_id=0).collect()
    }
    assert len(multi & exact) > len(single & exact)

    ivf1 = {r["vec_id"] for r in S.ivf_topk(e, qv, k=10, n_probe=1).collect()}
    ivf2 = {r["vec_id"] for r in S.ivf_topk(e, qv, k=10, n_probe=2).collect()}
    assert len(ivf2 & exact) > len(ivf1 & exact)


def test_chunk_for_training_overlap_and_coverage(spark):
    from pdf_extractor_spark.operators.chunks import chunk_for_training

    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame([(1, words), (2, "short doc"), (3, "")],
                               ["doc_id", "text"])
    rows = sorted(
        (r["id"], r["chunk_id"], r["chunk_text"].split(" "), r["chunk_n_tokens"])
        for r in chunk_for_training(df, chunk_tokens=64, overlap=16).collect()
    )
    by_doc = {}
    for i, cid, toks, n in rows:
        by_doc.setdefault(i, []).append((cid, toks, n))
    # doc 1: 150 tokens, step 48 -> chunks at 0,48,96,144 (tail of 6)
    assert [c[0] for c in by_doc[1]] == [0, 1, 2, 3]
    assert [c[2] for c in by_doc[1]] == [64, 64, 54, 6]
    # overlap: each full chunk's first 16 tokens = previous chunk's tokens 48..63
    c0, c1 = by_doc[1][0][1], by_doc[1][1][1]
    assert c1[:16] == c0[48:64]
    # full coverage in order: stitching step-prefixes + last chunk = original
    stitched = []
    for cid, toks, n in by_doc[1][:-1]:
        stitched.extend(toks[:48])
    stitched.extend(by_doc[1][-1][1])
    assert stitched == words.split(" ")
    # short doc -> one chunk; empty doc -> none
    assert len(by_doc[2]) == 1 and by_doc[2][0][1] == ["short", "doc"]
    assert 3 not in by_doc


def test_catalog_legacy_snapshot_without_snapshot_column(spark, tmp_path):
    """Tables written before commit_snapshot stamped _snapshot must still
    read and order correctly: read_committed backfills _snapshot from the
    snap_<n> directory name (mergeSchema read + coalesce)."""
    import os

    from pdf_extractor_spark import pipeline

    table = str(tmp_path / "t")
    # legacy snapshot: written WITHOUT the _snapshot column, marker by hand
    legacy = spark.createDataFrame([("u1", "old"), ("u2", "old")], ["url", "text"])
    os.makedirs(table, exist_ok=True)
    legacy.write.mode("overwrite").parquet(os.path.join(table, "snap_1"))
    with open(os.path.join(table, "_committed_1"), "w") as fh:
        fh.write("1")
    # modern snapshot via the current commit path (stamps _snapshot=2)
    catalog.commit_snapshot(
        spark.createDataFrame([("u1", "new")], ["url", "text"]), table
    )

    committed = catalog.read_committed(spark, table)
    snaps = {
        (r["url"], r["text"]): r["_snapshot"] for r in committed.collect()
    }
    assert snaps[("u1", "old")] == 1  # backfilled from directory name
    assert snaps[("u2", "old")] == 1
    assert snaps[("u1", "new")] == 2

    latest = {r["url"]: r["text"] for r in pipeline.read_latest(spark, table).collect()}
    assert latest == {"u1": "new", "u2": "old"}  # last-wins across the mix
