"""End-to-end golden gate (SURVEY.md §5): the Spark pipeline must reproduce
the single-process pure-function extraction BYTE-IDENTICALLY per url, at
multiple parallelism/partitioning levels, with working resume + lineage."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

from pdf_extractor_spark.extract.udfs import extract_one
from pdf_extractor_spark.fixtures.synth import synth_corpus
from pdf_extractor_spark.pipeline import extract_documents, run_extraction_job
from pdf_extractor_spark.sources import catalog

N_DOCS = 120

INPUT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


@pytest.fixture(scope="module")
def corpus():
    return synth_corpus(N_DOCS)


@pytest.fixture(scope="module")
def goldens(corpus):
    """Golden = the pure function run single-process, outside Spark."""
    out = {}
    for row in corpus:
        text, spans, n_blocks, kind, ok, err = extract_one(row["html"])
        out[row["url"]] = (text, n_blocks, kind, ok)
    return out


def _input_df(spark, corpus, n_partitions):
    rows = [
        (r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], r["text"], r["lang"])
        for r in corpus
    ]
    return spark.createDataFrame(rows, INPUT_SCHEMA).repartition(n_partitions)


@pytest.mark.parametrize("n_partitions", [1, 4, 13])
def test_byte_identical_vs_golden_at_any_partitioning(spark, corpus, goldens, n_partitions):
    df = _input_df(spark, corpus, n_partitions)
    result = extract_documents(df).select("url", "text", "n_blocks", "kind", "ok").collect()
    assert len(result) == N_DOCS
    for row in result:
        g_text, g_blocks, g_kind, g_ok = goldens[row["url"]]
        assert row["text"] == g_text, f"text mismatch for {row['url']}"
        assert row["n_blocks"] == g_blocks
        assert row["kind"] == g_kind
        assert row["ok"] == g_ok


def test_salted_repartition_equivalent(spark, corpus, goldens):
    df = _input_df(spark, corpus, 4)
    result = extract_documents(df, n_partitions=8).select("url", "text").collect()
    assert len(result) == N_DOCS
    for row in result:
        assert row["text"] == goldens[row["url"]][0]


def test_error_rows_not_failures(spark):
    rows = [("u1", None, b"", "", "en"), ("u2", None, None, "", "en")]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = extract_documents(df).select("url", "ok", "error").collect()
    assert all(not r["ok"] for r in out)
    assert all(r["error"] for r in out)


def test_resumable_job_with_lineage(spark, corpus, goldens, tmp_path):
    table = str(tmp_path / "extracted")
    df_all = _input_df(spark, corpus, 4)

    # first run: only the first half is "available"
    first = df_all.filter(F.xxhash64("url") % 2 == 0)
    n_first = first.count()
    m1 = run_extraction_job(spark, first, table, n_partitions=4)
    assert m1["rows"] == n_first

    # second run over the FULL input resumes: processes only the remainder
    m2 = run_extraction_job(spark, df_all, table, n_partitions=4)
    assert m2["rows"] == N_DOCS - n_first
    assert m2["snapshot"] > m1["snapshot"]

    done = catalog.read_committed(spark, table)
    rows = done.select("url", "text").collect()
    assert len(rows) == N_DOCS
    for row in rows:
        assert row["text"] == goldens[row["url"]][0]

    # third run: nothing left to do, no new rows
    m3 = run_extraction_job(spark, df_all, table, n_partitions=4)
    assert m3["rows"] == 0

    # lineage: per-partition doc counts must sum to the processed totals
    lineage = catalog.read_committed(spark, str(tmp_path / "extracted/_lineage"))
    agg = lineage.groupBy("checkpoint_marker").agg(F.sum("doc_count").alias("docs")).collect()
    by_marker = {r["checkpoint_marker"]: r["docs"] for r in agg}
    assert by_marker[m1["marker"]] == n_first
    assert by_marker[m2["marker"]] == N_DOCS - n_first
    assert lineage.filter(F.col("bytes_in") <= 0).count() == 0


def test_uncommitted_snapshot_invisible(spark, corpus, tmp_path):
    """A killed job's snapshot (no marker) must be invisible to readers."""
    import os

    table = str(tmp_path / "t")
    df = _input_df(spark, corpus[:10], 2).select("url", "lang")
    n = catalog.commit_snapshot(df, table)
    # simulate a crash: snapshot dir written but marker missing
    df.write.mode("overwrite").parquet(os.path.join(table, f"snap_{n + 1}"))
    visible = catalog.read_committed(spark, table)
    assert visible.count() == 10
    rem = catalog.remaining(spark, _input_df(spark, corpus[:20], 2), table)
    assert rem.count() == 10


def test_context_threads_into_udf_closure(spark):
    """M4 — a per-run ExtractContext deterministically changes what the
    distributed UDF keeps (reference src/extractor.py:161-183 context-
    prefixed map). A 15-char paragraph is boilerplate under the default
    min_content_chars=25 but content under a permissive context; the
    distributed result must equal the pure function under the SAME context."""
    from pdf_extractor_spark.extract.udfs import ExtractContext

    page = (
        b"<html><body><nav><a href='/'>Home</a></nav>"
        b"<p>Fifteen chars!!</p>"
        b"<p>This paragraph is comfortably longer than twenty-five characters.</p>"
        b"</body></html>"
    )
    df = spark.createDataFrame([("u1", page)], "url string, html binary")

    loose = ExtractContext(min_content_chars=10)
    got_default = extract_documents(df).select("text").first()["text"]
    got_loose = (
        extract_documents(df, context=loose).select("text").first()["text"]
    )
    assert "Fifteen chars!!" not in got_default
    assert got_loose.startswith("Fifteen chars!!")
    # distributed == pure function under the same context (golden protocol)
    assert got_loose == extract_one(page, loose)[0]
    assert got_default == extract_one(page)[0]


def test_compact_preserves_last_wins_history(spark, tmp_path):
    """compact()/delete_where must not flatten the _snapshot history: a
    repaired url must still read ok=true after routine compaction
    (re-stamping every row with one new snapshot id made read_latest
    break the tie arbitrarily)."""
    from pdf_extractor_spark.pipeline import read_latest

    table = str(tmp_path / "t")
    catalog.commit_snapshot(
        spark.createDataFrame([("u1", False)], "url string, ok boolean"), table
    )
    catalog.commit_snapshot(
        spark.createDataFrame([("u1", True)], "url string, ok boolean"), table
    )
    assert read_latest(spark, table).collect()[0]["ok"] is True
    catalog.compact(spark, table)
    rows = read_latest(spark, table).collect()
    assert len(rows) == 1 and rows[0]["ok"] is True
    # one live snapshot remains
    assert len(catalog._committed_ids(table)) == 1


def test_snapshot_invisible_until_live_manifest_swap(spark, tmp_path):
    """The crash window of delete/compact: a snapshot dir + marker written
    but NOT yet in the _live manifest must stay invisible (the manifest
    rename is the single atomic visibility flip)."""
    import os

    table = str(tmp_path / "t")
    df = spark.createDataFrame([("u1", 1)], "url string, v int")
    catalog.commit_snapshot(df, table)  # creates _live = [1]
    # simulate: new consolidated snapshot written, marker written, crash
    # BEFORE the _live swap
    spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, v int").write.mode(
        "overwrite"
    ).parquet(os.path.join(table, "snap_2"))
    with open(os.path.join(table, "_committed_2"), "w") as fh:
        fh.write("2")
    visible = catalog.read_committed(spark, table)
    assert visible.count() == 1  # old state intact, new snapshot unseen
    assert catalog._committed_ids(table) == [1]


def test_later_snapshot_adding_a_column_reads_with_both(spark, tmp_path):
    """Snapshots whose recorded schemas differ fall back to the schema-
    merging read: rows of the earlier snapshot read null in the new column."""
    from pdf_extractor_spark.pipeline import read_latest

    table = str(tmp_path / "t")
    catalog.commit_snapshot(
        spark.createDataFrame([("u1", "a"), ("u2", "b")], "url string, text string"),
        table,
    )
    catalog.commit_snapshot(
        spark.createDataFrame([("u2", "c", 7)], "url string, text string, extra int"),
        table,
    )
    committed = catalog.read_committed(spark, table)
    assert set(committed.columns) == {"url", "text", "extra", "_snapshot"}
    rows = committed.select("url", "text", "extra", "_snapshot").collect()
    assert sorted(tuple(r) for r in rows) == [
        ("u1", "a", None, 1),
        ("u2", "b", None, 1),
        ("u2", "c", 7, 2),
    ]
    latest = read_latest(spark, table).collect()
    assert {r["url"]: (r["text"], r["extra"]) for r in latest} == {
        "u1": ("a", None),
        "u2": ("c", 7),
    }


def test_rerun_failed_converges_after_earlier_repair(spark, corpus, tmp_path):
    """A url repaired in an earlier snapshot must not be re-extracted in
    later rounds: the failed set comes from the LATEST state per url, not
    the union of all snapshots (which retains the stale ok=false row)."""
    from pdf_extractor_spark.pipeline import rerun_failed

    table = str(tmp_path / "t")
    catalog.commit_snapshot(
        spark.createDataFrame(
            [("https://h/x", False, "")], "url string, ok boolean, text string"
        ),
        table,
    )
    catalog.commit_snapshot(
        spark.createDataFrame(
            [("https://h/x", True, "fixed")], "url string, ok boolean, text string"
        ),
        table,
    )
    inp = _input_df(spark, corpus[:4], 2)
    metrics = rerun_failed(spark, inp, table, max_rounds=3)
    assert metrics == []  # nothing failed in the LATEST state -> no rounds


def _commit_with_failures(spark, corpus, goldens, table):
    """Commit six golden-ok docs, the first two with an empty (failing)
    body; returns the six intact rows and the two failed urls."""
    rows = [r for r in corpus if goldens[r["url"]][3]][:6]
    broken = [dict(r, html=b"") if i < 2 else r for i, r in enumerate(rows)]
    run_extraction_job(spark, _input_df(spark, broken, 2), table)
    return rows, [r["url"] for r in rows[:2]]


def test_rerun_failed_stops_after_a_round_that_fixes_everything(
    spark, corpus, goldens, tmp_path, monkeypatch
):
    """A round that fixes every url it retried ends the loop: the committed
    state is read once, with no confirmation round after it."""
    from pdf_extractor_spark import pipeline

    table = str(tmp_path / "t")
    rows, _ = _commit_with_failures(spark, corpus, goldens, table)
    reads = []
    read_latest = pipeline.read_latest
    monkeypatch.setattr(
        pipeline, "read_latest", lambda *a: reads.append(a) or read_latest(*a)
    )
    metrics = pipeline.rerun_failed(spark, _input_df(spark, rows, 2), table, max_rounds=3)
    assert [(m["retried"], m["fixed"]) for m in metrics] == [(2, 2)]
    assert len(reads) == 1


def test_rerun_failed_keeps_failures_absent_from_input(spark, corpus, goldens, tmp_path):
    """A failed url the refetched input lacks stays ok=false; the loop ends
    after the round that fixed the rest, without an empty trailing round."""
    from pdf_extractor_spark.pipeline import read_latest, rerun_failed

    table = str(tmp_path / "t")
    rows, (fixed_url, absent_url) = _commit_with_failures(spark, corpus, goldens, table)
    refetched = [r for r in rows if r["url"] != absent_url]
    metrics = rerun_failed(spark, _input_df(spark, refetched, 2), table, max_rounds=3)
    assert len(metrics) == 1
    assert metrics[0]["snapshot"] is not None
    assert (metrics[0]["retried"], metrics[0]["fixed"]) == (1, 1)
    ok = {r["url"]: r["ok"] for r in read_latest(spark, table).collect()}
    assert ok[fixed_url] is True and ok[absent_url] is False
    assert sum(ok.values()) == len(rows) - 1
