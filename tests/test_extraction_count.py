"""One extraction per doc on every job path: the UDF is swapped for a
counting copy, and the rows it sees must equal the docs committed plus the
docs the refresh near-dup gate dropped. An action over an unpersisted
extraction frame (a count, an emptiness probe, a filter on ``ok``) would
run the UDF again and show up here as extra rows."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import pipeline
from pdf_extractor_spark.extract.html_parser import DEFAULT_CONTEXT
from pdf_extractor_spark.extract.udfs import EXTRACT_RESULT_SCHEMA, extract_one
from pdf_extractor_spark.fixtures.synth import make_document_row
from pdf_extractor_spark.sources import catalog

SCHEMA = "url string, warc_ts timestamp, html binary, lang string"
N_DOCS = 40


def _rows(ids, url=None, empty=()):
    out = []
    for i in ids:
        r = make_document_row(i)
        html = b"" if i in empty else r["html"]
        out.append((url(i) if url else r["url"], r["warc_ts"].replace(tzinfo=None), html, r["lang"]))
    return out


@pytest.fixture
def extracted_rows(spark, monkeypatch):
    """Route extract_documents through a UDF that adds each Arrow batch's
    row count to an accumulator; returns the accumulator."""
    acc = spark.sparkContext.accumulator(0)

    def make_counting_udf(context=None):
        ctx = context or DEFAULT_CONTEXT

        @F.pandas_udf(EXTRACT_RESULT_SCHEMA)
        def _counting(payload: pd.Series) -> pd.DataFrame:
            acc.add(len(payload))
            return pd.DataFrame(
                [extract_one(p, ctx) for p in payload],
                columns=["text", "spans", "n_blocks", "kind", "ok", "error"],
            )

        return _counting

    monkeypatch.setattr(pipeline, "make_extract_udf", make_counting_udf)
    return acc


def _fresh(spark, table, tmp_path, foreach_batch):
    df = spark.createDataFrame(_rows(range(N_DOCS)), SCHEMA)
    return lambda: pipeline.run_extraction_job(spark, df, table, n_partitions=4)


def _resumed(spark, table, tmp_path, foreach_batch):
    pipeline.run_extraction_job(
        spark, spark.createDataFrame(_rows(range(N_DOCS // 2)), SCHEMA), table, n_partitions=4
    )
    df = spark.createDataFrame(_rows(range(N_DOCS)), SCHEMA)
    return lambda: pipeline.run_extraction_job(spark, df, table, n_partitions=4)


def _repair(spark, table, tmp_path, foreach_batch):
    broken = _rows(range(N_DOCS), empty=set(range(0, N_DOCS, 5)))
    pipeline.run_extraction_job(spark, spark.createDataFrame(broken, SCHEMA), table, n_partitions=4)
    df = spark.createDataFrame(_rows(range(N_DOCS)), SCHEMA)
    return lambda: pipeline.rerun_failed(spark, df, table, n_partitions=4)


def _refresh(spark, table, tmp_path, foreach_batch):
    pipeline.run_extraction_job(
        spark, spark.createDataFrame(_rows(range(N_DOCS // 2)), SCHEMA), table, n_partitions=4
    )
    # re-crawls, mirrors of docs 0-4 under new urls, and new docs
    batch = (
        _rows(range(N_DOCS // 2))
        + _rows(range(5), url=lambda i: f"https://mirror.example/copy/{i}")
        + _rows(range(N_DOCS // 2, N_DOCS // 2 + 5))
    )
    df = spark.createDataFrame(batch, SCHEMA)
    return lambda: pipeline.run_refresh_job(spark, df, table, n_partitions=4)


def _stream(spark, table, tmp_path, foreach_batch):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(_rows(range(N_DOCS)), SCHEMA).write.parquet(src)

    def run():
        for _ in range(2):  # the second pass replays every epoch
            foreach_batch(src, SCHEMA, table, ckpt, pipeline.run_extraction_job, n_partitions=4)
            shutil.rmtree(ckpt)

    return run


@pytest.mark.parametrize(
    "setup",
    [_fresh, _resumed, _repair, _refresh, _stream],
    ids=["fresh", "resumed", "rerun_failed", "refresh", "stream"],
)
def test_one_extraction_per_committed_doc(
    spark, tmp_path, extracted_rows, foreach_batch, setup
):
    table = str(tmp_path / "table")
    job = setup(spark, table, tmp_path, foreach_batch)

    def committed():
        done = catalog.read_committed(spark, table)
        return 0 if done is None else done.count()

    before_rows, before_extracted = committed(), extracted_rows.value
    result = job()
    dropped = result.get("near_dup_dropped", 0) if isinstance(result, dict) else 0
    new_rows = committed() - before_rows
    assert new_rows > 0
    if setup is _refresh:
        assert dropped == 5
    assert extracted_rows.value - before_extracted == new_rows + dropped
