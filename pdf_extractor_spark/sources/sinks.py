"""Corpus-output sink for the ``--curate`` job (``curate.run_curation_job``)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def save_curated_corpus(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 500_000,
) -> None:
    """Corpus-output sink: parquet partitioned by ``lang`` (the
    layout a trainer consumes — per-language directories, partition-pruned
    reads for language-filtered runs) with bounded file sizes so no
    partition produces an unsplittable giant file. Pure writer config —
    the upstream plan is untouched."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("lang")
        .parquet(path)
    )
