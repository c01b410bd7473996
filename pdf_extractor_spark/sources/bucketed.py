"""Bucketed-table writes for shuffle-free co-located joins.

At 100 TB the dominant repeated cost is re-shuffling the corpus on the
same key for every join against it (golden compare, correction merge-back,
resume anti-join, LSH band index probes — all keyed by url/doc_id). Spark's
bucketing amortizes that shuffle into the WRITE: a table written with
``bucketBy(n, key)`` records the bucket spec in the catalog, and any
equi-join between two tables bucketed on the same key with the same bucket
count is planned WITHOUT an Exchange on either side (SortMergeJoin directly
over the bucketed scans). A point lookup on the bucket key additionally
prunes to a single bucket's files (``SelectedBucketsCount: 1 out of n``).

This is the declarative twin of the explicit ``repartition(key)`` staging
used on the transient frames: persistent corpus tables get bucket specs,
in-flight frames get repartition barriers. Both are asserted in
tests/test_bucketed.py (no-Exchange join plan + bucket pruning).

Bucket count is a layout contract, not a tuning knob to revisit per query:
pick ``n_buckets`` so one bucket of the LARGEST table joined on the key
fits an executor (e.g. 2^13 buckets for a 100 TB corpus ~= 12 GB/bucket
pre-projection), and reuse the same count on every table sharing the key —
mismatched counts fall back to a shuffle on the smaller side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str | list[str],
    n_buckets: int,
) -> None:
    """Write ``df`` as an external parquet table bucketed by ``key``
    (one column or a composite — e.g. the LSH band index buckets on
    ``["band", "key"]`` so incremental probes join it shuffle-free).

    The files are also sorted by ``key`` within each bucket, so bucketed
    joins skip the per-task sort (SortMergeJoin reads pre-sorted runs).
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
    )
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket spec (``spark.table`` —
    reading the parquet path directly would drop the spec and reintroduce
    the join shuffle)."""
    return spark.table(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    schema_ddl: str,
    key: str | list[str],
    n_buckets: int,
) -> None:
    """Re-attach a bucket spec to an existing bucketed-parquet directory.

    Spark's default in-memory catalog forgets table metadata when the
    session ends, and reading the parquet path directly drops the bucket
    spec (reintroducing the join shuffle). ``CREATE TABLE ... CLUSTERED BY
    ... LOCATION`` re-registers the spec over the files already on disk —
    idempotent, metadata-only — so a NEW session (the next spark-submit
    run) probes the index shuffle-free again. At real scale a Hive
    metastore/Iceberg catalog makes this durable automatically; this is
    the explicit, catalog-free equivalent.
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = ", ".join(keys)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def append_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str | list[str],
    n_buckets: int,
) -> None:
    """Append to a bucketed table with the SAME spec (each new fileset is
    bucket-laid-out; reads stay Exchange-free — with several files per
    bucket Spark re-sorts within tasks, it never reshuffles)."""
    keys = [key] if isinstance(key, str) else list(key)
    (
        df.write.format("parquet")
        .mode("append")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )
