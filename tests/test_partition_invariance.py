"""Partition-invariance sweep: every contract query must produce the
IDENTICAL result multiset under different shuffle-partition settings.

This is the Spark-side half of the correctness contract: the DuckDB oracle
fixes engine-to-engine semantics at one layout; this sweep proves no query's
output depends on partition count/placement (float summation order, unsorted
limit ties, per-partition RNG would all show up here before the driver's
differently-configured run does).
"""

from __future__ import annotations

import math

SF = "/root/testdata/sf0.001"


def _canon(df):
    cols = sorted(df.columns)
    rows = df.collect()

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.10g}"
        return str(v)

    return sorted("|".join(cell(r[c]) for c in cols) for r in rows)


def test_all_queries_partition_invariant(spark):
    from pdf_extractor_spark.queries import all_queries

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    diffs = []
    try:
        for name, fn in all_queries().items():
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            a = _canon(fn(spark, SF))
            spark.conf.set("spark.sql.shuffle.partitions", "17")
            b = _canon(fn(spark, SF))
            if a != b:
                diffs.append(name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert diffs == [], diffs
