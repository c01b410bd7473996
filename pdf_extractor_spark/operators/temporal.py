"""Temporal joins Spark lacks as built-ins: as-of join (latest right row at
or before each left row's timestamp).

The reference is batch-only with no temporal operators (SURVEY.md §2.4);
this is part of the beyond-reference training-pipeline surface — e.g.
joining each crawled page to the newest robots.txt / site-profile snapshot
at crawl time, or events to slowly-changing dimensions.

Formulation chosen for scale (the "union trick", standard in
Flink/kdb-style engines): tag right rows 0 and left rows 1, sort within
each key by (ts, tag), and carry the last seen right-row payload forward
with ``last(..., ignorenulls=True)`` over an unbounded-preceding window.
ONE shuffle (hash by key for the window sort), no range-explode, no
broadcast requirement on either side, skew behavior identical to any
window over the key. A sort-merge range join would shuffle both sides the
same amount but Spark would fall back to a nested-loop for the `<=`
predicate; the union trick keeps it a plain window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

BUCKET_SECONDS = 3600  # interval_join's time-bucket width


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """For every left row: the newest right row with same key and
    ``right.ts <= left.ts`` (ties: the right row AT the timestamp wins,
    matching DuckDB ``ASOF JOIN`` / pandas ``merge_asof`` semantics).
    Left rows with no prior right row survive with nulls.

    Returns left's columns plus ``value_cols`` from right (prefixed
    ``asof_``) and ``asof_ts`` (the matched right timestamp).
    """
    if value_cols is None:
        value_cols = [
            c for c in right.columns if c not in (key, right_ts)
        ]
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_r_ts"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
            for c in left.columns
            if c != key
        ],
    )
    l = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_r_ts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
        *[F.col(c).alias(f"_l_{c}") for c in left.columns if c != key],
    )
    # right rows sort BEFORE left rows at equal ts (_side 0 < 1), so an
    # exact-timestamp right row is visible to the left row at the same ts
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = r.unionByName(l).select(
        "*",
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    out = carried.filter(F.col("_side") == 1).select(
        F.col(key),
        F.col("_ts").alias(left_ts),
        *[F.col(f"_l_{c}").alias(c) for c in left.columns if c not in (key, left_ts)],
        F.col("asof_ts"),
        *[F.col(f"asof_{c}") for c in value_cols],
    )
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Range/interval join: point rows matched to interval rows of the same
    key with ``start <= ts < end`` — WITHOUT the nested-loop fallback Spark
    uses for inequality join predicates.

    Bucketing: each interval explodes into the fixed-width time buckets it
    overlaps (``sequence`` over epoch-bucket ids — bounded by interval
    length / bucket width), each point lands in exactly one bucket, and the
    join becomes an EQUI-join on (key, bucket) + a residual predicate
    filter. A point matches an interval only via the point's own bucket, so
    no dedup is needed. The bucket is ``BUCKET_SECONDS`` wide, about a
    typical interval's length: shorter means more interval replication,
    longer more false candidates filtered after the join.

    Returns all point columns plus the matched interval's columns
    (inner join; points in no interval drop out).
    """
    b_pt = F.floor(F.unix_timestamp(F.col(ts_col)) / BUCKET_SECONDS)
    b_lo = F.floor(F.unix_timestamp(F.col(start_col)) / BUCKET_SECONDS)
    b_hi = F.floor(F.unix_timestamp(F.col(end_col)) / BUCKET_SECONDS)
    # explicit string aliases: when points and intervals derive from the same
    # parent DataFrame, df[col] references are ambiguous under self-join
    # lineage (Spark warns 'trivially true equals predicate'); alias-qualified
    # names are unambiguous regardless of lineage
    iv = intervals.withColumn(
        "_bucket", F.explode(F.sequence(b_lo, b_hi))
    ).alias("iv")
    pt = points.withColumn("_bucket", b_pt).alias("p")
    cond = (
        (F.col(f"p.{key}") == F.col(f"iv.{key}"))
        & (F.col("p._bucket") == F.col("iv._bucket"))
        & (F.col(f"p.{ts_col}") >= F.col(f"iv.{start_col}"))
        & (F.col(f"p.{ts_col}") < F.col(f"iv.{end_col}"))
    )
    out_cols = [F.col(f"p.{c}") for c in points.columns] + [
        F.col(f"iv.{c}") for c in intervals.columns if c != key
    ]
    return pt.join(iv, cond).select(*out_cols)


def recrawl_stats(
    df: DataFrame,
    url_col: str,
    ts_col: str,
    content_col: str,
) -> DataFrame:
    """Per-URL crawl-history rollup — the incremental-crawl bookkeeping op:
    how often was each page fetched, how many distinct content versions
    exist, and how many fetches actually CHANGED the content vs the
    previous crawl (the signal a recrawl scheduler budgets by, cf. crawl
    freshness literature; the reference's analogue is its exact-key
    already-processed skip, /root/reference/src/pdf_uploader.py).

    changed-vs-previous needs crawl ORDER, so the plan is one window
    partitioned by url ordered by ts (lag of the content fingerprint) —
    bounded per key at any corpus size (a url's recrawl count is small and
    does not grow with corpus width), then the per-url aggregate rides the
    SAME hash partitioning (no second shuffle). Content compare uses md5
    (engine-portable hash family).
    """
    h = F.md5(F.col(content_col).cast("string"))
    w = Window.partitionBy(url_col).orderBy(ts_col)
    seq = df.select(
        F.col(url_col).alias("url"), F.col(ts_col).alias("ts"), h.alias("_h")
    ).withColumn("_prev", F.lag("_h").over(w))
    return seq.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_crawls"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("_h").alias("n_versions"),
        F.sum(
            F.when(
                F.col("_prev").isNotNull() & (F.col("_h") != F.col("_prev")),
                1,
            ).otherwise(0)
        ).alias("n_changes"),
    )
