"""Corpus-curation job: the training-data path as ONE spark-submit surface.

Composes the oracle-checked contract operators — Gopher repetition/length
filter (t_gopher_filter), exact-dup keep-first (d_exact_dup_groups'
keep rule), quality-weighted + stratified sampling (the curated-corpus
sink composition) — into a single batch job with stage accounting:

    spark-submit --py-files pdf_extractor_spark.zip pdf_extractor_spark/job.py \
        --curate --input documents_parquet --output /path/curated \
        [--rates '{"en": 0.5}']

Stage counts come from ONE aggregation over a per-document flags frame
(never a count() action per stage), and the written keep-set is exactly
the conjunction of the per-stage flags — asserted against the
independently-computed operator composition in tests/test_sinks_multimodal.py.

Scale posture: the flags frame costs the repetition_stats shuffle
(map-side partial agg on (id, token)), one md5 groupBy for the exact-dup
firsts (distinct-hash-sized), and scan-side md5-keyed sampling. The
write re-executes that plan once (metrics action + write action — two
passes, the standard trade against caching a corpus-sized frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def curation_flags(
    df: DataFrame,
    rates: dict[str, float] | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Input columns + boolean stage flags (f_gopher, f_first, f_sample).

    ``f_first`` is keep-first among GOPHER SURVIVORS (struct-min doc id
    per exact text hash — dropping a document to the filter should
    promote its duplicate, not orphan it); ``f_sample`` is the
    deterministic md5-keyed quality/strata keep decision, independent of
    partitioning. The final keep-set is the conjunction.
    """
    from pdf_extractor_spark.operators.sampling import (
        _hash_frac,
        quality_keep_expr,
        stratified_rate_expr,
    )
    from pdf_extractor_spark.operators.textstats import (
        gopher_keep_expr,
        repetition_stats,
    )

    rep = repetition_stats(df, n_partitions=n_partitions).select(
        "doc_id", gopher_keep_expr().alias("f_gopher")
    )
    # LEFT join + false-fill: a zero-token document produces no
    # (id, token) rows, so it is absent from the stats frame — an inner
    # join would silently drop it from rows_in instead of counting it as
    # filtered (observed: 40 empty-text synth docs vanished)
    flagged = df.join(rep, "doc_id", "left").withColumn(
        "f_gopher", F.coalesce(F.col("f_gopher"), F.lit(False))
    )
    firsts = (
        flagged.filter(F.col("f_gopher"))
        .groupBy(F.md5(F.col("text")).alias("_h"))
        .agg(F.min(F.col("doc_id")).alias("_first_id"))
        .select(F.col("_first_id").alias("doc_id"))
        .withColumn("_is_first", F.lit(True))
    )
    # the SAME predicate expressions the oracle-checked contract queries
    # use — shared helpers, not copies, so the --curate surface can never
    # drift from them
    q_keep = quality_keep_expr(F.col("doc_id"), F.col("text"))
    if rates is not None:
        rate = stratified_rate_expr(rates, "lang", 1.0)
        s_keep = _hash_frac(F.col("doc_id"), "strat") < rate
    else:
        s_keep = F.lit(True)
    return flagged.join(firsts, "doc_id", "left").select(
        *df.columns,
        "f_gopher",
        F.coalesce(F.col("_is_first"), F.lit(False)).alias("f_first"),
        (q_keep & s_keep).alias("f_sample"),
    )


def run_curation_job(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    rates: dict[str, float] | None = None,
    n_partitions: int | None = None,
) -> dict:
    """Filter -> dedup -> sample -> partitioned corpus write; returns the
    stage-accounting metrics dict (one aggregation, then one write)."""
    from pdf_extractor_spark.sources.sinks import save_curated_corpus

    flags = curation_flags(df, rates=rates, n_partitions=n_partitions)
    row = flags.agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("f_gopher").cast("long")).alias("after_filter"),
        F.sum((F.col("f_gopher") & F.col("f_first")).cast("long")).alias(
            "after_dedup"
        ),
        F.sum(
            (F.col("f_gopher") & F.col("f_first") & F.col("f_sample")).cast(
                "long"
            )
        ).alias("written"),
    ).first()
    kept = flags.filter(
        F.col("f_gopher") & F.col("f_first") & F.col("f_sample")
    ).drop("f_gopher", "f_first", "f_sample")
    save_curated_corpus(kept, output_path)
    return {
        "rows_in": row["rows_in"],
        "after_filter": row["after_filter"],
        "after_dedup": row["after_dedup"],
        "written": row["written"],
    }
