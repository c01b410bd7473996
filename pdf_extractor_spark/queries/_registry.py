"""Shared registry for the query catalog: the @query decorator, the
pinned driver window, and the window-ordered accessors. Family modules
register themselves by importing this and decorating their functions;
the package __init__ imports the families in catalog order.
"""

from __future__ import annotations

from collections.abc import Callable

# Column/D/M/S/T are not used by the registry itself; the family modules
# import them from here, together with _t and _par.
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from pdf_extractor_spark.functions import normalize as N
from pdf_extractor_spark.operators import dedup as D
from pdf_extractor_spark.operators import multimodal as M
from pdf_extractor_spark.operators import similarity as S
from pdf_extractor_spark.operators import textstats as T

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(spark: SparkSession) -> int:
    """Target partition count for compute-heavy per-row stages: the driver
    tables are single parquet files (one input split), so without an explicit
    repartition an expensive projection runs on ONE core."""
    return spark.sparkContext.defaultParallelism


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver records CORRECTNESS rows for exactly the FIRST 50 entries of
# ``queries()`` (registration order). Round-5 rotation (VERDICT r4 items
# 1/2/4/6, amending the COVERAGE.md round-5 plan): the flagship anchor is
# DROPPED this round (x_extract_pipeline holds green r3 AND r4 rows; a third
# adds nothing while a never-checked query loses its only slot). The window
# leads with the protocol-drift canary (environment fingerprint — if IT goes
# red, every other mismatch in the round is suspect), then the re-check of
# m_mixture_epochs (the only red driver row in four rounds, oracle now
# BIGINT-cast on every numeric column), then the new composed multimodal
# dedup query, then 47 of the 50 never-driver-checked names from the
# committed COVERAGE.md plan — the three displaced names (x_list_markdown,
# t_ligature_fold, w_wat_codec) each have a driver-checked or in-window
# family sibling (justifications in COVERAGE.md round-5 section). With this
# window green, the r1–r5 union covers 180/211; every remaining query carries
# a written sibling-coverage justification in COVERAGE.md.
_DRIVER_WINDOW: list[str] = [
    # --- environment fingerprint first (VERDICT r4 item 4) -------------------
    "a_protocol_canary",
    # --- the r4 red row, re-checked with hardened oracle (item 1) ------------
    "m_mixture_epochs",
    # --- composed multimodal dedup path (item 6) -----------------------------
    "mm_phash_dedup_reps",
    # --- 47 never-driver-checked round-4 queries (COVERAGE.md plan order) ----
    "t_quality_train",
    "e_bitext_mine",
    "m_span_corruption",
    "e_pq_encode",
    "m_curriculum_order",
    "e_adc_topk",
    "a_hll_distinct",
    "m_fim_transform",
    "a_cms_heavy_hitters",
    "w_wet_codec",
    "x_extract_outline",
    "d_cdc_chunks",
    "e_mmr_rerank",
    "u_url_spam_filter",
    "t_sentence_split",
    "d_lsh_recall",
    "x_extract_jsonld",
    "x_extract_code_blocks",
    "a_quantile_histogram",
    "t_zipf_slope",
    "u_redirect_resolve",
    "u_mime_filter",
    "t_justext_blocks",
    "m_sft_format",
    "e_knn_graph",
    "g_triangle_count",
    "g_label_propagation",
    "m_dpo_pairs",
    "m_length_bucket_batches",
    "u_link_reciprocity",
    "g_kcore",
    "x_table_markdown",
    "t_unicode_clean",
    "t_topic_classify",
    "u_canonical_cluster",
    "d_containment_pairs",
    "t_script_detect",
    "t_badwords_gate",
    "t_pii_density_gate",
    "m_doremi_weights",
    "m_temporal_split",
    "e_dim_truncation",
    "t_unigram_kl",
    "x_dehyphenate",
    "t_phrase_search",
    "d_soft_dedup_weights",
    "a_bootstrap_ci",
]


def _window_order(keys: list[str]) -> list[str]:
    """Driver-window names first (in window order), then the rest in
    registration order."""
    in_window = [n for n in _DRIVER_WINDOW if n in keys]
    rest = [n for n in keys if n not in set(_DRIVER_WINDOW)]
    return in_window + rest


def all_queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _window_order(list(_QUERIES))}


def all_oracles() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _window_order(list(_ORACLES))}


def _dotted_rank(refs: DataFrame, ref_col: str) -> DataFrame:
    """Global dotted-sort rank (A1/A2) WITHOUT an unpartitioned window.

    ``Window.orderBy`` with no partitionBy serializes the whole input on a
    single task; instead rank within the bounded major prefix (partitioned
    window), then add the count of refs in earlier majors. The offsets side
    is |distinct majors| rows — broadcast, and the earlier-major prefix sum
    is a broadcast inequality join on that tiny table, not a window.
    """
    key = N.dotted_sort_key(F.col(ref_col))
    keyed = refs.select(ref_col, key[0].alias("_maj"), key[1].alias("_min"))
    w_in = Window.partitionBy("_maj").orderBy("_min")
    ranked = keyed.withColumn("_rn", F.row_number().over(w_in))
    counts = keyed.groupBy("_maj").agg(F.count(F.lit(1)).alias("_cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.col("y._maj") < F.col("x._maj"), "left")
        .groupBy(F.col("x._maj").alias("_maj"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    return ranked.join(F.broadcast(offsets), "_maj").select(
        ref_col, (F.col("_off") + F.col("_rn")).cast("int").alias("rank")
    )
