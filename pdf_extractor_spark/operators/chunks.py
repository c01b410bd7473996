"""M3 — multi-response continuation reassembly (SURVEY.md §2.2).

The reference loops <=5 continuation calls and concatenates the pieces
(reference src/extractor.py:185-246, loop :226-243). The relational form:
one logical document split into (doc_key, chunk_id, chunk_text) rows is
reassembled with a single groupBy — order restored by sorting the collected
(chunk_id, text) structs, which is deterministic regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def reassemble_chunks(
    df: DataFrame,
    key_col: str = "url",
) -> DataFrame:
    """(key, chunk_id, text) rows -> (key, text, n_chunks)."""
    pair = F.struct(F.col("chunk_id").alias("i"), F.col("chunk_text").alias("t"))
    return df.groupBy(key_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(pair)), lambda p: p.getField("t")
            ),
            "",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


def chunk_for_training(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    n_partitions: int | None = None,
) -> DataFrame:
    """The inverse of reassembly: split documents into overlapping
    fixed-token-count training chunks (standard pre-training prep —
    sequence packing feeds on bounded-length pieces; the overlap preserves
    cross-boundary context).

    Chunk i covers tokens ``[i*step, i*step + chunk_tokens)`` with
    ``step = chunk_tokens - overlap``; chunks are emitted while their start
    is inside the document, so the tail chunk may be short. Pure
    sequence/slice expressions over a STAGED token array (materialized
    behind a repartition barrier — a higher-order lambda over a full
    expression tree would re-tokenize per chunk), then one posexplode.
    Returns (id, chunk_id, chunk_text, chunk_n_tokens).
    """
    from pdf_extractor_spark.operators.dedup import word_tokens

    assert 0 < overlap < chunk_tokens
    step = chunk_tokens - overlap
    staged = df.select(
        F.col("doc_id").alias("id"), word_tokens(F.col("text")).alias("_t")
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    n = F.size("_t")
    n_chunks = F.when(n > 0, F.floor((n - 1) / step) + 1).otherwise(F.lit(0))
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.slice(F.col("_t"), i * step + 1, chunk_tokens),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    return (
        staged.select("id", F.posexplode(chunks).alias("chunk_id", "_c"))
        .select(
            "id",
            "chunk_id",
            F.array_join("_c", " ").alias("chunk_text"),
            F.size("_c").alias("chunk_n_tokens"),
        )
    )
