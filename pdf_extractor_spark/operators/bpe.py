"""Distributed BPE merge training (Sennrich et al., ACL 2016 — public
method, from scratch).

Byte-pair-encoding training is the canonical tokenizer-building step of an
LLM data pipeline: repeatedly count adjacent symbol pairs over the word
frequency table and merge the most frequent pair everywhere. This module
runs it Spark-first:

- the WORD-FREQUENCY TABLE is the distributed data (millions of distinct
  words at web scale; the corpus itself is only scanned once to build it);
- each merge round is one explode + groupBy(pair) sum (short keys,
  map-side partial agg) + a 1-row argmax collect (the same
  legitimate-scalar class as the k-means centroids and the PageRank
  dangling sum) + a scan-side string replace;
- ``localCheckpoint`` per round truncates lineage exactly like the CC and
  PageRank loops.

Symbol sequences are kept as ``||``-delimited strings (``||a||b||c_||``):
replacing the pair (a, b) is then the plain string replace of
``|a||b|`` with ``|ab|`` — left-to-right non-overlapping, which is exactly
greedy BPE application, AND reproducible verbatim in any SQL engine's
``replace`` (the oracle replays every round). Symbols are drawn from the
token alphabet plus the ``_`` end-of-word marker, so they can never
contain the delimiter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

END = "_"  # end-of-word marker (Sennrich's </w>; tokens here are [a-z0-9]+)


def init_symbols(word: F.Column) -> F.Column:
    """``'the'`` -> ``'||t||h||e||_||'`` — character symbols + end marker,
    pipe-delimited."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(
        F.lit("||"),
        F.array_join(F.concat(chars, F.array(F.lit(END))), "||"),
        F.lit("||"),
    )


def _split_syms(syms_str: F.Column) -> F.Column:
    return F.split(
        F.regexp_replace(syms_str, r"^\|\||\|\|$", ""), r"\|\|"
    )


def _adjacent_pairs(syms_str: F.Column) -> F.Column:
    """Array of (a, b) structs for adjacent symbol pairs."""
    syms = _split_syms(syms_str)
    n = F.size(syms)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def bpe_train(
    word_freq: DataFrame,
    n_merges: int,
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """Run ``n_merges`` BPE rounds over a (word, freq) table.

    Returns (DataFrame(word, freq, syms, n_syms), merges) where ``syms``
    is the pipe-delimited symbol string after all merges and ``merges``
    is the learned merge list in order. Argmax ties break on
    (freq DESC, a ASC, b ASC) — deterministic in any engine.
    """
    cur = word_freq.select(
        F.col("word"),
        F.col("freq").cast("long").alias("freq"),
        init_symbols(F.col("word")).alias("_syms"),
    ).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = cur.select(
            "freq", F.explode(_adjacent_pairs(F.col("_syms"))).alias("p")
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        pat, rep = f"|{a}||{b}|", f"|{a}{b}|"
        cur = cur.select(
            "word",
            "freq",
            F.replace(
                F.col("_syms"), F.lit(pat), F.lit(rep)
            ).alias("_syms"),
        ).localCheckpoint(eager=False)
    syms = _split_syms(F.col("_syms"))
    out = cur.select(
        "word",
        "freq",
        F.col("_syms").alias("syms"),
        F.size(syms).cast("int").alias("n_syms"),
    )
    return out, merges


def word_frequencies(
    df: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-wide scan BPE needs."""
    from pdf_extractor_spark.operators.dedup import word_tokens

    staged = df.select(word_tokens(F.col("text")).alias("_t"))
    if n_partitions:
        staged = staged.repartition(n_partitions)
    return (
        staged.select(F.explode("_t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
