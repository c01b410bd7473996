"""Deduplication operators for corpus-scale training-data pipelines.

Five dedup families, each a pure DataFrame transformation:

- exact:        hash-groupBy on raw text (md5)
- fingerprint:  exact on normalized text (textstats.content_fingerprint)
- minhash+LSH:  shingle -> k engine-agnostic min-hashes -> banded bucket join
                (Broder, "On the resemblance and containment of documents",
                SEQUENCES 1997; banding per Leskovec/Rajaraman/Ullman MMDS ch.3)
- simhash:      bitwise-majority token hash (Charikar, STOC 2002; dedup usage
                per Manku/Jain/Sarma, WWW 2007)
- ngram-jaccard: verified similarity on candidate pairs (or bounded self-join)
- embedding cosine near-dup: see operators/similarity.py
All public constructions, implemented from scratch as Spark expressions.

Scale notes (100 TB posture):
- every candidate generator is a *bucketed equi-join* (shuffle on short hash
  keys), never a cross join; verification (jaccard) runs only on candidates;
- hashes are md5-hex-string based so results are engine-agnostic and the
  DuckDB oracle can reproduce them exactly (no Spark-private hash functions
  in any result the oracle checks).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_MINHASH_K = 12
DEFAULT_BANDS = 4  # rows-per-band = K / BANDS
SIMHASH_BITS = 16


def word_tokens(col: Column) -> Column:
    """Lowercased alphanumeric word tokens (engine-agnostic normalization)."""
    normalized = F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))
    return F.when(F.length(normalized) == 0, F.array().cast("array<string>")).otherwise(
        F.split(normalized, " ")
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-gram shingles from a token array column.

    Inlining-proof form: ``zip_with`` over ``n`` shifted ``slice``s — each
    slice evaluates ``toks`` once per ROW, then element iteration runs on
    the materialized arrays. The previous index-lambda form
    (``transform(sequence, i -> concat_ws(' ', slice(toks, i, n)))``)
    re-evaluated ``toks`` per ELEMENT whenever Catalyst inlined it — and
    Catalyst always does for the ``size(...) > 0`` filter that
    InferFiltersFromGenerate plants under every explode and predicate
    pushdown drags through the staging exchange into the scan stage —
    making that filter O(len²) per document on the scan's single-split
    parallelism (see textstats.char_trigrams_from_chars for the measured
    trigram case).
    """
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        acc
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-gram word shingles as strings (single-expression form; prefer the
    staged token column + shingles_from_tokens on large inputs)."""
    return shingles_from_tokens(word_tokens(col), n)


def with_minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    n_partitions: int | None = None,
) -> DataFrame:
    """(id, band, key) bucket rows, computed in STAGES so the expensive
    shingle/signature subtrees are materialized attributes, not expression
    trees Catalyst re-inlines per band (CollapseProject would otherwise
    multiply the md5 work k*bands times).

    The repartition between stages is deliberate: it is an optimization
    BARRIER (projections cannot collapse across an Exchange) and it spreads
    the md5-heavy projection across the cluster regardless of input file
    splits — a 5000-row single-file parquet otherwise runs one task.
    """
    staged = df.select(
        F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("_t")
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    staged = staged.select(
        "id", shingles_from_tokens(F.col("_t"), shingle_n).alias("_sh")
    )

    def _one(seed: int):
        prefix = f"{seed}:"
        return F.array_min(
            F.transform(F.col("_sh"), lambda s: F.md5(F.concat(F.lit(prefix), s)))
        )

    staged = staged.select(
        "id", F.array(*[_one(i) for i in range(k)]).alias("_sig")
    )
    rows_per_band = k // bands
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at(F.col("_sig"), b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    return staged.select("id", F.posexplode(band_keys).alias("band", "key"))


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    n_partitions: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band bucket.

    Plan shape: staged signature projection -> posexplode -> shuffle on
    (band, key) -> self-equi-join inside buckets (identical subplans, so the
    shuffle is a ReusedExchange — the signatures are computed ONCE) ->
    distinct pairs. No cross join; at 100 TB the shuffle key is a 32-char
    hash with near-uniform distribution.

    ``max_bucket`` is the SKEW guard: a bucket holding B docs contributes
    B(B-1)/2 candidate pairs, and web corpora have degenerate buckets
    (boilerplate-only pages, empty docs) whose B reaches millions — one such
    bucket turns the join quadratic. Buckets larger than ``max_bucket`` are
    dropped entirely (their members still pair through their OTHER, more
    selective bands; a bucket that big is a near-identical cluster better
    handled by exact/fingerprint dedup anyway — standard practice, cf.
    datasketch MinHashLSH's and BigQuery's bucket caps).
    """
    banded = with_minhash_bands(
        df, k=k, bands=bands, shingle_n=shingle_n, n_partitions=n_partitions
    )
    if max_bucket is not None:
        # hot buckets are FEW by construction -> broadcast anti-join
        hot = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band", "key")
        )
        banded = banded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_similarity(a: Column, b: Column) -> Column:
    """Jaccard over two string-array columns (distinct-element semantics)."""
    ad = F.array_distinct(a)
    bd = F.array_distinct(b)
    inter = F.size(F.array_intersect(ad, bd))
    union = F.size(ad) + F.size(bd) - inter
    return F.when(union <= 0, F.lit(0.0)).otherwise(
        F.round(inter.cast("double") / union, 6)
    )


def _shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    n_partitions: int | None,
    *extra: Column,
) -> DataFrame:
    """(id, *extra, sh, n): each doc's distinct shingles and their count —
    the per-doc side of Jaccard verification, computed ONCE before any pair
    join, behind a repartition barrier on id when ``n_partitions`` is set."""
    sh = df.select(
        F.col(id_col).alias("id"), *extra, word_tokens(F.col(text_col)).alias("_t")
    )
    if n_partitions:
        sh = sh.repartition(n_partitions, "id")
    keep = sh.columns[1:-1]
    return sh.select(
        "id",
        *keep,
        F.array_distinct(shingles_from_tokens(F.col("_t"), shingle_n)).alias("sh"),
    ).select("id", *keep, "sh", F.size("sh").alias("n"))


def _jaccard_at_least(
    joined: DataFrame, left: Column, right: Column, a: str, b: str, threshold: float
) -> DataFrame:
    """(left, right, jaccard) over ``joined``, which holds two
    ``_shingle_sets`` sides aliased ``a`` and ``b``: the distinct-shingle
    Jaccard, rounded to 6 places, kept where it is >= ``threshold``."""
    paired = joined.select(
        left,
        right,
        F.size(F.array_intersect(F.col(f"{a}.sh"), F.col(f"{b}.sh"))).alias("inter"),
        F.col(f"{a}.n").alias("na"),
        F.col(f"{b}.n").alias("nb"),
    )
    union = paired["na"] + paired["nb"] - paired["inter"]
    jac = F.when(union <= 0, F.lit(0.0)).otherwise(
        F.round(paired["inter"].cast("double") / union, 6)
    )
    return paired.select(*paired.columns[:2], jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    group_col: str | None = None,
    shingle_n: int = 2,
    threshold: float = 0.5,
    n_partitions: int | None = None,
    shards: int | None = None,
) -> DataFrame:
    """Verified near-dup pairs by n-gram Jaccard within a blocking group.

    ``group_col`` bounds the self-join (at corpus scale: pre-bucket by LSH
    band or by a cheap key like host/source — never unblocked). The group
    key is typically LOW-cardinality (k values), which would cap the
    quadratic scoring stage at k post-shuffle tasks — so the join is
    salted: probe side takes ``pmod(hash(id), S)``, build side replicates
    S ways, identical pair set at k·S-way parallelism (the SemDeDup
    pattern; SCALE.md §9.2).
    """
    # barrier + spread: token/shingle projections run pre-join, spread by id
    # (grp has few values); the join adds its own grp exchange, which both
    # sides share (ReusedExchange)
    sh = _shingle_sets(
        df, "doc_id", "text", shingle_n, n_partitions,
        (F.col(group_col) if group_col else F.lit(1)).alias("grp"),
    )
    if shards is None:  # the salt spreads work only; output shard-invariant
        shards = max(2, df.sparkSession.sparkContext.defaultParallelism)
    a = sh.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col("id")), F.lit(shards))
    ).alias("a")
    b = sh.withColumn(
        "_shardb", F.explode(F.sequence(F.lit(0), F.lit(shards - 1)))
    ).alias("b")
    joined = a.join(
        b,
        (F.col("a.grp") == F.col("b.grp"))
        & (F.col("a._shard") == F.col("b._shardb"))
        & (F.col("a.id") < F.col("b.id")),
    )
    return _jaccard_at_least(
        joined,
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        "a",
        "b",
        threshold,
    )


def lsh_verified_pairs(
    df: DataFrame,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    n_partitions: int | None = None,
) -> DataFrame:
    """DEFAULT near-dup path: LSH candidate pairs verified by exact n-gram
    Jaccard — generate-then-verify, mirroring the reference's
    validate-then-correct loop (reference src/validator.py:86-95) at corpus
    scale.

    Plan shape: the LSH bucket equi-join emits candidate (id_a, id_b) pairs
    (never a low-cardinality group self-join — candidate count scales with
    true near-dup density, not group size squared); per-doc distinct
    shingles are materialized ONCE behind a repartition barrier and joined
    to the pair list twice (two equi-joins on id). Exact Jaccard runs ONLY
    on candidates. Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    pairs = minhash_lsh_pairs(
        df, k=k, bands=bands, shingle_n=shingle_n, n_partitions=n_partitions
    )
    sh = _shingle_sets(df, "doc_id", "text", shingle_n, n_partitions)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    joined = pairs.join(sa, pairs["id_a"] == F.col("sa.id")).join(
        sb, pairs["id_b"] == F.col("sb.id")
    )
    return _jaccard_at_least(
        joined, F.col("id_a"), F.col("id_b"), "sa", "sb", threshold
    )


def incremental_near_dups(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    n_partitions: int | None = None,
    corpus_band_index: DataFrame | None = None,
) -> DataFrame:
    """Dedupe a NEW crawl batch against an EXISTING corpus — the
    production-incremental shape: at 100 TB you never re-pair the whole
    corpus per ingest; the new batch's LSH band keys PROBE the corpus band
    index (reference analogue: the uploader's already-processed skip,
    /root/reference/src/pdf_uploader.py — extended from exact-key resume
    to near-duplicate resume).

    Plan shape: band rows for both sides (staged signature projections),
    inner equi-join on (band, key) — new side is the small probe, so at
    real scale the corpus side is the pre-bucketed/bucket-sorted table and
    the join shuffles ONLY the batch; exact Jaccard verification runs on
    candidates alone, shingles per side materialized once.

    Returns (new_id, corpus_id, jaccard >= threshold): every new doc that
    near-duplicates an existing corpus doc, with the match.

    ``corpus_band_index`` is the production path: a PRE-MATERIALIZED
    (id, band, key) table for the committed corpus — built once per
    snapshot with ``with_minhash_bands`` (SAME k/bands/shingle_n — the
    index is only valid for the parameters it was built with) and written
    bucketed on (band, key) via ``sources.bucketed.write_bucketed``. With
    it, a refresh never recomputes corpus signatures, and the probe join
    plans with NO Exchange on the corpus side (only the batch shuffles to
    the bucket layout) — plan-asserted in tests/test_refresh_job.py.
    Without it (None), the index is derived from ``corpus_df`` inline —
    the self-contained small-scale path.
    """
    banded_new = with_minhash_bands(
        new_df, id_col, text_col, k, bands, shingle_n, n_partitions
    )
    banded_corpus = (
        corpus_band_index
        if corpus_band_index is not None
        else with_minhash_bands(
            corpus_df, id_col, text_col, k, bands, shingle_n, n_partitions
        )
    )
    pairs = (
        banded_new.alias("n")
        .join(
            banded_corpus.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.key") == F.col("c.key")),
        )
        .select(
            F.col("n.id").alias("new_id"), F.col("c.id").alias("corpus_id")
        )
        .distinct()
    )
    sa = _shingle_sets(new_df, id_col, text_col, shingle_n, n_partitions).alias("sa")
    sb = _shingle_sets(corpus_df, id_col, text_col, shingle_n, n_partitions).alias("sb")
    joined = pairs.join(sa, pairs["new_id"] == F.col("sa.id")).join(
        sb, pairs["corpus_id"] == F.col("sb.id")
    )
    return _jaccard_at_least(
        joined, F.col("new_id"), F.col("corpus_id"), "sa", "sb", threshold
    )


def _hex_nibble(c: Column) -> Column:
    """hex char -> 0..15 via strpos (portable to any engine)."""
    return F.position(c, F.lit("0123456789abcdef")) - 1


def with_simhash(
    df: DataFrame,
    bits: int = SIMHASH_BITS,
    n_partitions: int | None = None,
    hex_chars: int = 4,
) -> DataFrame:
    """(id, simhash) with the token-hash array materialized once (staged
    projections + exchange barrier), instead of ``bits`` re-expansions.

    ``hex_chars`` md5 nibbles feed the per-token hash (4 -> 16-bit simhash;
    12 -> 48-bit — wide enough that chunk-blocked pair generation stays
    sparse at corpus scale; must keep 4*hex_chars <= 60 so every
    intermediate fits a long). ``bits`` must be <= 4*hex_chars.
    """
    staged = df.select(
        F.col("doc_id").alias("id"), word_tokens(F.col("text")).alias("_t")
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")

    def _tok_hash(t: Column) -> Column:
        out: Column | None = None
        for i in range(hex_chars):
            # the long cast matters: a mid-range power like 16^7 is an
            # IntegerType literal and nibble*16^7 overflows int32 (ANSI throw)
            term = _hex_nibble(F.substring(F.md5(t), i + 1, 1)) * F.lit(
                16 ** (hex_chars - 1 - i)
            ).cast("long")
            out = term if out is None else out + term
        return out

    staged = staged.select(
        "id", F.size("_t").alias("_n"), F.transform(F.col("_t"), _tok_hash).alias("_h")
    )

    def _votes(j: int) -> Column:
        def merge(acc: Column, h: Column) -> Column:
            return acc + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return F.aggregate(F.col("_h"), F.lit(0), merge)

    out = F.lit(0)
    for j in range(bits):
        out = out + F.when(_votes(j) > 0, F.lit(2**j)).otherwise(F.lit(0))
    return staged.select(
        "id",
        F.when(F.col("_n") == 0, F.lit(0)).otherwise(out).alias("simhash"),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    bits: int = 48,
    n_chunks: int = 4,
    hamming_max: int = 3,
    n_partitions: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via chunk blocking + exact Hamming verify
    (Manku/Jain/Sarma, "Detecting near-duplicates for web crawling",
    WWW'07). Splitting ``bits`` into ``n_chunks`` equal chunks guarantees
    (pigeonhole) that any pair within ``hamming_max <= n_chunks - 1`` bit
    flips shares at least one chunk value at the same chunk index — so
    candidates come from a bucketed equi-join on (chunk_idx, chunk_value),
    never a cross join, and the exact popcount runs on candidates only.
    Returns (id_a, id_b, hamming) with hamming <= hamming_max.
    """
    sh = with_simhash(
        df, bits=bits, n_partitions=n_partitions, hex_chars=(bits + 3) // 4
    )
    return signature_near_dup_pairs(
        sh, sig_col="simhash", bits=bits, n_chunks=n_chunks,
        hamming_max=hamming_max,
    )


def signature_near_dup_pairs(
    sig_df: DataFrame,
    sig_col: str = "sig",
    id_col: str = "id",
    bits: int = 48,
    n_chunks: int = 4,
    hamming_max: int = 3,
) -> DataFrame:
    """Chunk-blocked Hamming near-dup pairs over ANY bit-signature column
    (simhash, image pHash, audio fingerprint): the Manku/Jain/Sarma WWW'07
    pigeonhole scheme — split ``bits`` into ``n_chunks`` equal chunks; any
    pair within ``hamming_max <= n_chunks - 1`` bit flips must agree on at
    least one (chunk_idx, chunk_value), so candidates come from a bucketed
    equi-join and the exact popcount runs on candidates only.

    ``sig_df`` must be (id_col, sig_col) with the signature already
    computed; it is localCheckpoint-ed here so the (possibly heavy)
    signature plan executes once and both join sides reuse it. Returns
    (id_a, id_b, hamming), id_a < id_b, hamming <= hamming_max.
    """
    assert bits % n_chunks == 0 and hamming_max <= n_chunks - 1
    chunk_bits = bits // n_chunks
    sh = sig_df.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("_sig")
    ).localCheckpoint()
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.shiftright(F.col("_sig"), i * chunk_bits).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ]
    )
    keyed = sh.select("id", "_sig", F.posexplode(chunks).alias("ci", "ck"))
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


def token_segments(
    df: DataFrame,
    seg_tokens: int = 12,
    n_partitions: int | None = None,
) -> DataFrame:
    """Fixed-token-window segmentation -> (id, idx, seg_text).

    The segment source for line/paragraph-level dedup when the corpus has
    no natural line structure (or for language-agnostic windows). Staged
    token array behind a repartition barrier (higher-order lambdas
    re-evaluate full expression trees per element), then one posexplode —
    embarrassingly parallel."""
    staged = df.select(
        F.col("doc_id").alias("id"), word_tokens(F.col("text")).alias("_t")
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    n = F.size("_t")
    n_seg = F.when(n > 0, F.floor((n - 1) / seg_tokens) + 1).otherwise(F.lit(0))
    segs = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), (n_seg - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("_t"), i * seg_tokens + 1, seg_tokens)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select("id", F.posexplode(segs).alias("idx", "seg_text"))


def line_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Newline segmentation -> (id, <extra_cols>, idx, seg_text) — the
    natural segment source for extracted web text."""
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "seg_text"),
    )


def line_boilerplate_clean(
    segs: DataFrame,
    scope_cols: tuple[str, ...] = (),
    df_max: int = 2,
    joiner: str = "\n",
) -> DataFrame:
    """FineWeb/CCNet-style duplicated-line boilerplate removal: a segment is
    boilerplate when its distinct-document frequency within its scope
    (e.g. per host — pass ``scope_cols``; empty = corpus-wide) exceeds
    ``df_max``. Returns (id, n_lines, n_boilerplate_lines, clean_text) with
    the kept segments rejoined in original order.

    Plan: one groupBy on (scope, md5(segment)) for the frequency table, an
    equi-join back on the same key (Catalyst broadcasts the frequency side
    when it is small — one row per distinct segment — and falls back to a
    shuffle join on (scope, hash) otherwise), one groupBy on id to rebuild.
    A hot boilerplate segment costs fan-out only on the probe side — no
    multiplicative join blow-up; map-side partial aggregation absorbs the
    groupBy skew."""
    keyed = segs.withColumn("_h", F.md5(F.encode(F.col("seg_text"), "UTF-8")))
    scope = list(scope_cols)
    dfreq = keyed.groupBy(*scope, "_h").agg(
        F.countDistinct("id").alias("_df")
    )
    flag = keyed.join(dfreq, scope + ["_h"]).withColumn(
        "is_boiler", F.col("_df") > df_max
    )
    kept = F.when(
        ~F.col("is_boiler"), F.struct(F.col("idx"), F.col("seg_text"))
    )
    return flag.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_boilerplate_lines"),
        F.concat_ws(
            joiner,
            F.transform(
                F.array_sort(F.collect_list(kept)),
                lambda s: s.getField("seg_text"),
            ),
        ).alias("clean_text"),
    )


def paragraph_dedup_stats(segs: DataFrame) -> DataFrame:
    """Paragraph-level exact dedup accounting (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the exact-
    substring family at paragraph granularity): a segment occurrence is a
    duplicate unless it is the corpus-wide FIRST occurrence (minimum
    (id, idx)) of its content. Returns (id, n_paragraphs,
    n_dup_paragraphs, dup_frac).

    Plan: one ranking window partitioned by the segment md5 (uniform key —
    a degenerate segment shared by B docs costs a B-row partition sort,
    linear not quadratic), one groupBy on id."""
    from pyspark.sql import Window

    keyed = segs.withColumn("_h", F.md5(F.encode(F.col("seg_text"), "UTF-8")))
    w = Window.partitionBy("_h").orderBy("id", "idx")
    flag = keyed.withColumn("_rn", F.row_number().over(w))
    return (
        flag.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum(F.when(F.col("_rn") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_paragraphs"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_paragraphs") / F.col("n_paragraphs"), 4),
        )
    )


def paragraph_dedup_rewrite(segs: DataFrame) -> DataFrame:
    """Paragraph-level exact dedup REMOVAL (Lee et al. ACL 2022 applied,
    not just counted): every segment occurrence that is not the
    corpus-wide first occurrence of its content is CUT, and each document
    is rebuilt from its surviving segments in original order — the
    rewrite that shrinks a crawl corpus without dropping whole documents.

    Returns (id, n_paragraphs, n_kept, clean_text). Plan: the same
    md5-partitioned ranking window as ``paragraph_dedup_stats`` (uniform
    key, linear in the hot-segment count), then one groupBy(id) whose
    ordered rebuild collects only kept (idx, seg) structs — bounded by
    document size, not corpus size."""
    from pyspark.sql import Window

    keyed = segs.withColumn("_h", F.md5(F.encode(F.col("seg_text"), "UTF-8")))
    w = Window.partitionBy("_h").orderBy("id", "idx")
    flag = keyed.withColumn("_rn", F.row_number().over(w))
    agg = flag.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
        F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_rn") == 1,
                    F.struct(F.col("idx"), F.col("seg_text")),
                )
            )
        ).alias("_kept"),
    )
    return agg.select(
        "id",
        "n_paragraphs",
        "n_kept",
        F.concat_ws(
            " ", F.transform(F.col("_kept"), lambda s: s.getField("seg_text"))
        ).alias("clean_text"),
    )


def decontaminate(
    df: DataFrame,
    shingle_n: int = 5,
    df_max: int | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Train/eval n-gram decontamination (the GPT-3-style overlap check):
    flag every non-eval doc sharing >=1 ``shingle_n``-token shingle with any
    eval doc -> (id, n_overlap_shingles, n_eval_docs).

    Skew guards — the two 100-TB failure modes of the shingle join:
    - ``df_max``: shingles whose document frequency (both splits) exceeds it
      are dropped from BOTH sides before the join, via the same broadcast
      anti-join pattern as the LSH ``max_bucket`` cap above. A boilerplate
      shingle present in E eval and T train docs materializes E*T join rows
      — one hot key kills the task at 10^9 docs. Ultra-common n-grams carry
      no contamination signal, so capping is standard practice.
    - the eval side is broadcast EXPLICITLY: an eval set is a fixed
      benchmark suite, small by construction, and Catalyst's post-explode
      cardinality estimates are too unreliable to leave the choice to stats.
    """
    staged = df.select(
        F.col("doc_id").alias("id"),
        F.col("is_eval"),
        word_tokens(F.col("text")).alias("_t"),
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    sh = staged.select(
        "id",
        "is_eval",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("_t"), shingle_n))
        ).alias("s"),
    )
    if df_max is not None:
        # hot shingles are FEW by construction -> broadcast anti-join
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > df_max)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    train = sh.filter(~F.col("is_eval")).select("id", "s")
    ev = sh.filter(F.col("is_eval")).select(F.col("id").alias("eval_id"), "s")
    return (
        train.join(F.broadcast(ev), "s")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact-dup groups: hash key, keep-first representative, member count.

    Map-side partial aggregation makes this one shuffle of (hash, id).
    """
    key = F.md5(F.encode(F.col("text"), "UTF-8"))
    return (
        df.select(key.alias("text_hash"), F.col("doc_id").alias("id"))
        .groupBy("text_hash")
        .agg(
            F.min("id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_CC_LOOP_CONF = {
    # Coalesce reduce stages toward the advisory partition SIZE instead of
    # the cluster's default parallelism. With ``parallelismFirst`` (the AQE
    # default) every tiny stage of the shrinking edge set is coalesced to
    # ~defaultParallelism near-empty tasks, so doubling the core count
    # doubles the number of scheduled no-op tasks per round — measured as
    # wall_c32 > wall_c8 at sf0.1. Honoring the 64 MB advisory collapses
    # toy-scale rounds to one task at ANY core count; at 100 TB the edge
    # set is large enough that the advisory still yields thousands of
    # tasks (and size-based coalescing is Spark's own recommendation for
    # avoiding small tasks).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Keep the per-round min-join as a co-partitioned shuffle join: AQE
    # otherwise demotes it to a broadcast join once the per-node mins
    # table looks small, and each round then pays a driver collect +
    # broadcast build (~0.1-0.3s) that dwarfs the actual join at toy
    # scale (measured: -15% CC loop wall). At 100 TB the mins table is
    # O(|V|) and would never be broadcast anyway, so this costs nothing
    # at scale.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def _size_based_coalesce(spark):
    """Scope the iterative-CC loop confs (see ``_CC_LOOP_CONF``) onto the
    session, restoring prior settings on exit. Only the per-round
    convergence actions execute inside this scope; the upstream
    candidate-generation pipeline and the final labels plan keep the
    session's normal AQE behavior."""
    conf = spark.conf
    prior: dict[str, str | None] = {}
    for key, val in _CC_LOOP_CONF.items():
        try:
            prior[key] = conf.get(key)
        except Exception:
            prior[key] = None
        conf.set(key, val)
    try:
        yield
    finally:
        for key, prev in prior.items():
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster labeling: connected components of the near-dup pair
    graph -> (node, comp) with comp = min node id in the component.

    Min-label propagation as iterative DataFrame joins: each round every
    node takes the minimum label among itself and its neighbors; converged
    when no label changes. Rounds = graph diameter — near-dup clusters are
    shallow (quasi-cliques from LSH buckets), so this converges in a few
    rounds; for adversarial long-chain graphs at 10^12-edge scale, switch
    the round body to alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — same driver
    loop, fewer rounds. Per round: one shuffle join + one groupBy (AQE
    coalesces); ``localCheckpoint`` truncates the growing plan lineage so
    round N's plan does not replay rounds 1..N-1.
    """
    sym = edges.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    )
    sym = sym.union(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # materialize the (static) edge list ONCE: without this every round's
    # join re-executes the upstream plan that produced the edges (for LSH
    # candidates that is the whole minhash pipeline, per round)
    sym = sym.localCheckpoint()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    # labels only ever DECREASE, so sum(comp) is strictly monotone while
    # anything changes: an unchanged sum IS convergence — one cheap agg per
    # round instead of a join-based diff
    prev_sum = None
    with _size_based_coalesce(edges.sparkSession):
        return _label_propagation_loop(sym, labels, prev_sum, max_iter)


def _label_propagation_loop(
    sym: DataFrame, labels: DataFrame, prev_sum, max_iter: int
) -> DataFrame:
    for _ in range(max_iter):
        msgs = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("comp")
        )
        labels = (
            labels.select("node", "comp")
            .union(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jumping (shortcutting): follow comp -> comp(comp),
        # collapsing long chains exponentially — O(log diameter) rounds
        # instead of O(diameter) (a daisy chain of near-dups took ~25
        # propagation-only rounds at sf0.1). Two hops per round: joins are
        # cheap next to the per-round job-scheduling actions, so compressing
        # more per round nearly halves total wall time.
        for _hop in range(2):
            hop = labels.select(
                F.col("node").alias("j_node"), F.col("comp").alias("j_comp")
            )
            labels = labels.join(hop, labels["comp"] == hop["j_node"], "left").select(
                "node",
                F.least(F.col("comp"), F.coalesce("j_comp", "comp")).alias("comp"),
            )
        # LAZY checkpoint: the convergence agg below is the round's only
        # action — it materializes (and caches) the checkpoint in the same
        # job, so each round schedules ONE job instead of two (checkpoint +
        # agg). At toy scale per-round job scheduling dominates CC wall time.
        labels = labels.localCheckpoint(eager=False)
        # decimal(38,0): sum of 64-bit labels over billions of nodes can
        # overflow long — ANSI mode would throw mid-iteration (and legacy
        # wraparound could fake convergence)
        cur_sum = labels.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        import warnings

        warnings.warn(
            f"connected_components: max_iter={max_iter} reached without the "
            "label sum stabilizing — result may not be fully converged",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round over a canonical (u < v) edge set: every node's
    strictly-larger neighbors attach to the minimum of its neighborhood."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least("u", "_mn").alias("m"))
    # m = min(neighborhood ∪ {u}) <= u < v, so (m, v) is already canonical
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node's smaller neighbors (and the node
    itself) attach to the minimum smaller neighbor."""
    mins = e.groupBy("v").agg(F.min("u").alias("m"))
    attach_nbrs = (
        e.join(mins, "v")
        .filter(F.col("u") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("u").alias("v"))
    )
    attach_center = mins.select(F.col("m").alias("u"), F.col("v").alias("v"))
    return attach_nbrs.union(attach_center).distinct()


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) -> (node, comp), comp = min node id of the component.

    Same contract as ``connected_components`` (every node appearing in the
    input edge list gets a row); converges in O(log^2 n) rounds on ANY
    graph — including adversarial long chains, where plain min-label
    propagation needs diameter-many rounds. Each round is two groupBy +
    join passes over the (shrinking) edge set; ``localCheckpoint`` per
    round truncates lineage.

    Convergence check: edge endpoints only ever decrease pairwise, so the
    (count, sum(u), sum(v)) triple is stationary iff the edge set is a
    fixpoint (sums in decimal(38,0) — long could overflow at 10^12 edges).
    """
    # materialize the input edge list ONCE — all_nodes and e both derive
    # from it, and without the checkpoint each would re-execute the full
    # upstream plan (e.g. the minhash-LSH candidate pipeline)
    raw = edges.select(
        F.col("id_a").cast("long").alias("a"), F.col("id_b").cast("long").alias("b")
    ).localCheckpoint()
    all_nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # materialized by the final union
    )
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)  # materialized by the first _sig
    )

    def _sig(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).first()
        return (row["n"], row["su"], row["sv"])

    prev = _sig(e)
    spark = edges.sparkSession
    converged = False
    with _size_based_coalesce(spark):
        for _ in range(max_iter):
            # LAZY checkpoint: _sig is the round's single action and it
            # materializes the checkpoint as a side effect — one scheduled
            # job per round instead of two (the r2 profile showed per-round
            # job scheduling, not compute, dominating CC wall time at
            # sf0.1). The edge set only shrinks, and _sig hands us its
            # exact count for free — size the checkpointed RDD to the data
            # (~50k edges per partition, floor 1) so late rounds don't
            # relaunch defaultParallelism near-empty tasks per stage. At
            # 100 TB counts stay large and the coalesce is a no-op;
            # coalesce never increases partition count and never shuffles.
            parts = max(1, int(prev[0]) // 50_000 + 1)
            e = (
                _small_star(_large_star(e))
                .coalesce(parts)
                .localCheckpoint(eager=False)
            )
            cur = _sig(e)
            if cur == prev:
                converged = True
                break
            prev = cur
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_star: max_iter={max_iter} reached before "
            "the edge set stabilized — result may not be fully converged",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged edge set is a union of stars rooted at each component's min:
    # every non-root node has exactly one edge (root, node)
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("comp"))
    roots = all_nodes.join(labels, "node", "left_anti").select(
        "node", F.col("node").alias("comp")
    )
    return labels.union(roots)


def _window_hashes(
    df: DataFrame,
    min_tokens: int,
    n_partitions: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared stage of the ExactSubstr operators: staged tokens behind a
    repartition barrier, plus the exploded (id, pos, h) window-hash frame
    (md5 of each ``min_tokens``-token window). Returns (staged, win)."""
    staged = df.select(
        F.col("doc_id").alias("id"), word_tokens(F.col("text")).alias("_t")
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    win = staged.select(
        "id",
        F.posexplode(shingles_from_tokens(F.col("_t"), min_tokens)).alias(
            "pos", "sh"
        ),
    ).select("id", "pos", F.md5(F.col("sh")).alias("h"))
    return staged, win


def _merge_islands(marked: DataFrame, min_tokens: int) -> DataFrame:
    """Shared gaps-and-islands interval merge over marked (id, pos) window
    starts: windows merge while pos <= prev_end + 1 (overlap or adjacency).
    Returns (id, island, s, e) — one row per maximal merged span, token
    positions 0-based end-inclusive. Both window functions partition by
    doc id, so state is bounded by document length."""
    from pyspark.sql import Window

    w_order = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + F.lit(min_tokens - 1)).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    island_start = F.when(
        F.col("pos") > F.coalesce(prev_max_end, F.lit(-2)) + 1, 1
    ).otherwise(0)
    return (
        marked.select(
            "id", "pos", F.sum(island_start).over(w_order).alias("island")
        )
        .groupBy("id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(min_tokens - 1)).alias("e"),
            F.count(F.lit(1)).alias("n_windows"),
        )
    )


def duplicate_token_spans(
    df: DataFrame,
    min_tokens: int = 5,
    n_partitions: int | None = None,
) -> DataFrame:
    """ExactSubstr-style duplicate span detection (Lee et al., ACL 2022,
    "Deduplicating Training Data Makes Language Models Better" — public
    method, from scratch): every maximal token span covered by
    ``min_tokens``-token windows whose content appears MORE THAN ONCE in
    the corpus (cross- or within-document). The reference method suffix-
    arrays the whole corpus; the Spark-native equivalent is window-hash
    blocking — identical guarantees at window granularity: any duplicated
    substring of >= min_tokens tokens is covered by at least one
    duplicated window, and the emitted span is the union of its
    overlapping/adjacent duplicated windows.

    Plan shape: inlining-proof shingle build behind a repartition barrier
    -> posexplode -> groupBy(md5) dup filter (map-side partial agg; the
    dup-key table is duplicate-density-sized) -> equi-join back ->
    per-DOC gaps-and-islands interval merge (two window functions
    partitioned by doc id — bounded by document length, never by corpus
    size) -> one groupBy(doc, island). All integer/md5 arithmetic —
    bit-stable across engines and partitionings.

    Returns (doc_id, span_start, span_end, span_tokens, n_windows), one
    row per maximal duplicated span; token positions are 0-based and
    end-inclusive.
    """
    _staged, win = _window_hashes(df, min_tokens, n_partitions)
    dup_h = (
        win.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    marked = win.join(dup_h, "h").select("id", "pos")
    return _merge_islands(marked, min_tokens).select(
        F.col("id").alias("doc_id"),
        F.col("s").cast("long").alias("span_start"),
        F.col("e").cast("long").alias("span_end"),
        (F.col("e") - F.col("s") + 1).cast("long").alias("span_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


def exact_substr_rewrite(
    df: DataFrame,
    min_tokens: int = 5,
    n_partitions: int | None = None,
) -> DataFrame:
    """ExactSubstr dedup as a REWRITE (Lee et al., ACL 2022): the tokens
    covered by NON-FIRST occurrences of duplicated ``min_tokens``-token
    windows are cut and each document is rebuilt from its kept tokens in
    order. The first occurrence corpus-wide — min (doc_id, pos) as a
    struct minimum, the deterministic tie rule — keeps its text, so the
    corpus retains exactly one copy of every duplicated run.

    Plan shape: the window-hash stage of ``duplicate_token_spans``, a
    first-occurrence struct-min per hash (one groupBy on md5 keys), the
    same per-doc gaps-and-islands merge over CUT windows only, removal
    positions exploded per span (bounded by document length), and one
    anti-join + ordered rebuild per doc (sort_array of (pos, token)
    structs in-group — bounded by page size, the paragraph-rewrite
    pattern). All integer/md5/struct-min arithmetic, bit-stable across
    engines.

    Returns (doc_id, n_tokens, n_removed, clean_text) for every input row.
    """
    staged, win = _window_hashes(df, min_tokens, n_partitions)
    firsts = win.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("first"),
    )
    cut = (
        win.join(firsts, "h")
        .filter(
            (F.col("c") >= 2)
            & ~(
                (F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("id", "pos")
    )
    spans = _merge_islands(cut, min_tokens)
    removed = spans.select(
        "id", F.explode(F.sequence(F.col("s"), F.col("e"))).alias("pos")
    )
    toks = staged.select(
        "id", F.posexplode(F.col("_t")).alias("pos", "tok")
    )
    kept = toks.join(removed, ["id", "pos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda st: st.getField("tok"),
            ),
        ).alias("clean_text"),
    )
    return (
        staged.select("id", F.size("_t").cast("long").alias("n_tokens"))
        .join(agg, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
