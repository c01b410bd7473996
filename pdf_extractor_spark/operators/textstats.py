"""Text-analysis operators for a training-data pipeline over `documents`.

All JVM-side column expressions (no UDFs): language ID via stopword-hit
scoring, quality scoring (length/punctuation/stopword ratios), token
counting (whitespace + a BPE-ish regex), and document fingerprinting.
These extend the reference's content sanity predicates
(reference src/validator.py:234-292) into corpus-scale text hygiene.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Small, fixed stopword kernels — deliberately tiny so the same lists are
# reproducible in ANSI SQL for the DuckDB oracle.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "en", "una", "por"],
}

_WORD_SPLIT = r"\s+"
# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
BPE_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"
_PUNCT_RE = r"[.,;:!?()\[\]\"']"


def whitespace_token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank text -> 0."""
    return F.when(
        F.length(F.trim(col)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(col), _WORD_SPLIT)))


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: alpha runs + digit runs + single symbols."""
    return F.coalesce(F.regexp_count(col, F.lit(BPE_RE)), F.lit(0))


def stopword_hits(col: Column, lang: str) -> Column:
    """Number of stopword occurrences (word-bounded) for one language kernel."""
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.coalesce(F.regexp_count(F.lower(col), F.lit(pat)), F.lit(0))


def cjk_char_count(col: Column) -> Column:
    return F.coalesce(F.regexp_count(col, F.lit(r"[一-鿿]")), F.lit(0))


def language_id(col: Column) -> Column:
    """Heuristic language ID: CJK chars -> zh; else argmax stopword hits.

    Ties break deterministically by the fixed order en > de > fr > es;
    zero hits everywhere -> 'und' (undetermined).
    """
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    result = F.lit("und")
    # reversed so earlier languages win ties (last when() wins in a chain;
    # build from lowest priority upward)
    for lang in reversed(list(STOPWORDS)):
        result = F.when(hits[lang] == best, F.lit(lang)).otherwise(result)
    result = F.when(best == 0, F.lit("und")).otherwise(result)
    return F.when(cjk_char_count(col) > 0, F.lit("zh")).otherwise(result)


def quality_features(col: Column) -> dict[str, Column]:
    """Raw quality signals: length, tokens, mean word length, punct ratio,
    stopword ratio, uppercase ratio."""
    n_chars = F.length(col)
    n_tokens = whitespace_token_count(col)
    n_punct = F.coalesce(F.regexp_count(col, F.lit(_PUNCT_RE)), F.lit(0))
    n_stop = sum(stopword_hits(col, lang) for lang in STOPWORDS)
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "mean_word_len": F.round(n_chars.cast("double") / safe_tokens, 4),
        "punct_ratio": F.round(n_punct.cast("double") / safe_chars, 4),
        "stopword_ratio": F.round(n_stop.cast("double") / safe_tokens, 4),
    }


def quality_score(col: Column) -> Column:
    """Composite [0,100] quality score, Gopher-rules-flavored:

    + up to 40 pts for length (saturates at 2000 chars)
    + up to 30 pts for stopword ratio (saturates at 0.3)
    + up to 30 pts for sane mean word length (3..12 chars)
    - heavy punctuation penalized implicitly via word-length distortion
    """
    f = quality_features(col)
    length_pts = F.least(F.lit(40.0), f["n_chars"].cast("double") / 50.0)
    stop_pts = F.least(F.lit(30.0), f["stopword_ratio"] * 100.0)
    wl = f["mean_word_len"]
    wl_pts = F.when((wl >= 3.0) & (wl <= 12.0), F.lit(30.0)).otherwise(F.lit(0.0))
    return F.round(length_pts + stop_pts + wl_pts, 2)


def content_fingerprint(col: Column) -> Column:
    """Document fingerprint: hash of the case/whitespace/punct-normalized text.

    Robust exact-dup key (differs from md5(text) by surviving formatting
    noise). Rolling/shingled near-dup keys live in operators/dedup.py.
    """
    normalized = F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " ")
    return F.md5(F.encode(F.trim(normalized), "UTF-8"))


def winnow_fingerprints(col: Column, k: int = 5, w: int = 8, normalize: bool = True) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    char k-gram hashes -> per-window minimum -> distinct selected hashes.

    Hash = first 16 bits of md5 (strpos nibble arithmetic), so the selection
    is reproducible in any engine. Returns a sorted distinct array of the
    selected 16-bit hashes; two documents sharing a long enough substring
    share fingerprints regardless of position.

    SMALL-INPUT ONLY: the window-min lambda references the ``hashes``
    expression, which higher-order functions re-evaluate per element —
    O(n^2) in document length. For corpora use ``winnow_fingerprints_df``
    (explode + rolling-min window), which is linear and shuffle-bounded.
    """
    # pass normalize=False with an already-materialized normalized ATTRIBUTE
    # on large inputs: the k-gram lambda re-evaluates its input per element
    norm = (
        F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))
        if normalize
        else col
    )
    n = F.length(norm)
    # guard: F.sequence(1, 0) is DESCENDING [1, 0] — a doc shorter than k
    # would emit two bogus k-grams of the short/empty string (the DuckDB
    # oracle's end-exclusive range(1, 1) emits none)
    gram_idx = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(gram_idx, lambda i: F.substring(norm, i, F.lit(k)))
    hashes = F.transform(
        grams,
        lambda g: (
            (F.position(F.substring(F.md5(g), 1, 1), F.lit("0123456789abcdef")) - 1) * 4096
            + (F.position(F.substring(F.md5(g), 2, 1), F.lit("0123456789abcdef")) - 1) * 256
            + (F.position(F.substring(F.md5(g), 3, 1), F.lit("0123456789abcdef")) - 1) * 16
            + (F.position(F.substring(F.md5(g), 4, 1), F.lit("0123456789abcdef")) - 1)
        ),
    )
    # same guard: fewer than w hashes -> no windows (sequence(1, 0) would be
    # [1, 0], whose 0 element feeds slice() an illegal 0 start)
    win_idx = F.when(
        F.size(hashes) >= w, F.sequence(F.lit(1), F.size(hashes) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    selected = F.transform(win_idx, lambda j: F.array_min(F.slice(hashes, j, w)))
    return F.array_sort(F.array_distinct(selected))


def winnow_fingerprints_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 8,
    normalize: bool = True,
    n_partitions: int | None = None,
) -> DataFrame:
    """Linear-time winnowing over a corpus -> (id, fp) rows, distinct.

    Same selection as ``winnow_fingerprints`` (k-gram 16-bit md5 hashes,
    per-window minimum, distinct), restructured for scale:

    - the normalized text and the k-gram hash array are materialized as
      ATTRIBUTES behind a repartition barrier, so nothing re-evaluates per
      element (the pure-column form is O(n^2): CollapseProject inlines the
      hash-array expression into the per-window lambda);
    - per-window minima come from ``posexplode`` + a rolling-min window
      frame (``rowsBetween(-(w-1), 0)``) — linear, whole-stage-codegen'd,
      and spill-safe at any document length;
    - exactly one shuffle (hash-partition by id for the window), which at
      corpus scale is also the dedup join key, so the exchange is reusable.
    """
    from pyspark.sql import Window

    norm = (
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9]+", " "))
        if normalize
        else F.col(text_col)
    )
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    staged = df.select(
        F.col(id_col), F.split(norm, "").alias("_ch")
    ).repartition(n_partitions, id_col)
    # k-grams from the staged char array: substring(_n, i, k) per element
    # would byte-scan the UTF8String to char offset i — O(len²) per doc —
    # and sequence(1, 0) on short docs is DESCENDING; char_ngrams_from_chars
    # is linear and emits the empty array below k chars (matching the
    # oracle's end-exclusive range semantics)
    grams = char_ngrams_from_chars(F.col("_ch"), k)
    md4 = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 4))
    hex_pos = "0123456789abcdef"
    hashes = F.transform(
        md4,
        lambda m: (
            (F.position(F.substring(m, 1, 1), F.lit(hex_pos)) - 1) * 4096
            + (F.position(F.substring(m, 2, 1), F.lit(hex_pos)) - 1) * 256
            + (F.position(F.substring(m, 3, 1), F.lit(hex_pos)) - 1) * 16
            + (F.position(F.substring(m, 4, 1), F.lit(hex_pos)) - 1)
        ),
    )
    exploded = staged.select(
        F.col(id_col), F.posexplode(hashes).alias("pos", "h")
    )
    roll = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        exploded.withColumn("fp", F.min("h").over(roll))
        .filter(F.col("pos") >= w - 1)
        .select(id_col, "fp")
        .distinct()
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token
    fraction, top-token fraction, duplicate-bigram fraction — the rules
    corpus filters use to drop boilerplate-looping / keyword-stuffed pages
    (Rae et al., Gopher, arXiv:2112.11446 §A1.1; public heuristics).

    Relational formulation for scale: tokens exploded to rows ->
    (id, token) counts -> per-doc aggregates (map-side partial agg does the
    heavy lifting); the bigram fraction from a STAGED shingle array behind
    the same exchange. One shuffle on id, reused by the join.
    """
    from pdf_extractor_spark.operators.dedup import shingles_from_tokens, word_tokens

    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    staged = df.select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("_toks")
    ).repartition(n_partitions, id_col)
    counts = (
        staged.select(id_col, F.explode("_toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("distinct_token_frac"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_token_frac"),
    )
    sh = shingles_from_tokens(F.col("_toks"), 2)
    big = staged.select(
        F.col(id_col),
        F.round(
            F.when(F.size(sh) <= 0, F.lit(0.0)).otherwise(
                1.0 - F.size(F.array_distinct(sh)) / F.size(sh)
            ),
            6,
        ).alias("dup_bigram_frac"),
    )
    return uni.join(big, id_col)


def char_trigrams_from_norm(txt: Column) -> Column:
    """Overlapping character 3-grams of an ALREADY-MATERIALIZED normalized
    text attribute column; empty array below 3 chars.

    Stage the normalized text as an attribute (projection + exchange
    barrier) before calling — a higher-order-function lambda re-evaluates
    its input EXPRESSION per element, so handing it ``lower(text)`` inline
    would re-lower the whole document once per trigram.

    Kept for semantics tests; the hot path is ``char_trigrams_from_chars``
    — ``substring(txt, i, 3)`` must byte-scan the UTF8String to find char
    offset i, making this form O(n²) per document.
    """
    return F.when(
        F.length(txt) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - 2),
            lambda i: F.substring(txt, i, 3),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_trigrams_from_chars(ch: Column) -> Column:
    """Overlapping character 3-grams from a per-character array
    (``split(txt, '')``); empty array below 3 chars.

    Linear replacement for ``char_trigrams_from_norm`` — and, unlike an
    index-lambda ``transform(sequence, i -> ch[i]...)``, linear EVEN WHEN
    CATALYST INLINES ``ch`` as a raw expression: ``zip_with`` over shifted
    ``slice``s evaluates its array inputs once per ROW and then iterates
    the materialized arrays, whereas an index lambda re-evaluates the
    array expression per ELEMENT. That matters because
    InferFiltersFromGenerate synthesizes ``size(trigrams) > 0 AND
    isnotnull(trigrams)`` under every explode and predicate-pushdown
    carries it through exchanges into the scan stage with all staging
    projections substituted away — with an index lambda that inlined
    filter is O(n²) per document ON THE SCAN'S OWN PARALLELISM (one task
    per input split); this form stays O(n). Measured on the sf0.1
    corpus: 9.1s -> 0.7s for the trigram-count pipeline.
    """
    return char_ngrams_from_chars(ch, 3)


def char_ngrams_from_chars(ch: Column, k: int) -> Column:
    """Overlapping character k-grams from a per-character array — the
    general form of ``char_trigrams_from_chars`` (same linearity argument:
    ``zip_with`` over k shifted ``slice``s, no index lambda, no O(i)
    ``substring`` seek). Empty array below k chars."""
    n = F.size(ch)
    m = n - (k - 1)
    acc = F.slice(ch, 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc, F.slice(ch, 1 + j, m), lambda a, b: F.concat(a, b)
        )
    return F.when(n >= k, acc).otherwise(F.array().cast("array<string>"))


def trigram_typicality_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """CCNet-class frequency-LM quality signal without the transcendentals:
    per-document mean corpus-probability of its character trigrams.

    ``typicality = sum(corpus_count(tri)) / n_tri / total_tri`` — higher
    means the document's character distribution is typical of the corpus;
    gibberish, wrong-charset mojibake and machine-generated noise score
    low (the same screening role CCNet's wikipedia-LM perplexity plays,
    Wenzek et al. LREC 2020 — public method, from scratch). All counts
    are exact integer sums (order-independent), so the only floats are
    two final IEEE divisions — deterministic across engines and
    partitionings, unlike a sum of per-trigram log-probs.

    Plan shape: one explode -> groupBy(tri, id) occurrence counts (the
    map-side partial agg collapses repeated trigrams BEFORE the shuffle,
    so shuffle volume is distinct (tri, doc) pairs, not occurrences);
    corpus counts are a second tiny groupBy(tri) over the pair counts,
    re-joined BROADCAST (vocab is bounded by charset^3 — ~100k for ASCII
    text, low millions for unicode web text, i.e. MBs — it never grows
    with document count), then one groupBy(id) with
    ``familiarity = sum(n_occ * c)`` — exact integers, identical to
    summing c per occurrence. Both consumers of the pair table sit above
    the same Exchange, so the explode runs ONCE (ReusedExchange), where
    the occurrence-stream form re-executed it for the probe side. The
    one-row total rides a broadcast cross join. At 100 TB every stage is
    a short-key shuffle or a broadcast; no window, no driver collect.
    """
    staged = df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.col(text_col)), "").alias("_ch"),
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    # explode the expression INLINE (one select): exploding a separately
    # projected attribute lets InferFiltersFromGenerate plant a size()>0
    # filter on the attribute that predicate pushdown then re-inlines below
    # the exchange — a duplicate evaluation of the whole trigram build in
    # the scan stage (the rule skips non-attribute generator children)
    tri = staged.select(
        "id",
        F.explode(char_trigrams_from_chars(F.col("_ch"))).alias("tri"),
    )
    pairs = tri.groupBy("tri", "id").agg(F.count(F.lit(1)).alias("no"))
    cnt = pairs.groupBy("tri").agg(F.sum("no").alias("c"))
    # total trigram occurrences == sum over docs of max(len-2, 0): a pure
    # scan-side aggregate — computing it as sum(c) over cnt would re-run
    # the whole explode pipeline a third time (exchange reuse only covers
    # the subtree BELOW the staging exchange)
    tot = df.agg(
        F.sum(
            F.greatest(
                F.length(F.lower(F.col(text_col))) - 2, F.lit(0)
            ).cast("bigint")
        ).alias("total")
    )
    doc = (
        pairs.join(F.broadcast(cnt), "tri")
        .groupBy("id")
        .agg(
            F.sum("no").alias("n_tri"),
            F.sum(F.col("no") * F.col("c")).alias("familiarity"),
        )
    )
    return doc.crossJoin(F.broadcast(tot)).select(
        F.col("id").alias(id_col),
        F.col("n_tri").cast("bigint").alias("n_tri"),
        F.col("familiarity").cast("bigint").alias("familiarity"),
        F.round(
            F.col("familiarity")
            / F.col("n_tri").cast("double")
            / F.col("total").cast("double"),
            12,
        ).alias("typicality"),
    )


def gopher_keep_expr() -> "Column":
    """Gopher-style composite keep decision over the repetition_stats
    columns (n_tokens, distinct_token_frac, top_token_frac,
    dup_bigram_frac) — the single source of truth shared by the
    t_gopher_filter contract query and the curation job (Rae et al. 2021
    §A1.1 repetition/length rules, demo-scale thresholds)."""
    return (
        F.col("n_tokens").between(10, 100000)
        & (F.col("distinct_token_frac") >= 0.3)
        & (F.col("top_token_frac") <= 0.3)
        & (F.col("dup_bigram_frac") <= 0.3)
    )


def c4_clean(
    lines: DataFrame,
    min_words: int = 3,
    min_kept_lines: int = 3,
    joiner: str = " ",
) -> DataFrame:
    """C4-style page cleanup (Raffel et al., JMLR 2020 §2.2 — the public
    heuristics behind the C4 corpus, from scratch) over a generic line
    frame ``(id, idx, line)``:

    line rules — a line is KEPT iff it ends in a terminal punctuation
    mark (``. ! ?``), has at least ``min_words`` words, and contains
    neither "lorem ipsum", nor a curly brace, nor the word "javascript";
    page rules — a page is KEPT iff it retains at least
    ``min_kept_lines`` lines AND contains no "lorem ipsum" or brace line
    anywhere (C4 drops such pages outright). ``clean_text`` is the kept
    lines re-joined in original order.

    All signals are integer/boolean/string — bit-exact in any engine.
    Plan shape: one groupBy(id) with map-side partial aggregation; the
    ordered rebuild is a collect_list of (idx, line) structs sorted
    in-group (bounded by page size, not corpus size). No window, no
    second shuffle.

    Returns (id, n_lines, n_kept_lines, n_sentences, has_lorem_ipsum,
    has_brace, keep, clean_text).
    """
    line = F.col("line")
    n_words = F.size(F.split(line, " "))
    bad_lorem = line.contains("lorem ipsum")
    bad_brace = line.contains("{") | line.contains("}")
    bad_js = line.contains("javascript")
    kept = (
        line.rlike(r"[.!?]$")
        & (n_words >= min_words)
        & ~bad_lorem
        & ~bad_brace
        & ~bad_js
    )
    flagged = lines.select(
        "id",
        "idx",
        line,
        kept.alias("_keep_line"),
        bad_lorem.alias("_lorem"),
        bad_brace.alias("_brace"),
        (kept & line.endswith(".")).alias("_sentence"),
    )
    agg = flagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("_keep_line"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept_lines"),
        F.sum(F.when(F.col("_sentence"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sentences"),
        (F.sum(F.when(F.col("_lorem"), 1).otherwise(0)) > 0).alias(
            "has_lorem_ipsum"
        ),
        (F.sum(F.when(F.col("_brace"), 1).otherwise(0)) > 0).alias(
            "has_brace"
        ),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_keep_line"),
                    F.struct(F.col("idx"), F.col("line")),
                )
            )
        ).alias("_kept"),
    )
    return agg.select(
        "id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_lorem_ipsum",
        "has_brace",
        (
            (F.col("n_kept_lines") >= min_kept_lines)
            & ~F.col("has_lorem_ipsum")
            & ~F.col("has_brace")
        ).alias("keep"),
        F.concat_ws(
            joiner, F.transform(F.col("_kept"), lambda s: s.getField("line"))
        ).alias("clean_text"),
    )


# --- trained quality classifier (batch perceptron) -----------------------------


def quality_training_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """Integer (parts-per-million) feature/label table for quality-classifier
    TRAINING — the data half of the GPT-3/WebText recipe (Brown et al. 2020
    Appendix A), with the rule-based Gopher filter (Rae et al. 2021 §A1.1)
    standing in as the labeling teacher: the linear model learns to predict
    the keep/drop verdict from CHEAP scan-side stats, without seeing the
    bigram signal the rule itself needs.

    All columns are BIGINT, every ratio an integral ``div`` — bit-exact in
    any engine, so the whole training trajectory is oracle-replayable.
    Features are capped at 1e6 to bound weight growth (margins stay far from
    int64 overflow even at 1e9 training rows). Docs with zero word tokens
    carry no signal and are excluded (same inner-join semantics as the
    Gopher rule query).

    Scale shape: one repartition(id) barrier, tokens exploded -> (id, tok)
    counts with map-side partial agg, one per-doc rollup, then a 1:1 join of
    two per-doc aggregates. The output is ~40 bytes/doc — the cheap table
    the training loop re-scans per epoch.
    """
    from pdf_extractor_spark.operators.dedup import shingles_from_tokens, word_tokens

    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    m = F.lit(1000000).cast("bigint")
    staged = df.select(
        F.col(id_col),
        word_tokens(F.col(text_col)).alias("_toks"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
    ).repartition(n_partitions, id_col)
    counts = (
        staged.select(id_col, F.explode("_toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = counts.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("d_tokens"),
        F.max("c").cast("bigint").alias("m_count"),
    )
    sh = shingles_from_tokens(F.col("_toks"), 2)
    big = staged.select(
        F.col(id_col),
        F.col("n_chars"),
        F.size(sh).cast("bigint").alias("n_big"),
        F.size(F.array_distinct(sh)).cast("bigint").alias("d_big"),
    )
    j = uni.join(big, id_col)
    distinct_ppm = F.expr("(1000000 * d_tokens) div n_tokens")
    top_ppm = F.expr("(1000000 * m_count) div n_tokens")
    dup_big_ppm = F.when(F.col("n_big") <= 0, F.lit(0).cast("bigint")).otherwise(
        F.expr("(1000000 * (n_big - d_big)) div n_big")
    )
    keep = (
        F.col("n_tokens").between(10, 100000)
        & (distinct_ppm >= 300000)
        & (top_ppm <= 300000)
        & (dup_big_ppm <= 300000)
    )
    return j.select(
        F.col(id_col),
        F.when(keep, F.lit(1).cast("bigint"))
        .otherwise(F.lit(-1).cast("bigint"))
        .alias("y"),
        m.alias("xb"),
        (F.least(F.col("n_chars"), F.lit(2000).cast("bigint")) * F.lit(500)).alias(
            "x1"
        ),
        distinct_ppm.alias("x2"),
        top_ppm.alias("x3"),
        F.least(
            F.expr("(1000000 * n_chars) div (20 * n_tokens)"), m
        ).alias("x4"),
    )


PERCEPTRON_FEATURES = ["xb", "x1", "x2", "x3", "x4"]


def train_quality_perceptron(
    feats: DataFrame, n_epochs: int = 4
) -> tuple[list[int], DataFrame]:
    """Fixed-iteration batch perceptron over the integer feature table:
    ``w += sum(y * x over misclassified)`` per epoch (Rosenblatt's rule,
    batch/subgradient form — deterministic, no learning-rate float).

    This replaces ``t_quality_classifier``'s documented stand-in weights
    with TRAINED coefficients while keeping the oracle-exactness story: the
    whole trajectory is integer arithmetic from zero-initialized weights,
    so a SQL oracle replays it with one unrolled CTE pair per epoch and the
    final margins match bit-for-bit.

    Driver discipline (same as operators/bpe.bpe_train): each epoch is ONE
    map-side-combinable aggregate over the cached ~40-byte/doc feature
    table collapsing to a SINGLE collected row (the 5 gradient sums) — at
    1e9 training rows that is n_epochs cheap scans, no per-row driver work,
    no window, no shuffle beyond the partial-agg tree.

    Returns (weights, scored DataFrame): per doc the trained integer margin
    and keep verdict alongside the teacher label — the distillation-quality
    readout (agreement rate) falls out of one aggregate over it.
    """
    # persist is lazy; the first epoch aggregate materializes it, and the
    # RETURNED scored plan keeps reading the cached table — so no unpersist
    # here (the session's cache manager owns its lifetime)
    cached = feats.persist()

    def _margin(weights: list[int]):
        out = None
        for wj, name in zip(weights, PERCEPTRON_FEATURES):
            term = F.lit(wj).cast("bigint") * F.col(name)
            out = term if out is None else out + term
        return out

    w = [0] * len(PERCEPTRON_FEATURES)
    for _ in range(n_epochs):
        mis = (F.col("y") * _margin(w)) <= 0
        row = cached.select(
            *[
                F.sum(F.when(mis, F.col("y") * F.col(name))).alias(name)
                for name in PERCEPTRON_FEATURES
            ]
        ).first()
        w = [
            wj + int(row[name] or 0)
            for wj, name in zip(w, PERCEPTRON_FEATURES)
        ]
    margin = _margin(w)
    scored = cached.select(
        *[F.col(c) for c in cached.columns],
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    )
    return w, scored


# --- compression-ratio quality signal ------------------------------------------


def compression_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    n_partitions: int | None = None,
) -> DataFrame:
    """zlib compression-ratio screen (the RefinedWeb/MassiveText cheap
    redundancy check: text that DEFLATE shrinks too well is repetitive
    boilerplate/spam; text that barely shrinks is often binary junk or
    high-entropy noise). Emits per doc the utf-8 byte count, the
    deflate(level)-compressed byte count, and the integer ratio in ppm —
    ``ratio_ppm = (1e6 * n_compressed) div n_bytes`` (0 for empty text).

    Engine shape: one Arrow-batched ``mapInPandas`` over (id, text) — zlib
    runs at C speed per batch, no per-row Python boxing; the stage is
    OUTSIDE the extraction hot path (a curation-stage signal), so the
    single-Arrow-UDF extraction plan invariant is untouched. Pure function
    of the text bytes: byte-identical across partitionings (pinned by
    test, like the parsers). DEFLATE has no ANSI-SQL counterpart, so this
    operator is pytest-golden-gated (UDF == single-process zlib) rather
    than DuckDB-oracle-checked — the one rows-only entry in the catalog.
    """
    import pandas as pd

    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, n_bytes bigint, n_compressed bigint, ratio_ppm bigint"

    def _batches(it):
        import zlib

        for pdf in it:
            ids = pdf[id_col]
            raw = pdf[text_col].fillna("").map(lambda s: s.encode("utf-8"))
            n_bytes = raw.map(len)
            n_comp = raw.map(lambda b: len(zlib.compress(b, level)))
            ratio = [
                (1000000 * c) // n if n > 0 else 0
                for c, n in zip(n_comp, n_bytes)
            ]
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bytes": n_bytes.astype("int64"),
                    "n_compressed": pd.Series(n_comp, index=pdf.index).astype("int64"),
                    "ratio_ppm": pd.Series(ratio, index=pdf.index).astype("int64"),
                }
            )

    proj = df.select(F.col(id_col), F.col(text_col))
    # driver-testdata tables are single-split parquet files: repartition so
    # the compute-heavy per-row stage actually parallelizes (CLAUDE.md)
    return proj.repartition(n_partitions, id_col).mapInPandas(_batches, schema)


def justext_blocks(
    segs: DataFrame,
    stopwords: tuple[str, ...] = ("a", "the"),
    min_tokens_short: int = 3,
    stop_ppm_good: int = 200_000,
) -> DataFrame:
    """jusText-style block classification (Pomikálek 2011): per-block
    CONTEXT-FREE classing by stopword density, then CONTEXT-SENSITIVE
    smoothing where short blocks inherit 'good' only when both adjacent
    blocks classed good — the structural complement to the
    frequency-based boilerplate family (line_boilerplate_clean finds
    corpus-repeated segments; this finds low-function-word segments *per
    document*, no corpus pass at all).

    Contract (the synthetic corpus has no markup, so blocks are the
    fixed-token segments of ``dedup.token_segments`` and the original's
    link-density term has no signal): a block with fewer than
    ``min_tokens_short`` tokens is 'short'; otherwise 'good' iff its
    stopword density (integer ppm — exact on both engines) is >=
    ``stop_ppm_good``, else 'bad'. Smoothing: 'short' -> 'good' iff the
    previous AND next block's context-free class are both 'good' (a
    missing neighbor at a document edge counts as 'bad' — jusText's
    header/footer prior).

    Scale shape: everything is a scan-side projection over the exploded
    segments plus ONE doc-partitioned lag/lead window (bounded by
    segments-per-doc, embarrassingly parallel across docs). Input
    ``segs`` must be (id, idx, seg_text) from token_segments.
    """
    toks = F.split(F.col("seg_text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_tok = F.size(toks)
    stop_cnt = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    staged = segs.select(
        "id",
        "idx",
        "seg_text",
        n_tok.alias("n_tokens"),
        stop_cnt.alias("n_stop"),
    ).withColumn(
        "stop_ppm",
        F.expr("CAST(1000000 * n_stop AS BIGINT) div greatest(n_tokens, 1)"),
    )
    cf = (
        F.when(F.col("n_tokens") < min_tokens_short, F.lit("short"))
        .when(F.col("stop_ppm") >= stop_ppm_good, F.lit("good"))
        .otherwise(F.lit("bad"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("idx")
    classed = staged.select(
        "id",
        "idx",
        "seg_text",
        "n_tokens",
        "stop_ppm",
        cf.alias("class_cf"),
    )
    prev_c = F.coalesce(F.lag("class_cf").over(w), F.lit("bad"))
    next_c = F.coalesce(F.lead("class_cf").over(w), F.lit("bad"))
    final = F.when(F.col("class_cf") != "short", F.col("class_cf")).otherwise(
        F.when(
            (prev_c == "good") & (next_c == "good"), F.lit("good")
        ).otherwise(F.lit("bad"))
    )
    return classed.select(
        F.col("id").alias("doc_id"),
        F.col("idx").alias("block_idx"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "stop_ppm",
        "class_cf",
        final.alias("class_final"),
        F.md5("seg_text").alias("block_md5"),
    )


# Invisible characters stripped by unicode_clean BEFORE NFC: zero-width
# space/non-joiner/joiner, BOM/ZWNBSP, soft hyphen, and C0/C1 controls
# except \t and \n. NBSP maps to a plain space. Kept as a module constant
# so the DuckDB oracle can regenerate the identical strip set.
ZERO_WIDTH = ("\u200b", "\u200c", "\u200d", "\ufeff", "\u00ad")
_CONTROL_RE = "[\\x00-\\x08\\x0b-\\x1f\\x7f\\u0080-\\u009f]"


def strip_invisible(col: Column) -> Column:
    """Scan-side half of unicode cleaning: drop zero-width characters and
    C0/C1 controls (keeping tab/newline), map NBSP to a normal space.
    Pure codegen — regexp_replace chain, no UDF."""
    out = F.regexp_replace(col, "[" + "".join(ZERO_WIDTH) + "]", "")
    out = F.regexp_replace(out, _CONTROL_RE, "")
    return F.regexp_replace(out, "\u00a0", " ")


def unicode_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """Unicode hygiene: strip invisibles/controls, then NFC-normalize —
    the ftfy-class cleanup every web-corpus recipe runs before tokenizing
    (decomposed accents from editors, zero-width joiners from copy-paste,
    soft hyphens from justified print layouts all survive HTML extraction
    and silently fragment token statistics).

    Split by execution cost: the strip set is a scan-side regexp_replace
    chain (strip_invisible — pure codegen); canonical composition has no
    Spark built-in, so NFC alone runs in ONE Arrow-batched mapInPandas
    stage (unicodedata.normalize at C speed per batch), outside the
    extraction hot path. Emits per-doc before/after char counts, whether
    NFC recomposed anything beyond the strip, and md5 of the cleaned
    UTF-8 bytes — the column downstream exact-dedup keys on (NFC-stable
    hashing is WHY this stage runs before dedup: 'café' composed and
    decomposed must be the same duplicate).
    """
    import pandas as pd

    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_in bigint, n_stripped bigint, "
        "n_out bigint, nfc_changed boolean, clean_md5 string"
    )

    def _batches(it):
        import hashlib
        import unicodedata

        for pdf in it:
            n_in, n_stripped, n_out, changed, md5s = [], [], [], [], []
            for raw, stripped in zip(
                pdf["_raw"].fillna(""), pdf["_stripped"].fillna("")
            ):
                clean = unicodedata.normalize("NFC", stripped)
                n_in.append(len(raw))
                n_stripped.append(len(stripped))
                n_out.append(len(clean))
                changed.append(clean != stripped)
                md5s.append(hashlib.md5(clean.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_in": pd.Series(n_in, index=pdf.index, dtype="int64"),
                    "n_stripped": pd.Series(
                        n_stripped, index=pdf.index, dtype="int64"
                    ),
                    "n_out": pd.Series(n_out, index=pdf.index, dtype="int64"),
                    "nfc_changed": pd.Series(changed, index=pdf.index),
                    "clean_md5": pd.Series(md5s, index=pdf.index),
                }
            )

    proj = df.select(
        F.col(id_col),
        F.col(text_col).alias("_raw"),
        strip_invisible(F.col(text_col)).alias("_stripped"),
    )
    # single-split driver parquet: repartition so the Arrow stage fans out
    return proj.repartition(n_partitions, id_col).mapInPandas(
        _batches, schema
    )
