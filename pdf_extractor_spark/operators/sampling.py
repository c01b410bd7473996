"""Deterministic sampling + sketching for corpus pipelines.

Both are md5-keyed so any engine reproduces them bit-for-bit (the project
oracle rule: only md5-derived hash families in checked outputs), unlike
``df.sample`` (seeded per-partition RNG — partition-layout dependent) or
``approx_count_distinct`` (HLL internals are engine-specific).

- ``deterministic_sample``: keep rows whose md5-derived uniform in [0,1)
  falls under the rate. Shuffle-free scan-side filter; the same row is in
  or out regardless of partitioning, executor count, or engine — which is
  what makes train/eval splits and A/B corpus cuts reproducible.
- ``kmv_distinct``: K-Minimum-Values distinct-count sketch (Bar-Yossef et
  al., RANDOM'02): the k smallest distinct hash values determine the
  estimate (k-1)/h_k. Deterministic given the data, mergeable (union the
  value sets, keep k smallest), and exactly checkable in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

HEX = "0123456789abcdef"


def _hash_frac(col: Column, salt: str) -> Column:
    """md5-derived uniform in [0,1): first 8 hex nibbles / 16^8."""
    h = F.md5(F.concat(F.lit(salt + ":"), col.cast("string")))
    out = F.lit(0).cast("double")
    for i in range(8):
        out = out * 16 + (F.position(F.substring(h, i + 1, 1), F.lit(HEX)) - 1)
    return out / float(16**8)


def deterministic_sample(df: DataFrame, rate: float, key_col: str) -> DataFrame:
    """Reproducible Bernoulli-style sample: row kept iff hash_frac < rate.

    Pure filter — pushes to the scan, no shuffle, independent of partition
    layout.
    """
    return df.filter(_hash_frac(F.col(key_col), "sample") < rate)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV distinct-count estimate per group -> (group, n_hashes, kmv_est).

    Formulation: distinct (group, hash) -> k smallest per group via a
    ranking window -> estimate (k-1)/h_k when the group has >= k distinct
    values, else the exact count (the sketch IS exact below k). One shuffle
    on the group key; at corpus scale the per-partition top-k pre-prune
    (partial sort) bounds the window input. Estimate is deterministic —
    same data, same answer, any engine.
    """
    h = _hash_frac(F.col(value_col), "kmv")
    distinct_h = df.select(F.col(group_col), h.alias("_h")).distinct()
    w = Window.partitionBy(group_col).orderBy("_h")
    topk = distinct_h.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    return topk.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.round(
            F.when(
                F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
            ).otherwise((k - 1) / F.max("_h")),
            2,
        ).alias("kmv_est"),
    )


def hll_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """HyperLogLog distinct-count sketch per group (Flajolet, Fusy,
    Gandouet & Meunier, AofA 2007) -> (group, registers_hit, hll_sum,
    hll_est). The mergeable-register complement to ``kmv_distinct``:
    16 registers (p=4), register index = first md5 hex nibble, register
    value = 1 + leading-zero BITS of the next 48 hash bits. Registers
    merge under max, so the groupBy is map-side combinable and two
    corpora's sketches union by taking per-register maxima — the property
    that makes the sketch a 128-byte mergeable accumulator at 100 TB
    (count distinct tokens across shards without ever shuffling tokens).

    Deterministic cross-engine contract: rank arithmetic is pure string /
    integer ops on the md5 hex (no engine HLL, no FP hashing); the
    harmonic sum adds dyadic rationals 2^-r (exact in IEEE double in any
    order), unhit registers contribute 2^0 = 1 each; the estimate
    alpha_16 * 16^2 / sum is one multiply + one divide (exact-rounded
    IEEE), rounded to 2 dp. No bias correction branch: raw-estimate-only
    keeps the contract free of cross-engine ln()/ulp drift — the consumer
    applies corrections downstream if it wants them.
    """
    hx = F.md5(F.concat(F.lit("hll:"), F.col(value_col).cast("string")))
    keyed = df.select(
        F.col(group_col),
        F.conv(F.substring(hx, 1, 1), 16, 10).cast("int").alias("_reg"),
        F.expr(
            f"trim(LEADING '0' FROM substring(md5(concat('hll:', "
            f"cast({value_col} AS STRING))), 2, 12))"
        ).alias("_stripped"),
    )
    first = F.substring(F.col("_stripped"), 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = F.when(F.col("_stripped") == "", F.lit(49)).otherwise(
        (F.lit(12) - F.length("_stripped")) * 4 + extra + 1
    )
    regs = (
        keyed.select(group_col, "_reg", rank.alias("_rank"))
        .groupBy(group_col, "_reg")
        .agg(F.max("_rank").alias("_mr"))
    )
    agg = regs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("int").alias("registers_hit"),
        F.sum(F.pow(F.lit(2.0), -F.col("_mr"))).alias("_hs"),
    )
    hll_sum = F.col("_hs") + (F.lit(16) - F.col("registers_hit"))
    return agg.select(
        group_col,
        "registers_hit",
        F.round(hll_sum, 6).alias("hll_sum"),
        F.round(F.lit(0.673 * 256.0) / hll_sum, 2).alias("hll_est"),
    )


def _hash_mod(col: Column, salt: str, width: int) -> Column:
    """md5-derived integer bucket in [0, width): first 8 hex nibbles mod width."""
    h = F.md5(F.concat(F.lit(salt + ":"), col.cast("string")))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % width
    ).cast("int")


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
    min_frac: float = 0.005,
) -> DataFrame:
    """Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan, J.Alg 2005)
    -> (value, cms_est, exact_n) for every distinct value whose sketch
    estimate is >= min_frac of the stream length.

    The sketch is ``depth`` rows of ``width`` counters; each occurrence
    increments one counter per row (bucket = md5-derived hash mod width),
    and a value's estimate is the MIN of its ``depth`` counters — an upper
    bound on the true count (one-sided error, never an undercount). All
    integer arithmetic: the oracle checks the EXACT sketch, not a band.

    Scale shape: building the sketch is ``depth`` map-side-combinable
    aggregates collapsing to depth*width cells TOTAL (256 ints here) — the
    fixed-size mergeable accumulator that answers frequency queries over
    100 TB without per-value state; sketches from two corpora merge by
    cell-wise ADDITION. Probing broadcasts those cells back against the
    candidate values (depth tiny broadcast joins + least()); ``exact_n``
    (one groupBy on the value) is the verification readout showing the
    one-sided overestimate — at production scale you keep the sketch and
    drop that column.
    """
    vals = df.select(F.col(value_col).alias("v"))
    keyed = vals.select(
        "v", *[_hash_mod(F.col("v"), f"cms{j}", width).alias(f"b{j}") for j in range(depth)]
    )
    total_row = vals.count()
    threshold = max(1, int(total_row * min_frac))
    cand = keyed.groupBy("v", *[f"b{j}" for j in range(depth)]).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    est = None
    out = cand
    for j in range(depth):
        cells = (
            keyed.groupBy(f"b{j}")
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"c{j}"))
        )
        out = out.join(F.broadcast(cells), f"b{j}")
        ej = F.col(f"c{j}")
        est = ej if est is None else F.least(est, ej)
    return (
        out.select(
            F.col("v").alias(value_col),
            est.alias("cms_est"),
            F.col("exact_n"),
        )
        .filter(F.col("cms_est") >= threshold)
    )


def stratified_rate_expr(
    rates: dict[str, float], strata_col: str, default_rate: float = 0.0
) -> Column:
    """The per-stratum keep-rate CASE expression — the single source of
    truth shared by ``stratified_sample`` and the curation job (so the
    --curate surface can never drift from the contract query)."""
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return rate


def quality_keep_expr(key: Column, text: Column) -> Column:
    """Soft quality-weighted keep decision (keep probability = quality
    score/100, md5-keyed) of the curation job: the predicate of the
    ``t_quality_weighted_sample`` query."""
    from pdf_extractor_spark.operators.textstats import quality_score

    return _hash_frac(key, "qsample") < quality_score(text) / 100.0


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus REBALANCING op
    (downsample the dominant language/source, keep the long tail whole).

    Same md5-keyed uniform as ``deterministic_sample``; the keep threshold
    is a CASE over the stratum column, so the whole thing stays ONE
    scan-side filter (no shuffle, no per-group pass), reproducible across
    partitionings and engines. Strata absent from ``rates`` fall back to
    ``default_rate`` (use 1.0 to keep unlisted strata whole).
    """
    rate = stratified_rate_expr(rates, strata_col, default_rate)
    return df.filter(_hash_frac(F.col(key_col), "strat") < rate)


def _md5_pos(col: Column, salt: str, m_bits: int) -> Column:
    """md5-derived bit position in [0, m_bits): first 8 hex nibbles as an
    int, mod m. Same engine-portable family as ``_hash_frac``."""
    h = F.md5(F.concat(F.lit(salt + ":"), col.cast("string")))
    out = F.lit(0).cast("long")
    for i in range(8):
        out = out * 16 + (F.position(F.substring(h, i + 1, 1), F.lit(HEX)) - 1)
    return F.pmod(out, F.lit(m_bits))


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Distributed Bloom-filter build -> (word_idx, word) bit table, one
    row per SET 32-bit word (m_bits/32 rows max — kilobytes even for
    billion-key filters with appropriate m).

    The membership sketch a crawl pipeline keeps for visited-URL sets and
    cheap decontamination pre-screens. Build shape: each key contributes
    ``k_hashes`` (word_idx, 1<<bit) pairs; one groupBy on word_idx with a
    ``bit_or`` aggregate — map-side partial OR makes the shuffle at most
    m/32 rows per mapper regardless of input size, and the result is
    mergeable across corpus shards by the same bit_or. All positions are
    md5-derived (engine-portable, deterministic).
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    _md5_pos(F.col(key_col), f"bloom{i}", m_bits)
                    for i in range(k_hashes)
                ]
            )
        ).alias("_pos")
    ).select(
        (F.col("_pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(cast(1 as bigint), cast(_pos % 32 as int))").alias(
            "_mask"
        ),
    )
    return pairs.groupBy("word_idx").agg(F.bit_or("_mask").alias("word"))


def bloom_probe(
    bloom: DataFrame,
    df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Probe a Bloom bit table: adds ``might_contain`` per input row.

    Guarantee: every key that was in the build set probes true (no false
    negatives); a miss is definitive. Plan: k position rows per key, a
    BROADCAST join onto the tiny bit table (left join — an unset word may
    have no row at all), then an all-bits-set aggregate per key. The big
    probe side is never shuffled by the join; the per-key aggregate is the
    only exchange.
    """
    pos = df.select(
        F.col(key_col).alias("key"),
        F.posexplode(
            F.array(
                *[
                    _md5_pos(F.col(key_col), f"bloom{i}", m_bits)
                    for i in range(k_hashes)
                ]
            )
        ).alias("_i", "_pos"),
    ).select(
        "key",
        (F.col("_pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(cast(1 as bigint), cast(_pos % 32 as int))").alias(
            "_mask"
        ),
    )
    hit = (
        F.coalesce(F.col("word"), F.lit(0).cast("long")).bitwiseAND(F.col("_mask"))
        == F.col("_mask")
    ).cast("int")
    return (
        pos.join(F.broadcast(bloom), "word_idx", "left")
        .select("key", hit.alias("_hit"))
        .groupBy("key")
        .agg((F.sum("_hit") == k_hashes).alias("might_contain"))
    )


def host_cap(
    df: DataFrame,
    cap: int,
    host_col: str,
    key_col: str,
    score_col: str | None = None,
    shards: int = 16,
) -> DataFrame:
    """Per-host document budget: keep at most ``cap`` rows per host, the
    top-``cap`` by (score DESC, key ASC) — the anti-domain-dominance step
    of web curation (a single link farm or mirror host must not own the
    corpus; C4/RefinedWeb-style per-domain caps).

    Scale shape: a naive ``row_number() OVER (PARTITION BY host)`` puts a
    billion-page host in ONE task. This runs two levels:

      1. pre-prune per (host, shard): shard = pmod(hash(key), shards);
         top-``cap`` within each shard is a guaranteed SUPERSET of the
         global per-host top-``cap`` (any globally-kept row is also in its
         own shard's top-``cap``), so correctness never depends on the
         shard function — only the pruning factor does. Each task sees
         ~1/shards of the hot host.
      2. exact top-``cap`` per host over the ≤ cap*shards survivors —
         bounded input per host regardless of corpus size.

    Output is identical to the single-window form (total order: score
    DESC, key ASC; ties broken by key), independent of ``shards``.
    ``score_col=None`` keeps the ``cap`` smallest keys per host.
    """
    order = (
        [F.col(score_col).desc(), F.col(key_col).asc()]
        if score_col
        else [F.col(key_col).asc()]
    )
    shard = F.pmod(F.hash(F.col(key_col)), F.lit(shards))
    w1 = Window.partitionBy(F.col(host_col), shard).orderBy(*order)
    pruned = (
        df.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= cap)
        .drop("_rn1")
    )
    w2 = Window.partitionBy(host_col).orderBy(*order)
    return (
        pruned.withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= cap)
    )


def target_mix_sample(
    df: DataFrame,
    targets: dict[str, float],
    strata_col: str,
    key_col: str,
    default_target: float = 0.0,
) -> DataFrame:
    """Resample toward TARGET mixture shares (the data-MIXING step of
    curation: Pile/DoReMi-style domain weights, downsample-only).

    Keep probability per stratum = min(1, target_share * N_total /
    N_stratum): over-represented strata are thinned toward their target
    share of the ORIGINAL corpus size; under-represented strata are kept
    whole (no upsampling). Strata absent from ``targets`` get
    ``default_target`` (0.0 = drop them).

    Unlike ``stratified_sample`` the rates are COMPUTED from the data:
    one tiny groupBy-count (n_strata rows) cross-joined with the one-row
    total, broadcast back onto the scan, then the same md5-keyed uniform
    filter — reproducible at any partitioning; the big side is scanned
    once with no wide shuffle. Rates are exact-integer ratios times a
    literal (two IEEE ops, same order both engines).
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").alias("_tot"))
    tgt = F.lit(float(default_target))
    for value, t in sorted(targets.items()):
        tgt = F.when(F.col(strata_col) == value, F.lit(float(t))).otherwise(tgt)
    rates = counts.crossJoin(F.broadcast(total)).select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            tgt
            * F.col("_tot").cast("double")
            / F.col("_n").cast("double"),
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(_hash_frac(F.col(key_col), "mix") < F.col("_rate"))
        .drop("_rate")
    )


def dsir_importance(
    df: DataFrame,
    target_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    n_partitions: int | None = None,
) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al., NeurIPS
    2023 "Data Selection for Language Models via Importance Resampling" —
    public method, from scratch): score every document by how much its
    token distribution looks like a small trusted TARGET subset
    (``target_col`` boolean) relative to the raw corpus, then keep the
    target-like docs.

    Per hashed unigram bucket b the importance ratio is the add-one
    smoothed  p_target(b) / p_raw(b)
      = (tgt_b + 1)(raw_total + B) / ((raw_b + 1)(tgt_total + B)),
    and a document's weight is the mean ratio over its token occurrences.
    DSIR proper works in log space; here each bucket ratio is fixed to
    integer PARTS-PER-MILLION (floor) and summed as exact integers, so
    the result is bit-identical across engines, partitionings and
    summation orders — no float accumulation anywhere. ``keep`` is
    avg_ppm >= 1,000,000, i.e. "more target-like than target-neutral".

    Plan shape: one explode -> two 64-key groupBy counts (map-side
    partial agg collapses each mapper's output to <= B rows regardless of
    corpus size), ratio table of B rows broadcast back onto the token
    stream (broadcast hash join, no shuffle), one groupBy(id). At 100 TB:
    two short-key aggregates + one per-doc aggregate; no window, no
    driver collect, no skew (buckets are md5-uniform).

    Returns (id_col, n_tokens, importance_ppm, avg_ppm, keep).
    """
    from pdf_extractor_spark.operators.dedup import word_tokens

    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(target_col).cast("boolean").alias("_tgt"),
        word_tokens(F.col(text_col)).alias("_t"),
    )
    if n_partitions:
        staged = staged.repartition(n_partitions, "id")
    toks = staged.select("id", "_tgt", F.explode("_t").alias("tok")).select(
        "id", "_tgt", _md5_pos(F.col("tok"), "dsir", n_buckets).alias("bucket")
    )
    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("tgt_c"),
    )
    totals = counts.agg(
        F.sum("raw_c").alias("raw_tot"), F.sum("tgt_c").alias("tgt_tot")
    )
    b = F.lit(n_buckets).cast("bigint")
    ratios = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                (F.col("tgt_c").cast("bigint") + 1)
                * (F.col("raw_tot").cast("bigint") + b)
                * F.lit(1_000_000).cast("bigint")
            )
            .cast("bigint")
            .alias("_num"),
            (
                (F.col("raw_c").cast("bigint") + 1)
                * (F.col("tgt_tot").cast("bigint") + b)
            )
            .cast("bigint")
            .alias("_den"),
        )
        .select(
            "bucket", F.expr("_num DIV _den").cast("bigint").alias("ratio_ppm")
        )
    )
    doc = (
        toks.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("ratio_ppm").cast("bigint").alias("importance_ppm"),
        )
    )
    avg = F.expr("importance_ppm DIV n_tokens").cast("bigint")
    return doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "importance_ppm",
        avg.alias("avg_ppm"),
        (avg >= F.lit(1_000_000)).alias("keep"),
    )


def temperature_mix_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based multilingual mixing (the alpha-sampling of
    multilingual LM training — Lample & Conneau 2019 §3.1, mBERT/mT5
    recipes; public method): target share q_l ∝ p_l^alpha flattens the
    language distribution, and each stratum is DOWNSAMPLED toward its
    target with the md5-keyed uniform (rates capped at 1 — no
    upsampling; alpha=1 is a no-op, alpha→0 approaches uniform).

    keep_rate_l = min(1, q_l · N / n_l),  q_l = p_l^alpha / Σ_m p_m^alpha

    Rates are computed from exact counts and rounded to 6 dp before the
    hash comparison so an external engine reproduces every keep decision.
    Plan: one |strata|-row groupBy + broadcast rate join + scan-side
    filter — same shape as ``target_mix_sample`` with the targets
    computed instead of given.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    tot = counts.agg(
        F.sum("_n").alias("_tot"),
        F.sum(F.pow(F.col("_n").cast("double"), F.lit(alpha))).alias("_ps"),
    )
    # p_l^alpha / Σ p_m^alpha == n_l^alpha / Σ n_m^alpha (N^alpha cancels)
    rates = counts.crossJoin(F.broadcast(tot)).select(
        F.col(strata_col),
        F.least(
            F.lit(1.0),
            F.round(
                F.pow(F.col("_n").cast("double"), F.lit(alpha))
                / F.col("_ps")
                * F.col("_tot").cast("double")
                / F.col("_n").cast("double"),
                6,
            ),
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(_hash_frac(F.col(key_col), "tmix") < F.col("_rate"))
        .drop("_rate")
    )


def curriculum_interleave(
    df: DataFrame,
    score_col: str,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum ordering for training data (Bengio et al. ICML 2009;
    the data-ordering step of curriculum recipes): every document gets a
    GLOBAL position that goes easy -> hard (descending ``score_col``)
    while round-robin interleaving languages, so early training sees easy
    examples from every language instead of one dominant language's easy
    head.

    No global window anywhere (an unpartitioned ``row_number`` serializes
    the corpus on one task). Two tricks instead:

    1. Within-language rank via the two-level shard pattern
       (m_pack_sequences discipline): rank inside (lang, score-bucket)
       partitions — buckets are trunc(score / 10,000), monotone in
       score — then add per-(lang, bucket) prefix offsets computed from a
       collected counts table (|langs| x |buckets| rows, bounded).
    2. The interleave position in CLOSED FORM from the |langs|-row count
       table: a doc at within-language rank r in language L sits at
       1 + sum_l min(r-1, n_l) + |{l < L : n_l >= r}| — docs of smaller
       rank from every language precede it, plus same-rank docs from
       lexicographically earlier languages. No second ranking pass at all.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col), F.col(lang_col).alias("lang"), F.col(score_col)
    )
    bucket = F.expr(f"{score_col} div 10000").alias("_bk")
    staged = base.select("*", bucket)
    w = Window.partitionBy("lang", "_bk").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    ranked = staged.select(
        "*", F.row_number().over(w).cast("long").alias("_rk")
    )
    counts = (
        staged.groupBy("lang", "_bk").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    # prefix offsets: easy-first = HIGHER buckets first within each lang
    by_lang: dict[str, list] = {}
    for r in counts:
        by_lang.setdefault(r["lang"], []).append((r["_bk"], r["n"]))
    offsets = []
    lang_totals: dict[str, int] = {}
    for lang, rows in by_lang.items():
        acc = 0
        for bk, n in sorted(rows, key=lambda t: -t[0]):
            offsets.append((lang, bk, acc))
            acc += n
        lang_totals[lang] = acc
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets, "lang string, _bk long, _off long"
    )
    r = (
        ranked.join(F.broadcast(off_df), ["lang", "_bk"])
        .select(
            id_col,
            "lang",
            score_col,
            (F.col("_off") + F.col("_rk")).alias("lang_rank"),
        )
    )
    # closed-form interleave position from the |langs|-row totals
    pos = F.lit(1).cast("long")
    for lang, n_l in sorted(lang_totals.items()):
        pos = pos + F.least(
            F.col("lang_rank") - 1, F.lit(n_l).cast("long")
        )
        pos = pos + F.when(
            (F.lit(lang) < F.col("lang"))
            & (F.lit(n_l) >= F.col("lang_rank")),
            1,
        ).otherwise(0)
    # the doc's own language contributes min(r-1, n_l) of ITSELF — correct:
    # its earlier-ranked docs precede it; same-rank same-lang is itself.
    return r.select(
        id_col, "lang", score_col, "lang_rank", pos.alias("curriculum_pos")
    )
