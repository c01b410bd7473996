"""Round-3: hard negatives, LM counts, mojibake repair, rank fusion.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    S,
    SparkSession,
    T,
    Window,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _MESSY_URL_SQL,
    _messy_url_col,
)


# =============================================================================
# Round-3 additions: hard-negative mining, LM count tables, mojibake repair,
# rank-fusion quality scoring (beyond-reference training-data ops)
# =============================================================================


@query(
    "e_hard_negatives",
    """
    WITH planes AS (
      SELECT p, d,
             (((strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 4, 1)) - 1))
              / 32768.0) - 1.0 AS w
      FROM range(6) t1(p), range(64) t2(d)),
    e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings),
    proj AS (
      SELECT e2.vec_id, planes.p, sum(e2.v * planes.w) AS s
      FROM e2 JOIN planes USING (d) GROUP BY e2.vec_id, planes.p),
    b AS (
      SELECT vec_id,
             cast(sum(CASE WHEN s >= 0 THEN power(2, p)::bigint ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id),
    k AS (SELECT b.vec_id AS id, label, bucket, embedding AS v
          FROM b JOIN embeddings ON b.vec_id = embeddings.vec_id),
    cand AS (
      SELECT a.id AS anchor_id, bb.id AS neg_id, bb.label AS neg_label,
             round(list_dot_product(a.v::DOUBLE[], bb.v::DOUBLE[])
                   / (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[]))
                      * sqrt(list_dot_product(bb.v::DOUBLE[], bb.v::DOUBLE[]))), 6)
               AS cosine_sim
      FROM k a JOIN k bb
        ON a.bucket = bb.bucket AND a.label != bb.label),
    r AS (
      SELECT anchor_id, neg_id, neg_label, cosine_sim,
             cast(row_number() OVER (
               PARTITION BY anchor_id
               ORDER BY cosine_sim DESC, neg_id) AS INT) AS rank
      FROM cand)
    SELECT anchor_id, neg_id, neg_label, cosine_sim, rank
    FROM r WHERE rank <= 3
    """,
)
def e_hard_neg(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining (beyond-reference training-data op): per anchor
    vector, the 3 most-similar vectors with a DIFFERENT label, via
    SRP-bucket blocking + exact rescore + per-anchor top-k window —
    the candidate generator a contrastive-training pipeline runs over the
    whole corpus. No cross join; see operators/similarity.py."""
    e = _t(spark, sf, "embeddings")
    return S.hard_negative_pairs(e, k=3, n_planes=6)


@query(
    "m_ngram_counts",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS g FROM toks),
    bi AS (
      SELECT unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks),
    cu AS (SELECT g, count(*) AS c FROM uni GROUP BY g),
    cb AS (SELECT g, count(*) AS c FROM bi GROUP BY g)
    SELECT 1 AS ngram_order, count(*) AS n_types,
           cast(sum(c) AS BIGINT) AS n_tokens,
           cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           cast(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     + 2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
                           / (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              + 2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)), 6)
           END AS kn_discount
    FROM cu
    UNION ALL
    SELECT 2, count(*), cast(sum(c) AS BIGINT),
           cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT),
           cast(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT),
           CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     + 2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) = 0
                THEN NULL
                ELSE round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
                           / (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              + 2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)), 6)
           END
    FROM cb
    """,
)
def m_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram LM count-of-counts table (beyond-reference training op): per
    order (1, 2) the type/token counts plus the singleton/doubleton counts
    n1, n2 and the Kneser-Ney absolute discount D = n1/(n1+2*n2) (Ney et
    al. 1994 — the ingredients an n-gram LM trainer aggregates from the
    corpus before smoothing). Plan: tokens staged once behind a
    repartition barrier, bigrams via zip_with over shifted slices (array
    inputs evaluate once per row — index lambdas would re-evaluate per
    element), one explode + two map-side-combinable groupBys per order."""
    d = _t(spark, sf, "documents")
    toks = d.repartition(_par(spark), "doc_id").select(
        F.split(F.col("text"), " ").alias("t")
    )
    sz = F.size(F.col("t"))
    uni = toks.select(F.explode(F.col("t")).alias("g"))
    bi = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, sz - 1),
                F.slice(F.col("t"), 2, sz - 1),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        ).alias("g")
    )

    def order_stats(grams: DataFrame, order: int) -> DataFrame:
        c = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        n1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        n2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        agg = c.agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").alias("n_tokens"),
            n1.alias("n1"),
            n2.alias("n2"),
        )
        denom = F.col("n1") + 2 * F.col("n2")
        return agg.select(
            F.lit(order).alias("ngram_order"),
            F.col("n_types"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.when(denom == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("n1").cast("double") / denom, 6))
            .alias("kn_discount"),
        )

    return order_stats(uni, 1).unionAll(order_stats(bi, 2))


# cp1252-mojibake digraphs -> the intended UTF-8 character (the classic
# "UTF-8 bytes decoded as cp1252" corruption; ftfy-class repair, from
# scratch as a replace chain — only unambiguous sequences, applied in a
# fixed order). Kept as module data so the Spark and DuckDB sides are
# generated from ONE table.
_MOJIBAKE_FIXES: list[tuple[str, str]] = [
    ("â€™", "’"),  # â€™  -> ’
    ("â€œ", "“"),  # â€œ  -> “
    ("â€”", "—"),  # â€” (E2 80 94) -> em dash
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã¯", "ï"),  # Ã¯ -> ï
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ã¶", "ö"),  # Ã¶ -> ö
]

# deterministic injected dirt (dense in the fixable set) — SQL twin built
# from codepoints so both engines concatenate identical strings
_MOJIBAKE_DIRT = (
    " cafÃ© â€™quotedâ€œ "
    "naÃ¯ve Ã¼ber seÃ±or crÃ¨me "
    "kÃ¶nig dashâ€” end"
)


def _sql_chr_concat(s: str) -> str:
    """Render a python string as a DuckDB concat of chr() calls (safe for
    any codepoint, avoids quoting issues in oracle SQL)."""
    return " || ".join(f"chr({ord(ch)})" for ch in s)


_MOJIBAKE_DIRT_SQL = _sql_chr_concat(_MOJIBAKE_DIRT)
_MOJIBAKE_FIX_SQL = "dirty"
for _bad, _good in _MOJIBAKE_FIXES:
    _MOJIBAKE_FIX_SQL = (
        f"replace({_MOJIBAKE_FIX_SQL}, {_sql_chr_concat(_bad)},"
        f" {_sql_chr_concat(_good)})"
    )


@query(
    "t_mojibake_fix",
    f"""
    WITH d0 AS (
      SELECT doc_id,
             substr(text, 1, 40) || {_MOJIBAKE_DIRT_SQL} AS dirty
      FROM documents),
    f AS (SELECT doc_id, dirty, {_MOJIBAKE_FIX_SQL} AS fixed FROM d0)
    SELECT doc_id, fixed,
           cast(length(dirty) - length(fixed) AS INT) AS n_chars_fixed,
           (strpos(fixed, chr(195)) = 0
            AND strpos(fixed, chr(226) || chr(8364)) = 0) AS mojibake_free
    FROM f
    """,
)
def t_mojibake(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-damage repair (beyond-reference corpus prep): fixes the
    classic 'UTF-8 bytes decoded as cp1252' mojibake (cafÃ© -> café,
    â€™ -> ’) with a fixed-order replace chain over unambiguous digraphs —
    the ftfy-class cleanup a crawl corpus needs before tokenization.
    Dirt is injected deterministically so both engines repair identical
    strings; the replacement table is module data and the oracle SQL is
    GENERATED from it (one source of truth). Pure codegen projection:
    chained string replaces, no shuffle, scan-parallel at any scale."""
    d = _t(spark, sf, "documents")
    dirty = F.concat(F.substring(F.col("text"), 1, 40), F.lit(_MOJIBAKE_DIRT))
    fixed = dirty
    for bad, good in _MOJIBAKE_FIXES:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    out = d.select("doc_id", dirty.alias("dirty"), fixed.alias("fixed"))
    return out.select(
        "doc_id",
        "fixed",
        (F.length("dirty") - F.length("fixed")).cast("int").alias(
            "n_chars_fixed"
        ),
        (
            (F.instr(F.col("fixed"), "Ã") == 0)
            & (F.instr(F.col("fixed"), "â€") == 0)
        ).alias("mojibake_free"),
    )


def _global_rank_desc(
    df: DataFrame, val_col: str, bucket: "F.Column", id_col: str = "doc_id"
) -> DataFrame:
    """Exact global row_number over (value DESC, id ASC) WITHOUT an
    unpartitioned window: rank within a monotone coarse bucket of the value
    (partitioned window), then add the broadcast count of rows in higher
    buckets — the same two-level shape as ``_dotted_rank``. ``bucket`` must
    be monotone non-decreasing in the value so (bucket DESC, value DESC)
    equals the global value order. Scale: the offsets side is |buckets|
    rows; no task ever sees more than one bucket's rows."""
    keyed = df.select(id_col, F.col(val_col).alias("_v"), bucket.alias("_b"))
    w_in = Window.partitionBy("_b").orderBy(F.col("_v").desc(), F.col(id_col))
    ranked = keyed.withColumn("_rn", F.row_number().over(w_in))
    counts = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(F.broadcast(y), F.col("y._b") > F.col("x._b"), "left")
        .groupBy(F.col("x._b").alias("_b"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    return ranked.join(F.broadcast(offsets), "_b").select(
        id_col, (F.col("_off") + F.col("_rn")).cast("int").alias("rank")
    )


@query(
    "t_quality_rrf",
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')), 6) AS dfrac,
             round(length(replace(text, ' ', ''))::DOUBLE
                   / len(string_split(text, ' ')), 6) AS wlen
      FROM documents),
    r AS (
      SELECT doc_id,
             cast(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS INT)
               AS r_len,
             cast(row_number() OVER (ORDER BY dfrac DESC, doc_id) AS INT)
               AS r_distinct,
             cast(row_number() OVER (ORDER BY wlen DESC, doc_id) AS INT)
               AS r_wordlen
      FROM s)
    SELECT doc_id, r_len, r_distinct, r_wordlen,
           round(1.0::DOUBLE / (60 + r_len)
                 + 1.0::DOUBLE / (60 + r_distinct)
                 + 1.0::DOUBLE / (60 + r_wordlen), 6) AS rrf_score
    FROM r
    """,
)
def t_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank-fusion quality score (beyond-reference curation op):
    three cheap quality signals (length, distinct-token fraction, mean
    word length) are each ranked globally and fused with RRF
    (Cormack/Clarke/Buettcher SIGIR'09: score = sum 1/(60+rank)) — the
    standard way to combine heterogeneous quality signals without tuning
    weights. Every global rank uses the two-level bucket-rank + broadcast
    offsets plan (``_global_rank_desc``): no unpartitioned window anywhere,
    so no signal ever serializes the corpus through one task."""
    d = _t(spark, sf, "documents")
    toks = d.repartition(_par(spark), "doc_id").select(
        "doc_id",
        "n_chars",
        F.split(F.col("text"), " ").alias("t"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("_nsp"),
    )
    sz = F.size(F.col("t"))
    sig = toks.select(
        "doc_id",
        F.col("n_chars"),
        F.round(
            F.size(F.array_distinct(F.col("t"))).cast("double") / sz, 6
        ).alias("dfrac"),
        F.round(F.col("_nsp").cast("double") / sz, 6).alias("wlen"),
    ).localCheckpoint()
    r_len = _global_rank_desc(sig, "n_chars", F.col("n_chars"))
    r_dis = _global_rank_desc(
        sig, "dfrac", F.floor(F.col("dfrac") * 64).cast("int")
    )
    r_wln = _global_rank_desc(
        sig, "wlen", F.floor(F.col("wlen") * 8).cast("int")
    )
    fused = (
        r_len.withColumnRenamed("rank", "r_len")
        .join(r_dis.withColumnRenamed("rank", "r_distinct"), "doc_id")
        .join(r_wln.withColumnRenamed("rank", "r_wordlen"), "doc_id")
    )
    rrf = (
        F.lit(1.0) / (60 + F.col("r_len"))
        + F.lit(1.0) / (60 + F.col("r_distinct"))
        + F.lit(1.0) / (60 + F.col("r_wordlen"))
    )
    return fused.select(
        "doc_id",
        "r_len",
        "r_distinct",
        "r_wordlen",
        F.round(rrf, 6).alias("rrf_score"),
    )


@query(
    "u_fetch_schedule",
    f"""
    WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    h AS (
      SELECT doc_id,
             regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':[0-9]+$', '') AS host
      FROM raw),
    r AS (
      SELECT doc_id, host,
             cast(row_number() OVER (PARTITION BY host ORDER BY doc_id)
                  AS INT) AS queue_pos
      FROM h),
    d AS (
      SELECT doc_id, host, queue_pos,
             cast(100 * (1 + strpos('0123456789abcdef',
                                    substr(md5(host), 1, 1))) AS INT)
               AS delay_ms
      FROM r)
    SELECT doc_id, host, queue_pos, delay_ms,
           cast((queue_pos - 1) * delay_ms AS BIGINT) AS scheduled_ms
    FROM d
    """,
)
def u_fetch_sched(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness-aware crawl scheduling (beyond-reference crawl op): each
    url gets a deterministic position in its host's FIFO fetch queue and a
    per-host crawl delay (md5-derived stand-in for a robots.txt
    Crawl-delay), so scheduled_ms = (pos-1)*delay is the earliest polite
    fetch time — the frontier-scheduling step of a distributed crawler
    (Heydon & Najork, Mercator, WWW'99). The per-host queue position is
    computed WITHOUT a per-host window over the whole host (a giant host
    would serialize one task): rank within (host, doc_id-range bucket) +
    broadcast per-bucket prefix offsets — the same two-level shape as
    m_pack_sequences' sharded prefix sums; bucket width is the scale knob
    (W ~ N/S keeps the offsets table broadcastable)."""
    from pdf_extractor_spark.functions.urls import HOSTPORT_RE

    d = _t(spark, sf, "documents")
    messy = _messy_url_col()
    host = F.regexp_replace(
        F.lower(F.regexp_extract(messy, HOSTPORT_RE, 1)), r":[0-9]+$", ""
    )
    docs = d.repartition(_par(spark), "doc_id").select(
        "doc_id", host.alias("host")
    )
    keyed = docs.withColumn("_b", F.floor(F.col("doc_id") / 64).cast("int"))
    w_in = Window.partitionBy("host", "_b").orderBy("doc_id")
    ranked = keyed.withColumn("_rn", F.row_number().over(w_in))
    counts = keyed.groupBy("host", "_b").agg(F.count(F.lit(1)).alias("_cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(
            F.broadcast(y),
            (F.col("y.host") == F.col("x.host"))
            & (F.col("y._b") < F.col("x._b")),
            "left",
        )
        .groupBy(F.col("x.host").alias("host"), F.col("x._b").alias("_b"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    pos = ranked.join(F.broadcast(offsets), ["host", "_b"]).select(
        "doc_id",
        "host",
        (F.col("_off") + F.col("_rn")).cast("int").alias("queue_pos"),
    )
    delay = (
        100
        * (
            1
            + F.position(
                F.substring(F.md5(F.encode(F.col("host"), "UTF-8")), 1, 1),
                F.lit("0123456789abcdef"),
            )
        )
    ).cast("int")
    return pos.withColumn("delay_ms", delay).select(
        "doc_id",
        "host",
        "queue_pos",
        "delay_ms",
        ((F.col("queue_pos") - 1).cast("bigint") * F.col("delay_ms"))
        .cast("bigint")
        .alias("scheduled_ms"),
    )


@query(
    "e_diversity_sample",
    """
    WITH planes AS (
      SELECT p, d,
             (((strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(concat(p, '_', d)), 4, 1)) - 1))
              / 32768.0) - 1.0 AS w
      FROM range(8) t1(p), range(64) t2(d)),
    e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings),
    proj AS (
      SELECT e2.vec_id, planes.p, sum(e2.v * planes.w) AS s
      FROM e2 JOIN planes USING (d) GROUP BY e2.vec_id, planes.p),
    b AS (
      SELECT vec_id,
             cast(sum(CASE WHEN s >= 0 THEN power(2, p)::bigint ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY vec_id)
    SELECT bucket, min(vec_id) AS rep_id, count(*) AS bucket_size
    FROM b GROUP BY bucket
    """,
)
def e_div_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Diversity-preserving downsampling (beyond-reference embedding op):
    one representative per SRP-LSH bucket — a coreset-style subset whose
    members are mutually dissimilar (each bucket collapses a cone of
    similar vectors to its lowest id, the prototype-selection half of
    SemDeDup without the exact rescore). One groupBy on the short bucket
    key, map-side combinable; representative choice (min id) is
    deterministic at any partitioning."""
    e = _t(spark, sf, "embeddings")
    planes = S.hyperplanes(8, 64)
    b = e.select(
        "vec_id",
        S.srp_bucket(F.col("embedding"), planes).cast("bigint").alias(
            "bucket"
        ),
    )
    return b.groupBy("bucket").agg(
        F.min("vec_id").alias("rep_id"),
        F.count(F.lit(1)).alias("bucket_size"),
    )


@query(
    "w_sitemap_parse",
    """
    WITH e AS (
      SELECT 'www.example' || cast(doc_id % 7 AS VARCHAR) || '.com' AS host,
             '<url><loc>https://www.example' || cast(doc_id % 7 AS VARCHAR)
             || '.com/articles/' || cast(doc_id AS VARCHAR) || '</loc>'
             || '<lastmod>'
             || strftime(DATE '2024-01-01' + INTERVAL (doc_id % 365) DAY,
                         '%Y-%m-%d')
             || '</lastmod><changefreq>'
             || CASE doc_id % 3 WHEN 0 THEN 'daily'
                                WHEN 1 THEN 'weekly'
                                ELSE 'monthly' END
             || '</changefreq></url>' AS entry
      FROM documents),
    sm AS (
      SELECT host,
             '<?xml version="1.0"?><urlset>'
             || string_agg(entry, '' ORDER BY entry) || '</urlset>' AS xml
      FROM e GROUP BY host),
    parsed AS (
      SELECT host,
             regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1) AS locs,
             regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1) AS mods,
             regexp_extract_all(xml, '<changefreq>([^<]*)</changefreq>', 1)
               AS freqs
      FROM sm)
    SELECT host,
           unnest(locs) AS loc,
           unnest(mods) AS lastmod,
           unnest(freqs) AS changefreq
    FROM parsed
    """,
)
def w_sitemap(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap ingestion (beyond-reference crawl source): one sitemap.xml
    per host is synthesized byte-identically in both engines from the
    documents table, then both engines PARSE it back into one row per
    (host, loc, lastmod, changefreq) — the url-discovery feed a crawler
    merges into its frontier (sitemaps.org protocol). Parse is pure
    codegen: three regexp_extract_all projections zipped positionally and
    exploded inline (the generator child is an expression, so no inferred
    isnotnull/size guard lands in the scan — SCALE.md §'expression-plan
    hygiene'). One groupBy(host) builds the per-host XML; entries are
    sorted so collect_list nondeterminism never reaches the bytes."""
    d = _t(spark, sf, "documents")
    host = F.concat(
        F.lit("www.example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com"),
    )
    entry = F.concat(
        F.lit("<url><loc>https://"),
        host,
        F.lit("/articles/"),
        F.col("doc_id").cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 365).cast("int")),
            "yyyy-MM-dd",
        ),
        F.lit("</lastmod><changefreq>"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("daily"))
        .when(F.col("doc_id") % 3 == 1, F.lit("weekly"))
        .otherwise(F.lit("monthly")),
        F.lit("</changefreq></url>"),
    )
    sm = (
        d.select(host.alias("host"), entry.alias("entry"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.concat_ws("", F.array_sort(F.collect_list("entry"))),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = sm.select(
        "host",
        F.regexp_extract_all(F.col("xml"), F.lit("<loc>([^<]*)</loc>"), 1).alias("locs"),
        F.regexp_extract_all(
            F.col("xml"), F.lit("<lastmod>([^<]*)</lastmod>"), 1
        ).alias("mods"),
        F.regexp_extract_all(
            F.col("xml"), F.lit("<changefreq>([^<]*)</changefreq>"), 1
        ).alias("freqs"),
    )
    return parsed.select(
        "host",
        F.explode(
            F.arrays_zip(
                F.col("locs").alias("loc"),
                F.col("mods").alias("lastmod"),
                F.col("freqs").alias("changefreq"),
            )
        ).alias("z"),
    ).select(
        "host",
        F.col("z.loc").alias("loc"),
        F.col("z.lastmod").alias("lastmod"),
        F.col("z.changefreq").alias("changefreq"),
    )


@query(
    "u_crawl_budget",
    f"""
    WITH raw AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    h AS (
      SELECT regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':[0-9]+$', '') AS host
      FROM raw),
    w AS (SELECT host, count(*) AS n_docs FROM h GROUP BY host),
    tot AS (SELECT sum(n_docs) AS total FROM w),
    base AS (
      SELECT host, n_docs,
             cast((10000 * n_docs) // total AS BIGINT) AS base_quota,
             cast((10000 * n_docs) % total AS BIGINT) AS rem
      FROM w, tot),
    leftover AS (SELECT 10000 - sum(base_quota) AS r FROM base),
    ranked AS (
      SELECT host, n_docs, base_quota,
             cast(row_number() OVER (ORDER BY rem DESC, host) AS INT)
               AS rem_rank
      FROM base)
    SELECT host, n_docs, base_quota,
           cast(base_quota
                + (CASE WHEN rem_rank <= (SELECT r FROM leftover)
                        THEN 1 ELSE 0 END) AS BIGINT) AS quota
    FROM ranked
    """,
)
def u_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-budget allocation (beyond-reference crawl planning): a total
    fetch budget (10,000) is split across hosts proportionally to host
    weight (doc count here; pagerank/quality in production) by the
    largest-remainder method — floor quotas first, then the leftover goes
    to the hosts with the largest remainders (ties by host asc). All
    integer arithmetic: repartitioning can never flip a quota. Plan: the
    host-weight table is a groupBy over the corpus (map-side combinable);
    total and leftover are 1-row aggregates collected driver-side (two
    scalar literals, the k-means-centroid class of legitimate collect);
    the remainder rank uses the two-level _global_rank_desc (never a bare
    global window), so even 10^8 hosts rank without a single-task sort."""
    from pdf_extractor_spark.functions.urls import HOSTPORT_RE

    d = _t(spark, sf, "documents")
    messy = _messy_url_col()
    host = F.regexp_replace(
        F.lower(F.regexp_extract(messy, HOSTPORT_RE, 1)), r":[0-9]+$", ""
    )
    w = (
        d.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint()
    )
    total = int(w.agg(F.sum("n_docs")).first()[0])
    budget = 10000
    base = w.select(
        "host",
        "n_docs",
        # DIV = exact integer floor division (matches DuckDB's `//`);
        # floor(double division) could round differently near 2^53
        F.expr(f"CAST(({budget} * n_docs) DIV {total} AS BIGINT)").alias(
            "base_quota"
        ),
        (budget * F.col("n_docs") % F.lit(total)).cast("bigint").alias("rem"),
    ).localCheckpoint()
    leftover = budget - int(base.agg(F.sum("base_quota")).first()[0])
    ranks = _global_rank_desc(
        base,
        "rem",
        F.floor(F.col("rem") * 64 / F.lit(total)).cast("int"),
        id_col="host",
    ).withColumnRenamed("rank", "rem_rank")
    return base.join(ranks, "host").select(
        "host",
        "n_docs",
        "base_quota",
        (
            F.col("base_quota")
            + F.when(F.col("rem_rank") <= F.lit(leftover), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    )


_SEG20_SQL = """
      SELECT doc_id, lang,
             unnest(list_transform(
               range(cast(floor((len(string_split(text, ' ')) - 1) / 20)
                          AS BIGINT) + 1),
               i -> array_to_string(
                 list_slice(string_split(text, ' '),
                            i * 20 + 1, i * 20 + 20), ' '))) AS seg_text
      FROM documents"""

_SEG_LANGID_SQL = r"""
      SELECT doc_id, lang,
        CASE WHEN length(regexp_extract_all(seg_text, '[一-鿿]')) > 0 THEN 'zh'
             WHEN greatest(en, de, fr, es) = 0 THEN 'und'
             WHEN en = greatest(en, de, fr, es) THEN 'en'
             WHEN de = greatest(en, de, fr, es) THEN 'de'
             WHEN fr = greatest(en, de, fr, es) THEN 'fr'
             ELSE 'es' END AS seg_lang
      FROM (
        SELECT doc_id, lang, seg_text,
          length(regexp_extract_all(lower(seg_text), '\b(the|and|of|to|in|is|that|for)\b')) AS en,
          length(regexp_extract_all(lower(seg_text), '\b(der|die|und|das|ist|nicht|ein|mit)\b')) AS de,
          length(regexp_extract_all(lower(seg_text), '\b(le|la|et|les|des|est|dans|que)\b')) AS fr,
          length(regexp_extract_all(lower(seg_text), '\b(el|la|los|las|es|en|una|por)\b')) AS es
        FROM segs)"""


@query(
    "t_paragraph_langid",
    f"""
    WITH segs AS ({_SEG20_SQL}),
    sl AS ({_SEG_LANGID_SQL}),
    cnt AS (
      SELECT doc_id, seg_lang, count(*) AS c
      FROM sl GROUP BY doc_id, seg_lang),
    tot AS (SELECT doc_id, count(*) AS n_segments FROM sl GROUP BY doc_id),
    dom AS (
      SELECT doc_id, seg_lang AS dominant_lang, c,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, seg_lang) AS rn
      FROM cnt)
    SELECT d.doc_id, d.dominant_lang, t.n_segments,
           round(d.c::DOUBLE / t.n_segments, 4) AS lang_consistency
    FROM dom d JOIN tot t ON d.doc_id = t.doc_id
    WHERE d.rn = 1
    """,
)
def t_para_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Per-paragraph language ID + document language-consistency score
    (the CCNet/fastText recipe applies LID per paragraph, not per page —
    Wenzek et al. LREC 2020): 20-token segments each get the engine's
    n-gram-heuristic LID; the document reports its dominant segment
    language and the fraction of segments agreeing with it — the signal
    that catches boilerplate-mixed and code-switched pages a page-level
    LID calls clean. Plan: token_segments' staged posexplode, a
    scan-side LID CASE per segment, two groupBys + one doc-partitioned
    top-1 window (bounded by a doc's distinct predicted languages)."""
    from pdf_extractor_spark.operators.dedup import token_segments

    d = _t(spark, sf, "documents")
    segs = token_segments(
        d, seg_tokens=20, n_partitions=_par(spark)
    ).select(
        F.col("id").alias("doc_id"),
        T.language_id(F.col("seg_text")).alias("seg_lang"),
    )
    cnt = segs.groupBy("doc_id", "seg_lang").agg(F.count(F.lit(1)).alias("c"))
    tot = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("seg_lang"))
    dom = cnt.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return dom.join(tot, "doc_id").select(
        "doc_id",
        F.col("seg_lang").alias("dominant_lang"),
        "n_segments",
        F.round(F.col("c").cast("double") / F.col("n_segments"), 4).alias(
            "lang_consistency"
        ),
    )


@query(
    "u_outlinks_resolved",
    """
    WITH hrefs AS (
      SELECT doc_id,
             'example' || cast(doc_id % 7 AS VARCHAR) || '.com' AS base_host,
             '/articles/' || cast(doc_id % 50 AS VARCHAR) AS base_path,
             unnest([
               'https://www.other' || cast(doc_id % 5 AS VARCHAR) || '.com/x',
               '//cdn.example' || cast(doc_id % 3 AS VARCHAR) || '.com/lib.js',
               '/nav/' || cast(doc_id % 9 AS VARCHAR),
               'article-' || cast(doc_id % 20 AS VARCHAR) || '.html',
               '../tag/' || cast(doc_id % 11 AS VARCHAR),
               '?page=' || cast(doc_id % 4 AS VARCHAR),
               '#section-' || cast(doc_id % 6 AS VARCHAR)
             ]) AS href
      FROM documents)
    SELECT doc_id, href,
           CASE
             WHEN regexp_matches(href, '^(?i)https?://') THEN 'absolute'
             WHEN href LIKE '//%' THEN 'protocol_relative'
             WHEN href LIKE '/%' THEN 'root_relative'
             WHEN href LIKE '../%' THEN 'parent_relative'
             WHEN href LIKE '?%' THEN 'query_only'
             WHEN href LIKE '#%' THEN 'fragment'
             ELSE 'relative'
           END AS link_kind,
           CASE
             WHEN regexp_matches(href, '^(?i)https?://') THEN href
             WHEN href LIKE '//%' THEN 'https:' || href
             WHEN href LIKE '/%' THEN 'https://' || base_host || href
             WHEN href LIKE '../%'
               THEN 'https://' || base_host || '/' || substr(href, 4)
             WHEN href LIKE '?%'
               THEN 'https://' || base_host || base_path || href
             WHEN href LIKE '#%' THEN 'https://' || base_host || base_path
             ELSE 'https://' || base_host || '/articles/' || href
           END AS resolved
    FROM hrefs
    """,
)
def u_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Relative-link resolution against the page base url (RFC 3986 §5,
    the documented simplified subset: absolute pass-through,
    protocol-relative, root-relative, single parent hop, query-only,
    fragment-drop, and same-directory relative) — the step u_outlinks'
    absolute-only contract delegates to the crawler; with it, ALL page
    hrefs feed the frontier/host graph, not just absolute ones. Every
    branch is a scan-side CASE over string prefixes: zero shuffle, zero
    UDF, embarrassingly parallel at any scale. href variants are
    synthesized deterministically (dense in the branch set) so both
    engines resolve identical inputs."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    base_host = F.concat(
        F.lit("example"), (did % 7).cast("string"), F.lit(".com")
    )
    base_path = F.concat(F.lit("/articles/"), (did % 50).cast("string"))
    variants = F.array(
        F.concat(F.lit("https://www.other"), (did % 5).cast("string"), F.lit(".com/x")),
        F.concat(F.lit("//cdn.example"), (did % 3).cast("string"), F.lit(".com/lib.js")),
        F.concat(F.lit("/nav/"), (did % 9).cast("string")),
        F.concat(F.lit("article-"), (did % 20).cast("string"), F.lit(".html")),
        F.concat(F.lit("../tag/"), (did % 11).cast("string")),
        F.concat(F.lit("?page="), (did % 4).cast("string")),
        F.concat(F.lit("#section-"), (did % 6).cast("string")),
    )
    rows = d.select(
        "doc_id",
        base_host.alias("base_host"),
        base_path.alias("base_path"),
        F.explode(variants).alias("href"),
    )
    h = F.col("href")
    is_abs = h.rlike(r"^(?i)https?://")
    kind = (
        F.when(is_abs, F.lit("absolute"))
        .when(h.startswith("//"), F.lit("protocol_relative"))
        .when(h.startswith("/"), F.lit("root_relative"))
        .when(h.startswith("../"), F.lit("parent_relative"))
        .when(h.startswith("?"), F.lit("query_only"))
        .when(h.startswith("#"), F.lit("fragment"))
        .otherwise(F.lit("relative"))
    )
    bh, bp = F.col("base_host"), F.col("base_path")
    resolved = (
        F.when(is_abs, h)
        .when(h.startswith("//"), F.concat(F.lit("https:"), h))
        .when(h.startswith("/"), F.concat(F.lit("https://"), bh, h))
        .when(
            h.startswith("../"),
            F.concat(F.lit("https://"), bh, F.lit("/"), F.substring(h, 4, 2147483647)),
        )
        .when(h.startswith("?"), F.concat(F.lit("https://"), bh, bp, h))
        .when(h.startswith("#"), F.concat(F.lit("https://"), bh, bp))
        .otherwise(F.concat(F.lit("https://"), bh, F.lit("/articles/"), h))
    )
    return rows.select(
        "doc_id", "href", kind.alias("link_kind"), resolved.alias("resolved")
    )


@query(
    "x_extract_tables",
    """
    WITH page AS (
      SELECT doc_id,
             '<html><body><table><tr><th>name</th><th>v1</th><th>v2</th></tr>'
             || '<tr><td>alpha ' || cast(doc_id % 10 AS VARCHAR)
             || '</td><td>' || cast(doc_id % 97 AS VARCHAR)
             || '</td><td>' || cast((doc_id * 7) % 89 AS VARCHAR)
             || '</td></tr><tr><td>beta &amp; co</td><td>'
             || cast(doc_id % 13 AS VARCHAR) || '</td><td>'
             || cast(doc_id % 17 AS VARCHAR)
             || '</td></tr></table><p>between</p><table><tr><td>x'
             || cast(doc_id % 5 AS VARCHAR)
             || '</td><td>y</td></tr></table></body></html>' AS html
      FROM documents),
    tb AS (
      SELECT doc_id,
             unnest(regexp_extract_all(html, '<table>(.*?)</table>', 1))
               AS body,
             generate_subscripts(
               regexp_extract_all(html, '<table>(.*?)</table>', 1), 1) - 1
               AS table_idx
      FROM page),
    cells AS (
      SELECT doc_id, table_idx,
             unnest(regexp_extract_all(body, '<t[dh]>([^<]*)</t[dh]>', 1))
               AS raw,
             generate_subscripts(
               regexp_extract_all(body, '<t[dh]>([^<]*)</t[dh]>', 1), 1) - 1
               AS i
      FROM tb)
    SELECT doc_id, cast(table_idx AS INT) AS table_idx,
           cast(i // (CASE WHEN table_idx = 0 THEN 3 ELSE 2 END) AS INT)
             AS row_idx,
           cast(i % (CASE WHEN table_idx = 0 THEN 3 ELSE 2 END) AS INT)
             AS col_idx,
           replace(raw, '&amp;', '&') AS cell
    FROM cells
    """,
)
def x_tables(spark: SparkSession, sf: str) -> DataFrame:
    """Table-STRUCTURE extraction (the reference's core domain — tabular
    financial data, reference src/extractor.py:38-136 /
    reconstruct_table.py — re-expressed as a deterministic grid parser):
    every <table> in the page payload becomes (table_idx, row_idx,
    col_idx, cell) rows via the real structural parser
    (extract/tables.py: colspan/rowspan occupancy, nested-table
    separation, entity unescaping), Arrow-batched through ONE pandas UDF
    and exploded inline. Pages here are synthesized regular (the oracle
    re-parses them positionally in SQL); the span/nesting/malformed edge
    cases are pinned by tests/test_table_extract.py goldens."""
    from pdf_extractor_spark.extract.udfs import table_cells_udf

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><body><table><tr><th>name</th><th>v1</th><th>v2</th></tr><tr><td>alpha "),
        (did % 10).cast("string"),
        F.lit("</td><td>"),
        (did % 97).cast("string"),
        F.lit("</td><td>"),
        ((did * 7) % 89).cast("string"),
        F.lit("</td></tr><tr><td>beta &amp; co</td><td>"),
        (did % 13).cast("string"),
        F.lit("</td><td>"),
        (did % 17).cast("string"),
        F.lit("</td></tr></table><p>between</p><table><tr><td>x"),
        (did % 5).cast("string"),
        F.lit("</td><td>y</td></tr></table></body></html>"),
    )
    page = d.select("doc_id", html.alias("html")).repartition(
        _par(spark), "doc_id"
    )
    cells = page.select(
        "doc_id",
        F.explode(table_cells_udf(F.encode(F.col("html"), "UTF-8"))).alias(
            "c"
        ),
    )
    return cells.select(
        "doc_id",
        F.col("c.table_idx").alias("table_idx"),
        F.col("c.row_idx").alias("row_idx"),
        F.col("c.col_idx").alias("col_idx"),
        F.col("c.cell").alias("cell"),
    )
