"""Round-4 pass 8: graph density, label propagation, DPO, OG meta.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    SparkSession,
    Window,
    _par,
    _t,
    query,
)


# --- round-4 eighth pass: graph density, label propagation, DPO pairs,
# --- length-bucketed batching, OG metadata, trigram novelty
# --- (appended AFTER the pinned r4 driver window)


@query(
    "g_triangle_count",
    """
    WITH h AS (SELECT DISTINCT doc_id % 24 AS h FROM documents),
    e0 AS (
      SELECT h AS s, (h + 1) % 24 AS d FROM h
      UNION ALL SELECT h, (h + 2) % 24 FROM h
      UNION ALL SELECT h, (5 * h + 1) % 24 FROM h),
    e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
          FROM e0 WHERE s <> d),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY node),
    t AS (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    tn AS (SELECT node, count(*) AS triangles FROM (
      SELECT u AS node FROM t UNION ALL SELECT v FROM t
      UNION ALL SELECT w FROM t) GROUP BY node)
    SELECT deg.node AS host, cast(degree AS BIGINT) AS degree,
           cast(coalesce(triangles, 0) AS BIGINT) AS triangles,
           cast(CASE WHEN degree < 2 THEN 0
                ELSE 2000000 * coalesce(triangles, 0)
                     // (degree * (degree - 1)) END AS BIGINT)
             AS clustering_ppm
    FROM deg LEFT JOIN tn ON deg.node = tn.node
    """,
)
def g_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph triangle count + local clustering coefficient
    (operators/graph.py triangle_count — Suri & Vassilvitskii WWW'11
    degree-ordered enumeration): the web-spam density feature beside
    PageRank/HITS — link farms and mirror rings are dense neighborhoods
    (high clustering at high degree), legitimate hubs are stars (low
    clustering). Edges synthesized deterministically from doc_ids (ring
    h->h+1, h->h+2 plus chord h->5h+1 over 24 hosts — 68 edges, 32
    triangles with varied per-node counts). The oracle enumerates
    triangles by the u<v<w triple join — a different (quadratic-in-degree)
    algorithm than the engine's degree-oriented wedge join, so agreement
    checks the algorithm, not its echo. clustering_ppm is exact integer
    arithmetic on both sides."""
    from pdf_extractor_spark.operators.graph import triangle_count

    d = _t(spark, sf, "documents").select(
        (F.col("doc_id") % 24).alias("h")
    )
    edges = d.select(
        F.col("h").alias("src"),
        F.explode(
            F.array(
                (F.col("h") + 1) % 24,
                (F.col("h") + 2) % 24,
                (F.col("h") * 5 + 1) % 24,
            )
        ).alias("dst"),
    )
    return triangle_count(edges).select(
        F.col("node").alias("host"), "degree", "triangles", "clustering_ppm"
    )


def _lp_iter_sql(i: int) -> str:
    p = i - 1
    return f"""
    v{i} AS (SELECT m.src AS node, l.label, count(*) AS c
             FROM mut m JOIN l{p} l ON m.dst = l.node
             WHERE l.label IS NOT NULL GROUP BY m.src, l.label),
    w{i} AS (SELECT node, max(struct_pack(c := c, nl := -label)) AS ws
             FROM v{i} GROUP BY node),
    l{i} AS (SELECT l.node, l.true_label, l.is_seed,
                    coalesce(l.label, -(w.ws.nl)) AS label,
                    CASE WHEN l.lr IS NOT NULL THEN l.lr
                         WHEN w.ws IS NOT NULL THEN {i} END AS lr
             FROM l{p} l LEFT JOIN w{i} w ON l.node = w.node)"""


@query(
    "g_label_propagation",
    f"""
    WITH samp AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, label AS true_label
      FROM embeddings
      ORDER BY md5(concat('lprop:', cast(vec_id AS VARCHAR))), vec_id
      LIMIT 150),
    p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      FROM samp a JOIN samp b ON a.vec_id <> b.vec_id),
    dd AS (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src
                                ORDER BY sim DESC, dst) AS rn
      FROM p),
    knn AS (SELECT src, dst FROM dd WHERE rn <= 4),
    mut AS (SELECT x.src, x.dst FROM knn x
            JOIN knn y ON x.src = y.dst AND x.dst = y.src),
    l0 AS (
      SELECT vec_id AS node, true_label,
             (strpos('0123456789abcdef',
                     substr(md5(concat('lseed:', cast(vec_id AS VARCHAR))),
                            1, 1)) - 1) < 6 AS is_seed,
             CASE WHEN (strpos('0123456789abcdef',
                     substr(md5(concat('lseed:', cast(vec_id AS VARCHAR))),
                            1, 1)) - 1) < 6 THEN true_label END AS label,
             CASE WHEN (strpos('0123456789abcdef',
                     substr(md5(concat('lseed:', cast(vec_id AS VARCHAR))),
                            1, 1)) - 1) < 6 THEN 0 END AS lr
      FROM samp),
    {_lp_iter_sql(1)},
    {_lp_iter_sql(2)},
    {_lp_iter_sql(3)}
    SELECT node AS vec_id, is_seed, cast(label AS INT) AS label,
           cast(lr AS INT) AS labeled_round,
           CASE WHEN label IS NOT NULL THEN label = true_label END AS correct
    FROM l3
    """,
)
def g_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-supervised label propagation over the mutual k-NN graph
    (operators/graph.py label_propagation — Zhu & Ghahramani 2002; the
    label-spread recipe behind fastText-style domain/quality tagging at
    corpus scale): ~37.5% of a 150-vector md5 sample keep their true
    embeddings.label as seeds, the rest take the majority label of their
    labeled mutual-kNN neighbors over 3 synchronous rounds (tie -> the
    smallest label, assigned labels freeze — the deterministic accretive
    form). ``correct`` scores spread labels against held-out truth — the
    eval a curation team runs before trusting propagated tags. The oracle
    replays every round as CTEs over the same sample/edge construction as
    e_knn_graph. Per-round plan: edge-label equi-join + map-side count +
    argmax-by-struct — pagerank_integer's posture."""
    from pdf_extractor_spark.operators.graph import label_propagation

    from pdf_extractor_spark.operators import similarity as SIM

    e = _t(spark, sf, "embeddings")
    samp, edges = SIM.mutual_knn_edges(e, k=4, sample_n=150, salt="lprop")
    truth = e.select(
        F.col("vec_id").alias("node"), F.col("label").alias("true_label")
    )
    base = samp.select(F.col("id").alias("node")).join(truth, "node")
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lseed:"), F.col("node").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        < 6
    )
    seeded = base.select("node", "true_label", coin.alias("is_seed"))
    seeds = seeded.filter(F.col("is_seed")).select(
        "node", F.col("true_label").cast("int").alias("label")
    )
    state = label_propagation(
        edges, seeds, seeded.select("node"), n_rounds=3
    )
    return state.join(seeded, "node").select(
        F.col("node").alias("vec_id"),
        "is_seed",
        F.col("label").cast("int").alias("label"),
        F.col("labeled_round").cast("int").alias("labeled_round"),
        F.when(
            F.col("label").isNotNull(),
            F.col("label") == F.col("true_label"),
        ).alias("correct"),
    )


@query(
    "m_dpo_pairs",
    """
    WITH s AS (
      SELECT doc_id, lang,
             cast(1000000 * len(list_distinct(string_split(text, ' ')))
                  AS BIGINT)
               // greatest(len(string_split(text, ' ')), 1) AS score_ppm
      FROM documents),
    r AS (
      SELECT doc_id, lang, score_ppm,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score_ppm DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM s),
    pr AS (
      SELECT c.lang, c.rk AS pair_idx,
             c.doc_id AS chosen_doc, j.doc_id AS rejected_doc,
             c.score_ppm AS chosen_ppm, j.score_ppm AS rejected_ppm,
             c.score_ppm - j.score_ppm AS gap_ppm
      FROM r c JOIN r j
        ON c.lang = j.lang AND j.rk = c.n + 1 - c.rk AND c.rk <= c.n // 2)
    SELECT lang, cast(pair_idx AS INT) AS pair_idx, chosen_doc, rejected_doc,
           chosen_ppm, rejected_ppm, gap_ppm
    FROM pr WHERE gap_ppm > 0
    """,
)
def m_dpo_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF reward data (Rafailov et
    al. '23 consume exactly such (chosen, rejected) pairs): within each
    language, rank documents by a quality signal (distinct-token ppm —
    the lexical-diversity screen) and pair rank r (chosen) with rank
    n+1-r (rejected) — the max-margin matching that yields n/2 pairs with
    the widest average preference gap; zero-gap pairs are dropped (no
    training signal). Scale: per-lang ranks use rank-within-(lang,
    score-bucket) windows + broadcast per-lang higher-bucket offsets (the
    m_chunk_for_training discipline — never one window partition per
    language), the pairing join is a self-equi-join on the mirrored rank,
    and lang row-counts broadcast."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    score = F.expr(
        "CAST(1000000 * size(array_distinct(split(text, ' '))) AS BIGINT) "
        "div greatest(size(split(text, ' ')), 1)"
    )
    keyed = d.select(
        "doc_id", "lang", score.alias("score_ppm"),
        (score / 100000).cast("int").alias("_b"),
    )
    w_in = Window.partitionBy("lang", "_b").orderBy(
        F.col("score_ppm").desc(), "doc_id"
    )
    ranked = keyed.withColumn("_rn", F.row_number().over(w_in))
    counts = keyed.groupBy("lang", "_b").agg(F.count(F.lit(1)).alias("_cnt"))
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(
            F.broadcast(y),
            (F.col("y.lang") == F.col("x.lang"))
            & (F.col("y._b") > F.col("x._b")),
            "left",
        )
        .groupBy(F.col("x.lang").alias("lang"), F.col("x._b").alias("_b"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    n_lang = keyed.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    full = (
        ranked.join(F.broadcast(offsets), ["lang", "_b"])
        .join(F.broadcast(n_lang), "lang")
        .select(
            "lang",
            "doc_id",
            "score_ppm",
            (F.col("_off") + F.col("_rn")).cast("int").alias("rk"),
            F.col("_n").alias("n"),
        )
    )
    c = full.alias("c")
    j = full.alias("j")
    pairs = c.join(
        j,
        (F.col("c.lang") == F.col("j.lang"))
        & (F.col("j.rk") == F.col("c.n") + 1 - F.col("c.rk"))
        & (F.col("c.rk") <= F.expr("c.n div 2")),
    ).select(
        F.col("c.lang").alias("lang"),
        F.col("c.rk").cast("int").alias("pair_idx"),
        F.col("c.doc_id").alias("chosen_doc"),
        F.col("j.doc_id").alias("rejected_doc"),
        F.col("c.score_ppm").alias("chosen_ppm"),
        F.col("j.score_ppm").alias("rejected_ppm"),
        (F.col("c.score_ppm") - F.col("j.score_ppm")).alias("gap_ppm"),
    )
    return pairs.filter(F.col("gap_ppm") > 0)


@query(
    "m_length_bucket_batches",
    """
    WITH s AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             md5(concat('lbb:', cast(doc_id AS VARCHAR))) AS m
      FROM documents),
    b AS (
      SELECT doc_id, n, m, cast(strlen(bin(n)) - 1 AS INT) AS bucket
      FROM s),
    r AS (
      SELECT doc_id, n, bucket,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY m, doc_id) AS rk
      FROM b),
    g AS (
      SELECT bucket, cast((rk - 1) // 8 AS INT) AS batch_idx,
             count(*) AS n_rows, max(n) AS max_len, sum(n) AS sum_len
      FROM r GROUP BY bucket, (rk - 1) // 8)
    SELECT bucket, batch_idx, cast(n_rows AS BIGINT) AS n_rows,
           cast(max_len AS BIGINT) AS max_len,
           cast(sum_len AS BIGINT) AS sum_len,
           cast(1000000 * (n_rows * max_len - sum_len)
                // (n_rows * max_len) AS BIGINT) AS pad_ppm
    FROM g
    """,
)
def m_length_bucket_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed batch formation with padding-waste accounting — the
    OTHER sequence-batching strategy beside concat-packing
    (m_pack_sequences): group sequences into power-of-two length buckets
    (bucket = floor(log2(n)) via bin-string length — exact integers, no
    FP log), shuffle within each bucket by md5 order, cut fixed-size
    batches of 8, and report per-batch padding overhead in ppm (pad to
    the batch max). Bucketing bounds worst-case pad waste at ~50% and
    typical waste far lower — pad_ppm is the number that justifies the
    strategy vs naive batching. Scale: ranks within a bucket use
    (bucket, md5-nibble shard) windows + broadcast per-bucket shard
    offsets (the md5 first nibble IS the leading sort key, so shard-major
    order equals global md5 order); one groupBy for batch stats."""
    d = _t(spark, sf, "documents")
    m = F.md5(F.concat(F.lit("lbb:"), F.col("doc_id").cast("string")))
    staged = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n"),
        m.alias("m"),
    ).withColumn(
        "bucket", (F.length(F.expr("bin(n)")) - 1).cast("int")
    ).withColumn(
        "_sh", F.substring(F.col("m"), 1, 1)
    )
    w_in = Window.partitionBy("bucket", "_sh").orderBy("m", "doc_id")
    ranked = staged.withColumn("_rn", F.row_number().over(w_in))
    counts = staged.groupBy("bucket", "_sh").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    x, y = counts.alias("x"), counts.alias("y")
    offsets = (
        x.join(
            F.broadcast(y),
            (F.col("y.bucket") == F.col("x.bucket"))
            & (F.col("y._sh") < F.col("x._sh")),
            "left",
        )
        .groupBy(F.col("x.bucket").alias("bucket"), F.col("x._sh").alias("_sh"))
        .agg(F.coalesce(F.sum("y._cnt"), F.lit(0)).alias("_off"))
    )
    batched = ranked.join(F.broadcast(offsets), ["bucket", "_sh"]).select(
        "bucket",
        "n",
        F.expr("CAST((_off + _rn - 1) div 8 AS INT)").alias("batch_idx"),
    )
    g = batched.groupBy("bucket", "batch_idx").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("n").alias("max_len"),
        F.sum("n").alias("sum_len"),
    )
    return g.select(
        "bucket",
        "batch_idx",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_len").cast("bigint").alias("max_len"),
        F.col("sum_len").cast("bigint").alias("sum_len"),
        F.expr(
            "CAST(1000000 * (n_rows * max_len - sum_len) AS BIGINT) "
            "div (n_rows * max_len)"
        ).alias("pad_ppm"),
    )


_OG_TITLE_RE = r'<meta property="og:title" content="([^"]*)"'
_OG_LOCALE_RE = r'<meta property="og:locale" content="([^"]*)"'
_CANONICAL_RE = r'<link rel="canonical" href="([^"]*)"'
_META_DESC_RE = r'<meta name="description" content="([^"]*)"'
_TITLE_TAG_RE = r"<title>([^<]*)</title>"


@query(
    "x_extract_og_meta",
    rf"""
    WITH s AS (
      SELECT doc_id, lang,
             array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ')
               AS ttl,
             array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')
               AS dsc,
             concat('https://docs.example/', cast(doc_id AS VARCHAR)) AS url,
             (strpos('0123456789abcdef',
                     substr(md5(concat('og:', cast(doc_id AS VARCHAR))),
                            1, 1)) - 1) < 12 AS has_og
      FROM documents),
    h AS (
      SELECT doc_id, has_og,
             concat('<html><head><title>', ttl, '</title>',
                    CASE WHEN has_og THEN concat(
                      '<meta property="og:title" content="', ttl, '"/>',
                      '<meta property="og:locale" content="', lang, '"/>')
                    ELSE '' END,
                    '<link rel="canonical" href="', url, '"/>',
                    '<meta name="description" content="', dsc, '"/>',
                    '</head><body></body></html>') AS html
      FROM s)
    SELECT doc_id, has_og,
           nullif(regexp_extract(html, '{_TITLE_TAG_RE}', 1), '') AS title,
           nullif(regexp_extract(html, '{_OG_TITLE_RE}', 1), '') AS og_title,
           nullif(regexp_extract(html, '{_OG_LOCALE_RE}', 1), '')
             AS og_locale,
           nullif(regexp_extract(html, '{_CANONICAL_RE}', 1), '')
             AS canonical,
           nullif(regexp_extract(html, '{_META_DESC_RE}', 1), '')
             AS description
    FROM h
    """,
)
def x_extract_og_meta(spark: SparkSession, sf: str) -> DataFrame:
    """OpenGraph / head-metadata extraction — the page-metadata sibling of
    x_extract_jsonld (OG tags are the other structured-metadata standard
    a web corpus mines: titles for dedup keys, og:locale as a langid
    prior, canonical links for URL dedup). Heads are synthesized
    deterministically (25% of docs carry NO og tags — the null path is
    exercised), extraction is the SAME five regexes on both engines,
    missing tags surface as NULL via nullif(''). Scale: pure scan-side
    codegen projection — regexp_extract over an already-scanned string
    column, no shuffle, no UDF; at 100 TB this runs inside the extract
    stage's existing pass."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    ttl = F.array_join(F.slice(toks, 1, 4), " ")
    dsc = F.array_join(F.slice(toks, 1, 8), " ")
    url = F.concat(F.lit("https://docs.example/"), F.col("doc_id").cast("string"))
    has_og = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("og:"), F.col("doc_id").cast("string"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        < 12
    )
    og_part = F.when(
        F.col("has_og"),
        F.concat(
            F.lit('<meta property="og:title" content="'),
            F.col("ttl"),
            F.lit('"/><meta property="og:locale" content="'),
            F.col("lang"),
            F.lit('"/>'),
        ),
    ).otherwise(F.lit(""))
    staged = d.select(
        "doc_id", "lang", ttl.alias("ttl"), dsc.alias("dsc"),
        url.alias("url"), has_og.alias("has_og"),
    )
    html = F.concat(
        F.lit("<html><head><title>"), F.col("ttl"), F.lit("</title>"),
        og_part,
        F.lit('<link rel="canonical" href="'), F.col("url"), F.lit('"/>'),
        F.lit('<meta name="description" content="'), F.col("dsc"),
        F.lit('"/></head><body></body></html>'),
    )
    withhtml = staged.select("doc_id", "has_og", html.alias("html"))
    return withhtml.select(
        "doc_id",
        "has_og",
        F.nullif(F.regexp_extract("html", _TITLE_TAG_RE, 1), F.lit(""))
        .alias("title"),
        F.nullif(F.regexp_extract("html", _OG_TITLE_RE, 1), F.lit(""))
        .alias("og_title"),
        F.nullif(F.regexp_extract("html", _OG_LOCALE_RE, 1), F.lit(""))
        .alias("og_locale"),
        F.nullif(F.regexp_extract("html", _CANONICAL_RE, 1), F.lit(""))
        .alias("canonical"),
        F.nullif(F.regexp_extract("html", _META_DESC_RE, 1), F.lit(""))
        .alias("description"),
    )


@query(
    "t_trigram_novelty",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
      FROM t),
    df AS (SELECT g, count(*) AS c FROM g0 GROUP BY g),
    per AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM g0 JOIN df USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
           cast(coalesce(n_grams, 0) AS BIGINT) AS n_distinct_trigrams,
           cast(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
           cast(1000000 * coalesce(n_novel, 0)
                // greatest(coalesce(n_grams, 0), 1) AS BIGINT)
             AS novelty_ppm
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def t_trigram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document trigram novelty — the distinctiveness complement of
    the dedup family: the fraction (integer ppm) of a doc's DISTINCT word
    trigrams that occur in NO other document (corpus document-frequency
    1). Low novelty = template/boilerplate-shaped content that survived
    exact dedup; ~100% novelty at web scale marks unique long-tail text
    worth upweighting (and, inverted, the memorization-risk screen for
    eval decontamination triage). Plan: tokens staged behind a
    repartition barrier, trigrams via zip_with over three shifted slices
    (array inputs evaluate once per row — the inlining-proof form),
    distinct (doc, gram) explode, one map-side-combinable groupBy for DF,
    a 1:1 rejoin on the gram key, one per-doc groupBy — the
    d_decontaminate posture with the corpus as its own reference."""
    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    ).repartition(_par(spark), "doc_id")
    sz = F.size(F.col("t"))
    ln = F.greatest(sz - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice(F.col("t"), 1, ln),
            F.slice(F.col("t"), 2, ln),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(F.col("t"), 3, ln),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    grams = staged.select(
        "doc_id", F.explode(tri).alias("g")
    ).distinct()
    df = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    per = (
        grams.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0))
            .cast("bigint")
            .alias("n_distinct_trigrams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.expr(
                "CAST(1000000 * coalesce(n_novel, 0) AS BIGINT) "
                "div greatest(coalesce(n_grams, 0), 1)"
            ).alias("novelty_ppm"),
        )
    )
