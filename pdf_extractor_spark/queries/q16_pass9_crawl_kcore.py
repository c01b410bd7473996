"""Round-4 pass 9: crawl traps, reciprocity, k-core, sitemap gap.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    SparkSession,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _SHINGLE_SQL,
)


# --- round-4 ninth pass: crawl-trap URLs, link reciprocity, host template
# --- mass, k-core decomposition, sitemap coverage gap
# --- (appended AFTER the pinned r4 driver window)


@query(
    "u_crawl_trap",
    """
    WITH u AS (
      SELECT doc_id,
             'https://site' || cast(doc_id % 7 AS VARCHAR) || '.example.com'
             || CASE doc_id % 5
                WHEN 0 THEN '/' || repeat('cat/sub/', doc_id % 4 + 2) || 'x'
                WHEN 1 THEN '/archive/2023/'
                            || lpad(cast(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                            || '/'
                            || lpad(cast(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                            || '/post'
                WHEN 2 THEN '/page?phpsessid=' || md5(cast(doc_id AS VARCHAR))
                WHEN 3 THEN repeat('/d', doc_id % 12) || '/leaf'
                ELSE '/a/b/' || cast(doc_id % 50 AS VARCHAR)
                END AS url
      FROM documents),
    f AS (
      SELECT doc_id, url,
             regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path
      FROM u),
    g AS (
      SELECT doc_id, url,
             cast(length(path) - length(replace(path, '/', '')) AS BIGINT)
               AS path_depth,
             string_split(regexp_replace(path, '^/+|/+$', '', 'g'), '/')
               AS segs,
             regexp_matches(path, '/[0-9]{4}/[0-9]{2}/[0-9]{2}/')
               AS calendar_hit,
             regexp_matches(url, '[?&](phpsessid|sessionid|sid)=[0-9a-f]{16,}')
               AS session_hit
      FROM f),
    h AS (
      SELECT doc_id, url, path_depth,
             cast(len(segs) - len(list_distinct(segs)) AS BIGINT)
               AS repeated_segments,
             calendar_hit, session_hit
      FROM g)
    SELECT doc_id, url, path_depth, repeated_segments, calendar_hit,
           session_hit,
           repeated_segments >= 2 OR session_hit OR path_depth > 8
             OR (calendar_hit AND path_depth >= 4) AS is_trap
    FROM h
    """,
)
def u_crawl_trap(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-trap URL detection — the frontier guard every production
    crawler runs BEFORE fetching (Heritrix's pathological-URI rules,
    Nutch's regex-urlfilter): infinite URL spaces come from loop traps
    (repeated path segments from relative-link cycles), calendar archives
    (a /YYYY/MM/DD/ page for every day since 1970), session-id echoes
    (one URL per visit), and unbounded synthetic depth. Each signal is a
    scan-side regex/array expression on the URL string alone — pure
    codegen projection, zero shuffles, composable with u_url_spam_filter
    and u_robots_filter into the pre-fetch gate that protects the 100-TB
    fetch budget. URLs are synthesized deterministically across five
    structural classes; the repeated-segment count is size(segments) -
    size(distinct segments), stated identically in both engines."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    path_expr = (
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("/"),
                F.repeat(F.lit("cat/sub/"), ((did % 4) + 2).cast("int")),
                F.lit("x"),
            ),
        )
        .when(
            did % 5 == 1,
            F.concat(
                F.lit("/archive/2023/"),
                F.lpad((did % 12 + 1).cast("string"), 2, "0"),
                F.lit("/"),
                F.lpad((did % 28 + 1).cast("string"), 2, "0"),
                F.lit("/post"),
            ),
        )
        .when(
            did % 5 == 2,
            F.concat(
                F.lit("/page?phpsessid="), F.md5(did.cast("string"))
            ),
        )
        .when(
            did % 5 == 3,
            F.concat(
                F.repeat(F.lit("/d"), (did % 12).cast("int")),
                F.lit("/leaf"),
            ),
        )
        .otherwise(F.concat(F.lit("/a/b/"), (did % 50).cast("string")))
    )
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (did % 7).cast("string"),
            F.lit(".example.com"),
            path_expr,
        ).alias("url"),
    )
    path = F.regexp_extract("url", r"^https://[^/]+([^?]*)", 1)
    f = u.select(
        "doc_id",
        "url",
        (F.length(path) - F.length(F.regexp_replace(path, "/", "")))
        .cast("bigint")
        .alias("path_depth"),
        F.split(F.regexp_replace(path, "^/+|/+$", ""), "/").alias("segs"),
        path.rlike("/[0-9]{4}/[0-9]{2}/[0-9]{2}/").alias("calendar_hit"),
        F.col("url")
        .rlike("[?&](phpsessid|sessionid|sid)=[0-9a-f]{16,}")
        .alias("session_hit"),
    ).select(
        "doc_id",
        "url",
        "path_depth",
        (F.size("segs") - F.size(F.array_distinct("segs")))
        .cast("bigint")
        .alias("repeated_segments"),
        "calendar_hit",
        "session_hit",
    )
    return f.select(
        "*",
        (
            (F.col("repeated_segments") >= 2)
            | F.col("session_hit")
            | (F.col("path_depth") > 8)
            | (F.col("calendar_hit") & (F.col("path_depth") >= 4))
        ).alias("is_trap"),
    )


@query(
    "u_link_reciprocity",
    """
    WITH docs AS (SELECT DISTINCT doc_id FROM documents),
    e0 AS (
      SELECT doc_id % 30 AS src,
             (doc_id % 30 + 1 + doc_id % 5) % 30 AS dst
      FROM docs
      UNION ALL
      SELECT doc_id % 30, 24 + (doc_id // 30) % 6
      FROM docs WHERE doc_id % 30 >= 24),
    e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
    r AS (SELECT e.src, count(*) AS recip
          FROM e JOIN e rv ON e.src = rv.dst AND e.dst = rv.src
          GROUP BY e.src),
    o AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)
    SELECT o.src AS host, cast(outdeg AS BIGINT) AS outdeg,
           cast(coalesce(recip, 0) AS BIGINT) AS recip_edges,
           cast(1000000 * coalesce(recip, 0) // outdeg AS BIGINT)
             AS recip_ppm,
           1000000 * coalesce(recip, 0) // outdeg >= 500000
             AND outdeg >= 2 AS farm_flag
    FROM o LEFT JOIN r ON o.src = r.src
    """,
)
def u_link_reciprocity(spark: SparkSession, sf: str) -> DataFrame:
    """Host-level link reciprocity — the classic link-farm tell (Gyöngyi
    & Garcia-Molina's link-spam taxonomy; TrustRank-era spam features):
    organic linking is overwhelmingly one-directional (citations flow
    toward authority), while farms exchange links pairwise, so a host
    whose out-edges are mostly reciprocated at meaningful out-degree is
    presumed colluding. Feeds the same curation gate as g_host_pagerank /
    g_triangle_count (demote farm hosts before quality sampling). Edges
    synthesized deterministically (organic chords 0–23, a reciprocating
    clique on hosts 24–29). Plan: one distinct on the edge list, one
    self-equi-join on the REVERSED pair (both sides shuffle on the same
    composite key), two map-side-combinable groupBys — never an all-pairs
    product; integer ppm keeps both engines bit-identical."""
    d = _t(spark, sf, "documents").select("doc_id").distinct()
    did = F.col("doc_id")
    src = did % 30
    e1 = d.select(src.alias("src"), ((src + 1 + did % 5) % 30).alias("dst"))
    e2 = d.filter(src >= 24).select(
        src.alias("src"), (F.expr("doc_id div 30") % 6 + 24).alias("dst")
    )
    e = (
        e1.union(e2)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        e.join(rev, ["src", "dst"], "semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("recip_edges"))
    )
    out = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ppm = F.expr(
        "CAST(1000000 * coalesce(recip_edges, 0) AS BIGINT) div outdeg"
    )
    return (
        out.join(recip, "src", "left")
        .select(
            F.col("src").alias("host"),
            F.col("outdeg").cast("bigint").alias("outdeg"),
            F.coalesce("recip_edges", F.lit(0))
            .cast("bigint")
            .alias("recip_edges"),
            ppm.alias("recip_ppm"),
            ((ppm >= 500000) & (F.col("outdeg") >= 2)).alias("farm_flag"),
        )
    )


@query(
    "d_host_template_mass",
    f"""
    WITH sh AS (
      SELECT doc_id % 24 AS host, unnest({_SHINGLE_SQL}) AS s
      FROM documents),
    c AS (SELECT host, s, count(*) AS c FROM sh GROUP BY host, s),
    a AS (SELECT host, sum(c) AS total, count(*) AS n_distinct
          FROM c GROUP BY host),
    nd AS (SELECT doc_id % 24 AS host, count(*) AS n_docs
           FROM documents GROUP BY doc_id % 24)
    SELECT nd.host, cast(n_docs AS BIGINT) AS n_docs,
           cast(coalesce(total, 0) AS BIGINT) AS total_shingles,
           cast(coalesce(n_distinct, 0) AS BIGINT) AS distinct_shingles,
           cast(1000000 * (coalesce(total, 0) - coalesce(n_distinct, 0))
                // greatest(coalesce(total, 0), 1) AS BIGINT)
             AS dup_mass_ppm,
           1000000 * (coalesce(total, 0) - coalesce(n_distinct, 0))
                // greatest(coalesce(total, 0), 1) > 500000
             AS template_flag
    FROM nd LEFT JOIN a ON nd.host = a.host
    """,
)
def d_host_template_mass(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host template mass — the host-grain complement of per-document
    dedup (CCNet/FineWeb observe that boilerplate repeats WITHIN a host:
    nav bars, footers, product-page scaffolds): of all bigram-shingle
    instances emitted by a host's documents, the fraction that are
    repeats of a shingle already seen on that host. A host near 1.0 is a
    template farm serving the same page under many URLs — cheap to
    detect at the host grain long before pairwise near-dup runs, and the
    standard pre-filter that keeps LSH bucket sizes sane downstream.
    Plan: tokens staged once behind a repartition barrier (CollapseProject
    discipline), one inline explode, one (host, shingle) groupBy with
    map-side partial agg, one |hosts|-row rollup — linear in corpus
    token count, never pairwise. Integer ppm on both engines."""
    from pdf_extractor_spark.operators.dedup import (
        shingles_from_tokens,
        word_tokens,
    )

    d = _t(spark, sf, "documents")
    staged = d.select(
        (F.col("doc_id") % 24).alias("host"),
        "doc_id",
        word_tokens(F.col("text")).alias("_toks"),
    ).repartition(_par(spark), "doc_id")
    sh = staged.select(
        "host", F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("s")
    )
    c = sh.groupBy("host", "s").agg(F.count(F.lit(1)).alias("c"))
    a = c.groupBy("host").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_distinct")
    )
    nd = d.groupBy((F.col("doc_id") % 24).alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    ppm = F.expr(
        "CAST(1000000 * (coalesce(total, 0) - coalesce(n_distinct, 0)) "
        "AS BIGINT) div greatest(coalesce(total, 0), 1)"
    )
    return nd.join(a, "host", "left").select(
        "host",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.coalesce("total", F.lit(0)).cast("bigint").alias("total_shingles"),
        F.coalesce("n_distinct", F.lit(0))
        .cast("bigint")
        .alias("distinct_shingles"),
        ppm.alias("dup_mass_ppm"),
        (ppm > 500000).alias("template_flag"),
    )


def _kcore_iter_sql(i: int, k: int) -> str:
    p = i - 1
    return f"""
    keep{i} AS MATERIALIZED (
      SELECT a FROM adj{p} GROUP BY a HAVING count(*) >= {k}),
    adj{i} AS MATERIALIZED (
      SELECT t.a, t.b FROM adj{p} t
      JOIN keep{i} ka ON t.a = ka.a
      JOIN keep{i} kb ON t.b = kb.a)"""


@query(
    "g_kcore",
    f"""
    WITH docs AS (SELECT DISTINCT doc_id FROM documents),
    e0 AS (
      SELECT doc_id % 30 AS s, (doc_id % 30 + 1) % 30 AS d FROM docs
      UNION ALL
      SELECT doc_id % 30, (doc_id % 30 + 3) % 30
      FROM docs WHERE doc_id % 30 % 4 = 0
      UNION ALL
      SELECT 100 + doc_id % 6, 100 + (doc_id // 6) % 6 FROM docs
      UNION ALL
      SELECT 100, 0 FROM docs),
    und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
            FROM e0 WHERE s <> d),
    adj0 AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    {",".join(_kcore_iter_sql(i, 3) for i in range(1, 9))},
    deg0 AS (SELECT a AS node, count(*) AS degree FROM adj0 GROUP BY a),
    cdeg AS (SELECT a AS node, count(*) AS core_degree
             FROM adj8 GROUP BY a)
    SELECT deg0.node, cast(degree AS BIGINT) AS degree,
           cast(coalesce(core_degree, 0) AS BIGINT) AS core_degree,
           coalesce(core_degree, 0) >= 3 AS in_core
    FROM deg0 LEFT JOIN cdeg ON deg0.node = cdeg.node
    """,
)
def g_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition of the host graph (operators/graph.py
    kcore_decompose — parallel peeling, Matula & Beck 1983 / Montresor
    et al. 2013): strip every node of degree < k simultaneously per
    round until only the mutually-dense core remains. The density screen
    one step beyond triangles: link farms and mirror rings sit in high-k
    cores, organic long-tail hosts peel out in the first rounds — crawl
    curation demotes core members and seeds from the fringe. Graph
    synthesized deterministically: a 30-host ring with sparse chords (a
    shallow fringe that fully cascades away at k=3 — exercises multi-
    round peeling, not just round 1), a 6-host clique (the surviving
    3-core), and one bridge edge. The oracle replays the SAME 8 fixed
    peel rounds as iterated CTEs — peeling is a pure function of the
    round count, so agreement checks every intermediate survivor set."""
    from pdf_extractor_spark.operators.graph import kcore_decompose

    d = _t(spark, sf, "documents").select("doc_id").distinct()
    did = F.col("doc_id")
    h = did % 30
    ring = d.select(h.alias("src"), ((h + 1) % 30).alias("dst"))
    chords = d.filter(h % 4 == 0).select(
        h.alias("src"), ((h + 3) % 30).alias("dst")
    )
    clique = d.select(
        (did % 6 + 100).alias("src"),
        (F.expr("doc_id div 6") % 6 + 100).alias("dst"),
    )
    bridge = d.select(
        F.lit(100).cast("long").alias("src"),
        F.lit(0).cast("long").alias("dst"),
    )
    edges = ring.union(chords).union(clique).union(bridge)
    return kcore_decompose(edges, k=3, rounds=8)


@query(
    "u_sitemap_gap",
    """
    WITH u AS (
      SELECT doc_id,
             'https://site' || cast(doc_id % 6 AS VARCHAR)
             || '.example.com/p/' || cast(doc_id AS VARCHAR) AS url
      FROM documents),
    dec AS (SELECT url FROM u WHERE doc_id % 3 <> 2),
    cr AS (SELECT url FROM u WHERE doc_id % 4 <> 3),
    j AS (
      SELECT coalesce(dec.url, cr.url) AS url,
             dec.url IS NOT NULL AS declared,
             cr.url IS NOT NULL AS crawled
      FROM dec FULL OUTER JOIN cr ON dec.url = cr.url),
    per AS (
      SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
             declared, crawled
      FROM j)
    SELECT host,
           cast(sum(CASE WHEN declared THEN 1 ELSE 0 END) AS BIGINT)
             AS declared_n,
           cast(sum(CASE WHEN crawled THEN 1 ELSE 0 END) AS BIGINT)
             AS crawled_n,
           cast(sum(CASE WHEN declared AND NOT crawled THEN 1 ELSE 0 END)
                AS BIGINT) AS gap_n,
           cast(sum(CASE WHEN crawled AND NOT declared THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_n,
           cast(1000000 * sum(CASE WHEN declared AND crawled
                              THEN 1 ELSE 0 END)
                // greatest(sum(CASE WHEN declared THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS coverage_ppm
    FROM per GROUP BY host
    """,
)
def u_sitemap_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Sitemap-vs-crawl coverage reconciliation — the crawl-ops audit
    every large crawl runs per host (Common Crawl's host-level coverage
    stats; Googlebot's sitemap coverage report): which sitemap-declared
    URLs were never fetched (gap — politeness budget exhausted, robots
    exclusion, frontier starvation) and which fetched URLs were never
    declared (orphans — discovered by links only; a weak spam/trap
    signal when orphans dominate). Composes with u_crawl_budget and
    u_fetch_schedule to re-balance the next crawl cycle's per-host
    budget. Plan: one FULL OUTER equi-join on the url key (both sides
    shuffle-partitioned on url), flags from null-ness, then one
    |hosts|-row map-side-combinable rollup; coverage in integer ppm."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://site"),
            (did % 6).cast("string"),
            F.lit(".example.com/p/"),
            did.cast("string"),
        ).alias("url"),
    )
    dec = u.filter(did % 3 != 2).select("url", F.lit(True).alias("declared"))
    cr = u.filter(did % 4 != 3).select("url", F.lit(True).alias("crawled"))
    j = dec.join(cr, "url", "full").select(
        F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("host"),
        F.coalesce("declared", F.lit(False)).alias("declared"),
        F.coalesce("crawled", F.lit(False)).alias("crawled"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    agg = j.groupBy("host").agg(
        one(F.col("declared")).cast("bigint").alias("declared_n"),
        one(F.col("crawled")).cast("bigint").alias("crawled_n"),
        one(F.col("declared") & ~F.col("crawled"))
        .cast("bigint")
        .alias("gap_n"),
        one(F.col("crawled") & ~F.col("declared"))
        .cast("bigint")
        .alias("orphan_n"),
        one(F.col("declared") & F.col("crawled")).alias("_both"),
        one(F.col("declared")).alias("_dec"),
    )
    return agg.select(
        "host",
        "declared_n",
        "crawled_n",
        "gap_n",
        "orphan_n",
        F.expr("CAST(1000000 * _both AS BIGINT) div greatest(_dec, 1)").alias(
            "coverage_ppm"
        ),
    )
