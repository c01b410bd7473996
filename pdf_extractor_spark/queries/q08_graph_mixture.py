"""Link graph from page payloads + dedup-aware splits + mixture planning.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    N,
    SparkSession,
    T,
    Window,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _HEX8,
    _LSH_PAIRS_SQL,
)


# --------------------------------------------------------------------------
# Link graph from page payloads + dedup-aware splits + mixture planning
# (appended AFTER the pinned driver window; see _DRIVER_WINDOW note)
# --------------------------------------------------------------------------

# Deterministic page-html synthesis shared by the link-graph queries: each
# document becomes a page on host example{doc_id%7}.com carrying two
# absolute outlinks (one clean https, one messy uppercase-host http:80 with
# a tracker param), a relative nav link on every 4th page (must be ignored
# by the absolute-link extractor), and a CDN link with an EMPTY anchor on
# every 5th page. Both engines build byte-identical html, then both PARSE
# it back out — the contract checks the extraction, not the synthesis.
_PAGE_HTML_SQL = """
    concat(
      '<html><body><h1>Doc ', cast(doc_id AS VARCHAR), '</h1><p>', text,
      '</p><a href="https://www.example', cast((doc_id + 1) % 7 AS VARCHAR),
      '.com/p/', cast(doc_id % 50 AS VARCHAR), '">read more ',
      cast(doc_id % 50 AS VARCHAR), '</a><a href="HTTP://Example',
      cast((doc_id + 3) % 7 AS VARCHAR),
      '.COM:80/about?utm_source=x">about example ',
      cast((doc_id + 3) % 7 AS VARCHAR), '</a>',
      CASE WHEN doc_id % 4 = 0
           THEN concat('<a href="/nav/', cast(doc_id % 9 AS VARCHAR),
                       '">site nav</a>')
           ELSE '' END,
      CASE WHEN doc_id % 5 = 2
           THEN concat('<a href="https://cdn.example',
                       cast(doc_id % 3 AS VARCHAR), '.com:443/img"></a>')
           ELSE '' END,
      '</body></html>')
"""


def _page_html_col() -> F.Column:
    """Spark twin of _PAGE_HTML_SQL (byte-identical strings)."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("<html><body><h1>Doc "), did.cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><a href="https://www.example'),
        ((did + 1) % 7).cast("string"),
        F.lit(".com/p/"), (did % 50).cast("string"),
        F.lit('">read more '), (did % 50).cast("string"),
        F.lit('</a><a href="HTTP://Example'),
        ((did + 3) % 7).cast("string"),
        F.lit('.COM:80/about?utm_source=x">about example '),
        ((did + 3) % 7).cast("string"),
        F.lit("</a>"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit('<a href="/nav/'), (did % 9).cast("string"),
                F.lit('">site nav</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 2,
            F.concat(
                F.lit('<a href="https://cdn.example'),
                (did % 3).cast("string"),
                F.lit('.com:443/img"></a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


_DST_HOST_SQL = """
    regexp_replace(regexp_replace(
      lower(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      ':[0-9]+$', ''), '^www\\.', '')
"""


def _dst_host_col(href: F.Column) -> F.Column:
    """Destination host of an absolute link: lowercase hostport, ANY port
    stripped, leading www. stripped. Deliberately coarser than
    canonicalize_url (which strips only scheme-default ports): link-graph
    hosts aggregate by site, where :8080 and :80 are the same node."""
    from pdf_extractor_spark.functions.urls import HOSTPORT_RE

    host = F.lower(F.regexp_extract(href, HOSTPORT_RE, 1))
    host = F.regexp_replace(host, r":[0-9]+$", "")
    return F.regexp_replace(host, r"^www\.", "")


@query(
    "u_outlinks",
    f"""
    WITH page AS (SELECT doc_id, {_PAGE_HTML_SQL} AS html FROM documents),
    links AS (
      SELECT doc_id,
             unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS href
      FROM page),
    abs_links AS (
      SELECT doc_id, href FROM links
      WHERE regexp_matches(href, '^(?i)https?://')),
    hosts AS (
      SELECT concat('example', cast(doc_id % 7 AS VARCHAR), '.com')
               AS src_host,
             {_DST_HOST_SQL} AS dst_host,
             doc_id
      FROM abs_links)
    SELECT src_host, dst_host,
           count(*) AS n_links,
           count(DISTINCT doc_id) AS n_pages
    FROM hosts GROUP BY src_host, dst_host
    """,
)
def u_outlinks(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph edge extraction from raw page payloads — the step that
    FEEDS g_host_pagerank's edge list (reference has no link analysis; the
    crawl-prioritization role of main.py's url lists re-expressed at web
    scale). hrefs come out of the page with one codegen'd
    regexp_extract_all (scan-side, no UDF), relative links are dropped
    (absolute-only contract; base-resolution is the crawler's job), hosts
    are canonicalized, and the edge rollup is ONE groupBy on
    (src_host, dst_host) with map-side partial aggregation. At 100 TB the
    groupBy key count is |hosts|^2-bounded but Zipf-skewed on popular
    destinations — the same salting machinery as u_host_rollup applies;
    the extraction itself stays embarrassingly parallel."""
    d = _t(spark, sf, "documents")
    page = d.select("doc_id", _page_html_col().alias("html")).repartition(
        _par(spark), "doc_id"
    )
    # explode the extraction EXPRESSION inline (non-attribute generator
    # child): staging hrefs as an attribute first lets
    # InferFiltersFromGenerate plant size(regexp_extract_all(..))>0 under
    # the Generate and pushdown drags it through the repartition into the
    # scan stage with the projection substituted away — synthesizing and
    # regexing every page TWICE (verified in the formatted plan)
    links = page.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("html", F.lit(r'href="([^"]+)"'), 1)
        ).alias("href"),
    ).filter(F.col("href").rlike(r"^(?i)https?://"))
    src = F.concat(
        F.lit("example"), (F.col("doc_id") % 7).cast("string"), F.lit(".com")
    )
    return (
        links.select(
            src.alias("src_host"),
            _dst_host_col(F.col("href")).alias("dst_host"),
            "doc_id",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_pages"),
        )
    )


@query(
    "u_anchor_top_terms",
    f"""
    WITH page AS (SELECT doc_id, {_PAGE_HTML_SQL} AS html FROM documents),
    zipped AS (
      SELECT doc_id,
             unnest(list_zip(
               regexp_extract_all(html, '<a href="([^"]+)">', 1),
               regexp_extract_all(html, '<a href="[^"]*">([^<]*)</a>', 1)))
               AS z
      FROM page),
    pairs AS (SELECT doc_id, z[1] AS href, z[2] AS anchor FROM zipped),
    abs_links AS (
      SELECT {_DST_HOST_SQL} AS dst_host, anchor
      FROM pairs
      WHERE regexp_matches(href, '^(?i)https?://') AND length(anchor) > 0),
    terms AS (
      SELECT dst_host, unnest(string_split(anchor, ' ')) AS term
      FROM abs_links),
    counted AS (
      SELECT dst_host, term, count(*) AS n
      FROM terms WHERE length(term) > 0
      GROUP BY dst_host, term),
    ranked AS (
      SELECT dst_host, term, n,
             row_number() OVER (PARTITION BY dst_host
                                ORDER BY n DESC, term) AS rnk
      FROM counted)
    SELECT dst_host, term, n, rnk FROM ranked WHERE rnk <= 3
    """,
)
def u_anchor_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text rollup per destination host — the classic off-page
    relevance signal (what OTHER pages call a host), used by crawl
    frontier scoring and as weak labels for quality classifiers. href and
    anchor arrays are staged once, zipped positionally (arrays_zip over
    attribute columns — index lambdas would re-evaluate the extraction
    per element), exploded inline, and the per-host top-3 terms come from
    a rank window partitioned by dst_host over the (host, term) COUNTED
    table — cardinality |hosts|x|vocab|, each partition vocab-bounded;
    at 100 TB the two-level sharded top-k (host_doc_cap pattern,
    operators/sampling.py) swaps in. Ties break lexicographically so the
    rank is total and cross-engine deterministic."""
    d = _t(spark, sf, "documents")
    page = d.select("doc_id", _page_html_col().alias("html")).repartition(
        _par(spark), "doc_id"
    )
    staged = page.select(
        "doc_id",
        F.regexp_extract_all(
            "html", F.lit(r'<a href="([^"]+)">'), 1
        ).alias("hrefs"),
        F.regexp_extract_all(
            "html", F.lit(r'<a href="[^"]*">([^<]*)</a>'), 1
        ).alias("anchors"),
    )
    pairs = staged.select(
        "doc_id",
        F.explode(F.arrays_zip("hrefs", "anchors")).alias("z"),
    ).select(
        F.col("z.hrefs").alias("href"), F.col("z.anchors").alias("anchor")
    )
    terms = (
        pairs.filter(
            F.col("href").rlike(r"^(?i)https?://")
            & (F.length("anchor") > 0)
        )
        .select(
            _dst_host_col(F.col("href")).alias("dst_host"),
            F.explode(F.split("anchor", " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
    )
    counted = terms.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    # two-level top-k (the host_doc_cap pattern): a mega-host's
    # (host, term) partition is vocab-sized — rank within (host, shard)
    # first, keep per-shard top-3, then rank the <= 3*S survivors per
    # host. Global top-3 is a subset of the per-shard top-3s under the
    # same total order, so the result (values AND ranks) is identical to
    # the single-window form; no partition ever exceeds its shard's
    # vocab share. The shard key is internal (never output), so plain
    # hash() is fine.
    n_shards = 8
    sharded = counted.withColumn(
        "_shard", F.pmod(F.hash("term"), F.lit(n_shards))
    )
    w_shard = Window.partitionBy("dst_host", "_shard").orderBy(
        F.desc("n"), F.col("term")
    )
    survivors = sharded.withColumn(
        "_srnk", F.row_number().over(w_shard)
    ).filter(F.col("_srnk") <= 3)
    w_host = Window.partitionBy("dst_host").orderBy(
        F.desc("n"), F.col("term")
    )
    return (
        survivors.withColumn("rnk", F.row_number().over(w_host))
        .filter(F.col("rnk") <= 3)
        .select("dst_host", "term", "n", "rnk")
    )


@query(
    "d_leakage_free_split",
    f"""
    WITH RECURSIVE e AS ({_LSH_PAIRS_SQL}),
    edges AS (SELECT id_a AS src, id_b AS dst FROM e
              UNION SELECT id_b, id_a FROM e),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    walk(node, reach) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT eg.dst, w.reach FROM walk w JOIN edges eg ON w.node = eg.src),
    comps AS (SELECT node, min(reach) AS comp FROM walk GROUP BY node),
    labeled AS (
      SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN comps c ON d.doc_id = c.node),
    hashed AS (
      SELECT doc_id, comp,
             ({_HEX8.format(h="md5(concat('lsplit:', cast(comp AS VARCHAR)))",
                            p="1")}) / 4294967296.0 AS frac
      FROM labeled)
    SELECT doc_id, comp,
           CASE WHEN frac < 0.8 THEN 'train'
                WHEN frac < 0.9 THEN 'dev'
                ELSE 'test' END AS split
    FROM hashed
    """,
)
def d_leakage_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free train/dev/test split: the split key is the NEAR-DUP
    COMPONENT, not the document — a doc-keyed hash split puts two
    near-duplicates of the same page on opposite sides of the train/test
    boundary and the eval set silently memorizes training data (the
    benchmark-contamination failure mode ExactSubstr/decontamination
    papers document). Composition of the oracle-checked pieces: LSH
    candidate pairs -> star connected components -> comp = component min
    (singletons = own id) -> md5-keyed deterministic 80/10/10 assignment
    on comp, so every member of a duplicate cluster lands in the SAME
    split on any engine/partitioning. One broadcast-size join beyond the
    CC cost; the split decision itself is scan-side."""
    from pdf_extractor_spark.operators.sampling import _hash_frac

    d = _t(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(
        d, k=4, bands=2, shingle_n=2, n_partitions=_par(spark)
    )
    comps = D.connected_components_star(pairs)
    labeled = (
        d.select("doc_id")
        .join(comps, d["doc_id"] == comps["node"], "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("comp")
        )
    )
    frac = _hash_frac(F.col("comp"), "lsplit")
    return labeled.select(
        "doc_id",
        "comp",
        F.when(frac < 0.8, F.lit("train"))
        .when(frac < 0.9, F.lit("dev"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@query(
    "m_mixture_epochs",
    r"""
    WITH tok AS (
      SELECT lang, count(*) AS n_docs,
             sum(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE array_length(regexp_split_to_array(trim(text), '\s+'))
                 END) AS n_tokens
      FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n_docs, n_tokens,
             CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 20
                       WHEN 'de' THEN 15 WHEN 'fr' THEN 15
                       ELSE 10 END AS weight_pct
      FROM tok),
    plan AS (
      SELECT lang, n_docs, n_tokens, weight_pct,
             (weight_pct * 1000000) // 100 AS target_tokens,
             least(8, greatest(1,
               ((weight_pct * 1000000) // 100 + greatest(n_tokens, 1) - 1)
                 // greatest(n_tokens, 1)))
               AS epochs
      FROM w)
    SELECT lang,
           cast(n_docs AS BIGINT) AS n_docs,
           cast(n_tokens AS BIGINT) AS n_tokens,
           cast(weight_pct AS BIGINT) AS weight_pct,
           cast(target_tokens AS BIGINT) AS target_tokens,
           cast(epochs AS BIGINT) AS epochs,
           cast(n_tokens * epochs AS BIGINT) AS planned_tokens,
           cast(CASE WHEN (target_tokens + greatest(n_tokens, 1) - 1)
                          // greatest(n_tokens, 1) > 8
                     THEN 1 ELSE 0 END AS BIGINT) AS budget_capped
    FROM plan
    """,
)
def m_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture planner: given per-language token inventories
    and target mixture weights, compute the REPEAT EPOCHS per language
    that realize the target under a total token budget (the 'how many
    passes over each domain' table every LLM data recipe publishes —
    epochs = ceil(target_tokens / available), capped at the standard
    <=8-repeat guidance, floor 1). All-integer arithmetic (ceil as
    (a+b-1) div b) so both engines agree bit-for-bit. Plan: one groupBy
    on the |langs|-cardinality key with map-side partial agg — the
    planner output is a broadcast-size table the sampling operators
    (t_temperature_mix / t_stratified_sample) consume as rates."""
    d = _t(spark, sf, "documents")
    # BUDGET appears as a literal in the two div expressions below AND in
    # the SQL oracle — change all three together
    staged = d.select("doc_id", "lang", "text").repartition(
        _par(spark), "doc_id"
    )
    tok = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(T.whitespace_token_count(F.col("text"))).alias("n_tokens"),
    )
    weight = (
        F.when(F.col("lang") == "en", 40)
        .when(F.col("lang") == "zh", 20)
        .when(F.col("lang") == "de", 15)
        .when(F.col("lang") == "fr", 15)
        .otherwise(10)
    )
    planned = tok.select(
        "lang", "n_docs", "n_tokens", weight.alias("weight_pct")
    )
    target = F.expr("CAST(weight_pct * 1000000 AS BIGINT) div 100")
    raw_epochs = F.expr(
        "(CAST(weight_pct * 1000000 AS BIGINT) div 100"
        " + greatest(n_tokens, 1) - 1) div greatest(n_tokens, 1)"
    )
    # r4 driver postmortem: this query held the only red driver row in four
    # rounds (CORRECTNESS_r04 hash_match false; rows/schema green; locally
    # unreproducible across the full sweep). Its oracle was one of the few
    # whose final SELECT left the sum() aggregate (HUGEINT in DuckDB) and
    # derived columns uncast — the one discipline difference vs its green
    # sibling m_doremi_weights. Both sides now cast EVERY numeric output to
    # BIGINT explicitly; a_protocol_canary fingerprints the driver's hashing
    # of each numeric type family so any recurrence is diagnosable.
    return planned.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("weight_pct").cast("bigint").alias("weight_pct"),
        target.cast("bigint").alias("target_tokens"),
        F.least(F.lit(8), F.greatest(F.lit(1), raw_epochs))
        .cast("bigint")
        .alias("epochs"),
        (
            F.col("n_tokens")
            * F.least(F.lit(8), F.greatest(F.lit(1), raw_epochs))
        )
        .cast("bigint")
        .alias("planned_tokens"),
        F.when(raw_epochs > 8, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("budget_capped"),
    )


@query(
    "f20_format_size",
    """
    WITH sized AS (
      SELECT doc_id,
             n_chars * CASE doc_id % 5
               WHEN 0 THEN 1 WHEN 1 THEN 1024 WHEN 2 THEN 1048576
               WHEN 3 THEN 1073741824 ELSE 1099511627776 END AS bytes
      FROM documents),
    u AS (
      SELECT doc_id, bytes,
             CASE WHEN bytes < 1024 THEN 0
                  WHEN bytes < 1048576 THEN 1
                  WHEN bytes < 1073741824 THEN 2
                  WHEN bytes < 1099511627776 THEN 3
                  ELSE 4 END AS k
      FROM sized),
    d AS (
      SELECT doc_id, bytes, k,
             CASE k WHEN 0 THEN 1 WHEN 1 THEN 1024 WHEN 2 THEN 1048576
                    WHEN 3 THEN 1073741824 ELSE 1099511627776 END AS dv,
             CASE k WHEN 0 THEN 'B' WHEN 1 THEN 'KB' WHEN 2 THEN 'MB'
                    WHEN 3 THEN 'GB' ELSE 'TB' END AS unit
      FROM u),
    q AS (SELECT doc_id, bytes, unit,
                 (bytes * 20 + dv) // (dv * 2) AS deci
          FROM d)
    SELECT doc_id, bytes,
           concat(cast(deci // 10 AS VARCHAR), '.',
                  cast(deci % 10 AS VARCHAR), ' ', unit) AS size_str
    FROM q
    """,
)
def f20_format(spark: SparkSession, sf: str) -> DataFrame:
    """F20 — human-readable size formatting (reference
    src/pdf_uploader.py:143-149) as a pure integer column expression.
    Byte counts are synthesized across five orders of magnitude from
    doc_id so every unit branch (B through the unbounded TB tail) is
    exercised; the decimal string is assembled from div/mod in deci-units
    so both engines agree bit-for-bit (no float printf)."""
    d = _t(spark, sf, "documents")
    mult = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(1))
        .when(F.col("doc_id") % 5 == 1, F.lit(1024))
        .when(F.col("doc_id") % 5 == 2, F.lit(1048576))
        .when(F.col("doc_id") % 5 == 3, F.lit(1073741824))
        .otherwise(F.lit(1099511627776))
    )
    sized = d.select(
        "doc_id", (F.col("n_chars") * mult).cast("long").alias("bytes")
    )
    return sized.select(
        "doc_id", "bytes", N.format_size(F.col("bytes")).alias("size_str")
    )
