"""URL gates, outline/JSON-LD/code harvest, histograms, redirects.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    D,
    DataFrame,
    F,
    SparkSession,
    Window,
    _ORACLES,
    _QUERIES,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _HEX8,
    _JACCARD_CASE,
    _LSH_PAIRS_SQL,
    _SHINGLE_SQL,
    _TOK_SQL,
)
from pdf_extractor_spark.queries.q12_quality_sketches import (
    _SPAM_URL_SQL,
)


@query(
    "u_url_spam_filter",
    f"""
    WITH u AS (SELECT doc_id, {_SPAM_URL_SQL} AS url FROM documents),
    h AS (
      SELECT doc_id, url,
             regexp_extract(url, '^https://([^/]+)/', 1) AS host,
             regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path
      FROM u),
    f AS (
      SELECT doc_id, url,
             regexp_matches(url, '(casino|poker|xxx|viagra)') AS blacklist_hit,
             cast((length(host) - length(regexp_replace(host, '[0-9]', '', 'g')))
                  * 1000000 // length(host) AS BIGINT) AS host_digit_ppm,
             cast(length(path) - length(regexp_replace(path, '/', '', 'g'))
                  AS BIGINT) AS path_depth,
             cast(CASE WHEN url LIKE '%?%'
                       THEN length(regexp_extract(url, '[?](.*)$', 1))
                            - length(regexp_replace(regexp_extract(url, '[?](.*)$', 1), '&', '', 'g')) + 1
                       ELSE 0 END AS BIGINT) AS n_params,
             cast(length(url) AS BIGINT) AS url_len
      FROM h)
    SELECT doc_id, url, blacklist_hit, host_digit_ppm, path_depth, n_params, url_len,
           (CASE WHEN host_digit_ppm > 100000 THEN 1 ELSE 0 END
            + CASE WHEN path_depth > 5 THEN 1 ELSE 0 END
            + CASE WHEN n_params >= 4 THEN 1 ELSE 0 END
            + CASE WHEN url_len > 90 THEN 1 ELSE 0 END) AS structural_flags,
           (NOT blacklist_hit) AND
           (CASE WHEN host_digit_ppm > 100000 THEN 1 ELSE 0 END
            + CASE WHEN path_depth > 5 THEN 1 ELSE 0 END
            + CASE WHEN n_params >= 4 THEN 1 ELSE 0 END
            + CASE WHEN url_len > 90 THEN 1 ELSE 0 END) < 2 AS keep
    FROM f
    """,
)
def u_url_spam_filter(spark: SparkSession, sf: str) -> DataFrame:
    """URL-level spam screen (UT1-blacklist recipe used by C4/RefinedWeb/
    FineWeb before any content is fetched or parsed): a token blacklist
    over the whole URL plus the four structural adult/SEO-spam tells —
    digit-stuffed hosts, deep synthetic path trees, parameter farms, and
    over-long URLs. Cheapest filter in the whole curation funnel (runs on
    the URL string alone, BEFORE the 100-TB payload is read), so at scale
    it gates the crawl frontier and the WARC fetch list. URLs are
    synthesized deterministically across six content classes; every
    heuristic is a scan-side regex/length expression in the shared
    Java/RE2 dialect — pure codegen projection, zero shuffles, and the
    keep decision composes with u_robots_filter and u_crawl_budget.
    Integer ppm for the digit ratio keeps both engines bit-identical."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    seg = (
        F.when(did % 6 == 0, F.lit("casino"))
        .when(did % 6 == 1, F.lit("poker"))
        .when(did % 6 == 2, F.lit("news"))
        .when(did % 6 == 3, F.lit("blog"))
        .when(did % 6 == 4, F.lit("recipes"))
        .otherwise(F.lit("xxx"))
    )
    url = F.concat(
        F.lit("https://"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit("best-"), seg, (did % 1000).cast("string")),
        ).otherwise(F.concat(F.lit("site"), (did % 9).cast("string"))),
        F.lit(".example.com/"),
        seg,
        F.lit("/"),
        F.repeat(F.lit("p/"), (did % 8).cast("int")),
        (did % 50).cast("string"),
        F.when(did % 5 == 0, F.lit("?a=1&b=2&c=3&d=4"))
        .when(did % 5 == 1, F.lit("?id=9"))
        .otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    path = F.regexp_extract("url", r"^https://[^/]+(/[^?]*)", 1)
    qs = F.regexp_extract("url", r"[?](.*)$", 1)
    f = u.select(
        "doc_id",
        "url",
        F.col("url").rlike("(casino|poker|xxx|viagra)").alias("blacklist_hit"),
        F.floor(
            (F.length(host) - F.length(F.regexp_replace(host, "[0-9]", "")))
            * 1000000
            / F.length(host)
        ).alias("host_digit_ppm"),
        (F.length(path) - F.length(F.regexp_replace(path, "/", "")))
        .cast("bigint")
        .alias("path_depth"),
        F.when(
            F.col("url").contains("?"),
            F.length(qs) - F.length(F.regexp_replace(qs, "&", "")) + 1,
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_params"),
        F.length("url").cast("bigint").alias("url_len"),
    )
    flags = (
        F.when(F.col("host_digit_ppm") > 100000, 1).otherwise(0)
        + F.when(F.col("path_depth") > 5, 1).otherwise(0)
        + F.when(F.col("n_params") >= 4, 1).otherwise(0)
        + F.when(F.col("url_len") > 90, 1).otherwise(0)
    )
    return f.select(
        "*",
        flags.alias("structural_flags"),
        (~F.col("blacklist_hit") & (flags < 2)).alias("keep"),
    )


@query(
    "t_sentence_split",
    """
    WITH s AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '([.!?])\\s+',
                                         concat('\\1', chr(1)), 'g'),
                          chr(1)) AS sents
      FROM documents),
    u AS (
      SELECT doc_id,
             generate_subscripts(sents, 1) - 1 AS sent_idx,
             unnest(sents) AS sentence
      FROM s)
    SELECT doc_id, cast(sent_idx AS INT) AS sent_idx, sentence,
           cast(length(sentence) AS BIGINT) AS n_chars,
           md5(sentence) AS sent_md5
    FROM u WHERE trim(sentence) <> ''
    """,
)
def t_sentence_split(spark: SparkSession, sf: str) -> DataFrame:
    """Rule-based sentence segmentation: terminal punctuation followed by
    whitespace ends a sentence (the Moses/CCAligned splitter's core rule,
    minus language-specific abbreviation tables -- the boundary regex IS
    the cross-engine contract, stated once in the shared Java/RE2
    dialect). Sentences are the working grain for bitext mining
    (e_bitext_mine), boundary-respecting packing, and per-sentence dedup
    -- sent_md5 is that dedup key. Plan: one scan-side regexp_replace to
    a \\x01 sentinel, split on it, and an INLINE posexplode
    (non-attribute generator child, so InferFiltersFromGenerate plants
    nothing); empty segments are dropped post-explode on both sides
    identically. Linear, shuffle-free, row-bounded by sentence count."""
    d = _t(spark, sf, "documents")
    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1\u0001"),
        "\u0001",
    )
    u = d.select(
        "doc_id", F.posexplode(sents).alias("sent_idx", "sentence")
    ).where(F.trim("sentence") != "")
    return u.select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        "sentence",
        F.length("sentence").cast("bigint").alias("n_chars"),
        F.md5("sentence").alias("sent_md5"),
    )


@query(
    "a_shard_manifest",
    f"""
    WITH m AS (
      SELECT doc_id, lang, n_chars,
             ({_HEX8.format(h="md5(cast(doc_id AS VARCHAR))", p="1")}) % 64
               AS bucket,
             ({_HEX8.format(h="md5(concat('ck:', cast(doc_id AS VARCHAR)))",
                            p="1")}) AS chk
      FROM documents)
    SELECT cast(bucket AS BIGINT) AS bucket,
           count(*) AS doc_count,
           cast(sum(n_chars) AS BIGINT) AS bytes_in,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           count(DISTINCT lang) AS n_langs,
           cast(sum(chk) AS BIGINT) AS chk_sum,
           md5(concat(cast(bucket AS VARCHAR), ':',
                      cast(count(*) AS VARCHAR), ':',
                      cast(sum(chk) AS VARCHAR))) AS checkpoint_marker
    FROM m GROUP BY bucket
    """,
)
def a_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Per-shard lineage manifest -- the north rule's "per-partition
    lineage rows (partition id, doc count, bytes in/out, checkpoint
    marker)" as an oracle-checked contract query (the job surface writes
    the same rows under _lineage/, sources/sinks.py). Shard key is the
    url-hash bucket (md5 of the doc key, mod 64). The checkpoint content
    checksum is the SUM of per-doc md5-derived integers: order-invariant
    and additively mergeable, so map-side partial aggregation computes it
    with constant memory and two snapshots' manifests diff by plain
    subtraction -- the property that makes resume-from-last-committed
    verifiable without re-reading payloads at 100 TB. One groupBy on the
    bucket key (64 groups, partials combine map-side); no payload column
    is read (bytes_in comes from the n_chars stat column)."""
    d = _t(spark, sf, "documents")
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(64),
    )
    chk = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ck:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    g = (
        d.select(
            b.alias("bucket"), chk.alias("chk"), "doc_id", "lang", "n_chars"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("n_chars").alias("bytes_in"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("chk").alias("chk_sum"),
        )
    )
    return g.select(
        "*",
        F.md5(
            F.concat(
                F.col("bucket").cast("string"),
                F.lit(":"),
                F.col("doc_count").cast("string"),
                F.lit(":"),
                F.col("chk_sum").cast("string"),
            )
        ).alias("checkpoint_marker"),
    )


@query(
    "m_packing_efficiency",
    f"""
    WITH packed AS ({{pack}}),
    per_seq AS (
      SELECT lang, seq_id,
             count(*) AS docs_in_seq,
             sum(n_tokens) AS seq_tokens,
             sum(greatest(seq_offset + n_tokens - 2048, 0)) AS seq_overflow
      FROM packed GROUP BY lang, seq_id)
    SELECT lang,
           cast(sum(docs_in_seq) AS BIGINT) AS n_docs,
           count(*) AS n_seqs,
           cast(sum(seq_tokens) AS BIGINT) AS total_tokens,
           cast(sum(seq_tokens) * 1000000 // (count(*) * 2048) AS BIGINT)
             AS fill_ppm,
           cast(sum(seq_overflow) AS BIGINT) AS overflow_tokens,
           cast(max(seq_tokens) AS BIGINT) AS max_seq_tokens
    FROM per_seq GROUP BY lang
    """.format(pack=_ORACLES["m_pack_sequences"]),
)
def m_packing_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    """Packing-efficiency readout over m_pack_sequences: per language,
    how full the fixed-budget (2048-token) training sequences actually
    are (fill_ppm), how much token mass spills past the budget under
    stateless quotient packing (overflow_tokens -- the carry a trainer
    either truncates or rolls into the next sequence), and the worst
    sequence. This is the eval a data team runs before changing the
    packing strategy: padding waste is paid in FLOPs on every epoch, so
    at 100-TB corpus scale a 5% fill loss is a 5% training-compute loss.
    Composes the registered packing query verbatim (engine side calls the
    same function; oracle embeds the same SQL as a CTE) and adds two
    map-side-combinable groupBys -- (lang, seq_id) then lang. Integer
    ppm keeps both engines bit-identical."""
    packed = _QUERIES["m_pack_sequences"](spark, sf)
    per_seq = packed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("docs_in_seq"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.sum(
            F.greatest(
                F.col("seq_offset") + F.col("n_tokens") - 2048, F.lit(0)
            )
        ).alias("seq_overflow"),
    )
    return per_seq.groupBy("lang").agg(
        F.sum("docs_in_seq").alias("n_docs"),
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("seq_tokens").alias("total_tokens"),
        F.floor(
            F.sum("seq_tokens") * 1000000 / (F.count(F.lit(1)) * 2048)
        ).alias("fill_ppm"),
        F.sum("seq_overflow").alias("overflow_tokens"),
        F.max("seq_tokens").alias("max_seq_tokens"),
    )


@query(
    "d_lsh_recall",
    f"""
    WITH samp AS (
      SELECT doc_id, text FROM documents
      ORDER BY md5(concat('lshr:', cast(doc_id AS VARCHAR))), doc_id
      LIMIT 150),
    sh AS (SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS sh FROM samp),
    tp AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JACCARD_CASE} AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
    truth AS (SELECT id_a, id_b FROM tp WHERE j >= 0.3),
    cand AS (SELECT * FROM ({_LSH_PAIRS_SQL.replace("FROM documents", "FROM samp")})),
    hit AS (SELECT t.id_a FROM truth t JOIN cand c
            ON t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT (SELECT count(*) FROM samp) AS n_sample,
           (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM cand) AS n_cand,
           (SELECT count(*) FROM hit) AS n_hit,
           CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
                ELSE (SELECT count(*) FROM hit) * 1000000
                     // (SELECT count(*) FROM truth) END AS recall_ppm,
           CASE WHEN (SELECT count(*) FROM cand) = 0 THEN 1000000
                ELSE (SELECT count(*) FROM hit) * 1000000
                     // (SELECT count(*) FROM cand) END AS precision_ppm
    """,
)
def d_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding quality eval: recall and precision of the production
    MinHash-LSH candidate generator (k=4, 2 bands of 2 -- the exact
    d_lsh_pairs configuration) against exact-Jaccard ground truth at the
    verify threshold (0.3), on a deterministic fixed-size sample -- the
    readout that tunes (k, bands, rows-per-band) before a corpus-wide
    dedup run, exactly as e_ann_recall tunes n_probe for the ANN family.
    The sample is the 150 docs with the smallest md5 coins (a global
    TakeOrderedAndProject, bounded rows), so ground truth costs
    sample-squared -- CORPUS-INDEPENDENT, the only honest way to brute
    force exact Jaccard at 100 TB. The pair table is a broadcast
    nested-loop over the 150-row side (never a shuffle); the candidate
    side reuses operators/dedup.minhash_lsh_pairs verbatim on the same
    sample. Integer-ppm metrics; division-by-zero guarded identically
    both sides (vacuous recall/precision = 1e6)."""
    d = _t(spark, sf, "documents")
    samp = (
        d.select(
            "doc_id",
            "text",
            F.md5(
                F.concat(F.lit("lshr:"), F.col("doc_id").cast("string"))
            ).alias("_coin"),
        )
        .orderBy("_coin", "doc_id")
        .limit(150)
        .drop("_coin")
    )
    sh = samp.select(
        "doc_id",
        F.array_distinct(
            D.shingles_from_tokens(D.word_tokens(F.col("text")), 2)
        ).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    tp = a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        D.jaccard_similarity(F.col("a.sh"), F.col("b.sh")).alias("j"),
    )
    truth = tp.where(F.col("j") >= 0.3).select("id_a", "id_b")
    cand = D.minhash_lsh_pairs(
        samp, k=4, bands=2, shingle_n=2, n_partitions=_par(spark)
    )
    hit = truth.join(cand, ["id_a", "id_b"]).select("id_a")
    ns = samp.agg(F.count(F.lit(1)).alias("n_sample"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    res = (
        ns.join(F.broadcast(nt))
        .join(F.broadcast(nc))
        .join(F.broadcast(nh))
    )
    return res.select(
        "n_sample",
        "n_truth",
        "n_cand",
        "n_hit",
        F.when(F.col("n_truth") == 0, F.lit(1000000).cast("bigint"))
        .otherwise(F.floor(F.col("n_hit") * 1000000 / F.col("n_truth")))
        .alias("recall_ppm"),
        F.when(F.col("n_cand") == 0, F.lit(1000000).cast("bigint"))
        .otherwise(F.floor(F.col("n_hit") * 1000000 / F.col("n_cand")))
        .alias("precision_ppm"),
    )


_LDJSON_PAGE_SQL = """
    concat('<html><head>',
      CASE WHEN doc_id % 7 = 0 THEN ''
           ELSE concat('<script type="application/ld+json">',
                       '{"@type":"Article","headline":"Doc ',
                       cast(doc_id AS VARCHAR), '","wordCount":',
                       cast(n_chars % 900 AS VARCHAR), '}</script>') END,
      CASE WHEN doc_id % 3 = 0
           THEN concat('<script type="application/ld+json">',
                       '{"@type":"Product","name":"Item ',
                       cast(doc_id % 40 AS VARCHAR), '","sku":"S',
                       cast(doc_id AS VARCHAR), '"}</script>') ELSE '' END,
      '</head><body><p>body</p></body></html>')
"""


@query(
    "x_extract_jsonld",
    f"""
    WITH page AS (SELECT doc_id, {{page}} AS html FROM documents),
    blocks AS (
      SELECT doc_id,
             regexp_extract_all(html,
               '<script type="application/ld\\+json">(.*?)</script>', 1)
               AS bs
      FROM page),
    u AS (
      SELECT doc_id,
             generate_subscripts(bs, 1) - 1 AS block_idx,
             unnest(bs) AS b
      FROM blocks)
    SELECT doc_id, cast(block_idx AS INT) AS block_idx,
           json_extract_string(b, '$."@type"') AS ld_type,
           coalesce(json_extract_string(b, '$.headline'),
                    json_extract_string(b, '$.name')) AS name,
           try_cast(json_extract_string(b, '$.wordCount') AS BIGINT)
             AS word_count
    FROM u
    """.format(page=_LDJSON_PAGE_SQL),
)
def x_extract_jsonld(spark: SparkSession, sf: str) -> DataFrame:
    """Structured-data (schema.org JSON-LD) extraction -- the WAT-style
    metadata harvest Common Crawl pipelines run beside main-content
    extraction: every <script type="application/ld+json"> block is pulled
    from the page and its @type / display name / wordCount surfaced as
    typed columns (what populates knowledge-panel corpora and
    e-commerce/article classifiers). Pages are synthesized
    deterministically with zero, one, or two blocks per doc so the
    multi-block path is exercised; extraction is one scan-side
    regexp_extract_all exploded INLINE (non-attribute generator child --
    no inferred filter) followed by JSON-path projections
    (get_json_object / json_extract_string, both engines' native JSON
    readers on identical bytes). Pure projection, zero shuffles."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.lit("<html><head>"),
        F.when(did % 7 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit(
                    '<script type="application/ld+json">'
                    '{"@type":"Article","headline":"Doc '
                ),
                did.cast("string"),
                F.lit('","wordCount":'),
                (F.col("n_chars") % 900).cast("string"),
                F.lit("}</script>"),
            )
        ),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(
                    '<script type="application/ld+json">'
                    '{"@type":"Product","name":"Item '
                ),
                (did % 40).cast("string"),
                F.lit('","sku":"S'),
                did.cast("string"),
                F.lit('"}</script>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>body</p></body></html>"),
    )
    u = d.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(
                page,
                F.lit(r'<script type="application/ld\+json">(.*?)</script>'),
                1,
            )
        ).alias("block_idx", "b"),
    )
    return u.select(
        "doc_id",
        F.col("block_idx").cast("int").alias("block_idx"),
        F.get_json_object("b", "$['@type']").alias("ld_type"),
        F.coalesce(
            F.get_json_object("b", "$.headline"),
            F.get_json_object("b", "$.name"),
        ).alias("name"),
        F.get_json_object("b", "$.wordCount")
        .try_cast("bigint")
        .alias("word_count"),
    )


_CODE_PAGE_SQL = """
    concat('<html><body><h1>Doc ', cast(doc_id AS VARCHAR), '</h1>',
      CASE WHEN doc_id % 5 = 0 THEN ''
           ELSE concat('<pre><code class="language-',
                       CASE doc_id % 3 WHEN 0 THEN 'python'
                            WHEN 1 THEN 'sql' ELSE 'js' END, '">',
                       'def f_', cast(doc_id AS VARCHAR), '():', chr(10),
                       '    return ', cast(doc_id % 97 AS VARCHAR), chr(10),
                       '</code></pre>') END,
      '<p>prose</p>',
      CASE WHEN doc_id % 4 = 0
           THEN concat('<pre><code>', 'x = [', cast(doc_id % 7 AS VARCHAR),
                       ']', chr(10), 'print(x)', '</code></pre>')
           ELSE '' END,
      '</body></html>')
"""


@query(
    "x_extract_code_blocks",
    f"""
    WITH page AS (SELECT doc_id, {{page}} AS html FROM documents),
    blocks AS (
      SELECT doc_id,
             regexp_extract_all(html, '(?s)(<pre><code[^>]*>.*?</code></pre>)', 1)
               AS bs
      FROM page),
    u AS (
      SELECT doc_id,
             generate_subscripts(bs, 1) - 1 AS block_idx,
             unnest(bs) AS b
      FROM blocks),
    c AS (
      SELECT doc_id, block_idx,
             coalesce(nullif(regexp_extract(b,
               'class="language-([a-z]+)"', 1), ''), 'plain') AS code_lang,
             regexp_extract(b, '(?s)<pre><code[^>]*>(.*?)</code></pre>', 1)
               AS code
      FROM u)
    SELECT doc_id, cast(block_idx AS INT) AS block_idx, code_lang,
           cast(length(code) - length(replace(code, chr(10), '')) AS BIGINT)
             AS n_lines,
           cast(length(code) AS BIGINT) AS n_chars,
           md5(code) AS code_md5
    FROM c
    """.format(page=_CODE_PAGE_SQL),
)
def x_extract_code_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Fenced code-block harvest (<pre><code>) with language-class
    detection -- how web-sourced CODE training corpora (The Stack v2's
    web slice, StarCoder's jupyter-from-web) are mined out of pages the
    main-content extractor would otherwise flatten into prose. Pages are
    synthesized with zero/one/two blocks across three languages plus a
    class-less block (falls back to 'plain'); extraction is one DOTALL
    regexp_extract_all exploded INLINE (non-attribute generator child),
    then per-block language/line/byte stats and the dedup-grain md5 (code
    dedup runs at block grain, not page grain -- the same boilerplate
    insight as paragraph dedup). Pure scan-side projection, no shuffle."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    nl = F.lit(chr(10))
    page = F.concat(
        F.lit("<html><body><h1>Doc "),
        did.cast("string"),
        F.lit("</h1>"),
        F.when(did % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit('<pre><code class="language-'),
                F.when(did % 3 == 0, F.lit("python"))
                .when(did % 3 == 1, F.lit("sql"))
                .otherwise(F.lit("js")),
                F.lit('">def f_'),
                did.cast("string"),
                F.lit("():"),
                nl,
                F.lit("    return "),
                (did % 97).cast("string"),
                nl,
                F.lit("</code></pre>"),
            )
        ),
        F.lit("<p>prose</p>"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("<pre><code>x = ["),
                (did % 7).cast("string"),
                F.lit("]"),
                nl,
                F.lit("print(x)</code></pre>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    u = d.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(
                page, F.lit("(?s)(<pre><code[^>]*>.*?</code></pre>)"), 1
            )
        ).alias("block_idx", "b"),
    )
    code = F.regexp_extract("b", "(?s)<pre><code[^>]*>(.*?)</code></pre>", 1)
    lang = F.regexp_extract("b", 'class="language-([a-z]+)"', 1)
    c = u.select(
        "doc_id",
        F.col("block_idx").cast("int").alias("block_idx"),
        F.coalesce(F.nullif(lang, F.lit("")), F.lit("plain")).alias(
            "code_lang"
        ),
        code.alias("code"),
    )
    return c.select(
        "doc_id",
        "block_idx",
        "code_lang",
        (F.length("code") - F.length(F.replace(F.col("code"), nl, F.lit(""))))
        .cast("bigint")
        .alias("n_lines"),
        F.length("code").cast("bigint").alias("n_chars"),
        F.md5("code").alias("code_md5"),
    )


@query(
    "a_quantile_histogram",
    """
    WITH v AS (SELECT doc_id, n_chars AS val FROM documents),
    mm AS (SELECT min(val) AS lo, max(val) AS hi, count(*) AS n FROM v),
    binned AS (
      SELECT least(255, (val - mm.lo) * 256 // (mm.hi - mm.lo + 1)) AS bin
      FROM v, mm),
    bins AS (SELECT bin, count(*) AS cnt FROM binned GROUP BY bin),
    cum AS (
      SELECT x.bin, sum(y.cnt) AS cum_count
      FROM bins x JOIN bins y ON y.bin <= x.bin GROUP BY x.bin),
    pcts AS (SELECT cast(p AS BIGINT) AS pct FROM (VALUES (25), (50), (75),
             (90), (99)) t(p)),
    tgt AS (
      SELECT pct, cast((pct * mm.n + 99) // 100 AS BIGINT) AS target_rank,
             mm.lo, mm.hi, mm.n
      FROM pcts, mm),
    pick AS (
      SELECT t.pct, t.target_rank, t.n AS n_total,
             min(c.bin) AS bin_id
      FROM tgt t JOIN cum c ON c.cum_count >= t.target_rank
      GROUP BY t.pct, t.target_rank, t.n)
    SELECT p.pct, cast(p.bin_id AS BIGINT) AS bin_id,
           cast(mm.lo + ((p.bin_id + 1) * (mm.hi - mm.lo + 1)) // 256 - 1
                AS BIGINT) AS est_value,
           cast(c.cum_count AS BIGINT) AS cum_count, p.target_rank, p.n_total
    FROM pick p JOIN cum c ON c.bin = p.bin_id, mm
    """,
)
def a_quantile_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile estimation via a 256-bin equi-width histogram sketch --
    the mergeable-summary complement to the exact a_range_bounds path and
    the fourth member of the sketch family (KMV distinct, HLL distinct,
    CMS heavy hitters, histogram quantiles). Bin counts are ADDITIVE, so
    map-side partial aggregation builds the sketch in one pass with
    constant memory and per-partition sketches merge by vector add --
    at 100 TB this replaces a full global sort with a 256-row reduce;
    error is bounded by bin width, the standard trade. Bounds ride in as
    a broadcast 1-row aggregate (no driver action); the 256-row
    cumulative is a broadcast triangular self-join, NEVER an
    unpartitioned window. Estimates are bin upper edges in exact integer
    arithmetic; both engines replay the identical sketch."""
    d = _t(spark, sf, "documents")
    v = d.select("doc_id", F.col("n_chars").alias("val"))
    mm = v.agg(
        F.min("val").alias("lo"), F.max("val").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = v.join(F.broadcast(mm)).select(
        F.least(
            F.lit(255),
            F.floor(
                (F.col("val") - F.col("lo"))
                * 256
                / (F.col("hi") - F.col("lo") + 1)
            ),
        ).alias("bin")
    )
    bins = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    x, y = bins.alias("x"), bins.alias("y")
    cum = (
        x.join(F.broadcast(y), F.col("y.bin") <= F.col("x.bin"))
        .groupBy(F.col("x.bin").alias("bin"))
        .agg(F.sum("y.cnt").alias("cum_count"))
    )
    pcts = spark.createDataFrame(
        [(25,), (50,), (75,), (90,), (99,)], "pct: bigint"
    )
    tgt = pcts.join(F.broadcast(mm)).select(
        "pct",
        F.floor((F.col("pct") * F.col("n") + 99) / 100).alias("target_rank"),
        "lo",
        "hi",
        F.col("n").alias("n_total"),
    )
    pick = (
        tgt.join(F.broadcast(cum), F.col("cum_count") >= F.col("target_rank"))
        .groupBy("pct", "target_rank", "n_total", "lo", "hi")
        .agg(F.min("bin").alias("bin_id"))
    )
    return pick.join(F.broadcast(cum), F.col("bin") == F.col("bin_id")).select(
        "pct",
        F.col("bin_id").cast("bigint").alias("bin_id"),
        (
            F.col("lo")
            + F.floor((F.col("bin_id") + 1) * (F.col("hi") - F.col("lo") + 1) / 256)
            - 1
        )
        .cast("bigint")
        .alias("est_value"),
        "cum_count",
        "target_rank",
        "n_total",
    )


@query(
    "t_zipf_slope",
    f"""
    WITH tok AS (
      SELECT lang, unnest({_TOK_SQL}) AS term FROM documents
      WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''),
    tc AS (SELECT lang, term, count(*) AS cnt FROM tok GROUP BY lang, term),
    rk AS (
      SELECT lang, term, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, term) AS rnk
      FROM tc),
    top AS (SELECT * FROM rk WHERE rnk <= 100),
    pts AS (SELECT lang, ln(cast(rnk AS DOUBLE)) AS x,
                   ln(cast(cnt AS DOUBLE)) AS y,
                   term, cnt, rnk
            FROM top),
    s AS (
      SELECT lang, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx,
             min(CASE WHEN rnk = 1 THEN term END) AS top_term,
             max(cnt) AS top_count
      FROM pts GROUP BY lang)
    SELECT lang, cast(n AS BIGINT) AS n_terms_used,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                 6) AS zipf_intercept,
           top_term, top_count
    FROM s
    """,
)
def t_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law fit per language: least-squares slope of ln(count) vs
    ln(rank) over the top-100 vocabulary ranks -- natural text sits near
    slope -1, and deviation is a cheap corpus-health diagnostic
    (machine-generated spam flattens the curve, boilerplate contamination
    steepens the head; Gopher and CCNet both inspect the rank-frequency
    shape). The rank window is partitioned by lang over the AGGREGATED
    (lang, term) vocabulary -- sublinear in corpus size by Heaps' law (the
    corpus-scale token stream is reduced by a map-side-combinable groupBy
    first), and only the top-100 rows per language survive into the fit.
    The regression itself is one groupBy over <=100 rows per language
    with closed-form normal equations; slope/intercept rounded 6 dp on
    both sides (the cosine-family float discipline)."""
    d = _t(spark, sf, "documents")
    tok = (
        d.select("lang", D.word_tokens(F.col("text")).alias("_t"))
        .repartition(_par(spark), "lang")
        .where(F.size("_t") > 0)
        .select("lang", F.explode("_t").alias("term"))
    )
    tc = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term"))
    top = tc.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 100)
    pts = top.select(
        "lang",
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
        "term",
        "cnt",
        "rnk",
    )
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min(F.when(F.col("rnk") == 1, F.col("term"))).alias("top_term"),
        F.max("cnt").alias("top_count"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "lang",
        F.col("n").cast("bigint").alias("n_terms_used"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
        "top_term",
        "top_count",
    )


@query(
    "u_frontier_priority",
    f"""
    WITH pr AS ({{pr}}),
    frontier AS (
      SELECT doc_id AS cand_id,
             (doc_id * 11 + 1) % 20 AS host,
             doc_id % 6 AS depth
      FROM documents),
    per_host AS (
      SELECT host, count(*) AS n_cand FROM frontier GROUP BY host),
    j AS (
      SELECT f.cand_id, f.host, f.depth,
             coalesce(pr.rank, 0) AS host_rank,
             p.n_cand
      FROM frontier f
      JOIN per_host p ON p.host = f.host
      LEFT JOIN pr ON pr.host = f.host)
    SELECT cand_id, cast(host AS BIGINT) AS host,
           cast(depth AS BIGINT) AS depth,
           host_rank,
           cast(host_rank // n_cand AS BIGINT) AS share,
           cast(host_rank // n_cand - 10000 * depth AS BIGINT) AS priority
    FROM j
    """.format(pr=_ORACLES["g_host_pagerank"]),
)
def u_frontier_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-frontier prioritization (OPIC, Abiteboul et al. WWW'03: a
    page's "cash" is its authority split evenly over its outstanding
    candidates): each frontier URL inherits host_rank // n_cand -- so a
    high-authority host with few unfetched pages beats a spam host with a
    million -- minus a fixed per-level depth penalty (breadth-first bias,
    the standard frontier shape). Composes the registered integer
    PageRank verbatim (engine calls the same query function; oracle
    embeds the same SQL as a CTE), then one groupBy for per-host
    candidate counts and two joins against host-cardinality tables --
    both broadcast at any scale (hosts are ~10^7 when docs are 10^12).
    All integer arithmetic: repartitioning can never flip a priority."""
    pr = _QUERIES["g_host_pagerank"](spark, sf)
    d = _t(spark, sf, "documents")
    frontier = d.select(
        F.col("doc_id").alias("cand_id"),
        ((F.col("doc_id") * 11 + 1) % 20).alias("host"),
        (F.col("doc_id") % 6).alias("depth"),
    )
    per_host = frontier.groupBy("host").agg(F.count(F.lit(1)).alias("n_cand"))
    j = frontier.join(F.broadcast(per_host), "host").join(
        F.broadcast(pr), "host", "left"
    )
    share = F.expr("coalesce(rank, 0) DIV n_cand")
    return j.select(
        "cand_id",
        F.col("host").cast("bigint").alias("host"),
        F.col("depth").cast("bigint").alias("depth"),
        F.coalesce(F.col("rank"), F.lit(0)).cast("bigint").alias("host_rank"),
        share.cast("bigint").alias("share"),
        (share - 10000 * F.col("depth")).cast("bigint").alias("priority"),
    )


@query(
    "e_kmeans_cohesion",
    f"""
    WITH asg AS ({{km}}),
    e2 AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings),
    cent AS (
      SELECT asg.cluster, e2.d, avg(e2.v) AS cv
      FROM asg JOIN e2 USING (vec_id) GROUP BY asg.cluster, e2.d),
    sim AS (
      SELECT e2.vec_id, asg.cluster,
             round(sum(e2.v * cent.cv)
                   / (sqrt(sum(e2.v * e2.v)) * sqrt(sum(cent.cv * cent.cv))),
                   6) AS s
      FROM e2 JOIN asg USING (vec_id)
      JOIN cent ON cent.cluster = asg.cluster AND cent.d = e2.d
      GROUP BY e2.vec_id, asg.cluster),
    m AS (SELECT cluster, cast(round(s * 1000000, 0) AS BIGINT) AS sm
          FROM sim)
    SELECT cluster, count(*) AS n_members,
           cast(sum(sm) // count(*) AS BIGINT) AS mean_cohesion_ppm,
           min(sm) AS min_cohesion_ppm
    FROM m GROUP BY cluster
    """.format(km=_ORACLES["e_kmeans_clusters"]),
)
def e_kmeans_cohesion(spark: SparkSession, sf: str) -> DataFrame:
    """Clustering-quality readout for the IVF coarse quantizer: per-final-
    cluster cosine cohesion (mean and worst member-to-centroid similarity)
    -- the spherical-k-means analogue of inertia, and the eval that picks
    k / flags a degenerate cluster before SemDeDup or IVF search trusts
    the partition (a cluster whose min cohesion is low mixes unrelated
    regions; one whose size explodes is the d_semdedup hot-cluster case).
    Composes the registered k-means verbatim (engine calls the same query
    function; oracle embeds the same SQL), recomputes final centroids as
    one (cluster, d) groupBy -- k*dim rows -- and scores members with one
    more join+agg. Per-member similarities are converted to exact integer
    micro-units BEFORE the per-cluster mean, so the aggregate is an
    order-invariant integer sum -- no FP-summation-order hazard."""
    km = _QUERIES["e_kmeans_clusters"](spark, sf)
    e = _t(spark, sf, "embeddings")
    e2 = e.select(
        "vec_id", F.posexplode("embedding").alias("d0", "v")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), F.col("v").cast("double"))
    cent = (
        km.join(e2, "vec_id")
        .groupBy("cluster", "d")
        .agg(F.avg("v").alias("cv"))
    )
    sim = (
        e2.join(km, "vec_id")
        .join(cent, ["cluster", "d"])
        .groupBy("vec_id", "cluster")
        .agg(
            F.round(
                F.sum(F.col("v") * F.col("cv"))
                / (
                    F.sqrt(F.sum(F.col("v") * F.col("v")))
                    * F.sqrt(F.sum(F.col("cv") * F.col("cv")))
                ),
                6,
            ).alias("s")
        )
    )
    m = sim.select(
        "cluster", F.round(F.col("s") * 1000000, 0).cast("bigint").alias("sm")
    )
    return m.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr("sum(sm) DIV count(*)").alias("mean_cohesion_ppm"),
        F.min("sm").alias("min_cohesion_ppm"),
    )


_HREFLANG_PAGE_SQL = """
    concat('<html><head>',
      '<link rel="alternate" hreflang="en" href="https://example.com/en/page',
      cast(doc_id // 3 AS VARCHAR), '">',
      '<link rel="alternate" hreflang="de" href="https://example.com/de/page',
      cast(doc_id // 3 AS VARCHAR), '">',
      CASE WHEN doc_id % 2 = 0 THEN concat(
        '<link rel="alternate" hreflang="fr" href="https://example.com/fr/page',
        cast(doc_id // 3 AS VARCHAR), '">') ELSE '' END,
      '</head><body></body></html>')
"""


@query(
    "u_hreflang_cluster",
    f"""
    WITH page AS (SELECT doc_id, {{page}} AS html FROM documents),
    tags AS (
      SELECT doc_id,
             regexp_extract_all(html,
               '(<link rel="alternate" hreflang="[a-z]+" href="[^"]+">)', 1)
               AS ts
      FROM page),
    per_doc AS (
      SELECT doc_id,
             md5(list_min(list_transform(ts,
               t -> regexp_extract(t, 'href="([^"]+)"', 1)))) AS cluster_key,
             list_sort(list_distinct(list_transform(ts,
               t -> regexp_extract(t, 'hreflang="([a-z]+)"', 1)))) AS langs
      FROM tags WHERE len(ts) > 0)
    SELECT cluster_key,
           count(*) AS n_pages,
           max(array_to_string(langs, ',')) AS langs_declared,
           min(doc_id) AS first_doc
    FROM per_doc GROUP BY cluster_key
    """.format(page=_HREFLANG_PAGE_SQL),
)
def u_hreflang_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """hreflang alternate-cluster discovery -- how web-scale bitext
    mining (CCAligned, CCMatrix) finds translation candidates BEFORE any
    embedding math: pages that declare each other as language alternates
    form a cluster keyed by the lexicographically-least alternate URL,
    and every cross-language pair inside a cluster is a mining candidate
    for e_bitext_mine. Tag parsing is scan-side regexp_extract_all with
    per-doc list ops (evaluated on the materialized tag array, never a
    re-inlined subtree); the cluster key is an md5 so downstream joins
    shuffle on a uniform 32-char hash. One groupBy on cluster_key; pages
    per cluster are bounded by a site's language count, so no hot key."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    cid = F.floor(did / 3).cast("string")
    page = F.concat(
        F.lit(
            '<html><head><link rel="alternate" hreflang="en" '
            'href="https://example.com/en/page'
        ),
        cid,
        F.lit(
            '"><link rel="alternate" hreflang="de" '
            'href="https://example.com/de/page'
        ),
        cid,
        F.lit('">'),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(
                    '<link rel="alternate" hreflang="fr" '
                    'href="https://example.com/fr/page'
                ),
                cid,
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body></body></html>"),
    )
    tags = d.select(
        "doc_id",
        F.regexp_extract_all(
            page,
            F.lit('(<link rel="alternate" hreflang="[a-z]+" href="[^"]+">)'),
            1,
        ).alias("ts"),
    ).where(F.size("ts") > 0)

    def _href(t):
        return F.regexp_extract(t, 'href="([^"]+)"', 1)

    def _hl(t):
        return F.regexp_extract(t, 'hreflang="([a-z]+)"', 1)

    per_doc = tags.select(
        "doc_id",
        F.md5(F.array_min(F.transform("ts", _href))).alias("cluster_key"),
        F.array_sort(F.array_distinct(F.transform("ts", _hl))).alias("langs"),
    )
    return per_doc.groupBy("cluster_key").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.max(F.array_join("langs", ",")).alias("langs_declared"),
        F.min("doc_id").alias("first_doc"),
    )


_RSS_FEED_SQL = """
    concat('<rss version="2.0"><channel><title>Feed ',
      cast(doc_id % 11 AS VARCHAR), '</title>',
      '<item><title>Post ', cast(doc_id AS VARCHAR),
      '</title><link>https://example', cast(doc_id % 7 AS VARCHAR),
      '.com/p/', cast(doc_id AS VARCHAR), '</link><pubDate>2024-0',
      cast(doc_id % 9 + 1 AS VARCHAR), '-1', cast(doc_id % 9 AS VARCHAR),
      '</pubDate></item>',
      CASE WHEN doc_id % 3 = 0 THEN concat(
        '<item><title>Update ', cast(doc_id % 40 AS VARCHAR),
        '</title><link>https://example', cast(doc_id % 7 AS VARCHAR),
        '.com/u/', cast(doc_id % 40 AS VARCHAR), '</link></item>')
      ELSE '' END,
      '</channel></rss>')
"""


@query(
    "w_rss_items",
    f"""
    WITH feed AS (SELECT doc_id, {{feed}} AS xml FROM documents),
    items AS (
      SELECT doc_id,
             regexp_extract_all(xml, '(<item>.*?</item>)', 1) AS its
      FROM feed),
    u AS (
      SELECT doc_id,
             generate_subscripts(its, 1) - 1 AS item_idx,
             unnest(its) AS it
      FROM items)
    SELECT doc_id, cast(item_idx AS INT) AS item_idx,
           regexp_extract(it, '<title>([^<]*)</title>', 1) AS title,
           regexp_extract(it, '<link>([^<]*)</link>', 1) AS link,
           nullif(regexp_extract(it, '<pubDate>([^<]*)</pubDate>', 1), '')
             AS pub_date,
           md5(regexp_extract(it, '<link>([^<]*)</link>', 1)) AS link_md5
    FROM u
    """.format(feed=_RSS_FEED_SQL),
)
def w_rss_items(spark: SparkSession, sf: str) -> DataFrame:
    """RSS/Atom feed-item extraction -- the crawl-DISCOVERY sibling of
    w_sitemap_parse: feeds surface new URLs faster than sitemaps, so a
    freshness-oriented crawler (news corpora, C4-news) polls feeds and
    merges item links into the frontier (u_frontier_priority ranks them;
    u_bloom_visited drops the seen ones via link_md5). Feeds are
    synthesized with one or two items; item extraction is one scan-side
    regexp_extract_all exploded INLINE, then per-item field regexes --
    the established codec shape (WARC/WET/CDX/sitemap), pure projection,
    zero shuffles. Missing pubDate maps to NULL identically both sides."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    xml = F.concat(
        F.lit('<rss version="2.0"><channel><title>Feed '),
        (did % 11).cast("string"),
        F.lit("</title><item><title>Post "),
        did.cast("string"),
        F.lit("</title><link>https://example"),
        (did % 7).cast("string"),
        F.lit(".com/p/"),
        did.cast("string"),
        F.lit("</link><pubDate>2024-0"),
        (did % 9 + 1).cast("string"),
        F.lit("-1"),
        (did % 9).cast("string"),
        F.lit("</pubDate></item>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<item><title>Update "),
                (did % 40).cast("string"),
                F.lit("</title><link>https://example"),
                (did % 7).cast("string"),
                F.lit(".com/u/"),
                (did % 40).cast("string"),
                F.lit("</link></item>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</channel></rss>"),
    )
    u = d.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(xml, F.lit("(<item>.*?</item>)"), 1)
        ).alias("item_idx", "it"),
    )
    link = F.regexp_extract("it", "<link>([^<]*)</link>", 1)
    return u.select(
        "doc_id",
        F.col("item_idx").cast("int").alias("item_idx"),
        F.regexp_extract("it", "<title>([^<]*)</title>", 1).alias("title"),
        link.alias("link"),
        F.nullif(
            F.regexp_extract("it", "<pubDate>([^<]*)</pubDate>", 1), F.lit("")
        ).alias("pub_date"),
        F.md5(link).alias("link_md5"),
    )


@query(
    "m_dataset_card_stats",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, source, n_chars,
             CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                  THEN 0 ELSE array_length({_TOK_SQL}) END AS n_tokens,
             md5(text) AS h
      FROM documents),
    dup AS (SELECT h, count(*) AS c FROM tok GROUP BY h),
    per AS (
      SELECT t.lang, t.n_tokens, t.n_chars,
             CASE WHEN dup.c > 1 THEN 1 ELSE 0 END AS is_dup
      FROM tok t JOIN dup ON dup.h = t.h),
    tot AS (SELECT sum(n_tokens) AS all_tokens FROM per)
    SELECT lang,
           count(*) AS n_docs,
           cast(sum(n_tokens) AS BIGINT) AS total_tokens,
           cast(sum(n_chars) AS BIGINT) AS total_chars,
           cast(sum(n_tokens) // count(*) AS BIGINT) AS mean_doc_tokens,
           cast(sum(n_tokens) * 1000000 // (SELECT all_tokens FROM tot)
                AS BIGINT) AS token_share_ppm,
           cast(sum(is_dup) AS BIGINT) AS exact_dup_docs,
           cast(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_rate_ppm
    FROM per GROUP BY lang
    """,
)
def m_dataset_card_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card rollup (Gebru et al. "Datasheets for Datasets"; the
    table every corpus release ships): per language -- documents, token
    and byte mass, token share of the whole corpus, and the exact-dup
    contamination rate. This is the one-page summary a 100-TB curation
    run publishes beside the data, and the regression anchor between
    corpus versions (a share shift or a dup-rate jump is the first sign a
    filter broke upstream). Plan: one scan-side token/hash projection
    (text evaluated once per row, repartition barrier), the standard
    (md5 -> count) dup groupBy probed back 1:1, then a |langs|-row
    groupBy with every ratio in exact integer ppm against a broadcast
    1-row total. Everything map-side combinable; no window anywhere."""
    d = _t(spark, sf, "documents")
    tok = (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            D.word_tokens(F.col("text")).alias("_t"),
            F.md5("text").alias("h"),
        )
        .repartition(_par(spark), "doc_id")
        .select("doc_id", "lang", "n_chars", F.size("_t").alias("n_tokens"), "h")
    )
    dup = tok.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    per = tok.join(dup, "h").select(
        "lang",
        "n_tokens",
        "n_chars",
        F.when(F.col("c") > 1, 1).otherwise(0).alias("is_dup"),
    )
    tot = per.agg(F.sum("n_tokens").alias("all_tokens"))
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.expr("sum(n_tokens) DIV count(*)").alias("mean_doc_tokens"),
        F.sum("is_dup").alias("exact_dup_docs"),
        F.expr("sum(is_dup) * 1000000 DIV count(*)").alias("dup_rate_ppm"),
    )
    return g.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        "mean_doc_tokens",
        F.expr("total_tokens * 1000000 DIV all_tokens").alias(
            "token_share_ppm"
        ),
        "exact_dup_docs",
        "dup_rate_ppm",
    )


_REDIR_STEP_SQL = """
    SELECT doc_id AS u,
           CASE WHEN doc_id % 8 IN (0, 1, 2, 3) THEN doc_id + 1
                ELSE doc_id END AS v,
           CASE WHEN doc_id % 8 IN (0, 1, 2, 3) THEN 1 ELSE 0 END AS h
    FROM documents
"""


@query(
    "u_redirect_resolve",
    f"""
    WITH s0 AS ({_REDIR_STEP_SQL}),
    s1 AS (SELECT a.u, coalesce(b.v, a.v) AS v, a.h + coalesce(b.h, 0) AS h
           FROM s0 a LEFT JOIN s0 b ON a.v = b.u),
    s2 AS (SELECT a.u, coalesce(b.v, a.v) AS v, a.h + coalesce(b.h, 0) AS h
           FROM s1 a LEFT JOIN s1 b ON a.v = b.u),
    s3 AS (SELECT a.u, coalesce(b.v, a.v) AS v, a.h + coalesce(b.h, 0) AS h
           FROM s2 a LEFT JOIN s2 b ON a.v = b.u)
    SELECT u AS src, v AS final_dst, cast(h AS BIGINT) AS n_hops,
           h = 0 AS is_terminal
    FROM s3
    """,
)
def u_redirect_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: each round
    self-joins the (u -> v, hops) map on v = u', squaring the reachable
    hop distance -- 3 rounds resolve chains up to 8 hops (the practical
    cap crawlers enforce anyway; curl defaults to 50 but CC truncates
    redirects much earlier). Rounds LEFT-join: a redirect pointing
    OUTSIDE the table (an off-corpus target) is terminal at that
    hop, so boundary rows never vanish -- an inner join would
    silently drop any source whose chain exits the map. This is how a 100-TB CDX redirect table
    collapses to final URLs in O(log maxchain) shuffles instead of
    one-join-per-hop: the same large-star contraction idea as
    d_dup_components, specialized to functional graphs (out-degree 1), so
    each round is ONE equi-join with no explosion. Terminals self-loop
    with hop 0, keeping hop sums exact. The redirect map is synthesized
    with chain runs up to 4 hops (doc_id%8 in 0..3 steps forward); the
    oracle unrolls the identical three doubling rounds."""
    d = _t(spark, sf, "documents")
    step = F.col("doc_id") % 8 < 4
    s = d.select(
        F.col("doc_id").alias("u"),
        F.when(step, F.col("doc_id") + 1).otherwise(F.col("doc_id")).alias("v"),
        F.when(step, F.lit(1)).otherwise(F.lit(0)).alias("h"),
    ).repartition(_par(spark), "u")
    for _ in range(3):
        a, b = s.alias("a"), s.alias("b")
        s = a.join(b, F.col("a.v") == F.col("b.u"), "left").select(
            F.col("a.u").alias("u"),
            F.coalesce(F.col("b.v"), F.col("a.v")).alias("v"),
            (F.col("a.h") + F.coalesce(F.col("b.h"), F.lit(0))).alias("h"),
        )
    return s.select(
        F.col("u").alias("src"),
        F.col("v").alias("final_dst"),
        F.col("h").cast("bigint").alias("n_hops"),
        (F.col("h") == 0).alias("is_terminal"),
    )


@query(
    "e_embedding_norm_outliers",
    """
    WITH n AS (
      SELECT vec_id, label,
             cast(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * 1000000, 0) AS BIGINT) AS norm_ppm
      FROM embeddings),
    s AS (SELECT count(*) AS cnt, sum(norm_ppm) AS tot FROM n),
    m AS (SELECT n.vec_id, n.label, n.norm_ppm,
                 s.tot // s.cnt AS mean_ppm, s.cnt
          FROM n, s),
    v AS (SELECT sum((norm_ppm - mean_ppm) * (norm_ppm - mean_ppm)) // max(cnt)
            AS var_ppm2 FROM m)
    SELECT m.vec_id, m.label, m.norm_ppm,
           cast(m.mean_ppm AS BIGINT) AS mean_ppm,
           (m.norm_ppm - m.mean_ppm) * (m.norm_ppm - m.mean_ppm)
             > 9 * v.var_ppm2 AS is_outlier
    FROM m, v
    """,
)
def e_embedding_norm_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-column QC: L2-norm outliers at 3 sigma -- the cheap
    screen that catches a broken encoder batch (zero vectors, fp16
    overflow rows, un-normalized shards) BEFORE norms poison cosine
    blocking (SRP buckets and k-means both assume comparable scale).
    Norms go to integer micro-units immediately; mean and variance are
    then exact integer aggregates (order-invariant, map-side
    combinable), and the 3-sigma test compares squared deviation against
    9x variance -- no sqrt, no FP accumulation anywhere past the one
    rounded norm. Two 1-row broadcast aggregates; scan-side verdict."""
    e = _t(spark, sf, "embeddings")

    n = e.select(
        "vec_id",
        "label",
        F.round(
            F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("norm_ppm"),
    )
    s = n.agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("norm_ppm").alias("tot")
    )
    m = n.join(F.broadcast(s)).select(
        "vec_id",
        "label",
        "norm_ppm",
        F.expr("tot DIV cnt").alias("mean_ppm"),
        "cnt",
    )
    dev2 = (F.col("norm_ppm") - F.col("mean_ppm")) * (
        F.col("norm_ppm") - F.col("mean_ppm")
    )
    v = m.agg(
        F.expr(
            "sum((norm_ppm - mean_ppm) * (norm_ppm - mean_ppm)) DIV max(cnt)"
        ).alias("var_ppm2")
    )
    return m.join(F.broadcast(v)).select(
        "vec_id",
        "label",
        "norm_ppm",
        "mean_ppm",
        (dev2 > 9 * F.col("var_ppm2")).alias("is_outlier"),
    )


@query(
    "m_epoch_shuffle",
    f"""
    WITH ep AS (SELECT cast(e AS BIGINT) AS epoch
                FROM (VALUES (0), (1)) t(e)),
    keyed AS (
      SELECT ep.epoch, d.doc_id,
             md5(concat('ep', cast(ep.epoch AS VARCHAR), ':',
                        cast(d.doc_id AS VARCHAR))) AS k
      FROM documents d, ep),
    r AS (
      SELECT epoch, doc_id, k,
             row_number() OVER (PARTITION BY epoch, substr(k, 1, 1)
                                ORDER BY k, doc_id) AS rn
      FROM keyed),
    c AS (SELECT epoch, substr(k, 1, 1) AS b, count(*) AS cnt FROM keyed
          GROUP BY epoch, substr(k, 1, 1)),
    o AS (
      SELECT x.epoch, x.b, coalesce(sum(y.cnt), 0) AS off
      FROM c x LEFT JOIN c y ON y.epoch = x.epoch AND y.b < x.b
      GROUP BY x.epoch, x.b)
    SELECT r.epoch, r.doc_id,
           cast(o.off + r.rn AS BIGINT) AS shuffle_rank
    FROM r JOIN o ON o.epoch = r.epoch AND o.b = substr(r.k, 1, 1)
    """,
)
def m_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Reproducible per-epoch training shuffle: every epoch assigns each
    document a global position by ranking md5('ep<e>:<id>') -- a
    deterministic permutation that changes completely between epochs but
    is bit-identical across re-runs, resumes, and partitioning (what a
    data loader needs to skip to step k of epoch e after a crash without
    replaying the stream; RNG-seeded shuffles lose that the moment the
    partition layout changes). The global rank uses the two-level plan:
    row_number within (epoch, first-hex-digit bucket) -- 16 bounded
    shards per epoch -- plus broadcast bucket-offset sums; never an
    unpartitioned window. Epochs ride in as a 2-row broadcast values
    table, so the whole thing is one corpus scan per epoch-pair."""
    d = _t(spark, sf, "documents")
    ep = spark.createDataFrame([(0,), (1,)], "epoch: bigint")
    keyed = d.join(F.broadcast(ep)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("ep"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("k"),
    )
    b = F.substring("k", 1, 1)
    w = Window.partitionBy("epoch", b).orderBy("k", "doc_id")
    r = keyed.select(
        "epoch", "doc_id", "k", b.alias("b"), F.row_number().over(w).alias("rn")
    )
    c = keyed.groupBy("epoch", b.alias("b")).agg(F.count(F.lit(1)).alias("cnt"))
    x, y = c.alias("x"), c.alias("y")
    o = (
        x.join(
            F.broadcast(y),
            (F.col("y.epoch") == F.col("x.epoch"))
            & (F.col("y.b") < F.col("x.b")),
            "left",
        )
        .groupBy(F.col("x.epoch").alias("epoch"), F.col("x.b").alias("b"))
        .agg(F.coalesce(F.sum("y.cnt"), F.lit(0)).alias("off"))
    )
    return r.join(F.broadcast(o), ["epoch", "b"]).select(
        "epoch",
        "doc_id",
        (F.col("off") + F.col("rn")).cast("bigint").alias("shuffle_rank"),
    )
