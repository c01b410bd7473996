"""Round-4 pass 11: unicode NFC, topics, charset, canonical, containment.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    Column,
    D,
    DataFrame,
    F,
    SparkSession,
    Window,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _LSH_PAIRS_SQL,
    _SHINGLE_SQL,
    _TOK_SQL_SAFE,
)


# --- round-4 eleventh pass: unicode NFC hygiene, topic classification,
# --- charset sniffing, canonical-URL clusters, containment dedup
# --- (appended AFTER the pinned r4 driver window)


_DIRTY_SQL = """
    text || CASE doc_id % 5
      WHEN 0 THEN ' e' || chr(769) || ' cafe' || chr(769)
      WHEN 1 THEN ' ' || chr(8203) || 'x' || chr(173) || 'y'
      WHEN 2 THEN chr(160) || 'q'
      WHEN 3 THEN ' ' || chr(7) || 'bell' || chr(159)
      ELSE ' ' || chr(233) || ' plain'
    END
"""


@query(
    "t_unicode_clean",
    f"""
    WITH dirty AS (SELECT doc_id, {_DIRTY_SQL} AS t FROM documents),
    stripped AS (
      SELECT doc_id, length(t) AS n_in,
        regexp_replace(regexp_replace(regexp_replace(t,
          '[' || chr(8203) || chr(8204) || chr(8205) || chr(65279)
              || chr(173) || ']', '', 'g'),
          '[\\x00-\\x08\\x0b-\\x1f\\x7f\\x{{0080}}-\\x{{009f}}]', '', 'g'),
          chr(160), ' ', 'g') AS s
      FROM dirty)
    SELECT doc_id, cast(n_in AS BIGINT) AS n_in,
           cast(length(s) AS BIGINT) AS n_stripped,
           cast(length(nfc_normalize(s)) AS BIGINT) AS n_out,
           nfc_normalize(s) <> s AS nfc_changed,
           md5(nfc_normalize(s)) AS clean_md5
    FROM stripped
    """,
)
def t_unicode_clean(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode hygiene stage (ftfy-class): strip zero-width chars, soft
    hyphens, and C0/C1 controls (keeping tab/newline), map NBSP to plain
    space, then NFC-normalize — run BEFORE tokenizing and exact dedup so
    composed and decomposed 'cafe\u0301' hash identically. Test corpus
    text is clean ASCII, so the query plants one deterministic dirt class
    per doc_id%5 (decomposed combining acute / ZWSP+SHY / NBSP / BEL+C1
    control / precomposed e-acute) — every branch of the cleaner fires,
    including the already-clean one. Engine split by cost: the strip set
    is a scan-side regexp_replace chain (textstats.strip_invisible, pure
    codegen); canonical composition has no Spark built-in, so NFC runs in
    ONE Arrow-batched mapInPandas (textstats.unicode_clean) — outside the
    extraction hot path. Oracle replays the strip in RE2 and checks NFC
    against DuckDB's utf8proc nfc_normalize — two independent NFC
    implementations agreeing on the output md5."""
    from pdf_extractor_spark.operators import textstats as TT

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(did % 5 == 0, F.lit(" e\u0301 cafe\u0301"))
        .when(did % 5 == 1, F.lit(" \u200bx\u00ady"))
        .when(did % 5 == 2, F.lit("\u00a0q"))
        .when(did % 5 == 3, F.lit(" \x07bell\u009f"))
        .otherwise(F.lit(" \u00e9 plain")),
    )
    return TT.unicode_clean(
        d.select("doc_id", dirty.alias("text")),
        n_partitions=_par(spark),
    )


# Topic lexicons for the zero-model topic router (alphabetical topic
# order = deterministic argmax tie-break). Tiny and fixed so the DuckDB
# oracle regenerates the identical lists.
_TOPIC_LEX: list[tuple[str, list[str]]] = [
    ("arts", ["music", "film", "novel", "theater", "poem", "dance"]),
    ("business", ["market", "price", "company", "trade", "profit", "stock"]),
    ("health", ["doctor", "disease", "drug", "patient", "medical", "virus"]),
    ("science", ["energy", "space", "cell", "theory", "physics", "climate"]),
    ("sports", ["game", "team", "player", "season", "score", "league"]),
    ("tech", ["software", "computer", "internet", "code", "digital", "robot"]),
]


def _topic_marker_sql() -> str:
    """SQL expression planting two keywords of topic doc_id%7 (when < 6),
    repeated 1 + doc_id%3 times, plus one keyword of the NEXT topic on
    even ids — so zero scores, margins, and cross-topic noise all occur
    in the fixture (topic six of seven is 'none')."""
    br = []
    for i, (_, kws) in enumerate(_TOPIC_LEX):
        nxt = _TOPIC_LEX[(i + 1) % len(_TOPIC_LEX)][1][0]
        br.append(
            f"WHEN {i} THEN repeat(' {kws[0]} {kws[1]}', "
            "cast(1 + doc_id % 3 AS INT)) || "
            f"CASE WHEN doc_id % 2 = 0 THEN ' {nxt}' ELSE '' END"
        )
    return "text || CASE doc_id % 7 " + " ".join(br) + " ELSE '' END"


def _topic_list_sql(kws: list[str]) -> str:
    return "[" + ", ".join(f"'{k}'" for k in kws) + "]"


_TOPIC_SCORES = ", ".join("s_" + n for n, _ in _TOPIC_LEX)


@query(
    "t_topic_classify",
    f"""
    WITH aug AS (SELECT doc_id, {_topic_marker_sql()} AS text
                 FROM documents),
    tok AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM aug),
    s AS (
      SELECT doc_id,
    """
    + ",\n".join(
        f"        len(list_filter(toks, t -> list_contains("
        f"{_topic_list_sql(kws)}, t))) AS s_{name}"
        for name, kws in _TOPIC_LEX
    )
    + f"""
      FROM tok)
    SELECT doc_id,
           CASE WHEN greatest({_TOPIC_SCORES}) = 0 THEN 'none'
    """
    + " ".join(
        f"WHEN s_{name} = greatest({_TOPIC_SCORES}) THEN '{name}'"
        for name, _ in _TOPIC_LEX
    )
    + f"""
           END AS topic,
           cast(greatest({_TOPIC_SCORES}) AS BIGINT) AS score,
           cast({" + ".join("s_" + n for n, _ in _TOPIC_LEX)}
                AS BIGINT) AS total_hits
    FROM s
    """,
)
def t_topic_classify(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-model topic router (the keyword stand-in for a fastText/
    WebOrganizer-class domain classifier — the stage that labels documents
    for topic-aware mixture weighting, cf. DoReMi and WebOrganizer): the
    per-topic score counts token instances hitting a tiny fixed lexicon,
    the winner is argmax with alphabetical tie-break, 'none' when nothing
    hits. Fixture text is a closed vocabulary with no topic terms, so the
    query plants deterministic keyword runs per doc_id%7 (one class stays
    'none') with an odd/even cross-topic term so ties and margins both
    occur. Plan: tokens materialized ONCE behind a repartition barrier
    (staging discipline), six size(filter(isin)) HOF counts over that
    attribute array — scan-side, no explode, no shuffle past the barrier;
    classification is a pure CASE chain. At 100 TB this is a zero-shuffle
    map stage; swapping the lexicon for trained classifier weights keeps
    the identical plan (t_quality_classifier is that shape)."""
    d = _t(spark, sf, "documents")
    from pdf_extractor_spark.operators.dedup import word_tokens

    did = F.col("doc_id")
    marker = F.lit("")
    for i, (_, kws) in enumerate(_TOPIC_LEX):
        nxt = _TOPIC_LEX[(i + 1) % len(_TOPIC_LEX)][1][0]
        expr = F.concat(
            F.repeat(
                F.lit(f" {kws[0]} {kws[1]}"),
                (F.lit(1) + did % 3).cast("int"),
            ),
            F.when(did % 2 == 0, F.lit(f" {nxt}")).otherwise(F.lit("")),
        )
        marker = F.when(did % 7 == i, expr).otherwise(marker)
    staged = d.select(
        "doc_id",
        word_tokens(F.concat(F.col("text"), marker)).alias("_toks"),
    ).repartition(_par(spark), "doc_id")

    def _score(kws: list[str]) -> Column:
        def _hit(t: Column) -> Column:
            return t.isin(*kws)

        return F.size(F.filter(F.col("_toks"), _hit)).cast("bigint")

    scored = staged.select(
        "doc_id",
        *[_score(kws).alias(f"s_{name}") for name, kws in _TOPIC_LEX],
    )
    best = F.greatest(*[F.col(f"s_{n}") for n, _ in _TOPIC_LEX])
    topic = F.when(best == F.lit(0), F.lit("none"))
    for name, _ in _TOPIC_LEX:
        topic = topic.when(F.col(f"s_{name}") == best, F.lit(name))
    total = None
    for name, _ in _TOPIC_LEX:
        c = F.col(f"s_{name}")
        total = c if total is None else total + c
    return scored.select(
        "doc_id",
        topic.alias("topic"),
        best.cast("bigint").alias("score"),
        total.cast("bigint").alias("total_hits"),
    )


# Hex of 'charset=' followed by optional quote, the lazily-captured value
# bytes, and a terminator (quote, '>', space, ';') — byte-domain detection
# shared by both engines (Spark hex is uppercase, DuckDB lowercase: both
# sides lower() first).
_CHARSET_HEX_RE = "636861727365743d(22|27)?((?:[0-9a-f]{2})*?)(22|27|3e|20|3b)"


def _sniff_body_sql() -> str:
    return """CASE doc_id % 6
      WHEN 3 THEN '<html><head><meta charset="utf-8"><title>m3</title>'
                  || '</head><body>page ' || doc_id || '</body></html>'
      WHEN 4 THEN '<html><head><meta http-equiv="content-type" '
                  || 'content="text/html; charset=iso-8859-1"></head>'
                  || '<body>page ' || doc_id || '</body></html>'
      WHEN 5 THEN '<html><head><title>plain</title></head><body>'
                  || repeat('x', 1100) || '<meta charset="koi8-r">page '
                  || doc_id || '</body></html>'
      ELSE '<html><head><title>b' || doc_id % 6 || '</title></head>'
           || '<body>page ' || doc_id || '</body></html>'
    END"""


@query(
    "w_charset_sniff",
    f"""
    WITH page AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN unhex('efbbbf') || encode({{body}})
                  WHEN doc_id % 6 = 1 THEN unhex('fffe') || encode({{body}})
                  WHEN doc_id % 6 = 2 THEN unhex('feff') || encode({{body}})
                  ELSE encode({{body}}) END AS payload
      FROM documents),
    hx AS (
      SELECT doc_id, octet_length(payload) AS n_bytes,
             lower(hex(payload)) AS h
      FROM page),
    det AS (
      SELECT doc_id, n_bytes, h,
             regexp_extract(substr(h, 1, 2048), '{_CHARSET_HEX_RE}', 2)
               AS cap
      FROM hx)
    SELECT doc_id, cast(n_bytes AS BIGINT) AS n_bytes,
           CASE WHEN h LIKE 'efbbbf%' OR h LIKE 'fffe%' OR h LIKE 'feff%'
                THEN 'bom'
                WHEN cap <> '' THEN 'meta' ELSE 'default' END AS method,
           CASE WHEN h LIKE 'efbbbf%' THEN 'utf-8'
                WHEN h LIKE 'fffe%' THEN 'utf-16le'
                WHEN h LIKE 'feff%' THEN 'utf-16be'
                WHEN cap <> '' THEN lower(decode(unhex(cap)))
                ELSE 'windows-1252' END AS charset
    FROM det
    """.replace("{body}", _sniff_body_sql()),
)
def w_charset_sniff(spark: SparkSession, sf: str) -> DataFrame:
    """WHATWG-style encoding sniff over raw fetched bytes — the decision
    every crawl pipeline makes BEFORE parsing (the html column is binary;
    decoding it wrong mojibakes everything downstream): a BOM wins
    (UTF-8 / UTF-16LE / UTF-16BE), else the first meta charset
    declaration within the 1024-byte prelude, else the windows-1252
    legacy default. Detection runs in the HEX domain so both engines
    execute identical byte-level logic with zero UDFs: lower(hex(bytes))
    then prefix tests + one lazy regex over the prelude's 2048 hex chars,
    unhex the captured value back to its ASCII label. Fixture payloads
    are synthesized per doc_id%6 (three BOMs, quoted meta, http-equiv
    meta, and a trap: a meta tag past the 1024-byte prelude that must NOT
    match). Scan-side projection only — zero shuffles at any scale.
    Limitation (documented): the hex regex matches lowercase 'charset='
    only; a production sniffer lowercases the prelude after an ASCII
    decode, which needs the same one regexp pass."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    cls = did % 6
    body = (
        F.when(
            cls == 3,
            F.concat(
                F.lit('<html><head><meta charset="utf-8"><title>m3</title>'),
                F.lit("</head><body>page "),
                did.cast("string"),
                F.lit("</body></html>"),
            ),
        )
        .when(
            cls == 4,
            F.concat(
                F.lit('<html><head><meta http-equiv="content-type" '),
                F.lit('content="text/html; charset=iso-8859-1"></head>'),
                F.lit("<body>page "),
                did.cast("string"),
                F.lit("</body></html>"),
            ),
        )
        .when(
            cls == 5,
            F.concat(
                F.lit("<html><head><title>plain</title></head><body>"),
                F.repeat(F.lit("x"), 1100),
                F.lit('<meta charset="koi8-r">page '),
                did.cast("string"),
                F.lit("</body></html>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<html><head><title>b"),
                cls.cast("string"),
                F.lit("</title></head><body>page "),
                did.cast("string"),
                F.lit("</body></html>"),
            )
        )
    )
    bom = (
        F.when(cls == 0, F.lit("efbbbf"))
        .when(cls == 1, F.lit("fffe"))
        .when(cls == 2, F.lit("feff"))
    )
    enc = F.encode(body, "UTF-8")
    payload = F.when(cls < 3, F.concat(F.unhex(bom), enc)).otherwise(enc)
    hx = d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.lower(F.hex(payload)).alias("h"),
    )
    cap = F.regexp_extract(
        F.substring(F.col("h"), 1, 2048), _CHARSET_HEX_RE, 2
    )
    det = hx.select("doc_id", "n_bytes", "h", cap.alias("cap"))
    is_bom = (
        F.col("h").startswith("efbbbf")
        | F.col("h").startswith("fffe")
        | F.col("h").startswith("feff")
    )
    return det.select(
        "doc_id",
        "n_bytes",
        F.when(is_bom, F.lit("bom"))
        .when(F.col("cap") != "", F.lit("meta"))
        .otherwise(F.lit("default"))
        .alias("method"),
        F.when(F.col("h").startswith("efbbbf"), F.lit("utf-8"))
        .when(F.col("h").startswith("fffe"), F.lit("utf-16le"))
        .when(F.col("h").startswith("feff"), F.lit("utf-16be"))
        .when(
            F.col("cap") != "",
            F.lower(F.decode(F.unhex(F.col("cap")), "UTF-8")),
        )
        .otherwise(F.lit("windows-1252"))
        .alias("charset"),
    )


_CANON_URL_SQL = (
    "'https://site' || (doc_id % 7) || '.example/p/' || doc_id"
)
_CANON_HEAD_SQL = f"""
    '<html><head>' || CASE
      WHEN doc_id % 3 = 1 AND doc_id > 0 THEN
        '<link rel="canonical" href="https://site' || ((doc_id - 1) % 7)
        || '.example/p/' || (doc_id - 1) || '">'
      WHEN doc_id % 3 = 2 THEN
        '<link rel="canonical" href="' || {_CANON_URL_SQL} || '">'
      ELSE '' END
    || '<title>t' || doc_id || '</title></head><body>page '
    || doc_id || '</body></html>'
"""


@query(
    "u_canonical_cluster",
    f"""
    WITH page AS (
      SELECT doc_id, {_CANON_URL_SQL} AS url, {_CANON_HEAD_SQL} AS html
      FROM documents),
    c AS (
      SELECT doc_id, url,
             regexp_extract(html,
               '<link rel="canonical" href="([^"]+)"', 1) AS href
      FROM page),
    keyed AS (
      SELECT doc_id, url,
             CASE WHEN href <> '' THEN href ELSE url END AS canonical_key
      FROM c)
    SELECT doc_id, url, canonical_key,
           url = canonical_key AS is_canonical,
           cast(count(*) OVER (PARTITION BY canonical_key) AS BIGINT)
             AS cluster_n,
           cast(min(doc_id) OVER (PARTITION BY canonical_key) AS BIGINT)
             AS rep_doc
    FROM keyed
    """,
)
def u_canonical_cluster(spark: SparkSession, sf: str) -> DataFrame:
    """rel=canonical cluster dedup — the dedup signal the PUBLISHER hands
    the crawler for free (print pages, mobile mirrors, tracking-param
    variants all declare one canonical URL; Common Crawl dedups on it
    before any content hashing): extract the first canonical link, key
    every page by canonical-or-self, and label each cluster with its size
    and representative (min doc_id — the keep; non-representative members
    are the drop set). Fixture heads planted per doc_id%3: third of the
    docs point at their predecessor (2-page clusters), a third
    self-declare, a third have no link (self-key by default). Plan: one
    scan-side regexp projection, then ONE hash-partitioned window over
    canonical_key (count + min in the same window spec — a single
    shuffle). At 100 TB the canonical key is a near-uniform URL — a
    viral canonical target (one URL declared by millions of scraped
    mirrors) is groupBy-grain skew that AQE splits; the window carries a
    partition spec so the plan-hygiene gate holds."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://site"),
        (did % 7).cast("string"),
        F.lit(".example/p/"),
        did.cast("string"),
    )
    prev = F.concat(
        F.lit('<link rel="canonical" href="https://site'),
        ((did - 1) % 7).cast("string"),
        F.lit(".example/p/"),
        (did - 1).cast("string"),
        F.lit('">'),
    )
    self_link = F.concat(
        F.lit('<link rel="canonical" href="'), url, F.lit('">')
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when((did % 3 == 1) & (did > 0), prev)
        .when(did % 3 == 2, self_link)
        .otherwise(F.lit("")),
        F.lit("<title>t"),
        did.cast("string"),
        F.lit("</title></head><body>page "),
        did.cast("string"),
        F.lit("</body></html>"),
    )
    page = d.select("doc_id", url.alias("url"), html.alias("html"))
    href = F.regexp_extract(
        F.col("html"), '<link rel="canonical" href="([^"]+)"', 1
    )
    keyed = page.select(
        "doc_id",
        "url",
        F.when(href != "", href).otherwise(F.col("url")).alias(
            "canonical_key"
        ),
    )
    w = Window.partitionBy("canonical_key")
    return keyed.select(
        "doc_id",
        "url",
        "canonical_key",
        (F.col("url") == F.col("canonical_key")).alias("is_canonical"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_n"),
        F.min("doc_id").over(w).cast("bigint").alias("rep_doc"),
    )


@query(
    "d_containment_pairs",
    f"""
    WITH e AS ({_LSH_PAIRS_SQL}),
    sh AS (SELECT doc_id, list_distinct({_SHINGLE_SQL}) AS s
           FROM documents),
    j AS (
      SELECT e.id_a, e.id_b,
             array_length(a.s) AS n_a, array_length(b.s) AS n_b,
             array_length(list_intersect(a.s, b.s)) AS inter_n
      FROM e JOIN sh a ON e.id_a = a.doc_id
             JOIN sh b ON e.id_b = b.doc_id)
    SELECT id_a, id_b,
           cast(n_a AS BIGINT) AS n_a, cast(n_b AS BIGINT) AS n_b,
           cast(inter_n AS BIGINT) AS inter_n,
           cast(1000000 * inter_n // greatest(n_a, 1) AS BIGINT)
             AS cont_a_ppm,
           cast(1000000 * inter_n // greatest(n_b, 1) AS BIGINT)
             AS cont_b_ppm
    FROM j
    WHERE greatest(1000000 * inter_n // greatest(n_a, 1),
                   1000000 * inter_n // greatest(n_b, 1)) >= 600000
    """,
)
def d_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Broder CONTAINMENT near-dups (Broder 1997 §2: c(A,B) =
    |A∩B|/|A|) — the asymmetric complement of Jaccard resemblance that
    catches subset duplication resemblance structurally misses: a wire
    story embedded in a longer page, a quoted post, a page wrapping a
    syndicated article in boilerplate. A pair with c(A,B) ≈ 1 but small
    |A|/|B| has LOW Jaccard and survives every resemblance-threshold
    dedup; containment-aware curation drops or span-dedups the contained
    side instead. Plan: candidates come from the SAME LSH blocking as
    d_lsh_pairs (no all-pairs — containment is only ever scored on
    bucket-mates), distinct 2-gram shingle sets staged ONCE behind a
    repartition barrier, two 1:1 equi-joins to attach both sides' sets,
    scan-side array_intersect + integer-ppm division, keep pairs with
    max-direction containment >= 0.6. At 100 TB the joins shuffle on doc
    id (near-uniform); degenerate buckets are capped upstream by
    minhash_lsh_pairs' max_bucket exactly as in the dedup family."""
    d = _t(spark, sf, "documents")
    pairs = D.minhash_lsh_pairs(
        d, k=4, bands=2, shingle_n=2, n_partitions=_par(spark)
    )
    sh = d.select(
        "doc_id",
        F.array_distinct(
            D.word_shingles(F.col("text"), n=2)
        ).alias("s"),
    ).repartition(_par(spark), "doc_id")
    j = (
        pairs.join(
            sh.select(
                F.col("doc_id").alias("id_a"), F.col("s").alias("s_a")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("id_b"), F.col("s").alias("s_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size("s_a").cast("bigint").alias("n_a"),
            F.size("s_b").cast("bigint").alias("n_b"),
            F.size(F.array_intersect("s_a", "s_b"))
            .cast("bigint")
            .alias("inter_n"),
        )
    )
    scored = j.select(
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        "inter_n",
        F.expr("1000000 * inter_n div greatest(n_a, 1)")
        .cast("bigint")
        .alias("cont_a_ppm"),
        F.expr("1000000 * inter_n div greatest(n_b, 1)")
        .cast("bigint")
        .alias("cont_b_ppm"),
    )
    return scored.filter(
        F.greatest("cont_a_ppm", "cont_b_ppm") >= 600000
    ).select(
        "id_a", "id_b", "n_a", "n_b", "inter_n", "cont_a_ppm", "cont_b_ppm"
    )
