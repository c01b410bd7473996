"""Round-4: extraction hygiene + phrase retrieval.

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
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _TOK_SQL_SAFE,
)


# --- round-4 twelfth pass: extraction hygiene + phrase retrieval ------------
# x_dehyphenate (line-wrap hyphen repair), t_ligature_fold (compatibility
# folding of PDF-parser ligature output), x_list_markdown (ul/ol -> markdown,
# completing the table/code/outline/list harvest family), t_phrase_search
# (positional-adjacency exact phrase match over the token stream).

# Line-wrap synthesis shared by x_dehyphenate's two engines: insert a
# hyphen+newline break at the earliest alnum-alnum boundary at least 40
# chars after the previous break — the same greedy leftmost-match scan in
# Java regex and RE2 (both resume after the matched text, and '.' excludes
# newlines in both), so the wrapped text is bit-identical cross-engine.
_WRAP_SQL = (
    "regexp_replace(text, '(.{39}[a-z0-9])([a-z0-9])', "
    "'\\1-' || chr(10) || '\\2', 'g')"
)
_DEHYPH_SQL = (
    "regexp_replace(wrapped, '([a-z0-9])-' || chr(10) || '([a-z0-9])', "
    "'\\1\\2', 'g')"
)


@query(
    "x_dehyphenate",
    f"""
    WITH w AS (SELECT doc_id, text, {_WRAP_SQL} AS wrapped FROM documents),
    r AS (SELECT doc_id, text, wrapped, {_DEHYPH_SQL} AS repaired FROM w)
    SELECT doc_id,
           cast((len(wrapped) - len(text)) / 2 AS BIGINT) AS n_breaks,
           cast((len(wrapped) - len(repaired)) / 2 AS BIGINT) AS n_repaired,
           (md5(repaired) = md5(text)) AS restored_ok,
           md5(repaired) AS repaired_md5
    FROM r
    """,
)
def x_dehyphenate(spark: SparkSession, sf: str) -> DataFrame:
    """End-of-line hyphenation repair — the classic PDF-extraction cleanup
    (pdfminer/trafilatura both dehyphenate): text extracted from justified
    PDF columns arrives as ``exam-\\n ple`` and must be rejoined BEFORE
    tokenization, dedup shingling, and language ID (a broken half-word is
    an OOV token and a different shingle). The conservative rule repairs
    ONLY hyphen+newline between two alphanumerics — real compounds
    (``state-of-the-art`` on one line) and list dashes are untouched.
    Since the driver corpus has no newlines, the query synthesizes the
    line-wrapped form first (greedy 40-col wrap, breaks only mid-word)
    and checks the repair restores the original byte-for-byte (md5) —
    the same round-trip gate the golden extraction tests use. Both steps
    are single scan-side regexp_replace calls (whole-stage codegen, no
    shuffle); leftmost-match + resume-after-replacement semantics are
    identical in Java regex and RE2, so the oracle replays bit-exactly."""
    d = _t(spark, sf, "documents")
    w = d.select(
        "doc_id",
        "text",
        F.regexp_replace(
            F.col("text"), "(.{39}[a-z0-9])([a-z0-9])", "$1-\n$2"
        ).alias("wrapped"),
    )
    r = w.select(
        "doc_id",
        "text",
        "wrapped",
        F.regexp_replace(
            F.col("wrapped"), "([a-z0-9])-\n([a-z0-9])", "$1$2"
        ).alias("repaired"),
    )
    return r.select(
        "doc_id",
        ((F.length("wrapped") - F.length("text")) / 2)
        .cast("bigint")
        .alias("n_breaks"),
        ((F.length("wrapped") - F.length("repaired")) / 2)
        .cast("bigint")
        .alias("n_repaired"),
        (
            F.md5(F.encode(F.col("repaired"), "UTF-8"))
            == F.md5(F.encode(F.col("text"), "UTF-8"))
        ).alias("restored_ok"),
        F.md5(F.encode(F.col("repaired"), "UTF-8")).alias("repaired_md5"),
    )


# Ligature injection shared by t_ligature_fold's two engines: the PDF
# parser's glyph-name table emits real ligature codepoints (ﬁ/ﬂ —
# extract/pdf_parser.py:750), so downstream text hygiene must fold them
# before tokenization. The driver corpus is pure ASCII, so the query
# plants the ligatures deterministically (replace is leftmost
# non-overlapping in both engines; each mapping inserts a codepoint
# BETWEEN its neighbors, so no later pattern is ever created or destroyed
# — the chain is exactly invertible).
_LIG_INJECT_STEPS = [("fi", "ﬁ"), ("fl", "ﬂ"), ("ae", "æ"), ("oe", "œ")]
_LIG_FOLD_STEPS = [
    ("ﬁ", "fi"), ("ﬂ", "fl"), ("æ", "ae"), ("œ", "oe"),
    ("ﬀ", "ff"), ("ﬃ", "ffi"), ("ﬄ", "ffl"),
    ("’", "'"), ("“", '"'), ("”", '"'),
    ("–", "-"), ("—", "-"), ("…", "..."), (" ", " "),
]


def _sql_replace_chain(base: str, steps: list[tuple[str, str]]) -> str:
    out = base
    for a, b in steps:
        qa = a.replace("'", "''")
        qb = b.replace("'", "''")
        out = f"replace({out}, '{qa}', '{qb}')"
    return out


@query(
    "t_ligature_fold",
    f"""
    WITH inj AS (
      SELECT doc_id, text,
             {_sql_replace_chain("text", _LIG_INJECT_STEPS)} AS dirty
      FROM documents),
    f AS (
      SELECT doc_id, text, dirty,
             {_sql_replace_chain("dirty", _LIG_FOLD_STEPS)} AS folded
      FROM inj)
    SELECT doc_id,
           cast(len(dirty) - len(replace(dirty, 'ﬁ', '')) AS BIGINT) AS n_fi,
           cast(len(dirty) - len(replace(dirty, 'ﬂ', '')) AS BIGINT) AS n_fl,
           cast(len(dirty) - len(replace(dirty, 'æ', '')) AS BIGINT) AS n_ae,
           cast(len(dirty) - len(replace(dirty, 'œ', '')) AS BIGINT) AS n_oe,
           (md5(folded) = md5(text)) AS restored_ok,
           md5(folded) AS folded_md5
    FROM f
    """,
)
def t_ligature_fold(spark: SparkSession, sf: str) -> DataFrame:
    """Compatibility folding of typographic ligatures and punctuation —
    the NFKC-class hygiene step BETWEEN PDF extraction and tokenization.
    The repo's own PDF parser maps glyph names to real ligature
    codepoints (``fi`` -> U+FB01, extract/pdf_parser.py:750) exactly as
    pdfminer does, and t_unicode_clean's NFC pass deliberately does NOT
    fold them (NFC preserves compatibility characters); unfolded, 'ﬁlter'
    and 'filter' are different tokens, different shingles, and different
    dedup keys. The fold table is the explicit high-frequency subset of
    NFKC (latin ligatures, curly quotes, en/em dashes, ellipsis, NBSP) as
    a fixed replace chain — scan-side codegen, no UDF, no shuffle — and
    its effect is verified by round-trip: ligatures are planted
    deterministically from the ASCII corpus, folded back, and md5-checked
    against the original. Per-class counts come from character-length
    deltas (each ligature is one codepoint in both engines)."""
    d = _t(spark, sf, "documents")
    dirty = F.col("text")
    for a, b in _LIG_INJECT_STEPS:
        dirty = F.replace(dirty, F.lit(a), F.lit(b))
    inj = d.select("doc_id", "text", dirty.alias("dirty"))
    folded = F.col("dirty")
    for a, b in _LIG_FOLD_STEPS:
        folded = F.replace(folded, F.lit(a), F.lit(b))
    f = inj.select("doc_id", "text", "dirty", folded.alias("folded"))

    def _cnt(ch: str, alias: str) -> Column:
        return (
            F.length("dirty")
            - F.length(F.replace(F.col("dirty"), F.lit(ch), F.lit("")))
        ).cast("bigint").alias(alias)

    return f.select(
        "doc_id",
        _cnt("ﬁ", "n_fi"),
        _cnt("ﬂ", "n_fl"),
        _cnt("æ", "n_ae"),
        _cnt("œ", "n_oe"),
        (
            F.md5(F.encode(F.col("folded"), "UTF-8"))
            == F.md5(F.encode(F.col("text"), "UTF-8"))
        ).alias("restored_ok"),
        F.md5(F.encode(F.col("folded"), "UTF-8")).alias("folded_md5"),
    )


# Deterministic list-bearing page, shared semantic for x_list_markdown
# (same synthesize-then-extract pattern as _CODE_PAGE_SQL / x_extract_tables:
# the driver corpus has no HTML payloads, so the page is a pure function of
# doc_id in BOTH engines and the extraction path is what is under test).
_LIST_PAGE_SQL = """
    '<html><body><h1>Doc ' || doc_id || '</h1>' ||
    CASE WHEN doc_id % 5 = 0 THEN '<p>no lists here</p>'
         ELSE '<ul><li>alpha ' || (doc_id % 7) || '</li><li>beta ' ||
              (doc_id % 5) || '</li>' ||
              CASE WHEN doc_id % 3 = 0 THEN '<li>gamma</li>' ELSE '' END ||
              '</ul>' ||
              CASE WHEN doc_id % 2 = 0
                   THEN '<ol><li>step ' || (doc_id % 4) ||
                        '</li><li>done</li>' ||
                        CASE WHEN doc_id % 7 = 0 THEN '<li>extra</li>'
                             ELSE '' END || '</ol>'
                   ELSE '' END
    END || '<p>prose</p></body></html>'
"""


@query(
    "x_list_markdown",
    f"""
    WITH page AS (SELECT doc_id, {_LIST_PAGE_SQL} AS html FROM documents),
    b AS (
      SELECT doc_id, 'ul' AS kind,
             generate_subscripts(l, 1) - 1 AS list_idx, unnest(l) AS body
      FROM (SELECT doc_id,
                   regexp_extract_all(html, '(?s)<ul>(.*?)</ul>', 1) AS l
            FROM page)
      UNION ALL
      SELECT doc_id, 'ol' AS kind,
             generate_subscripts(l, 1) - 1 AS list_idx, unnest(l) AS body
      FROM (SELECT doc_id,
                   regexp_extract_all(html, '(?s)<ol>(.*?)</ol>', 1) AS l
            FROM page)),
    i AS (SELECT doc_id, kind, list_idx,
                 regexp_extract_all(body, '(?s)<li>(.*?)</li>', 1) AS items
          FROM b)
    SELECT doc_id, kind, cast(list_idx AS INT) AS list_idx,
           cast(len(items) AS BIGINT) AS n_items,
           CASE WHEN kind = 'ul'
                THEN array_to_string(
                       list_transform(items, x -> '- ' || x), chr(10))
                ELSE array_to_string(
                       list_transform(range(1, len(items) + 1),
                                      j -> j || '. ' || items[j]), chr(10))
           END AS markdown
    FROM i
    """,
)
def x_list_markdown(spark: SparkSession, sf: str) -> DataFrame:
    """HTML list -> markdown linearization — the serialization <ul>/<ol>
    content actually takes into an LLM corpus (completing the structured-
    content harvest family: x_extract_tables/x_table_markdown for tables,
    x_extract_code_blocks for code, x_extract_outline for headings). A
    flattened 'alpha beta gamma' loses the enumeration semantics models
    learn from; '- alpha' / '1. step' bullets preserve them in plain
    text. Pages carry zero/one/two lists with varying item counts (all
    branches exercised: no-list docs, 2- and 3-item uls, 2- and 3-item
    ols). Plan: list blocks exploded INLINE (non-attribute generator
    child — no inferred-filter regression, CLAUDE.md), items then staged
    as an attribute column so the markdown transform iterates a
    materialized array; ordered-list numbering uses the two-arg transform
    lambda whose second argument IS the element index. Scan-side only —
    no join, no shuffle; ordering key (doc_id, kind, list_idx) is
    explicit in the output."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    ul = F.concat(
        F.lit("<ul><li>alpha "),
        (did % 7).cast("string"),
        F.lit("</li><li>beta "),
        (did % 5).cast("string"),
        F.lit("</li>"),
        F.when(did % 3 == 0, F.lit("<li>gamma</li>")).otherwise(F.lit("")),
        F.lit("</ul>"),
    )
    ol = F.when(
        did % 2 == 0,
        F.concat(
            F.lit("<ol><li>step "),
            (did % 4).cast("string"),
            F.lit("</li><li>done</li>"),
            F.when(did % 7 == 0, F.lit("<li>extra</li>")).otherwise(
                F.lit("")
            ),
            F.lit("</ol>"),
        ),
    ).otherwise(F.lit(""))
    page = F.concat(
        F.lit("<html><body><h1>Doc "),
        did.cast("string"),
        F.lit("</h1>"),
        F.when(did % 5 == 0, F.lit("<p>no lists here</p>")).otherwise(
            F.concat(ul, ol)
        ),
        F.lit("<p>prose</p></body></html>"),
    )
    parts = []
    for kind, tag in (("ul", "ul"), ("ol", "ol")):
        parts.append(
            d.select(
                "doc_id",
                F.lit(kind).alias("kind"),
                F.posexplode(
                    F.regexp_extract_all(
                        page, F.lit(f"(?s)<{tag}>(.*?)</{tag}>"), 1
                    )
                ).alias("list_idx", "body"),
            )
        )
    b = parts[0].unionByName(parts[1])
    i = b.select(
        "doc_id",
        "kind",
        F.col("list_idx").cast("int").alias("list_idx"),
        F.regexp_extract_all(
            F.col("body"), F.lit("(?s)<li>(.*?)</li>"), 1
        ).alias("items"),
    )

    def _num(x: Column, j: Column) -> Column:
        return F.concat((j + 1).cast("string"), F.lit(". "), x)

    return i.select(
        "doc_id",
        "kind",
        "list_idx",
        F.size("items").cast("bigint").alias("n_items"),
        F.when(
            F.col("kind") == "ul",
            F.array_join(
                F.transform(
                    F.col("items"), lambda x: F.concat(F.lit("- "), x)
                ),
                "\n",
            ),
        )
        .otherwise(F.array_join(F.transform(F.col("items"), _num), "\n"))
        .alias("markdown"),
    )


@query(
    "t_phrase_search",
    f"""
    WITH t AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
               AS gram
      FROM t),
    cnt AS (SELECT gram, count(*) AS c FROM bg GROUP BY gram),
    win AS (SELECT gram AS phrase, c AS corpus_occurrences
            FROM cnt ORDER BY c DESC, gram LIMIT 1),
    per AS (
      SELECT bg.doc_id, win.phrase,
             cast(win.corpus_occurrences AS BIGINT) AS corpus_occurrences,
             count(*) AS n_occurrences
      FROM bg JOIN win ON bg.gram = win.phrase
      GROUP BY bg.doc_id, win.phrase, win.corpus_occurrences)
    SELECT doc_id, phrase, corpus_occurrences,
           cast(n_occurrences AS BIGINT) AS n_occurrences
    FROM per ORDER BY n_occurrences DESC, doc_id LIMIT 20
    """,
)
def t_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Exact phrase search over the token stream — the positional-index
    retrieval primitive BM25's bag-of-words scoring cannot express (term
    adjacency). An n-term phrase match is an intersection of postings at
    consecutive positions; for a fixed n this collapses to matching the
    document's n-gram stream, built here with the inlining-proof
    zip_with-over-shifted-slices idiom (tokens staged as an attribute
    behind a repartition barrier — array inputs evaluate once per ROW).
    The query phrase is data-dependent and deterministic: the corpus-wide
    most frequent trigram (count desc, lexicographic tie-break) — a 1-row
    TakeOrderedAndProject broadcast back onto the gram stream, so the
    probe is a broadcast equi-join, never a shuffle of the corpus; the
    per-doc hit counts then TopK(20) with a total order. At 100 TB the
    gram groupBy is map-side combinable and the only wide exchange."""
    d = _t(spark, sf, "documents")
    staged = d.select(
        "doc_id", D.word_tokens(F.col("text")).alias("_t")
    ).repartition(_par(spark), "doc_id")
    ln = F.greatest(F.size("_t") - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice("_t", 1, ln),
            F.slice("_t", 2, ln),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice("_t", 3, ln),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    grams = staged.select("doc_id", F.explode(tri).alias("gram"))
    cnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    win = (
        cnt.orderBy(F.col("c").desc(), "gram")
        .limit(1)
        .select(
            F.col("gram").alias("phrase"),
            F.col("c").cast("bigint").alias("corpus_occurrences"),
        )
    )
    per = (
        grams.join(F.broadcast(win), grams["gram"] == win["phrase"])
        .groupBy("doc_id", "phrase", "corpus_occurrences")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    return per.orderBy(F.col("n_occurrences").desc(), "doc_id").limit(20)
