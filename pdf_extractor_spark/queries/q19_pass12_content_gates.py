"""Round-4 pass 12: script composition, badwords, PII gates.

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    Column,
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


# --- round-4 twelfth pass: content gating — script composition, badword
# --- token gate, PII density routing
# --- (appended AFTER the pinned r4 driver window)


# (name, regex char class, planted marker) in fixed tie-break order.
# Ranges are BMP script blocks; \x{...} escapes parse identically in Java
# regex and RE2 so both engines count with the same pattern strings.
_SCRIPTS: list[tuple[str, str, str]] = [
    ("latin", "[A-Za-z]", ""),
    ("cyrillic", "[\\x{0400}-\\x{04FF}]", "привет мир"),
    ("greek", "[\\x{0370}-\\x{03FF}]", "γειά κόσμε"),
    ("arabic", "[\\x{0600}-\\x{06FF}]", "مرحبا بالعالم"),
    ("cjk", "[\\x{4E00}-\\x{9FFF}]", "你好世界"),
    ("hangul", "[\\x{AC00}-\\x{D7A3}]", "안녕하세요"),
]

_SCRIPT_BEST = "greatest(" + ", ".join(f"n_{n}" for n, _, _ in _SCRIPTS) + ")"


def _script_body_sql() -> str:
    """Latin body truncated to 120 chars + the doc_id%6 class marker
    repeated 40 times — planted counts (>=160 letters) always beat the
    <=120 latin letters, so every non-latin class is dominant by
    construction and class 0 stays latin."""
    br = " ".join(
        f"WHEN {i} THEN repeat(' {marker}', 40)"
        for i, (_, _, marker) in enumerate(_SCRIPTS)
        if marker
    )
    return f"substr(text, 1, 120) || CASE doc_id % 6 {br} ELSE '' END"


@query(
    "t_script_detect",
    f"""
    WITH aug AS (SELECT doc_id, {_script_body_sql()} AS t FROM documents),
    c AS (
      SELECT doc_id,
    """
    + ",\n".join(
        f"        len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat, _ in _SCRIPTS
    )
    + f"""
      FROM aug)
    SELECT doc_id,
    """
    + ",\n".join(f"       cast(n_{n} AS BIGINT) AS n_{n}" for n, _, _ in _SCRIPTS)
    + f""",
       cast({" + ".join("n_" + n for n, _, _ in _SCRIPTS)} AS BIGINT)
         AS n_letters,
       CASE WHEN {_SCRIPT_BEST} = 0 THEN 'none'
    """
    + " ".join(
        f"WHEN n_{n} = {_SCRIPT_BEST} THEN '{n}'" for n, _, _ in _SCRIPTS
    )
    + f"""
       END AS script,
       cast(1000000 * {_SCRIPT_BEST} //
            greatest({" + ".join("n_" + n for n, _, _ in _SCRIPTS)}, 1)
            AS BIGINT) AS dom_ppm
    FROM c
    """,
)
def t_script_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-script composition detector — the langid PRE-stage every
    multilingual crawl runs (fastText langid is wasted on pages whose
    script already decides the route, and mixed-script pages are a spam
    tell): count letters per BMP script block (Latin, Cyrillic, Greek,
    Arabic, CJK, Hangul), emit the dominant script (fixed-order
    tie-break) and its ppm share of all letters. Fixture text is pure
    ASCII, so the query plants one script marker per doc_id%6 (repeated
    40x over a 120-char latin body — planted counts always dominate);
    class 0 stays latin. Plan: six regexp_extract_all counts over one
    staged projection — scan-side, zero shuffles at any scale; the
    pattern set is a module constant shared with the DuckDB oracle so
    both engines count with identical RE2/Java-compatible classes."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    marker = F.lit("")
    for i, (_, _, mk) in enumerate(_SCRIPTS):
        if mk:
            marker = F.when(did % 6 == i, F.repeat(F.lit(" " + mk), 40)).otherwise(
                marker
            )
    staged = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 120), marker).alias("_t"),
    ).repartition(_par(spark), "doc_id")
    counts = staged.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(F.col("_t"), F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
            for name, pat, _ in _SCRIPTS
        ],
    )
    best = F.greatest(*[F.col(f"n_{n}") for n, _, _ in _SCRIPTS])
    total = None
    for n, _, _ in _SCRIPTS:
        c = F.col(f"n_{n}")
        total = c if total is None else total + c
    script = F.when(best == 0, F.lit("none"))
    for n, _, _ in _SCRIPTS:
        script = script.when(F.col(f"n_{n}") == best, F.lit(n))
    return counts.select(
        "doc_id",
        *[f"n_{n}" for n, _, _ in _SCRIPTS],
        total.cast("bigint").alias("n_letters"),
        script.alias("script"),
        F.expr(
            "1000000 * "
            + _SCRIPT_BEST
            + " div greatest("
            + " + ".join("n_" + n for n, _, _ in _SCRIPTS)
            + ", 1)"
        )
        .cast("bigint")
        .alias("dom_ppm"),
    )


# Stand-in badword lexicon (UT1/C4-class categories). Module constant so
# the DuckDB oracle regenerates the identical list.
_BADWORDS = ["casino", "jackpot", "viagra", "xxx", "porn", "lottery"]
_BAD_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _BADWORDS) + "]"


def _badword_marker_sql() -> str:
    return """text || CASE doc_id % 5
      WHEN 1 THEN ' casino'
      WHEN 2 THEN repeat(' jackpot xxx', cast(1 + doc_id % 4 AS INT))
      WHEN 3 THEN ' viagra porn lottery casino'
      WHEN 4 THEN ' casinos jackpots'
      ELSE '' END"""


@query(
    "t_badwords_gate",
    f"""
    WITH aug AS (SELECT doc_id, {_badword_marker_sql()} AS text
                 FROM documents),
    tok AS (SELECT doc_id, {_TOK_SQL_SAFE} AS toks FROM aug),
    s AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_filter(toks,
                 t -> list_contains({_BAD_LIST_SQL}, t))) AS n_bad,
             len(list_intersect(list_distinct(toks),
                 {_BAD_LIST_SQL})) AS n_bad_terms
      FROM tok)
    SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
           cast(n_bad AS BIGINT) AS n_bad,
           cast(n_bad_terms AS BIGINT) AS n_bad_terms,
           cast(1000000 * n_bad // greatest(n_tokens, 1) AS BIGINT)
             AS bad_ppm,
           CASE WHEN n_bad_terms >= 3
                  OR 1000000 * n_bad // greatest(n_tokens, 1) >= 80000
                THEN 'drop'
                WHEN n_bad > 0 THEN 'flag' ELSE 'keep' END AS route
    FROM s
    """,
)
def t_badwords_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Badword token gate — the content-level complement of
    u_url_spam_filter's URL gate (C4 drops any page with a "dirty word";
    RefinedWeb and FineWeb soften that to density thresholds because
    medical/forum pages mention single terms legitimately): exact-TOKEN
    hits against a fixed lexicon (so 'casinos' never matches 'casino' —
    substring matching is the classic false-positive bug this op must not
    have), per-mille density and distinct-term spread, routed
    keep / flag / drop (drop = >=3 distinct terms or >=8% token density).
    Fixture text is a closed clean vocabulary; markers planted per
    doc_id%5 exercise every route including the token-boundary trap.
    Plan: tokens staged ONCE behind a repartition barrier, two HOF counts
    over the attribute array, scan-side CASE routing — zero shuffles past
    the barrier at any scale; the production lexicon swap (a few thousand
    terms) broadcasts the same isin set."""
    d = _t(spark, sf, "documents")
    from pdf_extractor_spark.operators.dedup import word_tokens

    did = F.col("doc_id")
    marker = (
        F.when(did % 5 == 1, F.lit(" casino"))
        .when(
            did % 5 == 2,
            F.repeat(F.lit(" jackpot xxx"), (F.lit(1) + did % 4).cast("int")),
        )
        .when(did % 5 == 3, F.lit(" viagra porn lottery casino"))
        .when(did % 5 == 4, F.lit(" casinos jackpots"))
        .otherwise(F.lit(""))
    )
    staged = d.select(
        "doc_id",
        word_tokens(F.concat(F.col("text"), marker)).alias("_toks"),
    ).repartition(_par(spark), "doc_id")

    def _is_bad(t: Column) -> Column:
        return t.isin(*_BADWORDS)

    s = staged.select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.size(F.filter(F.col("_toks"), _is_bad)).cast("bigint").alias("n_bad"),
        F.size(
            F.array_intersect(
                F.array_distinct("_toks"),
                F.array(*[F.lit(w) for w in _BADWORDS]),
            )
        )
        .cast("bigint")
        .alias("n_bad_terms"),
    )
    bad_ppm = F.expr("1000000 * n_bad div greatest(n_tokens, 1)").cast("bigint")
    return s.select(
        "doc_id",
        "n_tokens",
        "n_bad",
        "n_bad_terms",
        bad_ppm.alias("bad_ppm"),
        F.when((F.col("n_bad_terms") >= 3) | (bad_ppm >= 80000), F.lit("drop"))
        .when(F.col("n_bad") > 0, F.lit("flag"))
        .otherwise(F.lit("keep"))
        .alias("route"),
    )


def _pii_marker_sql() -> str:
    return """text || CASE doc_id % 4
      WHEN 1 THEN ' reach me at u' || doc_id || '@mail.example now'
      WHEN 2 THEN ' u' || doc_id || '@mail.example or 10.0.'
                  || doc_id % 200 || '.5 or +44 7700 900'
                  || lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0')
      WHEN 3 THEN repeat(' spam' || doc_id || '@x.example', 8)
      ELSE '' END"""


@query(
    "t_pii_density_gate",
    rf"""
    WITH aug AS (SELECT doc_id, {_pii_marker_sql()} AS text
                 FROM documents),
    c AS (
      SELECT doc_id, len({_TOK_SQL_SAFE}) AS n_tokens,
        len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_emails,
        len(regexp_extract_all(text,
            '\b(?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}\b')) AS n_ips,
        len(regexp_extract_all(text,
            '\+?[0-9][0-9()\- ]{{7,}}[0-9]')) AS n_phones,
        md5(regexp_replace(
              regexp_replace(
                regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}',
                  '<EMAIL>', 'g'),
                '\b(?:[0-9]{{1,3}}\.){{3}}[0-9]{{1,3}}\b', '<IP>', 'g'),
              '\+?[0-9][0-9()\- ]{{7,}}[0-9]', '<PHONE>', 'g'))
          AS redacted_md5
      FROM aug)
    SELECT doc_id, cast(n_tokens AS BIGINT) AS n_tokens,
           cast(n_emails AS BIGINT) AS n_emails,
           cast(n_ips AS BIGINT) AS n_ips,
           cast(n_phones AS BIGINT) AS n_phones,
           cast(1000000 * (n_emails + n_ips + n_phones)
                // greatest(n_tokens, 1) AS BIGINT) AS pii_ppm,
           CASE WHEN 1000000 * (n_emails + n_ips + n_phones)
                     // greatest(n_tokens, 1) >= 150000 THEN 'drop'
                WHEN n_emails + n_ips + n_phones > 0 THEN 'redact'
                ELSE 'keep' END AS route,
           redacted_md5
    FROM c
    """,
)
def t_pii_density_gate(spark: SparkSession, sf: str) -> DataFrame:
    """PII density ROUTING — the policy layer over t_redact_pii's scrub
    (corpus recipes keep-and-redact ordinary pages but DROP pages that
    are mostly PII: contact dumps, people-directory scrapes, leaked
    lists — redacting those leaves token soup): count emails / IPv4 /
    phone-like runs, normalize per token as integer ppm, route
    keep / redact / drop (drop = >=15% of tokens are PII), and pin the
    redaction output itself by md5 so the gate and the scrub stay one
    contract. PII injected deterministically per doc_id%4 (clean / one
    email / mixed email+IP+phone / an 8-email dump). Plan: counts and
    replacement chain are codegen regexp expressions over one staged
    projection — scan-side, zero shuffles; identical pattern strings on
    both engines (functions/redact.py module constants)."""
    from pdf_extractor_spark.functions.redact import pii_counts, redact_pii
    from pdf_extractor_spark.operators.dedup import word_tokens

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    marker = (
        F.when(
            did % 4 == 1,
            F.concat(
                F.lit(" reach me at u"),
                did.cast("string"),
                F.lit("@mail.example now"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit(" u"),
                did.cast("string"),
                F.lit("@mail.example or 10.0."),
                (did % 200).cast("string"),
                F.lit(".5 or +44 7700 900"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
            ),
        )
        .when(
            did % 4 == 3,
            F.repeat(
                F.concat(
                    F.lit(" spam"), did.cast("string"), F.lit("@x.example")
                ),
                8,
            ),
        )
        .otherwise(F.lit(""))
    )
    staged = d.select(
        "doc_id", F.concat(F.col("text"), marker).alias("_t")
    ).repartition(_par(spark), "doc_id")
    n_emails, n_ips, n_phones = pii_counts(F.col("_t"))
    c = staged.select(
        "doc_id",
        F.size(word_tokens(F.col("_t"))).cast("bigint").alias("n_tokens"),
        n_emails.cast("bigint").alias("n_emails"),
        n_ips.cast("bigint").alias("n_ips"),
        n_phones.cast("bigint").alias("n_phones"),
        F.md5(redact_pii(F.col("_t"))).alias("redacted_md5"),
    )
    pii_ppm = F.expr(
        "1000000 * (n_emails + n_ips + n_phones) div greatest(n_tokens, 1)"
    ).cast("bigint")
    return c.select(
        "doc_id",
        "n_tokens",
        "n_emails",
        "n_ips",
        "n_phones",
        pii_ppm.alias("pii_ppm"),
        F.when(pii_ppm >= 150000, F.lit("drop"))
        .when(
            F.col("n_emails") + F.col("n_ips") + F.col("n_phones") > 0,
            F.lit("redact"),
        )
        .otherwise(F.lit("keep"))
        .alias("route"),
        "redacted_md5",
    )
