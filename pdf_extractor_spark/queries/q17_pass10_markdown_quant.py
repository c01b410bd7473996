"""Round-4 pass 10: table markdown, int8 quant, OOV, anneal mix.

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

from pdf_extractor_spark.queries.q04_dedup import (
    _TOK_SQL_SAFE,
)


# --- round-4 tenth pass: table->markdown linearization, sentence-window
# --- packing, int8 embedding quantization, OOV rate, two-phase anneal mix
# --- (appended AFTER the pinned r4 driver window)


@query(
    "x_table_markdown",
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
      FROM tb),
    grid AS (
      SELECT doc_id, cast(table_idx AS INT) AS table_idx,
             cast(i // (CASE WHEN table_idx = 0 THEN 3 ELSE 2 END) AS INT)
               AS row_idx,
             cast(i % (CASE WHEN table_idx = 0 THEN 3 ELSE 2 END) AS INT)
               AS col_idx,
             replace(raw, '&amp;', '&') AS cell
      FROM cells),
    rows_ AS (
      SELECT doc_id, table_idx, row_idx,
             cast(count(*) AS INT) AS n_cells,
             '| ' || string_agg(cell, ' | ' ORDER BY col_idx) || ' |'
               AS line
      FROM grid GROUP BY doc_id, table_idx, row_idx)
    SELECT doc_id, table_idx,
           cast(count(*) AS BIGINT) AS n_rows,
           cast(max(n_cells) AS BIGINT) AS n_cols,
           arg_min(line, row_idx) || chr(10)
           || '|' || repeat(' --- |', arg_min(n_cells, row_idx))
           || CASE WHEN count(*) > 1
                   THEN chr(10) || string_agg(
                     CASE WHEN row_idx > 0 THEN line END,
                     chr(10) ORDER BY row_idx)
                   ELSE '' END AS markdown
    FROM rows_ GROUP BY doc_id, table_idx
    """,
)
def x_table_markdown(spark: SparkSession, sf: str) -> DataFrame:
    """Table -> GitHub-markdown linearization — how extracted tables
    actually enter an LLM training corpus (markdown tables survive
    tokenization with structure intact; raw HTML burns tokens on tags):
    the first grid row becomes the header, a |---| rule follows, body
    rows after — the serialization FineWeb-Edu/Dolma-style pipelines
    emit for <table> content. Consumes the same Arrow-batched structural
    parser as x_extract_tables (extract/tables.py) and reassembles rows
    with explicitly-sorted collect_lists (collect_list alone is
    partition-order-dependent — array_sort on (idx, value) structs makes
    the aggregation order-invariant, the repo-wide rule for any
    string-assembly agg). Two map-side-combinable groupBys at (doc,
    table, row) then (doc, table) grain — linear, join-free."""
    from pdf_extractor_spark.extract.udfs import table_cells_udf

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit(
            "<html><body><table><tr><th>name</th><th>v1</th><th>v2</th>"
            "</tr><tr><td>alpha "
        ),
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
    ).select(
        "doc_id",
        F.col("c.table_idx").alias("table_idx"),
        F.col("c.row_idx").alias("row_idx"),
        F.col("c.col_idx").alias("col_idx"),
        F.col("c.cell").alias("cell"),
    )
    rows = cells.groupBy("doc_id", "table_idx", "row_idx").agg(
        F.count(F.lit(1)).cast("int").alias("n_cells"),
        F.concat(
            F.lit("| "),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("col_idx", "cell"))
                    ),
                    lambda x: x["cell"],
                ),
                " | ",
            ),
            F.lit(" |"),
        ).alias("line"),
    )
    per_row = F.array_sort(
        F.collect_list(F.struct("row_idx", "line", "n_cells"))
    )
    body = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("row_idx") > 0,
                        F.struct("row_idx", "line"),
                    )
                )
            ),
            lambda x: x["line"],
        ),
        "\n",
    )
    agg = rows.groupBy("doc_id", "table_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("n_cells").cast("bigint").alias("n_cols"),
        per_row.alias("_arr"),
        body.alias("_body"),
    )
    return agg.select(
        "doc_id",
        "table_idx",
        "n_rows",
        "n_cols",
        F.concat(
            F.col("_arr")[0]["line"],
            F.lit("\n|"),
            F.repeat(F.lit(" --- |"), F.col("_arr")[0]["n_cells"]),
            F.when(
                F.col("n_rows") > 1, F.concat(F.lit("\n"), F.col("_body"))
            ).otherwise(F.lit("")),
        ).alias("markdown"),
    )


@query(
    "m_sentence_windows",
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
      FROM s),
    kept AS (
      SELECT doc_id, sent_idx, sentence, length(sentence) AS n
      FROM u WHERE trim(sentence) <> ''),
    pos AS (
      SELECT doc_id, sent_idx, sentence, n,
             coalesce(sum(n) OVER (
               PARTITION BY doc_id ORDER BY sent_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM kept)
    SELECT doc_id, cast(cum_before // 200 AS BIGINT) AS window_id,
           cast(count(*) AS BIGINT) AS n_sents,
           cast(sum(n) AS BIGINT) AS n_chars,
           string_agg(sentence, ' ' ORDER BY sent_idx) AS window_text
    FROM pos GROUP BY doc_id, cum_before // 200
    """,
)
def m_sentence_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Sentence-boundary-respecting training windows: documents are cut
    into ~200-char windows that never split a sentence — the
    context-window packing rule for recipes that forbid mid-sentence
    truncation (T5-style span preprocessing; retrieval chunking for RAG
    corpora; contrast m_chunk_for_training, which cuts at exact token
    offsets). A sentence belongs to the window its START offset falls in
    (cumulative length of prior kept sentences // 200) — the
    deterministic one-pass form of greedy fill, a pure function of the
    sentence sequence. Plan: the exact t_sentence_split boundary regex
    (inline posexplode, nothing inferred), ONE doc-partitioned
    running-sum window (bounded by document length — the
    gaps-and-islands discipline of d_exact_substr_spans), one
    (doc, window) groupBy with order-pinned string assembly (array_sort
    over (idx, sentence) structs — collect_list alone is
    partition-order-dependent)."""
    d = _t(spark, sf, "documents")
    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1\u0001"),
        "\u0001",
    )
    kept = (
        d.select("doc_id", F.posexplode(sents).alias("sent_idx", "sentence"))
        .where(F.trim("sentence") != "")
        .select(
            "doc_id",
            "sent_idx",
            "sentence",
            F.length("sentence").alias("n"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        kept.withColumn("_cum", F.sum("n").over(w))
        .withColumn(
            "window_id", F.expr("CAST(coalesce(_cum, 0) AS BIGINT) div 200")
        )
        .groupBy("doc_id", "window_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sents"),
            F.sum("n").cast("bigint").alias("n_chars"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sent_idx", "sentence"))
                    ),
                    lambda x: x["sentence"],
                ),
                " ",
            ).alias("window_text"),
        )
    )


@query(
    "e_int8_quant",
    """
    WITH v AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding::DOUBLE[]) AS val
      FROM embeddings),
    stats AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM v GROUP BY pos),
    q AS (
      SELECT vec_id, v.pos, val, mn, mx,
             CASE WHEN mx = mn THEN 0
                  ELSE cast(floor((val - mn) * 255.0 / (mx - mn) + 0.5)
                            AS INT) END AS code
      FROM v JOIN stats ON v.pos = stats.pos),
    e AS (
      SELECT vec_id, pos, code,
             cast(floor(
               (val - (mn + code * (mx - mn) / 255.0))
               * (val - (mn + code * (mx - mn) / 255.0)) * 1e12 + 0.5)
               AS BIGINT) AS err_pico
      FROM q)
    SELECT vec_id,
           string_agg(cast(code AS VARCHAR), ',' ORDER BY pos) AS codes_csv,
           cast(min(code) AS INT) AS code_min,
           cast(max(code) AS INT) AS code_max,
           cast(sum(err_pico) // count(*) AS BIGINT) AS mse_pico
    FROM e GROUP BY vec_id
    """,
)
def e_int8_quant(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar int8 embedding quantization (the SQ8 index form — FAISS
    ScalarQuantizer / Milvus SQ8: 4x memory cut with ~no recall loss,
    the default storage layout for billion-vector ANN before PQ is
    worth its codebook): per-DIMENSION global [min, max] affine-maps
    each value to a 0..255 code. Completes the repo's quantization
    family (e_pq_encode/e_adc_topk = product quantization; this is the
    cheaper scalar path). Plan: one posexplode + |dim|-row groupBy for
    the per-dimension stats, broadcast-rejoined on pos (64 rows), codes
    computed scan-side, one per-vector groupBy with order-pinned
    string_agg. Determinism: code = floor(affine + 0.5) — a single
    float64 expression evaluated in the same operation order on both
    engines (bit-identical IEEE), never round(); reconstruction error is
    accumulated in integer PICO-units (floor(err * 1e12 + 0.5)) so the
    sum is associative and partitioning-invariant — the repo rule that
    checked outputs never sum raw floats."""
    emb = _t(spark, sf, "embeddings")
    v = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    ).repartition(_par(spark), "vec_id")
    stats = v.groupBy("pos").agg(
        F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    q = v.join(F.broadcast(stats), "pos").select(
        "vec_id",
        "pos",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.floor(
                (F.col("val") - F.col("mn"))
                * 255.0
                / (F.col("mx") - F.col("mn"))
                + 0.5
            ).cast("int")
        )
        .alias("code"),
        "val",
        "mn",
        "mx",
    )
    deq = F.col("mn") + F.col("code") * (F.col("mx") - F.col("mn")) / 255.0
    e = q.select(
        "vec_id",
        "pos",
        "code",
        F.floor((F.col("val") - deq) * (F.col("val") - deq) * 1e12 + 0.5)
        .cast("bigint")
        .alias("err_pico"),
    )
    return e.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "code"))),
                lambda x: x["code"].cast("string"),
            ),
            ",",
        ).alias("codes_csv"),
        F.min("code").cast("int").alias("code_min"),
        F.max("code").cast("int").alias("code_max"),
        F.expr("CAST(sum(err_pico) AS BIGINT) div count(*)").alias(
            "mse_pico"
        ),
    )


@query(
    "t_oov_rate",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL_SAFE}) AS tok FROM documents),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c FROM tok GROUP BY tok
        ORDER BY c DESC, tok ASC LIMIT 1000)),
    per AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           cast(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
           cast(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
           cast(1000000 * coalesce(n_oov, 0)
                // greatest(coalesce(n_tokens, 0), 1) AS BIGINT) AS oov_ppm
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def t_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-vocabulary rate against the corpus's own top-1000
    vocabulary — the cheap KenLM-free proxy for "does this document
    speak the corpus's language" (CCNet uses LM perplexity; the OOV
    fraction against a frequency vocabulary is the zero-model version):
    gibberish, boilerplate code, and wrong-language text all spike it,
    so it slots into the quality-filter family beside t_quality and
    t_trigram_typicality. Plan: tokens staged behind a repartition
    barrier, ONE corpus groupBy for frequencies, top-V via
    orderBy+limit (TakeOrderedAndProject — deterministic ties by (count
    DESC, token ASC)), BROADCAST left join of the token stream against
    the 1000-row vocabulary (never a shuffle of the big side), one
    per-doc groupBy. Integer ppm both engines."""
    d = _t(spark, sf, "documents")
    from pdf_extractor_spark.operators.dedup import word_tokens

    staged = d.select(
        "doc_id", word_tokens(F.col("text")).alias("_toks")
    ).repartition(_par(spark), "doc_id")
    tok = staged.select("doc_id", F.explode("_toks").alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(1000)
        .select("tok", F.lit(True).alias("_inv"))
    )
    per = (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            F.expr(
                "CAST(1000000 * coalesce(n_oov, 0) AS BIGINT) "
                "div greatest(coalesce(n_tokens, 0), 1)"
            ).alias("oov_ppm"),
        )
    )


@query(
    "m_anneal_mix",
    f"""
    WITH per AS (
      SELECT doc_id, lang,
             len({_TOK_SQL_SAFE}) AS n_tok,
             len(list_distinct({_TOK_SQL_SAFE})) AS n_distinct
      FROM documents),
    flagged AS (
      SELECT lang, n_tok,
             n_tok >= 40 AND
             1000000 * n_distinct // greatest(n_tok, 1) >= 300000 AS hq
      FROM per),
    by_lang AS (
      SELECT lang, sum(n_tok) AS lang_tokens,
             sum(CASE WHEN hq THEN n_tok ELSE 0 END) AS hq_tokens
      FROM flagged GROUP BY lang),
    tot AS (
      SELECT sum(lang_tokens) AS total, sum(hq_tokens) AS total_hq
      FROM by_lang)
    SELECT lang,
           cast(lang_tokens AS BIGINT) AS lang_tokens,
           cast(hq_tokens AS BIGINT) AS hq_tokens,
           cast(1000000 * lang_tokens // greatest(total, 1) AS BIGINT)
             AS phase1_alloc,
           cast(200000 * hq_tokens // greatest(total_hq, 1) AS BIGINT)
             AS phase2_alloc,
           cast((1000000 * (1000000 * lang_tokens // greatest(total, 1)
                            + 200000 * hq_tokens // greatest(total_hq, 1))
                 // 1200000) * total // greatest(lang_tokens, 1) AS BIGINT)
             AS upweight_ppm
    FROM by_lang, tot
    """,
)
def m_anneal_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase training-mix schedule with a high-quality anneal — the
    midtraining recipe (Llama 3 / MiniCPM / OLMo 2 all end pretraining
    with a short phase that upweights high-quality data): phase 1
    allocates a 1M-token budget proportionally to each language's token
    mass; phase 2 allocates a 200k-token anneal budget proportionally to
    each language's HIGH-QUALITY token mass (docs >= 40 tokens with
    type-token ratio >= 0.3 — the scan-side stand-in for a quality
    classifier; swap t_quality_classifier's margin in production).
    upweight_ppm is each language's combined share relative to its
    proportional baseline (1e6 = neutral; > 1e6 = the anneal upweights
    it because its token mass skews high-quality). Plan: per-doc token
    stats are pure scan-side array expressions (no (doc, token)
    shuffle), one |langs|-row groupBy, one broadcast 1-row totals join —
    all-integer ppm arithmetic with division staged to avoid int64
    overflow (ppm-of-budget FIRST, then scale by totals)."""
    d = _t(spark, sf, "documents")
    from pdf_extractor_spark.operators.dedup import word_tokens

    staged = d.select(
        "lang", word_tokens(F.col("text")).alias("_toks")
    ).repartition(_par(spark), "lang")
    per = staged.select(
        "lang",
        F.size("_toks").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("_toks")).cast("bigint").alias("n_distinct"),
    )
    flagged = per.select(
        "lang",
        "n_tok",
        (
            (F.col("n_tok") >= 40)
            & (
                F.expr(
                    "1000000 * n_distinct div greatest(n_tok, 1)"
                )
                >= 300000
            )
        ).alias("hq"),
    )
    by_lang = flagged.groupBy("lang").agg(
        F.sum("n_tok").alias("lang_tokens"),
        F.sum(F.when(F.col("hq"), F.col("n_tok")).otherwise(0)).alias(
            "hq_tokens"
        ),
    )
    tot = by_lang.agg(
        F.sum("lang_tokens").alias("total"),
        F.sum("hq_tokens").alias("total_hq"),
    )
    j = by_lang.crossJoin(F.broadcast(tot))
    p1 = F.expr("1000000 * lang_tokens div greatest(total, 1)")
    p2 = F.expr("200000 * hq_tokens div greatest(total_hq, 1)")
    return j.select(
        "lang",
        F.col("lang_tokens").cast("bigint").alias("lang_tokens"),
        F.col("hq_tokens").cast("bigint").alias("hq_tokens"),
        p1.cast("bigint").alias("phase1_alloc"),
        p2.cast("bigint").alias("phase2_alloc"),
        F.expr(
            "CAST((1000000 * (1000000 * lang_tokens div greatest(total, 1)"
            " + 200000 * hq_tokens div greatest(total_hq, 1)))"
            " div 1200000 AS BIGINT)"
            " * total div greatest(lang_tokens, 1)"
        )
        .cast("bigint")
        .alias("upweight_ppm"),
    )
