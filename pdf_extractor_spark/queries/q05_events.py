"""Event-time operators (warc_ts/incremental layer over events).

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    SparkSession,
    T,
    Window,
    _par,
    _t,
    query,
)

from pdf_extractor_spark.queries.q04_dedup import (
    _HEX8,
    _TOK_SQL,
)


# =============================================================================
# Event-time operators (the warc_ts/incremental layer over `events`)
# =============================================================================


@query(
    "s_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def s_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Event-time tumbling window aggregation (the batch form of the
    Structured Streaming windowed agg — tests/test_streaming.py proves the
    readStream plan computes the identical result)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "s_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM events),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, cast(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           round(sum(value), 2) AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def s_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + running sum — the
    deterministic relational form (Spark's session_window gives the same
    sessions; this form is engine-portable for the oracle and numbers the
    sessions stably per user)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = e.withColumn("new_session", new_session)
    running = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(running).cast("bigint")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@query(
    "a_rollup_returns",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_items,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical rollup (subtotals per returnflag + grand total) — the
    reference has no grouping sets (SURVEY §2.5); Spark's rollup compiles
    to a single Expand + one aggregate, not N scans."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@query(
    "t_length_quantiles",
    """
    SELECT lang, count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 2) AS p50,
           round(quantile_cont(n_chars, 0.9), 2) AS p90
    FROM documents GROUP BY lang
    """,
)
def t_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact continuous quantiles of document length per language (corpus
    length profiling). Spark `percentile` and DuckDB `quantile_cont` share
    the linear-interpolation definition, so the oracle is exact; at corpus
    scale swap for `approx_percentile` (t-digest sketch, one pass,
    mergeable across partitions) and drop the oracle's exactness."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 2).alias("p90"),
    )


@query(
    "v_statement_normalize",
    """
    SELECT o_custkey AS custkey,
           'time_series' AS axis,
           'order_lines' AS section_name,
           cast(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
                AS INT) AS line_number,
           CASE WHEN o_orderkey % 7 = 0 THEN concat('order ', o_orderkey)
                ELSE o_orderpriority END AS label,
           0 AS level,
           (o_orderkey % 11 = 0) AS is_total,
           round(CASE WHEN (o_totalprice % 500) != 0
                       AND abs(o_totalprice % 500) < 1000
                 THEN (o_totalprice % 500) * 1000
                 ELSE o_totalprice % 500 END, 2) AS fy95_value,
           cast(o_orderkey % 5 AS VARCHAR) AS note_ref
    FROM orders
    """,
)
def v_statement(spark: SparkSession, sf: str) -> DataFrame:
    """The structured layer end-to-end, oracle-checked: orders rows are
    packed into the nested statement model (sections -> items -> values map,
    with nulled line numbers/labels and sub-multiplier values to force every
    drift repair), run through the full column-expression normalizer
    (functions/statement.py — W1 numbering, F12 label fallback, F11
    is_total, F13 ref coercion, F6 units scaling, F17 axis inference, F1
    snake_case), then flattened back to rows. The oracle states each
    repair's expected value directly over the source rows."""
    from pdf_extractor_spark.functions.statement import normalize_statement

    o = _t(spark, sf, "orders").repartition(_par(spark), "o_custkey")
    item = F.struct(
        F.lit(None).cast("int").alias("line_number"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ).alias("label"),
        F.lit(None).cast("int").alias("level"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("subtotal"))
        .otherwise(F.lit("position"))
        .alias("row_kind"),
        F.lit(None).cast("string").alias("row_as_of"),
        F.lit(None).cast("struct<start:string,end:string>").alias("row_period"),
        F.concat(F.lit("order "), F.col("o_orderkey").cast("string")).alias(
            "row_description"
        ),
        F.create_map(
            F.lit("1995-01-01"), (F.col("o_totalprice") % 500).cast("double")
        ).alias("values"),
        F.lit(None).cast("map<string,string>").alias("values_text"),
        F.array((F.col("o_orderkey") % 5).cast("string")).alias(
            "notes_reference"
        ),
    )
    packed = (
        o.select("o_custkey", "o_orderkey", item.alias("it"))
        .groupBy("o_custkey")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("o_orderkey").alias("k"), F.col("it"))
                    ),
                    # comparator on k only: the item struct holds a MAP,
                    # which default struct ordering cannot compare
                    lambda a, b: F.when(
                        a.getField("k") < b.getField("k"), F.lit(-1)
                    )
                    .when(a.getField("k") > b.getField("k"), F.lit(1))
                    .otherwise(F.lit(0)),
                ),
                lambda x: x.getField("it"),
            ).alias("items")
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.struct(
                F.struct(
                    F.lit("synthetic").alias("company_name"),
                    F.lit("income_statement").alias("statement_type"),
                    F.lit(1000).alias("units_multiplier"),
                    F.array(
                        F.struct(
                            F.lit("FY95").alias("label"),
                            F.lit("1995-01-01").alias("iso_date"),
                        )
                    ).alias("periods"),
                    F.array().cast("array<struct<key:string,label:string>>").alias(
                        "columns"
                    ),
                ).alias("metadata"),
                F.array().cast("array<string>").alias("extraction_notes"),
                F.array(
                    F.struct(
                        F.lit("Order Lines").alias("section_name"),
                        F.col("items").alias("items"),
                    )
                ).alias("sections"),
            ).alias("statement"),
        )
    )
    norm = normalize_statement(packed)
    sec = F.element_at(F.col("statement").getField("sections"), 1)
    return norm.select(
        "custkey",
        "axis",
        sec.getField("section_name").alias("section_name"),
        F.explode(sec.getField("items")).alias("item"),
    ).select(
        "custkey",
        "axis",
        "section_name",
        F.col("item").getField("line_number").alias("line_number"),
        F.col("item").getField("label").alias("label"),
        F.col("item").getField("level").alias("level"),
        F.col("item").getField("is_total").alias("is_total"),
        F.round(
            F.element_at(F.col("item").getField("values"), "1995-01-01"), 2
        ).alias("fy95_value"),
        F.element_at(F.col("item").getField("notes_reference"), 1).alias(
            "note_ref"
        ),
    )


@query(
    "v_statement_validate",
    """
    SELECT o_custkey AS custkey,
           cast((CASE WHEN o_custkey % 3 = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN o_custkey % 5 = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN o_custkey % 7 = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN o_custkey % 11 = 0 THEN 1 ELSE 0 END) AS INT)
             AS n_errors,
           cast(CASE WHEN o_custkey % 4 = 0 THEN 1 ELSE 0 END AS INT)
             AS n_warnings,
           (o_custkey % 3 != 0 AND o_custkey % 5 != 0
            AND o_custkey % 7 != 0 AND o_custkey % 11 != 0) AS is_valid,
           cast(greatest(0, least(100,
             100 - 10 * ((CASE WHEN o_custkey % 3 = 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o_custkey % 5 = 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o_custkey % 7 = 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o_custkey % 11 = 0 THEN 1 ELSE 0 END))
                 - 5 * (CASE WHEN o_custkey % 4 = 0 THEN 1 ELSE 0 END)))
             AS INT) AS confidence
    FROM (SELECT DISTINCT o_custkey FROM orders)
    """,
)
def v_validate(spark: SparkSession, sf: str) -> DataFrame:
    """V1 schema validator oracle-checked: statements are packed from
    orders with DEFECTS INJECTED deterministically per custkey (missing
    currency at %3, invalid units_multiplier at %5, null item label at %7,
    values keyed outside declared periods at %11, ambiguity note at %4);
    the validator's error/warning counts, is_valid, and the confidence
    formula (reference src/validator.py:1325-1328) must reproduce the
    injection schedule stated directly in SQL."""
    from pdf_extractor_spark.functions.validate import validate_statements

    o = _t(spark, sf, "orders").repartition(_par(spark), "o_custkey")
    ck = F.col("o_custkey")
    item = F.struct(
        F.when(ck % 7 == 0, F.lit(None)).otherwise(F.lit("line")).alias("label"),
        F.create_map(
            F.when(ck % 11 == 0, F.lit("1996-01-01")).otherwise(
                F.lit("1995-01-01")
            ),
            F.col("o_totalprice"),
        ).alias("values"),
    )
    packed = (
        o.select(ck.alias("custkey"), item.alias("it"))
        .groupBy("custkey")
        .agg(F.collect_list("it").alias("items"))
        .select(
            "custkey",
            F.struct(
                F.struct(
                    F.lit("synthetic").alias("company_name"),
                    F.lit("income_statement").alias("statement_type"),
                    F.when(F.col("custkey") % 3 == 0, F.lit(None))
                    .otherwise(F.lit("EUR"))
                    .alias("currency"),
                    F.when(F.col("custkey") % 5 == 0, F.lit(7))
                    .otherwise(F.lit(1000))
                    .alias("units_multiplier"),
                    F.array(
                        F.struct(
                            F.lit("FY95").alias("label"),
                            F.lit("1995-01-01").alias("iso_date"),
                        )
                    ).alias("periods"),
                    F.array().cast("array<struct<key:string,label:string>>").alias(
                        "columns"
                    ),
                ).alias("metadata"),
                F.when(
                    F.col("custkey") % 4 == 0,
                    F.array(F.lit("value ambiguous near note 3")),
                )
                .otherwise(F.array().cast("array<string>"))
                .alias("extraction_notes"),
                F.array(
                    F.struct(
                        F.lit("lines").alias("section_name"),
                        F.col("items").alias("items"),
                    )
                ).alias("sections"),
            ).alias("statement"),
        )
    )
    out = validate_statements(packed)
    return out.select(
        "custkey",
        F.size("errors").alias("n_errors"),
        F.size("warnings").alias("n_warnings"),
        "is_valid",
        F.col("confidence").cast("int").alias("confidence"),
    )


@query(
    "t_sample_split",
    f"""
    WITH h AS (
      SELECT doc_id, lang, md5(concat('sample:', doc_id)) AS hx FROM documents)
    SELECT doc_id, lang FROM h
    WHERE ({_HEX8.format(h="hx", p="1")}) / 4294967296.0 < 0.2
    """,
)
def t_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 20% corpus sample (operators/sampling.py): row kept iff
    its md5-derived uniform < rate. A pure scan-side filter — no shuffle,
    same rows at any partitioning/executor count/engine (unlike df.sample's
    per-partition RNG); disjoint salt intervals give reproducible
    train/dev/test splits."""
    from pdf_extractor_spark.operators.sampling import deterministic_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return deterministic_sample(d, 0.2, "doc_id")


@query(
    "t_quality_weighted_sample",
    f"""
    WITH q AS (
      SELECT doc_id,
             round(least(40.0, cast(length(text) AS DOUBLE) / 50.0)
                   + least(30.0, round(cast(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) * 100.0)
                   + CASE WHEN round(cast(length(text) AS DOUBLE) / greatest(n_tokens, 1), 4)
                               BETWEEN 3.0 AND 12.0 THEN 30.0 ELSE 0.0 END, 2) AS quality
      FROM (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
               length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|for)\\b'))
               + length(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist|nicht|ein|mit)\\b'))
               + length(regexp_extract_all(lower(text), '\\b(le|la|et|les|des|est|dans|que)\\b'))
               + length(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|en|una|por)\\b')) AS n_stop
        FROM documents)),
    h AS (
      SELECT doc_id, quality, md5(concat('qsample:', doc_id)) AS hx FROM q)
    SELECT doc_id, quality FROM h
    WHERE ({_HEX8.format(h="hx", p="1")}) / 4294967296.0 < quality / 100.0
    """,
)
def t_qsample(spark: SparkSession, sf: str) -> DataFrame:
    """SOFT quality filtering (CCNet/DCLM-style): keep probability equals
    the quality score instead of a hard threshold — low-quality docs
    survive occasionally (diversity), high-quality docs almost always.
    Deterministic: the md5-keyed uniform makes the same doc survive on any
    engine/partitioning. One scan-side filter, no shuffle."""
    from pdf_extractor_spark.operators.sampling import _hash_frac

    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
    )
    return scored.filter(
        _hash_frac(F.col("doc_id"), "qsample") < F.col("quality") / 100.0
    )


@query(
    "t_stratified_sample",
    f"""
    WITH h AS (
      SELECT doc_id, lang, md5(concat('strat:', doc_id)) AS hx FROM documents)
    SELECT doc_id, lang FROM h
    WHERE ({_HEX8.format(h="hx", p="1")}) / 4294967296.0 <
          CASE lang WHEN 'en' THEN 0.1 WHEN 'de' THEN 0.4 ELSE 0.8 END
    """,
)
def t_strat(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus REBALANCING: per-language sampling rates (downsample dominant
    English, keep the tail) as ONE deterministic scan-side filter — the
    keep threshold is a CASE over the stratum, the keep decision an
    md5-keyed uniform, so no shuffle and no per-group pass; identical rows
    survive at any partitioning or engine."""
    from pdf_extractor_spark.operators.sampling import stratified_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return stratified_sample(
        d, {"en": 0.1, "de": 0.4}, "lang", "doc_id", default_rate=0.8
    )


@query(
    "a_kmv_distinct_tokens",
    f"""
    WITH tok AS (SELECT lang, unnest({_TOK_SQL}) AS t FROM documents),
    hs AS (
      SELECT DISTINCT lang,
             ({_HEX8.format(h="md5(concat('kmv:', t))", p="1")})
               / 4294967296.0 AS h
      FROM tok),
    r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
          FROM hs)
    SELECT lang, count(*) AS n_hashes,
           round(CASE WHEN count(*) < 64 THEN count(*) ELSE 63 / max(h) END, 2)
             AS kmv_est
    FROM r WHERE rn <= 64 GROUP BY lang
    """,
)
def a_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sampling.kmv_distinct): distinct
    tokens per language estimated from the 64 smallest md5-derived hash
    values — deterministic and mergeable, so the oracle checks the EXACT
    sketch output (impossible with engine-specific HLL); below 64 distinct
    values the sketch degenerates to the exact count."""
    from pdf_extractor_spark.operators.dedup import word_tokens
    from pdf_extractor_spark.operators.sampling import kmv_distinct

    d = _t(spark, sf, "documents")
    toks = d.select("lang", F.explode(word_tokens(F.col("text"))).alias("tok"))
    return kmv_distinct(toks, "lang", "tok", k=64)


@query(
    "j_asof_last_purchase",
    """
    WITH snaps AS (
      SELECT user_id, ts, max(value) AS snap_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    clicks AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, c.ts, c.value,
           s.ts AS asof_ts, s.snap_value AS asof_snap_value
    FROM clicks c ASOF LEFT JOIN snaps s
      ON c.user_id = s.user_id AND c.ts >= s.ts
    """,
)
def j_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators/temporal.py): every click joined to the user's
    newest purchase at or before the click. Spark lacks a native as-of
    join; the union + last(ignorenulls) window formulation is ONE shuffle
    with no range-explode. The oracle is DuckDB's native ASOF LEFT JOIN —
    an independent implementation of the same semantics."""
    from pdf_extractor_spark.operators.temporal import asof_join

    e = _t(spark, sf, "events")
    snaps = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap_value"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        clicks, snaps, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["snap_value"],
    ).select("event_id", "user_id", "ts", "value", "asof_ts", "asof_snap_value")


@query(
    "j_interval_attribution",
    """
    WITH iv AS (
      SELECT event_id AS purchase_id, user_id, ts AS start_ts,
             ts + to_minutes(cast(round(value * 10) AS BIGINT)) AS end_ts
      FROM events WHERE event_type = 'purchase'),
    pts AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
      WHERE event_type = 'click')
    SELECT p.click_id, p.user_id, p.click_ts,
           iv.purchase_id, iv.start_ts, iv.end_ts
    FROM pts p JOIN iv ON p.user_id = iv.user_id
      AND p.click_ts >= iv.start_ts AND p.click_ts < iv.end_ts
    """,
)
def j_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Interval/range join (operators/temporal.interval_join): clicks
    attributed to purchase windows [ts, ts + 10*value minutes). Spark falls
    back to a nested loop on inequality predicates; the bucketed
    formulation explodes intervals into hour buckets and equi-joins on
    (user, bucket) + residual filter. The oracle is DuckDB's native
    inequality join — independent semantics check."""
    from pdf_extractor_spark.operators.temporal import interval_join

    e = _t(spark, sf, "events")
    iv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        F.timestamp_add(
            "MINUTE", F.round(F.col("value") * 10).cast("int"), F.col("ts")
        ).alias("end_ts"),
    )
    pts = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    return interval_join(
        pts, iv, key="user_id", ts_col="click_ts",
        start_col="start_ts", end_col="end_ts",
    ).select("click_id", "user_id", "click_ts", "purchase_id", "start_ts", "end_ts")
