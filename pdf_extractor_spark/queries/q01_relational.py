"""Relational core (SURVEY.md 2.4-2.6 join/agg/window behaviors).

Split verbatim from the single-file catalog (round-5 refactor); see
_registry for the @query contract. Registration order preserved.
"""
from __future__ import annotations


from pdf_extractor_spark.queries._registry import (
    DataFrame,
    F,
    N,
    SparkSession,
    Window,
    _dotted_rank,
    _t,
    query,
)


# =============================================================================
# Relational core (SURVEY.md §2.4-2.6 join/agg/window behaviors)
# =============================================================================


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf: str) -> DataFrame:
    """A8/A10-class aggregation: the canonical partial+final groupBy."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-join + agg + top-k (TakeOrderedAndProject)."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


@query(
    "q5_nation_volume",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q5(spark: SparkSession, sf: str) -> DataFrame:
    """Star join: small dims explicitly broadcast (no shuffle for dim sides)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(F.col("n_name").alias("nation"), "revenue")
        .orderBy("nation")
    )


@query(
    "w1_top_orders_per_customer",
    """
    SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def w1(spark: SparkSession, sf: str) -> DataFrame:
    """W1/W3 — row_number window, top-2 per key (last-wins-merge shape)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


@query(
    "w2_first_last_order_dates",
    """
    SELECT o_custkey AS custkey,
           strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
           strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
           (min(struct_pack(d := o_orderdate, k := o_orderkey))).k AS first_orderkey,
           (max(struct_pack(d := o_orderdate, k := o_orderkey))).k AS last_orderkey
    FROM orders GROUP BY o_custkey
    """,
)
def w2(spark: SparkSession, sf: str) -> DataFrame:
    """W2 — first/last per group. Struct-min/max rather than min_by so date
    ties break deterministically by orderkey (min_by tie-break is undefined)."""
    o = _t(spark, sf, "orders")
    pair = F.struct(F.col("o_orderdate").alias("d"), F.col("o_orderkey").alias("k"))
    return o.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
        F.min(pair)["k"].alias("first_orderkey"),
        F.max(pair)["k"].alias("last_orderkey"),
    ).withColumnRenamed("o_custkey", "custkey")


@query(
    "j_anti_resume",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j_anti(spark: SparkSession, sf: str) -> DataFrame:
    """S3/A4 — the resume/retry-remaining anti-join."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "j_semi_urgent",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def j_semi(spark: SparkSession, sf: str) -> DataFrame:
    """P3-class predicate as a semi-join (needs-retry worklist shape)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "a3_first_seen_dedupe",
    """
    SELECT event_type, min(event_id) AS first_event_id, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a3(spark: SparkSession, sf: str) -> DataFrame:
    """A3 — order-preserving dedupe = keep first occurrence per key."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "a5_group_issues",
    """
    SELECT user_id, count(DISTINCT event_type) AS n_types,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def a5(spark: SparkSession, sf: str) -> DataFrame:
    """A5/A9 — per-key set-size + metric totals (issues-by-note shape)."""
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "a2_dotted_sort",
    """
    SELECT ref, row_number() OVER (
        ORDER BY cast(split_part(ref, '.', 1) AS INT),
                 cast(split_part(ref, '.', 2) AS INT)) AS rank
    FROM (SELECT DISTINCT concat(n_regionkey, '.', n_nationkey) AS ref FROM nation)
    """,
)
def a2(spark: SparkSession, sf: str) -> DataFrame:
    """A2 — numeric-dotted sort: '3.2' < '3.10' (tuple-of-ints order)."""
    n = _t(spark, sf, "nation")
    refs = n.select(
        F.concat_ws(".", "n_regionkey", "n_nationkey").alias("ref")
    ).distinct()
    return _dotted_rank(refs, "ref")


@query(
    "a6_chunked_batches",
    """
    SELECT cast(floor(event_id / 5) AS BIGINT) AS batch_id, count(*) AS batch_size,
           min(event_id) AS first_id, max(event_id) AS last_id
    FROM events GROUP BY 1
    """,
)
def a6(spark: SparkSession, sf: str) -> DataFrame:
    """A6 — chunk-into-batches-of-5 as a floor-div grouping."""
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.floor(F.col("event_id") / 5).cast("bigint").alias("batch_id")
    ).agg(
        F.count(F.lit(1)).alias("batch_size"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


@query(
    "a10_totals_reconciliation",
    """
    SELECT o.o_orderkey AS orderkey,
           round(sum(l.l_extendedprice), 2) AS component_sum,
           round(o.o_totalprice, 2) AS declared_total,
           (abs(sum(l.l_extendedprice) - o.o_totalprice) < 0.01) AS reconciles
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def a10(spark: SparkSession, sf: str) -> DataFrame:
    """A10 — totals reconciliation: Total column == sum of components."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.sum("l_extendedprice").alias("_sum"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.round(F.col("_sum"), 2).alias("component_sum"),
            F.round(F.col("o_totalprice"), 2).alias("declared_total"),
            (F.abs(F.col("_sum") - F.col("o_totalprice")) < 0.01).alias("reconciles"),
        )
    )


@query(
    "a11_confidence",
    """
    SELECT n_nationkey AS key,
           greatest(0, least(100, 100 - 10 * (n_nationkey % 12)
                                  - 5 * (n_regionkey % 4))) AS confidence
    FROM nation
    """,
)
def a11(spark: SparkSession, sf: str) -> DataFrame:
    """A11 — confidence = clamp(100 - 10e - 5w, 0, 100)."""
    n = _t(spark, sf, "nation")
    return n.select(
        F.col("n_nationkey").alias("key"),
        N.confidence_score(
            F.col("n_nationkey") % 12, F.col("n_regionkey") % 4
        ).alias("confidence"),
    )


@query(
    "w4_preview_truncation",
    """
    SELECT doc_id, substr(text, 1, 80) AS preview, n_chars
    FROM documents ORDER BY n_chars DESC, doc_id LIMIT 5
    """,
)
def w4(spark: SparkSession, sf: str) -> DataFrame:
    """W4/S11 — truncation limits: first-500-chars preview, head-N rows."""
    d = _t(spark, sf, "documents")
    return (
        d.select("doc_id", F.substring("text", 1, 80).alias("preview"), "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(5)
    )
