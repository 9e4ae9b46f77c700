"""§2.C relational/dataflow surface — the driver's query contract.

Each entry registers a (Spark DataFrame implementation, ANSI-SQL
DuckDB oracle) pair under one name; `__spark_entry__.queries()` /
`oracle_sql()` expose the registry. The reference has none of these
as operators (it is a model pipeline — SURVEY.md §2.D); they are the
substrate the KG pipeline compiles onto, expressed with built-in
Spark operators. Two are deliberate pandas escape hatches
(q_asof_grouped_pandas, q_grouped_agg_udaf); every other plan here
stays JVM-side, and scripts/audit_plans.py checks both ways.

Numeric-determinism policy (so order-insensitive value hashes match
DuckDB bit-for-bit):
  * money sums go through exact integer cents:
    CAST(ROUND(x*100) AS BIGINT) summed as bigint;
  * averages/ratios divide exact integers as double and ROUND(.,4)
    (identical IEEE expression both sides);
  * raw stored doubles pass through untouched (bit-identical);
  * timestamps are emitted as strings via date_format/strftime;
  * every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# Local-only entries (`extra=True`): registered and oracle-checked by
# scripts/check_oracles.py, but outside the 50 scored queries(). Other
# kg modules register them; every query defined in this module is one
# of the 50. tests/test_udtf.py pins the tier by name.
EXTRA: set[str] = set()


def query(name: str, oracle: str | None = None, extra: bool = False):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if extra:
            EXTRA.add(name)
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col: str):
    """Exact integer cents of a 2-decimal double column."""
    return F.round(F.col(col) * 100).cast("long")


# Java \s spelled as an explicit class: Spark (java.util.regex) and
# DuckDB (RE2) disagree on whether \s includes vertical tab \x0B
# (Java: yes; RE2: no), so an oracle-checked tokenizer written as
# `\s+` on both sides is a latent engine-vs-oracle divergence (r5
# review finding — verified: RE2 '\s+' does NOT split on chr(11)).
# Every whitespace tokenizer below uses THIS class on BOTH sides.
WS_REGEX = "[ \\t\\n\\x0B\\f\\r]+"
_SQL_WS_REGEX = "[ \\t\\n\\x0B\\f\\r]+"


def ws_tokens(col, lower: bool = False):
    """Whitespace tokens of a string column, empties dropped — the
    one shared tokenizer expression behind quality stats / tfidf /
    shingling / simhash (drift in any one of them would silently
    diverge from its hand-written SQL twin)."""
    c = F.lower(col) if lower else col
    return F.filter(F.split(c, WS_REGEX), lambda t: t != F.lit(""))


def sql_ws_tokens(expr: str, lower: bool = False) -> str:
    """DuckDB twin of ws_tokens (same explicit whitespace class)."""
    e = f"lower({expr})" if lower else expr
    return (
        f"list_filter(regexp_split_to_array({e}, '{_SQL_WS_REGEX}'), "
        "x -> x != '')"
    )


# =====================================================================
# scans / filters / aggregation
# =====================================================================


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
           ROUND(CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*)*100), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*)*100), 4) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> filter -> hash agg.
    Catalyst does partial+final aggregation; the shipdate filter and
    the 5-column projection push into the parquet scan."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).alias("sum_price_c"),
            F.round(
                F.sum(cents("l_quantity")).cast("double")
                / (F.count(F.lit(1)) * 100),
                4,
            ).alias("avg_qty"),
            F.round(
                F.sum(cents("l_discount")).cast("double")
                / (F.count(F.lit(1)) * 100),
                4,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q6_revenue_filter",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT)
           AS revenue_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
    """,
)
def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped predicate pushdown demo: every filter reaches
    the parquet scan (PushedFilters), revenue in exact integer
    micro-units (cents*cents)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents("l_extendedprice") * cents("l_discount")).alias(
                "revenue_micro"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


# =====================================================================
# joins
# =====================================================================

@query(
    "q_broadcast_join",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join: customer is broadcast (no shuffle of orders)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_c"),
        )
    )


@query(
    "q5_region_revenue",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: fact-fact shuffle join (lineitem-orders)
    with every dimension broadcast; Catalyst/AQE reorders and DPP
    prunes on the region filter."""
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(cents("l_extendedprice")).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_anti_join",
    """
    SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers_no_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


@query(
    "q_semi_join",
    """
    SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts_sold
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY p.p_brand
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    l = T(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        p.join(l, p["p_partkey"] == l["l_partkey"], "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts_sold"))
    )


@query(
    "q_outer_join_histogram",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def q_outer_join_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count=0 bucket)."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "q_range_join_events",
    """
    SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_followups
    FROM events p JOIN events e
      ON e.user_id = p.user_id
     AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.user_id
    """,
)
def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: equi on user_id + range residual on ts (the
    equi key bounds the shuffle; the range predicate is a residual
    filter, NOT a cross join)."""
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts")
    )
    e = ev.select(F.col("user_id"), F.col("ts").alias("e_ts"))
    return (
        p.join(
            e,
            ["user_id"],
        )
        .filter(
            (F.col("e_ts") > F.col("p_ts"))
            & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


# =====================================================================
# windows
# =====================================================================


@query(
    "q_window_topk_orders",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_c,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders) t
    WHERE rk <= 3
    """,
)
def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-k via row_number (WindowGroupLimit pushes the limit
    below the shuffle in Spark 4)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            cents("o_totalprice").alias("price_c"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "q_window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_total_c
    FROM orders
    """,
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents("o_totalprice")).over(w).alias("run_total_c"),
    )


@query(
    "q_sessionize",
    """
    WITH flags AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flags GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch): lag + 30-min threshold."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = ev.select(
        "user_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return flags.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_asof_prev_purchase",
    """
    SELECT event_id, user_id, prev_purchase_value FROM (
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_purchase_value
      FROM events) t
    WHERE event_type = 'click'
    """,
)
def q_asof_prev_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window: each click picks up the most
    recent prior purchase value of the same user (union+last ignore
    nulls — the scalable as-of pattern, no per-key loop)."""
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            )
            .over(w)
            .alias("prev_purchase_value"),
        )
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "prev_purchase_value")
    )


# =====================================================================
# union
# =====================================================================


@query(
    "q_union_mixed",
    """
    SELECT 'big_balance' AS bucket, c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > 9000
    UNION ALL
    SELECT 'auto_segment' AS bucket, c_custkey, NULL AS c_acctbal
    FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    """,
)
def q_union_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName with missing columns (null-filled slice)."""
    c = T(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 9000).select(
        F.lit("big_balance").alias("bucket"), "c_custkey", "c_acctbal"
    )
    b = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.lit("auto_segment").alias("bucket"), "c_custkey"
    )
    return a.unionByName(b, allowMissingColumns=True)


# =====================================================================
# events: JSON
# =====================================================================


@query(
    "q_events_json",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k_typed,
           ROUND(CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1)
                AS BIGINT)) AS DOUBLE) / COUNT(*), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction both ways in one plan: get_json_object
    (string path) AND from_json with an explicit schema (typed
    struct path) — sum_k and sum_k_typed must agree. The oracle uses
    a regexp so DuckDB needs no JSON extension."""
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    k_typed = F.from_json("props", "k BIGINT")["k"]
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.sum(k_typed).alias("sum_k_typed"),
        F.round(F.sum(k).cast("double") / F.count(F.lit(1)), 4).alias("avg_k"),
    )


# =====================================================================
# documents
# =====================================================================


@query(
    "q_top_docs",
    """
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10
    """,
)
def q_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k -> TakeOrderedAndProject (no full sort at scale)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "q_dedup_exact",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
    FROM documents GROUP BY source
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting: content-hash distinct counts per source
    (the groupBy-hash shape of exact dedup at 100 TB)."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
    )


# =====================================================================
# TPC-H Q3 shape, SQL-API grouping sets, pandas escape hatches,
# corpus curation, null-safe join
# =====================================================================


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_c,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_c DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> fact join ->
    agg -> global top-k (TakeOrderedAndProject)."""
    c = T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(F.sum(cents("l_extendedprice")).alias("revenue_c"))
        .select("l_orderkey", "revenue_c", "orderdate")
        .orderBy(F.desc("revenue_c"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_grouping_sets_sql",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the spark.sql() API path + explicit GROUPING SETS."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_asof_grouped_pandas",
    """
    SELECT event_id, user_id, prev_purchase_value FROM (
      SELECT event_id, user_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_purchase_value
      FROM events) t
    WHERE event_type = 'click'
    """,
)
def q_asof_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of semantics as q_asof_prev_purchase, but computed
    with applyInPandas (grouped-map pandas merge_asof per user) — the
    per-key imperative escape hatch, cross-checked against the
    identical window-based oracle."""
    import pandas as pd

    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )

    def asof(pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized as-of: purchase values at their own rows, shifted
        # one row (strictly-earlier), forward-filled — the pandas
        # equivalent of LAST_VALUE(...) IGNORE NULLS ROWS BETWEEN
        # UNBOUNDED PRECEDING AND 1 PRECEDING
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        pv = pdf["value"].where(pdf["event_type"] == "purchase")
        pdf["prev_purchase_value"] = pv.shift(1).ffill()
        out = pdf.loc[
            pdf["event_type"] == "click",
            ["event_id", "user_id", "prev_purchase_value"],
        ]
        return out

    return ev.groupBy("user_id").applyInPandas(
        asof, "event_id long, user_id long, prev_purchase_value double"
    )


@query(
    "q_grouped_agg_udaf",
    """
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                          * CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
                 / SUM(CAST(ROUND(l_quantity*100) AS BIGINT)), 4)
             AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: a GROUPED_AGG pandas UDF (Arrow-batched
    quantity-weighted mean) — the escape hatch for aggregates Catalyst
    lacks; checked against the plain-SQL formulation."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: Spark 4 doesn't infer the aggregate
    # signature from `-> float` annotations. The kernel sums exact
    # integer cents (int64) so the result is independent of
    # partial-aggregation order, then divides once.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_mean(price_c, qty_c):
        return float(
            (price_c.astype("int64") * qty_c.astype("int64")).sum()
            / qty_c.astype("int64").sum()
        )

    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            weighted_mean(cents("l_extendedprice"), cents("l_quantity")), 4
        ).alias("weighted_avg_price")
    )


@query(
    "corpus_curation",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, text, {sql_ws_tokens("text")} AS t FROM documents),
    quality AS (
      SELECT doc_id, lang, t,
             len(t) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
               / length(text) AS digit_ratio
      FROM toks),
    idx AS (
      SELECT doc_id, lang, t, n_tokens,
             unnest(generate_series(1, GREATEST(CAST(len(t) AS BIGINT) - 4, 1))) AS i
      FROM quality WHERE n_tokens >= 5 AND digit_ratio < 0.3),
    fp AS (
      SELECT doc_id, lang,
             MIN(md5(array_to_string(t[i:i+4], ' '))) AS fingerprint
      FROM idx GROUP BY doc_id, lang),
    canonical AS (
      SELECT fingerprint, MIN(doc_id) AS keeper FROM fp GROUP BY fingerprint)
    SELECT f.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM fp f JOIN canonical c
      ON f.fingerprint = c.fingerprint AND f.doc_id = c.keeper
    GROUP BY f.lang
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation pass: quality gate ->
    winnowing-fingerprint dedup (keep min doc_id per fingerprint) ->
    per-language kept counts. The 100 TB shape: one scan, one
    fingerprint groupBy, one broadcast-able canonical join."""
    from kg.textstats import min_fingerprint, quality_features

    d = T(spark, sf_dir, "documents")
    q = quality_features(d).filter(F.col("keep") == 1).select("doc_id")
    fp = min_fingerprint(d.join(q, "doc_id", "left_semi")).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    canonical = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    kept = fp.join(
        canonical,
        (fp["fingerprint"] == canonical["fingerprint"])
        & (fp["doc_id"] == canonical["keeper"]),
        "inner",
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "q_null_safe_join",
    """
    WITH enriched AS (
      SELECT c.c_custkey,
             CASE WHEN c.c_acctbal < 0 THEN NULL ELSE c.c_mktsegment END
               AS seg_or_null
      FROM customer c)
    SELECT a.seg_or_null,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM enriched a JOIN enriched b
      ON a.seg_or_null IS NOT DISTINCT FROM b.seg_or_null
     AND a.c_custkey < b.c_custkey
    GROUP BY a.seg_or_null
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other, unlike plain equality."""
    c = T(spark, sf_dir, "customer")
    e = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_or_null"),
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            F.col("a.seg_or_null").eqNullSafe(F.col("b.seg_or_null"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .groupBy(F.col("a.seg_or_null").alias("seg_or_null"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# =====================================================================
# set operators, scalar functions, right outer join
# =====================================================================


@query(
    "q_set_ops",
    """
    SELECT 'except_distinct' AS op, CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t1
    UNION ALL
    SELECT 'intersect' AS op, CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t2
    UNION ALL
    SELECT 'except_all' AS op, CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t3
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operators in one driver entry (EXCEPT distinct,
    INTERSECT, EXCEPT ALL bag semantics), tagged and unioned into one
    result."""
    o = T(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    exc = y96.subtract(y97).select(
        F.lit("except_distinct").alias("op"), "o_custkey"
    )
    itc = y96.intersect(y97).select(F.lit("intersect").alias("op"), "o_custkey")
    exa = (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .exceptAll(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
        .select(F.lit("except_all").alias("op"), "o_custkey")
    )
    return exc.unionAll(itc).unionAll(exa)


@query(
    "q_scalar_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_type, 1, 5) AS type5,
           CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS lev,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           CAST(ROUND(sqrt(p_retailprice) * 1000000) AS BIGINT) AS sqrt_price_u,
           CAST(ROUND(ln(p_retailprice) * 1000000) AS BIGINT) AS log_price_u,
           CAST(ROUND(abs(p_retailprice - 1000.0) * 100) AS BIGINT) AS absdiff_c
    FROM part
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + math scalar functions in one per-row projection.
    Per-row rounding to integer units keeps the result engine- and
    order-independent."""
    p = T(spark, sf_dir, "part")
    u = lambda c: F.round(c * 1_000_000).cast("long")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.levenshtein("p_brand", F.lit("Brand#11")).cast("long").alias("lev"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        u(F.sqrt("p_retailprice")).alias("sqrt_price_u"),
        u(F.log("p_retailprice")).alias("log_price_u"),
        F.round(F.abs(F.col("p_retailprice") - 1000.0) * 100)
        .cast("long")
        .alias("absdiff_c"),
    )


@query(
    "q_right_outer_join",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_urgent_orders
    FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def q_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every customer survives, zero-filled count
    for customers with no urgent orders (closes the §2.C right-outer
    row; left/full outer live in q_outer_join_histogram /
    per_type_prf)."""
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "right_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_urgent_orders"))
    )
