"""§2.C relational/dataflow surface — the driver's query contract.

Each entry registers a (Spark DataFrame implementation, ANSI-SQL
DuckDB oracle) pair under one name; `__spark_entry__.queries()` /
`oracle_sql()` expose the registry. The reference has none of these
as operators (it is a model pipeline — SURVEY.md §2.D); they are the
substrate the KG pipeline compiles onto, expressed with built-in
Spark operators only (zero Python in any of these plans).

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
# Local-only entries: the driver scores at most 50 queries() rows, so
# near-duplicate operator demos are kept OUT of the driver registry
# (their operators stay driver-evidenced by a merged query or a green
# CORRECTNESS_r01 row) but remain fully oracle-checked by
# scripts/check_oracles.py and pytest.
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


@query(
    "q_rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_c
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    extra=True,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("l_extendedprice")).alias("price_c"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n", "price_c")


@query(
    "q_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    extra=True,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("o_totalprice")).alias("total_c"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_prio", "n", "total_c"
    )


@query(
    "q_distinct_counts",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    extra=True,
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# joins
# =====================================================================

_BUCKETED: dict[tuple[str, str], bool] = {}


def _bucketed_tables(spark: SparkSession, sf_dir: str, buckets: int = 8) -> tuple[str, str]:
    """Write orders + lineitem as BUCKETED tables (bucketBy + sortBy on
    the join key, external data in the scratch root, in-memory catalog
    — no Hive) once per session. Both sides sharing the bucketing lets
    the fact-fact join run with ZERO Exchange (plan-audited): on a
    cluster this is how repeated fact-fact joins amortize their
    shuffle once at write time."""
    import hashlib

    from kg.io import scratch_dir

    # table names carry an sf_dir hash: global names with an sf-keyed
    # cache would silently serve the LAST-written sf's data to earlier
    # sf_dirs in the same session (reviewer finding)
    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # applicationId, not id(spark): CPython reuses ids after GC, so a
    # fresh session could collide with a dead one's cache key and skip
    # rebuilding tables absent from its in-memory catalog (r3 advice);
    # tableExists double-checks the catalog before trusting the hit
    key = (spark.sparkContext.applicationId, sf_dir)
    # entries from other applicationIds belong to stopped sessions —
    # evict them so a long-lived process never accumulates dead keys
    # (r4 advice; several sf_dirs for the LIVE session stay cached)
    for k in [k for k in _BUCKETED if k[0] != key[0]]:
        del _BUCKETED[k]
    ob, lb = f"kg_orders_bkt_{sfx}", f"kg_lineitem_bkt_{sfx}"
    if (
        key not in _BUCKETED
        or not spark.catalog.tableExists(ob)
        or not spark.catalog.tableExists(lb)
    ):
        for name, src, col, sort in (
            (ob, "orders", "o_orderkey", "o_orderkey"),
            (lb, "lineitem", "l_orderkey", "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                T(spark, sf_dir, src)
                .write.mode("overwrite")
                .bucketBy(buckets, col)
                .sortBy(sort)
                .option("path", scratch_dir(f"bkt_{name}_"))
                .saveAsTable(name)
            )
        _BUCKETED[key] = True
    return ob, lb


@query(
    "q_bucketed_join",
    """
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    extra=True,  # local-only: join RESULT equals the plain join; the
    # bucketing claim itself is a plan property (audit_plans asserts
    # the join runs with zero Exchange below the aggregation)
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ob, lb = _bucketed_tables(spark, sf_dir)
    # hint("merge"): at fact-fact scale SMJ is the natural pick, but
    # the sf0.01 test tables are small enough to auto-broadcast, which
    # would bypass the bucket co-location this query exists to prove
    o = spark.table(ob).select("o_orderkey", "o_orderstatus").hint("merge")
    l = spark.table(lb).select("l_orderkey", cents("l_extendedprice").alias("ep_c"))
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("ep_c").alias("revenue_c"),
        )
    )


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
    "q_lag_gaps",
    """
    WITH g AS (
      SELECT user_id,
             CAST(date_diff('second', LAG(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id), ts) AS BIGINT) AS gap_s
      FROM events)
    SELECT user_id,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(gap_s) AS DOUBLE) / COUNT(gap_s), 4) AS avg_gap_s
    FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
    """,
    extra=True,
)
def q_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.sum("gap_s").cast("double") / F.count("gap_s"), 4).alias(
            "avg_gap_s"
        ),
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
# set ops / union
# =====================================================================


@query(
    "q_set_except",
    """
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      EXCEPT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t
    """,
    extra=True,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ordering in 1996 but not 1997 (EXCEPT distinct)."""
    o = T(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y96.subtract(y97)  # EXCEPT (distinct) semantics


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
# events: JSON, dates
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


@query(
    "q_events_type_map",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
             AS n_purchase,
           CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
    extra=True,  # local-only: map-function coverage, operators already
    # driver-evidenced via q_events_json (driver registry stays at 50)
)
def q_events_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_from_entries / element_at / map cardinality coverage (the
    one §2.C map row previously unexercised): per-user event-type
    counts built AS A MAP in-plan, then read back out to scalar
    columns so the result stays driver-hashable."""
    per = (
        T(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias(
            "m"
        )
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0))
        .cast("long")
        .alias("n_purchase"),
        F.coalesce(F.element_at("m", F.lit("error")), F.lit(0))
        .cast("long")
        .alias("n_error"),
        F.size("m").cast("long").alias("n_types"),
    )


@query(
    "q_events_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
    extra=True,  # date funcs stay driver-evidenced by
    # stream_tumbling_daily (same day-bucketing) + the green r1 row
)
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))


# =====================================================================
# documents / strings
# =====================================================================


@query(
    "q_doc_stats",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len({sql_ws_tokens("text")}) AS BIGINT)) AS BIGINT)
             AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE)
                 / SUM(CAST(len({sql_ws_tokens("text")}) AS BIGINT)), 4)
             AS chars_per_token
    FROM documents GROUP BY lang
    """,
    extra=True,
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / quality-stat shape over the documents table."""
    d = T(spark, sf_dir, "documents")
    ntok = F.size(ws_tokens(F.col("text"))).cast("long")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum(ntok), 4
        ).alias("chars_per_token"),
    )


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
# second wave: TPC-H Q3 shape, set intersect, strings, grouping sets,
# SQL-API path, approx distinct, grouped-map as-of
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
    "q_set_intersect",
    """
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      INTERSECT
      SELECT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') t
    """,
    extra=True,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    y96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y96.intersect(y97)


@query(
    "q_string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_type, 1, 5) AS type5,
           CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS lev,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part
    """,
    extra=True,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.levenshtein("p_brand", F.lit("Brand#11")).cast("long").alias("lev"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
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


@query("q_approx_distinct", extra=True)  # rows-only: HLL sketches differ by engine
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) next to the exact count; the
    query itself asserts the relative error bound."""
    li = T(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "approx_parts",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            < 0.05
        ).alias("within_5pct"),
    )


@query(
    "q_table_profile",
    """
    SELECT 'l_quantity' AS col,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
           ROUND(MIN(l_quantity), 4) AS min_v,
           ROUND(MAX(l_quantity), 4) AS max_v,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_quantity, 0.95), 4) AS p95
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           ROUND(MIN(l_extendedprice), 4), ROUND(MAX(l_extendedprice), 4),
           ROUND(quantile_cont(l_extendedprice, 0.25), 4),
           ROUND(quantile_cont(l_extendedprice, 0.5), 4),
           ROUND(quantile_cont(l_extendedprice, 0.95), 4)
    FROM lineitem
    """,
    extra=True,  # local-only: summary-stats/profiling surface
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling (the pre-training sanity sweep): row/null
    counts, min/max, and EXACT linear-interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont` definitionally;
    round(4) guards the interpolation arithmetic). One pass per
    column set, map-side partial aggregation; at 100 TB you would
    swap `percentile` for `approx_percentile` and accept the sketch
    (q_approx_distinct shows that trade on HLL)."""
    li = T(spark, sf_dir, "lineitem")

    def prof(col: str):
        c = F.col(col)
        return li.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.round(F.min(c), 4).alias("min_v"),
            F.round(F.max(c), 4).alias("max_v"),
            F.round(F.percentile(c, F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile(c, F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile(c, F.lit(0.95)), 4).alias("p95"),
        )

    return prof("l_quantity").unionAll(prof("l_extendedprice"))


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
    "q_events_from_json",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
    FROM events WHERE event_type = 'error'
    """,
    extra=True,
)
def q_events_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with an explicit schema (the
    map/struct path, vs q_events_json's get_json_object string path)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .withColumn("p", F.from_json("props", "k BIGINT"))
        .select("event_id", F.col("p.k").alias("k"))
    )


@query(
    "q_except_all",
    """
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') t
    """,
    extra=True,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (bag semantics, vs q_set_except's set)."""
    o = T(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "O").select("o_custkey").exceptAll(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    )


@query(
    "q_math_funcs",
    """
    SELECT l_linenumber,
           CAST(SUM(CAST(ROUND(sqrt(l_quantity) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_sqrt_qty_u,
           CAST(SUM(CAST(ROUND(abs(l_discount - 0.05) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_abs_disc_u,
           CAST(SUM(CAST(ROUND(ln(l_extendedprice) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_log_price_u
    FROM lineitem GROUP BY l_linenumber
    """,
    extra=True,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math functions with order-independent aggregation: each row's
    sqrt/abs/ln rounds to exact integer micro-units BEFORE the sum
    (summing raw doubles is partial-aggregation-order dependent and
    can flip a final ROUND across engines/partitionings)."""
    li = T(spark, sf_dir, "lineitem")
    u = lambda c: F.round(c * 1_000_000).cast("long")
    return li.groupBy("l_linenumber").agg(
        F.sum(u(F.sqrt("l_quantity"))).alias("sum_sqrt_qty_u"),
        F.sum(u(F.abs(F.col("l_discount") - 0.05))).alias("sum_abs_disc_u"),
        F.sum(u(F.log("l_extendedprice"))).alias("sum_log_price_u"),
    )


@query(
    "q_anti_join_events",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_click_no_purchase FROM (
      SELECT DISTINCT user_id FROM events e
      WHERE event_type = 'click'
        AND NOT EXISTS (SELECT 1 FROM events p
                        WHERE p.user_id = e.user_id
                          AND p.event_type = 'purchase')) t
    """,
    extra=True,
)
def q_anti_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join with (typically) non-empty output: users who click
    but never purchase."""
    ev = T(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.join(buyers, "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n_users_click_no_purchase")
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
# round-2 merged/new driver entries (VERDICT r1 item 9 + registry trim)
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
    INTERSECT, EXCEPT ALL bag semantics), tagged and unioned — merges
    q_set_except / q_set_intersect / q_except_all (kept as local
    extras) into a single CORRECTNESS row."""
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
    """String + math scalar functions in one per-row projection
    (merges q_string_funcs / q_math_funcs, kept as local extras).
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


@query(
    "q_io_roundtrip",
    """
    SELECT event_id, user_id, event_type,
           CAST(ROUND(value*100) AS BIGINT) AS value_c,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events WHERE event_type = 'purchase'
    """,
    extra=True,  # local-only: source/sink format coverage, not a new
    # relational operator (driver registry stays at 50)
)
def q_io_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + CSV + ORC source/sink round-trip: the purchase slice is
    written to all three formats and read back with explicit schemas;
    the returned rows are the three-way intersection, so the exact
    oracle passes only if EVERY format preserves every value.
    Timestamps and money are stringified/integerized BEFORE the write
    so the comparison is lossless across text formats."""
    from kg.io import scratch_dir

    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "event_type",
            cents("value").alias("value_c"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )
    schema = "event_id long, user_id long, event_type string, value_c long, ts_s string"
    # session-scoped, atexit-cleaned scratch (no per-call tempdir leak)
    base = scratch_dir("kg_io_rt_")
    ev.write.mode("overwrite").json(f"{base}/j")
    ev.write.mode("overwrite").option("header", True).csv(f"{base}/c")
    ev.write.mode("overwrite").orc(f"{base}/o")
    j = spark.read.schema(schema).json(f"{base}/j")
    c = spark.read.schema(schema).option("header", True).csv(f"{base}/c")
    o = spark.read.orc(f"{base}/o")
    return j.intersect(c).intersect(o.select(*j.columns))


# =====================================================================
# r3 surface fills: pivot/unpivot, ntile, SCD-1 upsert
# =====================================================================


@query(
    "q_pivot_events",
    """
    WITH p AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS purchase,
             CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
      FROM events GROUP BY user_id)
    SELECT user_id, kind, n FROM p
    UNPIVOT (n FOR kind IN (click, purchase, view))
    """,
    extra=True,  # local-only: pivot/unpivot API surface
)
def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot -> unpivot round trip: per-user event counts spread to
    one column per type (groupBy().pivot(values=...).agg — explicit
    value list so the plan needs NO extra distinct-scan pass), then
    melted back to long form with unpivot(). At scale pivot is one
    hash aggregation; the explicit value list is what keeps it a
    single pass."""
    ev = T(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "purchase", "view"])
    )
    return wide.unpivot(
        ["user_id"], ["click", "purchase", "view"], "kind", "n"
    ).select("user_id", "kind", F.col("n").cast("long").alias("n"))


@query(
    "q_window_ntile",
    """
    SELECT o_orderkey,
           CAST(NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS quartile,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders WHERE o_orderstatus = 'F'
    """,
    extra=True,  # local-only: ntile/global-window surface (bounded by
    # the filter; production ntile partitions by a key)
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        cents("o_totalprice").alias("price_c"),
    )


@query(
    "q_window_ntile_by_key",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS quartile,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders
    """,
    extra=True,  # local-only: the PRODUCTION ntile shape
)
def q_window_ntile_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-keyed ntile — the shape that scales: the sort runs
    per o_orderpriority partition (hash-distributed across executors)
    instead of q_window_ntile's single-task global sort, so it
    survives an unbounded orders table (r3 verdict #6)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        cents("o_totalprice").alias("price_c"),
    )


def upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    key: list[str],
    order_col: str,
    tiebreak: list[str] = (),
) -> DataFrame:
    """SCD-1 upsert without a table format: union base + updates,
    keep the newest row per key by (order_col, source precedence —
    updates win ties). One shuffle keyed on the key columns; with
    MERGE INTO unavailable on plain parquet, this is the portable
    upsert shape (Iceberg/Delta MERGE replaces it config-side)."""
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key).orderBy(
        F.desc(order_col), F.desc("_src"), *[F.desc(c) for c in tiebreak]
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


@query(
    "q_upsert_latest",
    """
    WITH base AS (
      SELECT user_id, event_type, ts, CAST(ROUND(value*100) AS BIGINT) AS value_c
      FROM events WHERE event_id % 2 = 0),
    updates AS (
      SELECT user_id, event_type, ts, CAST(ROUND(value*200) AS BIGINT) AS value_c
      FROM events WHERE event_id % 3 = 0),
    tagged AS (
      SELECT *, 0 AS src FROM base UNION ALL SELECT *, 1 FROM updates),
    ranked AS (
      SELECT user_id, event_type, ts, value_c,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, src DESC, value_c DESC)
               AS rn
      FROM tagged)
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value_c
    FROM ranked WHERE rn = 1
    """,
    extra=True,  # local-only: upsert/merge surface (parquet-portable)
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "event_type", "ts", cents("value").alias("value_c")
    )
    updates = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id",
        "event_type",
        "ts",
        (F.round(F.col("value") * 200)).cast("long").alias("value_c"),
    )
    # value_c in the tie-break: two DISTINCT events can share
    # (key, ts, src), and row_number over an under-specified order is
    # partition-order-dependent — the oracle would flap
    merged = upsert_latest(
        base, updates, ["user_id", "event_type"], "ts", tiebreak=["value_c"]
    )
    return merged.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value_c",
    )


# =====================================================================
# decorrelated scalar subquery (TPC-H Q17 shape)
# =====================================================================


@query(
    "q17_small_qty_revenue",
    """
    WITH li AS (
      SELECT l_partkey,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_brand = 'Brand#12' AND p_size < 15)),
    avgq AS (
      SELECT l_partkey,
             CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM li GROUP BY l_partkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM(li.price_c) AS BIGINT) AS revenue_c,
           ROUND(CAST(SUM(li.price_c) AS DOUBLE) / 700.0, 4) AS avg_yearly
    FROM li JOIN avgq ON avgq.l_partkey = li.l_partkey
    WHERE li.qty_c * avgq.n * 5 < avgq.sum_qty_c
    """,
    extra=True,  # local-only: decorrelated-scalar-subquery surface
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of the part's average — the canonical CORRELATED scalar
    aggregate subquery, written DECORRELATED (per-part aggregate once,
    joined back) exactly as Catalyst's RewriteCorrelatedScalarSubquery
    would plan the subquery form. The brand/size part filter
    broadcast-semi-joins into BOTH lineitem scans before the per-part
    shuffle, so the heavy agg runs over the filtered fraction only.
    ``qty < avg/5`` is compared as exact integers cross-multiplied
    (qty_c * n * 5 < sum_qty_c): no float average, no rounding
    boundary. /700.0 = the Q17 avg-yearly convention (7 years) over
    cents."""
    part = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#12") & (F.col("p_size") < 15)
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey",
            "left_semi",
        )
        .select(
            "l_partkey",
            cents("l_quantity").alias("qty_c"),
            cents("l_extendedprice").alias("price_c"),
        )
    )
    avgq = li.groupBy("l_partkey").agg(
        F.sum("qty_c").alias("sum_qty_c"), F.count(F.lit(1)).alias("n")
    )
    small = li.join(avgq, "l_partkey").filter(
        F.col("qty_c") * F.col("n") * 5 < F.col("sum_qty_c")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.sum("price_c").alias("revenue_c"),
        F.round(F.sum("price_c").cast("double") / 700.0, 4).alias("avg_yearly"),
    )


# =====================================================================
# partition-pruned scan (hive-layout write + partition pruning)
# =====================================================================

_PART_DIRS: dict[tuple[str, str], str] = {}


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events written ONCE per (session, sf_dir) in hive layout
    partitioned by event_type — the physical layout a 100 TB corpus
    uses so per-type queries touch 1/|types| of the files. Keyed by
    applicationId like _BUCKETED (a stopped session's scratch must
    not leak into the next)."""
    from kg.io import scratch_dir

    key = (spark.sparkContext.applicationId, sf_dir)
    d = _PART_DIRS.get(key)
    if d is None:
        for k in [k for k in _PART_DIRS if k[0] != key[0]]:
            del _PART_DIRS[k]  # evict foreign applicationIds
        d = scratch_dir("part_events_")
        (
            T(spark, sf_dir, "events")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(d)
        )
        _PART_DIRS[key] = d
    return d


@query(
    "q_partition_pruned_scan",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    extra=True,  # local-only: partitioned-layout scan surface
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day purchase totals over the PARTITIONED layout: the
    event_type predicate resolves at PLANNING time against directory
    names (PartitionFilters in the scan node — asserted in
    scripts/audit_plans.py), so non-purchase files are never opened.
    The partition column comes back from the path, not the file,
    which is why the layout round-trips exactly."""
    ev = spark.read.parquet(_partitioned_events_dir(spark, sf_dir))
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("value")).alias("value_c"),
        )
    )


# =====================================================================
# group-having join-back (TPC-H Q18 shape)
# =====================================================================


@query(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty_c
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 30000)
    SELECT c.c_custkey,
           o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS totalprice_c,
           big.sum_qty_c
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    extra=True,  # local-only: group-having join-back surface
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate the FACT table
    first (one orderkey-keyed shuffle with map-side partial sums),
    filter with HAVING to the tiny qualifying set, then join BACK to
    orders and customer. At 100 TB the having-filtered aggregate is
    orders_with_300+_items-sized (a few per million), so it
    broadcasts into both dimension joins — the scan-heavy work
    happens exactly once, before any join. Quantities compared in
    exact integer cents (300 units = 30000)."""
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("sum_qty_c"))
        .filter(F.col("sum_qty_c") > 30000)
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(
            F.broadcast(big), o["o_orderkey"] == big["l_orderkey"]
        )
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            cents("o_totalprice").alias("totalprice_c"),
            "sum_qty_c",
        )
    )


# =====================================================================
# global scalar subquery + anti join (TPC-H Q22 shape)
# =====================================================================


@query(
    "q22_idle_rich_customers",
    """
    WITH pool AS (
      SELECT c_custkey,
             CAST(c_nationkey % 10 AS BIGINT) AS cntry,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)),
    avgpos AS (
      SELECT CAST(SUM(bal_c) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM pool WHERE bal_c > 0)
    SELECT pool.cntry,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(pool.bal_c) AS BIGINT) AS total_bal_c
    FROM pool, avgpos
    WHERE pool.bal_c * avgpos.n > avgpos.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = pool.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY pool.cntry
    """,
    extra=True,  # local-only: global-scalar-subquery + NOT EXISTS surface
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers in selected country codes whose
    balance beats the GLOBAL average of positive balances and who have
    placed no urgent order (this fixture gives every customer at least
    one order, so the reference Q22 no-orders-at-all predicate is
    empty here — the no-URGENT-orders variant keeps the identical NOT
    EXISTS -> left-anti decorrelation with a selective filter pushed
    into the anti side). The global average is a one-row aggregate
    broadcast into every partition (BroadcastNestedLoopJoin on a
    single row — free), and the comparison is exact-integer
    cross-multiplied (bal_c * n > s): no float average anywhere.
    Country code is c_nationkey % 10 (the fixture has no phone
    column; same cardinality role as Q22's cntrycode)."""
    pool = (
        T(spark, sf_dir, "customer")
        .filter((F.col("c_nationkey") % 10).isin(1, 2, 3, 4, 5))
        .select(
            "c_custkey",
            (F.col("c_nationkey") % 10).cast("long").alias("cntry"),
            cents("c_acctbal").alias("bal_c"),
        )
    )
    avgpos = pool.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    urgent = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        pool.join(urgent, "c_custkey", "left_anti")
        .join(F.broadcast(avgpos))
        .filter(F.col("bal_c") * F.col("n") > F.col("s"))
        .groupBy("cntry")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("bal_c").alias("total_bal_c"),
        )
    )


# =====================================================================
# correlated EXISTS with a non-equi condition (TPC-H Q4 shape)
# =====================================================================


@query(
    "q4_priority_exists",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority
    """,
    extra=True,  # local-only: non-equi correlated-EXISTS surface
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders in a six-month
    window with at least one lineitem shipped more than 90 days after
    the order date, counted per priority. The correlated EXISTS with a
    NON-equi inner condition decorrelates to a LEFT SEMI join whose
    condition mixes the orderkey equality with the cross-table date
    comparison — Catalyst keys the shuffle on the equality and
    evaluates the date predicate as a join residual, so this stays one
    fact-fact sort-merge semi (no fact is ever duplicated, unlike an
    inner-join + distinct rewrite). The fixture has no
    commit/receipt-date pair, so lateness is ship-vs-order date — the
    identical correlated shape. Day arithmetic is whole-day INTERVAL
    on midnight timestamps: the same integer granularity on both
    sides (the r5 truncation lesson)."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (
                li["l_shipdate"]
                > o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# =====================================================================
# conditional-aggregate ratio (TPC-H Q14 shape)
# =====================================================================


@query(
    "q14_promo_revenue",
    """
    WITH li AS (
      SELECT l_partkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate <  TIMESTAMP '1996-06-01')
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN li.rev_c
                         ELSE 0 END) AS BIGINT) AS promo_rev_c,
           CAST(SUM(li.rev_c) AS BIGINT) AS total_rev_c,
           ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                       THEN li.rev_c ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(li.rev_c) AS DOUBLE), 4) AS promo_pct
    FROM li JOIN part p ON p.p_partkey = li.l_partkey
    """,
    extra=True,  # local-only: conditional-aggregate ratio surface
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the share of one quarter's
    revenue that came from PROMO parts, as a conditional aggregate
    over the lineitem-part join — one broadcast hash join (part is
    dimension-sized at every SF: ~2M rows at SF100, well under the
    broadcast bar), one partial+final agg, zero shuffle of the fact
    beyond the agg's single-row combine. Revenue is exact integer
    price_c x (100 - disc_c) — the discounted price in
    ten-thousandths, so the CASE/SUM arithmetic never touches floats;
    only the final percentage divides (identical IEEE expression both
    sides, ROUND 4). The fixture's p_type is the bare promo tier word,
    so the reference's LIKE 'PROMO%%' is equality here."""
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-03-01")
            & (F.col("l_shipdate") < "1996-06-01")
        )
        .select(
            "l_partkey",
            (cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
                "rev_c"
            ),
        )
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"]
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("rev_c")).otherwise(F.lit(0))
    )
    total = F.sum("rev_c")
    return j.agg(
        promo.alias("promo_rev_c"),
        total.alias("total_rev_c"),
        F.round(
            F.lit(100.0) * promo.cast("double") / total.cast("double"), 4
        ).alias("promo_pct"),
    )


# =====================================================================
# disjunctive multi-column join predicate (TPC-H Q19 shape)
# =====================================================================


@query(
    "q19_disjunctive_revenue",
    """
    WITH li AS (
      SELECT l_partkey,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev_c
      FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(li.rev_c) AS BIGINT) AS revenue_c
    FROM li JOIN part p ON p.p_partkey = li.l_partkey
    WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 10
           AND li.qty_c BETWEEN 100 AND 2000)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 5 AND 25
           AND li.qty_c BETWEEN 1000 AND 3000)
       OR (p.p_type = 'ECONOMY' AND p.p_size BETWEEN 1 AND 15
           AND li.qty_c BETWEEN 2500 AND 5000)
    """,
    extra=True,  # local-only: disjunctive join-predicate surface
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR of three AND-groups
    that each mix part-side attributes (brand/type/size) with a
    fact-side quantity band — the canonical disjunctive join
    predicate. The join itself is a broadcast hash join on partkey;
    the disjunction is a single whole-stage-codegen'd residual filter
    on the joined row (no fan-out, no second scan — the naive
    per-branch UNION rewrite would scan the fact three times).
    Catalyst's CNF conversion can push the OR of part-only conjuncts
    to the build side; correctness never depends on it, since the
    residual re-checks the full disjunction. All band comparisons are
    exact integer cents."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_quantity").alias("qty_c"),
        (cents("l_extendedprice") * (100 - cents("l_discount"))).alias(
            "rev_c"
        ),
    )
    p = T(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    b1 = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 10)
        & F.col("qty_c").between(100, 2000)
    )
    b2 = (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(5, 25)
        & F.col("qty_c").between(1000, 3000)
    )
    b3 = (
        (F.col("p_type") == "ECONOMY")
        & F.col("p_size").between(1, 15)
        & F.col("qty_c").between(2500, 5000)
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(b1 | b2 | b3)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_c").alias("revenue_c"),
        )
    )


# =====================================================================
# double-correlated EXISTS + NOT EXISTS (TPC-H Q21 shape)
# =====================================================================


@query(
    "q21_waiting_supplier",
    """
    WITH lo AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
    SELECT s.s_suppkey,
           s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lo l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lo l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >
                            l3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s.s_suppkey, s.s_name
    """,
    extra=True,  # local-only: double-correlated EXISTS/NOT-EXISTS surface
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per
    supplier, the late lineitems on multi-supplier orders where that
    supplier was the ONLY late one. The oracle states it as the
    reference's double-correlated EXISTS + NOT EXISTS; the engine
    decorrelates BOTH subqueries in a SINGLE pass with no self-join
    at all: aggregate the fact join once to (order, supplier) grain
    (n_late = that supplier's late rows on that order), then a window
    over l_orderkey derives both correlated facts on the aggregated
    table — n_supp = count over the order (EXISTS other supplier <=>
    >= 2) and n_late_supp = count of suppliers with n_late > 0 (NOT
    EXISTS other LATE supplier, given this one is late, <=> = 1);
    numwait = sum of n_late over qualifying rows, preserving the
    correlated form's row-level count. Every subtree is consumed
    once — the aggregate-once-join-back alternative plans the
    fact⋈orders join TWICE (measured: 10 parquet scans vs 3 here;
    Spark's ReuseExchange does not canonicalize the two references
    together). The window partitions by an order key the preceding
    aggregation already hashed on a superset of, and order×supplier
    rows are ~4x smaller than lineitem, so the window exchange is
    cheap; the supplier dim joins broadcast. Lateness = shipped >90
    days after order date (whole-day INTERVAL on midnight timestamps,
    same granularity both sides)."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    os_grain = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).cast("long")
            ).alias("n_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    prof = os_grain.select(
        "l_suppkey",
        "n_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum((F.col("n_late") > 0).cast("long")).over(w).alias("n_late_supp"),
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        prof.filter(
            (F.col("n_late") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum("n_late").alias("numwait"))
    )


# =====================================================================
# semi-join on an aggregate-threshold set (TPC-H Q20 shape)
# =====================================================================


@query(
    "q20_dominant_supplier",
    """
    WITH li AS (
      SELECT l_partkey, l_suppkey,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-07-01'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_type = 'ECONOMY'))
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM li l
      GROUP BY l.l_partkey, l.l_suppkey
      HAVING SUM(l.qc) * 2 > (SELECT SUM(l2.qc) FROM li l2
                              WHERE l2.l_partkey = l.l_partkey)
         AND EXISTS (SELECT 1 FROM li l3
                     WHERE l3.l_partkey = l.l_partkey
                       AND l3.l_suppkey <> l.l_suppkey))
    """,
    extra=True,  # local-only: aggregate-threshold semi-join surface
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (qualified-supplier semi-join): suppliers that
    shipped MORE THAN HALF of some contested (multi-supplier) ECONOMY
    part's half-year volume — membership in a set defined by a HAVING
    whose threshold is itself a correlated aggregate. The oracle
    states the reference's nested form (IN + correlated scalar
    subquery in the HAVING + EXISTS); the engine single-passes it the
    same way as Q21: one (part, supplier)-grain aggregate of the
    filtered fact, a window over the part key for the part total and
    the contested-part count (both correlated subqueries, no
    self-join, every subtree consumed once), then the qualifying
    supplier ids feed a LEFT SEMI join into the supplier dim — the
    100 TB shape keeps the dim probe at distinct-qualifier size, not
    fact size. Domination is exact-integer cross-multiplied
    (q * 2 > total); the fixture has no partsupp/availqty, so the
    reference's available-vs-shipped ratio becomes shipped-share —
    the identical nesting with the tables on hand."""
    eco = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1997-07-01")
        )
        .join(F.broadcast(eco), "l_partkey", "left_semi")
        .select("l_partkey", "l_suppkey", cents("l_quantity").alias("qc"))
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("qc").alias("q"))
    w = Window.partitionBy("l_partkey")
    qualified = (
        ps.select(
            "l_suppkey",
            "q",
            F.sum("q").over(w).alias("t"),
            F.count(F.lit(1)).over(w).alias("ns"),
        )
        .filter((F.col("ns") >= 2) & (F.col("q") * 2 > F.col("t")))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        T(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .join(qualified, "s_suppkey", "left_semi")
    )


# =====================================================================
# global argmax with ties (TPC-H Q15 shape)
# =====================================================================


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS total_rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey),
    mx AS (SELECT MAX(total_rev_c) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_rev_c
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey, mx
    WHERE r.total_rev_c = mx.m
    """,
    extra=True,  # local-only: global argmax-with-ties surface
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) whose quarterly
    revenue EQUALS the global maximum — argmax with ties, the shape
    the reference writes as a view + `WHERE total = (SELECT MAX ...)`.
    NOT a sort-limit: LIMIT 1 silently drops ties and a global sort
    pays a full exchange for one row. Instead the per-supplier
    aggregate (one supplier-keyed shuffle with map-side partials —
    supplier cardinality, not fact cardinality) feeds a ONE-ROW max
    aggregate broadcast back over itself (BroadcastNestedLoopJoin on
    a single row, the q22 trick), keeping every tied supplier.
    Revenue is exact integer price_c x (100 - disc_c), so the
    equality compare has no float boundary; the supplier dim
    broadcasts for the name join."""
    rev = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                cents("l_extendedprice") * (100 - cents("l_discount"))
            ).alias("total_rev_c")
        )
    )
    mx = rev.agg(F.max("total_rev_c").alias("m"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev_c") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_c")
    )


# =====================================================================
# bloom-filter runtime join pruning
# =====================================================================

BLOOM_BITS = 65536  # default sizing: ~0.1% fill at dim sizes here
BLOOM_K = 3
# 63-bit words: DuckDB's BIGINT << raises on the sign bit (1 << 63
# overflows) while Spark wraps silently, so bit 63 is the one word
# position the two engines disagree on — keep bits 0..62 only
_BLOOM_WORD = 63


def _bloom_pos(key_col, j: int, bits: int):
    from kg.dedup import _neutral_hash64

    return F.pmod(
        _neutral_hash64(F.concat(F.lit(f"{j}:"), key_col.cast("string"))),
        F.lit(bits),
    )


def bloom_prune_semi_join(
    spark: SparkSession, sf_dir: str, bits: int = BLOOM_BITS
) -> DataFrame:
    """Runtime bloom-filter join pruning — the pattern that cuts a
    100 TB fact-dim join's shuffle volume: build a ``bits``-wide
    bitmap from the filtered dim keys (distributed bit_or into
    bits/63 words; only the BITMAP is collected, never the keys),
    embed it as a literal map in the probe plan, and filter the fact
    side MAP-ONLY (all K bit tests inline in the scan stage — no
    join, no shuffle) before the exact verification join. The exact
    join then runs over the bloom survivors only; its result is
    identical with or without the bloom (one-sided filter), which the
    n_true/n_false accounting makes visible. Word size is 63 bits —
    see _BLOOM_WORD. OSS Spark's own runtime bloom
    (spark.sql.optimizer.runtimeFilter.bloomFilter) is a black-box
    JVM hash; this construction is engine-neutral md5 end-to-end, so
    bitmap words, survivor set and counters re-derive exactly in the
    DuckDB oracle."""
    dimk = (
        T(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") >= 40))
        .select("p_partkey")
    )
    posed = dimk.select(
        F.explode(
            F.array(
                *[_bloom_pos(F.col("p_partkey"), j, bits) for j in range(BLOOM_K)]
            )
        ).alias("pos")
    )
    bm_rows = (
        posed.select(
            (F.col("pos") - F.pmod("pos", F.lit(_BLOOM_WORD)))
            .cast("long")
            .alias("_n"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))").alias(
                "bit"
            ),
        )
        .select((F.col("_n") / _BLOOM_WORD).cast("long").alias("bucket"), "bit")
        .groupBy("bucket")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .collect()
    )
    bm = {r["bucket"]: r["bits"] for r in bm_rows}
    probe = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        cents("l_extendedprice").alias("price_c"),
    )
    if bm:
        map_lit = F.create_map(
            *[
                x
                for b in sorted(bm)
                for x in (F.lit(b).cast("long"), F.lit(bm[b]).cast("long"))
            ]
        )
        # each hash position is computed ONCE as a named column; word
        # lookup and bit test both reference it (no duplicated md5)
        posed = probe
        for j in range(BLOOM_K):
            posed = posed.withColumn(
                f"_pos{j}", _bloom_pos(F.col("l_partkey"), j, bits)
            )
        cond = F.lit(True)
        for j in range(BLOOM_K):
            pos = F.col(f"_pos{j}")
            word = F.coalesce(
                F.element_at(
                    map_lit,
                    ((pos - F.pmod(pos, F.lit(_BLOOM_WORD))) / _BLOOM_WORD)
                    .cast("long"),
                ),
                F.lit(0),
            ).cast("long")
            bit = F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(_pos{j} % {_BLOOM_WORD} AS INT))"
            )
            cond = cond & (word.bitwiseAND(bit) != 0)
        survivors = posed.filter(cond).drop(
            *[f"_pos{j}" for j in range(BLOOM_K)]
        )
    else:
        survivors = probe.filter(F.lit(False))
    joined = survivors.join(
        F.broadcast(dimk.withColumnRenamed("p_partkey", "l_partkey").withColumn("_m", F.lit(1))),
        "l_partkey",
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.sum(F.when(F.col("_m").isNotNull(), 1).otherwise(0)).alias("n_true_match"),
        F.sum(F.when(F.col("_m").isNull(), 1).otherwise(0)).alias("n_false_pos"),
        F.sum(F.when(F.col("_m").isNotNull(), F.col("price_c")).otherwise(0)).alias(
            "revenue_c"
        ),
    )


def _bloom_oracle_sql(bits: int = BLOOM_BITS) -> str:
    js = ", ".join(f"({j})" for j in range(BLOOM_K))
    return f"""
    WITH js(j) AS (VALUES {js}),
    dimk AS (SELECT p_partkey FROM part
             WHERE p_brand = 'Brand#23' AND p_size >= 40),
    pos AS (
      SELECT (('0x' || substr(md5(js.j::VARCHAR || ':' ||
                 dimk.p_partkey::VARCHAR), 1, 15))::BIGINT % {bits}) AS pos
      FROM dimk CROSS JOIN js),
    bm AS (
      SELECT pos // {_BLOOM_WORD} AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INT))
               AS bits
      FROM pos GROUP BY 1),
    probe AS (
      SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem),
    pj AS (
      SELECT p.*, js.j,
             (('0x' || substr(md5(js.j::VARCHAR || ':' ||
                p.l_partkey::VARCHAR), 1, 15))::BIGINT % {bits}) AS pos
      FROM probe p CROSS JOIN js),
    hit AS (
      SELECT pj.l_orderkey, pj.l_linenumber, pj.l_partkey, pj.price_c,
             CASE WHEN (bm.bits & (CAST(1 AS BIGINT)
                        << CAST(pj.pos % {_BLOOM_WORD} AS INT))) <> 0
                  THEN 1 ELSE 0 END AS ok
      FROM pj LEFT JOIN bm ON bm.bucket = pj.pos // {_BLOOM_WORD}),
    passed AS (
      SELECT l_orderkey, l_linenumber, l_partkey, MIN(price_c) AS price_c
      FROM hit GROUP BY 1, 2, 3 HAVING SUM(ok) = {BLOOM_K})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN d.p_partkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_match,
           CAST(SUM(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN d.p_partkey IS NOT NULL THEN passed.price_c
                         ELSE 0 END) AS BIGINT) AS revenue_c
    FROM passed LEFT JOIN dimk d ON d.p_partkey = passed.l_partkey
    """


@query("q_bloom_prune_join", _bloom_oracle_sql(), extra=True)
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_prune_semi_join(spark, sf_dir)


# =====================================================================
# time-based RANGE window frame + SCD-2 validity intervals
# =====================================================================


@query(
    "q_window_range_frame",
    """
    SELECT event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS sum_c_1h
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    extra=True,  # local-only: time-based RANGE frame surface
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour moving aggregate per user — a RANGE window
    frame over EVENT TIME, not row offsets (every other window query
    here uses ROWS frames; the two differ whenever inter-event gaps
    are irregular, which real event streams always are). Spark takes
    the frame in the orderBy column's units, so ts casts to epoch
    seconds (NTZ -> timestamp -> long; the container session tz is
    UTC, so the reinterpretation is the identity) and the frame is
    [-3600, 0]. The ORACLE orders by the SAME truncated-seconds key
    (floor(epoch(ts)), numeric RANGE 3600) rather than the
    full-precision INTERVAL form: Spark's long cast floors
    sub-second timestamps, so an interval-precision oracle diverges
    whenever a same-user pair straddles the hour boundary by under a
    second — measured at sf0.1 (event 45055: n_1h 1 vs 2); defining
    both sides on the truncated key makes the frames equal by
    construction at every scale, and RANGE frames include ALL ties
    of the order key on both engines. One
    user-keyed shuffle; each partition sorts locally — the standard
    time-series rollup shape at any scale."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return T(spark, sf_dir, "events").select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(cents("value")).over(w).alias("sum_c_1h"),
    )


@query(
    "q_scd2_intervals",
    """
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           COALESCE(strftime(
             lead(ts) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id),
             '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
           CAST(ROUND(value * 100) AS BIGINT) AS value_c
    FROM events
    """,
    extra=True,  # local-only: SCD-2 interval derivation surface
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity intervals from a change stream: each
    (user, event_type) version is valid from its own timestamp until
    the next version's (lead over the key, 'current' for the open
    row) — the warehouse pattern that turns an append-only change log
    into an as-of-queryable dimension (q_upsert_latest is the SCD-1
    keep-last half of the same problem). The orderBy includes
    event_id as defensive determinism: the fixture happens to have
    no (key, ts) ties today, but an underspecified lead order is
    engine-dependent the day one appears."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return T(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss"),
            F.lit("current"),
        ).alias("valid_to"),
        cents("value").alias("value_c"),
    )


# =====================================================================
# two-phase salted aggregation (skew-safe groupBy)
# =====================================================================

SALT_BUCKETS = 8


@query(
    "q_skew_salted_agg",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
    FROM events GROUP BY user_id
    """,
    extra=True,  # local-only: skew-salted aggregation surface
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the skew-safe groupBy: phase 1
    aggregates on (key, salt) so a hot key's rows spread over
    SALT_BUCKETS reducers instead of melting one; phase 2 merges the
    per-salt partials on the key alone, shuffling at most
    SALT_BUCKETS rows per key. The salt is xxhash64 of the row id
    (deterministic, uniform) and cancels out of the result — which is
    why the oracle is the PLAIN GROUP BY: salting is a physical
    rewrite with no logical trace, and the exact match proves it.
    This is the query-shaped twin of the pipeline's X1
    salt_repartition (kg/pipeline.py), driver-visible; count and
    cents-sum both re-merge losslessly (sum-of-sums, sum-of-counts).
    AQE's skewedJoin/skewedPartition handling covers the JOIN case at
    runtime; a skewed AGGREGATION still needs this manual rewrite."""
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        cents("value").alias("value_c"),
        F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).alias("_salt"),
    )
    partial = ev.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("value_c").alias("pv")
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n"), F.sum("pv").alias("value_c")
    )


@query(
    "q_skew_salted_join",
    """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS value_c
    FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY n.n_name
    """,
    extra=True,  # local-only: skew-salted join surface
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted shuffle join — the skew-safe fact-dim join when
    neither broadcast nor AQE applies: the fact side carries a
    deterministic xxhash64 row salt, the dim side replicates once per
    salt bucket (dim x SALT_BUCKETS rows — dims are small, the
    replication is cheap), and the join keys on (key, salt) so a hot
    key's rows spread over SALT_BUCKETS reducers instead of melting
    one. The salt cancels (every fact row matches exactly its own
    salt's dim copy), so the oracle is the PLAIN join + GROUP BY.

    When to use which (measured in scripts/skew_ab.py, artifact in
    BENCH/BASELINE.md): broadcast the dim if it fits (kills the
    shuffle entirely); else AQE skewJoin splits oversized partitions
    at runtime for plain shuffle joins — prefer it, zero code; manual
    salting remains for the cases AQE cannot see: skewed
    AGGREGATIONS (q_skew_salted_agg), skew under bucketed/co-located
    joins where AQE would have to break the bucketing, and engines/
    paths with AQE off. The merge hint forces the shuffle join at
    test scale (auto-broadcast would erase the pattern — same trick
    as q_bucketed_join)."""
    ev = T(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).alias("k"),
        cents("value").alias("value_c"),
        F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).alias("_salt"),
    )
    dim = (
        T(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("k"), "n_name")
        .withColumn(
            "_salt",
            F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])),
        )
    )
    return (
        ev.join(dim.hint("merge"), ["k", "_salt"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_c").alias("value_c"),
        )
    )


# =====================================================================
# fuzzy match by edit distance (map-only top-k)
# =====================================================================

FUZZY_PROBE = "smal gizmmo"  # misspelled "small gizmo"
FUZZY_K = 10


@query(
    "q_fuzzy_match_topk",
    f"""
    SELECT p_name,
           CAST(levenshtein(p_name, '{FUZZY_PROBE}') AS BIGINT) AS dist
    FROM part
    ORDER BY dist, p_name LIMIT {FUZZY_K}
    """,
    extra=True,  # local-only: edit-distance fuzzy-match surface
)
def q_fuzzy_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closest part names to a misspelled probe by Levenshtein
    distance — the fuzzy-lookup shape (catalog search, entity-alias
    fallback when the exact gazetteer misses). Edit distance is a
    well-defined integer, so Spark's and DuckDB's implementations
    agree cell-for-cell and the query is exactly checkable; ties
    break on the name. Map-only over the dimension + global
    TakeOrderedAndProject: no join, no shuffle beyond the k-row
    gather — at any catalog size the cost is one scan. (Corpus-scale
    fuzzy DEDUP stays with the blocked MinHash/SimHash families —
    pairwise levenshtein does not scale; this is the point-lookup
    complement.)"""
    return (
        T(spark, sf_dir, "part")
        .select(
            "p_name",
            F.levenshtein(F.col("p_name"), F.lit(FUZZY_PROBE))
            .cast("long")
            .alias("dist"),
        )
        .orderBy("dist", "p_name")
        .limit(FUZZY_K)
    )
