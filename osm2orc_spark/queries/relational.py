"""Relational operator corpus (SURVEY.md §2C) over the driver's TPC-H-ish
tables.

Each query exercises one or more reference operators (C1-C26, cited per
query) re-expressed as idiomatic DataFrame/SQL plans. Every aggregate /
computed column is aliased identically in the Spark plan and the DuckDB
oracle.

Determinism rules (see registry.py): DECIMAL-exact money math, total-order
tie-breaks, no raw double aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from osm2orc_spark.registry import register
from osm2orc_spark.tables import load

DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(DEC)


# ---------------------------------------------------------------------------
# C13/C14/C15 hash aggregation + scalar arithmetic — TPC-H Q1 shape.
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Pricing summary: groupBy + 8 aggregates (C13,C14,C15). Partial "
    "aggregation is map-side (Catalyst HashAggregate partial/final), so the "
    "shuffle carries one row per (flag,status) per task — scale-safe.",
    tags=("relational", "agg"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# C9 equi join + C13 agg + C18 order + top-k — TPC-H Q3 shape.
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="Join customer⋈orders⋈lineitem + agg + deterministic top-10 "
    "(C9,C13,C18). Customer side is filtered before the join so AQE can "
    "flip it to broadcast-hash at runtime; tie-break on o_orderkey makes "
    "LIMIT deterministic.",
    tags=("relational", "join"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# C9/C10 multi-way join through a star schema — TPC-H Q5 shape.
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="Five-way star join with a composite (suppkey, nationkey) condition "
    "(C9,C10,C13). nation/region are broadcast (bounded dimensions at every "
    "scale factor); fact-fact joins shuffle on their keys.",
    tags=("relational", "join"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# C4 BETWEEN range filter — TPC-H Q6 shape (reference bbox filter analog,
# README.md:99-100,238-241).
# ---------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Conjunctive BETWEEN range filters + global agg (C4). All predicates "
    "push down to the parquet scan (PushedFilters); the agg is a single "
    "partial/final reduction — no wide shuffle.",
    tags=("relational", "filter"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# C6 LIKE prefix filter (README.md:230 `created_by LIKE 'JOSM%'` analog).
# ---------------------------------------------------------------------------
@register(
    "filter_like_prefix",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE p_type LIKE 'PROMO%'
    GROUP BY p_brand
    """,
    doc="LIKE-prefix filter + count by group (C6,C14). StartsWith is pushed "
    "to the parquet reader as a scan predicate.",
    tags=("relational", "filter"),
)
def filter_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type").like("PROMO%"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# C8 lateral explode WITH ORDINALITY (README.md:108 CROSS JOIN UNNEST ...
# WITH ORDINALITY). posexplode is 0-based; Presto ordinality is 1-based.
# ---------------------------------------------------------------------------
@register(
    "explode_with_ordinality",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS idx,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 100
    """,
    doc="Lateral array explode with 1-based ordinality (C8,C12): "
    "posexplode(split(text)) + idx+1, matching Presto UNNEST WITH "
    "ORDINALITY semantics. Narrow per-row generate — no shuffle.",
    tags=("relational", "explode"),
)
def explode_with_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).select("doc_id", (F.col("pos") + 1).cast("bigint").alias("idx"), "word")


# ---------------------------------------------------------------------------
# C11 self-join against derived MAX aggregate (README.md:164-175).
# ---------------------------------------------------------------------------
@register(
    "latest_event_agg_join",
    oracle="""
    SELECT e.user_id, e.event_id, e.event_type, e.value, e.ts
    FROM events e
    JOIN (SELECT user_id, MAX(ts) AS ts FROM events GROUP BY user_id) m
      ON e.user_id = m.user_id AND e.ts = m.ts
    """,
    doc="Latest-version-per-key via self-join against a derived MAX "
    "aggregate (C11,C15,C24) — the README's planet_history latest-version "
    "idiom. Both sides shuffle on user_id; AQE coalesces post-shuffle.",
    tags=("relational", "join"),
)
def latest_event_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(F.max("ts").alias("ts"))
    return ev.join(latest, ["user_id", "ts"]).select(
        "user_id", "event_id", "event_type", "value", "ts"
    )


# ---------------------------------------------------------------------------
# C11-alt: same semantics as a window row_number (the idiomatic Spark form —
# one shuffle instead of two).
# ---------------------------------------------------------------------------
@register(
    "latest_event_window",
    oracle="""
    SELECT user_id, event_id, event_type, ts
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="Latest-per-key via Window row_number (C25, C11-alt): single "
    "shuffle on the partition key vs. the agg-join's two. Deterministic "
    "via event_id tie-break.",
    tags=("relational", "window"),
)
def latest_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts")
    )


# ---------------------------------------------------------------------------
# C10 composite-key self join (README.md:172-175 three-column join key).
# ---------------------------------------------------------------------------
@register(
    "composite_key_self_join",
    oracle="""
    SELECT a.l_returnflag, COUNT(*) AS n_pairs
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey
     AND a.l_partkey = b.l_partkey
     AND a.l_suppkey = b.l_suppkey
     AND a.l_linenumber < b.l_linenumber
    GROUP BY a.l_returnflag
    """,
    doc="Self-join on a 3-column composite key with an inequality residual "
    "(C10). Equi-keys drive the shuffle; the < residual is a post-join "
    "filter, so the plan stays a hash/sort-merge join, not a cartesian.",
    tags=("relational", "join"),
)
def composite_key_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(F.col("a.l_returnflag").alias("l_returnflag"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# C20 UNION ALL + C23 string literal column (README.md:132-139).
# ---------------------------------------------------------------------------
@register(
    "union_all_literals",
    oracle="""
    SELECT c_name AS name, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS kind FROM supplier
    """,
    doc="UNION ALL bag semantics with a literal discriminator column "
    "(C20,C23) — the README nodes∪ways shape. unionByName, no shuffle.",
    tags=("relational", "setop"),
)
def union_all_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return cust.unionByName(supp)


# ---------------------------------------------------------------------------
# C19 ORDER BY CASE expression (README.md:177-184).
# ---------------------------------------------------------------------------
@register(
    "order_by_case_precedence",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY CASE event_type
               WHEN 'view' THEN 1 WHEN 'click' THEN 2 WHEN 'signup' THEN 3
               WHEN 'purchase' THEN 4 ELSE 5 END,
             event_type
    """,
    doc="ORDER BY CASE custom precedence (C19) — the README "
    "node<way<relation ordering re-expressed over event types.",
    tags=("relational", "sort"),
)
def order_by_case_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    prec = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "purchase", 4)
        .otherwise(5)
    )
    return (
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy(prec, "event_type")
    )


# ---------------------------------------------------------------------------
# C21 date_trunc monthly rollup (README.md:151-155 tracktype-by-month).
# ---------------------------------------------------------------------------
@register(
    "monthly_event_stats",
    oracle="""
    SELECT date_trunc('month', ts) AS month,
           event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY date_trunc('month', ts), event_type
    ORDER BY month, event_type
    """,
    doc="date_trunc monthly bucketing + count/count-distinct/min/max "
    "(C13,C14,C21). min/max over doubles are order-independent (no fp-sum "
    "nondeterminism).",
    tags=("relational", "agg"),
)
def monthly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("month", "ts").alias("month"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("month", "event_type")
    )


# ---------------------------------------------------------------------------
# C16 arbitrary() + C17 order-stable array_agg (README.md:122-129).
# collect_list does NOT honor a prior ORDER BY reliably -> array_sort.
# ---------------------------------------------------------------------------
@register(
    "array_agg_sorted_lines",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ',') AS line_numbers,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
    doc="Order-stable array_agg per group (C17): array_sort(collect_list) "
    "then stringified — the README coordinates-per-way reassembly idiom, "
    "made deterministic regardless of partition arrival order.",
    tags=("relational", "agg"),
)
def array_agg_sorted_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("l_linenumber").cast("string")))
        ).alias("line_numbers"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# C25 window lag — tag-addition detection idiom (README.md:158-159).
# ---------------------------------------------------------------------------
@register(
    "window_lag_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS curr_type, COUNT(*) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    doc="Window lag + transition matrix (C25) — the README's "
    "'count tag additions, not edits' window idiom. One shuffle on "
    "user_id serves both the window and the downstream agg. Hot keys "
    "auto-route to the proven-identical chunked lag (r8 verdict #1; "
    "measured 5.9x hot-user blow-up in xl_event_windows): bounded hot "
    "sets split HYBRID at the lag frame — hot keys chunked, the rest "
    "windowed, one global count over the union.",
    tags=("relational", "window"),
)
def window_lag_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    lagged = lag_type_frame(spark, sf_dir)
    return (
        lagged.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def lag_type_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user-stream lag) rows ``(prev_type, event_type)`` for every
    event, computed by the picked window strategy — shared by
    window_lag_transitions and sequences.event_transitions (identical
    lag, different output aliases/ordering).  The per-row lag is
    key-local, so the hybrid union is exact at the FRAME level and any
    downstream aggregate over it is exact too."""
    from osm2orc_spark.operators import switches
    from osm2orc_spark.operators.chunked import DEFAULT_CHUNK_MS, chunked_prev

    strategy, hot = switches.window_strategy(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")

    def _window_lag(df: DataFrame) -> DataFrame:
        return df.select(
            F.lag("event_type").over(w).alias("prev_type"), "event_type"
        )

    def _chunked_lag(df: DataFrame) -> DataFrame:
        # burst-adaptive width: a key emitting HOT_KEY_ROWS+ rows inside
        # one default chunk still serializes that chunk; the probe
        # shrinks the width until the peak occupancy fits (cost-only —
        # output is width-invariant, property-tested).
        cm = switches.burst_chunk_ms(spark, sf_dir, DEFAULT_CHUNK_MS)
        return chunked_prev(
            df, "user_id", ["event_type"], ("ts", "event_id"), cm
        ).select(F.col("prev_event_type").alias("prev_type"), "event_type")

    if strategy == "window":
        return _window_lag(ev)
    if strategy == "chunked":
        return _window_lag(ev.filter(F.col("user_id").isNull())).unionByName(
            _chunked_lag(ev.filter(F.col("user_id").isNotNull()))
        )
    return _window_lag(ev.filter(switches.cold_pred("user_id", hot))).unionByName(
        _chunked_lag(ev.filter(switches.hot_pred("user_id", hot)))
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (SURVEY §2C coverage note: free Spark builtins).
# ---------------------------------------------------------------------------
@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (NOT EXISTS). At scale this is a shuffle on the "
    "key with early elimination — no full materialization of the right side.",
    tags=("relational", "join"),
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "semi_join_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    doc="Left-semi join (EXISTS) with a pushed filter on the probe side.",
    tags=("relational", "join"),
)
def semi_join_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    open_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(
        open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Rollup (SURVEY §2C: grouping-set family, free builtin).
# ---------------------------------------------------------------------------
@register(
    "rollup_region_nation_customers",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP hierarchy totals over broadcast dimension joins. The "
    "rollup expands map-side; only pre-aggregated rows shuffle.",
    tags=("relational", "agg"),
)
def rollup_region_nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Pivot (fixed category list so both engines enumerate identical columns).
# ---------------------------------------------------------------------------
@register(
    "pivot_returnflag_by_status",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot with an explicit category list (no extra distinct pass; "
    "deterministic output schema at any scale).",
    tags=("relational", "agg"),
)
def pivot_returnflag_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
    )
    return piv.select(
        "l_returnflag", F.col("F").alias("qty_F"), F.col("O").alias("qty_O")
    )


# ---------------------------------------------------------------------------
# C5-analog: JSON property extraction (events.props is a JSON string).
# regexp_extract is used on both engines (no JSON-extension dependency).
# ---------------------------------------------------------------------------
@register(
    "json_prop_extraction",
    oracle="""
    SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    doc="Semi-structured property extraction + bucketing (C5 analog: map "
    "subscripting over serialized props). Regexp stays in whole-stage "
    "codegen; no Python UDF.",
    tags=("relational", "scalar"),
)
def json_prop_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": (\\d+)', 1).cast("bigint")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# C1 CTE chain via spark.sql (README.md:79-131 five-CTE reassembly shape).
# ---------------------------------------------------------------------------
_CTE_SQL = """
WITH big_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice
  FROM orders
  WHERE o_totalprice > 50000
),
items AS (
  SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
),
joined AS (
  SELECT b.o_orderkey, b.o_custkey, i.l_partkey, i.l_quantity
  FROM big_orders b
  JOIN items i ON i.l_orderkey = b.o_orderkey
)
SELECT o_orderkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM joined
GROUP BY o_orderkey
"""


@register(
    "cte_chain_order_items",
    oracle=_CTE_SQL,
    doc="Multi-CTE chain via spark.sql (C1,C2,C24) — Catalyst inlines the "
    "CTEs and pushes o_totalprice down to the orders scan. Same ANSI text "
    "runs on both engines by construction.",
    tags=("relational", "sql"),
)
def cte_chain_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.tables import register_views

    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_CTE_SQL)


# ---------------------------------------------------------------------------
# Top-K per group (window rank) — common OLAP pattern.
# ---------------------------------------------------------------------------
@register(
    "top3_items_per_supplier",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY l_suppkey
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
    """,
    doc="Top-K per group via window row_number with total-order tie-break. "
    "Single shuffle on the group key; no global sort.",
    tags=("relational", "window"),
)
def top3_items_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# Sessionization — lag + cumulative sum windows (events stream table).
# Gap computed in epoch milliseconds (bigint) for cross-engine determinism.
# ---------------------------------------------------------------------------
@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > 1800000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Sessionization: lag-gap detection (30 min) + running-sum session "
    "ids + per-session agg. All three steps share one hash partitioning "
    "on user_id — one shuffle total. Hot keys auto-route to the proven-"
    "identical split-and-stitch spelling (r8 verdict #1): a memoized "
    "probe lists keys over HOT_KEY_ROWS; with a bounded hot set the plan "
    "is a HYBRID — hot keys chunked, everyone else on the window plan, "
    "union (exact: per-key windows compute independently on disjoint "
    "key sets) — so only the straggler keys pay the chunked premium.",
    tags=("relational", "window"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    strategy, hot = switches.window_strategy(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    if strategy == "window":
        return _sessionize_window(ev)
    if strategy == "chunked":
        # NULL keys stay on the window plan (chunked stitch joins need
        # non-null keys; see switches.window_strategy).
        return _sessionize_window(
            ev.filter(F.col("user_id").isNull())
        ).unionByName(
            sessionize_events_chunked(
                spark, sf_dir, ev=ev.filter(F.col("user_id").isNotNull())
            )
        )
    return _sessionize_window(
        ev.filter(switches.cold_pred("user_id", hot))
    ).unionByName(
        sessionize_events_chunked(
            spark, sf_dir, ev=ev.filter(switches.hot_pred("user_id", hot))
        )
    )


def _sessionize_window(ev: DataFrame) -> DataFrame:
    """The single-exchange window spelling of sessionization (the r8
    registered plan, now parameterized over its input for the hybrid
    split)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (ms - F.lag(ms).over(w) > 1800000) | F.lag("ts").over(w).isNull(), 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


SESSION_GAP_MS = 1_800_000  # the registered query's 30-minute gap rule
SESSION_CHUNK_MS = 3_600_000  # split-and-stitch time-range width (1 h)


def sessionize_events_chunked(
    spark: SparkSession,
    sf_dir: str,
    chunk_ms: int | None = None,
    ev: DataFrame | None = None,
) -> DataFrame:
    """Split-and-stitch sessionization — output PROVEN identical to the
    registered ``sessionize_events`` (r7 verdict #1), with the hot-user
    straggler bounded.

    The registered plan runs each user's ENTIRE event stream through one
    WindowExec task (lag + running sum over PARTITION BY user_id); a bot
    or service account with 10^8-10^9 events at 100 TB puts its whole
    history through one unsplittable sort+spill while the cluster idles
    (measured 5.6x on the 2x10^6-row xl_hot twin).  Gap-based
    sessionization is associative, so this variant:

    1. chunks events by TIME RANGE (``chunk = ms DIV chunk_ms`` — no
       per-user window needed to assign chunks, unlike a row_number DIV
       split, and chunk order == event order because ms is monotone in
       (ts, event_id) ties included: equal-ts events always share a
       chunk);
    2. sessionizes each (user_id, chunk) independently — the event-level
       window partitions by (user_id, chunk), so a hot user's partition
       is bounded by its events-per-chunk_ms, not its lifetime;
    3. stitches at chunk seams over the per-chunk SUMMARY stream (one
       row per nonempty chunk): chunk c's first local session fuses with
       the previous nonempty chunk's last session iff the seam gap
       <= SESSION_GAP_MS — the same rule the in-chunk lag applied,
       because the seam events are consecutive in the global order;
    4. renumbers in closed form: a chunk's sessions shift down by the
       cumulative fuse count, so global_id = prefix + local_id - fused
       where prefix = SUM(starts - fused) over preceding chunks — a
       window over the BOUNDED summary stream (<= time_span/chunk_ms
       rows per user, independent of event count), the same
       bounded-table-window argument as embedding_prototype_prune's
       two-level rank.  Multi-chunk sessions chain correctly: a
       fused-through chunk contributes starts - fused = 0 to the prefix.

    Residual worst case: time chunking bounds per-task rows by the
    user's peak event RATE, not its lifetime volume — so when
    ``chunk_ms`` is not given, the width resolves through
    switches.burst_chunk_ms (r10): a memoized peak-occupancy probe
    shrinks it by power-of-2 factors until the hottest (key, chunk)
    fits the per-task bar.  Output is width-invariant (the stitch is
    exact at any width; property-tested), so adaptation is pure cost.
    The irreducible floor is same-TIMESTAMP ties, which must share a
    chunk at any width; a seam can only separate distinct chunk ids,
    hence distinct ms values, so ties never force a merge error.

    Since r9 this is the registered query's own hot path: the registry
    stays frozen at 162, but ``sessionize_events`` auto-delegates here
    when the max-per-user-rows probe exceeds switches.HOT_KEY_ROWS (r8
    verdict #1 — the dedup_components strategy-switch precedent).
    Equivalence to the unbounded spelling is asserted by
    tests/test_advanced.py::test_sessionize_chunked_* at sf0.01 + on
    adversarial synthetic seams, and on the xl_event twin by
    scripts/measure_scaling.py --skew-xl (bit-identical check recorded
    in SCALING_SKEW.jsonl).

    ``ev`` overrides the events input — the hybrid strategy passes the
    hot-key slice here (per-key independence makes the split exact).
    """
    from osm2orc_spark.operators import switches

    if ev is None:
        ev = load(spark, sf_dir, "events")
    if chunk_ms is None:
        chunk_ms = switches.burst_chunk_ms(spark, sf_dir, SESSION_CHUNK_MS)
    ms = F.unix_millis("ts")
    # floor(ms / chunk_ms) in double is exact here: the quotient is far
    # below 2^53 and a non-integer true quotient sits >= 1/chunk_ms away
    # from the next integer — orders of magnitude beyond double ulp.
    evc = ev.select("user_id", "ts", "event_id", ms.alias("ms")).withColumn(
        "chunk", F.floor(F.col("ms") / F.lit(chunk_ms)).cast("bigint")
    )
    wl = W.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    flagged = evc.withColumn(
        "new_s",
        F.when(
            (F.col("ms") - F.lag("ms").over(wl) > SESSION_GAP_MS)
            | F.lag("ms").over(wl).isNull(),
            1,
        ).otherwise(0),
    )
    local = flagged.withColumn(
        "lsid",
        F.sum("new_s").over(wl.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    # One row per LOCAL session: the event-level stream compresses here
    # (map-side partial agg on the window's own partitioning), and
    # everything downstream runs on session/chunk summaries only.
    # PERSISTED: lsess feeds both the stitch build (via csum) and the
    # final join's probe side, and Catalyst does not dedup identical
    # subtrees (the r6 house rule) — without the cache the event-level
    # windows run TWICE (observed in the r8 plan).  Scoped to the
    # result via release_with.
    from osm2orc_spark.operators.cache import release_with

    lsess = local.groupBy("user_id", "chunk", "lsid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ms").alias("first_ms"),
        F.max("ms").alias("last_ms"),
    ).persist()
    csum = lsess.groupBy("user_id", "chunk").agg(
        F.max("lsid").alias("starts"),
        F.min("first_ms").alias("first_ms"),
        F.max("last_ms").alias("last_ms"),
    )
    wc = W.partitionBy("user_id").orderBy("chunk")
    stitched = csum.select(
        "user_id",
        "chunk",
        "starts",
        # lag NULL (first nonempty chunk) -> condition NULL -> 0: no fuse.
        F.when(
            F.col("first_ms") - F.lag("last_ms").over(wc) <= SESSION_GAP_MS, 1
        )
        .otherwise(0)
        .alias("fused"),
    ).withColumn(
        "prefix",
        F.coalesce(
            F.sum(F.col("starts") - F.col("fused")).over(
                wc.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint"),
    )
    return release_with(
        lsess.join(stitched.select("user_id", "chunk", "fused", "prefix"), ["user_id", "chunk"])
        .groupBy(
            "user_id",
            (F.col("prefix") + F.col("lsid") - F.col("fused"))
            .cast("bigint")
            .alias("session_id"),
        )
        .agg(F.sum("n_events").cast("bigint").alias("n_events")),
        lsess,
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (batch form of the streaming hourly rollup;
# Spark F.window start == date_trunc('hour') for aligned 1h tumbling).
# ---------------------------------------------------------------------------
@register(
    "tumbling_window_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           COUNT(*) AS n,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation via F.window — the batch twin "
    "of streaming/events.py's windowed readStream (same grouping logic).",
    tags=("relational", "window", "streaming-twin"),
)
def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )


# ---------------------------------------------------------------------------
# Distinct aggregation.
# ---------------------------------------------------------------------------
@register(
    "distinct_parts_per_supplier",
    oracle="""
    SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    """,
    doc="Exact distinct count per group (C14 variant). Catalyst expands "
    "to a two-stage aggregate; approx_count_distinct is the documented "
    "scale alternative when exactness isn't required.",
    tags=("relational", "agg"),
)
def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )
