"""Core relational operator queries — SURVEY.md §2.3-2.7 re-targeted at the
driver's star schema (TESTDATA.md tables).

Every query is a declarative DataFrame plan (Catalyst owns pushdown,
pruning, join selection); small dimension tables get explicit
``F.broadcast`` hints so a 100 TB fact scan never shuffles for a 25-row
dimension.

Float discipline: grouped double sums are ORDER-DEPENDENT in their last
ulp (partial-aggregation order varies with partitioning), so any rounded
double sum can flip a boundary between runs or engines. Money/value sums
therefore aggregate per-row-quantized integers (floor(x*100+0.5) cents),
and averages derive from those exact sums; only order-independent values
(per-row scalars, windowed ordered sums, min/max/count) stay double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cliqz_etl_spark.functions.scalars import clean_cast_sql, indicator
from cliqz_etl_spark.queries import query
from cliqz_etl_spark.tables import load_table


def _day(c):
    """Timestamp -> 'yyyy-MM-dd' string, the cross-engine-stable date form."""
    return F.date_format(c, "yyyy-MM-dd")


# --------------------------------------------------------------------------
# Flagship: grouped sums/avgs with filter pushdown (A2/A5/A6 analog; the
# shape of the reference's reduceByKey Counter rollup, profile_daily.py:54-55
# and 142-173, as one partial-aggregated groupBy).
# --------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)        AS sum_qty_x100,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)   AS sum_base_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
                                                                                     AS sum_disc_cents,
           CAST(floor(CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                      / COUNT(*) * 100 + 0.5) AS BIGINT)                             AS avg_qty_x10k,
           CAST(floor(CAST(SUM(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                      / COUNT(*) + 0.5) AS BIGINT)                                   AS avg_disc_x10k,
           COUNT(*)                                                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-filter-aggregate with map-side partial aggregation; the filter
    and the 7-column projection push into the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # Sums aggregate per-row-quantized integers: a grouped double
            # sum's last-ulp depends on partial-aggregation order, which can
            # flip a round() boundary between runs/engines. Averages derive
            # from the exact integer sums for the same reason.
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long"))
            .cast("long").alias("sum_qty_x100"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
            .cast("long").alias("sum_base_cents"),
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
                  .cast("long")).cast("long").alias("sum_disc_cents"),
            F.floor(F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")).cast("double")
                    / F.count(F.lit(1)) * 100 + 0.5).cast("long").alias("avg_qty_x10k"),
            F.floor(F.sum(F.floor(F.col("l_discount") * 10000 + 0.5).cast("long")).cast("double")
                    / F.count(F.lit(1)) + 0.5).cast("long").alias("avg_disc_x10k"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# J1 + A1: inner equi-join then grouped min (profile_daily.py:16-22,
# `earliest_ping_per_client`).
# --------------------------------------------------------------------------
@query(
    "earliest_order_per_customer",
    oracle="""
    SELECT c.c_custkey AS c_custkey,
           strftime(MIN(o.o_orderdate), '%Y-%m-%d') AS first_order_date,
           COUNT(*) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def earliest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + groupBy-min; one shuffle on the join key, agg reuses it."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey")
        .agg(
            _day(F.min("o_orderdate")).alias("first_order_date"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# J2: inner equi-join on TWO keys with projection (profile_daily.py:24-39).
# --------------------------------------------------------------------------
@query(
    "two_key_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), purchases AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS purchase_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.user_id AS user_id, c.day AS day,
           c.n_clicks AS n_clicks, p.purchase_cents AS purchase_cents
    FROM clicks c JOIN purchases p ON p.user_id = c.user_id AND p.day = c.day
    """,
)
def two_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key inner join of two aggregates of the events table."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", _day("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", _day("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
             .cast("long").alias("purchase_cents"))
    )
    return clicks.join(purchases, ["user_id", "day"]).select(
        "user_id", "day", "n_clicks", "purchase_cents"
    )


# --------------------------------------------------------------------------
# J4: full outer join on composite key, NULL-coalesced output
# (profile_daily.py:58 + format_row :209-242 intended semantics).
# --------------------------------------------------------------------------
@query(
    "full_outer_rollup",
    oracle="""
    WITH clicks AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), purchases AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS purchase_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(c.day, p.day)         AS day,
           COALESCE(c.n_clicks, 0)        AS n_clicks,
           COALESCE(p.purchase_cents, 0)  AS purchase_cents
    FROM clicks c FULL OUTER JOIN purchases p
      ON p.user_id = c.user_id AND p.day = c.day
    """,
)
def full_outer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Either-side-nullable full outer with per-column defaults — the
    reference's ms⨝txp daily rollup shape."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", _day("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", _day("ts").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
             .cast("long").alias("purchase_cents"))
    )
    joined = clicks.join(purchases, ["user_id", "day"], "full_outer")
    return joined.select(
        "user_id",
        "day",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("purchase_cents", F.lit(0)).alias("purchase_cents"),
    )


# --------------------------------------------------------------------------
# J5: broadcast semi-join — the distributed rebuild of the reference's
# driver-collected client-id list pushed into the KV fetch
# (profile_daily.py:41-44,103-115).
# --------------------------------------------------------------------------
@query(
    "semi_join_orders",
    oracle="""
    SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS o_custkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000.0)
    """,
)
def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi with an explicit broadcast of the filtered key side: at
    scale the key set never touches the driver (no collect), and the fact
    table never shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000.0)
    return (
        orders.join(F.broadcast(rich), orders.o_custkey == rich.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@query(
    "anti_join_customers",
    oracle="""
    SELECT c.c_custkey AS c_custkey, c.c_mktsegment AS c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti: customers with no orders (completes the join family)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# A3: map-valued aggregation (search_counts Counter, profile_daily.py:157-169)
# emitted in exploded (key, value) canonical form so both engines hash alike.
# --------------------------------------------------------------------------
@query(
    "map_valued_agg",
    oracle="""
    SELECT c.c_custkey AS c_custkey,
           -- concat_ws, not ||: the Counter key must SKIP a NULL
           -- component (both engines' concat_ws semantics), where ||
           -- would NULL the whole key and merge distinct groups
           concat_ws('-', c.c_mktsegment, o.o_orderstatus) AS seg_status,
           COUNT(*) AS cnt
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def map_valued_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `Counter{engine-source: n}` per client becomes a
    grouped count on a concat_ws key; `map_from_entries(collect_list(...))`
    would re-assemble the map column, but the exploded form is the
    aggregation itself (and what SQL engines can check)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy(
            "c_custkey",
            F.concat_ws("-", "c_mktsegment", "o_orderstatus").alias("seg_status"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# A4: mode (most frequent value) per group with deterministic tie-break
# (profile_daily.py:167,232 — Counter.most_common()[0][0]).
# --------------------------------------------------------------------------
@query(
    "mode_per_user",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ), ranked AS (
        SELECT user_id, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY cnt DESC, event_type ASC) AS rn
        FROM counts
    )
    SELECT user_id AS user_id, event_type AS top_event_type, cnt AS cnt
    FROM ranked WHERE rn = 1
    """,
)
def mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count + row_number window; ties broken by value ordering so the
    result is deterministic. ``F.mode(..., deterministic=True)`` breaks
    ties the same way (as `profile_daily.aggregate_ms` uses it), but this
    query also returns the winning count, which the window keeps.
    NULL values are excluded from the mode (fuzz-pinned): NULL is not a
    category a mode can name, and on a count tie the engines would even
    sort it to opposite ends (Spark NULLs-first asc, DuckDB NULLs-last)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"), "cnt")
    )


# --------------------------------------------------------------------------
# A5/F8: summed indicator flags (prep_txp_agg, profile_daily.py:189-195 —
# implementing the INTENT: separate enabled/disabled counters, §2.9).
# --------------------------------------------------------------------------
@query(
    "indicator_sums",
    oracle="""
    SELECT user_id AS user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END) AS BIGINT) AS n_engagement
    FROM events GROUP BY user_id
    """,
)
def indicator_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = F.col("event_type")
    return ev.groupBy("user_id").agg(
        F.sum(indicator(t == "click")).alias("n_click"),
        F.sum(indicator(t == "purchase")).alias("n_purchase"),
        F.sum(indicator(t == "error")).alias("n_error"),
        F.sum(indicator(t.isin(["view", "click"]))).alias("n_engagement"),
    )


# --------------------------------------------------------------------------
# A6/F7: sum with unit conversion and NULL->0 (session_hours,
# profile_daily.py:168).
# --------------------------------------------------------------------------
@query(
    "value_hours_per_user",
    oracle="""
    SELECT user_id AS user_id,
           CAST(floor(CAST(SUM(CAST(floor(COALESCE(value, 0.0) * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                      / 360000.0 * 10000 + 0.5) AS BIGINT) AS value_hours_x10k
    FROM events GROUP BY user_id
    """,
)
def value_hours_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.floor(
            F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + 0.5).cast("long"))
            .cast("double") / 360000.0 * 10000 + 0.5
        ).cast("long").alias("value_hours_x10k")
    )


# --------------------------------------------------------------------------
# A7: distinct (profile_daily.py:41-42) — without the driver collect.
# --------------------------------------------------------------------------
@query(
    "distinct_purchasers",
    oracle="SELECT DISTINCT user_id AS user_id FROM events WHERE event_type = 'purchase'",
)
def distinct_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "purchase").select("user_id").distinct()


# --------------------------------------------------------------------------
# A8: boolean-any aggregate (has_addon, profile_daily.py:170,228).
# --------------------------------------------------------------------------
@query(
    "ever_purchased",
    oracle="""
    SELECT user_id AS user_id,
           MAX(CASE WHEN event_type = 'purchase' THEN TRUE ELSE FALSE END) AS ever_purchased
    FROM events GROUP BY user_id
    """,
)
def ever_purchased(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # coalesce mirrors the oracle's CASE..ELSE FALSE: a NULL event_type is
    # "not a purchase", so a user with only NULL-typed events gets FALSE —
    # without it Spark's max() skips the NULL comparisons and yields NULL
    return ev.groupBy("user_id").agg(
        F.max(F.coalesce(F.col("event_type") == "purchase", F.lit(False)))
        .alias("ever_purchased")
    )


# --------------------------------------------------------------------------
# P10/F5: recency window filter — keep rows within 14 days of each key's
# first activity (is_ms_row_recent, profile_daily.py:118-139).
# --------------------------------------------------------------------------
@query(
    "recency_filter",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    )
    SELECT e.user_id AS user_id, COUNT(*) AS n_recent
    FROM events e JOIN first_seen f ON f.user_id = e.user_id
    WHERE date_diff('day', f.first_day, CAST(e.ts AS DATE)) <= 14
    GROUP BY e.user_id
    """,
)
def recency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-activity join + datediff filter; the min-date side is tiny
    after aggregation, so AQE broadcast-joins it back against the facts."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    return (
        ev.join(first_seen, "user_id")
        .where(F.datediff(F.col("ts").cast("date"), F.col("first_day")) <= 14)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )


# --------------------------------------------------------------------------
# S5 rebuild: per-key limit via row_number window (HBase get_range
# limit=1000/client, profile_daily.py:107-113).
# --------------------------------------------------------------------------
@query(
    "per_key_limit",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC NULLS FIRST,
                                           o_orderkey ASC) AS rn
        FROM orders
    )
    SELECT o_custkey AS o_custkey, o_orderkey AS o_orderkey, rn AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def per_key_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 orders per customer, deterministically ordered."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


# --------------------------------------------------------------------------
# P4/F2/F3/F4/F9 + JSON access: the scalar-function gauntlet, one row per
# event. get_json_object replaces the reference's pre-Spark path projection
# (get_pings_properties) for JSON-string columns.
# --------------------------------------------------------------------------
@query(
    "scalar_gauntlet",
    oracle=f"""
    SELECT event_id AS event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)            AS prop_k,
           {clean_cast_sql('event_type', 'long')}                AS bad_cast,
           (event_type IN ('click', 'view'))                     AS is_engagement,
           (event_type || '-' || CAST(user_id AS VARCHAR))       AS type_user,
           ROUND(COALESCE(value, 0.0), 2)                        AS value_or_zero,
           str_split(event_type, 'i')[1]                         AS split_head
    FROM events
    """,
)
def scalar_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level scalar functions: JSON path extract, try_cast (error->NULL,
    the build_cell semantics), isin flag, concat_ws, coalesce, split[0]."""
    from cliqz_etl_spark.functions.scalars import (
        clean_cast,
        concat_key,
        isin_flag,
        null_safe,
        split_select,
    )

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        clean_cast("event_type", "long").alias("bad_cast"),
        isin_flag("event_type", ["click", "view"]).alias("is_engagement"),
        concat_key("event_type", F.col("user_id").cast("string")).alias("type_user"),
        F.round(null_safe("value", 0.0), 2).alias("value_or_zero"),
        split_select("event_type", "i", 0).alias("split_head"),
    )


# --------------------------------------------------------------------------
# P9: regex validity filter (is_valid_client_id, profile_daily.py:70-77).
# --------------------------------------------------------------------------
@query(
    "regex_validity_filter",
    oracle="""
    SELECT c_custkey AS c_custkey, c_name AS c_name
    FROM customer
    WHERE regexp_matches(c_name, '^Customer#[0-9]{9}$')
      AND (c_custkey % 7) <> 0
    """,
)
def regex_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.where(
        F.regexp_like("c_name", F.lit("^Customer#[0-9]{9}$")) & (F.col("c_custkey") % 7 != 0)
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Sort + limit (top-k) — absent from the reference (§2.7) but part of any
# complete relational surface; deterministic tie-break.
# --------------------------------------------------------------------------
@query(
    "top_orders",
    oracle="""
    SELECT o_orderkey AS o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TakeOrderedAndProject: top-k never materializes a global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations (absent from reference, §2.8 — completing the surface).
# --------------------------------------------------------------------------
@query(
    "nations_without_suppliers",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def nations_without_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp)


@query(
    "nations_with_both",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@query(
    "all_account_balances",
    oracle="""
    SELECT 'customer' AS kind,
           CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM customer
    UNION ALL
    SELECT 'supplier' AS kind,
           CAST(SUM(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM supplier
    """,
)
def all_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").agg(
        F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long"))
        .cast("long").alias("total_cents")
    ).select(F.lit("customer").alias("kind"), "total_cents")
    supp = load_table(spark, sf_dir, "supplier").agg(
        F.sum(F.floor(F.col("s_acctbal") * 100 + 0.5).cast("long"))
        .cast("long").alias("total_cents")
    ).select(F.lit("supplier").alias("kind"), "total_cents")
    return cust.unionByName(supp)


# --------------------------------------------------------------------------
# Rollup / grouping sets (absent from reference, §2.8).
# --------------------------------------------------------------------------
@query(
    "order_rollup",
    oracle="""
    SELECT o_orderstatus AS o_orderstatus, o_orderpriority AS o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long").alias("total_cents"),
    )


# --------------------------------------------------------------------------
# Star join with broadcast dimensions (TPC-H Q5 shape): revenue per nation.
# The bench headline query.
# --------------------------------------------------------------------------
@query(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name AS n_name,
           CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM customer c
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN nation n    ON n.n_nationkey = c.c_nationkey
    JOIN region r    ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join shuffles on orderkey; every dimension is broadcast so
    the region filter prunes customers before touching lineitem."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    return (
        cust.join(dims, cust.c_nationkey == dims.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
                   .cast("long")).cast("long").alias("revenue_cents"))
    )


# --------------------------------------------------------------------------
# Window analytics: running total per key (the §2.8 window-function surface).
# --------------------------------------------------------------------------
@query(
    "running_total",
    oracle="""
    SELECT event_id AS event_id, user_id AS user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_value
    FROM events WHERE ts IS NOT NULL
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered cumulative sum; NULL-ts rows are excluded on both sides
    (fuzz-pinned) — a cumulative position for an unknown instant is
    undefined, and the engines sort NULLs to opposite ends."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered semi-join (operators/relational.py:
# bloom_prefilter_semi_join). The result is IDENTICAL to a plain
# semi-join — the oracle is the plain EXISTS — what changes is the
# physical story: the fact side is pruned map-side by two broadcast
# hashed-bucket sets (bounded at m_buckets rows no matter how many keys)
# before any fact rows reach the exact join's exchange.
# --------------------------------------------------------------------------
_URGENT97 = (
    "o_orderpriority = '1-URGENT' "
    "AND o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o_orderdate < TIMESTAMP '1998-01-01'"
)


def _urgent97(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )


@query(
    "bloom_semi_join_revenue",
    oracle=f"""
    SELECT l_returnflag AS l_returnflag,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents,
           COUNT(*) AS n_lines
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND {_URGENT97})
    GROUP BY l_returnflag
    """,
)
def bloom_semi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag over lines of urgent 1997 orders, routed
    through the bloom prefilter. False positives are annihilated by the
    exact join, so this hash-matches the plain semi-join oracle."""
    from cliqz_etl_spark.operators.relational import bloom_prefilter_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    pruned = bloom_prefilter_semi_join(li, _urgent97(spark, sf_dir), "l_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5))
              .cast("long")).cast("long").alias("rev_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def _bloom_stats_sql() -> str:
    from cliqz_etl_spark.functions.hashing import md5_long_seeded_sql

    m = 1024
    b0 = f"({md5_long_seeded_sql('l_orderkey', 0)} % {m})"
    b1 = f"({md5_long_seeded_sql('l_orderkey', 1)} % {m})"
    k0 = f"({md5_long_seeded_sql('o_orderkey', 0)} % {m})"
    k1 = f"({md5_long_seeded_sql('o_orderkey', 1)} % {m})"
    return f"""
    WITH k AS (SELECT o_orderkey FROM orders WHERE {_URGENT97}),
    cand AS (
        SELECT l_orderkey FROM lineitem
        WHERE {b0} IN (SELECT DISTINCT {k0} FROM k)
          AND {b1} IN (SELECT DISTINCT {k1} FROM k)
    )
    SELECT (SELECT COUNT(*) FROM lineitem) AS n_total,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM cand WHERE l_orderkey IN (SELECT o_orderkey FROM k))
               AS n_matched
    """


@query("bloom_prefilter_stats", oracle=_bloom_stats_sql())
def bloom_prefilter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the prefilter: total fact rows, rows surviving the
    two hashed-bucket prunes (candidates = hits + false positives), and
    exact matches — ONE pass over the fact with three broadcast left-join
    markers feeding conditional counts. m_buckets is deliberately small
    (1024) so the false-positive margin is visible and pinned by the
    oracle (the md5 bucket family is engine-portable, so even FP counts
    hash-match)."""
    from cliqz_etl_spark.functions.hashing import md5_long_seeded

    m = 1024
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    keys = _urgent97(spark, sf_dir)
    marked = li
    for i in range(2):
        kb = keys.select(
            (md5_long_seeded(F.col("l_orderkey"), i) % m).alias(f"__b{i}")
        ).distinct().withColumn(f"__m{i}", F.lit(1))
        marked = (
            marked.withColumn(f"__b{i}", md5_long_seeded(F.col("l_orderkey"), i) % m)
            .join(F.broadcast(kb), f"__b{i}", "left")
        )
    exact = keys.distinct().withColumn("__mx", F.lit(1))
    marked = marked.join(F.broadcast(exact), "l_orderkey", "left")
    is_cand = F.col("__m0").isNotNull() & F.col("__m1").isNotNull()
    return marked.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(is_cand, 1).otherwise(0)).cast("long").alias("n_candidates"),
        F.sum(F.when(is_cand & F.col("__mx").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_matched"),
    )


# --------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping_id — the general form of
# rollup/cube: only the requested aggregation levels are computed (here:
# per (status, priority), per status, and grand total — NOT per priority),
# and grouping_id disambiguates a real NULL key from a superaggregate row.
# Spark expands this to one Expand + single aggregate: one shuffle for all
# three levels.
# --------------------------------------------------------------------------
@query(
    "order_grouping_sets",
    oracle="""
    SELECT o_orderstatus AS o_orderstatus, o_orderpriority AS o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
               AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three explicit aggregation levels in one pass via SQL GROUPING SETS
    (the DataFrame API has no grouping-sets builder — spark.sql on a
    registered temp view is the idiomatic route; the plan is the same
    Expand + partial/final aggregate pair as rollup)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


# --------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH each
# other — the semantics regular equi-joins silently drop. The derived key
# is NULL for low-value events, so the gate pins that the NULL bucket
# survives the join on both engines.
# --------------------------------------------------------------------------
@query(
    "nullsafe_join_counts",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN value < 10 THEN NULL ELSE event_type END AS k,
               COUNT(*) AS n_all
        FROM events GROUP BY 1
    ), b AS (
        SELECT CASE WHEN value < 10 THEN NULL ELSE event_type END AS k,
               COUNT(*) AS n_purchase
        FROM events WHERE event_type = 'purchase' OR value < 10
        GROUP BY 1
    )
    SELECT a.k AS k, a.n_all AS n_all, b.n_purchase AS n_purchase
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def nullsafe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.when(F.col("value") < 10, F.lit(None)).otherwise(F.col("event_type"))
    a = ev.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n_all"))
    b = (
        ev.where((F.col("event_type") == "purchase") | (F.col("value") < 10))
        .groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n_purchase"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"].alias("k"), "n_all", "n_purchase")
    )


# --------------------------------------------------------------------------
# Schema-evolution union (unionByName + allowMissingColumns): the ingest
# shape where two vintages of a feed share a table but not a schema — the
# old extract lacks columns the new one added, and vice versa. Spark
# aligns by NAME and fills the holes with NULL; DuckDB's UNION ALL BY NAME
# is the same operator, so the oracle exercises the identical semantics
# natively rather than simulating them. The two vintages are carved from
# orders by date (pre/post 1997-07-01): v1 carries the money column but
# not the priority, v2 the reverse. A per-vintage audit aggregate keeps
# the output compact and pins exactly which holes the alignment created.
# --------------------------------------------------------------------------
@query(
    "schema_drift_union",
    oracle="""
    WITH unioned AS (
        SELECT 'v1' AS vintage, o_orderkey, o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
        UNION ALL BY NAME
        SELECT 'v2' AS vintage, o_orderkey, o_custkey,
               o_orderpriority
        FROM orders WHERE o_orderdate >= TIMESTAMP '1997-07-01'
    )
    SELECT vintage AS vintage,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(price_cents) AS BIGINT) AS n_null_price,
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS n_null_priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM unioned GROUP BY vintage
    """,
)
def schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union two schema vintages of orders by column NAME with
    missing-column NULL fill, then audit the holes per vintage.

    Plan: two partition-prunable scans of the same table (disjoint date
    predicates, both pushed), a zero-shuffle unionByName(
    allowMissingColumns=True) — alignment is a projection, not an
    exchange — and one 2-group aggregate. The NULL counts are the
    contract: every v1 row must hole the column v1 never had, and
    never the one it did."""
    orders = load_table(spark, sf_dir, "orders")
    cut = "1997-07-01"
    v1 = (
        orders.where(F.col("o_orderdate") < cut)
        .select(F.lit("v1").alias("vintage"), "o_orderkey", "o_custkey",
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                .alias("price_cents"))
    )
    v2 = (
        orders.where(F.col("o_orderdate") >= cut)
        .select(F.lit("v2").alias("vintage"), "o_orderkey", "o_custkey",
                "o_orderpriority")
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("vintage").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("price_cents")).cast("long")
        .alias("n_null_price"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).cast("long")
        .alias("n_null_priority"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )


# --------------------------------------------------------------------------
# Recursive CTE (WITH RECURSIVE, Spark 4's UnionLoop operator): this
# query and lateral_top_balances below REQUIRE pyspark>=4.0 (they fail
# at parse on 3.5) — pyproject's [local] extra pins that floor. The
# decimal-prefix category tree over custkeys — node -> node div 10 ->
# ... -> 0 — rolled up so every category counts its whole subtree of
# customers and their balance. The SQL-standard recursion both engines
# execute natively; depth is log10(key domain) (~6 levels), so the loop
# is bounded by the KEY WIDTH, not the row count — each iteration is one
# more map-side div over the frontier, and the final rollup is a single
# groupBy. Truncating `div` keeps negative fuzz keys cycle-free on both
# engines (-5 div 10 = 0 terminates).
# --------------------------------------------------------------------------
_REC_SQL = """
    WITH RECURSIVE anc AS (
        SELECT c_custkey AS node, c_custkey AS category,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        FROM {src} WHERE c_custkey IS NOT NULL
        UNION ALL
        SELECT node, category div 10 AS category, bal_cents
        FROM anc WHERE category > 0
    )
    SELECT CAST(category AS BIGINT) AS category,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(bal_cents) AS BIGINT) AS subtree_bal_cents
    FROM anc GROUP BY category
"""


@query(
    "recursive_category_rollup",
    oracle=_REC_SQL.format(src="customer").replace(" div ", " // "),
)
def recursive_category_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree member counts and balance totals for every decimal-prefix
    category, via a native recursive CTE.

    Plan shape: Spark 4 executes WITH RECURSIVE as a UnionLoop whose
    per-iteration step here is a pure projection + filter over the
    previous frontier (no joins inside the loop), terminating after
    ~log10(max key) iterations; the rollup is one map-side-combined
    aggregate over the accumulated union. NULL balances flow through SUM
    untouched (a category of only-NULL balances reports NULL, identical
    on both engines)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__cust_rec")
    return spark.sql(_REC_SQL.format(src="__cust_rec"))


# --------------------------------------------------------------------------
# Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-native way
# users write top-N-per-group, exercised end-to-end against DuckDB's
# LATERAL. Catalyst DECORRELATES the limit into WindowGroupLimit
# (verified in the executed plan): each map task prunes to the top 2
# rows per segment BEFORE the exchange, so the shuffle carries at most
# 2 x tasks x segments rows — the same scale-safe shape as per_key_limit
# but reached from standard SQL instead of the DataFrame window idiom.
# --------------------------------------------------------------------------
_LATERAL_SQL = """
    SELECT s.c_mktsegment AS segment, l.c_custkey AS c_custkey,
           l.bal_cents AS bal_cents
    FROM (SELECT DISTINCT c_mktsegment FROM {src}
          WHERE c_mktsegment IS NOT NULL) s,
    LATERAL (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        FROM {src} c
        WHERE c.c_mktsegment = s.c_mktsegment
          AND c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
        ORDER BY bal_cents DESC, c_custkey ASC
        LIMIT 2
    ) l
"""


@query(
    "lateral_top_balances",
    oracle=_LATERAL_SQL.format(src="customer"),
)
def lateral_top_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by balance per market segment, written as a
    correlated LATERAL subquery (identical SQL text on both engines,
    modulo the view name). Deterministic: the custkey tiebreak makes the
    LIMIT cut unique."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__cust_lat")
    return spark.sql(_LATERAL_SQL.format(src="__cust_lat"))
