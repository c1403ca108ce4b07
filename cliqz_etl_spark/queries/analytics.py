"""Product-analytics operators on the events/orders tables: funnel
conversion, weekly retention cohorts, histograms, the full ranking-function
family (dense_rank/ntile/lead), and an explicit cross join — the remaining
window/reporting surface a warehouse engine needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cliqz_etl_spark.queries import query
from cliqz_etl_spark.tables import load_table


@query(
    "funnel_counts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
               MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (t_signup IS NOT NULL) AS n_signup,
           COUNT(*) FILTER (t_signup IS NOT NULL AND t_view > t_signup) AS n_signup_view,
           COUNT(*) FILTER (t_signup IS NOT NULL AND t_view > t_signup
                            AND t_purchase > t_view) AS n_full_funnel
    FROM firsts
    """,
)
def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (first signup -> later first view ->
    later first purchase): one conditional-min aggregation per user, one
    global rollup — no self-joins, the scalable funnel shape."""
    ev = load_table(spark, sf_dir, "events")
    t = F.col("event_type")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(t == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(t == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(t == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    step1 = F.col("t_signup").isNotNull()
    step2 = step1 & (F.col("t_view") > F.col("t_signup"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_view"))
    return firsts.agg(
        F.count(F.when(step1, 1)).alias("n_signup"),
        F.count(F.when(step2, 1)).alias("n_signup_view"),
        F.count(F.when(step3, 1)).alias("n_full_funnel"),
    )


@query(
    "weekly_retention",
    oracle="""
    WITH cohorts AS (
        -- floor, not CAST: DuckDB's double->BIGINT cast ROUNDS while
        -- Spark's truncates
        SELECT user_id,
               CAST(floor(date_diff('day', DATE '2024-01-01', MIN(CAST(ts AS DATE))) / 7) AS BIGINT)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id,
               CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS BIGINT)
                   AS active_week
        FROM events
    )
    SELECT c.cohort_week AS cohort_week,
           (a.active_week - c.cohort_week) AS weeks_since,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM cohorts c JOIN activity a ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted in each subsequent active week."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("long")
    cohorts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select("user_id", week.alias("active_week")).distinct()
    return (
        activity.join(cohorts, "user_id")
        .groupBy("cohort_week", (F.col("active_week") - F.col("cohort_week")).alias("weeks_since"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "value_histogram",
    oracle="""
    SELECT event_type AS event_type,
           CAST(floor(value / 10.0) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram — floor-binning is the deterministic,
    shuffle-light histogram at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.floor(F.col("value") / 10.0).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "order_rank_family",
    oracle="""
    SELECT o_orderkey AS o_orderkey, o_custkey AS o_custkey,
           CAST(rank()       OVER w AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
           CAST(ntile(4)     OVER w AS BIGINT) AS price_quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def order_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over one shared window definition (one
    shuffle + one sort serves all three)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey", "o_custkey",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
    )


@query(
    "next_event_gap",
    oracle="""
    SELECT event_id AS event_id, user_id AS user_id,
           CAST(date_diff('second', ts,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
                AS BIGINT) AS gap_to_next_sec
    FROM events
    """,
)
def next_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() — forward-looking twin of the as-of join's last()."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id", "user_id",
        (F.lead(F.col("ts").cast("long")).over(w) - F.col("ts").cast("long"))
        .cast("long").alias("gap_to_next_sec"),
    )


@query(
    "region_status_grid",
    oracle="""
    SELECT r.r_name AS r_name, s.o_orderstatus AS o_orderstatus,
           COALESCE(x.n, 0) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    LEFT JOIN (
        SELECT rr.r_name, o.o_orderstatus, COUNT(*) AS n
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nn  ON nn.n_nationkey = c.c_nationkey
        JOIN region rr  ON rr.r_regionkey = nn.n_regionkey
        GROUP BY 1, 2
    ) x ON x.r_name = r.r_name AND x.o_orderstatus = s.o_orderstatus
    """,
)
def region_status_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join building a dense reporting grid (every region x
    status cell, zero-filled) — the one legitimate cartesian: both sides
    are tiny dimensions."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    counts = (
        orders.join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(nation), nation.n_nationkey == cust.c_nationkey)
        .join(F.broadcast(region), region.r_regionkey == nation.n_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    statuses = orders.select("o_orderstatus").distinct()
    grid = region.select("r_name").crossJoin(statuses)
    return (
        grid.join(counts, ["r_name", "o_orderstatus"], "left")
        .select("r_name", "o_orderstatus", F.coalesce("n", F.lit(0)).alias("n"))
    )


# --------------------------------------------------------------------------
# Count-min sketch — the mergeable frequency sketch for heavy-hitter
# detection at 100 TB: the sketch is a D x W grid of counters, built with
# one grouped aggregation over a BOUNDED key space (map-side combine
# collapses every partition to <= D*W rows before the shuffle, regardless
# of input size), and estimates are min over D hashed-bucket lookups.
# Over-estimation only (collisions add, never subtract), so the candidate
# heavy-hitter set is a superset — the standard two-pass pattern. Hashes
# are the engine-portable seeded md5 family, so even the sketch's
# COLLISIONS are deterministic and the estimates oracle-check exactly.
# --------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(col, d: int):
    from cliqz_etl_spark.functions.hashing import md5_long_seeded

    return md5_long_seeded(col, d) % CMS_WIDTH


def _cms_bucket_sql(expr: str, d: int) -> str:
    from cliqz_etl_spark.functions.hashing import md5_long_seeded_sql

    return f"({md5_long_seeded_sql(expr, d)} % {CMS_WIDTH})"


@query(
    "countmin_user_counts",
    oracle=f"""
    WITH rows_ AS (
        {" UNION ALL ".join(
            f"SELECT {d} AS d, {_cms_bucket_sql('user_id', d)} AS b, user_id FROM events"
            for d in range(CMS_DEPTH))}
    ), sketch AS (
        SELECT d, b, COUNT(*) AS cnt FROM rows_ GROUP BY d, b
    ), users AS (
        {" UNION ALL ".join(
            f"SELECT DISTINCT user_id, {d} AS d, {_cms_bucket_sql('user_id', d)} AS b FROM events"
            for d in range(CMS_DEPTH))}
    ), est AS (
        SELECT u.user_id, MIN(s.cnt) AS est_n
        FROM users u JOIN sketch s ON s.d = u.d AND s.b = u.b
        GROUP BY u.user_id
    ), exact AS (
        SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
    )
    SELECT e.user_id AS user_id, e.exact_n AS exact_n,
           CAST(est.est_n AS BIGINT) AS est_n
    FROM exact e JOIN est ON est.user_id = e.user_id
    """,
)
def countmin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-count estimates from a 4x256 count-min sketch beside
    the exact counts (est_n >= exact_n always; equality when no collision).
    Sketch build: one explode to D rows per event (cheap ints), one
    bounded-key groupBy. Estimate: broadcast the D*W-row sketch, min over
    D lookups."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "user_id",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     _cms_bucket(F.col("user_id"), d).alias("b"))
            for d in range(CMS_DEPTH)
        ])).alias("x"),
    ).select("user_id", F.col("x.d").alias("d"), F.col("x.b").alias("b"))
    sketch = hashed.groupBy("d", "b").agg(F.count(F.lit(1)).alias("cnt"))
    user_buckets = hashed.distinct()
    est = (
        user_buckets.join(F.broadcast(sketch), ["d", "b"])
        .groupBy("user_id")
        .agg(F.min("cnt").cast("long").alias("est_n"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return exact.join(est, "user_id").select("user_id", "exact_n", "est_n")


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch — count-min's sibling for
# cardinality: hash every key into [0, 2^60), keep the K smallest hashes
# per group (mergeable: min-heap union), estimate distinct = (K-1) *
# 2^60 / kth_smallest. KMV over the portable md5 hash is
# bit-deterministic, so the ESTIMATE itself oracle-checks — the sketch
# discipline this engine applies everywhere: approximate answers, exact
# reproducibility (hll_distinct_users below applies the same discipline
# to HyperLogLog by building its registers from the portable hash).
# --------------------------------------------------------------------------
KMV_K = 32
_KMV_DOMAIN = 1 << 60

from cliqz_etl_spark.functions.hashing import md5_long_sql as _md5_long_sql  # noqa: E402

_KMV_H = _md5_long_sql("user_id")


@query(
    "kmv_distinct_users",
    oracle=f"""
    WITH hashed AS (
        -- NULL users are no user (fuzz-pinned, the kmv_set_algebra
        -- contract): md5(NULL) is NULL, the engines sort NULL hashes to
        -- opposite window ends, and a bounded sketch has no slot for a
        -- keyless row — filtered identically on both sides
        SELECT DISTINCT event_type,
               {_KMV_H} AS h
        FROM events
        WHERE user_id IS NOT NULL
    ), ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_distinct
        FROM hashed
    )
    SELECT event_type AS event_type,
           CAST(CASE WHEN n_distinct >= {KMV_K}
                     THEN floor(CAST({KMV_K} - 1 AS DOUBLE) * {_KMV_DOMAIN} / CAST(h AS DOUBLE) + 0.5)
                     ELSE n_distinct END AS BIGINT) AS est_distinct,
           CAST(n_distinct AS BIGINT) AS exact_distinct
    FROM ranked
    WHERE rn = CASE WHEN n_distinct >= {KMV_K} THEN {KMV_K} ELSE n_distinct END
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a K=32 minimum-values sketch,
    beside the exact count. Groups with fewer than K distinct keys fall
    back to the exact small-set count (the sketch stores the keys
    themselves below K — standard KMV behavior).

    Plan shape (round-11 rebuild): the sketch is kmin_hashes' mergeable
    bounded-state pass — one Arrow stage holding K values per (task,
    type), then K-of-the-bounded-union — and the exact count is a
    partially-aggregated count(DISTINCT). NOTHING here sorts a
    data-sized partition: the old build's row_number window partitioned
    by the 5-value event_type funneled every distinct hash of a type
    into one task (the round-10 scale flag)."""
    from cliqz_etl_spark.functions.hashing import md5_long
    from cliqz_etl_spark.operators.stats import kmin_hashes

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull())
    hashed = ev.select("event_type", md5_long(F.col("user_id")).alias("h"))
    exact = hashed.groupBy("event_type").agg(
        F.countDistinct("h").alias("n_distinct"))
    # kth smallest per type from the bounded sketch (= the largest value
    # the K-truncated sketch retains; below K distinct the sketch holds
    # all of them and est falls back to the exact count anyway)
    sketch = (kmin_hashes(hashed, "event_type", "h", KMV_K)
              .groupBy("event_type").agg(F.max("h").alias("h")))
    est = (F.when(F.col("n_distinct") >= KMV_K,
                  F.floor(F.lit(float(KMV_K - 1)) * _KMV_DOMAIN
                          / F.col("h").cast("double") + 0.5))
           .otherwise(F.col("n_distinct")))
    # null-safe join key: a NULL event_type is still a group (fuzz-pinned)
    # and a plain equi-join would silently drop it
    return (
        exact.join(F.broadcast(sketch),
                   exact["event_type"].eqNullSafe(sketch["event_type"]))
        .select(exact["event_type"],
                est.cast("long").alias("est_distinct"),
                F.col("n_distinct").cast("long").alias("exact_distinct"))
    )


# --------------------------------------------------------------------------
# HyperLogLog — THE production cardinality sketch (constant 64-register
# state per group vs KMV's K values), made engine-portable by building
# registers from the md5 hash family: register = h % 64, and rho =
# leading-zero count of the remaining 54 bits + 1 computed EXACTLY via
# length(bin(h2)) (bin() renders the same minimal binary string on both
# engines, bin(0) = '0'). The register table is one groupBy MAX — the
# mergeable-sketch shape: partial max per map task IS the HLL merge, so
# at 100 TB every executor ships 64 small ints per group, nothing else.
# The harmonic sum stays exact-integer (terms 2^(57-rho) in BIGINT,
# 63 registers x 2^57 < 2^63); the only floats are one division of exact
# integers and the standard linear-counting ln() fallback for sparse
# registers, both IEEE-identical cross-engine on identical inputs.
# --------------------------------------------------------------------------
HLL_M = 64                      # registers; alpha_64 = 0.709 (Flajolet)
_HLL_SCALE = 1 << 57            # harmonic terms scaled to integers


def _hll_est_sql(s: str, n_present: str) -> str:
    """Shared estimate expression: raw HLL with the linear-counting
    small-range correction (V = empty registers)."""
    raw = (f"(0.709 * {HLL_M * HLL_M}) * CAST({_HLL_SCALE} AS DOUBLE)"
           f" / CAST({s} + ({HLL_M} - {n_present}) * {_HLL_SCALE} AS DOUBLE)")
    v = f"({HLL_M} - {n_present})"
    return (f"CAST(floor(CASE WHEN {raw} <= {2.5 * HLL_M} AND {v} > 0"
            f" THEN {HLL_M} * ln({HLL_M}.0 / {v}) ELSE {raw} END + 0.5)"
            f" AS BIGINT)")


@query(
    "hll_distinct_users",
    oracle=f"""
    WITH hashed AS (
        SELECT event_type, {_md5_long_sql("user_id")} AS h
        FROM events WHERE user_id IS NOT NULL
    ), split AS (
        SELECT event_type, h % {HLL_M} AS r, h // {HLL_M} AS h2 FROM hashed
    ), regs AS (
        SELECT event_type, r,
               MAX(CASE WHEN h2 = 0 THEN 55
                        ELSE 55 - length(bin(h2)) END) AS mr
        FROM split GROUP BY event_type, r
    ), per_type AS (
        SELECT event_type,
               SUM(CAST(1 AS BIGINT) << (57 - mr)) AS s,
               COUNT(*) AS n_present
        FROM regs GROUP BY event_type
    ), exact AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT p.event_type AS event_type,
           {_hll_est_sql("s", "n_present")} AS est_distinct,
           e.exact_distinct AS exact_distinct
    FROM per_type p JOIN exact e ON p.event_type IS NOT DISTINCT FROM e.event_type
    """,
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a 64-register HyperLogLog beside
    the exact count. Two map-side-combined aggregations (register max,
    then per-type fold over <= 64 rows); the estimate is pure expression
    arithmetic on the folded integers."""
    from cliqz_etl_spark.functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    split = (ev.select("event_type", md5_long(F.col("user_id")).alias("h"))
             .select("event_type", (F.col("h") % HLL_M).alias("r"),
                     F.expr(f"h div {HLL_M}").alias("h2")))
    regs = split.groupBy("event_type", "r").agg(
        F.max(F.when(F.col("h2") == 0, F.lit(55))
              .otherwise(F.lit(55) - F.length(F.expr("bin(h2)")))).alias("mr"))
    per_type = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 57 - mr)")).alias("s"),
        F.count(F.lit(1)).alias("n_present"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    est = F.expr(_hll_est_sql("s", "n_present"))
    # null-safe join: a NULL event_type is a real group on both engines
    return (per_type.join(exact,
                          per_type["event_type"].eqNullSafe(
                              exact["event_type"]))
            .select(per_type["event_type"].alias("event_type"),
                    est.alias("est_distinct"), "exact_distinct"))


# --------------------------------------------------------------------------
# Skew-path operators registered for the correctness gate: salted results
# must be IDENTICAL to their unsalted oracles — the salt exists only in
# the physical plan (spreads one hot key across reducers), never in the
# answer. See operators/relational.py salted_count / salted_join and
# tests/test_scale_ops.py for the equivalence micro-tests.
# --------------------------------------------------------------------------
@query(
    "salted_event_counts",
    oracle="""
    SELECT event_type AS event_type, COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted count over the 5-value event_type key — the
    low-cardinality grouping where a single hot reducer otherwise absorbs
    the whole table."""
    from cliqz_etl_spark.operators.relational import salted_count

    return salted_count(load_table(spark, sf_dir, "events"), "event_type")


@query(
    "salted_join_value_by_type",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT event_type, CAST(length(event_type) AS INT) AS type_len
        FROM events
    )
    SELECT d.type_len AS type_len,
           CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents,
           COUNT(*) AS n
    FROM events e JOIN dim d USING (event_type)
    GROUP BY d.type_len
    """,
)
def salted_join_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (dim replicated per salt bucket) feeding an
    aggregate — hash-identical to the plain join, but no single reducer
    ever owns a whole hot key's rows."""
    from cliqz_etl_spark.operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.select("event_type").distinct().withColumn(
        "type_len", F.length("event_type").cast("int"))
    joined = salted_join(ev, dim, "event_type")
    return joined.groupBy("type_len").agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long").alias("value_cents"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Mergeable fixed-bin histogram quantiles — the deterministic cousin of
# t-digest/GK for 100 TB: bin counts are plain sums (map-side combinable,
# mergeable across partitions/days), and the estimate picks the first bin
# whose cumulative count crosses ceil(q * total) using INTEGER arithmetic
# only (cum*100 >= q*total), so Spark and DuckDB agree bit-for-bit. The
# first groupBy collapses the fact to (type x bin) rows; everything after
# runs on that tiny table.
# --------------------------------------------------------------------------
_HQ_BIN_CENTS = 500


@query(
    "histogram_quantiles",
    oracle=f"""
    WITH bins AS (
        SELECT event_type,
               CAST(floor(CAST(floor(value * 100 + 0.5) AS BIGINT) / {_HQ_BIN_CENTS}) AS BIGINT) AS bin,
               COUNT(*) AS n
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, bin, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS c,
               SUM(n) OVER (PARTITION BY event_type) AS total
        FROM bins
    )
    SELECT event_type AS event_type,
           MIN(CASE WHEN c * 100 >= 50 * total THEN (bin + 1) * {_HQ_BIN_CENTS} END) AS p50_ub_cents,
           MIN(CASE WHEN c * 100 >= 90 * total THEN (bin + 1) * {_HQ_BIN_CENTS} END) AS p90_ub_cents,
           MIN(CASE WHEN c * 100 >= 99 * total THEN (bin + 1) * {_HQ_BIN_CENTS} END) AS p99_ub_cents
    FROM cum GROUP BY event_type
    """,
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 upper-bound estimates from a 5-dollar-bin histogram.
    Max error = one bin width, traded for a sketch that merges with a
    single integer sum per bin. NULL values carry no bin and are excluded
    on both sides (fuzz-pinned: a NULL bin sorts to opposite cumulative
    ends per engine, shifting every quantile after it)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    bins = (
        ev.select("event_type", F.floor(cents / _HQ_BIN_CENTS).cast("long").alias("bin"))
        .groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("n"))
    )
    wc = (Window.partitionBy("event_type").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("event_type")
    cum = bins.select(
        "event_type", "bin", "n",
        F.sum("n").over(wc).alias("c"),
        F.sum("n").over(wt).alias("total"),
    )

    def est(q: int, name: str):
        return F.min(
            F.when(F.col("c") * 100 >= q * F.col("total"),
                   (F.col("bin") + 1) * _HQ_BIN_CENTS)
        ).alias(name)

    return cum.groupBy("event_type").agg(
        est(50, "p50_ub_cents"), est(90, "p90_ub_cents"), est(99, "p99_ub_cents"))


# --------------------------------------------------------------------------
# Incremental aggregation: the daily-partials -> monthly-rollup merge.
# The partial table is what an incremental pipeline PERSISTS each day
# (mergeable integer state, same discipline as the sketches above); the
# monthly report is a re-aggregation of partials only — the raw fact is
# never rescanned. The oracle aggregates the raw facts directly, proving
# the partial-merge is exactly associative.
# --------------------------------------------------------------------------
@query(
    "incremental_monthly_rollup",
    oracle="""
    SELECT strftime(ts, '%Y-%m') AS month, event_type AS event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents,
           COUNT(DISTINCT user_id) AS n_users_lb
    FROM events GROUP BY 1, 2
    """,
)
def incremental_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds the per-day partial state table, then produces the monthly
    answer purely from partials. Counts and sums merge exactly; the
    distinct-user count is carried as per-day HLL-style exact sets ONLY
    within the partial (collect_set per day would not merge by sum), so
    the monthly distinct is recomputed from day-level (day, user) pairs —
    still never touching the raw fact twice."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    day_user = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        "event_type", "user_id", cents.alias("cents"),
    )
    daily = day_user.groupBy("day", "month", "event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("vc"))
    return (
        daily.groupBy("month", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("vc").cast("long").alias("value_cents"),
            F.countDistinct("user_id").alias("n_users_lb"),
        )
    )


@query(
    "rank_fraction_family",
    oracle="""
    SELECT o_orderkey AS o_orderkey, o_custkey AS o_custkey,
           CAST(floor(percent_rank() OVER w * 10000 + 0.5) AS BIGINT) AS pct_rank_x10k,
           CAST(floor(cume_dist() OVER w * 10000 + 0.5) AS BIGINT) AS cume_dist_x10k,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_best_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def rank_fraction_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / nth_value over one shared window — the
    fractional half of the ranking family (rank/dense_rank/ntile live in
    order_rank_family). Fractions are (rank-1)/(n-1) and rank/n on exact
    integers, quantized with the floor(x*10000+0.5) discipline."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey", "o_custkey",
        F.floor(F.percent_rank().over(w) * 10000 + F.lit(0.5))
        .cast("long").alias("pct_rank_x10k"),
        F.floor(F.cume_dist().over(w) * 10000 + F.lit(0.5))
        .cast("long").alias("cume_dist_x10k"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_best_order"),
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection with INTEGER-EXACT flagging. The
# 2-sigma test z^2 > 4 on a trailing window rearranges to
# (n*x - S)^2 > 4*(n*Q - S^2) with S = trailing sum, Q = trailing sum of
# squares — all integers, so the flag never sits on a float boundary and
# both engines agree exactly. Mergeable state (n, S, Q) is the same
# integer-moment discipline as price_quantity_corr.
# --------------------------------------------------------------------------
@query(
    "anomalous_days",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), ctx AS (
        SELECT event_type, day, x,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS s,
               SUM(x * x) OVER w AS q
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type AS event_type, strftime(day, '%Y-%m-%d') AS day,
           x AS n_events,
           ((n * x - s) * (n * x - s) > 4 * (n * q - s * s)
            AND n >= 3) AS is_anomaly
    FROM ctx WHERE n >= 1
    """,
)
def anomalous_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event count sits >2 trailing-window sigmas from the
    7-day mean. One shuffle on event_type; the three window aggregates
    share a frame. NULL-ts rows are excluded on both sides (fuzz-pinned):
    a NULL day would sort to opposite window ends per engine, shifting
    every trailing frame after it."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-7, -1))
    ctx = daily.select(
        "event_type", "day", "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("q"),
    ).where(F.col("n") >= 1)
    dev = F.col("n") * F.col("x") - F.col("s")
    nvar = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return ctx.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").alias("n_events"),
        ((dev * dev > 4 * nvar) & (F.col("n") >= 3)).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# Bucketed-storage co-located join: pay the orderkey shuffle ONCE at write
# time, then every orders x lineitem join reads bucket-pairs with no
# Exchange on either side (plan contract asserted in
# tests/test_scale_ops.py::test_bucketed_join_has_no_shuffle and
# test_registered_bucketed_join_plan). The oracle joins the unbucketed
# tables — bucketing must change the PLAN, never the answer.
# --------------------------------------------------------------------------
@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order-year via a fact-fact join of two bucketed tables.

    Both sides are persisted bucketed+sorted on the orderkey (the join key
    of ~every fact-fact query in the schema), so the join itself plans with
    zero Exchange — the 100 TB strategy for a join that recurs across a
    query workload. The bucketed copies project only the needed columns
    (column pruning at WRITE time, not just scan time).
    """
    import hashlib

    from cliqz_etl_spark.operators.relational import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    line = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice", "l_discount")
    write_bucketed(orders, f"bkt_orders_{tag}", "o_orderkey", 8,
                   sort_by="o_orderkey")
    write_bucketed(line, f"bkt_lineitem_{tag}", "o_orderkey", 8,
                   sort_by="o_orderkey")
    j = spark.table(f"bkt_orders_{tag}").join(
        spark.table(f"bkt_lineitem_{tag}"), "o_orderkey")
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        * 100 + F.lit(0.5)).cast("long")
            ).cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution: each purchase splits 1,000,000 micro-
# credits equally across the user's touch events (click/view/signup) in
# the preceding 24 h. The touch-purchase pairing is the bucketed range
# join (purchase probes its own 24 h bucket + the previous one, so a
# power user never goes quadratic); credit arithmetic is integer-exact
# (floor(1e6/n) per touch) so both engines agree to the last credit.
# --------------------------------------------------------------------------
@query(
    "linear_attribution",
    oracle="""
    WITH touches AS (
        SELECT user_id, ts, event_type AS channel FROM events
        WHERE event_type IN ('click', 'view', 'signup')
    ), purch AS (
        SELECT user_id, event_id AS purchase_id, ts FROM events
        WHERE event_type = 'purchase'
    ), per AS (
        SELECT p.purchase_id, t.channel, COUNT(*) AS c
        FROM purch p JOIN touches t
          ON t.user_id = p.user_id
         AND CAST(date_diff('second', t.ts, p.ts) AS BIGINT) BETWEEN 1 AND 86400
        GROUP BY 1, 2
    ), withn AS (
        SELECT channel, c, SUM(c) OVER (PARTITION BY purchase_id) AS n
        FROM per
    )
    SELECT channel AS channel,
           CAST(SUM(c * CAST(floor(1000000.0 / n) AS BIGINT)) AS BIGINT)
               AS credit_micros,
           CAST(SUM(c) AS BIGINT) AS n_touches
    FROM withn GROUP BY 1
    """,
)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel linear attribution credit over a 24 h lookback."""
    ev = load_table(spark, sf_dir, "events")
    t_bucket = F.floor(F.col("ts").cast("long") / 86400)
    touches = ev.where(F.col("event_type").isin("click", "view", "signup")).select(
        "user_id",
        F.col("ts").cast("long").alias("t_sec"),
        F.col("event_type").alias("channel"),
        t_bucket.alias("bkt"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("long").alias("p_sec"),
        F.explode(F.array(t_bucket - 1, t_bucket)).alias("bkt"),
    )
    gap = F.col("p_sec") - F.col("t_sec")
    per = (
        purch.join(touches, ["user_id", "bkt"])
        .where(gap.between(1, 86400))
        .groupBy("purchase_id", "channel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wn = Window.partitionBy("purchase_id")
    withn = per.withColumn("n", F.sum("c").over(wn))
    share = F.floor(F.lit(1000000.0) / F.col("n")).cast("long")
    return (
        withn.groupBy("channel")
        .agg(
            F.sum(F.col("c") * share).cast("long").alias("credit_micros"),
            F.sum("c").cast("long").alias("n_touches"),
        )
    )


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences: P(next=b | cur=a)
# as integer parts-per-million. ONE window pass builds the bigrams (the
# (user, ts) sort is the only shuffle; the two tiny grouped aggs that
# follow combine map-side), so at 100 TB this is a single sort-shuffle of
# the event log — the same cost as any sessionization pass.
# --------------------------------------------------------------------------
@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ), pair AS (
        SELECT cur, nxt, COUNT(*) AS n_pairs FROM seq
        WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT cur AS cur, nxt AS nxt,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(floor(n_pairs * 1000000.0 / n_cur) AS BIGINT) AS p_ppm
    FROM (
        SELECT p.cur, p.nxt, p.n_pairs,
               SUM(p.n_pairs) OVER (PARTITION BY p.cur) AS n_cur
        FROM pair p
    )
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event transition counts and probabilities (integer ppm).
    NULL-ts / NULL-type events are excluded on both sides (fuzz-pinned):
    a transition from or to an unknown state or at an unknown time is
    meaningless, and NULL ordering would differ per engine anyway."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pair = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    wc = Window.partitionBy("cur")
    return pair.select(
        "cur", "nxt",
        F.col("n_pairs").cast("long"),
        F.floor(F.col("n_pairs") * 1000000.0 / F.sum("n_pairs").over(wc))
        .cast("long").alias("p_ppm"),
    )


# --------------------------------------------------------------------------
# ORC source/sink gate: the second columnar format Spark core ships
# (Hive-estate interchange). The query round-trips lineitem through a
# PARTITIONED ORC layout (partitioned by l_returnflag — the partition
# column leaves the data files and comes back from directory names, the
# layout detail most likely to corrupt a migration) and aggregates the
# read-back side; the oracle aggregates the original parquet. Equality
# proves write->partition->read preserves every row and value. io.py:50/68
# (read_orc/write_orc) are the operators under test.
# --------------------------------------------------------------------------
@query(
    "orc_roundtrip_revenue",
    oracle="""
    SELECT l_returnflag AS l_returnflag, COUNT(*) AS n_items,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY 1
    """,
)
def orc_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> partitioned ORC -> scan -> per-returnflag rollup; the
    ORC scan carries the same pushdown contract as parquet (row-group
    stats + bloom filters), so the write is partitioned by the query's
    own group key and the read prunes nothing away that the oracle sees."""
    import hashlib
    import os
    import shutil
    import tempfile

    from cliqz_etl_spark.io import read_orc, write_orc

    li = load_table(spark, sf_dir, "lineitem")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"cliqz_orc_rt_{tag}")
    # The session pins partitionOverwriteMode=dynamic, so a bare overwrite
    # only replaces partitions present in the *current* corpus — if the
    # testdata at this sf_dir is regenerated between rounds, stale
    # l_returnflag partitions would survive and leak into the read-back.
    # Wipe the scratch dir so the round-trip always sees exactly this run.
    shutil.rmtree(out, ignore_errors=True)
    # NULL partition values land in __HIVE_DEFAULT_PARTITION__ and must
    # come back as NULL, not the literal directory name — part of the gate
    projected = li.select("l_orderkey", "l_quantity", "l_extendedprice",
                          "l_discount", "l_returnflag")
    write_orc(projected, out, partition_by=["l_returnflag"])
    # explicit schema, never inference: an empty corpus writes a
    # partition-less dataset (schema inference would throw), and at
    # 100 TB the listing for inference is a full extra metadata pass
    back = read_orc(spark, out, schema=projected.schema)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                          * 100 + F.lit(0.5)).cast("long"))
            .cast("long").alias("revenue_cents"),
            F.sum(F.col("l_quantity").cast("long")).cast("long")
            .alias("total_qty"),
        )
    )


# --------------------------------------------------------------------------
# Schema evolution: a dataset written over time grows columns. Batch A
# (orders before 1998-01-01) lacks o_orderpriority entirely; batch B
# (the rest) carries it. The scan unions the files with mergeSchema, so
# old rows surface NULL for the late-added column — the evolution
# semantics every long-lived 100 TB dataset depends on (never a rewrite
# of old files). The rollup distinguishes "column absent" rows from
# "column present" rows; the oracle replays the cutoff on the original
# table, so an engine that confused absent-with-default or dropped old
# files diverges immediately.
# --------------------------------------------------------------------------
@query(
    "schema_evolution_union",
    oracle="""
    SELECT (o_orderdate >= TIMESTAMP '1998-01-01') AS has_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                      THEN o_orderpriority END) AS n_with_priority
    FROM orders
    WHERE o_orderdate IS NOT NULL
    GROUP BY 1
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes the two-epoch layout (old files narrow, new files wide) to a
    scratch dir, then reads the whole dataset back with mergeSchema and
    aggregates per epoch. NULL o_orderdate rows are excluded symmetrically
    — epoch membership is undefined for them."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"cliqz_schevo_{tag}")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull())
    cutoff = F.lit("1998-01-01").cast("timestamp")
    old = orders.where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderdate")
    new = orders.where(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
    old.write.mode("overwrite").parquet(f"{base}/epoch=old")
    new.write.mode("overwrite").parquet(f"{base}/epoch=new")
    # explicit (wide) schema so an empty corpus — zero part files in both
    # epoch dirs — still reads as an empty frame instead of failing
    # schema inference; mergeSchema still unions real files' footers
    merged = (spark.read.option("mergeSchema", "true")
              .option("recursiveFileLookup", "true")
              .schema(new.schema).parquet(base))
    return (
        merged.groupBy((F.col("o_orderdate") >= cutoff).alias("has_priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                  .cast("long")).cast("long").alias("total_cents"),
            F.count("o_orderpriority").alias("n_with_priority"),
        )
    )


# --------------------------------------------------------------------------
# Single-pass observed write: data-quality metrics (row count, NULL
# counts, value bounds) computed BY the write job via df.observe — the
# 100 TB pattern for DQ without a second scan. The gate emits the
# observed metrics as the result row; the oracle computes the same
# aggregates declaratively, so the observation path itself is what is
# checked (a dropped or double-counted batch diverges).
# --------------------------------------------------------------------------
@query(
    "observed_write_metrics",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_prices,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_dates,
           CAST(SUM(CAST(floor(COALESCE(o_totalprice, 0) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    """,
)
def observed_write_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes orders to scratch parquet while observing four metrics in
    the write pass, then returns them as a one-row frame."""
    import hashlib
    import os
    import tempfile

    from cliqz_etl_spark.io import write_parquet

    orders = load_table(spark, sf_dir, "orders")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"cliqz_obs_{tag}")
    m = write_parquet(
        orders, out,
        metrics={
            "null_prices": F.sum(F.col("o_totalprice").isNull().cast("long")),
            "null_dates": F.sum(F.col("o_orderdate").isNull().cast("long")),
            "total_cents": F.sum(
                F.floor(F.coalesce(F.col("o_totalprice"), F.lit(0.0)) * 100
                        + F.lit(0.5)).cast("long")).cast("long"),
        })
    # SQL SUM over zero rows is NULL; the observed metrics surface the
    # same way (None) and must STAY NULL — int(None) was the empty-corpus
    # crash, and coercing to 0 would diverge from the oracle's NULL row
    def _i(x):
        return None if x is None else int(x)

    return spark.createDataFrame(
        [(int(m["n_rows"]), _i(m["null_prices"]), _i(m["null_dates"]),
          _i(m["total_cents"]))],
        "n_rows long, null_prices long, null_dates long, total_cents long")


# --------------------------------------------------------------------------
# Custom-sink roundtrip: documents written through the jsonl_shards
# Python DataSource WRITER (per-task staged shards -> driver commit
# renames + _SUCCESS manifest -> abort leaves nothing), read back as
# JSON, and aggregated — proving the commit protocol delivers exactly
# the input rows. Pairs with sources/synthetic.py to cover all four
# quadrants of the Python DataSource API (batch/stream x read/write,
# stream-write via the foreachBatch sink).
# --------------------------------------------------------------------------
@query(
    "jsonl_sink_roundtrip",
    oracle="""
    SELECT lang AS lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_texts
    FROM documents GROUP BY 1
    """,
)
def jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL text must survive the JSON hop as null (json.dumps emits
    null; the schema'd read returns NULL) — part of the gate."""
    import hashlib
    import os
    import tempfile

    from cliqz_etl_spark.sources import JsonlShardDataSource

    try:
        spark.dataSource.register(JsonlShardDataSource)
    except Exception:
        pass
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"cliqz_jsink_{tag}")
    os.makedirs(out, exist_ok=True)
    docs.write.format("jsonl_shards").option("path", out).mode("overwrite").save()
    back = (spark.read
            .schema("doc_id long, text string, lang string, n_chars long")
            .json(out))
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("long").alias("total_chars"),
             F.sum(F.col("text").isNull().cast("long")).cast("long")
             .alias("null_texts"))
    )


# --------------------------------------------------------------------------
# Pointwise mutual information between event types at the user level —
# the association statistic behind co-occurrence embeddings (word2vec's
# SGNS objective factorizes a shifted PMI matrix) and market-basket
# lift. Universe = users with at least one typed event; c_x = users
# exhibiting type x, c_xy = users exhibiting both; PMI = ln(c_xy * N /
# (c_x * c_y)), quantized to milli per PAIR (the dsir ln discipline —
# the pair frame has at most |types|^2 rows, so quantization cost is
# nil and the integer output is engine-stable).
# --------------------------------------------------------------------------
@query(
    "event_pmi",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ), n AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
    ), cx AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY event_type
    ), cxy AS (
        SELECT a.event_type AS x, b.event_type AS y,
               CAST(count(*) AS BIGINT) AS c_xy
        FROM ut a JOIN ut b ON b.user_id = a.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT cxy.x AS x, cxy.y AS y, cxy.c_xy AS c_xy,
           CAST(floor(1000 * ln(CAST(cxy.c_xy * n.n_users AS DOUBLE)
                                / CAST(fx.c * fy.c AS DOUBLE)) + 0.5) AS BIGINT)
               AS pmi_milli
    FROM cxy
    JOIN cx fx ON fx.event_type = cxy.x
    JOIN cx fy ON fy.event_type = cxy.y
    CROSS JOIN n
    """,
)
def event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI over co-occurring event types per user.

    Plan shape: one distinct (user, type) pass — the only corpus-sized
    shuffle; the per-user self-join explodes to at most
    |types-per-user|^2 rows (bounded by the closed type vocabulary, not
    by event volume); marginals and the user count are tiny aggregates
    broadcast into the final pair frame. The persisted distinct frame
    feeds three consumers (self-join sides, marginals, user count) so
    the corpus is scanned once."""
    from cliqz_etl_spark.operators.dedup import _materialize

    ev = load_table(spark, sf_dir, "events")
    ut = _materialize(
        ev.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type").distinct())
    n = ut.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    cx = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("x"))
    b = ut.select("user_id", F.col("event_type").alias("y"))
    cxy = (a.join(b, "user_id")
           .where(F.col("x") < F.col("y"))
           .groupBy("x", "y")
           .agg(F.count(F.lit(1)).cast("long").alias("c_xy")))
    fx = cx.select(F.col("event_type").alias("x"), F.col("c").alias("cfx"))
    fy = cx.select(F.col("event_type").alias("y"), F.col("c").alias("cfy"))
    return (cxy.join(F.broadcast(fx), "x").join(F.broadcast(fy), "y")
            .crossJoin(F.broadcast(n))
            .select("x", "y", "c_xy",
                    F.floor(1000 * F.log(
                        (F.col("c_xy") * F.col("n_users")).cast("double")
                        / (F.col("cfx") * F.col("cfy")).cast("double"))
                        + F.lit(0.5)).cast("long").alias("pmi_milli")))


# --------------------------------------------------------------------------
# Sketch-based join-cardinality estimation — the optimizer statistic
# behind join reordering at 100 TB, where computing the real join size
# costs the join itself. The CountMin inner product Sum_b cmA[d][b] *
# cmB[d][b] upper-bounds the true size Sum_k nA(k)*nB(k) for every hash
# row (collisions only ADD cross terms), so min over depths is the
# classic one-pass estimate. Built from the same seeded-md5 4x256 sketch
# as countmin_user_counts, so even the collisions are deterministic and
# the ESTIMATE itself oracle-checks exactly — the output carries the
# exact size beside it, making the over-estimation bound a tested
# invariant, not a comment.
# --------------------------------------------------------------------------
@query(
    "join_size_estimate",
    oracle=f"""
    WITH ev AS (
        SELECT user_id AS k FROM events WHERE user_id IS NOT NULL
    ), ord AS (
        SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
    ), se AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {d} AS d, {_cms_bucket_sql('k', d)} AS b FROM ev"
                for d in range(CMS_DEPTH))}
        ) GROUP BY d, b
    ), so AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS cnt FROM (
            {" UNION ALL ".join(
                f"SELECT {d} AS d, {_cms_bucket_sql('k', d)} AS b FROM ord"
                for d in range(CMS_DEPTH))}
        ) GROUP BY d, b
    ), ip AS (
        SELECT se.d, CAST(sum(se.cnt * so.cnt) AS BIGINT) AS est
        FROM se JOIN so ON so.d = se.d AND so.b = se.b GROUP BY se.d
    ), est AS (
        SELECT CAST(COALESCE(min(est), 0) AS BIGINT) AS est_pairs FROM ip
    ), ex AS (
        SELECT CAST(COALESCE(sum(a.n * b.n), 0) AS BIGINT) AS exact_pairs
        FROM (SELECT k, count(*) AS n FROM ev GROUP BY k) a
        JOIN (SELECT k, count(*) AS n FROM ord GROUP BY k) b USING (k)
    )
    SELECT ex.exact_pairs, est.est_pairs,
           CAST(CASE WHEN ex.exact_pairs = 0 THEN NULL
                ELSE ((est.est_pairs - ex.exact_pairs) * 1000000)
                     // ex.exact_pairs END AS BIGINT) AS over_ppm
    FROM ex CROSS JOIN est
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|events >< orders| on the user/customer key: exact vs CountMin.

    Plan shape: each side collapses to a <= D*W-row sketch in one
    map-side-combined aggregate (the D-fold bucket explode is scan-side);
    the inner product joins two sketch-sized frames; the exact size
    joins two KEY-COUNT frames (not the fact tables). Nothing
    corpus-sized crosses the network twice, and the estimate path never
    touches a corpus-sized join at all — which is the point: the
    estimator costs two scans regardless of how large the join it
    predicts would be."""
    from cliqz_etl_spark.operators.dedup import _materialize

    D = CMS_DEPTH
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    evk = _materialize(ev.where(F.col("user_id").isNotNull())
                       .select(F.col("user_id").alias("k")))
    ordk = _materialize(orders.where(F.col("o_custkey").isNotNull())
                        .select(F.col("o_custkey").alias("k")))

    def sketch(df):
        buckets = F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"), _cms_bucket(F.col("k"), d).alias("b"))
            for d in range(D)])).alias("x")
        return (df.select(buckets)
                .groupBy(F.col("x.d").alias("d"), F.col("x.b").alias("b"))
                .agg(F.count(F.lit(1)).alias("cnt")))

    se = sketch(evk)
    so = (sketch(ordk).select(F.col("d").alias("d2"), F.col("b").alias("b2"),
                              F.col("cnt").alias("cnt2")))
    ip = (se.join(so, (F.col("d") == F.col("d2")) & (F.col("b") == F.col("b2")))
          .groupBy("d").agg(F.sum(F.col("cnt") * F.col("cnt2")).alias("est")))
    est = ip.agg(F.coalesce(F.min("est"), F.lit(0)).cast("long").alias("est_pairs"))
    a = evk.groupBy("k").agg(F.count(F.lit(1)).alias("na"))
    b = ordk.groupBy("k").agg(F.count(F.lit(1)).alias("nb"))
    ex = (a.join(b, "k")
          .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
               .cast("long").alias("exact_pairs")))
    return (ex.crossJoin(F.broadcast(est))
            .select("exact_pairs", "est_pairs",
                    F.when(F.col("exact_pairs") == 0, F.lit(None).cast("long"))
                    .otherwise(F.expr(
                        "((est_pairs - exact_pairs) * 1000000) div exact_pairs"))
                    .cast("long").alias("over_ppm")))


# --------------------------------------------------------------------------
# Exact heavy hitters by two-pass Misra-Gries: pass 1 streams each
# partition through k=32 counters (operators/stats.py:mg_candidates — a
# model-sized candidate union that provably contains every key with
# global count > n/k regardless of partitioning); pass 2 exact-counts
# candidates only, behind a broadcast semi-filter, and keeps cnt*k > n.
# The oracle is a plain GROUP BY + HAVING — a different algorithm, so
# the hash match is evidence the screen loses nothing. At 100 TB this
# is how frequent-term extraction runs when the vocabulary itself
# (URLs, n-grams, user ids) cannot be grouped wholesale: the first pass
# holds 32 counters per task, the shuffle carries candidates only.
# --------------------------------------------------------------------------
HH_K = 32


@query(
    "heavy_hitters_exact",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
    SELECT w AS term, CAST(count(*) AS BIGINT) AS cnt
    FROM tok CROSS JOIN tot
    GROUP BY w, tot.n
    HAVING count(*) * {HH_K} > tot.n
    """,
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms with frequency > n/32 over the document corpus, exactly.

    Plan shape: mapInPandas candidate screen (k counters/partition, no
    shuffle) → broadcast the candidate union into the token scan →
    map-side-combined groupBy over candidates only → 1-row corpus total
    broadcast back for the threshold. Deterministic despite the
    partition-dependent intermediate: the exact pass decides."""
    from cliqz_etl_spark.operators.dedup import _materialize
    from cliqz_etl_spark.operators.stats import mg_candidates
    from cliqz_etl_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = _materialize(
        docs.where(F.trim(F.col("text")) != "")
        .select(F.explode(tokens("text")).alias("w")))
    n = tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cand = mg_candidates(tok, "w", HH_K)
    return (tok.join(F.broadcast(cand), "w", "left_semi")
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .crossJoin(F.broadcast(n))
            .where(F.col("cnt") * HH_K > F.col("n"))
            .select(F.col("w").alias("term"), "cnt"))


# --------------------------------------------------------------------------
# Pareto frontier (skyline): parts where no other part is both cheaper-
# or-equal AND larger-or-equal with one strict — the classic 2-D skyline
# (Borzsony et al. 2001). The Spark shape is the O(n log n) sweep, not
# the O(n^2) dominance join: collapse to one row per distinct price
# (max size), take the EXCLUSIVE running max of size over ascending
# price via the partition-parallel two-pass scheme (ranged_cummax — no
# single-task global sort), and a part survives iff its size beats every
# strictly-cheaper part's max AND equals its own price's max. The oracle
# is the quadratic NOT EXISTS dominance predicate — a genuinely
# different algorithm, so the hash match tests the sweep's logic.
# --------------------------------------------------------------------------
@query(
    "pareto_frontier",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS p_size
        FROM part
        WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT a.p_partkey AS p_partkey, a.price_cents AS price_cents,
           a.p_size AS p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE (b.price_cents < a.price_cents AND b.p_size >= a.p_size)
           OR (b.price_cents <= a.price_cents AND b.p_size > a.p_size)
    )
    """,
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts on the (min price, max size) Pareto frontier.

    Plan shape: groupBy(price) pre-aggregation (map-side combined),
    ranged_cummax's two range-parallel windows + broadcast offsets, one
    shuffle join back to the fact rows on price. Nothing ever sorts the
    corpus in one task; dominance never materializes as pairs."""
    from cliqz_etl_spark.operators.stats import ranged_cummax

    part = load_table(spark, sf_dir, "part")
    p = (part.where(F.col("p_retailprice").isNotNull()
                    & F.col("p_size").isNotNull())
         .select("p_partkey",
                 F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
                 .cast("long").alias("price_cents"),
                 F.col("p_size").cast("long").alias("p_size")))
    m = p.groupBy("price_cents").agg(F.max("p_size").alias("msize"))
    curve = ranged_cummax(m, "price_cents", ["msize"], exclusive=True)
    return (p.join(curve, "price_cents")
            .where((F.col("p_size") == F.col("msize"))
                   & ((F.col("cummax_msize").isNull())
                      | (F.col("p_size") > F.col("cummax_msize"))))
            .select("p_partkey", "price_cents", "p_size"))


# --------------------------------------------------------------------------
# Poisson bootstrap — THE scalable bootstrap (Chamandy et al., "Estimating
# uncertainty for massive data streams", Google 2012): instead of B full
# resamples, each row draws an independent Poisson(1) replication count
# per resample, so B bootstrap aggregates compute in ONE pass with
# map-side combine into B groups — no data movement beyond a B-row
# shuffle. Deterministic and engine-portable: the draw inverts the
# Poisson(1) CDF at p = md5(key#b)/2^60, with the CDF thresholds baked
# as shared integer literals (floor(CDF_k * 2^60)); the per-resample
# mean is one double division of exact integer sums, identical IEEE
# text on both engines. Output: the full 32-resample bootstrap
# distribution of mean order value, rank-ordered — percentile CIs read
# straight off the ranks.
# --------------------------------------------------------------------------
BOOTSTRAP_B = 32
# floor(CDF_Poisson(1)(k) * 2^60) for k = 0..4; weight 5 beyond
_POIS_T = [424136118829305344, 848272237658610688, 1060340297073263360,
           1131029650211480832, 1148701988496035200]
_POIS_W = (f"CASE WHEN p < {_POIS_T[0]} THEN 0 WHEN p < {_POIS_T[1]} THEN 1 "
           f"WHEN p < {_POIS_T[2]} THEN 2 WHEN p < {_POIS_T[3]} THEN 3 "
           f"WHEN p < {_POIS_T[4]} THEN 4 ELSE 5 END")
_BOOT_MEAN = "CAST(floor(1000000.0 * s / n_resampled / 100.0 + 0.5) AS BIGINT)"


def _bootstrap_oracle() -> str:
    from cliqz_etl_spark.functions.hashing import md5_long_sql

    p = md5_long_sql("CAST(o_orderkey AS VARCHAR) || '#' || CAST(b AS VARCHAR)")
    return f"""
    WITH src AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
    ), expanded AS (
        SELECT t.b, {p} AS p, cents
        FROM src CROSS JOIN (SELECT unnest(range({BOOTSTRAP_B})) AS b) t
    ), agg AS (
        SELECT b, CAST(sum({_POIS_W}) AS BIGINT) AS n_resampled,
               CAST(sum({_POIS_W} * cents) AS BIGINT) AS s
        FROM expanded GROUP BY b
    )
    SELECT CAST(b AS BIGINT) AS b, n_resampled,
           {_BOOT_MEAN} AS mean_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY {_BOOT_MEAN} ASC, b ASC)
                AS BIGINT) AS rank
    FROM agg WHERE n_resampled > 0
    """


@query("bootstrap_ci_revenue", oracle=None)  # oracle attached below
def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-resample Poisson-bootstrap distribution of mean order value
    (micro-dollars), rank-ordered for percentile CIs.

    Plan shape: scan-side explode to (row, b) — a Bx map expansion that
    never shuffles — then ONE groupBy(b) whose map-side combine
    collapses every partition to B rows; the final rank window sees 32
    rows. At 100 TB this is the only bootstrap that works: B passes
    become one, and the network carries B x n_partitions partial rows."""
    from cliqz_etl_spark.functions.hashing import md5_long

    o = load_table(spark, sf_dir, "orders")
    src = (o.where(F.col("o_orderkey").isNotNull()
                   & F.col("o_totalprice").isNotNull())
           .select("o_orderkey",
                   F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                   .cast("long").alias("cents")))
    expanded = (src.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1))).alias("b"),
        "o_orderkey")
        .withColumn("p", md5_long(
            F.concat(F.col("o_orderkey").cast("string"), F.lit("#"),
                     F.col("b").cast("string")))))
    w = F.expr(_POIS_W)
    agg = (expanded.groupBy("b")
           .agg(F.sum(w).cast("long").alias("n_resampled"),
                F.sum(w * F.col("cents")).cast("long").alias("s")))
    ranked = (agg.where(F.col("n_resampled") > 0)
              .select(F.col("b").cast("long").alias("b"), "n_resampled",
                      F.expr(_BOOT_MEAN).alias("mean_micro")))
    win = Window.orderBy(F.asc("mean_micro"), F.asc("b"))
    return ranked.select(
        "b", "n_resampled", "mean_micro",
        F.row_number().over(win).cast("long").alias("rank"))


from cliqz_etl_spark.queries import REGISTRY as _REG2  # noqa: E402
import dataclasses as _dc2  # noqa: E402

_REG2["bootstrap_ci_revenue"] = _dc2.replace(
    _REG2["bootstrap_ci_revenue"], oracle=_bootstrap_oracle())


# --------------------------------------------------------------------------
# Interval union (sweep line) — the coverage shape: merge each customer's
# overlapping 30-day activity windows into maximal islands and measure
# covered days. Distinct from user_type_history's equality-run islands:
# here islands form wherever intervals OVERLAP, which needs the running
# max of interval ends (an interval can be swallowed by an earlier, longer
# one). All windows partition by customer — parallel at any scale; island
# assembly is one keyed groupBy with map-side combine.
# --------------------------------------------------------------------------
INTERVAL_SPAN_DAYS = 30


@query(
    "interval_union_days",
    oracle=f"""
    WITH iv AS (
        SELECT o_custkey AS custkey,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS s,
               CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                    + {INTERVAL_SPAN_DAYS} AS BIGINT) AS e
        FROM orders WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    ), marked AS (
        SELECT custkey, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY custkey ORDER BY s ASC, e ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL
                    OR s > max(e) OVER (
                        PARTITION BY custkey ORDER BY s ASC, e ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), islands AS (
        SELECT custkey,
               SUM(new_island) OVER (
                   PARTITION BY custkey ORDER BY s ASC, e ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
               s, e
        FROM marked
    ), merged AS (
        SELECT custkey, island,
               MIN(s) AS is_, MAX(e) AS ie
        FROM islands GROUP BY custkey, island
    )
    SELECT custkey AS custkey,
           CAST(SUM(ie - is_) AS BIGINT) AS covered_days,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(ie - is_) AS BIGINT) AS longest_island_days
    FROM merged GROUP BY custkey
    """,
)
def interval_union_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer union of overlapping 30-day order windows: total
    covered days, island count, longest island. One per-key window pass
    marks island starts against the running max end (the sweep line),
    a second assigns island ids, one groupBy merges."""
    o = load_table(spark, sf_dir, "orders")
    iv = (o.where(F.col("o_orderdate").isNotNull()
                  & F.col("o_custkey").isNotNull())
          .select(F.col("o_custkey").alias("custkey"),
                  F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
                  .cast("long").alias("s"))
          .withColumn("e", F.col("s") + INTERVAL_SPAN_DAYS))
    w = Window.partitionBy("custkey").orderBy(F.asc("s"), F.asc("e"))
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0))
    islands = marked.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    merged = (islands.groupBy("custkey", "island")
              .agg(F.min("s").alias("is_"), F.max("e").alias("ie")))
    return (merged.groupBy("custkey")
            .agg(F.sum(F.col("ie") - F.col("is_")).cast("long")
                 .alias("covered_days"),
                 F.count(F.lit(1)).cast("long").alias("n_islands"),
                 F.max(F.col("ie") - F.col("is_")).cast("long")
                 .alias("longest_island_days")))


# --------------------------------------------------------------------------
# Strict sequential funnel — the state-machine (CEP / MATCH_RECOGNIZE)
# shape funnel_counts deliberately simplifies away. funnel_counts keys
# each step to the FIRST event of its type, which undercounts: a view
# before signup hides a qualifying later view (min(t_view) < t_signup).
# The strict form advances per user through signup -> first view AFTER
# signup -> first purchase AFTER that view, plus a 30-day conversion
# window. Spark-first: ONE groupBy collects each user's (ts, type) pairs,
# sort_array orders them, and F.aggregate folds the state machine over
# the sorted list — a single exchange, the fold in JVM codegen; at 100 TB
# this is the minimal-shuffle sequence matcher (three chained
# conditional-min aggregations would scan-and-shuffle events three
# times). The fold equals the min-chain semantics the oracle states
# because processing in ts order makes each "first after" a running min.
# --------------------------------------------------------------------------
# shared with streaming_sequence_funnel (queries/streamq.py): the stateful
# streaming drain must agree with the SAME min-chain semantics.
SEQ_FUNNEL_ORACLE = """
    WITH t1 AS (
        -- user_id IS NOT NULL on BOTH engines: the oracle's equality
        -- joins would silently drop a NULL user from t2/t3 while a
        -- groupBy fold advances it — the hll/ab_test discipline
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' AND user_id IS NOT NULL
        GROUP BY user_id
    ), t2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN t1 ON t1.user_id = e.user_id
        WHERE e.event_type = 'view' AND e.ts > t1.t1
        GROUP BY e.user_id
    ), t3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN t2 ON t2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        GROUP BY e.user_id
    )
    SELECT CAST(COUNT(t1.t1) AS BIGINT) AS n_signup,
           CAST(COUNT(t2.t2) AS BIGINT) AS n_view_after,
           CAST(COUNT(t3.t3) AS BIGINT) AS n_purchase_after,
           CAST(COUNT(CASE WHEN t3.t3 <= t1.t1 + INTERVAL 30 DAY
                           THEN 1 END) AS BIGINT) AS n_converted_30d
    FROM t1 LEFT JOIN t2 ON t2.user_id = t1.user_id
            LEFT JOIN t3 ON t3.user_id = t1.user_id
    """


@query("sequence_funnel", oracle=SEQ_FUNNEL_ORACLE)
def sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> later view -> later purchase, 30-day window: one
    exchange, per-user state machine as a higher-order fold."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.where(F.col("ts").isNotNull()
                         & F.col("user_id").isNotNull()
                         & F.col("event_type").isin("signup", "view",
                                                    "purchase"))
                .groupBy("user_id")
                .agg(F.sort_array(F.collect_list(
                    F.struct(F.col("ts"), F.col("event_type").alias("et"))))
                    .alias("seq")))
    init = F.struct(
        F.lit(None).cast("timestamp").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.lit(None).cast("timestamp").alias("t3"))
    step = lambda a, e: F.struct(  # noqa: E731
        F.when(a["t1"].isNull() & (e["et"] == "signup"), e["ts"])
        .otherwise(a["t1"]).alias("t1"),
        F.when(a["t2"].isNull() & a["t1"].isNotNull()
               & (e["et"] == "view") & (e["ts"] > a["t1"]), e["ts"])
        .otherwise(a["t2"]).alias("t2"),
        F.when(a["t3"].isNull() & a["t2"].isNotNull()
               & (e["et"] == "purchase") & (e["ts"] > a["t2"]), e["ts"])
        .otherwise(a["t3"]).alias("t3"))
    st = per_user.select(F.aggregate("seq", init, step).alias("s"))
    return st.agg(
        F.count(F.col("s.t1")).cast("long").alias("n_signup"),
        F.count(F.col("s.t2")).cast("long").alias("n_view_after"),
        F.count(F.col("s.t3")).cast("long").alias("n_purchase_after"),
        F.count(F.when(
            F.col("s.t3") <= F.col("s.t1") + F.expr("INTERVAL 30 DAYS"),
            1)).cast("long").alias("n_converted_30d"))


# --------------------------------------------------------------------------
# Two-proportion z-test A/B analysis — the experimentation-analytics
# shape: hash-assign every user to a variant (deterministic md5 split,
# so both engines replay the assignment), measure a binary conversion,
# and compute the pooled two-proportion z statistic. One conditional
# aggregation over users; the statistic is expression arithmetic over
# exact integer counts (the only floats are divisions of exact ints and
# one sqrt — IEEE-identical cross-engine).
# --------------------------------------------------------------------------
def _ab_z_sql() -> str:
    """z = (p1 - p2) / sqrt(p(1-p)(1/n1 + 1/n2)), milli-quantized; NULL
    when a variant is empty or the pooled rate is degenerate (0 or 1)."""
    p1 = "(CAST(conv_a AS DOUBLE) / n_a)"
    p2 = "(CAST(conv_b AS DOUBLE) / n_b)"
    p = "(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
    return (f"CASE WHEN n_a > 0 AND n_b > 0"
            f" AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b"
            f" THEN CAST(floor(1000 * ({p1} - {p2})"
            f" / sqrt({p} * (1 - {p}) * (1.0 / n_a + 1.0 / n_b)) + 0.5)"
            f" AS BIGINT) END")


@query(
    "ab_test_ztest",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               {_md5_long_sql("user_id")} % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), cells AS (
        SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        FROM assigned
    )
    SELECT n_a, n_b, conv_a, conv_b,
           {_ab_z_sql()} AS z_milli,
           abs(COALESCE({_ab_z_sql()}, 0)) > 1960 AS significant
    FROM cells
    """,
)
def ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split A/B with purchase conversion and the pooled
    two-proportion z statistic (|z| > 1.96 at milli precision)."""
    from cliqz_etl_spark.functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    assigned = (ev.groupBy("user_id")
                .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("conv"))
                .select((md5_long(F.col("user_id")) % 2).alias("variant"),
                        "conv"))
    cells = assigned.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_b"))
    z = F.expr(_ab_z_sql())
    return cells.select(
        "n_a", "n_b", "conv_a", "conv_b",
        z.alias("z_milli"),
        (F.abs(F.coalesce(z, F.lit(0))) > 1960).alias("significant"))


# --------------------------------------------------------------------------
# CUSUM changepoint — where did the daily revenue level shift? The
# cumulative sum of MEAN-CENTERED deviations peaks (in absolute value)
# at the changepoint. Kept exact-integer by scaling: with n days and
# total T, dev_i = n*cents_i - T (integer), so CUSUM_i = n*prefix_i -
# i*T needs no division. The prefix rides ranged_cumsum (no single-task
# sort even though the daily frame is calendar-bounded); the argmax is
# one TakeOrderedAndProject over the daily frame.
# --------------------------------------------------------------------------
@query(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS t
        FROM daily
    ), cum AS (
        SELECT day,
               CAST(SUM(cents) OVER (ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS pre,
               CAST(ROW_NUMBER() OVER (ORDER BY day ASC) AS BIGINT) AS i
        FROM daily
    )
    SELECT day AS change_day,
           CAST(abs(tot.n * pre - i * tot.t) AS BIGINT) AS max_abs_cusum,
           tot.n AS n_days
    FROM cum CROSS JOIN tot
    ORDER BY abs(tot.n * pre - i * tot.t) DESC, day ASC
    LIMIT 1
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day of the maximal |CUSUM| of mean-centered daily revenue.
    Integer-exact via the n*prefix - i*total scaling (no division);
    prefix sums and day indexes come from one ranged_cumsum pass."""
    from cliqz_etl_spark.operators.stats import ranged_cumsum

    o = load_table(spark, sf_dir, "orders")
    from cliqz_etl_spark.operators.dedup import _materialize

    # materialized: the day frame feeds ranged_cumsum AND the totals
    # aggregate — unpersisted, the corpus groupBy behind it ran twice
    daily = _materialize(
        o.where(F.col("o_orderdate").isNotNull()
                & F.col("o_totalprice").isNotNull())
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                   .cast("long")).cast("long").alias("cents")))
    cum = ranged_cumsum(
        daily.withColumn("one", F.lit(1).cast("long")),
        "day", ["cents", "one"])
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("t"))
    scored = (cum.crossJoin(F.broadcast(tot))
              .select(F.col("day").alias("change_day"),
                      F.abs(F.col("n") * F.col("cum_cents")
                            - F.col("cum_one") * F.col("t"))
                      .cast("long").alias("max_abs_cusum"),
                      F.col("n").alias("n_days")))
    return (scored.orderBy(F.desc("max_abs_cusum"), F.asc("change_day"))
            .limit(1))


# --------------------------------------------------------------------------
# RFM customer segmentation — the classic lifecycle-marketing rollup:
# recency / frequency / monetary quintiles per customer, then a rule
# segment. Each quintile is an EXACT ntile(5) computed by
# operators/stats.ranged_ntile (range-repartitioned prefix ranks +
# ntile's closed-form bucket arithmetic) — three range exchanges over
# the customer-grain frame, never a single-task global sort. Quintile
# order keys are (metric, custkey), a unique composite, so ties are
# pinned identically on both engines.
# --------------------------------------------------------------------------
def _rfm_segment_sql() -> str:
    return ("CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4"
            " THEN 'champion'"
            " WHEN r_score <= 2 AND m_score >= 4 THEN 'at_risk_big_spender'"
            " WHEN f_score >= 4 THEN 'loyal'"
            " WHEN m_score >= 4 THEN 'big_spender'"
            " WHEN r_score >= 4 THEN 'recent'"
            " ELSE 'other' END")


@query(
    "rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey AS custkey,
               CAST(MAX(date_diff('day', DATE '1970-01-01', o_orderdate))
                    AS BIGINT) AS last_day,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sum_cents
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), scored AS (
        SELECT custkey, last_day, n_orders, sum_cents,
               CAST(ntile(5) OVER (ORDER BY last_day ASC, custkey ASC)
                    AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY n_orders ASC, custkey ASC)
                    AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY sum_cents ASC, custkey ASC)
                    AS BIGINT) AS m_score
        FROM cust
    )
    SELECT custkey, last_day, n_orders, sum_cents,
           r_score, f_score, m_score,
           {_rfm_segment_sql()} AS segment
    FROM scored
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quintiles + rule segment per customer;
    exact ntile(5) three times via ranged_ntile, no global window."""
    from cliqz_etl_spark.operators.stats import ranged_ntile

    o = load_table(spark, sf_dir, "orders")
    cust = (o.where(F.col("o_custkey").isNotNull()
                    & F.col("o_orderdate").isNotNull()
                    & F.col("o_totalprice").isNotNull())
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.max(F.datediff(F.to_date("o_orderdate"),
                                  F.lit("1970-01-01"))).cast("long")
                 .alias("last_day"),
                 F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                       .cast("long")).cast("long").alias("sum_cents")))
    scored = ranged_ntile(cust, ["last_day", "custkey"], 5, "r_score")
    scored = ranged_ntile(scored, ["n_orders", "custkey"], 5, "f_score")
    scored = ranged_ntile(scored, ["sum_cents", "custkey"], 5, "m_score")
    return scored.select(
        "custkey", "last_day", "n_orders", "sum_cents",
        "r_score", "f_score", "m_score",
        F.expr(_rfm_segment_sql()).alias("segment"))


# --------------------------------------------------------------------------
# Cohort LTV — weekly_retention's revenue-weighted sibling: customers
# cohorted by first-order month, then each (cohort, months-since) cell
# reports active customers, revenue, and revenue-per-cohort-customer.
# Two keyed aggregations and one customer-grain join; the cohort frame
# is customer-grain (broadcastable at dim scale, shuffled-keyed at fact
# scale — AQE's call), every cell aggregate map-side combines.
# --------------------------------------------------------------------------
@query(
    "cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey AS custkey,
               CAST(MIN((year(o_orderdate) - 1970) * 12
                        + month(o_orderdate) - 1) AS BIGINT) AS cohort_m
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL
        GROUP BY 1
    ), sizes AS (
        SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY 1
    ), cells AS (
        SELECT f.cohort_m,
               CAST((year(o.o_orderdate) - 1970) * 12
                    + month(o.o_orderdate) - 1 - f.cohort_m AS BIGINT) AS month_k,
               CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
               CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders o JOIN firsts f ON f.custkey = o.o_custkey
        WHERE o.o_orderdate IS NOT NULL AND o.o_totalprice IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT c.cohort_m AS cohort_m, c.month_k AS month_k,
           c.n_active AS n_active, c.revenue_cents AS revenue_cents,
           s.cohort_size AS cohort_size,
           CAST(floor(CAST(c.revenue_cents AS DOUBLE) / s.cohort_size + 0.5)
                AS BIGINT) AS cents_per_cohort_customer
    FROM cells c JOIN sizes s ON s.cohort_m = c.cohort_m
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per cohort customer by months-since-first-order."""
    from cliqz_etl_spark.operators.cache import track

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull())
    month = ((F.year("o_orderdate") - 1970) * 12
             + F.month("o_orderdate") - 1).cast("long")
    firsts = track(
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.min(month).alias("cohort_m")).persist())
    sizes = firsts.groupBy("cohort_m").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size"))
    cells = (o.join(firsts, o["o_custkey"] == firsts["custkey"])
             .groupBy("cohort_m", (month - F.col("cohort_m")).cast("long")
                      .alias("month_k"))
             .agg(F.countDistinct("o_custkey").cast("long").alias("n_active"),
                  F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                        .cast("long")).cast("long").alias("revenue_cents")))
    return (cells.join(F.broadcast(sizes), ["cohort_m"])
            .select("cohort_m", "month_k", "n_active", "revenue_cents",
                    "cohort_size",
                    F.floor(F.col("revenue_cents").cast("double")
                            / F.col("cohort_size") + F.lit(0.5))
                    .cast("long").alias("cents_per_cohort_customer")))


# --------------------------------------------------------------------------
# KMV / theta-sketch SET ALGEBRA — the production answer to "how many
# users did A AND B" when neither side's key set fits anywhere: theta =
# the K-th smallest hash of the UNION sample, every hash below theta is a
# uniform DOMAIN/theta-weighted sample of the union, and membership of
# those sampled hashes in each side estimates intersection. Because
# theta <= each side's own K-th value, each side's K-sketch provably
# contains all its hashes below theta — the sketches alone suffice, which
# is what makes this mergeable across 1000 executors (K values per side,
# nothing else moves). Estimates are bit-deterministic over the portable
# md5 hash (the kmv_distinct_users discipline), so they oracle-check
# exactly; exact counts ride along to expose the error.
# --------------------------------------------------------------------------
@query(
    "kmv_set_algebra",
    oracle=f"""
    WITH hashed AS (
        -- NULL users are no user: md5(NULL) is NULL and the engines sort
        -- NULLs to opposite ends (Spark ASC=NULLS FIRST, DuckDB=LAST), so
        -- the filter is a correctness contract, not a nicety
        SELECT DISTINCT event_type, {_KMV_H} AS h
        FROM events
        WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL
    ), sk AS (  -- per-side K-minimum sketch
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h ASC) AS rn
            FROM hashed)
        WHERE rn <= {KMV_K}
    ), uni AS (  -- K-th smallest of the union of the two sketches
        SELECT h, row_number() OVER (ORDER BY h ASC) AS rn,
               count(*) OVER () AS n_u
        FROM (SELECT DISTINCT h FROM sk)
    ), theta AS (
        SELECT h AS th, n_u FROM uni
        WHERE rn = CASE WHEN n_u >= {KMV_K} THEN {KMV_K} ELSE n_u END
    ), below AS (  -- union-sample members below theta, per side
        SELECT sk.h,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
        FROM sk CROSS JOIN theta WHERE sk.h < theta.th
        GROUP BY sk.h
    ), est AS (
        SELECT CAST(count(*) AS BIGINT) AS n_below,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_common
        FROM below
    ), exact AS (
        SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_union,
               CAST(sum(CASE WHEN n_types = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS exact_inter
        FROM (SELECT h, count(DISTINCT event_type) AS n_types
              FROM hashed GROUP BY h)
    )
    SELECT CAST(CASE WHEN theta.n_u >= {KMV_K}
                THEN floor(CAST(est.n_below AS DOUBLE) * {_KMV_DOMAIN}
                           / CAST(theta.th AS DOUBLE) + 0.5)
                ELSE exact.exact_union END AS BIGINT) AS est_union,
           exact.exact_union AS exact_union,
           CAST(CASE WHEN theta.n_u >= {KMV_K}
                THEN floor(CAST(est.n_common AS DOUBLE) * {_KMV_DOMAIN}
                           / CAST(theta.th AS DOUBLE) + 0.5)
                ELSE exact.exact_inter END AS BIGINT) AS est_intersection,
           exact.exact_inter AS exact_intersection
    FROM est CROSS JOIN theta CROSS JOIN exact
    """,
)
def kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|clickers UNION purchasers| and |clickers INTERSECT purchasers|
    estimated from two K=32 sketches, beside the exact counts.

    Plan shape: ONE groupBy(hash) with per-side membership flags is the
    only data-sized shuffle (map-side combine; round-13 rebuild — the
    previous shape paid TWO corpus shuffles: a distinct over
    (type, hash) and then a regroup by hash for the exact counts). The
    exact counts become a 1-row aggregate over the flag frame; the
    sketch input re-expands (type, hash) rows scan-side from the cached
    flags, so kmin_hashes' mergeable bounded-state pass sees the same
    distinct pairs as before, bit-identically. All theta/membership/
    estimate algebra runs on <= 2K rows of broadcast frames. Below K
    distinct union hashes the estimates fall back to the exact
    small-set counts (standard KMV behavior)."""
    from cliqz_etl_spark.functions.hashing import md5_long
    from cliqz_etl_spark.operators.cache import track
    from cliqz_etl_spark.operators.stats import kmin_hashes

    ev = load_table(spark, sf_dir, "events")
    flags = track(
        ev.where(F.col("event_type").isin("click", "purchase")
                 & F.col("user_id").isNotNull())
        .select("event_type", md5_long(F.col("user_id")).alias("h"))
        .groupBy("h")
        .agg(F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
             .alias("in_a"),
             F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
             .alias("in_b"))
        .persist())
    # (type, hash) pairs re-derived scan-side from the cached flag frame:
    # identical to the old distinct() frame, no second corpus shuffle
    hashed = flags.select(
        F.explode(F.expr(
            "concat(CASE WHEN in_a = 1 THEN array('click') "
            "ELSE array() END, "
            "CASE WHEN in_b = 1 THEN array('purchase') "
            "ELSE array() END)")).alias("event_type"),
        "h")
    sk = kmin_hashes(hashed, "event_type", "h", KMV_K)
    # everything from here on is sketch-sized (<= 2K rows)
    uni = (sk.select("h").distinct()
           .select("h",
                   F.row_number().over(Window.orderBy(F.asc("h"))).alias("rn"),
                   F.count(F.lit(1)).over(Window.partitionBy()).alias("n_u")))
    theta = (uni.where(F.col("rn") == F.when(F.col("n_u") >= KMV_K,
                                             F.lit(KMV_K))
                       .otherwise(F.col("n_u")))
             .select(F.col("h").alias("th"), "n_u"))
    below = (sk.crossJoin(F.broadcast(theta))
             .where(F.col("h") < F.col("th"))
             .groupBy("h")
             .agg(F.max(F.when(F.col("event_type") == "click", 1)
                        .otherwise(0)).alias("in_a"),
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("in_b")))
    est = below.agg(
        F.count(F.lit(1)).cast("long").alias("n_below"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_common"))
    exact = flags.agg(
        F.count(F.lit(1)).cast("long").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long")
        .alias("exact_inter"))
    dom = float(_KMV_DOMAIN)
    eu = (F.when(F.col("n_u") >= KMV_K,
                 F.floor(F.col("n_below").cast("double") * dom
                         / F.col("th").cast("double") + 0.5))
          .otherwise(F.col("exact_union"))).cast("long")
    ei = (F.when(F.col("n_u") >= KMV_K,
                 F.floor(F.col("n_common").cast("double") * dom
                         / F.col("th").cast("double") + 0.5))
          .otherwise(F.col("exact_inter"))).cast("long")
    return (est.crossJoin(F.broadcast(theta))
            .crossJoin(F.broadcast(exact))
            .select(eu.alias("est_union"),
                    F.col("exact_union"),
                    ei.alias("est_intersection"),
                    F.col("exact_inter").alias("exact_intersection")))


# --------------------------------------------------------------------------
# CSV sink round trip — the interchange format every downstream
# spreadsheet/legacy consumer still demands, round-tripped under the
# engine's exactness rules: only longs and strings cross the boundary
# (money through the cents discipline BEFORE the sink — a double's
# decimal printing is not its bit pattern), NULLs ride an explicit
# sentinel, and the read-back uses an explicit schema (inference is an
# extra full pass at 100 TB and throws on an empty dataset). Completes
# the sink family beside parquet/ORC/JSONL.
# --------------------------------------------------------------------------
@query(
    "csv_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents,
           MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_date
    FROM orders GROUP BY 1
    """,
)
def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> exact-typed CSV (header, NULL sentinel) -> schema'd
    read-back -> per-status rollup; the rollup must equal the oracle's
    direct aggregation, proving nothing was lost or retyped in the hop."""
    import hashlib
    import os
    import shutil
    import tempfile

    from cliqz_etl_spark.io import read_csv_sink, write_csv

    orders = load_table(spark, sf_dir, "orders")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"cliqz_csv_rt_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    projected = orders.select(
        F.col("o_orderkey").cast("long"),
        F.col("o_orderstatus").cast("string"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("datestr"))
    write_csv(projected, out)
    back = read_csv_sink(spark, out, schema=projected.schema)
    return (back.groupBy(F.col("o_orderstatus"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum("cents").cast("long").alias("total_cents"),
                 F.min("datestr").alias("first_date")))


# --------------------------------------------------------------------------
# A-priori frequent triples — itemset mining one level past
# market_basket_rules' pairs, with the REAL A-priori candidate prune:
# items filter to the frequent-item set L1 before any pairing, and
# candidate triples must have all three sub-pairs in the frequent-pair
# set L2 BEFORE the triple-count shuffle (downward closure: an infrequent
# pair can never support a frequent triple). That ordering is the whole
# algorithm — the prune pays a few pair-set joins to shrink the
# heaviest aggregate's input ~30x here, and far more on skewed retail
# baskets. Basket expansion is scan-side (sorted item list -> ordered
# index triples), bounded by C(basket_size, 3) per order.
# --------------------------------------------------------------------------
_AP_S1 = 5   # min baskets per item (L1)
_AP_S2 = 2   # min baskets per pair (L2)
_AP_S3 = 2   # min baskets per triple


@query(
    "apriori_triples",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), l1 AS (
        SELECT p FROM items GROUP BY p HAVING count(*) >= {_AP_S1}
    ), fi AS (
        SELECT items.o, items.p FROM items JOIN l1 ON l1.p = items.p
    ), l2 AS (
        SELECT a.p AS pa, b.p AS pb
        FROM fi a JOIN fi b ON b.o = a.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= {_AP_S2}
    )
    SELECT a.p AS item_a, b.p AS item_b, c.p AS item_c,
           CAST(count(*) AS BIGINT) AS support
    FROM fi a JOIN fi b ON b.o = a.o AND a.p < b.p
              JOIN fi c ON c.o = a.o AND b.p < c.p
              JOIN l2 ab ON ab.pa = a.p AND ab.pb = b.p
              JOIN l2 ac ON ac.pa = a.p AND ac.pb = c.p
              JOIN l2 bc ON bc.pa = b.p AND bc.pb = c.p
    GROUP BY 1, 2, 3 HAVING count(*) >= {_AP_S3}
    """,
)
def apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part triples (support >= {2}) from order baskets, mined
    A-priori style: L1 item filter, L2 pair filter, then the pruned
    triple count.

    Plan shape: distinct (order, part) once (persisted — L1, the basket
    rebuild, L2, and the triple pass all read it), item supports as one
    aggregate, a basket rebuild via groupBy(order) + sorted list, pair
    and triple candidates exploded scan-side from the list (bounded by
    C(|basket|, 3) per order — production miners cap basket size for
    exactly this term), three semi-joins against L2 BEFORE the triple
    aggregate so the biggest shuffle sees only downward-closed
    candidates. No self-join of the fact table anywhere."""
    from cliqz_etl_spark.operators.dedup import _materialize

    li = load_table(spark, sf_dir, "lineitem")
    items = _materialize(
        li.where(F.col("l_orderkey").isNotNull()
                 & F.col("l_partkey").isNotNull())
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct())
    l1 = (items.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
          .where(F.col("c") >= _AP_S1).select("p"))
    fi = items.join(l1, "p", "left_semi")
    bk = _materialize(
        fi.groupBy("o").agg(F.sort_array(F.collect_set("p")).alias("ps")))
    n = F.size("ps")
    # Combination indices are generated DIRECTLY (i < j < k via nested
    # sequence bounds), not as a dense n^2/n^3 grid CASE-filtered down:
    # the grid form allocated ~6x the cells it kept per basket, and the
    # resulting allocation/GC churn made the query's wall clock swing
    # 1.2-4 s run-to-run at bench scale (measured; plan identical).
    # Sequence bounds stay ascending by construction (i <= n-2 for
    # pairs, j <= n-2 for the k range) — Spark's sequence(a, b)
    # DESCENDS when b < a, hence the n >= 2 / n >= 3 basket guards.
    pairs = (bk.where(n >= 2).select(F.explode(F.expr(
        "flatten(transform(sequence(0, size(ps) - 2), "
        "i -> transform(sequence(i + 1, size(ps) - 1), "
        "j -> struct(ps[i] AS pa, ps[j] AS pb))))")).alias("pr"))
        .groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c")))
    l2 = _materialize(pairs.where(F.col("c") >= _AP_S2).select("pa", "pb"))
    triples = (bk.where(n >= 3).select(F.explode(F.expr(
        "flatten(flatten(transform(sequence(0, size(ps) - 3), "
        "i -> transform(sequence(i + 1, size(ps) - 2), "
        "j -> transform(sequence(j + 1, size(ps) - 1), "
        "k -> struct(ps[i] AS a, ps[j] AS b, ps[k] AS c))))))"
        )).alias("t"))
        .select(F.col("t.a").alias("item_a"), F.col("t.b").alias("item_b"),
                F.col("t.c").alias("item_c")))
    pruned = (triples
              .join(l2.select(F.col("pa").alias("item_a"),
                              F.col("pb").alias("item_b")),
                    ["item_a", "item_b"], "left_semi")
              .join(l2.select(F.col("pa").alias("item_a"),
                              F.col("pb").alias("item_c")),
                    ["item_a", "item_c"], "left_semi")
              .join(l2.select(F.col("pa").alias("item_b"),
                              F.col("pb").alias("item_c")),
                    ["item_b", "item_c"], "left_semi"))
    return (pruned.groupBy("item_a", "item_b", "item_c")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .where(F.col("support") >= _AP_S3))


# --------------------------------------------------------------------------
# Markov removal-effect attribution — the data-driven sibling of
# linear_attribution: user journeys (touches ending in the FIRST
# purchase, or in a null absorber) fit a first-order absorbing chain,
# and each channel's credit is how much the chain's conversion
# probability drops when that channel is removed (its inbound edges
# redirect to NULL). The corpus pays ONE user-keyed sort shuffle to
# build the transition counts; the chain itself is model-sized (<= 6x6)
# and iterates on the driver in EXACT integers (v in ppm; each step's
# per-edge term is (v * p) // 1e6 — floor division on non-negative
# ints), so the DuckDB oracle replays the base chain and all three
# removal chains bit-identically through generated CTEs (the
# pca_top_component discipline). K = 6 steps bounds journey credit at
# 6 hops — the standard truncation for first-order attribution.
# --------------------------------------------------------------------------
_MKV_STEPS = 6
_MKV_CHANNELS = ["click", "view", "signup"]

_MKV_JOURNEY_CTES = """
    WITH ev0 AS (
        SELECT user_id, ts, event_id, event_type AS et
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IN ('click', 'view', 'signup', 'purchase')
    ), seqq AS (
        SELECT user_id, et,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS idx
        FROM ev0
    ), fp AS (
        SELECT user_id, CAST(min(idx) AS BIGINT) AS pidx
        FROM seqq WHERE et = 'purchase' GROUP BY 1
    ), j AS (
        SELECT s.user_id,
               CASE WHEN s.et = 'purchase' THEN 'C' ELSE s.et END AS st,
               s.idx
        FROM seqq s LEFT JOIN fp ON fp.user_id = s.user_id
        WHERE fp.pidx IS NULL OR s.idx <= fp.pidx
    ), edges AS (
        SELECT 'S' AS src, st AS dst FROM j WHERE idx = 1
        UNION ALL
        SELECT src, dst FROM (
            SELECT st AS src,
                   lead(st) OVER (PARTITION BY user_id
                                  ORDER BY idx ASC) AS dst
            FROM j) WHERE dst IS NOT NULL
        UNION ALL
        SELECT st AS src, 'N' AS dst FROM (
            SELECT st, idx,
                   max(idx) OVER (PARTITION BY user_id) AS last_idx
            FROM j) WHERE idx = last_idx AND st <> 'C'
    ), cnt AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        FROM edges GROUP BY 1, 2
    )"""


def _mkv_chain_ctes(tag: str, removed: str | None) -> str:
    """p table + K quantized iteration CTEs for one chain variant."""
    if removed is None:
        base = f"""
    , cnt_{tag} AS (SELECT src, dst, n FROM cnt)"""
    else:
        base = f"""
    , cnt_{tag} AS (
        SELECT src, CASE WHEN dst = '{removed}' THEN 'N' ELSE dst END AS dst,
               CAST(SUM(n) AS BIGINT) AS n
        FROM cnt WHERE src <> '{removed}' GROUP BY 1, 2)"""
    parts = [base, f"""
    , tot_{tag} AS (
        SELECT src, CAST(SUM(n) AS BIGINT) AS tot
        FROM cnt_{tag} GROUP BY 1
    ), p_{tag} AS MATERIALIZED (
        SELECT c.src AS src, c.dst AS dst,
               CAST((1000000 * c.n) // t.tot AS BIGINT) AS p
        FROM cnt_{tag} c JOIN tot_{tag} t ON t.src = c.src
        UNION ALL SELECT 'C', 'C', CAST(1000000 AS BIGINT)
        UNION ALL SELECT 'N', 'N', CAST(1000000 AS BIGINT)
    ), v_{tag}_0 AS (
        SELECT 'S' AS state, CAST(1000000 AS BIGINT) AS v)"""]
    for t in range(1, _MKV_STEPS + 1):
        parts.append(f"""
    , v_{tag}_{t} AS MATERIALIZED (
        SELECT p.dst AS state,
               CAST(SUM((prev.v * p.p) // 1000000) AS BIGINT) AS v
        FROM p_{tag} p JOIN v_{tag}_{t - 1} prev ON prev.state = p.src
        GROUP BY 1)""")
    return "".join(parts)


def _mkv_oracle() -> str:
    ctes = [_MKV_JOURNEY_CTES, _mkv_chain_ctes("base", None)]
    for ch in _MKV_CHANNELS:
        ctes.append(_mkv_chain_ctes(f"r_{ch}", ch))
    effect = ("CASE WHEN base_v > 0 THEN CAST(floor("
              "(CAST(base_v AS DOUBLE) - rem_v) / base_v * 1000000 + 0.5)"
              " AS BIGINT) END")
    sels = []
    for ch in _MKV_CHANNELS:
        sels.append(f"""
    SELECT '{ch}' AS channel, base_v AS p_conv_base_ppm,
           rem_v AS p_conv_removed_ppm, {effect} AS removal_effect_ppm
    FROM (SELECT
        COALESCE((SELECT v FROM v_base_{_MKV_STEPS} WHERE state = 'C'), 0)
            AS base_v,
        COALESCE((SELECT v FROM v_r_{ch}_{_MKV_STEPS} WHERE state = 'C'), 0)
            AS rem_v)""")
    return "".join(ctes) + "\n    UNION ALL ".join(sels)


@query("markov_attribution", oracle=_mkv_oracle())
def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel Markov removal effect: the chain's 6-step conversion
    probability (ppm) with and without each touch channel, and the
    relative drop — the data-driven attribution standard.

    Plan shape: ONE (user, ts) sort shuffle builds journeys (row_number
    + lead + last-row windows share the partition key); transition
    counts collapse to a <= 6x6 matrix collected to the driver, where
    all four chains (base + three removals) iterate in exact Python
    ints — only the model crosses the wire (the pca/kmeans driver-local
    fit discipline). The oracle replays every chain through generated
    MATERIALIZED CTEs, so a hash match proves the whole fit."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("event_type").isin(_MKV_CHANNELS + ["purchase"]))
    from cliqz_etl_spark.operators.cache import track

    wseq = Window.partitionBy("user_id").orderBy(F.asc("ts"),
                                                 F.asc("event_id"))
    # seqq feeds fp and j; j feeds the three edge legs (start/mids/ends)
    # — unpersisted, the sequencing window re-ran once per consumer
    # (up to 6 executions of the sort shuffle for one journeys table)
    seqq = track(ev.select("user_id", F.col("event_type").alias("et"),
                           F.row_number().over(wseq).alias("idx"))
                 .persist())
    fp = (seqq.where(F.col("et") == "purchase")
          .groupBy("user_id").agg(F.min("idx").alias("pidx")))
    j = track(
        (seqq.join(fp, "user_id", "left")
         .where(F.col("pidx").isNull() | (F.col("idx") <= F.col("pidx")))
         .select("user_id",
                 F.when(F.col("et") == "purchase", F.lit("C"))
                 .otherwise(F.col("et")).alias("st"), "idx"))
        .persist())
    wj = Window.partitionBy("user_id").orderBy(F.asc("idx"))
    wall = Window.partitionBy("user_id")
    start = j.where(F.col("idx") == 1).select(
        F.lit("S").alias("src"), F.col("st").alias("dst"))
    mids = (j.select(F.col("st").alias("src"),
                     F.lead("st").over(wj).alias("dst"))
            .where(F.col("dst").isNotNull()))
    ends = (j.select("st", "idx", F.max("idx").over(wall).alias("last_idx"))
            .where((F.col("idx") == F.col("last_idx"))
                   & (F.col("st") != "C"))
            .select(F.col("st").alias("src"), F.lit("N").alias("dst")))
    cnt = (start.unionByName(mids).unionByName(ends)
           .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
           .collect())
    counts: dict[tuple[str, str], int] = {
        (r["src"], r["dst"]): int(r["n"]) for r in cnt}

    def conv_ppm(removed: str | None) -> int:
        c: dict[tuple[str, str], int] = {}
        for (s, d), n in counts.items():
            if s == removed:
                continue
            key = (s, "N") if d == removed else (s, d)
            c[key] = c.get(key, 0) + n
        tot: dict[str, int] = {}
        for (s, _), n in c.items():
            tot[s] = tot.get(s, 0) + n
        p = {(s, d): (1_000_000 * n) // tot[s] for (s, d), n in c.items()}
        p[("C", "C")] = 1_000_000
        p[("N", "N")] = 1_000_000
        v = {"S": 1_000_000}
        for _ in range(_MKV_STEPS):
            nxt: dict[str, int] = {}
            for (s, d), pp in p.items():
                if s in v:
                    nxt[d] = nxt.get(d, 0) + (v[s] * pp) // 1_000_000
            v = nxt
        return v.get("C", 0)

    import math

    base = conv_ppm(None)
    rows = []
    for ch in _MKV_CHANNELS:
        rem = conv_ppm(ch)
        eff = (int(math.floor((float(base) - rem) / base * 1_000_000 + 0.5))
               if base > 0 else None)
        rows.append((ch, base, rem, eff))
    return spark.createDataFrame(
        rows, "channel: string, p_conv_base_ppm: bigint, "
              "p_conv_removed_ppm: bigint, removal_effect_ppm: bigint")


# --------------------------------------------------------------------------
# Kaplan-Meier retention curve — survival analysis over user lifespans
# (first event day -> last event day; users still active on the
# corpus's final day are CENSORED, not churned — the standard KM
# treatment of an open observation window). The risk set and death
# counts come from day-level cumulative aggregates (calendar-sized);
# the survival product is a sequential recurrence, so it folds on the
# driver over the collected day frame in exact integers
# (S_k = (S_{k-1} * (n_k - d_k)) // n_k, micro units) and the oracle
# replays the identical fold through a WITH RECURSIVE CTE — the
# recursive twin of the pca/markov generated-CTE discipline.
# --------------------------------------------------------------------------
@query(
    "kaplan_meier_retention",
    oracle="""
    WITH RECURSIVE ud AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS fd, max(CAST(ts AS DATE))
                   AS ld
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1
    ), gmax AS (SELECT max(ld) AS g FROM ud),
    days AS (
        SELECT DISTINCT d FROM (
            SELECT fd AS d FROM ud UNION ALL SELECT ld FROM ud)
    ), idx AS (
        SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY d ASC) AS BIGINT) AS k
        FROM days
    ), starts AS (SELECT fd AS d, count(*) AS s FROM ud GROUP BY 1),
    ends AS (SELECT ld AS d, count(*) AS e FROM ud GROUP BY 1),
    deaths AS (
        SELECT ld AS d, count(*) AS dd FROM ud CROSS JOIN gmax
        WHERE ld < g GROUP BY ld
    ), cal AS (
        SELECT idx.d, idx.k,
               CAST(COALESCE(starts.s, 0) AS BIGINT) AS s,
               CAST(COALESCE(ends.e, 0) AS BIGINT) AS e,
               CAST(COALESCE(deaths.dd, 0) AS BIGINT) AS dd
        FROM idx LEFT JOIN starts ON starts.d = idx.d
                 LEFT JOIN ends ON ends.d = idx.d
                 LEFT JOIN deaths ON deaths.d = idx.d
    ), cum AS (
        SELECT d, k, dd,
               CAST(SUM(s) OVER (ORDER BY k ASC) AS BIGINT)
               - CAST(COALESCE(SUM(e) OVER (ORDER BY k ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_risk
        FROM cal
    ), rec AS (
        SELECT CAST(0 AS BIGINT) AS k, CAST(1000000 AS BIGINT) AS surv
        UNION ALL
        SELECT cum.k,
               CASE WHEN cum.n_risk > 0
                    THEN (rec.surv * (cum.n_risk - cum.dd)) // cum.n_risk
                    ELSE rec.surv END
        FROM rec JOIN cum ON cum.k = rec.k + 1
    )
    SELECT strftime(cum.d, '%Y-%m-%d') AS day, cum.n_risk AS n_risk,
           cum.dd AS n_deaths, CAST(rec.surv AS BIGINT) AS surv_micro
    FROM cum JOIN rec ON rec.k = cum.k
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM survival curve over user activity spans: per lifespan-boundary
    day, the at-risk count, churn count (final-day survivors censored),
    and the running survival probability (micro).

    Plan shape: one per-user span aggregate (the only data-sized
    shuffle), day-level start/end/death rollups derived from it, the
    cumulative risk set as a calendar-sized window, then the collected
    day frame folds on the driver in exact integers (sequential
    recurrence — the one shape windows cannot express; at any corpus
    scale the fold input is bounded by the calendar)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    ud = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"), F.max(F.to_date("ts")).alias("ld"))
    from cliqz_etl_spark.operators.dedup import _materialize

    ud = _materialize(ud)
    gmax = ud.agg(F.max("ld").alias("g"))
    days = (ud.select(F.col("fd").alias("d"))
            .unionByName(ud.select(F.col("ld").alias("d"))).distinct())
    starts = ud.groupBy(F.col("fd").alias("d")).agg(
        F.count(F.lit(1)).alias("s"))
    ends = ud.groupBy(F.col("ld").alias("d")).agg(
        F.count(F.lit(1)).alias("e"))
    deaths = (ud.crossJoin(F.broadcast(gmax))
              .where(F.col("ld") < F.col("g"))
              .groupBy(F.col("ld").alias("d"))
              .agg(F.count(F.lit(1)).alias("dd")))
    wk = Window.orderBy(F.asc("d"))
    cal = (days.join(starts, "d", "left").join(ends, "d", "left")
           .join(deaths, "d", "left")
           .select("d",
                   F.coalesce("s", F.lit(0)).cast("long").alias("s"),
                   F.coalesce("e", F.lit(0)).cast("long").alias("e"),
                   F.coalesce("dd", F.lit(0)).cast("long").alias("dd"))
           .withColumn("cum_s", F.sum("s").over(
               wk.rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("cum_e_prev", F.coalesce(F.sum("e").over(
               wk.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
           .select("d", "dd",
                   (F.col("cum_s") - F.col("cum_e_prev")).cast("long")
                   .alias("n_risk"))
           .orderBy("d"))
    rows = cal.collect()
    surv = 1_000_000
    out = []
    for r in rows:
        n_risk, dd = int(r["n_risk"]), int(r["dd"])
        if n_risk > 0:
            surv = (surv * (n_risk - dd)) // n_risk
        out.append((r["d"].strftime("%Y-%m-%d"), n_risk, dd, surv))
    return spark.createDataFrame(
        out, "day: string, n_risk: bigint, n_deaths: bigint, "
             "surv_micro: bigint")


# --------------------------------------------------------------------------
# Top 3-step event paths — clickstream path mining: the most frequent
# consecutive (e1 -> e2 -> e3) sequences across user journeys, ranked
# deterministically (count desc, path asc). Path extraction is two
# lead() windows sharing the one user-keyed sort shuffle; the path-level
# aggregate is bounded by |alphabet|^3, so the ranking frame is
# model-sized at any corpus scale.
# --------------------------------------------------------------------------
_PATHS_TOP = 10


@query(
    "top_event_paths",
    oracle=f"""
    WITH seqd AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), pc AS (
        SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
        FROM seqd WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1, 2, 3
    ), ranked AS (
        SELECT e1, e2, e3, n_paths,
               CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC, e1 ASC,
                                       e2 ASC, e3 ASC) AS BIGINT) AS rnk
        FROM pc
    )
    SELECT rnk, e1, e2, e3, n_paths FROM ranked
    WHERE rnk <= {_PATHS_TOP}
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {10} most frequent consecutive 3-event paths across user
    journeys, with deterministic tie-breaks.

    Plan shape: ONE user-keyed sort shuffle serves both lead() windows;
    the (e1, e2, e3) aggregate map-side combines to an alphabet-bounded
    frame, on which the ranking window is a model-sized single task —
    never a global sort of the corpus. NULL user/ts/type rows are
    excluded on both sides (the transition-matrix contract), and a
    journey shorter than 3 events contributes nothing."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pc = (ev.select(F.col("event_type").alias("e1"),
                    F.lead("event_type", 1).over(w).alias("e2"),
                    F.lead("event_type", 2).over(w).alias("e3"))
          .where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
          .groupBy("e1", "e2", "e3")
          .agg(F.count(F.lit(1)).cast("long").alias("n_paths")))
    wr = Window.orderBy(F.desc("n_paths"), F.asc("e1"), F.asc("e2"),
                        F.asc("e3"))
    return (pc.withColumn("rnk", F.row_number().over(wr).cast("long"))
            .where(F.col("rnk") <= _PATHS_TOP)
            .select("rnk", "e1", "e2", "e3", "n_paths"))


# --------------------------------------------------------------------------
# Map-functions gauntlet — MapType's whole API surface exercised once
# per user (map_from_entries / map_contains_key / element_at /
# transform_values / map_filter / map_keys / map_values + aggregate),
# checked against a map-free relational oracle: the map is an
# IMPLEMENTATION detail, the values it must reproduce are plain SQL.
# Entry arrays sort before map construction — map iteration order is
# insertion order, and collect_list order is partition-arbitrary (the
# gauntlet would flake without the sort). Empty filtered key lists
# yield NULL (not ''), mirrored explicitly.
# --------------------------------------------------------------------------
@query(
    "map_ops_gauntlet",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS total_events,
           bool_or(event_type = 'purchase') AS has_purchase,
           CAST(MAX(CASE WHEN event_type = 'click' THEN n END) AS BIGINT)
               AS n_clicks,
           CAST(MAX(CASE WHEN event_type = 'click' THEN n END) * 2
                AS BIGINT) AS n_clicks_x2,
           CASE WHEN count(*) FILTER (n >= 3) > 0
                THEN string_agg(event_type, ',' ORDER BY event_type ASC)
                     FILTER (n >= 3)
           END AS busy_keys
    FROM c GROUP BY user_id
    """,
)
def map_ops_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type map assembled, transformed, filtered, and read
    back — every MapType primitive against a relational oracle.

    Plan shape: one (user, type) aggregate plus one per-user entry
    collect; everything map-related is a row-local projection inside
    whole-stage codegen. The alphabet bounds entry arrays, so collected
    lists are tiny at any corpus size."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    m = (c.groupBy("user_id")
         .agg(F.map_from_entries(
             F.array_sort(F.collect_list(F.struct("event_type", "n"))))
             .alias("m")))
    busy = F.map_keys(F.map_filter("m", lambda k, v: v >= 3))
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_keys"),
        F.aggregate(F.map_values("m"), F.lit(0).cast("long"),
                    lambda acc, x: acc + x).cast("long")
        .alias("total_events"),
        F.map_contains_key("m", "purchase").alias("has_purchase"),
        F.element_at("m", "click").cast("long").alias("n_clicks"),
        F.element_at(F.transform_values("m", lambda k, v: v * 2), "click")
        .cast("long").alias("n_clicks_x2"),
        F.when(F.size(busy) == 0, F.lit(None))
        .otherwise(F.array_join(busy, ",")).alias("busy_keys"))


# --------------------------------------------------------------------------
# Gini coefficient of customer spend — the inequality audit a sampling /
# curation pipeline runs on any weight distribution (spend here; token
# counts per source, sampling weights per shard in the curation uses).
# Rank formulation over the ASCENDING sort:
#   G = (2 * sum_i i*x_i - (n+1) * sum_i x_i) / (n * sum_i x_i)
# The global rank i is the classic single-task-sort trap, so it rides
# ranged_cumsum (range-repartition + per-range window + tiny offset
# join — operators/stats.py) over the per-customer aggregate, ordered
# by (spend, custkey) so ties rank deterministically. Spend is held in
# KILOcents (the acf_daily_revenue envelope move): every term of the
# scaled numerator and the permille scaling then stays in BIGINT
# through bench scale with ~3 decades of headroom.
# --------------------------------------------------------------------------
@query(
    "gini_spend",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    // 1000 AS BIGINT) AS kc
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1
    ), ranked AS (
        SELECT kc,
               ROW_NUMBER() OVER (ORDER BY kc ASC, o_custkey ASC) AS i
        FROM spend
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(kc) AS BIGINT) AS total_kilocents,
           CAST((1000 * (2 * SUM(i * kc) - (count(*) + 1) * SUM(kc)))
                // (count(*) * SUM(kc)) AS BIGINT) AS gini_milli
    FROM ranked
    """,
    doc="Gini coefficient (permille) of per-customer order spend.",
)
def gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders are absent from the distribution (they
    have no spend row to rank); NULL-priced orders contribute nothing on
    either engine. The numerator is non-negative by construction (the
    ascending-rank identity), so DuckDB's flooring // and Spark's
    truncating div agree.

    Plan shape: one map-side-combined groupBy to the per-customer frame,
    then ranged_cumsum's three bounded stages for the global rank — no
    data-sized single-task sort — and a 1-row final aggregate."""
    from cliqz_etl_spark.operators.stats import ranged_cumsum

    o = load_table(spark, sf_dir, "orders")
    spend = (o.where(F.col("o_totalprice").isNotNull())
             .groupBy("o_custkey")
             .agg(F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) as long))"
                         " div 1000").cast("long").alias("kc")))
    ranked = (ranged_cumsum(spend.withColumn("one", F.lit(1)),
                            ["kc", "o_custkey"], ["one"])
              .select("kc", F.col("cum_one").alias("i")))
    n = F.count(F.lit(1))
    s = F.sum("kc")
    return (ranked.agg(
        n.cast("long").alias("n_customers"),
        s.cast("long").alias("total_kilocents"),
        (F.lit(1000) * (F.lit(2) * F.sum(F.col("i") * F.col("kc"))
                        - (n + 1) * s)).alias("__num"),
        (n * s).alias("__den"))
        .select("n_customers", "total_kilocents",
                F.expr("__num div __den").cast("long").alias("gini_milli")))


# --------------------------------------------------------------------------
# Lorenz curve by spend decile — gini_spend's visual companion: the
# cumulative share of total spend held by each tenth of customers,
# poorest first (the "bottom 50% hold 11%" report). Deciles come from
# ranged_ntile (exact NTILE(10) semantics — first N%10 buckets take the
# ceiling — with no single-task sort); the cumulative sum then runs on
# the 10-row decile frame. Shares are exact integer ppm of kilocent
# sums (positive, so Spark div = DuckDB //).
# --------------------------------------------------------------------------
@query(
    "lorenz_curve_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    // 1000 AS BIGINT) AS kc
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1
    ), tiled AS (
        SELECT kc, NTILE(10) OVER (ORDER BY kc ASC, o_custkey ASC) AS decile
        FROM spend
    ), per AS (
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(SUM(kc) AS BIGINT) AS decile_kilocents
        FROM tiled GROUP BY 1
    ), tot AS (SELECT CAST(SUM(decile_kilocents) AS BIGINT) AS t FROM per)
    SELECT decile, n_customers, decile_kilocents,
           CAST(SUM(decile_kilocents) OVER (ORDER BY decile ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_kilocents,
           CAST((1000000 * SUM(decile_kilocents) OVER (ORDER BY decile ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // t
                AS BIGINT) AS cum_share_ppm
    FROM per CROSS JOIN tot
    """,
    doc="Cumulative spend share per customer decile (Lorenz curve), "
        "exact integer ppm.",
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decile windows after the ntile run on a 10-row frame — the
    single-partition WindowExec there is constant-size, not data-sized.
    Same exclusions as gini_spend: no orders -> no row; NULL prices
    contribute nothing on either engine."""
    from cliqz_etl_spark.operators.stats import ranged_ntile

    o = load_table(spark, sf_dir, "orders")
    spend = (o.where(F.col("o_totalprice").isNotNull())
             .groupBy("o_custkey")
             .agg(F.expr("sum(cast(floor(o_totalprice * 100 + 0.5) as long))"
                         " div 1000").cast("long").alias("kc")))
    tiled = ranged_ntile(spend, ["kc", "o_custkey"], 10, "decile")
    from cliqz_etl_spark.operators.dedup import _materialize

    # materialized: the 10-row decile frame feeds the total aggregate
    # AND the final cumulative select — unpersisted, the corpus groupBy
    # plus the whole ranged_ntile pipeline behind it executed twice
    per = _materialize(
        tiled.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
             F.sum("kc").cast("long").alias("decile_kilocents")))
    tot = per.agg(F.sum("decile_kilocents").cast("long").alias("t"))
    cum = Window.orderBy(F.asc("decile")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (per.crossJoin(F.broadcast(tot))
            .select("decile", "n_customers", "decile_kilocents",
                    F.sum("decile_kilocents").over(cum).cast("long")
                    .alias("cum_kilocents"),
                    (F.lit(1_000_000)
                     * F.sum("decile_kilocents").over(cum)).alias("__num"),
                    "t")
            .select("decile", "n_customers", "decile_kilocents",
                    "cum_kilocents",
                    F.expr("__num div t").cast("long")
                    .alias("cum_share_ppm")))


# --------------------------------------------------------------------------
# Hot-key skew report — the join-planning diagnostic run before keying
# a 100 TB shuffle: the top-N hottest join keys with their corpus share
# and skew factor (key count over the mean key count, permille). One
# map-side-combined key count, a 1-row stats frame, and a TakeOrdered
# top-20 cut — the report that tells you whether this key needs salting
# (operators' salted_join family) or AQE skew splitting before you pay
# for it. join_size_estimate prices the join; this names the keys that
# would break it.
# --------------------------------------------------------------------------
SKEW_TOP_N = 20


@query(
    "hot_key_skew_report",
    oracle=f"""
    WITH counts AS (
        SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(SUM(cnt) AS BIGINT) AS total
        FROM counts
    )
    SELECT key, cnt,
           CAST((1000000 * cnt) // total AS BIGINT) AS share_ppm,
           CAST((1000 * cnt * n_keys) // total AS BIGINT) AS skew_milli
    FROM counts CROSS JOIN stats
    ORDER BY cnt DESC, key ASC LIMIT {SKEW_TOP_N}
    """,
    doc=f"Top-{SKEW_TOP_N} hottest lineitem join keys with corpus share "
        "and skew-vs-mean factor (exact integer permille).",
)
def hot_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL keys are excluded (they never match an equi-join anyway).
    Integer envelope: cnt * n_keys stays in BIGINT to ~3e9 rows per key
    at 3e9 keys; past that pre-divide the mean."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (li.where(F.col("l_partkey").isNotNull())
              .groupBy(F.col("l_partkey").alias("key"))
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    stats = counts.agg(F.count(F.lit(1)).cast("long").alias("n_keys"),
                       F.sum("cnt").cast("long").alias("total"))
    return (counts.crossJoin(F.broadcast(stats))
            .select("key", "cnt",
                    F.expr("CAST((1000000 * cnt) div total AS BIGINT)")
                    .alias("share_ppm"),
                    F.expr("CAST((1000 * cnt * n_keys) div total AS BIGINT)")
                    .alias("skew_milli"))
            .orderBy(F.desc("cnt"), F.asc("key"))
            .limit(SKEW_TOP_N))


# --------------------------------------------------------------------------
# ABC analysis — the classic inventory/attention split (A = parts
# carrying the first 80% of revenue, B = the next 15%, C = the tail)
# over the descending-revenue cumulative share. The global rank rides
# ranged_cumsum over (-revenue, partkey) — same two-pass scheme as
# gini_spend, no single-task sort — and the share thresholds are exact
# integer permille of kilocent sums (positive, so div = //). A
# revenue-less corpus yields an empty frame on both engines.
# --------------------------------------------------------------------------
@query(
    "abc_analysis_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS part,
               CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    // 1000 AS BIGINT) AS kc
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_extendedprice IS NOT NULL
        GROUP BY 1
    ), tot AS (SELECT CAST(SUM(kc) AS BIGINT) AS t FROM rev),
    ranked AS (
        SELECT part, kc,
               CAST(SUM(kc) OVER (ORDER BY kc DESC, part ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_kc
        FROM rev
    )
    SELECT part, kc,
           CAST((1000 * cum_kc) // t AS BIGINT) AS cum_share_milli,
           CASE WHEN (1000 * cum_kc) // t <= 800 THEN 'A'
                WHEN (1000 * cum_kc) // t <= 950 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN tot
    WHERE t > 0
    """,
    doc="ABC revenue classification per part (A first 80%, B next 15%) "
        "over the descending cumulative share, ranked distributed.",
)
def abc_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape: one map-side-combined part-revenue aggregate, then
    ranged_cumsum's bounded stages for the descending cumulative sum
    (order key (-kc, part)), and a broadcast 1-row total. Zero-revenue
    corpora (t = 0) return empty rather than dividing by zero."""
    from cliqz_etl_spark.operators.stats import ranged_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    from cliqz_etl_spark.operators.dedup import _materialize

    # materialized: the part-revenue frame feeds ranged_cumsum AND the
    # totals aggregate — unpersisted, the lineitem groupBy ran twice
    rev = _materialize(
        li.where(F.col("l_partkey").isNotNull()
                 & F.col("l_extendedprice").isNotNull())
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(F.expr("sum(cast(floor(l_extendedprice * 100 + 0.5) "
                    "as long)) div 1000").cast("long").alias("kc")))
    tot = rev.agg(F.sum("kc").cast("long").alias("t"))
    ranked = (ranged_cumsum(rev.withColumn("negkc", -F.col("kc")),
                            ["negkc", "part"], ["kc"])
              .select("part", "kc", F.col("cum_kc").alias("cum_kc")))
    share = "CAST((1000 * cum_kc) div t AS BIGINT)"
    return (ranked.crossJoin(F.broadcast(tot))
            .where(F.col("t") > 0)
            .select("part", "kc",
                    F.expr(share).alias("cum_share_milli"),
                    F.expr(f"CASE WHEN {share} <= 800 THEN 'A' "
                           f"WHEN {share} <= 950 THEN 'B' "
                           "ELSE 'C' END").alias("abc_class")))


# --------------------------------------------------------------------------
# Exact Shapley-value attribution over the three pre-purchase channels
# (click / view / signup) — the game-theoretic sibling of
# markov_attribution's removal effect. With n=3 channels the coalition
# space is the 8 exact touched-sets, so Shapley is EXACT, not sampled:
# phi_i = sum over S not containing i of w(|S|) * (v(S+i) - v(S)), with
# 3! -scaled integer weights w in {2,1,2} so the whole computation stays
# in integers. v(S) = conversion rate (micro-units, floor-quantized from
# one shared IEEE division) of users whose exact touched-set is S;
# unobserved coalitions contribute v = 0, the standard convention.
# Touches are lifetime presence flags (a post-purchase click still
# counts as exposure — consistent on both engines, documented). The
# whole query is ONE per-user aggregate; everything after it is 8-row
# algebra.
# --------------------------------------------------------------------------
_SHAP_CHANNELS = ["click", "view", "signup"]


def _shap_phi_sql(ch: str, others: list[str]) -> str:
    """Shapley sum text for one channel over the spine-completed 8-row
    coalition table f1 (channel present) x f0 (channel absent)."""
    o1, o2 = others
    return (f"SELECT '{ch}' AS channel, "
            f"CAST(SUM((CASE f0.{o1} + f0.{o2} WHEN 0 THEN 2 WHEN 1 THEN 1 "
            f"ELSE 2 END) * (f1.vp - f0.vp)) AS BIGINT) AS shapley_micro6 "
            f"FROM full8 f1 JOIN full8 f0 "
            f"ON f1.{ch} = 1 AND f0.{ch} = 0 "
            f"AND f1.{o1} = f0.{o1} AND f1.{o2} = f0.{o2}")


@query(
    "shapley_attribution",
    oracle=f"""
    WITH touch AS (
        SELECT user_id,
            MAX(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END) AS click,
            MAX(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END) AS view,
            MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS signup,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), cells AS (
        SELECT click, view, signup,
               COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS k
        FROM touch GROUP BY click, view, signup
    ), spine AS (
        SELECT a.x AS click, b.x AS view, c.x AS signup
        FROM (SELECT unnest([0, 1]) AS x) a,
             (SELECT unnest([0, 1]) AS x) b,
             (SELECT unnest([0, 1]) AS x) c
    ), full8 AS (
        SELECT spine.click, spine.view, spine.signup,
               COALESCE(CAST(floor(1000000.0 * k / n) AS BIGINT), 0) AS vp
        FROM spine LEFT JOIN cells
          ON cells.click = spine.click AND cells.view = spine.view
         AND cells.signup = spine.signup
    )
    {_shap_phi_sql('click', ['view', 'signup'])}
    UNION ALL
    {_shap_phi_sql('view', ['click', 'signup'])}
    UNION ALL
    {_shap_phi_sql('signup', ['click', 'view'])}
    """,
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel exact Shapley conversion credit, in 6x-micro units.

    Plan shape: one events scan -> per-user presence aggregate -> 8-cell
    coalition aggregate; the spine completion, the marginal-contribution
    joins, and the three channel sums all run on <= 8-row frames
    (broadcast, constant size at any corpus scale)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull())
    t = F.col("event_type")
    touch = ev.groupBy("user_id").agg(
        F.max(F.when(t == "click", 1).otherwise(0)).alias("click"),
        F.max(F.when(t == "view", 1).otherwise(0)).alias("view"),
        F.max(F.when(t == "signup", 1).otherwise(0)).alias("signup"),
        F.max(F.when(t == "purchase", 1).otherwise(0)).alias("conv"),
    )
    cells = touch.groupBy("click", "view", "signup").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k"))
    bit = spark.range(2).select(F.col("id").cast("int").alias("x"))
    spine = (bit.select(F.col("x").alias("click"))
             .crossJoin(bit.select(F.col("x").alias("view")))
             .crossJoin(bit.select(F.col("x").alias("signup"))))
    from cliqz_etl_spark.operators.dedup import _materialize

    # materialized: the 8-row coalition table feeds SIX consumers (f1/f0
    # per channel) — unpersisted, each one re-executed the events scan
    # and both aggregates (6 corpus passes for 8 rows of algebra)
    full8 = _materialize(
        spine.join(F.broadcast(cells), ["click", "view", "signup"],
                   "left")
        .select("click", "view", "signup",
                F.coalesce(
                    F.floor(F.lit(1000000.0) * F.col("k") / F.col("n"))
                    .cast("long"), F.lit(0)).alias("vp")))
    parts = []
    for ch in _SHAP_CHANNELS:
        others = [c for c in _SHAP_CHANNELS if c != ch]
        f1 = full8.where(F.col(ch) == 1).select(
            *[F.col(c).alias(f"p_{c}") for c in others],
            F.col("vp").alias("vp1"))
        f0 = full8.where(F.col(ch) == 0).select(
            *[F.col(c).alias(f"q_{c}") for c in others],
            F.col("vp").alias("vp0"))
        joined = f1.join(
            F.broadcast(f0),
            [F.col(f"p_{others[0]}") == F.col(f"q_{others[0]}"),
             F.col(f"p_{others[1]}") == F.col(f"q_{others[1]}")])
        sz = F.col(f"q_{others[0]}") + F.col(f"q_{others[1]}")
        w = F.when(sz == 0, 2).when(sz == 1, 1).otherwise(2)
        parts.append(joined.agg(
            F.sum(w * (F.col("vp1") - F.col("vp0"))).cast("long")
            .alias("shapley_micro6"))
            .select(F.lit(ch).alias("channel"), "shapley_micro6"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
