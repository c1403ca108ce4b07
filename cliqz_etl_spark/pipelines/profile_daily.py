"""Per-client-per-day rollup — Spark-first rebuild of
/root/reference/cliqz_etl/profile_daily.py:9-67 (`main`), implementing the
*intended* semantics catalogued in SURVEY.md §2.9 (the committed reference
has unresolved names and a duplicate-dict-key bug).

Where the reference round-tripped through the driver (collect client ids
:41-42, HBase fetch :103-115, re-parallelize :115) and Python pair-RDDs
with Counter accumulators (:142-197), this is one Catalyst plan:

    earliest experiment ping per client: testpilottest ⋉ testpilot,
        min(date)                                        (J1+A1, :16-22)
    -> txp daily rows, 2-key join                        (J2,    :24-39)
    -> main_summary ⨝ broadcast min_dates (unique per client, so the
       inner join is also the client filter) + UUID validity + 14-day
       recency filter                     (J5+P9/P10, :41-44,70-77,118-139)
    -> per-(client, day) aggregates: the main-summary Counter summed
       per key first, then one aggregate per branch     (A2-A8, :142-197)
    -> full outer join + NULL-coalesced final schema    (J4/L5, :58,209-242)

Intent fixes implemented (each marked `§2.9` below):
- separate cliqz_enabled / cliqz_disabled counters (dup dict key :189-190);
- cliqz_disabled output reads the disabled counter (:236-237);
- `submission` is an explicit column (partition column materialized);
- `if_main_summary`/`if_ms` confusion resolved by actual column refs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cliqz_etl_spark.functions.scalars import hours, indicator

UUID_RE = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
RECENCY_DAYS = 14


def earliest_ping_per_client(testpilot: DataFrame, testpilottest: DataFrame) -> DataFrame:
    """profile_daily.py:16-22: min(date) per client over the testpilottest
    rows of clients that also sent testpilot pings. The reference's inner
    join only repeated those rows, which never changes a min, so a
    semi-join is the same result without the row blow-up."""
    return (
        testpilottest.join(testpilot.select("client_id"), "client_id", "left_semi")
        .groupBy("client_id")
        .agg(F.min("date").alias("min_date"))
    )


def txp_daily(testpilot: DataFrame, testpilottest: DataFrame) -> DataFrame:
    """profile_daily.py:24-39: two-key join, projected daily rows
    (duplicate cliqz_version projected once — §2.9)."""
    tp, tpt = testpilot.alias("tp"), testpilottest.alias("tpt")
    return tp.join(tpt, ["client_id", "submission"]).select(
        "client_id",
        "submission",
        F.col("tp.cliqz_version").alias("cliqz_version"),
        F.col("tp.has_addon").alias("has_addon"),
        F.col("tpt.cliqz_client_id").alias("cliqz_client_id"),
        F.col("tpt.session_id").alias("session_id"),
        F.col("tpt.subsession_id").alias("subsession_id"),
        F.col("tp.event").alias("tp_event"),
        F.col("tpt.event").alias("tpt_event"),
    )


def filter_recent_ms(main_summary: DataFrame, min_dates: DataFrame) -> DataFrame:
    """P9+P10 (:70-77, :118-139): valid-UUID clients only, rows no older
    than 14 days before the client's experiment start; unparseable dates
    drop (try parse -> NULL -> comparison false). ``min_dates`` has one
    row per client, so the broadcast inner join also keeps only the
    experiment's clients (J5)."""
    ms = main_summary.where(F.regexp_like("client_id", F.lit(UUID_RE)))
    joined = ms.join(F.broadcast(min_dates), "client_id")
    sub_date = F.try_to_timestamp(F.col("submission_date"), F.lit("yyyyMMdd")).cast("date")
    min_date = F.try_to_timestamp(F.col("min_date"), F.lit("yyyyMMdd")).cast("date")
    return joined.where(
        sub_date.isNotNull()
        & min_date.isNotNull()
        & (F.datediff(min_date, sub_date) <= RECENCY_DAYS)
    )


def aggregate_ms(ms: DataFrame) -> DataFrame:
    """A2-A8 over main_summary rows (:148-173): search-count Counter map,
    default-browser mode, session hours, has-addon any, with no join.

    The Counter (:157-169) is summed per (client, day, key) first: key
    ``engine-source`` (``concat_ws`` skips a NULL part), NULL entries
    dropped, a NULL ``count`` adds 0. That aggregate combines map-side,
    so what it shuffles grows with a client-day's distinct keys, not with
    its main_summary rows. The per-key sums and the raw rows, unioned,
    feed one per-(client, day) aggregate: it folds the sums into a map
    with sorted keys (``{}`` when there are none) and computes the row
    measures, which the per-key rows leave NULL. The mode is
    ``F.mode(deterministic=True)``: NULLs ignored, ties go to the lowest
    value (False before True), all-NULL gives NULL. channel, os and
    default_search_engine are the group's lowest non-NULL value (NULL
    only when all are NULL). The reference's reduceByKey kept whichever
    raw row came first (:54-55), which depends on partitioning; the
    lowest value is the same whatever order rows reach the aggregate."""
    keys = ["client_id", "submission_date"]
    s = F.col("s")
    per_key = (
        ms.select(*keys, F.explode("search_counts").alias("s"))
        .where(s.isNotNull())
        .groupBy(*keys, F.concat_ws("-", s["engine"], s["source"]).alias("key"))
        .agg(F.sum(F.coalesce(s["count"], F.lit(0))).alias("n"))
    )
    key = F.col("key")
    return (
        ms.select(*keys, "subsession_length", "has_addon", "normalized_channel",
                  "os", "default_search_engine", "is_default_browser")
        .unionByName(per_key, allowMissingColumns=True)
        .groupBy(*keys).agg(
            F.round(F.sum(hours("subsession_length")), 4).alias("session_hours"),
            F.max(F.coalesce(F.col("has_addon"), F.lit(False))).alias("has_addon"),
            F.min("normalized_channel").alias("channel"),
            F.min("os").alias("os"),
            F.min("default_search_engine").alias("default_search_engine"),
            F.mode("is_default_browser", deterministic=True)
            .alias("is_default_browser"),
            F.map_from_entries(F.array_sort(F.collect_list(
                F.when(key.isNotNull(), F.struct(key, "n")))))
            .alias("search_counts"),
        )
    )


def aggregate_txp(txp: DataFrame) -> DataFrame:
    """A5 (:176-197) with §2.9 intent, counter names per prep_txp_agg
    (:186-196): ``cliqz_*`` counts the testpilot addon's own event stream
    (tp_event 'enabled'/'disabled' — the dict's duplicated 'cliqz_enabled'
    key was meant to be 'cliqz_disabled'), ``test_*`` counts the
    testpilottest 'cliqzEnabled'/'cliqzDisabled'/'cliqzInstalled'/
    'cliqzUninstalled' events. cliqz_version and cliqz_client_id are the
    client-day's lowest non-NULL value, so they do not depend on row
    order."""
    tp_ev, tpt_ev = F.col("tp_event"), F.col("tpt_event")
    return txp.groupBy(
        "client_id", F.col("submission").alias("submission_date")
    ).agg(
        F.min("cliqz_version").alias("cliqz_version"),
        F.min("cliqz_client_id").alias("cliqz_client_id"),
        F.sum(indicator(tp_ev == "enabled")).alias("cliqz_enabled"),
        F.sum(indicator(tp_ev == "disabled")).alias("cliqz_disabled"),
        F.sum(indicator(tpt_ev == "cliqzEnabled")).alias("test_enabled"),
        F.sum(indicator(tpt_ev == "cliqzDisabled")).alias("test_disabled"),
        F.sum(indicator(tpt_ev == "cliqzInstalled")).alias("test_installed"),
        F.sum(indicator(tpt_ev == "cliqzUninstalled")).alias("test_uninstalled"),
        F.count(F.lit(1)).alias("txp_events"),
    )


def profile_daily(testpilot: DataFrame, testpilottest: DataFrame,
                  main_summary: DataFrame) -> DataFrame:
    """The full rollup (`main`, :9-67): full outer of the two aggregated
    branches on (client_id, submission_date), NULL-coalesced final schema
    (format_row :209-242; `{}` default for search_counts :235)."""
    min_dates = earliest_ping_per_client(testpilot, testpilottest)
    txp = txp_daily(testpilot, testpilottest)
    ms = filter_recent_ms(main_summary, min_dates)
    agg_ms = aggregate_ms(ms)
    agg_txp = aggregate_txp(txp)
    keys = ["client_id", "submission_date"]
    joined = agg_ms.alias("ms").join(agg_txp.alias("txp"), keys, "full_outer")
    empty_map = F.map_from_arrays(F.array().cast("array<string>"),
                                  F.array().cast("array<bigint>"))
    return joined.select(
        "client_id",
        "submission_date",
        F.col("txp.cliqz_version").alias("cliqz_version"),
        F.col("txp.cliqz_client_id").alias("cliqz_client_id"),
        F.coalesce("txp.cliqz_enabled", F.lit(0)).alias("cliqz_enabled"),
        F.coalesce("txp.cliqz_disabled", F.lit(0)).alias("cliqz_disabled"),   # §2.9
        F.coalesce("txp.test_enabled", F.lit(0)).alias("test_enabled"),
        F.coalesce("txp.test_disabled", F.lit(0)).alias("test_disabled"),
        F.coalesce("txp.test_installed", F.lit(0)).alias("test_installed"),
        F.coalesce("txp.test_uninstalled", F.lit(0)).alias("test_uninstalled"),
        F.coalesce("txp.txp_events", F.lit(0)).alias("txp_events"),
        F.col("ms.channel").alias("channel"),
        F.col("ms.os").alias("os"),
        F.col("ms.default_search_engine").alias("default_search_engine"),
        F.col("ms.is_default_browser").alias("is_default_browser"),
        F.coalesce("ms.session_hours", F.lit(0.0)).alias("session_hours"),
        F.coalesce("ms.has_addon", F.lit(False)).alias("has_addon"),
        F.coalesce("ms.search_counts", empty_map).alias("search_counts"),     # :235
    )
