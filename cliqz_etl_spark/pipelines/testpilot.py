"""The testpilot extraction pipelines — Spark-first rebuild of
/root/reference/cliqz_etl/testpilot_data.py:84-202 (`main`).

Three datasets per day, each an ExtractConfig over a source scan:

- ``testpilot``      (testpilot_data.py:118-138): 12 columns from nested
  pings, ping_filter ``payload/test == '@testpilot-addon'`` (:136), post
  filter ``event_object == 'testpilot@cliqz.com'`` (:138).
- ``testpilottest``  (testpilot_data.py:141-167): AES-encrypted
  ``cliqzSession`` -> decrypted/split client id (:98-111), post filter
  ``event IS NOT NULL`` (:167).
- ``search``         (testpilot_data.py:170-195): CSV with header, string
  cells cleaned by try-casts (the reference dropped to .rdd at :173 and
  re-entered the row pipeline; here the CSV frame stays columnar).

The reference's per-day partition trick (hand-built ``/submission={day}``
path, :72-82) is replaced by an explicit ``submission`` column +
``partitionBy`` + dynamic partition overwrite (io.write_parquet), which
also fixes §2.9's missing-column defect (profile_daily's SQL expects
``submission`` to exist on read).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import Future

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from cliqz_etl_spark.extract import ColumnSpec, ExtractConfig, path_col
from cliqz_etl_spark.functions.scalars import decrypt_aes_ecb_b64, split_select
from cliqz_etl_spark.io import write_parquet

ADDON_ID = "testpilot@cliqz.com"
TESTPILOT_ADDON = "@testpilot-addon"

# Canonical ping ingest schema (FIXTURES.md B1/B2). Reading raw JSON pings
# MUST use this schema: inference would (a) scan the data twice and (b)
# turn the activeAddons map into a struct keyed by whatever addon ids the
# sample contained — silently breaking map semantics. Explicit schemas at
# the ingest boundary are non-negotiable at 100 TB.
PING_SCHEMA = StructType([
    StructField("clientId", StringType()),
    StructField("creationDate", StringType()),
    StructField("meta", StructType([
        StructField("geoCountry", StringType()),
        StructField("normalizedChannel", StringType()),
        StructField("os", StringType()),
        StructField("submissionDate", StringType()),
        StructField("docType", StringType()),
    ])),
    StructField("environment", StructType([
        StructField("settings", StructType([
            StructField("locale", StringType()),
            StructField("telemetryEnabled", BooleanType()),
        ])),
        StructField("addons", StructType([
            StructField("activeAddons",
                        MapType(StringType(),
                                StructType([StructField("version", StringType())]))),
        ])),
    ])),
    StructField("payload", StructType([
        StructField("test", StringType()),
        StructField("events", ArrayType(StructType([
            StructField("event", StringType()),
            StructField("object", StringType()),
        ]))),
        StructField("payload", StructType([
            StructField("cliqzSession", StringType()),
            StructField("sessionId", StringType()),
            StructField("subsessionId", StringType()),
            StructField("event", StringType()),
            StructField("contentSearch", StringType()),
        ])),
    ])),
])


def _events0(field: str):
    # first event's field (testpilot_data.py:115-116); element_at -> NULL on
    # empty arrays, matching the reference's IndexError->NULL cell semantics
    return lambda c: F.element_at(c, 1).getItem(field)


# Configs are built lazily: PySpark 4 Column constructors need an active
# session, so module-import-time specs would break driverless imports.
def testpilot_config() -> ExtractConfig:
    """12 columns — testpilot_data.py:123-134."""
    return ExtractConfig(
        columns=[
        ColumnSpec("client_id", "clientId", dtype="string"),
        ColumnSpec("creation_date", "creationDate", dtype="string"),
        ColumnSpec("geo", "meta/geoCountry", dtype="string"),
        ColumnSpec("locale", "environment/settings/locale", dtype="string"),
        ColumnSpec("channel", "meta/normalizedChannel", dtype="string"),
        ColumnSpec("os", "meta/os", dtype="string"),
        ColumnSpec("telemetry_enabled", "environment/settings/telemetryEnabled",
                   dtype="boolean"),
        # has_addon / addon version from the activeAddons map
        # (testpilot_data.py:113-114)
        ColumnSpec("has_addon", "environment/addons/activeAddons",
                   transform=lambda c: F.map_contains_key(c, ADDON_ID),
                   dtype="boolean"),
        ColumnSpec("cliqz_version", "environment/addons/activeAddons",
                   transform=lambda c: c.getItem(ADDON_ID).getItem("version"),
                   dtype="string"),
        ColumnSpec("test", "payload/test", dtype="string"),
        ColumnSpec("event", "payload/events", transform=_events0("event"),
                   dtype="string"),
        ColumnSpec("event_object", "payload/events", transform=_events0("object"),
                   dtype="string"),
    ],
    row_filter=path_col("payload/test") == TESTPILOT_ADDON,          # :136
    post_filter=F.col("event_object") == ADDON_ID,                   # :138
    )


def testpilottest_config(key: Column) -> ExtractConfig:
    """18-column testpilottest extraction (testpilot_data.py:146-163).
    ``key`` is the AES key as a Column literal (read via
    io.read_text_scalar — the rebuild of the sc.textFile scalar, :97)."""
    return ExtractConfig(
        columns=[
            ColumnSpec("client_id", "clientId", dtype="string"),
            # decrypt -> strip -> split('|')[0]  (:98-111)
            ColumnSpec("cliqz_client_id", "payload/payload/cliqzSession",
                       transform=lambda c: split_select(
                           decrypt_aes_ecb_b64(c, key), r"\|", 0),
                       dtype="string"),
            ColumnSpec("cliqz_session", "payload/payload/cliqzSession", dtype="string"),
            ColumnSpec("session_id", "payload/payload/sessionId", dtype="string"),
            ColumnSpec("subsession_id", "payload/payload/subsessionId", dtype="string"),
            ColumnSpec("date", "meta/submissionDate", dtype="string"),
            ColumnSpec("geo", "meta/geoCountry", dtype="string"),
            ColumnSpec("channel", "meta/normalizedChannel", dtype="string"),
            ColumnSpec("os", "meta/os", dtype="string"),
            ColumnSpec("locale", "environment/settings/locale", dtype="string"),
            ColumnSpec("telemetry_enabled", "environment/settings/telemetryEnabled",
                       dtype="boolean"),
            ColumnSpec("has_addon", "environment/addons/activeAddons",
                       transform=lambda c: F.map_contains_key(c, ADDON_ID),
                       dtype="boolean"),
            ColumnSpec("cliqz_version", "environment/addons/activeAddons",
                       transform=lambda c: c.getItem(ADDON_ID).getItem("version"),
                       dtype="string"),
            ColumnSpec("test", "payload/test", dtype="string"),
            ColumnSpec("event", "payload/payload/event", dtype="string"),
            ColumnSpec("content_search", "payload/payload/contentSearch", dtype="string"),
            ColumnSpec("creation_date", "creationDate", dtype="string"),
            ColumnSpec("doc_type", "meta/docType", dtype="string"),
        ],
        row_filter=path_col("payload/test") == ADDON_ID,             # :165
        post_filter=F.col("event").isNotNull(),                      # :167
    )


def search_config() -> ExtractConfig:
    """17 columns from the search CSV — testpilot_data.py:175-191. All
    cells arrive as strings; try_cast gives the int()/bool()-with-errors->
    NULL cleaning semantics."""
    return ExtractConfig(
        columns=[
        ColumnSpec("udid", F.col("udid"),
                   transform=lambda c: split_select(c, r"\|", 0), dtype="string"),
        ColumnSpec("start_time", F.col("start_time"), dtype="string"),
        ColumnSpec("is_search", F.col("selection_type"),
                   transform=lambda c: c.isin("query", "enter", "click"),
                   dtype="boolean"),
        ColumnSpec("entry_point", F.col("entry_point"), dtype="string"),
        ColumnSpec("num_backend_results",
                   F.col("final_result_list_backend_result_count"), dtype="long"),
        ColumnSpec("contains_history", F.col("final_result_list_contains_history"),
                   dtype="boolean"),
        ColumnSpec("query_length", F.col("selection_query_length"), dtype="long"),
        ColumnSpec("selection_class", F.col("selection_class"), dtype="string"),
        ColumnSpec("selection_element", F.col("selection_element"), dtype="string"),
        ColumnSpec("selection_index", F.col("selection_index"), dtype="long"),
        ColumnSpec("is_autocomplete", F.col("selection_type"),
                   transform=lambda c: c == "autocomplete", dtype="boolean"),
        ColumnSpec("is_query", F.col("selection_type"),
                   transform=lambda c: c == "query", dtype="boolean"),
        ColumnSpec("total_signals", F.col("total_signal_count"), dtype="long"),
        ColumnSpec("selection_time", F.col("selection_time"), dtype="long"),
        ColumnSpec("result_show_time", F.col("final_result_list_show_time"), dtype="long"),
        ColumnSpec("selection_source", F.col("selection_source"), dtype="string"),
        ColumnSpec("selection_type", F.col("selection_type"), dtype="string"),
        ],
    )


def run_day(pings: DataFrame, test_pings: DataFrame, search_csv: DataFrame,
            aes_key: str, day: str, out_base: str,
            submit: Callable[..., Future]
            ) -> dict[str, Future[tuple[DataFrame, int]]]:
    """One daily run (the rebuild of `main`, testpilot_data.py:84-202):
    extract the three datasets, stamp the ``submission`` partition column
    and write each as partitioned parquet under
    ``{out_base}/cliqz_{name}/v1`` (idempotent per-day overwrite).

    The three datasets share no frame, so each is built and written by
    its own task, handed to ``submit(fn, *args)`` (the caller's pool; its
    threads must carry the caller's Spark local properties), and the
    three writes run concurrently. Returns ``{name: Future[(frame, rows
    written)]}`` at once; the count comes from the write job itself, so
    nothing is executed twice."""
    def build_and_write(name: str, config: Callable[[], ExtractConfig],
                        src: DataFrame) -> tuple[DataFrame, int]:
        df = config().apply(src).withColumn("submission", F.lit(day))
        # file-count intent of the reference (1 / 80 / 1 files, :197-200)
        # is left to AQE coalescing; partition overwrite replaces only `day`
        m = write_parquet(df, f"{out_base}/cliqz_{name}/v1",
                          partition_by="submission")
        return df, m["n_rows"]

    return {name: submit(build_and_write, name, config, src)
            for name, config, src in (
                ("testpilot", testpilot_config, pings),
                ("testpilottest",
                 lambda: testpilottest_config(F.lit(aes_key)), test_pings),
                ("search", search_config, search_csv))}
