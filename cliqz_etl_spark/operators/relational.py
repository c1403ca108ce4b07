"""Reusable relational operator helpers (SURVEY.md §2.5/§2.6) shared by
queries and tools. Each is a thin, named composition of DataFrame ops —
the value is the documented scale contract, not the line count."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def per_key_limit(df: DataFrame, key: str | list[str], order_by: list[Column],
                  n: int) -> DataFrame:
    """S5's `limit=1000 rows per client` as a row_number window."""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= n).drop("__rn")


def salted_count(df: DataFrame, key: str, salt_buckets: int = 16,
                 out: str = "n") -> DataFrame:
    """Two-phase aggregation for skewed keys: count per (key, salt) first
    (spreads one hot key over ``salt_buckets`` reducers), then merge the
    partials. AQE's skew handling covers joins; heavily-skewed GROUP BY on
    a low-cardinality hot key still benefits from explicit salting because
    the partial-aggregate hash table saturates on one task otherwise."""
    salt = (F.spark_partition_id() % salt_buckets).alias("__salt")
    partial = df.groupBy(F.col(key), salt).agg(F.count(F.lit(1)).alias("__pn"))
    return partial.groupBy(key).agg(F.sum("__pn").cast("long").alias(out))


def salted_join(facts: DataFrame, dim: DataFrame, on: str,
                salt_buckets: int = 8) -> DataFrame:
    """Skew-resistant equi-join: the fact side gets a random-ish salt (from
    partition id — deterministic per execution plan), the dimension side is
    exploded ``salt_buckets`` times so every (key, salt) pair matches. Use
    when one join key carries a disproportionate share of rows and the dim
    side is too big to broadcast; otherwise prefer AQE skew-join."""
    salted_facts = facts.withColumn("__salt", F.spark_partition_id() % salt_buckets)
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return (
        salted_facts.join(salted_dim, [on, "__salt"]).drop("__salt")
    )


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int,
                   sort_by: str | None = None) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key:
    two tables bucketed the same way join with ZERO shuffle — the physical
    co-location strategy for repeated fact-fact joins at 100 TB.

    Robust to orphaned warehouse directories: a managed table written by
    a PREVIOUS session leaves its directory under its database's location
    while the new session's catalog has no such table — saveAsTable then
    fails with LOCATION_ALREADY_EXISTS (overwrite mode can't help: the
    catalog entry it would overwrite doesn't exist). The leftover
    directory is deleted ONLY in that orphaned state (location on disk,
    no catalog entry); when the table exists in the catalog, the write
    goes straight to saveAsTable so all of its safety analysis — e.g.
    refusing to overwrite a table the plan also reads — still runs
    before anything is touched.

    ``table`` may be unqualified (resolved against the session's CURRENT
    database, which is also where saveAsTable writes it) or ``db.table``
    qualified; either way the orphan path is derived from the owning
    database's actual ``locationUri`` via spark.catalog — never from an
    assumed '<warehouse>/<name>' layout, so a non-default current
    database or a custom database location cannot misdirect the delete."""
    spark = df.sparkSession
    parts = table.split(".")
    if len(parts) == 1:
        db, name = spark.catalog.currentDatabase(), parts[0]
    elif len(parts) == 2 and all(parts):
        db, name = parts
    else:
        raise ValueError(
            f"write_bucketed accepts 'table' or 'db.table' names, got "
            f"{table!r}")
    if not spark.catalog.tableExists(table):
        # getDatabase also fail-fasts on a nonexistent database with a
        # clearer error than saveAsTable's would be
        db_loc = spark.catalog.getDatabase(db).locationUri
        sc = spark.sparkContext
        loc = sc._jvm.org.apache.hadoop.fs.Path(db_loc, name.lower())
        fs = loc.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(loc):
            fs.delete(loc, True)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def bloom_prefilter_semi_join(
    facts: DataFrame,
    keys: DataFrame,
    on: str,
    *,
    m_buckets: int = 1 << 14,
    n_hashes: int = 2,
) -> DataFrame:
    """Semi-join with a bloom-style runtime prefilter, for the regime where
    the key set is too large to broadcast raw but its hashed-bucket
    footprint is bounded: project each key to ``n_hashes`` md5 buckets
    (mod ``m_buckets``), broadcast the DISTINCT bucket sets (at most
    ``m_buckets`` rows each, regardless of key count), and semi-join the
    fact's buckets map-side before the exact key join. False positives
    survive the prefilter but die in the exact join, so the RESULT equals
    a plain semi-join — only the shuffle volume changes: the fact rows
    that reach the exact join's exchange drop from 100% to
    (hit rate + false-positive rate), the same effect Spark's runtime
    bloom filter (spark.sql.optimizer.runtime.bloomFilter) targets, built
    here from engine-portable md5 so oracles can reproduce the candidate
    set exactly.
    """
    from cliqz_etl_spark.functions.hashing import md5_long_seeded

    pruned = facts
    for i in range(n_hashes):
        bucket_i = (md5_long_seeded(F.col(on), i) % m_buckets).alias(f"__b{i}")
        key_buckets = keys.select(
            (md5_long_seeded(F.col(on), i) % m_buckets).alias(f"__b{i}")
        ).distinct()
        pruned = (
            pruned.withColumn(f"__b{i}", bucket_i)
            .join(F.broadcast(key_buckets), f"__b{i}", "left_semi")
            .drop(f"__b{i}")
        )
    return pruned.join(keys.select(on).distinct(), on, "left_semi")


def blocked_fuzzy_pairs(df: DataFrame, id_col: str, name_col: str,
                        block, min_dist: int = 1,
                        max_dist: int = 3) -> DataFrame:
    """Record-linkage candidate pairs: edit-distance fuzzy self-join with
    equi-join blocking — the only fuzzy-join shape that survives 100 TB.

    Names are first collapsed to distinct values (min id as the
    representative, so the pair count is |distinct names| choose 2 within
    a block, never row-count squared for corpora with repeated names).
    Candidates come from a BLOCK-KEY EQUI-JOIN (a plain shuffled hash
    join), and levenshtein runs only inside blocks; there is no cross
    join anywhere. Recall is bounded by the blocking function — pairs
    disagreeing on the block key are unseen by design (standard blocking
    tradeoff; callers widen recall by unioning several block passes, each
    still an equi-join).

    ``block`` is a callable Column -> Column building the block key from a
    name (e.g. first token, phonetic code, length band).

    Output: (name_a, name_b, rep_a, rep_b, dist), name_a < name_b."""
    reps = (df.groupBy(F.col(name_col).alias("_name"))
            .agg(F.min(F.col(id_col)).cast("long").alias("_rep"))
            .select("_name", "_rep", block(F.col("_name")).alias("_blk")))
    a = reps.select(F.col("_name").alias("name_a"), F.col("_rep").alias("rep_a"),
                    F.col("_blk").alias("_blk"))
    b = reps.select(F.col("_name").alias("name_b"), F.col("_rep").alias("rep_b"),
                    F.col("_blk").alias("_blk"))
    return (a.join(b, "_blk")
            .where(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b", "rep_a", "rep_b",
                    F.levenshtein("name_a", "name_b").cast("long").alias("dist"))
            .where(F.col("dist").between(min_dist, max_dist)))
