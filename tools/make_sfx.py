"""Generate an sf1-equivalent dataset by deterministic key-shifted
replication of sf0.1 — the scale-evidence tier the sf0.1-only bench
cannot provide (round-13 verdict: every 8-vs-32-core ratio reads ~1 at
sf0.1 because nothing is data-bound at that size).

    python tools/make_sfx.py /tmp/sf1 10          # 10x sf0.1

Each fact/dimension table is unioned FACTOR times with replica-shifted
keys (orderkey += i*150k, custkey += i*15k, ...), preserving the
original value distributions while multiplying volume; nation/region
stay as-is. Two deliberate content choices:

- documents: even replicas keep the original text (planted corpus-level
  duplication, the regime dedup operators exist for); odd replicas
  reverse the token order (distinct content, same vocabulary/Zipf
  shape), so dedup workloads see two duplicate families per source doc
  at ANY factor instead of a degenerate all-identical corpus.
- embeddings: each replica adds a deterministic per-component jitter
  (hash(vec_id, j) scaled to ~1% of the coordinate range), so ANN
  geometry gains new near-neighbors instead of exact clones whose
  cosine ties would distort bucket caps.

Everything is derived with DuckDB from the sf0.1 parquet files — no
randomness, same output bit-for-bit on every run. This data is for
SCALING measurements only; oracle correctness stays pinned to the
driver's sf directories. Time a query set on it at a given core count:

    SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_CPUS=8 python bench.py q1 ...
"""
from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"

# per-table (key column -> per-replica shift) — shifts are the sf0.1
# key-space sizes, so replica key ranges never collide
SHIFTS = {
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {"l_orderkey": 150_000, "l_partkey": 20_000,
                 "l_suppkey": 1_000},
    "customer": {"c_custkey": 15_000},
    "part": {"p_partkey": 20_000},
    "supplier": {"s_suppkey": 1_000},
    "events": {"event_id": 100_000, "user_id": 1_500},
    "documents": {"doc_id": 5_000},
    "embeddings": {"vec_id": 2_000},
}
COPY_AS_IS = ("nation", "region")


def replica_select(table: str, i: int) -> str:
    shifts = SHIFTS[table]
    cols = [c[0] for c in duckdb.sql(
        f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{table}.parquet')"
    ).fetchall()]
    exprs = []
    for c in cols:
        if c in shifts:
            exprs.append(f"({c} + {i * shifts[c]}) AS {c}")
        elif table == "documents" and c == "text" and i % 2 == 1:
            # reversed token order: same vocabulary, distinct content
            exprs.append(
                "array_to_string(list_reverse(string_split_regex("
                "trim(text), '\\s+')), ' ') AS text")
        elif table == "embeddings" and c == "embedding" and i > 0:
            # deterministic ~1% jitter per component, keyed on
            # (replica, vec_id, component index)
            exprs.append(
                "list_transform(embedding, (x, j) -> CAST(x + "
                f"(CAST(hash({i} * 4096 + vec_id * 64 + j) % 200 AS BIGINT)"
                " - 100) * 0.0005 AS FLOAT)) AS embedding")
        else:
            exprs.append(c)
    return (f"SELECT {', '.join(exprs)} "
            f"FROM read_parquet('{SRC}/{table}.parquet')")


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    for table in COPY_AS_IS:
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{table}.parquet')) "
            f"TO '{out}/{table}.parquet' (FORMAT PARQUET, CODEC ZSTD)")
        print(f"{table}: copied")
    for table in SHIFTS:
        union = " UNION ALL ".join(
            replica_select(table, i) for i in range(factor))
        duckdb.sql(
            f"COPY ({union}) TO '{out}/{table}.parquet' "
            f"(FORMAT PARQUET, CODEC ZSTD)")
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"{table}: {n} rows")


if __name__ == "__main__":
    main()
