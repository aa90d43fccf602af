"""Bucketed (pre-partitioned, co-located) tables: shuffle-free as-of joins.

At 100 TB the events-side exchange is the dominant cost of every backfill:
each GroupBy/Join part re-shuffles the full event log on the entity key.
Writing the events table ONCE with Spark storage bucketing
(`bucketBy(N, key)` + `sortBy(key, ts)`) amortizes that shuffle across
every subsequent backfill: a bucketed parquet scan reports
`HashPartitioning(key, N)`, which satisfies the cogroup's
ClusteredDistribution requirement, so `asof_join(..., coarse_buckets=None)`
over two co-bucketed tables runs with ZERO exchanges — verified by plan
assertion in tests/test_bucketed.py (the alias projection the join inserts
is partitioning-preserving: ProjectExec is alias-aware).

Trade-off vs the default coarse-bucket path: both run the same multi-key
kernel (asof_join.cogroup_asof), but a raw-key cogroup hands it one key per
Arrow group, so the per-group cost (Arrow batch, factorize, kernel
dispatch) is paid per key instead of once per bucket of many keys. At bench
scale that overhead dominates and coarse buckets win; at cluster scale the
exchange dominates (network + spill over terabytes) and co-located buckets
win. Both paths produce identical values (equivalence-tested).

The reference engine leans on Hive-partitioned unbucketed tables and pays
the shuffle per job (spark/.../GroupBy.scala renders a repartition per
backfill); storage bucketing is the Spark-native upgrade over that design,
not a port of it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from chronon_spark.api import GroupBy


@dataclass(frozen=True)
class BucketSpec:
    keys: tuple[str, ...]
    num_buckets: int


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist `df` bucketed by `keys` (and bucket-sorted by `sort_cols`,
    default keys, so downstream key+ts sorts start from near-sorted runs).
    Bucket count is a contract between tables: pick one N per entity domain
    and reuse it everywhere a co-located join is wanted."""
    sort_cols = sort_cols or list(keys)
    (
        df.write.bucketBy(num_buckets, keys[0], *keys[1:])
        .sortBy(sort_cols[0], *sort_cols[1:])
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def table_bucket_spec(spark: SparkSession, table: str) -> BucketSpec | None:
    """Read the bucket spec back from the catalog (None if unbucketed)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r["col_name"]: r["data_type"] for r in rows}
    nb, cols = info.get("Num Buckets"), info.get("Bucket Columns")
    if not nb or not cols:
        return None
    keys = tuple(c.strip(" `") for c in cols.strip("[]").split(",") if c.strip(" `"))
    return BucketSpec(keys=keys, num_buckets=int(nb))


def asof_join_co_located(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    gb: GroupBy,
    left_time_column: str = "ts",
    key_mapping: dict[str, str] | None = None,
    prefix: str | None = None,
) -> DataFrame:
    """As-of join two co-bucketed catalog tables with zero exchanges.

    Validates that both tables are bucketed on the join keys with the same
    bucket count (the co-location contract), then runs the standard
    `asof_join` with `coarse_buckets=None` so the cogroup groups on the raw
    key columns and EnsureRequirements reuses the storage partitioning."""
    from chronon_spark.operators.asof_join import asof_join

    key_mapping = key_mapping or {k: k for k in gb.keys}
    lspec = table_bucket_spec(spark, left_table)
    rspec = table_bucket_spec(spark, right_table)
    if lspec is None or rspec is None:
        raise ValueError(
            f"both tables must be bucketed: {left_table}={lspec}, {right_table}={rspec}"
        )
    if lspec.num_buckets != rspec.num_buckets:
        raise ValueError(
            f"bucket counts differ: {left_table}={lspec.num_buckets}, "
            f"{right_table}={rspec.num_buckets} — rewrite one side"
        )
    if tuple(key_mapping.keys()) != lspec.keys or tuple(key_mapping.values()) != rspec.keys:
        raise ValueError(
            f"bucket columns must equal the join keys: left {lspec.keys} vs "
            f"{tuple(key_mapping)}, right {rspec.keys} vs {tuple(key_mapping.values())}"
        )
    return asof_join(
        spark.table(left_table),
        spark.table(right_table),
        gb,
        left_time_column=left_time_column,
        key_mapping=key_mapping,
        prefix=prefix,
        coarse_buckets=None,
    )
