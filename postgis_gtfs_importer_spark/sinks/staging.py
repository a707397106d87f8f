"""Parquet staging sink — the materialization barrier (C17).

The reference buffers the entire generated SQL stream, compressed, before
the load transaction opens (``gtfs-to-sql | zstd | sponge | zstd -d |
psql``, /root/reference/import.sh:131): conversion time never holds the
Postgres transaction open. The Spark analog: materialize every table to
zstd Parquet, then open the COPY load reading the staged files — load
wall-time ≈ pure write time, retries re-read the staging dir instead of
recomputing the plan, and executor loss during the load costs nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def stage_tables(
    tables: dict[str, DataFrame], staging_dir: str, compression: str = "zstd"
) -> dict[str, str]:
    """Write each table to ``staging_dir/<name>`` (zstd parquet, like the
    reference's zstd buffer). Returns name -> path."""
    out = {}
    for name, df in tables.items():
        path = os.path.join(staging_dir, name)
        df.write.mode("overwrite").option("compression", compression).parquet(path)
        out[name] = path
    return out


def read_staged(spark: SparkSession, staged: dict[str, str]) -> dict[str, DataFrame]:
    """Re-read the staged tables — flat scans with full pushdown support."""
    return {name: spark.read.parquet(path) for name, path in staged.items()}


def stage_tables_bucketed(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    database: str,
    location: str,
    bucket_specs: dict[str, tuple[str, int]],
) -> None:
    """Bucketed staging: co-located joins for the repeated-join keys.

    ``bucket_specs`` maps table name -> (bucket column, n buckets).
    Tables bucketed (and sorted) on the same key with the same bucket
    count join WITHOUT an Exchange — this is the SCALE.md claim that the
    orphan fixpoint and the C11 fact joins become shuffle-free once
    stop_times/trips are staged bucketed by trip_id. Verified by
    tests/test_staging.py::test_bucketed_join_has_no_exchange.

    Catalog tables (saveAsTable) are required — bucketing metadata lives
    in the catalog, not the parquet files.
    """
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {database} LOCATION '{location}'"
    )
    for name, df in tables.items():
        writer = df.write.mode("overwrite").format("parquet")
        if name in bucket_specs:
            col, n = bucket_specs[name]
            writer = writer.bucketBy(n, col).sortBy(col)
        writer.saveAsTable(f"{database}.{name}")
