"""Fixture-table loading.

The driver generates deterministic parquet tables under
``/root/testdata/sf{0.001,0.01,0.1}/`` (see TESTDATA.md). Every query in the
declared corpus takes ``(spark, sf_dir)`` and loads through here, so the scan
path is uniform: parquet, columnar, predicate-pushdown-eligible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Columnar parquet scan; Catalyst prunes
    columns/pushes filters from whatever the caller selects on top.

    The events table carries TIMESTAMP(NANOS) which Spark 4 refuses to read
    natively; we read nanos as long (legacy conf) and convert to microsecond
    timestamps (truncation — exactly what DuckDB does on the same file)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLE_NAMES}")
    # Timestamp rendering (date_format / window starts) must match the
    # timezone-naive DuckDB oracle regardless of the caller's session
    # timezone — pin UTC on every load path (runtime-settable, idempotent).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
