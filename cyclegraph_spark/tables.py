"""Loaders for the driver-provided synthetic tables (/root/testdata/sf*).

Explicit-schema reads only — production paths never infer (mirrors the
reference's fixed-header discipline, /root/reference/cli/io.py:69-140).
Parquet carries its own schema, so `spark.read.parquet` is already
inference-free; these helpers centralize naming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Widen a too-narrow input before per-row-heavy work (explode, UDF).

    A small parquet table arrives as 1-2 scan splits (128 MB default
    split size), which serializes everything downstream of it on one
    task. Repartition ONLY when below the floor: at real scale a scan
    has thousands of splits and this is a no-op — we never add a shuffle
    to data that is already wide (the 100 TB case must not pay a
    repartition of the whole input here; split sizing is
    spark.sql.files.maxPartitionBytes' job there).
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
