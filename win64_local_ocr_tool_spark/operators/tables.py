"""Test-table loading: the driver's TPC-H-ish parquet tables by name.

One place so every operator query sees the same tables. Reads are plain
``spark.read.parquet`` — Catalyst pushes filters/column pruning into the
scan (verify with ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
