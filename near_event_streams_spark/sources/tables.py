"""Analytics-table loaders for the driver's TPC-H-ish testdata."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

