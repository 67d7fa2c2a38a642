"""Parquet table readers for the driver-generated testdata.

Analog of the reference's scan stage (ref: src/main/java/app/Commands.java:72-74
`Files.walk` + extension regex) — here a columnar scan with Catalyst
predicate pushdown and column pruning doing the filtering for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

