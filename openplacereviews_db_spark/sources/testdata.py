"""Loaders for the driver's synthetic parquet tables (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events.ts column to TIMESTAMP regardless of how the
    parquet shipped it.  events.ts has shipped as TIMESTAMP(NANOS) (read
    as an epoch-nanos long under ``spark.sql.legacy.parquet.nanosAsLong``,
    which ``session.get_spark`` sets; truncate to micros like DuckDB)
    and as TIMESTAMP(MICROS) (read as NTZ; cast to session-TZ
    timestamp — UTC session makes it the same instant).  Shared by the
    batch loader AND the streaming source (streaming/pipelines.py) so
    both paths always agree on the instant."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, name: str,
               sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view so plans can use spark.sql()."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
