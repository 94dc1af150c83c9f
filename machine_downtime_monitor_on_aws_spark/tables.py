"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings - one parquet file each under an sf directory.
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # Some testdata generations store ts as TIMESTAMP(NANOS), which
        # Spark's reader rejects. Read nanos as raw longs and truncate
        # to micros - exactly what DuckDB/Arrow do when downcasting
        # ns -> us, so oracle comparisons agree. Generations that store
        # TIMESTAMP(MICROS) come back as a timestamp column (NTZ when
        # isAdjustedToUTC=false); normalize to TimestampType so
        # downstream epoch casts (ts -> bigint) stay legal. The session
        # is pinned to UTC (session.py), so NTZ -> TIMESTAMP is a pure
        # relabel of the same instant and DuckDB's TZ-naive read agrees.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        # Pin UTC HERE, not only in get_spark: the NTZ -> TIMESTAMP cast
        # below is lazy and reads the session TZ at *execution* time, so
        # a caller that built its own session (or flipped TZ after
        # load) would shift every epoch by the TZ offset. Setting it in
        # the events branch makes the relabel invariant hold for any
        # caller.
        from .session import pin_utc

        pin_utc(spark)
        df = spark.read.parquet(table_path(sf_dir, name))
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
