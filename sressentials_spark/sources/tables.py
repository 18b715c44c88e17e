"""Star-schema / testdata table registry (FIXTURES.md §F3).

Plain parquet scans — Catalyst handles predicate pushdown, column
pruning and partition pruning; nothing to hand-roll here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
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
]


#: Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
#: reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` they
#: arrive as epoch-nano longs and are converted back here (integer
#: µs division — lossless on µs-exact data).
_NANO_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in _NANO_TS_COLS:
        # Self-healing: the driver hands us externally built sessions that
        # lack the nanosAsLong conf, and Spark's reader rejects parquet
        # TIMESTAMP(NANOS) without it. The conf is runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLS.get(name, []):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(df.schema[col].dataType, T.TimestampNTZType):
            # Parquet timestamp[us] with isAdjustedToUTC=false arrives as
            # TIMESTAMP_NTZ; downstream plans (unix_micros, windowing)
            # expect TIMESTAMP. The session timezone is pinned to UTC, so
            # the cast is value-preserving and matches the naive oracle.
            df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def history_split(frame: DataFrame, id_col: str) -> int:
    """The 70/30 history split point over ``frame``'s ids (one scalar
    collect): ids below it are the ingested history, the rest the
    arriving batch, at any scale factor."""
    return (frame.agg(F.max(id_col)).first()[0] + 1) * 7 // 10


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
