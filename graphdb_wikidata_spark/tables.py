"""Loaders for the benchmark/test parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under an ``sf`` dir.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession

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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Filters/projections applied by the caller reach the
    parquet scan via Catalyst pushdown — never pre-materialize here.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; read nanos as long and rebuild the timestamp with
    integer division (micros) — same truncation DuckDB applies when it
    casts ns -> us, and no double-precision loss on 1e18-scale values.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)")))
    return df


def epoch_us(c: Column) -> Column:
    """Microseconds since 1970-01-01 00:00:00 as a tz-free integer.

    The testdata's timestamps are naive (TIMESTAMP_NTZ in Spark, plain
    TIMESTAMP in DuckDB, depending on how the driver generated them);
    ``unix_micros`` rejects NTZ, so diff against the epoch instead —
    the exact semantics of DuckDB's ``epoch_us`` on naive timestamps.
    """
    from pyspark.sql import functions as F

    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
