"""Loaders for the driver-generated test tables (/root/testdata/sf*).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each (TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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


def _path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The table's file, after pinning the reader confs its contract needs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts contract: BIGINT nanoseconds since epoch, whatever the
        # parquet physical type is. Generations of the testdata have used
        # TIMESTAMP(NANOS) (Spark reads it only as long, via the legacy
        # conf — set here, not only in our session factory, because the
        # driver passes its own SparkSession) and TIMESTAMP(MICROS)
        # (read natively as timestamp_ntz, converted in _normalized; exact
        # under the UTC session timezone). Consumers convert with
        # `event_ts()`.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The ntz→timestamp cast reads the session timezone; pin it to
        # UTC so a driver-supplied session with a non-UTC tz does not
        # shift every event ts by the offset.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return os.path.join(sf_dir, f"{name}.parquet")


def _normalized(df: DataFrame, name: str) -> DataFrame:
    if name == "events" and dict(df.dtypes)["ts"] != "bigint":
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def event_ts() -> Column:
    """events.ts (BIGINT nanoseconds) as a timestamp, exact to the µs."""
    return F.timestamp_micros(F.expr("ts div 1000"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _normalized(spark.read.parquet(_path(spark, sf_dir, name)), name)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The file `load` reads, as a streaming DataFrame with the same
    schema. The streaming file source wants a directory, so it scans
    ``sf_dir`` with a glob filter selecting only this table's file."""
    schema = spark.read.parquet(_path(spark, sf_dir, name)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalized(stream, name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (mirrors the driver's
    DuckDB-side pre-registered views so spark.sql() parity tests read
    the same names)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
