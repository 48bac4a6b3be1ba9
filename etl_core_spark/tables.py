"""Canonical loaders for the benchmark/test tables.

``/root/testdata/sf*/events.parquet`` has shipped its ``ts`` column
as parquet TIMESTAMP(NANOS) in some generations and plain
TIMESTAMP(MICROS) in others; the testdata contract never froze the
physical type, so the loader branches on the dtype Spark actually
observes:

- ``bigint`` — the file is NANOS and
  ``spark.sql.legacy.parquet.nanosAsLong`` surfaced it as nanos
  since epoch; rebuild a microsecond TIMESTAMP_NTZ.
- ``timestamp`` (ltz) — cast to TIMESTAMP_NTZ under the UTC session
  pin (stored instants are UTC wall times).
- ``timestamp_ntz`` — already the canonical type; pass through.

All branches stay in the distributed scan; no driver-side
materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # any ltz→ntz cast below renders wall time in the SESSION
        # timezone; pin UTC so the rebuild is correct under any
        # caller-provided session (the stored values are UTC instants).
        # The UTC pin is deliberately session-wide and NOT restored —
        # it is this loader's documented contract (the oracle compares
        # UTC wall times).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type != "bigint":
            # MICROS-generation file: the legacy conf was never
            # exercised, so restore it — leaving it set would make any
            # OTHER table's TIMESTAMP(NANOS) column silently surface
            # as bigint in subsequent reads. (For a NANOS file the
            # conf must stay set: the scan re-reads it at execution.)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) file surfaced as nanos-since-epoch
            return df.withColumn(
                "ts",
                F.expr(
                    "CAST(timestamp_micros(CAST(ts / 1000 AS BIGINT))"
                    " AS TIMESTAMP_NTZ)"
                ),
            )
        if ts_type == "timestamp":
            return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}
