"""Parquet table registry.

Single chokepoint for every scan so Catalyst's pushdown/pruning always
applies: callers select/filter on the returned lazy DataFrame. Nothing
is kept between calls — each load lists the table's files again, like
the reference re-listing `dataset/*.tif` on every run — so a rewritten
directory is always seen. Two loads of one path are distinct objects
with the same `semanticHash()`, so plan-level reuse (exchange reuse,
`CacheManager` lookups) still matches across them. At 100 TB these
would be the same calls against a partitioned table location or
catalog table — the API shape is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
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
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # every scan goes through here, including on sessions we didn't
    # build (the driver passes its own): pin the session TZ so
    # date_format/date_trunc/year never shift with the host timezone
    # (the DuckDB oracle reads naive timestamps = UTC semantics)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Driver-generated events.parquet has shipped `ts` as both
        # TIMESTAMP(NANOS) (rejected by Spark's reader without this conf)
        # and plain timestamp[us] (reads as TIMESTAMP_NTZ, conf is a
        # no-op). Keep both paths live; must also hold on sessions we
        # didn't build (the driver passes its own), so set the runtime
        # conf here, not only in session.py.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read as long (see session.py); truncate
        # to microseconds — the DuckDB oracle casts TIMESTAMP_NS → TIMESTAMP
        # the same way, so both engines agree to the microsecond.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def fan_out(spark: SparkSession, df: DataFrame, n: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the scan has fewer splits than cores.

    CPU-bound per-row derivations (shingling, hashing, vector math) are
    bottlenecked by input splits, not data volume: a single small parquet
    file scans as ONE partition, serializing the derivation on one core.
    At 100 TB the scan has thousands of splits and this is a no-op (the
    guard keeps it from ever ADDING a shuffle there); on file-count-bound
    inputs it buys split-count → core-count parallelism for one cheap
    shuffle of the raw rows.
    """
    n = n or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
