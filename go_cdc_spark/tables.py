"""Test-corpus table loaders (driver parquet under /root/testdata/sf*).

One parquet file per table; ``spark.read.parquet`` gives us columnar
scans with predicate pushdown + column pruning for free. At 100 TB the
same call points at a partitioned directory (e.g. partitioned by
date / shard) and Catalyst adds partition pruning — query code does not
change, which is why every operator takes ``sf_dir`` rather than a
pre-loaded DataFrame.
"""

from __future__ import annotations

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

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame.

    ``events.parquet`` has shipped with ``ts`` as either TIMESTAMP(MICROS)
    (reads natively) or TIMESTAMP(NANOS) (Spark's parquet reader rejects
    it; read as raw nanos via the legacy conf and truncate to
    microseconds — identical to how DuckDB, micro-precision, reads the
    same file, so oracle comparisons agree). Dispatch on the observed
    read type so both generations of the fixture work.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # The harness may hand us a session we didn't build: pin the semantics
    # our queries (and the DuckDB oracle, which is UTC-naive) rely on.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer `div`, not `/`: double division loses precision at 1e18 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Parquet naive timestamps are wall-clock event time. Keep them NTZ so
    # results are invariant to the host/process timezone: TimestampType
    # round-trips through collect() via the *local* tz, TIMESTAMP_NTZ does
    # not (matches DuckDB's UTC-naive TIMESTAMP exactly).
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a CPU-heavy derivation across all cores when the scan
    produced fewer splits than the cluster has slots (tiny test files →
    one 128 MB-budget partition → one task on 32 cores). Conditional on
    purpose: at corpus scale the scan already yields thousands of
    splits and a blanket ``repartition`` would be a full shuffle of the
    raw text for nothing."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
