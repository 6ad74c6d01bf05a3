"""Loaders for the driver's synthetic testdata tables (TESTDATA.md).

TPC-H-ish star schema ``region nation customer supplier part orders
lineitem`` plus an ``events`` stream table and training-data tables
``documents`` / ``embeddings``; one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Scale note: loads are plain ``spark.read.parquet`` — columnar scans with
predicate pushdown and column pruning; at 100 TB the same call reads a
partitioned directory tree and Catalyst prunes partitions. Nothing here
collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
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


def spread_input(df: DataFrame) -> DataFrame:
    """Widen narrow inputs before CPU-heavy fan-out work (r14; shared
    by the dedup, affinity and curation tokenizers).

    A parquet table written as one row group scans as ONE populated
    partition no matter how many byte-range splits the planner cuts
    (a row group goes to the split holding its midpoint) — the guide
    §2.5 unsplittable-input hazard. Every measured SF of this corpus
    is laid out that way (1 row group per table file), so tokenizers,
    shingle explodes and mapInPandas GEMM kernels that run map-side on
    the scan were SERIAL: the sf10 jaccard eventlog shows a 70 s
    one-task tokenize stage, 40 % of the query.

    Conditional: a no-op (returns df unchanged, no exchange) when the
    scan already has >= defaultParallelism partitions — i.e. on any
    realistically-laid-out large table. Row-wise and post-shuffle
    consumers are partition-layout-invariant, so results never change;
    order-sensitive float aggregates downstream are already rounded at
    their grids per the project convention."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing physical quirks.

    The driver has shipped ``events.ts`` in three parquet layouts across
    regenerations: TIMESTAMP(NANOS) (readable only via the nanos-as-long
    legacy conf), µs with ``isAdjustedToUTC=false`` (read as
    TIMESTAMP_NTZ), and plain µs-UTC. We normalize all three to a proper
    (microsecond, UTC-session) TimestampType so downstream consumers
    (``unix_micros`` call sites, interval arithmetic) and the DuckDB
    oracle (NTZ-native) see identical values — the session timezone is
    pinned UTC, so the NTZ→TZ cast is value-preserving.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # session.py sets this at build, but the external driver runs
        # our queries with a VANILLA SparkSession that never saw
        # session.py — so the reader conf must remain settable here at
        # runtime. Guarded: repeated loads on an already-configured
        # session no longer re-mutate session state.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div: float division would lose sub-µs precision at 2^60 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = _normalize_ntz(df)
        return df
    return _normalize_ntz(spark.read.parquet(path))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType (UTC session)."""
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of DataFrames."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def load_table_with_provenance(spark, sf_dir: str, name: str):
    """Table scan plus lineage columns from the parquet reader's
    ``_metadata`` struct: source file path, size, and the split's byte
    range (block start/length — the file region whose row groups
    produced the row) let any output row be traced back to its physical
    input — the audit question ("which file produced this bad row?")
    answered without a lineage service. Zero-cost: ``_metadata`` is
    populated by the scan itself, no extra IO."""
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, name)
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_src_file"),
        F.col("_metadata.file_size").alias("_src_file_size"),
        F.col("_metadata.file_block_start").alias("_src_block_start"),
        F.col("_metadata.file_block_length").alias("_src_block_length"),
    )
