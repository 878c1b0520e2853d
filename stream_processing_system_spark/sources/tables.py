"""Catalog of the driver-generated parquet tables.

The reference registers datasets in a hard-coded name→path map
(`client.go:21-24`). The Spark-native equivalent is a tiny catalog
over parquet — schema travels with the file, scans are columnar and
benefit from predicate pushdown / column pruning, and the same
loader works identically against an object store at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Constant-size dimension tables: safe to hard-broadcast at ANY
# scale factor (region=5 rows, nation=25 always). customer/supplier/
# part scale with SF — their join strategy belongs to AQE, never a
# hard-coded broadcast hint.
BROADCAST_DIMS = {"region", "nation"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Inferred schema per parquet path: without it EVERY
#: `spark.read.parquet` call pays a footer-inference Spark job, i.e.
#: one driver round trip per table per DataFrame BUILD (guide §1.2 —
#: the bench rebuilds each query's frame for every timed sample).
#: The catalog paths are immutable within a process (the driver
#: regenerates testdata only between rounds), so the schema is
#: metadata, cached once per path. Results are never cached.
_SCHEMA_CACHE: dict[str, object] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, streaming: bool = False
) -> DataFrame:
    """Load one catalog table. Columnar parquet scan; Catalyst prunes
    columns and pushes filters into the scan automatically.

    `streaming=True` returns the same table as an unbounded file
    stream over the catalog parquet itself, with the batch schema (an
    availableNow drain reads it once, as one micro-batch). A catalog
    table stored as a single file streams from its directory with a
    `pathGlobFilter` on the file name: the file stream source needs a
    directory. The source only lists and reads; it never moves or
    deletes the catalog file."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Naive parquet timestamps (isAdjustedToUTC=false) must read as
    # TIMESTAMP, not TIMESTAMP_NTZ: the plans treat ts as epoch-based
    # (cast("long"), window(), unix_timestamp), NTZ forbids the long
    # cast, and DuckDB's epoch() oracle reads the same stored micros.
    # With session tz UTC the stored value IS the epoch either way.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        # events.parquet has stored TIMESTAMP(NANOS) in some driver
        # generations, which vanilla Spark rejects
        # (PARQUET_TYPE_ILLEGAL): read nanos as long (converted below).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        schema = _SCHEMA_CACHE[path] = df.schema
    elif not streaming:
        df = spark.read.schema(schema).parquet(path)
    if streaming:
        reader = spark.readStream.schema(schema)
        if os.path.isfile(path):
            reader = reader.option("pathGlobFilter", os.path.basename(path))
            path = os.path.dirname(path)
        df = reader.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos -> a real timestamp at microsecond precision, by
        # integer division (a double division would lose precision
        # at ~1.7e18 nanos)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can use spark.sql."""
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
