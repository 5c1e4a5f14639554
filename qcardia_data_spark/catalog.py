"""Table catalog over the driver's synthetic parquet star schema.

Mirrors the reference's metadata-table loading surface
(``read_dataset_csv``, reference ``src/qcardia_data/utils.py:132-133``) as a
parquet-backed catalog: one DataFrame per table, loaded lazily, with the
scan expressed so Catalyst can push filters and prune columns into the
parquet reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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

#: Per-(application, path) parquet SCHEMA cache (r16, guide §5/§6): without
#: it every `spark.read.parquet` at query-BUILD time runs one footer-read
#: job for schema inference — the r16 job timeline showed q5 spending
#: ~380 ms on six sequential ~35 ms footer jobs before planning even
#: started, on tables whose schema never changes within a session. This is
#: exactly the metadata a real catalog (Hive/Iceberg/Delta) persists with
#: the table. METADATA only — never rows, never derived results — keyed by
#: applicationId so a fresh session (potentially different reader confs,
#: e.g. nanosAsLong) re-infers from the files.
_SCHEMA_CACHE: dict = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def clear_schema_cache() -> None:
    """Forget every cached table schema: the next ``load_table`` of each
    path infers it from the files again."""
    _SCHEMA_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table (column pruning + predicate pushdown
    happen automatically because nothing is materialized here).

    Tables are read-only for the life of a Spark application: the schema
    inferred on the first load of a path is reused (``_SCHEMA_CACHE``), so
    a table replaced in place with a different schema reads through the
    stale one. Call :func:`clear_schema_cache` after replacing a table."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Harden against host sessions not built by get_spark (e.g. the driver's
    # own SparkSession): both confs are runtime-settable and required for
    # correct reads — nanos timestamps (events) and UTC literal parsing.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    key = (spark.sparkContext.applicationId, path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long (nanosAsLong): truncate to micros.
        # Integer `div` keeps full precision (nanos exceed double's 2^53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
