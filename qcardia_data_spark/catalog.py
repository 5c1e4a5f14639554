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
#: e.g. nanosAsLong) re-infers from the files. Each entry holds the
#: table's replacement token next to its schema: (modification time,
#: length) of the table's root, from its Hadoop ``FileStatus``.
_SCHEMA_CACHE: dict = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def clear_schema_cache() -> None:
    """Forget every cached table schema: the next ``load_table`` of each
    path infers it from the files again."""
    _SCHEMA_CACHE.clear()


def _replacement_token(spark: SparkSession, path: str) -> tuple | None:
    """(modification time, length) of ``path``'s root — it changes when
    the table is written again — or None when the path does not exist or
    its root carries no such token. One Hadoop ``getFileStatus`` call; the
    ``Path`` class is addressed by name, which saves a JVM round trip per
    package."""
    from py4j.java_gateway import JavaClass
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jpath = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    try:
        status = jpath.getFileSystem(sc._jsc.hadoopConfiguration()).getFileStatus(jpath)
    except Py4JJavaError:  # missing: the read below fails as the plain reader does
        return None
    return _token(status)


def _token(status) -> tuple | None:
    """The replacement token of a Hadoop ``FileStatus``. Object stores
    (S3A, GCS, ABFS without a hierarchical namespace) give a directory
    modification time 0 and length 0 however its contents change: no
    token, so such a table is never served from the cache."""
    mtime = status.getModificationTime()
    if mtime == 0 and status.isDirectory():
        return None
    return mtime, status.getLen()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one table (column pruning + predicate pushdown
    happen automatically because nothing is materialized here).

    The schema inferred on the first load of a path is reused
    (``_SCHEMA_CACHE``) while the table's root keeps its modification
    time and length; a table written again in place — a new root
    directory or file — is inferred afresh on its next load. That holds
    on filesystems whose directory modification times change with their
    contents (local, HDFS); a directory root on an object store has no
    such time, so its schema is inferred on every load. A change below
    the root that leaves the root untouched (a file swapped inside a
    partition directory) is not seen: call :func:`clear_schema_cache`
    after such an edit."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Harden against host sessions not built by get_spark (e.g. the driver's
    # own SparkSession): both confs are runtime-settable and required for
    # correct reads — nanos timestamps (events) and UTC literal parsing.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    key = (spark.sparkContext.applicationId, path)
    token = _replacement_token(spark, path)
    cached = _SCHEMA_CACHE.get(key)
    if token is not None and cached is not None and cached[0] == token:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if token is not None:
            _SCHEMA_CACHE[key] = (token, df.schema)
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
