"""catalog.load_table's per-session parquet SCHEMA cache (r16, guide §5/§6):
metadata-only — the cached-read DataFrame must be indistinguishable from the
inferred-read one, and misses must fail exactly like the plain reader."""

from __future__ import annotations

import pytest

import qcardia_data_spark.catalog as C


def _fresh(spark, sf_dir, name):
    C._SCHEMA_CACHE.clear()
    df = C.load_table(spark, sf_dir, name)
    assert any(k[1].endswith(f"{name}.parquet") for k in C._SCHEMA_CACHE)
    return df


def test_cached_read_equals_inferred_read(spark, sf_dir):
    for name in ("events", "lineitem", "documents"):
        inferred = _fresh(spark, sf_dir, name)  # populates the cache
        cached = C.load_table(spark, sf_dir, name)  # served from it
        assert cached.schema == inferred.schema
        a = inferred.limit(5).collect()
        b = cached.limit(5).collect()
        assert a == b
    # events keeps its timestamp handling on the cached path (TIMESTAMP_NTZ
    # on Spark 4.1.2; the nanosAsLong->micros branch on older readers —
    # either way a timestamp type, never raw bigint)
    ev = C.load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")


def test_missing_path_raises_like_plain_reader(spark, tmp_path):
    C._SCHEMA_CACHE.clear()
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        C.load_table(spark, str(tmp_path / "nope"), "events")
    # a failed read must not poison the cache
    assert not any("nope" in k[1] for k in C._SCHEMA_CACHE)


def test_cache_is_metadata_only_and_session_keyed(spark, sf_dir):
    C._SCHEMA_CACHE.clear()
    C.load_table(spark, sf_dir, "region")
    ((app_id, path), (token, schema)), = list(C._SCHEMA_CACHE.items())
    assert app_id == spark.sparkContext.applicationId
    assert path.endswith("region.parquet")
    # the replacement token: the root's modification time and length
    assert len(token) == 2 and all(isinstance(v, int) for v in token)
    # a StructType, not rows/bytes
    from pyspark.sql.types import StructType

    assert isinstance(schema, StructType)


def test_replaced_table_is_reinferred_after_clear_schema_cache(spark, tmp_path):
    C.clear_schema_cache()
    spark.createDataFrame([(1, "a")], "r_regionkey long, r_name string").write.parquet(
        str(tmp_path / "region.parquet"))
    assert C.load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    spark.createDataFrame([(2, "b", "c")], "r_regionkey long, r_name string, r_comment string") \
        .write.mode("overwrite").parquet(str(tmp_path / "region.parquet"))
    # the replaced table is noticed without clear_schema_cache()
    replaced = C.load_table(spark, str(tmp_path), "region")
    assert replaced.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in replaced.collect()] == [(2, "b", "c")]
    C.clear_schema_cache()
    fresh = C.load_table(spark, str(tmp_path), "region")
    assert fresh.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in fresh.collect()] == [(2, "b", "c")]


def test_directory_without_modification_time_is_never_cached(spark, sf_dir, monkeypatch):
    """Object stores list a directory with modification time 0 and length
    0 whatever its contents: such a root has no replacement token, so its
    table is inferred on every load instead of through a schema that may
    be stale."""
    from types import SimpleNamespace

    def status(is_dir, mtime, length):
        return SimpleNamespace(isDirectory=lambda: is_dir, getModificationTime=lambda: mtime,
                               getLen=lambda: length)

    assert C._token(status(True, 0, 0)) is None
    assert C._token(status(True, 1700000000000, 0)) == (1700000000000, 0)
    assert C._token(status(False, 0, 512)) == (0, 512)
    C.clear_schema_cache()
    monkeypatch.setattr(C, "_token", lambda status: None)
    first = C.load_table(spark, sf_dir, "region")
    again = C.load_table(spark, sf_dir, "region")
    assert not C._SCHEMA_CACHE
    assert again.schema == first.schema and again.count() == first.count()
