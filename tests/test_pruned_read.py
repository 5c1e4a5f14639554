"""read_pruned_partitions (r15 optimization): the standing-index probe
read that lists ONLY the probed partition directories must be
row/schema-identical to the plain full-root read + isin filter, actually
prune the file listing, and fall back to the plain read (including its
errors) on every edge the plain read handles."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from qcardia_data_spark.sources.readers import read_pruned_partitions


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pruned") / "tbl")
    df = spark.range(0, 3000).select(
        F.col("id"),
        (F.col("id") % 32).cast("int").alias("bkt"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.write.mode("overwrite").partitionBy("bkt").parquet(root)
    # second file generation per bucket — the append layout probes see
    df.filter(F.col("id") < 300).write.mode("append").partitionBy(
        "bkt"
    ).parquet(root)
    return root


def _plain(spark, root, vals):
    return spark.read.parquet(root).filter(F.col("bkt").isin(vals))


def test_rows_schema_and_listing_pruned(spark, bucketed):
    probe = [1, 5, 31, 9999]  # 9999 never written
    full = _plain(spark, bucketed, probe)
    pruned = read_pruned_partitions(spark, bucketed, "bkt", probe)
    assert pruned.schema == full.schema
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    # the point of the helper: only the probed directories' files are in
    # the scan's file index (3 buckets x 2 generations of files, vs all 32)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert all("/bkt=" in f for f in pruned.inputFiles())
    assert not [
        f
        for f in pruned.inputFiles()
        if not any(f"/bkt={b}/" in f for b in (1, 5, 31))
    ]


def test_empty_and_all_missing_probes(spark, bucketed):
    assert read_pruned_partitions(spark, bucketed, "bkt", []).count() == 0
    assert (
        read_pruned_partitions(spark, bucketed, "bkt", [777, 888]).count()
        == 0
    )


def test_missing_root_raises_like_plain(spark, tmp_path):
    missing = str(tmp_path / "never_written")
    with pytest.raises(AnalysisException):
        read_pruned_partitions(spark, missing, "bkt", [1]).count()


def test_non_int_values_fall_back(spark, bucketed):
    # bool is not a valid partition-path int; the helper must not build
    # a bkt=True directory path — it defers to the plain read, which
    # adjudicates the type question exactly as before
    with pytest.raises(AnalysisException):
        read_pruned_partitions(spark, bucketed, "bkt", [True, 3]).count()


def test_probe_sees_files_appended_after_first_probe(spark, bucketed):
    # the directory listing is live (no cached manifest): an append
    # between probes is visible to the next probe
    before = read_pruned_partitions(spark, bucketed, "bkt", [2]).count()
    spark.range(100000, 100008).select(
        F.col("id"), F.lit(2).cast("int").alias("bkt"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).write.mode("append").partitionBy("bkt").parquet(bucketed)
    after = read_pruned_partitions(spark, bucketed, "bkt", [2]).count()
    assert after == before + 8


def test_one_shot_iterator_with_unsortable_mix_falls_back_with_values(
    spark, bucketed
):
    # ADVICE r15: a one-shot ITERATOR of unsortable values must not be
    # silently exhausted into an empty filter by the sorted() try — the
    # helper materializes first, so the plain-read fallback still sees
    # every value
    with pytest.raises(AnalysisException):
        read_pruned_partitions(spark, bucketed, "bkt", iter([True, 3])).count()
    # and a plain well-typed iterator behaves like the list form
    via_iter = read_pruned_partitions(spark, bucketed, "bkt", iter([1, 5]))
    via_list = read_pruned_partitions(spark, bucketed, "bkt", [1, 5])
    assert sorted(map(tuple, via_iter.collect())) == sorted(
        map(tuple, via_list.collect())
    )


def test_mixed_magnitude_partition_values_schema_equality(
    spark, tmp_path_factory
):
    # VERDICT r15 hardening #5: partition-type inference over a probed
    # SUBSET vs the full listing. When the probe TOUCHES the huge value,
    # both listings see it and infer long — parity holds. (A small-only
    # probe of a mixed-magnitude EXTERNAL table would infer narrower —
    # that table shape is unreachable from the engine's writers, whose
    # bucket values are int-typed and capped at 2**20; the cap is pinned
    # below and the limitation documented in the reader's docstring.)
    root = str(tmp_path_factory.mktemp("pruned_mixed") / "tbl")
    df = spark.createDataFrame(
        [(1, 3), (2, 5), (3, 2**40)], "id long, bkt long"
    )
    df.write.mode("overwrite").partitionBy("bkt").parquet(root)
    for probe in ([3, 2**40], [2**40], [5, 2**40, 2**41]):
        full = _plain(spark, root, probe)
        pruned = read_pruned_partitions(spark, root, "bkt", probe)
        assert pruned.schema == full.schema, probe
        assert sorted(map(tuple, pruned.collect())) == sorted(
            map(tuple, full.collect())
        ), probe


def test_engine_bucket_values_stay_int32_safe():
    # the contract that keeps pruned-read type inference equal to the
    # full listing on every ENGINE index: bucket counts are capped at
    # 2**20 (auto sizing) and bucket values live in [0, n_buckets), far
    # inside int32 — so every partition dir of an engine index infers
    # IntegerType no matter which subset a probe lists
    from qcardia_data_spark.functions.dedup import auto_index_buckets

    assert auto_index_buckets(10**18) <= 2**20
    assert auto_index_buckets(0) >= 1


BUCKETED_SCHEMA = "id BIGINT, payload STRING, bkt INT"


@pytest.mark.parametrize(
    "probe",
    [[1, 5, 31, 9999], [], [777, 888], [1.0, 5]],
    ids=["pruned", "empty", "all_missing", "non_int"],
)
def test_schema_given_read_equals_inferred(spark, bucketed, probe):
    # a known schema skips inference on every branch and changes nothing
    # the caller sees: same schema, same rows, same pruned file listing
    inferred = read_pruned_partitions(spark, bucketed, "bkt", probe)
    given = read_pruned_partitions(
        spark, bucketed, "bkt", probe, schema=BUCKETED_SCHEMA
    )
    assert given.schema == inferred.schema
    assert sorted(map(tuple, given.collect())) == sorted(
        map(tuple, inferred.collect())
    )
    assert sorted(given.inputFiles()) == sorted(inferred.inputFiles())


def test_schema_given_read_raises_like_inferred(spark, bucketed, tmp_path):
    missing = str(tmp_path / "never_written")
    with pytest.raises(AnalysisException):
        read_pruned_partitions(
            spark, missing, "bkt", [1], schema=BUCKETED_SCHEMA
        ).count()
    with pytest.raises(AnalysisException):
        read_pruned_partitions(
            spark, bucketed, "bkt", [True, 3], schema=BUCKETED_SCHEMA
        ).count()


def test_schema_given_read_launches_no_job(spark, bucketed):
    import uuid

    sc = spark.sparkContext
    group = f"pruned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema-given pruned read")
    try:
        read_pruned_partitions(
            spark, bucketed, "bkt", [1, 5], schema=BUCKETED_SCHEMA
        )
        read_pruned_partitions(spark, bucketed, "bkt", [1, 5])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # only the inferred read launches one: its footer read
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
