"""CDC operators: SCD2 history build + partition-pruned merge-upsert.

Done-criteria mirror the persisted-index suites (test_incremental_dedup,
test_similarity): (a) value parity of the pruned merge vs a full-table
latest-wins rebuild, (b) untouched partitions neither READ (inputFiles)
nor REWRITTEN (file mtimes), (c) replay idempotence, (d) the _merge_meta
contract refuses drifted callers loudly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.functions.cdc import (
    merge_upsert_partitioned,
    read_upsert_table,
    scd2_from_changes,
    upsert_lookup,
    upsert_write_partitioned,
)


# ---------------------------------------------------------------------------
# SCD2
# ---------------------------------------------------------------------------


def _hist(spark, rows):
    df = spark.createDataFrame(rows, ["k", "t", "state"])
    out = scd2_from_changes(df, "k", "t", ["state"], tiebreak=None)
    return {
        (r["k"], r["version"]): (
            r["state"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
        )
        for r in out.collect()
    }


def test_scd2_compresses_consecutive_repeats(spark):
    got = _hist(
        spark,
        [
            ("u", 1, "a"),
            ("u", 2, "a"),  # no change — compressed into version 1
            ("u", 3, "b"),
            ("u", 4, "b"),
            ("u", 9, "a"),  # back to a — NEW version, not merged with v1
        ],
    )
    assert got == {
        ("u", 1): ("a", 1, 3, False),
        ("u", 2): ("b", 3, 9, False),
        ("u", 3): ("a", 9, None, True),
    }


def test_scd2_single_row_key_is_current_v1(spark):
    got = _hist(spark, [("solo", 5, "x")])
    assert got == {("solo", 1): ("x", 5, None, True)}


def test_scd2_null_attr_is_nullsafe(spark):
    # NULL -> NULL is "no change"; NULL -> value and value -> NULL are
    # changes; a leading NULL state still yields version 1.
    rows = [
        ("u", 1, None),
        ("u", 2, None),  # compressed
        ("u", 3, "a"),
        ("u", 4, None),
    ]
    df = spark.createDataFrame(rows, "k string, t int, state string")
    out = scd2_from_changes(df, "k", "t", ["state"])
    got = {r["version"]: (r["state"], r["valid_from"]) for r in out.collect()}
    assert got == {1: (None, 1), 2: ("a", 3), 3: (None, 4)}


def test_scd2_multi_attr_any_change_opens_version(spark):
    rows = [("u", 1, "a", 10), ("u", 2, "a", 20), ("u", 3, "b", 20)]
    df = spark.createDataFrame(rows, ["k", "t", "s1", "s2"])
    out = scd2_from_changes(df, "k", "t", ["s1", "s2"])
    assert out.count() == 3  # every row changes SOME attr


def test_scd2_tiebreak_orders_equal_timestamps(spark):
    rows = [("u", 1, 2, "b"), ("u", 1, 1, "a")]
    df = spark.createDataFrame(rows, ["k", "t", "seq", "state"])
    out = scd2_from_changes(df, "k", "t", ["state"], tiebreak="seq")
    got = {r["version"]: r["state"] for r in out.collect()}
    assert got == {1: "a", 2: "b"}


def test_scd2_requires_attrs(spark):
    df = spark.createDataFrame([("u", 1)], ["k", "t"])
    with pytest.raises(ValueError, match="attrs"):
        scd2_from_changes(df, "k", "t", [])


def test_scd2_single_exchange_plan(spark):
    """All three window passes ride ONE exchange on the key."""
    df = spark.createDataFrame([("u", 1, "a")], ["k", "t", "state"])
    plan = scd2_from_changes(df, "k", "t", ["state"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# merge-upsert
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def _base(spark):
    rows = [(k, 0, f"v{k}") for k in range(40)]
    return spark.createDataFrame(rows, ["k", "ts", "val"])


def _batch(spark):
    # updates touch 3 keys: newer ts wins (k=1), older ts loses (k=2,
    # stored ts bumped below), same-ts correction wins (k=3)
    rows = [(1, 5, "new1"), (2, -1, "stale2"), (3, 0, "corr3")]
    return spark.createDataFrame(rows, ["k", "ts", "val"])


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "dim")
    upsert_write_partitioned(_base(spark), path, key="k", ts="ts", n_buckets=N_BUCKETS)
    return path


def _state(spark, path):
    return {
        r["k"]: (r["ts"], r["val"])
        for r in read_upsert_table(spark, path).collect()
    }


def test_merge_latest_wins_semantics(spark, table):
    merge_upsert_partitioned(spark, table, _batch(spark))
    got = _state(spark, table)
    assert got[1] == (5, "new1")  # newer batch ts wins
    assert got[2] == (0, "v2")  # stale batch row loses
    assert got[3] == (0, "corr3")  # same-ts: batch (the correction) wins
    assert got[0] == (0, "v0") and len(got) == 40


def test_merge_parity_vs_full_rebuild(spark, table):
    from pyspark.sql.window import Window

    merge_upsert_partitioned(spark, table, _batch(spark))
    w = Window.partitionBy("k").orderBy(F.col("ts").desc(), F.col("_src").desc())
    rebuilt = (
        _base(spark).withColumn("_src", F.lit(0))
        .unionByName(_batch(spark).withColumn("_src", F.lit(1)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("k", "ts", "val")
    )
    got = {tuple(r) for r in read_upsert_table(spark, table).select("k", "ts", "val").collect()}
    want = {tuple(r) for r in rebuilt.collect()}
    assert got == want


def test_merge_inserts_new_keys(spark, table):
    merge_upsert_partitioned(
        spark, table, spark.createDataFrame([(999, 1, "ins")], ["k", "ts", "val"])
    )
    assert _state(spark, table)[999] == (1, "ins")
    assert len(_state(spark, table)) == 41


def test_merge_reads_only_touched_buckets(spark, table):
    """The merge's pruned read must touch only the batch's bucket dirs."""
    from qcardia_data_spark.functions.cdc import _bucket_of

    batch = _batch(spark)
    touched = {
        r[0]
        for r in batch.select(_bucket_of(F.col("k"), N_BUCKETS).alias("b")).collect()
    }
    assert 0 < len(touched) < N_BUCKETS  # pruning is non-vacuous
    # input_file_name() in the scan stage reflects the post-pruning list
    # (inputFiles() reports the relation's full index, pre-pruning — the
    # test_incremental_dedup idiom)
    pruned = spark.read.parquet(f"{table}/rows").filter(
        F.col("up_bucket").isin(list(touched))
    )
    got_buckets = {
        r["f"].split("up_bucket=")[1].split("/")[0]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert got_buckets and got_buckets <= {str(b) for b in touched}
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "up_bucket" in plan


def test_merge_does_not_rewrite_untouched_partitions(spark, table):
    """Dynamic overwrite replaces ONLY touched bucket directories."""
    rows_dir = f"{table}/rows"
    before = {
        os.path.join(d, f)
        for d, _, fs in os.walk(rows_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    merge_upsert_partitioned(spark, table, _batch(spark))
    after = {
        os.path.join(d, f)
        for d, _, fs in os.walk(rows_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    from qcardia_data_spark.functions.cdc import _bucket_of

    touched = {
        r[0]
        for r in _batch(spark)
        .select(_bucket_of(F.col("k"), N_BUCKETS).alias("b"))
        .collect()
    }
    untouched_before = {f for f in before if not any(f"up_bucket={b}/" in f for b in touched)}
    untouched_after = {f for f in after if not any(f"up_bucket={b}/" in f for b in touched)}
    # untouched buckets: identical file sets (same paths — never rewritten)
    assert untouched_before == untouched_after
    # touched buckets: file set changed (rewritten)
    assert (before - untouched_before) != (after - untouched_after)


def test_merge_replay_is_idempotent(spark, table):
    merge_upsert_partitioned(spark, table, _batch(spark))
    once = _state(spark, table)
    merge_upsert_partitioned(spark, table, _batch(spark))
    assert _state(spark, table) == once


def test_merge_empty_batch_is_noop(spark, table):
    before = _state(spark, table)
    merge_upsert_partitioned(
        spark, table, spark.createDataFrame([], "k bigint, ts bigint, val string")
    )
    assert _state(spark, table) == before


def test_merge_meta_guards(spark, table, tmp_path):
    # missing meta
    with pytest.raises(ValueError, match="_meta.json"):
        merge_upsert_partitioned(spark, str(tmp_path / "nope"), _batch(spark))
    # missing required column
    with pytest.raises(ValueError, match="lacks column"):
        merge_upsert_partitioned(
            spark, table, spark.createDataFrame([(1, "x")], ["k", "val"])
        )
    # drifted key type: string batch key vs long table key
    with pytest.raises(ValueError, match="key type"):
        merge_upsert_partitioned(
            spark,
            table,
            spark.createDataFrame([("1", 5, "x")], "k string, ts bigint, val string"),
        )
    # reserved column at init
    with pytest.raises(ValueError, match="reserved"):
        upsert_write_partitioned(
            spark.createDataFrame([(1, 0, 0)], ["k", "ts", "up_bucket"]),
            str(tmp_path / "t2"),
            key="k",
            ts="ts",
        )


def test_spec_ops_cdc_chain(spark, tmp_path):
    """Declarative form: one spec initializes the upsert table, a second
    merges a CDC batch and reads the merged state; scd2 as a spec op."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    path = str(tmp_path / "spec_dim")
    base_pq = str(tmp_path / "base_pq")
    batch_pq = str(tmp_path / "batch_pq")
    _base(spark).write.parquet(base_pq)
    _batch(spark).write.parquet(batch_pq)
    compile_pipeline(
        spark,
        [
            {"op": "source", "path": base_pq},
            {"op": "upsert_table_write", "path": path, "key": "k",
             "ts": "ts", "n_buckets": N_BUCKETS},
        ],
    ).count()  # side-artifact op: force execution
    merged = compile_pipeline(
        spark,
        [
            {"op": "source", "path": batch_pq},
            {"op": "merge_upsert", "path": path},
        ],
    )
    got = {r["k"]: (r["ts"], r["val"]) for r in merged.collect()}
    assert got[1] == (5, "new1") and got[2] == (0, "v2") and len(got) == 40

    hist = compile_pipeline(
        spark,
        [
            {"op": "source", "path": base_pq},
            {"op": "scd2", "key": "k", "ts": "ts", "attrs": ["val"]},
        ],
    )
    assert hist.filter(F.col("is_current")).count() == 40


def test_streaming_upsert_intake_converges_and_replays_safely(spark, table, tmp_path):
    """Streaming CDC intake: change rows streamed in per-file micro-batches
    converge the table to the all-at-once merge state; a FRESH-checkpoint
    full replay (re-offering every batch after all merges landed) leaves
    the table unchanged — latest-wins makes out-of-order retries no-ops."""
    from qcardia_data_spark.streaming.events import streaming_upsert_intake

    # 3 micro-batches with an intra-key progression across batches
    changes = spark.createDataFrame(
        [(1, 5, "b1"), (1, 7, "b2"), (2, 3, "b3"), (99, 1, "ins")],
        ["k", "ts", "val"],
    )
    incoming = str(tmp_path / "incoming")
    changes.repartition(3).write.parquet(incoming)
    schema = spark.read.parquet(incoming).schema

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(incoming)
        )
        q = streaming_upsert_intake(stream, table, str(tmp_path / ckpt))
        q.awaitTermination(120)
        q.stop()

    drain("ckpt1")
    got = _state(spark, table)
    assert got[1] == (7, "b2")  # later change wins regardless of batch order
    assert got[2] == (3, "b3") and got[99] == (1, "ins") and len(got) == 41

    drain("ckpt2")  # fresh checkpoint: full replay after all merges landed
    assert _state(spark, table) == got


def test_lookup_prunes_to_key_buckets(spark, table):
    from qcardia_data_spark.functions.cdc import _bucket_of

    got = upsert_lookup(spark, table, [1, 3])
    assert {r["k"] for r in got.collect()} == {1, 3}
    want_buckets = {
        r[0]
        for r in spark.createDataFrame([(1,), (3,)], ["k"])
        .select(_bucket_of(F.col("k"), N_BUCKETS).alias("b"))
        .collect()
    }
    got_buckets = {
        r["f"].split("up_bucket=")[1].split("/")[0]
        for r in upsert_lookup(spark, table, [1, 3])
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert got_buckets and got_buckets <= {str(b) for b in want_buckets}


# ---------------------------------------------------------------------------
# merge-on-read: append log + as-of reads
# ---------------------------------------------------------------------------


def _asof_state(spark, path, batch=None):
    from qcardia_data_spark.functions.cdc import read_upsert_as_of

    return {
        r["k"]: (r["ts"], r["val"])
        for r in read_upsert_as_of(spark, path, batch=batch).collect()
    }


def test_mor_time_travel_reconstructs_every_state(spark, table):
    from qcardia_data_spark.functions.cdc import upsert_append_batch

    b1 = spark.createDataFrame([(1, 5, "b1"), (99, 1, "ins")], ["k", "ts", "val"])
    b2 = spark.createDataFrame([(1, 9, "b2"), (2, -1, "stale")], ["k", "ts", "val"])
    assert upsert_append_batch(spark, table, b1) == 1
    assert upsert_append_batch(spark, table, b2) == 2

    s0 = _asof_state(spark, table, batch=0)
    assert s0[1] == (0, "v1") and 99 not in s0 and len(s0) == 40
    s1 = _asof_state(spark, table, batch=1)
    assert s1[1] == (5, "b1") and s1[99] == (1, "ins") and len(s1) == 41
    s2 = _asof_state(spark, table)  # None = everything
    assert s2[1] == (9, "b2")  # later batch wins
    assert s2[2] == (0, "v2")  # stale row loses to base on ts
    assert s2 == _asof_state(spark, table, batch=2)


def test_mor_later_batch_wins_exact_tie(spark, table):
    from qcardia_data_spark.functions.cdc import upsert_append_batch

    upsert_append_batch(spark, table, spark.createDataFrame(
        [(3, 0, "from_b1")], ["k", "ts", "val"]))
    upsert_append_batch(spark, table, spark.createDataFrame(
        [(3, 0, "from_b2")], ["k", "ts", "val"]))
    # same ts everywhere: batch 2 > batch 1 > base
    assert _asof_state(spark, table)[3] == (0, "from_b2")


def test_mor_pinned_batch_replay_is_noop(spark, table):
    from qcardia_data_spark.functions.cdc import upsert_append_batch

    b = spark.createDataFrame([(1, 5, "b1")], ["k", "ts", "val"])
    upsert_append_batch(spark, table, b, batch_id=1)
    before = _asof_state(spark, table)
    assert upsert_append_batch(spark, table, b, batch_id=1) == 1  # skipped
    assert _asof_state(spark, table) == before
    with pytest.raises(ValueError, match=">= 1"):
        upsert_append_batch(spark, table, b, batch_id=0)


def test_mor_asof_prunes_later_batch_files(spark, table):
    from qcardia_data_spark.functions.cdc import upsert_append_batch

    upsert_append_batch(spark, table, spark.createDataFrame(
        [(1, 5, "b1")], ["k", "ts", "val"]))
    upsert_append_batch(spark, table, spark.createDataFrame(
        [(2, 5, "b2")], ["k", "ts", "val"]))
    log = spark.read.parquet(f"{table}/log").filter(F.col("_batch") <= 1)
    batches = {
        r["f"].split("_batch=")[1].split("/")[0]
        for r in log.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert batches == {"1"}
    plan = log._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_batch" in plan


def test_mor_compaction_is_cow_merge_of_asof_state(spark, table):
    """Compaction = merging the as-of state back into the base; afterwards
    a base-only read equals the pre-compaction MOR read."""
    from qcardia_data_spark.functions.cdc import (
        merge_upsert_partitioned,
        read_upsert_as_of,
        upsert_append_batch,
    )

    upsert_append_batch(spark, table, _batch(spark))
    want = _asof_state(spark, table)
    merge_upsert_partitioned(
        spark, table, read_upsert_as_of(spark, table)
    )
    assert _state(spark, table) == want


def test_table_diff_classes_and_nullsafe(spark):
    from qcardia_data_spark.functions.cdc import table_diff

    before = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5), (3, "c", 6), (4, None, 7)],
        ["k", "x", "y"],
    )
    after = spark.createDataFrame(
        [(1, "a", None), (2, "B", 5), (5, "new", 1), (4, None, 7)],
        ["k", "x", "y"],
    )
    got = {r["k"]: r["change"] for r in table_diff(before, after, "k").collect()}
    # 1: identical incl. NULL y (null-safe) -> absent; 4: identical -> absent
    assert got == {2: "changed", 3: "removed", 5: "added"}
    with pytest.raises(ValueError, match="lacks columns"):
        table_diff(before, after.drop("y"), "k", compare=["x", "y"])


def test_mor_compact_log_preserves_state_and_horizon(spark, table):
    from qcardia_data_spark.functions.cdc import (
        compact_upsert_log,
        read_upsert_as_of,
        upsert_append_batch,
    )

    upsert_append_batch(spark, table, spark.createDataFrame(
        [(1, 5, "b1"), (99, 1, "ins")], ["k", "ts", "val"]), batch_id=1)
    upsert_append_batch(spark, table, spark.createDataFrame(
        [(1, 9, "b2")], ["k", "ts", "val"]), batch_id=2)
    upsert_append_batch(spark, table, spark.createDataFrame(
        [(2, 9, "b3")], ["k", "ts", "val"]), batch_id=3)

    latest_before = _asof_state(spark, table)
    asof2_before = _asof_state(spark, table, batch=2)

    # fold batches <= 2; batch 3 keeps its exact as-of read
    assert compact_upsert_log(spark, table, up_to=2) == 2
    import os
    dirs = {d for d in os.listdir(f"{table}/log") if d.startswith("_batch=")}
    assert dirs == {"_batch=3"}
    assert _asof_state(spark, table) == latest_before
    # the horizon: base now EQUALS the old as-of-2 state
    assert _asof_state(spark, table, batch=0) == asof2_before
    # idempotent re-run: nothing left at/below the horizon
    assert compact_upsert_log(spark, table, up_to=2) == 0
    # full fold empties the log entirely
    assert compact_upsert_log(spark, table) == 1
    assert _asof_state(spark, table) == latest_before


def test_upsert_null_key_rows_survive_merge(spark, tmp_path):
    """r10 review: _bucket_of(NULL) was NULL, so stored NULL-key rows
    were invisible to the partition-pruned read while dynamic overwrite
    still replaced their partition — the newer stored row was lost."""
    from qcardia_data_spark.functions.cdc import (
        merge_upsert_partitioned,
        read_upsert_table,
        upsert_write_partitioned,
    )

    path = str(tmp_path / "null_key_tbl")
    base = spark.createDataFrame(
        [(None, 5, "new"), (1, 5, "k1")], "k int, ts int, v string"
    )
    upsert_write_partitioned(base, path, key="k", ts="ts", n_buckets=4)
    older = spark.createDataFrame([(None, 1, "old")], "k int, ts int, v string")
    merge_upsert_partitioned(spark, path, older)
    rows = {(r["k"], r["ts"], r["v"]) for r in read_upsert_table(spark, path).collect()}
    # latest-wins: the stored (None, ts=5) row must survive the older batch
    assert (None, 5, "new") in rows and (1, 5, "k1") in rows
    assert (None, 1, "old") not in rows


def test_upsert_reserved_columns_refused(spark, tmp_path):
    from qcardia_data_spark.functions.cdc import (
        merge_upsert_partitioned,
        upsert_write_partitioned,
    )

    path = str(tmp_path / "resv_tbl")
    base = spark.createDataFrame([(1, 1, "x")], "k int, ts int, v string")
    upsert_write_partitioned(base, path, key="k", ts="ts", n_buckets=4)
    bad = spark.createDataFrame([(1, 2, "y", 9)], "k int, ts int, v string, _src int")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        merge_upsert_partitioned(spark, path, bad)

    # r13 review: the INIT and APPEND paths must refuse the same names.
    # A base table carrying a `_batch` data column used to pass init,
    # then read_upsert_as_of's withColumn("_batch", 0) silently replaced
    # the user's column and the terminal drop deleted it; an appended
    # batch with `_batch` was overwritten by the partition id the same
    # way while merge refused the identical frame loudly.
    from qcardia_data_spark.functions.cdc import upsert_append_batch

    with _pytest.raises(ValueError, match="collide"):
        upsert_write_partitioned(
            spark.createDataFrame([(1, 1, 7)], "k int, ts int, _batch int"),
            str(tmp_path / "resv_init"), key="k", ts="ts",
        )
    with _pytest.raises(ValueError, match="collide"):
        upsert_append_batch(
            spark, path,
            spark.createDataFrame(
                [(1, 3, "z", 9)], "k int, ts int, v string, _batch int"
            ),
        )


def test_upsert_lookup_coerces_probe_key_type(spark, tmp_path):
    """r12 review: probe keys are cast to the TABLE's key type before
    bucketing + semi join, so an int probe against a string-keyed table
    matches exactly the rows the merge path would have bucketed — not
    whatever Spark's implicit numeric coercion decides."""
    from qcardia_data_spark.functions.cdc import (
        upsert_lookup,
        upsert_write_partitioned,
    )

    df = spark.createDataFrame(
        [("1", 10, "a"), ("2", 20, "b"), ("05", 5, "c")],
        ["k", "ts", "v"],
    )
    path = str(tmp_path / "up_types")
    upsert_write_partitioned(df, path, key="k", ts="ts", n_buckets=8)
    got = {r["k"]: r["v"] for r in upsert_lookup(spark, path, [1, 2]).collect()}
    assert got == {"1": "a", "2": "b"}
    # "05" is a DIFFERENT string key than int 5's cast "5": no match,
    # consistently with how the merge path buckets it
    assert upsert_lookup(spark, path, [5]).count() == 0
    assert upsert_lookup(spark, path, ["05"]).count() == 1


def test_scd2_tolerates_chg_named_column(spark):
    """r12 review: the change-point working column is fresh-named, so a
    user column literally named _chg survives — including as a tracked
    attribute."""
    from qcardia_data_spark.functions.cdc import scd2_from_changes

    rows = [
        (1, 1, "x"), (1, 2, "x"), (1, 3, "y"),
        (2, 1, "p"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "_chg"])
    out = scd2_from_changes(df, "k", "ts", ["_chg"]).collect()
    by = {(r["k"], r["version"]): r for r in out}
    assert by[(1, 1)]["_chg"] == "x" and by[(1, 1)]["valid_to"] == 3
    assert by[(1, 2)]["_chg"] == "y" and by[(1, 2)]["is_current"]
    assert by[(2, 1)]["_chg"] == "p" and by[(2, 1)]["is_current"]


def test_upsert_write_auto_buckets(spark, tmp_path):
    """r14: the dimension writer takes the same corpus-sized "auto"
    bucket rule as the dedup-index writers; the meta freezes the
    resolved int and merges derive from it unchanged."""
    from qcardia_data_spark.functions.cdc import (
        merge_upsert_partitioned,
        read_upsert_table,
        upsert_write_partitioned,
    )
    from qcardia_data_spark.sources.readers import read_meta_json

    path = str(tmp_path / "dim_auto")
    base = spark.createDataFrame(
        [(i, i, f"v{i}") for i in range(100)], ["k", "ts", "val"]
    )
    upsert_write_partitioned(base, path, "k", "ts", n_buckets="auto")
    meta = read_meta_json(spark, path, "merge")
    assert isinstance(meta["n_buckets"], int) and meta["n_buckets"] == 8
    batch = spark.createDataFrame([(1, 10, "new")], ["k", "ts", "val"])
    merge_upsert_partitioned(spark, path, batch)
    got = {r["k"]: r["val"] for r in read_upsert_table(spark, path).collect()}
    assert got[1] == "new" and len(got) == 100
