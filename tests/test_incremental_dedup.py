"""Incremental near-dedup against a persisted signature index
(dedup.write_signature_index / near_dedup_incremental — the 100 TB
"dedup this week's crawl against the standing index" mode).

Done-criteria from VERDICT r6 #4: (a) union(index corpus, incremental
survivors) == full-corpus near_dedup_minhash, (b) the index probe prunes
whole partition directories (inputFiles assertion)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.functions.dedup import (
    near_dedup_incremental,
    near_dedup_minhash,
    write_signature_index,
)
from qcardia_data_spark.sources.readers import read_meta_json

PARAMS = dict(n_bands=8, shingle_n=3)


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture()
def corpus(spark, sf_dir):
    # duplicate-rich corpus: the sf documents table plus near-copies of a
    # slice, shifted to high doc_ids (crawl ids are monotonically
    # increasing: index ids < batch ids, the layout the equivalence
    # invariant assumes)
    base = _docs(spark, sf_dir).select("doc_id", "text")
    clones = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing words here")).alias("text"),
    )
    return base.unionByName(clones)


def test_incremental_union_equals_full_corpus_dedup(spark, corpus, tmp_path):
    # split at the id median: A = standing corpus, B = new crawl batch
    split = 1_000_000
    a_raw = corpus.filter(F.col("doc_id") < split)
    b = corpus.filter(F.col("doc_id") >= split)

    # the index holds an already-deduped corpus (the invariant's premise)
    a = near_dedup_minhash(a_raw, "doc_id", "text", threshold=0.6, **PARAMS)
    idx = str(tmp_path / "idx")
    write_signature_index(a, "doc_id", "text", idx, **PARAMS)

    kept_b = near_dedup_incremental(
        b, idx, "doc_id", "text", threshold=0.6, **PARAMS
    )
    got = {r["doc_id"] for r in a.select("doc_id").collect()} | {
        r["doc_id"] for r in kept_b.select("doc_id").collect()
    }

    full = near_dedup_minhash(
        a.unionByName(b), "doc_id", "text", threshold=0.6, **PARAMS
    )
    want = {r["doc_id"] for r in full.select("doc_id").collect()}
    assert got == want
    # the batch contained genuine near-dups of index docs — some must drop
    assert kept_b.count() < b.count()


def test_update_index_chains_batches(spark, corpus, tmp_path):
    # three consecutive batches with update_index=True must equal the
    # one-shot full-corpus dedup (the standing-index workflow)
    cuts = [0, 200, 400, 2_000_000]
    batches = [
        corpus.filter(
            (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
        )
        for i in range(3)
    ]
    first = near_dedup_minhash(batches[0], "doc_id", "text", threshold=0.6, **PARAMS)
    idx = str(tmp_path / "idx")
    write_signature_index(first, "doc_id", "text", idx, **PARAMS)
    survivors = {r["doc_id"] for r in first.select("doc_id").collect()}
    for batch in batches[1:]:
        kept = near_dedup_incremental(
            batch, idx, "doc_id", "text", threshold=0.6,
            update_index=True, **PARAMS
        )
        survivors |= {r["doc_id"] for r in kept.select("doc_id").collect()}

    full = near_dedup_minhash(corpus, "doc_id", "text", threshold=0.6, **PARAMS)
    assert survivors == {r["doc_id"] for r in full.select("doc_id").collect()}


def test_index_probe_prunes_partition_files(spark, corpus, tmp_path):
    # the sig_bucket IN (...) filter must be a PARTITION filter: the scan
    # lists only the probed directories, never the whole index
    idx = str(tmp_path / "idx")
    a = corpus.filter(F.col("doc_id") < 1_000_000)
    write_signature_index(a, "doc_id", "text", idx, n_sig_buckets=16, **PARAMS)

    # input_file_name() read in the SAME stage as the source (before any
    # exchange) reflects the post-pruning file list (the inputFiles() API
    # reports the relation's full index, pre-pruning — same technique as
    # the IVF layout test)
    probed = [1, 5]
    scan = spark.read.parquet(f"{idx}/sigs").filter(
        F.col("sig_bucket").isin(probed)
    )
    touched = {
        r["f"].split("sig_bucket=")[1].split("/")[0]
        for r in scan.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert touched and touched <= {str(p) for p in probed}
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sig_bucket" in plan

    # same property for the verification side's id_bucket layout
    vscan = spark.read.parquet(f"{idx}/shingle_sets").filter(
        F.col("id_bucket").isin([0, 3])
    )
    vtouched = {
        r["f"].split("id_bucket=")[1].split("/")[0]
        for r in vscan.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert vtouched and vtouched <= {"0", "3"}


def test_spec_ops_signature_index_and_incremental(spark, corpus, tmp_path):
    """The spec-compiler surface of the incremental mode: one spec builds
    the standing index, a second spec dedups the new batch against it —
    equal to the direct library calls."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    split = 1_000_000
    idx = str(tmp_path / "spec_idx")
    src = str(tmp_path / "spec_corpus.parquet")
    corpus.write.mode("overwrite").parquet(src)

    a = compile_pipeline(
        spark,
        [
            {"op": "source", "path": src},
            {"op": "filter", "expr": f"doc_id < {split}"},
            {"op": "near_dedup", "id_col": "doc_id", "text_col": "text",
             "threshold": 0.6, **PARAMS},
            {"op": "signature_index_write", "path": idx, "id_col": "doc_id",
             "text_col": "text", **PARAMS},
        ],
        None,
    )
    kept_b = compile_pipeline(
        spark,
        [
            {"op": "source", "path": src},
            {"op": "filter", "expr": f"doc_id >= {split}"},
            {"op": "near_dedup_incremental", "index_path": idx,
             "id_col": "doc_id", "text_col": "text", "threshold": 0.6,
             **PARAMS},
        ],
        None,
    )
    got = {r["doc_id"] for r in a.select("doc_id").collect()} | {
        r["doc_id"] for r in kept_b.select("doc_id").collect()
    }
    want = {
        r["doc_id"]
        for r in near_dedup_minhash(
            corpus, "doc_id", "text", threshold=0.6, **PARAMS
        ).select("doc_id").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# _sig_meta guards (VERDICT r7 "What's wrong" #2 + ADVICE r7 medium): the
# index persists its build parameters and corpus max_id; probes that would
# silently miss duplicates (param drift) or silently keep the wrong copies
# (non-monotone batch ids) must refuse loudly instead.
# ---------------------------------------------------------------------------


@pytest.fixture()
def small_index(spark, corpus, tmp_path):
    a = corpus.filter(F.col("doc_id") < 1_000_000)
    idx = str(tmp_path / "guard_idx")
    write_signature_index(a, "doc_id", "text", idx, **PARAMS)
    return idx


@pytest.fixture(scope="module")
def small_index_ro(spark, sf_dir, tmp_path_factory):
    """Module-scoped READ-ONLY twin of ``small_index`` (same corpus slice —
    `corpus` below 1M ids is exactly the base documents table): the guard
    tests only probe/validate against it, so one build serves all of them.
    Mutating tests (update_index=True) must use the fresh ``small_index``."""
    a = _docs(spark, sf_dir).select("doc_id", "text")
    idx = str(tmp_path_factory.mktemp("guard_idx_ro") / "idx")
    write_signature_index(a, "doc_id", "text", idx, **PARAMS)
    return idx


def test_sig_meta_written_and_authoritative(spark, corpus, small_index_ro):
    # meta carries the build params + corpus max id...
    meta = read_meta_json(spark, small_index_ro, "sig")
    assert (meta["n_bands"], meta["shingle_n"]) == (8, 3)
    assert (meta["n_sig_buckets"], meta["n_id_buckets"]) == (64, 64)
    a = corpus.filter(F.col("doc_id") < 1_000_000)
    assert int(meta["max_id"]) == a.agg(F.max("doc_id")).first()[0]
    # ...and a probe with NO params picks them up from the meta (same
    # result as passing the written values explicitly)
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    got = near_dedup_incremental(b, small_index_ro, "doc_id", "text", threshold=0.6)
    want = near_dedup_incremental(
        b, small_index_ro, "doc_id", "text", threshold=0.6, **PARAMS
    )
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == {
        r["doc_id"] for r in want.select("doc_id").collect()
    }


def test_probe_param_drift_refused(spark, corpus, small_index_ro):
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    with pytest.raises(ValueError, match="differ from the index"):
        near_dedup_incremental(
            b, small_index_ro, "doc_id", "text", n_bands=4, shingle_n=3
        )
    with pytest.raises(ValueError, match="differ from the index"):
        near_dedup_incremental(
            b, small_index_ro, "doc_id", "text", n_sig_buckets=8
        )


def test_probe_missing_meta_refused(spark, corpus, tmp_path):
    # an index directory not written by write_signature_index (or a wrong
    # path) has no _meta.json: probing with guessed params is exactly the
    # silent-miss failure mode, so it must refuse
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    with pytest.raises(ValueError, match="_meta.json"):
        near_dedup_incremental(
            b, str(tmp_path / "nonexistent"), "doc_id", "text"
        )


def test_non_monotone_batch_refused_and_wrong_without_guard(
    spark, corpus, small_index_ro
):
    # index holds ids < 1M; a "batch" of LOW ids violates the monotone
    # crawl-id precondition the equivalence invariant needs
    low_batch = corpus.filter(F.col("doc_id") < 1_000_000).limit(20)
    with pytest.raises(ValueError, match="monotonic"):
        near_dedup_incremental(low_batch, small_index_ro, "doc_id", "text")

    # and the refusal is load-bearing, not pedantry: bypassing the guard
    # (allow_replay) with a genuinely non-monotone NEW batch produces a
    # survivor set the full-corpus run would never produce — the min-id
    # greedy keeps the smallest id of a duplicate pair, but the incremental
    # probe can only drop BATCH docs, so a batch doc with a smaller id than
    # its index duplicate is kept by the full run yet dropped here.
    a = corpus.filter(F.col("doc_id") < 1_000_000)
    dup_of_idx = a.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") - 1).alias("doc_id"), "text"  # SMALLER id, same text
    )
    kept = near_dedup_incremental(
        dup_of_idx, small_index_ro, "doc_id", "text", allow_replay=True
    )
    # full-corpus semantics would KEEP this doc (it has the min id of its
    # duplicate cluster); the unguarded incremental path drops it
    assert kept.count() == 0


def test_update_index_ratchets_max_id(spark, corpus, small_index):
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    near_dedup_incremental(
        b, small_index, "doc_id", "text", threshold=0.6, update_index=True
    )
    meta = read_meta_json(spark, small_index, "sig")
    assert int(meta["max_id"]) == b.agg(F.max("doc_id")).first()[0]
    # the NEXT batch must clear the appended crawl too
    with pytest.raises(ValueError, match="monotonic"):
        near_dedup_incremental(
            b.limit(5), small_index, "doc_id", "text"
        )


# ---------------------------------------------------------------------------
# Append edge cases: docs without shingles, empty batches, threshold
# extremes, single-partition writes, a crash between the max_id commit and
# the data append, and the append's Spark job budget.
# ---------------------------------------------------------------------------

BATCH_SCHEMA = "doc_id bigint, text string"
# tokens absent from the generated corpus vocabulary: a doc made of them
# has no near-duplicate in the index
FRESH = " ".join(f"zq{i}" for i in range(12))


def _index_rows(spark, idx):
    sigs = sorted(map(tuple, spark.read.parquet(f"{idx}/sigs").collect()))
    sets = sorted(
        (r["doc_id"], tuple(sorted(r["shingles"])), r["id_bucket"])
        for r in spark.read.parquet(f"{idx}/shingle_sets").collect()
    )
    return sigs, sets


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_append_short_highest_id_doc_kept_unindexed_and_ratchets(
    spark, small_index
):
    # the batch's highest id has fewer than shingle_n tokens: it has no
    # signature, so it is kept and never appended — but the manifest's
    # max_id must still clear it
    before_sigs, before_sets = _index_rows(spark, small_index)
    batch = spark.createDataFrame(
        [(2_000_000, FRESH), (2_000_001, "two words")], BATCH_SCHEMA
    )
    kept = near_dedup_incremental(
        batch, small_index, "doc_id", "text", update_index=True
    )
    assert _ids(kept) == {2_000_000, 2_000_001}
    sigs, sets = _index_rows(spark, small_index)
    assert {r[0] for r in sigs} - {r[0] for r in before_sigs} == {2_000_000}
    assert {r[0] for r in sets} - {r[0] for r in before_sets} == {2_000_000}
    assert len(sigs) == len(before_sigs) + PARAMS["n_bands"]
    assert read_meta_json(spark, small_index, "sig")["max_id"] == "2000001"
    with pytest.raises(ValueError, match="monotonic"):
        near_dedup_incremental(
            spark.createDataFrame([(2_000_001, FRESH)], BATCH_SCHEMA),
            small_index, "doc_id", "text",
        )


def test_append_batch_without_shingles_appends_nothing_and_ratchets(
    spark, small_index
):
    before = _index_rows(spark, small_index)
    batch = spark.createDataFrame(
        [(3_000_000, "one"), (3_000_001, ""), (3_000_002, "a b")], BATCH_SCHEMA
    )
    kept = near_dedup_incremental(
        batch, small_index, "doc_id", "text", update_index=True
    )
    assert _ids(kept) == {3_000_000, 3_000_001, 3_000_002}
    assert _index_rows(spark, small_index) == before
    assert read_meta_json(spark, small_index, "sig")["max_id"] == "3000002"


def test_append_empty_batch_changes_nothing(spark, small_index):
    before = _index_rows(spark, small_index)
    meta = read_meta_json(spark, small_index, "sig")
    kept = near_dedup_incremental(
        spark.createDataFrame([], BATCH_SCHEMA), small_index, "doc_id", "text",
        update_index=True,
    )
    assert kept.count() == 0
    assert _index_rows(spark, small_index) == before
    assert read_meta_json(spark, small_index, "sig") == meta


@pytest.mark.parametrize("t", [1.0, 1 - 1e-12])
def test_threshold_extremes_verify_and_append(spark, sf_dir, tmp_path, t):
    # _ceil_loose at its adversarial end: the size prefilter must keep an
    # exact duplicate (sizes equal) at t = 1.0 and just below it
    from qcardia_data_spark.functions.dedup import jaccard_verify_sets

    base = ["s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7", "s8", "s9"]
    sh = spark.createDataFrame(
        [(1, s) for s in base] + [(2, s) for s in base]
        + [(3, s) for s in base + ["s10"]],
        "doc_id long, shingle string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "a long, b long")
    for prefilter in (True, False):
        got = jaccard_verify_sets(
            cands, sh, "doc_id", threshold=t, size_prefilter=prefilter
        )
        assert sorted((r["a"], r["b"]) for r in got.collect()) == [(1, 2)]

    a_raw = _docs(spark, sf_dir).filter(F.col("doc_id") < 60).select("doc_id", "text")
    a = near_dedup_minhash(a_raw, "doc_id", "text", threshold=t, **PARAMS)
    idx = str(tmp_path / "idx")
    write_signature_index(a, "doc_id", "text", idx, **PARAMS)
    src = a.orderBy("doc_id").limit(2).collect()
    batch = spark.createDataFrame(
        [
            (1_000_000, src[0]["text"]),  # exact duplicate of an index doc
            (1_000_001, src[1]["text"] + " zqextra"),  # one shingle more
            (1_000_002, src[1]["text"] + " zqextra"),  # exact batch duplicate
        ],
        BATCH_SCHEMA,
    )
    kept = near_dedup_incremental(
        batch, idx, "doc_id", "text", threshold=t, update_index=True
    )
    assert _ids(kept) == {1_000_001}
    full = near_dedup_minhash(
        a.unionByName(batch), "doc_id", "text", threshold=t, **PARAMS
    )
    assert _ids(a) | _ids(kept) == _ids(full)


def _mixed_batch(corpus, ids=None):
    """Near-copies of index docs (dropped) plus docs whose every shingle
    is new (kept, so an append writes rows)."""
    clones = corpus.filter(F.col("doc_id") >= 1_000_000)
    fresh = corpus.filter(
        (F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 11 == 0)
    ).select(
        (F.col("doc_id") + 1_500_000).alias("doc_id"),
        F.regexp_replace(F.col("text"), " ", " zq ").alias("text"),
    )
    batch = clones.unionByName(fresh)
    return batch if ids is None else batch.filter(F.col("doc_id").isin(ids))


def _new_files(before, root):
    now = {
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }
    return now - before


def test_append_at_one_shuffle_partition_matches_default(
    spark, corpus, small_index, tmp_path
):
    import shutil

    single = str(tmp_path / "single")
    shutil.copytree(small_index, single)
    b = _mixed_batch(corpus)
    kept_default = _ids(near_dedup_incremental(
        b, small_index, "doc_id", "text", update_index=True
    ))
    before = _new_files(set(), single)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        kept_single = _ids(near_dedup_incremental(
            b, single, "doc_id", "text", update_index=True
        ))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert kept_single == kept_default
    assert _index_rows(spark, single) == _index_rows(spark, small_index)
    added = _new_files(before, single)
    dirs = [os.path.dirname(f) for f in added]
    assert added and len(dirs) == len(set(dirs))


def test_crash_after_max_id_commit_refuses_replay_then_recovers(
    spark, corpus, small_index, tmp_path, monkeypatch
):
    # the manifest's max_id is committed before the data append: a crash
    # in between leaves a manifest that over-claims, so a plain replay is
    # refused and only an explicit allow_replay re-runs the batch
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    clean = str(tmp_path / "clean")
    shutil.copytree(small_index, clean)
    b = _mixed_batch(corpus)

    def crash(self, *args, **kwargs):
        raise OSError("injected crash before the data append")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(OSError, match="injected crash"):
        near_dedup_incremental(
            b, small_index, "doc_id", "text", update_index=True
        )
    monkeypatch.undo()
    batch_max = b.agg(F.max("doc_id")).first()[0]
    assert read_meta_json(spark, small_index, "sig")["max_id"] == str(batch_max)

    with pytest.raises(ValueError, match="monotonic"):
        near_dedup_incremental(b, small_index, "doc_id", "text", update_index=True)
    kept = near_dedup_incremental(
        b, small_index, "doc_id", "text", update_index=True, allow_replay=True
    )
    kept_clean = near_dedup_incremental(
        b, clean, "doc_id", "text", update_index=True
    )
    assert _ids(kept) == _ids(kept_clean)
    assert _index_rows(spark, small_index) == _index_rows(spark, clean)


def test_append_job_budget_and_index_reads_launch_no_job(
    spark, corpus, small_index, monkeypatch
):
    """An append signs, finds candidates and verifies in a handful of
    Spark actions, and its index reads carry their schema, so no parquet
    footer-read job runs before them."""
    import uuid

    from qcardia_data_spark.sources import readers

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"append-{uuid.uuid4().hex}"
    real = readers.read_pruned_partitions
    read_jobs = []

    def counted(*args, **kwargs):
        n0 = len(tracker.getJobIdsForGroup(group))
        out = real(*args, **kwargs)
        read_jobs.append(len(tracker.getJobIdsForGroup(group)) - n0)
        return out

    monkeypatch.setattr(readers, "read_pruned_partitions", counted)
    # two near-copies of index docs and one new doc: at most 24 probed
    # sig_bucket directories, below Spark's parallel-listing threshold,
    # so listing runs no job
    b = _mixed_batch(corpus, [1_000_000, 1_000_007, 1_500_011])
    sc.setJobGroup(group, "incremental append job-count test")
    try:
        kept = near_dedup_incremental(
            b, small_index, "doc_id", "text", update_index=True
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(tracker.getJobIdsForGroup(group))
    # the earlier shape (collected bucket lists, inferred index schemas,
    # a second verify chain for batch x index pairs) launched 48 jobs on
    # this batch; the budget is 60% of that
    assert n_jobs <= 28, n_jobs
    assert read_jobs == [0, 0], read_jobs
    assert _ids(kept) == {1_500_011}


def test_append_leaves_ml_transforms_serializable(spark, corpus, small_index):
    # the append reads its checkpoint metrics without
    # pyspark.sql.Observation, whose session-wide manager cannot be
    # serialized: a model that holds the session (a LogisticRegression
    # training summary) must still transform after an append
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    near_dedup_incremental(
        _mixed_batch(corpus, [1_000_000, 1_500_011]), small_index,
        "doc_id", "text", update_index=True,
    )
    train = spark.createDataFrame(
        [(0.0, Vectors.dense([0.0, 1.0])), (1.0, Vectors.dense([1.0, 0.0]))] * 4,
        ["label", "features"],
    )
    model = LogisticRegression(maxIter=3).fit(train)
    assert len(model.transform(train).select("probability").collect()) == 8
