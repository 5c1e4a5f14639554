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


def test_append_param_drift_refused(spark, corpus, small_index_ro):
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    with pytest.raises(ValueError, match="differ from the index"):
        write_signature_index(
            b, "doc_id", "text", small_index_ro, n_bands=4, mode="append"
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
