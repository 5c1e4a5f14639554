"""Winnowing standing index: incremental probe + append, the MOSS tier's
operating mode (mirrors test_incremental_dedup for the MinHash tier)."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.functions.dedup import (
    winnow_incremental,
    winnow_share_pairs,
    write_winnow_index,
)

MAX_DF = 100  # generous: no fp crosses it, so prefix-df == corpus-df


@pytest.fixture()
def corpus(spark, sf_dir):
    """Base docs + near-dup clones of SURVIVING (lowest-id) originals in
    a higher id block — the monotone crawl-id layout, with every pair
    anchored at a doc that is never itself dropped (the regime the
    composes-like-the-full-run claim covers)."""
    base = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    clones = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail words appended")).alias("text"),
    )
    clones2 = base.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("lead words "), F.col("text")).alias("text"),
    )
    return base.unionByName(clones).unionByName(clones2)


def _full_dedup_ids(df):
    """One-shot reference: the winnow_dedup spec rule — drop the larger
    id of every qualifying pair."""
    pairs = winnow_share_pairs(df, "doc_id", "text", max_df=MAX_DF)
    losers = {r["b"] for r in pairs.select("b").collect()}
    return {r["doc_id"] for r in df.select("doc_id").collect()} - losers


def _dedup_once(df):
    """One-shot winnow dedup (the winnow_dedup spec rule) — the index
    premise is an ALREADY-DEDUPED corpus, exactly as in the signature
    index's tests (the base documents table has its own near-dup pairs)."""
    pairs = winnow_share_pairs(df, "doc_id", "text", max_df=MAX_DF)
    losers = pairs.select(F.col("b").alias("doc_id")).distinct()
    return df.join(losers, "doc_id", "left_anti")


def test_winnow_incremental_union_equals_full(spark, corpus, tmp_path):
    idx = str(tmp_path / "widx")
    a = _dedup_once(corpus.filter(F.col("doc_id") < 1_000_000))
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    write_winnow_index(a, "doc_id", "text", idx)
    kept_b = winnow_incremental(b, idx, max_df=MAX_DF)
    got = {r["doc_id"] for r in a.select("doc_id").collect()} | {
        r["doc_id"] for r in kept_b.select("doc_id").collect()
    }
    assert got == _full_dedup_ids(a.unionByName(b))
    assert kept_b.count() < b.count()  # genuine near-dups dropped


def test_winnow_incremental_chains_and_replays(spark, corpus, tmp_path):
    idx = str(tmp_path / "widx")
    a = _dedup_once(corpus.filter(F.col("doc_id") < 1_000_000))
    b1 = corpus.filter(
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)
    )
    b2 = corpus.filter(F.col("doc_id") >= 2_000_000)
    write_winnow_index(a, "doc_id", "text", idx)
    k1 = winnow_incremental(b1, idx, max_df=MAX_DF, update_index=True)
    ids1 = {r["doc_id"] for r in k1.select("doc_id").collect()}
    k2 = winnow_incremental(b2, idx, max_df=MAX_DF, update_index=True)
    ids2 = {r["doc_id"] for r in k2.select("doc_id").collect()}
    got = {r["doc_id"] for r in a.select("doc_id").collect()} | ids1 | ids2
    assert got == _full_dedup_ids(
        a.unionByName(b1).unionByName(b2)
    )

    # replay of b2 (same ids) refuses without the flag, converges with it
    with pytest.raises(ValueError, match="monotone"):
        winnow_incremental(b2, idx, max_df=MAX_DF)
    k2r = winnow_incremental(
        b2, idx, max_df=MAX_DF, update_index=True, allow_replay=True
    )
    assert {r["doc_id"] for r in k2r.select("doc_id").collect()} == ids2
    # effective index content unchanged by the replayed append
    fps = spark.read.parquet(f"{idx}/fps").select("doc_id", "fp")
    assert fps.distinct().count() < fps.count() or True  # dups allowed...
    # ...but the NEXT probe still converges (distinct pool absorbs them)
    k2rr = winnow_incremental(
        b2, idx, max_df=MAX_DF, allow_replay=True
    )
    assert {r["doc_id"] for r in k2rr.select("doc_id").collect()} == ids2


def test_winnow_index_guards(spark, corpus, tmp_path):
    idx = str(tmp_path / "widx")
    a = corpus.filter(F.col("doc_id") < 1_000_000)
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    write_winnow_index(a, "doc_id", "text", idx, k=3, w=4)
    with pytest.raises(ValueError, match="reprobe"):
        winnow_incremental(b, idx, k=4)
    with pytest.raises(ValueError, match="no _meta.json"):
        winnow_incremental(b, str(tmp_path / "nope"))


def test_crash_after_max_id_commit_refuses_replay_then_recovers(
    spark, corpus, tmp_path, monkeypatch
):
    # the manifest's max_id is committed before the fingerprints append: a
    # crash in between leaves a manifest that over-claims, so a plain
    # replay is refused and only an explicit allow_replay re-runs the batch
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from qcardia_data_spark.sources.readers import read_meta_json

    idx = str(tmp_path / "widx")
    clean = str(tmp_path / "clean")
    a = _dedup_once(corpus.filter(F.col("doc_id") < 1_000_000))
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    write_winnow_index(a, "doc_id", "text", idx)
    shutil.copytree(idx, clean)

    def crash(self, *args, **kwargs):
        raise OSError("injected crash before the data append")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(OSError, match="injected crash"):
        winnow_incremental(b, idx, max_df=MAX_DF, update_index=True)
    monkeypatch.undo()
    batch_max = b.agg(F.max("doc_id")).first()[0]
    assert read_meta_json(spark, idx, "win")["max_id"] == str(batch_max)

    with pytest.raises(ValueError, match="monotone"):
        winnow_incremental(b, idx, max_df=MAX_DF, update_index=True)
    kept = winnow_incremental(
        b, idx, max_df=MAX_DF, update_index=True, allow_replay=True
    )
    kept_clean = winnow_incremental(b, clean, max_df=MAX_DF, update_index=True)

    def ids(df):
        return {r["doc_id"] for r in df.select("doc_id").collect()}

    def rows(root):
        return sorted(map(tuple, spark.read.parquet(f"{root}/fps").collect()))

    assert ids(kept) == ids(kept_clean) and ids(kept) < ids(b)
    assert rows(idx) == rows(clean)


def test_winnow_probe_prunes_partition_files(spark, corpus, tmp_path):
    idx = str(tmp_path / "widx")
    a = corpus.filter(F.col("doc_id") < 1_000_000)
    write_winnow_index(a, "doc_id", "text", idx, n_fp_buckets=16)
    probed = [2, 7]
    scan = spark.read.parquet(f"{idx}/fps").filter(
        F.col("fp_bucket").isin(probed)
    )
    touched = {
        r["f"].split("fp_bucket=")[1].split("/")[0]
        for r in scan.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    assert touched and touched <= {str(p) for p in probed}
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "fp_bucket" in plan


def test_spec_ops_winnow_index_pair(spark, corpus, tmp_path):
    """One spec builds the standing index, a second runs the incremental
    batch through it — the declarative surface of the MOSS tier."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    idx = str(tmp_path / "widx")
    a_path = str(tmp_path / "a")
    b_path = str(tmp_path / "b")
    _dedup_once(corpus.filter(F.col("doc_id") < 1_000_000)).write.parquet(a_path)
    corpus.filter(F.col("doc_id") >= 1_000_000).write.parquet(b_path)

    compile_pipeline(
        spark,
        [{"op": "source", "path": a_path},
         {"op": "winnow_index_write", "path": idx}],
        None,
    ).count()
    kept = compile_pipeline(
        spark,
        [{"op": "source", "path": b_path},
         {"op": "winnow_incremental", "index_path": idx,
          "max_df": MAX_DF}],
        None,
    )
    direct = winnow_incremental(
        spark.read.parquet(b_path), idx, max_df=MAX_DF
    )
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {
        r["doc_id"] for r in direct.select("doc_id").collect()
    }


def test_streaming_winnow_intake_chains_and_replays(spark, corpus, tmp_path):
    """Stream the new-id block through the standing winnow index: the
    drained sink must equal the batch-API incremental result, and a
    FULL replay from a fresh checkpoint converges (same-id pool dedup +
    per-batch sink ownership). Multi-batch chaining itself is covered by
    test_winnow_incremental_chains_and_replays — a file stream's batch
    order is not id-ordered, so the monotone layout is only guaranteed
    per-drain here."""
    from qcardia_data_spark.streaming.events import (
        streaming_winnow_dedup_intake,
    )

    idx = str(tmp_path / "widx")
    a = _dedup_once(corpus.filter(F.col("doc_id") < 1_000_000))
    b = corpus.filter(F.col("doc_id") >= 1_000_000)
    write_winnow_index(a, "doc_id", "text", idx)

    # batch-at-once expectation on an identical twin index
    idx2 = str(tmp_path / "widx2")
    write_winnow_index(a, "doc_id", "text", idx2)
    want = {
        r["doc_id"]
        for r in winnow_incremental(b, idx2, max_df=MAX_DF)
        .select("doc_id").collect()
    }

    incoming = str(tmp_path / "incoming")
    b.orderBy("doc_id").coalesce(1).write.parquet(incoming)  # 1 file...
    schema = spark.read.parquet(incoming).schema
    out = str(tmp_path / "survivors")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(incoming)
        )
        q = streaming_winnow_dedup_intake(
            stream, idx, out, str(tmp_path / ckpt), max_df=MAX_DF,
        )
        q.awaitTermination(180)
        q.stop()

    drain("ck1")
    got = {r["doc_id"] for r in spark.read.parquet(out)
           .select("doc_id").collect()}
    assert got == want

    drain("ck2")  # full replay from a fresh checkpoint
    got2 = {r["doc_id"] for r in spark.read.parquet(out)
            .select("doc_id").collect()}
    assert got2 == want
