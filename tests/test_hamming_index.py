"""Hamming-64 standing index: the Manku engine's incremental operating
mode, shared by text simhash64 and the media fingerprint families."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.functions.dedup import (
    hamming64_index_probe,
    hamming_near_pairs64,
    simhash64_md5_table,
    write_hamming64_index,
)


@pytest.fixture()
def sigs(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    clones = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    return simhash64_md5_table(
        docs.unionByName(clones), "doc_id", "text"
    ).localCheckpoint(eager=True)


def test_probe_matches_batchwise_slice_of_full_pairs(spark, sigs, tmp_path):
    idx = str(tmp_path / "h64")
    head = sigs.filter(F.col("doc_id") < 1_000_000)
    batch = sigs.filter(F.col("doc_id") >= 1_000_000)
    write_hamming64_index(head, idx, max_hamming=3)
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in hamming64_index_probe(batch, idx).collect()
    }
    # reference: every full-corpus pair that involves a batch id, with
    # the batch id on the a side (partners may be batch-internal too)
    full = hamming_near_pairs64(sigs, "doc_id", max_hamming=3)
    want = set()
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    for r in full.collect():
        if r["a"] in batch_ids:
            want.add((r["a"], r["b"], r["hamming"]))
        if r["b"] in batch_ids:
            want.add((r["b"], r["a"], r["hamming"]))
    assert got == want and got


def test_probe_guards_append_and_replay(spark, sigs, tmp_path):
    idx = str(tmp_path / "h64")
    head = sigs.filter(F.col("doc_id") < 1_000_000)
    batch = sigs.filter(F.col("doc_id") >= 1_000_000)
    write_hamming64_index(head, idx, max_hamming=3)

    pairs = {
        (r["a"], r["b"]) for r in hamming64_index_probe(
            batch, idx, update_index=True
        ).collect()
    }
    # monotone refusal on a replay without the flag
    with pytest.raises(ValueError, match="monotone"):
        hamming64_index_probe(batch, idx)
    # replay converges: same-id rows dedup in the candidate distinct
    replay = {
        (r["a"], r["b"]) for r in hamming64_index_probe(
            batch, idx, allow_replay=True
        ).collect()
    }
    assert replay == pairs
    with pytest.raises(ValueError, match="no _meta.json"):
        hamming64_index_probe(batch, str(tmp_path / "nope"))


def test_crash_after_max_id_commit_refuses_replay_then_recovers(
    spark, sigs, tmp_path, monkeypatch
):
    # the manifest's max_id is committed before the blocks append: a crash
    # in between leaves a manifest that over-claims, so a plain replay is
    # refused and only an explicit allow_replay re-runs the batch
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from qcardia_data_spark.sources.readers import read_meta_json

    idx = str(tmp_path / "h64")
    clean = str(tmp_path / "clean")
    batch = sigs.filter(F.col("doc_id") >= 1_000_000)
    write_hamming64_index(sigs.filter(F.col("doc_id") < 1_000_000), idx)
    shutil.copytree(idx, clean)

    def crash(self, *args, **kwargs):
        raise OSError("injected crash before the data append")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(OSError, match="injected crash"):
        hamming64_index_probe(batch, idx, update_index=True)
    monkeypatch.undo()
    batch_max = batch.agg(F.max("doc_id")).first()[0]
    assert read_meta_json(spark, idx, "h64")["max_id"] == str(batch_max)

    with pytest.raises(ValueError, match="monotone"):
        hamming64_index_probe(batch, idx, update_index=True)
    pairs = hamming64_index_probe(
        batch, idx, update_index=True, allow_replay=True
    )
    pairs_clean = hamming64_index_probe(batch, clean, update_index=True)

    def rows(root):
        return sorted(map(tuple, spark.read.parquet(f"{root}/blocks").collect()))

    assert set(pairs.collect()) == set(pairs_clean.collect()) != set()
    assert rows(idx) == rows(clean)


def test_probe_prunes_key_bucket_files(spark, sigs, tmp_path):
    idx = str(tmp_path / "h64")
    write_hamming64_index(
        sigs.filter(F.col("doc_id") < 1_000_000), idx, n_key_buckets=16
    )
    probed = [3, 11]
    scan = spark.read.parquet(f"{idx}/blocks").filter(
        F.col("kb").isin(probed)
    )
    touched = {
        r["f"].split("kb=")[1].split("/")[0]
        for r in scan.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    assert touched and touched <= {str(p) for p in probed}
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kb" in plan


def test_streaming_hamming64_intake(spark, sigs, tmp_path):
    """Drain a signature stream through the standing index: the pair
    sink must equal the batch-API probe; fresh-checkpoint replay
    converges."""
    from qcardia_data_spark.streaming.events import streaming_hamming64_intake

    idx = str(tmp_path / "h64")
    head = sigs.filter(F.col("doc_id") < 1_000_000)
    batch = sigs.filter(F.col("doc_id") >= 1_000_000)
    write_hamming64_index(head, idx)
    idx2 = str(tmp_path / "h64b")
    write_hamming64_index(head, idx2)
    want = {
        (r["a"], r["b"], r["hamming"])
        for r in hamming64_index_probe(batch, idx2).collect()
    }

    incoming = str(tmp_path / "sigs_in")
    batch.coalesce(1).write.parquet(incoming)
    schema = spark.read.parquet(incoming).schema
    out = str(tmp_path / "pairs")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(incoming)
        )
        q = streaming_hamming64_intake(
            stream, idx, out, str(tmp_path / ckpt)
        )
        q.awaitTermination(180)
        q.stop()

    drain("c1")
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in spark.read.parquet(out).select("a", "b", "hamming").collect()
    }
    assert got == want and got

    drain("c2")  # full replay
    got2 = {
        (r["a"], r["b"], r["hamming"])
        for r in spark.read.parquet(out).select("a", "b", "hamming").collect()
    }
    assert got2 == want


def test_spec_ops_hamming_index_pair(spark, sf_dir, tmp_path):
    """Declarative surface of the fourth standing index: one spec builds
    it from document text, a second probes a batch through it."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    clones = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    docs.write.parquet(a_path)
    clones.write.parquet(b_path)
    idx = str(tmp_path / "h64")

    compile_pipeline(
        spark,
        [{"op": "source", "path": a_path},
         {"op": "hamming_index_write", "path": idx}],
        None,
    ).count()
    pairs = compile_pipeline(
        spark,
        [{"op": "source", "path": b_path},
         {"op": "hamming_probe", "index_path": idx}],
        None,
    )
    got = {(r["a"], r["b"]) for r in pairs.select("a", "b").collect()}
    assert got  # clones match their originals
    assert all(a >= 1_000_000 for a, _ in got)  # a is always a batch id
    assert any(b < 1_000_000 for _, b in got)   # index partners found

    kept = compile_pipeline(
        spark,
        [{"op": "source", "path": b_path},
         {"op": "hamming_probe", "index_path": idx, "pairs_only": False}],
        None,
    )
    dropped = clones.count() - kept.count()
    assert dropped == len({a for a, b in got if b < a})


def test_image_phash_through_standing_index(spark, tmp_path):
    """The multimodal capstone for the fourth index: image pHash
    signatures (REAL PNG decode) flow through the SAME standing Manku
    index as text simhash — head images indexed, a new batch probed,
    the re-exposed copy found, the unrelated image not."""
    import numpy as np

    from qcardia_data_spark.sources.multimodal import phash_images
    from qcardia_data_spark.sources.png import encode_png

    rng = np.random.RandomState(5)
    coarse = rng.randint(0, 200, size=(8, 6)).astype(np.float64)
    base = np.kron(coarse, np.ones((8, 8)))[:64, :48].astype(np.uint8)
    brighter = (base + 20).astype(np.uint8)
    noise = rng.randint(0, 255, size=(64, 48)).astype(np.uint8)

    head = spark.createDataFrame(
        [("img/base.png", bytearray(encode_png(base)))],
        ["path", "content"],
    )
    batch = spark.createDataFrame(
        [("img/brighter.png", bytearray(encode_png(brighter))),
         ("img/noise.png", bytearray(encode_png(noise)))],
        ["path", "content"],
    )
    hsig = phash_images(head).select(
        F.col("path").alias("doc_id"), "lo", "hi"
    )
    bsig = phash_images(batch).select(
        F.col("path").alias("doc_id"), "lo", "hi"
    ).localCheckpoint(eager=True)

    idx = str(tmp_path / "h64img")
    write_hamming64_index(hsig, idx, max_hamming=3)
    got = {(r["a"], r["b"]) for r in hamming64_index_probe(
        bsig, idx, allow_replay=True).collect()}
    assert got == {("img/brighter.png", "img/base.png")}


def test_all_standing_indexes_refuse_missing_meta(spark, tmp_path):
    """The unified contract: every standing index's probe refuses loudly
    on a path without its meta — a probe that silently treated a random
    directory as an index would return wrong-but-plausible results."""
    from qcardia_data_spark.functions.dedup import (
        near_dedup_incremental,
        winnow_incremental,
    )
    from qcardia_data_spark.functions.similarity import (
        pairwise_topk_join_pruned,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    sig = spark.createDataFrame([(1, 0, 0)], ["doc_id", "lo", "hi"])
    emb = spark.createDataFrame([(1, [0.1, 0.2])], ["vec_id", "embedding"])
    nowhere = str(tmp_path / "not_an_index")

    with pytest.raises(Exception, match="_meta.json|not an? .*index|meta"):
        near_dedup_incremental(docs, nowhere, "doc_id", "text")
    with pytest.raises(ValueError, match="_meta.json"):
        winnow_incremental(docs, nowhere)
    with pytest.raises(ValueError, match="_meta.json"):
        hamming64_index_probe(sig, nowhere)
    with pytest.raises(Exception):
        pairwise_topk_join_pruned(emb, nowhere, k=1)
