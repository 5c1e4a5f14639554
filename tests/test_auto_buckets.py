"""VERDICT r13 #2: the standing dedup-index writers accept
``n_*_buckets="auto"`` — the corpus-sized bucket rule the r13
append-scaling panel measured (flat append read volume ONLY when bucket
counts grow with the corpus; PERF.md "Standing-index append scaling").
ANN already shipped the dial (auto_n_planes / auto cells); these tests
pin the dedup-side equivalent: sizing rule, meta round-trip, the
geometry staying frozen across appends, and that probes run unchanged
against an auto-sized index. The last test pins that a build replaces
the whole index."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.functions.dedup import (
    auto_index_buckets,
    hamming64_index_probe,
    near_dedup_incremental,
    simhash64_md5_table,
    write_hamming64_index,
    write_signature_index,
    write_winnow_index,
    winnow_incremental,
)
from qcardia_data_spark.sources.readers import read_meta_json


def _docs(spark, sf_dir, lo=0, hi=40):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text")
    )


def test_auto_index_buckets_replays_the_measured_panel():
    # the r13 small-panel manual sizing, exactly: 125k docs x 8 bands
    assert auto_index_buckets(125_000 * 8) == 512
    assert auto_index_buckets(250_000 * 8) == 1024
    assert auto_index_buckets(500_000 * 8) == 2048
    # floor: tiny corpora don't shatter into per-row directories
    assert auto_index_buckets(0) == 8
    assert auto_index_buckets(2048 * 8) == 8
    # growth: power of two; ceil rounds the count UP, so realized
    # occupancy lands in (target/2, target]
    n = auto_index_buckets(10_000_000)
    assert n & (n - 1) == 0 and 1024 < 10_000_000 / n <= 2048
    # cap: directory count stops at 2^20, occupancy absorbs the rest
    assert auto_index_buckets(10**13) == 1 << 20


def test_signature_index_auto_meta_roundtrip_and_probe(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "sig_idx")
    base = _docs(spark, sf_dir, 0, 40)
    write_signature_index(
        base, "doc_id", "text", idx, n_bands=8, shingle_n=3,
        n_sig_buckets="auto", n_id_buckets="auto",
    )
    meta = read_meta_json(spark, idx, "sig")
    # 40 docs x 8 bands = 320 sig rows, 40 set rows -> both at the floor
    assert meta["n_sig_buckets"] == 8 and meta["n_id_buckets"] == 8
    assert isinstance(meta["n_sig_buckets"], int)
    # probe resolves geometry from the meta (no explicit buckets passed)
    batch = _docs(spark, sf_dir, 40, 60)
    kept = near_dedup_incremental(
        batch, idx, "doc_id", "text", n_bands=8, shingle_n=3,
        update_index=True,
    )
    assert kept.count() > 0
    # an append keeps the geometry frozen: the manifest's bucket counts
    # are unchanged and only max_id ratchets
    meta2 = read_meta_json(spark, idx, "sig")
    assert meta2 == {**meta, "max_id": "59"}


def test_winnow_index_auto(spark, sf_dir, tmp_path):
    idx = str(tmp_path / "win_idx")
    base = _docs(spark, sf_dir, 0, 40)
    write_winnow_index(base, "doc_id", "text", idx, n_fp_buckets="auto")
    meta = read_meta_json(spark, idx, "win")
    assert isinstance(meta["n_fp_buckets"], int) and meta["n_fp_buckets"] >= 8
    # fp-row sizing: resolved count obeys the occupancy rule
    n_fp = (
        spark.read.parquet(f"{idx}/fps").count()
    )
    assert meta["n_fp_buckets"] == auto_index_buckets(n_fp)
    # probe and append run against the auto-sized index with
    # meta-resolved geometry; the append keeps it frozen
    batch = _docs(spark, sf_dir, 40, 60)
    kept = winnow_incremental(batch, idx, "doc_id", "text", update_index=True)
    assert kept.count() > 0
    assert read_meta_json(spark, idx, "win") == {**meta, "max_id": "59"}


def test_hamming64_index_auto(spark, tmp_path):
    rows = [(i, (i * 2654435761) % (1 << 32), (i * 40503) % (1 << 32))
            for i in range(200)]
    sig = spark.createDataFrame(rows, ["doc_id", "lo", "hi"])
    idx = str(tmp_path / "h64_idx")
    write_hamming64_index(sig, idx, max_hamming=3, n_key_buckets="auto")
    meta = read_meta_json(spark, idx, "h64")
    # 200 sigs x 4 blocks = 800 rows -> floor
    assert meta["n_key_buckets"] == auto_index_buckets(200 * 4) == 8
    batch = spark.createDataFrame(
        [(1000 + i, rows[i][1], rows[i][2]) for i in range(10)],
        ["doc_id", "lo", "hi"],
    )
    pairs = hamming64_index_probe(batch, idx, update_index=True)
    assert pairs.count() >= 10  # each batch sig matches its index twin
    # the append keeps the frozen geometry
    assert read_meta_json(spark, idx, "h64") == {**meta, "max_id": "1009"}


def test_spec_dialect_accepts_auto_buckets(spark, sf_dir, tmp_path):
    """The "auto" knob is reachable from the declarative dialect on all
    three standing-index write ops (the r13 stretch-#8 posture: physical
    knobs ride the spec, not just the module API)."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    corpus = str(tmp_path / "docs")
    _docs(spark, sf_dir, 0, 30).write.parquet(corpus)
    sig = str(tmp_path / "spec_sig")
    win = str(tmp_path / "spec_win")
    h64 = str(tmp_path / "spec_h64")
    compile_pipeline(
        spark,
        [
            {"op": "source", "path": corpus},
            {"op": "signature_index_write", "path": sig,
             "n_sig_buckets": "auto", "n_id_buckets": "auto"},
            {"op": "winnow_index_write", "path": win,
             "n_fp_buckets": "auto"},
            {"op": "hamming_index_write", "path": h64,
             "n_key_buckets": "auto"},
        ],
        None,
    ).count()
    assert isinstance(read_meta_json(spark, sig, "sig")["n_sig_buckets"], int)
    assert isinstance(read_meta_json(spark, win, "win")["n_fp_buckets"], int)
    assert isinstance(read_meta_json(spark, h64, "h64")["n_key_buckets"], int)


@pytest.mark.parametrize("kind", ["sig", "win", "h64"])
def test_build_replaces_whole_index_under_dynamic_overwrite(
    spark, sf_dir, tmp_path, kind
):
    """A build replaces the whole index, also in a session that overwrites
    partitions dynamically: a rebuild from fewer docs keeps none of the
    prior build's bucket directories."""
    idx = str(tmp_path / kind)

    def build(docs):
        if kind == "sig":
            write_signature_index(docs, "doc_id", "text", idx)
        elif kind == "win":
            write_winnow_index(docs, "doc_id", "text", idx)
        else:
            write_hamming64_index(simhash64_md5_table(docs, "doc_id", "text"), idx)

    build(_docs(spark, sf_dir, 0, 40))
    small = _docs(spark, sf_dir, 0, 3)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        build(small)
    finally:
        spark.conf.set(key, prev)
    want = {r["doc_id"] for r in small.collect()}
    assert len(want) == 3
    tables = {"sig": ["sigs", "shingle_sets"], "win": ["fps"], "h64": ["blocks"]}
    for table in tables[kind]:
        rows = spark.read.parquet(f"{idx}/{table}").select("doc_id").distinct()
        assert {r["doc_id"] for r in rows.collect()} == want, table
    assert read_meta_json(spark, idx, kind)["max_id"] == str(max(want))
