"""The one index manifest (``root/_meta.json``): every standing index and
store reads its geometry through ``readers.read_meta_json`` and commits it
through ``readers.commit_meta_json``. Pins the manifest's failure modes —
a root in the pre-manifest layout, a crash between temp write and rename —
and that metadata costs no Spark job."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.sources import readers


def _emb(spark, sf_dir, lo=0, hi=60):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    )


def test_legacy_meta_layout_refuses_loudly(spark, tmp_path):
    """A root holding a parent-format meta directory but no manifest is an
    index whose geometry is unknown: appends, probes and lookups refuse
    with the path and 'rebuild' instead of treating it as a fresh store
    (which would re-freeze the caller's geometry over the old rows)."""
    from qcardia_data_spark.functions.dedup import near_dedup_incremental
    from qcardia_data_spark.functions.sketches import (
        cms_store_append_batch,
        cms_store_lookup,
        hll_registers,
        hll_store_merge,
    )

    def legacy(name: str, row: dict) -> str:
        root = tmp_path / name.strip("_")
        (root / name).mkdir(parents=True)
        (root / name / "part-00000.json").write_text(json.dumps(row) + "\n")
        return str(root)

    docs = spark.createDataFrame([(10, "a b c d")], ["doc_id", "text"])
    sig = legacy("_sig_meta", {"n_bands": 8, "shingle_n": 3})
    with pytest.raises(ValueError, match=r"_sig_meta.*rebuild"):
        near_dedup_incremental(docs, sig, "doc_id", "text")

    ev = spark.createDataFrame([("click", 1), ("view", 2)], ["event_type", "user_id"])
    cms = legacy("_cms_meta", {"depth": 3, "width": 16, "keys": ["event_type"]})
    with pytest.raises(ValueError, match=r"_cms_meta.*rebuild"):
        cms_store_append_batch(ev, cms, ["event_type"], "user_id", batch_id=1, width=64)
    with pytest.raises(ValueError, match=r"_cms_meta.*rebuild"):
        cms_store_lookup(spark, cms, ev, "user_id")

    hll = legacy("_hll_meta", {"p": 6, "keys": ["event_type"]})
    with pytest.raises(ValueError, match=r"_hll_meta.*rebuild"):
        hll_store_merge(spark, hll, hll_registers(ev, ["event_type"], "user_id", p=4), p=4)
    # nothing landed, and the legacy meta is untouched
    for root in (cms, hll):
        assert not os.path.exists(f"{root}/rows")
        assert not os.path.exists(f"{root}/_meta.json")


def test_interrupted_commit_keeps_committed_manifest(spark, sf_dir, tmp_path):
    """A crash between the temp write and the rename leaves a stray temp
    file beside the committed manifest: reads return the committed one,
    the parquet scan of the root ignores the temp file, and the next
    append is checked against the committed geometry."""
    from qcardia_data_spark.functions.similarity import (
        ann_index_append,
        hyperplane_bucket,
        lsh_write_partitioned,
    )
    from qcardia_data_spark.functions.sketches import cms_store_append_batch

    idx = str(tmp_path / "lsh")
    lsh_write_partitioned(_emb(spark, sf_dir, 0, 40), idx, n_planes=4, seed=1)
    committed = readers.read_meta_json(spark, idx, "lsh")
    stray = f"{idx}/_meta.json.{uuid.uuid4().hex}.tmp"
    with open(stray, "w") as f:  # the crash: new geometry never renamed in
        f.write(json.dumps({"kind": "lsh", "n_planes": 7, "seed": 9, "dim": 64}))

    assert readers.read_meta_json(spark, idx, "lsh") == committed
    scan = spark.read.parquet(idx)
    assert scan.count() == 40
    assert not any(".tmp" in p or "_meta" in p for p in scan.inputFiles())

    tail = _emb(spark, sf_dir, 40, 60)
    assert ann_index_append(tail, idx) == 20
    want = {
        r["vec_id"]: r["b"]
        for r in tail.select(
            "vec_id", hyperplane_bucket(F.col("embedding"), 4, 1, 64).alias("b")
        ).collect()
    }
    got = {
        r["vec_id"]: r["bucket"]
        for r in spark.read.parquet(idx).filter("vec_id >= 40").collect()
    }
    assert got == want

    # a store whose drift guard reads the manifest: the stray temp's
    # geometry is neither adopted nor able to mask the committed one
    ev = spark.createDataFrame([("click", 1), ("view", 2)], ["event_type", "user_id"])
    store = str(tmp_path / "cms")
    cms_store_append_batch(ev, store, ["event_type"], "user_id", batch_id=1, width=64)
    with open(f"{store}/_meta.json.{uuid.uuid4().hex}.tmp", "w") as f:
        f.write('{"kind": "cms", "depth": 3, "width": 16, "keys": ["event_type"]}')
    with pytest.raises(ValueError, match="different geometry"):
        cms_store_append_batch(ev, store, ["event_type"], "user_id", batch_id=2, width=16)
    cms_store_append_batch(ev, store, ["event_type"], "user_id", batch_id=2, width=64)
    assert readers.read_meta_json(spark, store, "cms")["width"] == 64


def test_meta_read_and_commit_launch_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    group = f"meta-{uuid.uuid4().hex}"
    root = str(tmp_path / "idx")
    sc.setJobGroup(group, "manifest job-count test")
    try:
        readers.commit_meta_json(spark, root, "sig", {"n_bands": 8, "max_id": "7"})
        got = readers.read_meta_json(spark, root, "sig")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {"kind": "sig", "n_bands": 8, "max_id": "7"}
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # the rename overwrites: a second commit replaces the first whole
    readers.commit_meta_json(spark, root, "sig", {"n_bands": 4})
    assert readers.read_meta_json(spark, root) == {"kind": "sig", "n_bands": 4}
    assert sorted(os.listdir(root)) == ["._meta.json.crc", "_meta.json"]
    with pytest.raises(ValueError, match="'sig' index, not a 'win'"):
        readers.read_meta_json(spark, root, "win")


@pytest.mark.parametrize("kind", ["lsh", "ivf", "ivfpq"])
def test_ann_kind_resolved_with_one_manifest_read(spark, sf_dir, tmp_path, monkeypatch, kind):
    """ann_index_append reads its manifest once; the spec ann_probe op
    resolves the kind with one read, then its probe reads its geometry."""
    from qcardia_data_spark.functions.similarity import ann_index_append
    from qcardia_data_spark.plans.spec import compile_pipeline

    idx = str(tmp_path / kind)
    params = {"lsh": {"n_planes": 4}, "ivf": {"n_cells": 4},
              "ivfpq": {"n_cells": 4, "m": 8, "k_codes": 8}}[kind]
    compile_pipeline(
        spark,
        [{"op": "source", "table": "embeddings"}, {"op": "filter", "expr": "vec_id < 80"},
         {"op": "ann_index_write", "kind": kind, "path": idx, **params}],
        sf_dir,
    ).count()

    calls = []
    orig = readers.read_meta_json

    def counted(spark_, root, kind_=None):
        calls.append(kind_)
        return orig(spark_, root, kind_)

    monkeypatch.setattr(readers, "read_meta_json", counted)
    assert ann_index_append(_emb(spark, sf_dir, 80, 100), idx) == 20
    assert calls == [None]

    calls.clear()
    probe = {"op": "ann_probe", "index_path": idx, "k": 3}
    if kind != "lsh":
        probe["query_id"] = 3
    got = compile_pipeline(
        spark,
        [{"op": "source", "table": "embeddings"}, {"op": "filter", "expr": "vec_id < 10"},
         probe],
        sf_dir,
    )
    assert calls == [None, kind]
    assert got.count() > 0
