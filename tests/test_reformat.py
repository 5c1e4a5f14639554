"""End-to-end reformat pipeline test (SURVEY §3.2): binary scan → decode →
explode → ED/ES → crop → file-id records + metadata, wrapped in the
idempotent cache layer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.plans.cache import materialize
from qcardia_data_spark.reformat import reformat_volumes


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    for i in range(5):
        (d / f"subj{i}.bin").write_bytes(f"volume-{i}".encode() * 10)
    return str(d)


def test_reformat_end_to_end(spark, raw_dir):
    records, metadata = reformat_volumes(spark, raw_dir, dataset="mmX", n_frames=4)
    recs = records.collect()
    assert len(recs) == 20  # 5 subjects × 4 frames
    by_subject: dict = {}
    for r in recs:
        by_subject.setdefault(r["subject"], []).append(r)
    for subj, rows in by_subject.items():
        eds = [r for r in rows if r["is_ed"]]
        ess = [r for r in rows if r["is_es"]]
        assert len(eds) == 1 and len(ess) == 1
        # ED has the max annotated volume, ES the min annotated volume
        vols = {r["frame_nr"]: r["volume"] for r in rows if r["volume"] > 0}
        assert vols[eds[0]["frame_nr"]] == max(vols.values())
        assert vols[ess[0]["frame_nr"]] == min(vols.values())
        for r in rows:
            assert r["file_id"] == f"mmX-{subj}-__-{r['frame_nr']:02d}"
            assert r["height"] <= 8 and r["width"] <= 8

    meta = {r["subject"]: r for r in metadata.collect()}
    assert set(meta) == {f"subj{i}" for i in range(5)}
    assert all(m["total_nr_frames"] == 4 for m in meta.values())


def test_reformat_is_deterministic(spark, raw_dir):
    r1, _ = reformat_volumes(spark, raw_dir, dataset="mmX")
    r2, _ = reformat_volumes(spark, raw_dir, dataset="mmX")
    k = ["subject", "frame_nr"]
    assert {tuple(r) for r in r1.select(*k, "volume").collect()} == {
        tuple(r) for r in r2.select(*k, "volume").collect()
    }


def test_reformat_under_cache_layer(spark, raw_dir, tmp_path):
    calls = []

    def build():
        calls.append(1)
        records, _ = reformat_volumes(spark, raw_dir, dataset="mmX")
        return records.drop("pixels")

    spec = {"reformat": {"dir": raw_dir, "dataset": "mmX"}}
    p1, built1 = materialize(spark, build, str(tmp_path), spec)
    p2, built2 = materialize(spark, build, str(tmp_path), spec)
    assert built1 and not built2 and len(calls) == 1
    assert spark.read.parquet(p1).count() == 20


def test_orc_roundtrip_pushdown_and_partition_prune(spark, sf_dir, tmp_path):
    """ORC source/sink: values survive the roundtrip, filters reach the
    ORC scan (PushedFilters), and directory partitioning prunes."""
    import os

    from pyspark.sql import functions as F

    from qcardia_data_spark.sources.readers import orc_scan
    from qcardia_data_spark.sources.writers import write_records_orc

    src = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    p = str(tmp_path / "nation_orc")
    write_records_orc(src, p, order_by=["n_nationkey"],
                      partition_by=["n_regionkey"])
    back = orc_scan(spark, p)
    assert sorted(map(tuple, back.select(*src.columns).collect())) == \
        sorted(map(tuple, src.collect()))
    q = back.filter(F.col("n_nationkey") > 10).select("n_name")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_nationkey" in plan
    pruned = back.filter(F.col("n_regionkey") == 2)
    files = {
        r["f"] for r in pruned.select(
            F.input_file_name().alias("f")).distinct().collect()
    }
    assert files and all("n_regionkey=2" in f for f in files)


def test_jsonl_shard_export_roundtrip(spark, sf_dir, tmp_path):
    """Sharded JSONL export: deterministic shard dirs, roundtrip through
    the jsonl scanner loses nothing, shard layout prunes."""
    import glob
    import os

    from pyspark.sql import functions as F

    from qcardia_data_spark.sources.writers import write_jsonl_shards

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text", "lang", "source"
    )
    p = str(tmp_path / "corpus_jsonl")
    write_jsonl_shards(docs, p, shard_col="doc_id", n_shards=8)
    dirs = sorted(os.path.basename(d) for d in glob.glob(f"{p}/shard=*"))
    assert dirs and all(d.startswith("shard=") for d in dirs)
    back = spark.read.json(f"{p}/shard=*/*.json")
    assert sorted(map(tuple, back.select(*docs.columns).collect())) == \
        sorted(map(tuple, docs.collect()))
    # same data, same layout on a rewrite (deterministic assignment)
    p2 = str(tmp_path / "corpus_jsonl2")
    write_jsonl_shards(docs, p2, shard_col="doc_id", n_shards=8)
    for d in dirs:
        a = spark.read.json(f"{p}/{d}/*.json").select("doc_id")
        b = spark.read.json(f"{p2}/{d}/*.json").select("doc_id")
        assert sorted(r["doc_id"] for r in a.collect()) == \
            sorted(r["doc_id"] for r in b.collect())


def test_per_record_sinks_refuse_unsafe_id_components(spark, tmp_path):
    """r12 review: ids interpolated into file names must refuse path
    separators/traversal — an id like '../x' through write_npy_records
    used to write OUTSIDE the output directory."""
    import pytest

    from qcardia_data_spark.sources.writers import (
        write_jsonl_shards,
        write_npy_records,
    )

    df = spark.createDataFrame(
        [("../escape", [1.0, 2.0])], ["rec_id", "arr"]
    ).coalesce(1)
    out = tmp_path / "npy"
    with pytest.raises(Exception, match="safe file-name component"):
        write_npy_records(df, str(out), "rec_id", "arr")
    assert not (tmp_path / "escape.npy").exists()

    good = spark.createDataFrame([("r1", [1.0])], ["rec_id", "arr"]).coalesce(1)
    write_npy_records(good, str(out), "rec_id", "arr")
    assert (out / "r1.npy").exists()

    # jsonl sharder refuses a pre-existing 'shard' column instead of
    # silently overwriting it
    with_shard = spark.createDataFrame([(1, "t", 9)], ["doc_id", "text", "shard"])
    with pytest.raises(ValueError, match="'shard' column"):
        write_jsonl_shards(with_shard, str(tmp_path / "js"), "doc_id")


# --- the fused kernel against the relational operator chain ---------------


def _relational_records(spark, raw_dir, glob, dataset, height, width, n_frames, codec):
    """The reformat records built from the public relational operators —
    decode → frame_sample → mask_volume → ed_es_selection → border_crop_udf
    → broadcast join — the chain the fused kernel must reproduce."""
    from qcardia_data_spark.functions.arrays import file_id
    from qcardia_data_spark.functions.volumes import (
        border_crop_udf,
        ed_es_selection,
        mask_volume,
    )
    from qcardia_data_spark.sources.multimodal import decode_image, decode_nifti, frame_sample
    from qcardia_data_spark.sources.readers import binary_file_scan

    blobs = binary_file_scan(spark, raw_dir, glob=glob)
    if codec == "nii":
        decoded = decode_nifti(blobs).select(
            "path",
            F.element_at("shape", 1).alias("height"),
            F.element_at("shape", 2).alias("width"),
            F.element_at("shape", 3).alias("n_frames"),
            "pixels",
        )
    else:
        decoded = decode_image(codec, height, width, n_frames)(blobs)
    frames = frame_sample(decoded, keep_frames=list(range(n_frames))).withColumn(
        "subject", F.regexp_extract(F.element_at(F.split("path", "/"), -1), r"([^.]+)", 1)
    )
    with_mask = frames.withColumn(
        "volume",
        mask_volume(F.transform("pixels", lambda e: F.when(e > 0.6, e).otherwise(F.lit(0.0)))),
    )
    ed_es = ed_es_selection(with_mask, "subject", "frame_nr")
    cropped = with_mask.withColumn("c", border_crop_udf()("pixels", "height", "width")).select(
        "subject", "frame_nr", "volume",
        *[F.col(f"c.{k}").alias(k) for k in ("pixels", "height", "width", "y0", "x0")],
    )
    return (
        cropped.join(F.broadcast(ed_es), "subject", "left")
        .withColumn("is_ed", F.col("frame_nr") == F.col("ed_frame"))
        .withColumn("is_es", F.col("frame_nr") == F.col("es_frame"))
        .withColumn(
            "file_id",
            file_id(F.lit(dataset), F.col("subject"), F.lit(None).cast("int"), F.col("frame_nr")),
        )
    )


def _exact_rows(df):
    """Rows keyed by file_id, pixels as float32 bytes (bit-exact)."""
    import numpy as np

    out = {}
    for r in df.collect():
        d = r.asDict()
        assert None not in d["pixels"]
        d["pixels"] = np.asarray(d["pixels"], dtype=np.float32).tobytes()
        out[d["file_id"]] = d
    return out


def _assert_fused_equals_relational(spark, raw_dir, glob, n_frames, codec, height=8, width=8):
    kw = dict(glob=glob, dataset="eq", height=height, width=width, n_frames=n_frames, codec=codec)
    fused, _ = reformat_volumes(spark, raw_dir, **kw)
    relational = _relational_records(spark, raw_dir, **kw)
    assert fused.schema == relational.schema
    got, want = _exact_rows(fused), _exact_rows(relational)
    assert set(got) == set(want) and len(got) > 0
    for fid in want:
        assert got[fid] == want[fid], fid
    return got


@pytest.fixture(scope="module")
def edge_nifti_dir(tmp_path_factory):
    """Tiny 5-frame (x, y, t) NIfTI cines, one per edge case."""
    import numpy as np

    from qcardia_data_spark.sources.nifti import encode_nifti1

    d = tmp_path_factory.mktemp("edge_nii")
    rng = np.random.RandomState(3)
    x, y, t = 6, 5, 5
    six = np.float32(0.6)

    def interior(lo=0.1, hi=1.1):
        vol = np.zeros((x, y, t), dtype=np.float32)
        vol[1 : x - 1, 1:y, :] = rng.uniform(lo, hi, (x - 2, y - 1, t)).astype(np.float32)
        return vol

    def with_volumes(counts):
        # frame f has counts[f] pixels above 0.6, the rest at 0.3
        vol = np.zeros((x, y, t), dtype=np.float32)
        vol[1:5, 1:4, :] = 0.3
        for f, n in enumerate(counts):
            vol[1:5, 1:4, f].flat[:n] = 0.9
        return vol

    blank = interior()
    blank[:, :, 1] = 0.0
    exact = with_volumes([2, 2, 2, 2, 2])
    exact[2, 2, :] = six  # counts: float32(0.6) > 0.6 once widened
    exact[3, 1, :] = np.nextafter(six, np.float32(0))  # does not count
    vols = {
        "borders": interior(),
        "blank": blank,
        "unannotated": interior(0.1, 0.5),
        "ties": with_volumes([3, 5, 5, 3, 0]),
        "late_peak": with_volumes([2, 4, 2, 4, 9]),
        "exact": exact,
    }
    for name, vol in vols.items():
        (d / f"{name}.nii").write_bytes(encode_nifti1(vol, np.eye(4)))
    return str(d)


@pytest.mark.parametrize("n_frames", [3, 5])
def test_fused_reformat_equals_relational_chain_on_nifti(spark, edge_nifti_dir, n_frames):
    rows = _assert_fused_equals_relational(spark, edge_nifti_dir, "*.nii", n_frames, "nii")
    row = lambda name, f: rows[f"eq-{name}-__-{f:02d}"]  # noqa: E731
    # zero borders are cropped, with their offsets
    assert (row("borders", 0)["y0"], row("borders", 0)["x0"]) == (1, 1)
    assert (row("borders", 0)["height"], row("borders", 0)["width"]) == (4, 4)
    # an all-zero frame keeps its full plane at offset 0, volume 0
    assert (row("blank", 1)["height"], row("blank", 1)["width"]) == (6, 5)
    assert (row("blank", 1)["y0"], row("blank", 1)["x0"], row("blank", 1)["volume"]) == (0, 0, 0)
    # no annotated frame: ED/ES and the flags are null
    for f in range(n_frames):
        r = row("unannotated", f)
        assert (r["ed_frame"], r["es_frame"], r["is_ed"], r["is_es"]) == (None,) * 4
    # ties: the lower frame wins; frame 4 (volume 0) is not annotated
    assert (row("ties", 0)["ed_frame"], row("ties", 0)["es_frame"]) == (1, 0)
    # only kept frames take part in ED/ES
    assert row("late_peak", 0)["ed_frame"] == (1 if n_frames == 3 else 4)
    # exactly float32(0.6) counts, the float just below does not
    assert [row("exact", f)["volume"] for f in range(n_frames)] == [3] * n_frames


def test_fused_reformat_equals_relational_chain_on_fake_and_png(spark, raw_dir, tmp_path):
    import numpy as np

    from qcardia_data_spark.sources.png import encode_png

    _assert_fused_equals_relational(spark, raw_dir, "*.bin", 4, "fake", height=5, width=6)
    rng = np.random.RandomState(9)
    for i in range(2):
        img = np.zeros((5, 7, 3), dtype=np.uint8)
        img[1:4, 2:6, :] = rng.randint(0, 256, (3, 4, 3))
        (tmp_path / f"img{i}.png").write_bytes(encode_png(img))
    _assert_fused_equals_relational(spark, str(tmp_path), "*.png", 3, "png")


def test_reformat_frames_keeps_nan_pixels_and_does_not_count_them():
    import numpy as np

    from qcardia_data_spark.reformat import reformat_frames

    vol = np.full((2, 2, 1), 0.9, dtype=np.float32)
    vol[0, 1, 0] = np.nan
    batch = reformat_frames("file:/x/s.nii", vol, 1).to_pydict()
    assert batch["volume"] == [3] and batch["ed_frame"] == [0]
    assert np.isnan(batch["pixels"][0][1])


def test_reformat_records_plan_is_one_scan_one_kernel_one_job(spark, raw_dir, tmp_path):
    import uuid

    records, _ = reformat_volumes(spark, raw_dir, dataset="mmX", n_frames=4)
    plan = records._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan binaryFile") == 1
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    for node in ("Exchange", "Window", "Join"):
        assert node not in plan, node

    sc = spark.sparkContext
    group = f"reformat-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "reformat job-count test")
    try:
        records.write.parquet(str(tmp_path / "records"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


# --- refusals: inputs the relational plan silently mis-processed -----------


def _nifti(path, shape):
    import numpy as np

    from qcardia_data_spark.sources.nifti import encode_nifti1

    vol = np.random.RandomState(0).rand(*shape).astype(np.float32)
    path.write_bytes(encode_nifti1(vol, np.eye(4), compress=path.name.endswith(".gz")))


def test_reformat_refuses_two_files_of_one_subject_before_any_job(spark, tmp_path):
    import uuid

    _nifti(tmp_path / "subj0.nii", (4, 3, 2))
    _nifti(tmp_path / "subj0.nii.gz", (4, 3, 2))
    _nifti(tmp_path / "subj1.nii", (4, 3, 2))
    sc = spark.sparkContext
    group = f"refuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "reformat refusal test")
    try:
        with pytest.raises(ValueError, match=r"subj0.*subj0\.nii\.gz"):
            reformat_volumes(spark, str(tmp_path), glob="*.nii*", n_frames=2, codec="nii")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_reformat_refuses_a_volume_that_is_not_3d(spark, tmp_path):
    _nifti(tmp_path / "ok.nii", (4, 3, 2))
    _nifti(tmp_path / "four_d.nii", (4, 3, 2, 2))
    records, _ = reformat_volumes(spark, str(tmp_path), glob="*.nii", n_frames=2, codec="nii")
    with pytest.raises(Exception, match=r"four_d\.nii.*not a 3-D"):
        records.collect()


def test_reformat_refuses_a_volume_with_too_few_frames(spark, tmp_path):
    _nifti(tmp_path / "ok.nii", (4, 3, 3))
    _nifti(tmp_path / "short.nii", (4, 3, 2))
    records, _ = reformat_volumes(spark, str(tmp_path), glob="*.nii", n_frames=3, codec="nii")
    with pytest.raises(Exception, match=r"short\.nii: 2 frames, fewer than n_frames=3"):
        records.collect()


def test_reformat_refuses_codecs_without_an_array_decoder(spark, raw_dir):
    for codec in ("dcm", "avi"):
        with pytest.raises(NotImplementedError, match=codec):
            reformat_volumes(spark, raw_dir, codec=codec)
