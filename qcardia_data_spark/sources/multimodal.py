"""Multimodal columns: binary payloads with typed metadata + lazy decode
(the S2/S3 pattern generalized; SURVEY §2.14 "multimodal columns").

Design (the 100 TB shape): images/audio/video live as ``binary`` columns (or
path references into object storage) beside a typed metadata struct. Decode
/ feature-extract / resize / frame-sample are Arrow-batched ``mapInPandas``
stages that run AFTER metadata predicates — a filter on
``meta.width >= 256`` prunes files before a single byte is decoded.

Codec status: NIfTI-1 decodes FOR REAL via the pure-Python codec in
``sources/nifti.py`` (:func:`decode_nifti` below — no nibabel needed);
PNG has a pure-stdlib codec in ``sources/png.py``. Formats that genuinely
need external libraries (DICOM pixel data transfer syntaxes, ffmpeg
video) keep the clearly-marked deterministic fake in ``decode_image`` and
raise ``NotImplementedError`` at the codec boundary only. Everything
Spark-side — schemas, batch iteration, partitioning, UDF signatures — is
real and tested either way.

Reference parity: NIfTI/DICOM loading (reference ``mm1.py:47-48``,
``setup/reformat/utils.py:132-215``) is exactly this pattern: bytes →
decode → per-record arrays + affine metadata. The DICOM slice grouping
(group files by projected patient position, ``get_slices_from_positions``,
reference reformat/utils.py:218-241) is reproduced relationally in
:func:`group_slices_by_position`.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("pixels", ArrayType(FloatType())),  # flattened h*w*t
    StructField("payload_bytes", LongType()),
])


def _fake_decode(content: bytes, height: int = 8, width: int = 8, n_frames: int = 2) -> np.ndarray:
    """Deterministic fake codec: pixels derived from the payload's sha256 —
    same bytes always decode to the same "image". STUB for nibabel/pydicom/
    PIL decode; swap this single function for the real codec in production."""
    seed = int.from_bytes(hashlib.sha256(content).digest()[:8], "big") % (2**32)
    rng = np.random.RandomState(seed)
    return rng.rand(height, width, n_frames).astype(np.float32)


ARRAY_CODECS = ("nii", "png", "fake")


def decode_array(
    fmt: str, content: bytes, height: int = 8, width: int = 8, n_frames: int = 2,
) -> np.ndarray:
    """One payload → its float32 pixel array in on-disk axis order — the
    ``content → ndarray`` step shared by :func:`decode_image` and the fused
    reformat kernel (``reformat.py``).

    - ``"nii"`` → NIfTI-1 codec, (x, y, z[, t]) as stored
    - ``"png"`` → stdlib PNG codec, (h, w, channels); grayscale gets one
      channel
    - ``"fake"`` → deterministic sha256-seeded stub of shape
      (``height``, ``width``, ``n_frames``)
    """
    if fmt == "nii":
        from qcardia_data_spark.sources.nifti import decode_nifti1

        return decode_nifti1(content)[0].astype(np.float32)
    if fmt == "png":
        from qcardia_data_spark.sources.png import decode_png

        arr = decode_png(content).astype(np.float32)
        return arr[:, :, None] if arr.ndim == 2 else arr
    if fmt == "fake":
        return _fake_decode(content, height, width, n_frames)
    raise NotImplementedError(
        f"codec {fmt!r}: no array codec (supported: {', '.join(ARRAY_CODECS)})"
    )


def decode_image(fmt: str = "fake", height: int = 8, width: int = 8, n_frames: int = 2):
    """ONE decode entry point for binaryFile rows → decoded records,
    dispatching on ``fmt`` to the real pure-Python codecs:

    - ``"nii"`` → :func:`decode_nifti` (NIFTI_SCHEMA: shape + affine)
    - ``"dcm"`` → :func:`decode_dicom` (DICOM_SCHEMA: geometry tags + plane)
    - ``"png"`` → stdlib PNG codec (DECODED_SCHEMA; n_frames = channels)
    - ``"fake"`` → deterministic sha256-seeded stub (DECODED_SCHEMA) for
      plumbing tests
    - anything else raises ``NotImplementedError`` at STAGE-BUILD time (a
      missing codec should fail the plan, not the first task).

    Output schema is per-format — volumetric formats carry affine/geometry
    the flat image schema cannot. All stages are Arrow-batched mapInPandas
    after metadata predicates, so filters prune files before a byte is
    decoded.
    """
    if fmt == "nii":
        return decode_nifti
    if fmt == "dcm":
        return decode_dicom
    if fmt not in ("png", "fake"):
        raise NotImplementedError(
            f"codec {fmt!r}: no pure-Python codec available in this "
            "environment (supported: nii, dcm, png, fake)"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                arr = decode_array(fmt, bytes(content), height, width, n_frames)
                rows.append({
                    "path": path,
                    "height": arr.shape[0],
                    "width": arr.shape[1],
                    "n_frames": arr.shape[2],
                    "pixels": arr.ravel().tolist(),
                    "payload_bytes": len(content),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    def stage(binary_df: DataFrame) -> DataFrame:
        # declare needed columns explicitly → upstream column pruning stays
        # alive (the UDF cannot be introspected by Catalyst)
        return binary_df.select("path", "content").mapInPandas(decode, DECODED_SCHEMA)

    return stage


NIFTI_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("ndim", IntegerType()),
    StructField("shape", ArrayType(IntegerType())),
    StructField("affine", ArrayType(DoubleType())),  # row-major 4×4
    StructField("pixels", ArrayType(FloatType())),   # C-order flatten of (x,y,z[,t])
    StructField("payload_bytes", LongType()),
])


def decode_nifti(binary_df: DataFrame) -> DataFrame:
    """S2 volume scan with a REAL codec: binaryFile rows → decoded NIfTI-1
    volumes via the pure-Python parser (sources/nifti.py), Arrow-batched
    through mapInPandas (reference ``nib.load`` boundary, mm1.py:47-48).

    Output carries the full shape + row-major affine so F12 border crop,
    F13 orientation and F14 affine→spacing run on genuinely decoded bytes.
    Metadata predicates (on path/length) still prune before decode — keep
    them upstream of this stage."""
    from qcardia_data_spark.sources.nifti import decode_nifti1

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                vol, affine, _hdr = decode_nifti1(bytes(content))
                rows.append({
                    "path": path,
                    "ndim": vol.ndim,
                    "shape": list(vol.shape),
                    "affine": affine.ravel().tolist(),
                    "pixels": vol.ravel(order="C").astype(np.float32).tolist(),
                    "payload_bytes": len(content),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in NIFTI_SCHEMA.fields])

    return binary_df.select("path", "content").mapInPandas(decode, NIFTI_SCHEMA)


DICOM_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("series_uid", StringType()),
    StructField("instance_number", IntegerType()),
    StructField("temporal_pos", IntegerType()),
    StructField("pos_x", DoubleType()),
    StructField("pos_y", DoubleType()),
    StructField("pos_z", DoubleType()),
    StructField("orientation", ArrayType(DoubleType())),  # 6 direction cosines
    StructField("pixel_spacing", ArrayType(DoubleType())),  # (row, col) mm
    StructField("slice_thickness", DoubleType()),
    StructField("rows", IntegerType()),
    StructField("cols", IntegerType()),
    StructField("pixels", ArrayType(FloatType())),
    StructField("payload_bytes", LongType()),
])


def decode_dicom(binary_df: DataFrame) -> DataFrame:
    """S3 DICOM scan with a REAL parser: Part-10 bytes → per-file metadata
    + pixel planes via the pure-Python reader (sources/dicom.py), with the
    reference's required-tag validation applied per file — a malformed file
    fails the job loudly, naming the path (reformat/utils.py:157-168).

    Series regrouping (slice bucketing by projected position, temporal
    ordering) happens RELATIONALLY downstream via
    :func:`group_slices_by_position` + a sort on ``temporal_pos`` — the
    reference's per-folder python loops (utils.py:185-215) become window
    functions over the whole corpus at once."""
    from qcardia_data_spark.sources.dicom import (
        TAG_ORIENTATION,
        TAG_POSITION,
        TAG_SERIES_UID,
        parse_dicom,
        pixel_array,
        temporal_position,
        validate_dicom_tags,
    )
    from qcardia_data_spark.sources.dicom import TAG_INSTANCE_NUMBER as TAG_INO
    from qcardia_data_spark.sources.dicom import TAG_PIXEL_SPACING as TAG_PS
    from qcardia_data_spark.sources.dicom import TAG_SLICE_THICKNESS as TAG_ST

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                tags = parse_dicom(bytes(content))
                validate_dicom_tags(tags, source=path)
                px = pixel_array(tags)
                pos = tags[TAG_POSITION]
                rows.append({
                    "path": path,
                    "series_uid": tags[TAG_SERIES_UID],
                    "instance_number": int(tags[TAG_INO][0]),
                    "temporal_pos": temporal_position(tags),
                    "pos_x": float(pos[0]),
                    "pos_y": float(pos[1]),
                    "pos_z": float(pos[2]),
                    "orientation": [float(v) for v in tags[TAG_ORIENTATION]],
                    "pixel_spacing": [float(v) for v in tags.get(TAG_PS, [1.0, 1.0])],
                    "slice_thickness": float(tags.get(TAG_ST, [1.0])[0]),
                    "rows": px.shape[0],
                    "cols": px.shape[1],
                    "pixels": px.ravel().astype(np.float32).tolist(),
                    "payload_bytes": len(content),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in DICOM_SCHEMA.fields])

    return binary_df.select("path", "content").mapInPandas(decode, DICOM_SCHEMA)


def dicom_series_affine(decoded: DataFrame) -> DataFrame:
    """F14b — per-series NIfTI affine from DICOM geometry tags, relationally
    (reference ``get_affine_from_dicom``, reformat/utils.py:244-303; the
    standard DICOM slice-affine construction with the LPS→RAS sign flip on
    the x/y rows).

    One groupBy over the decoded frame: slice step = (last_position −
    first_position)/(n−1) for multi-slice series, cross(row_dir, col_dir) ×
    SliceThickness for single-slice ones. Pure column arithmetic — no UDF,
    one shuffle on series_uid. Input needs ``slice_nr`` (from
    :func:`group_slices_by_position`). Output: (series_uid, affine) with
    the 4×4 row-major layout ``spacing_from_affine`` consumes."""
    pos = F.struct("pos_x", "pos_y", "pos_z")
    agg = decoded.groupBy("series_uid").agg(
        F.min_by(pos, "slice_nr").alias("p0"),
        F.max_by(pos, "slice_nr").alias("p1"),
        F.countDistinct("slice_nr").alias("n_slices"),
        F.min_by("orientation", "slice_nr").alias("ori"),
        F.min_by("pixel_spacing", "slice_nr").alias("ps"),
        F.min_by("slice_thickness", "slice_nr").alias("st"),
    )
    o = lambda i: F.element_at("ori", i)  # noqa: E731  (1-based, 6 cosines)
    sp = lambda i: F.element_at("ps", i)  # noqa: E731
    cross = [  # cross(row_dir, col_dir) — the slice normal
        o(2) * o(6) - o(3) * o(5),
        o(3) * o(4) - o(1) * o(6),
        o(1) * o(5) - o(2) * o(4),
    ]
    multi = F.col("n_slices") > 1
    nm1 = (F.col("n_slices") - 1).cast("double")
    step = [
        F.when(multi, (F.col("p1.pos_x") - F.col("p0.pos_x")) / nm1).otherwise(cross[0] * F.col("st")),
        F.when(multi, (F.col("p1.pos_y") - F.col("p0.pos_y")) / nm1).otherwise(cross[1] * F.col("st")),
        F.when(multi, (F.col("p1.pos_z") - F.col("p0.pos_z")) / nm1).otherwise(cross[2] * F.col("st")),
    ]
    affine = F.array(
        -o(4) * sp(2), -o(1) * sp(1), -step[0], -F.col("p0.pos_x"),
        -o(5) * sp(2), -o(2) * sp(1), -step[1], -F.col("p0.pos_y"),
        o(6) * sp(2), o(3) * sp(1), step[2], F.col("p0.pos_z"),
        F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0),
    )
    return agg.select("series_uid", "n_slices", affine.alias("affine"))


def frame_sample(decoded: DataFrame, keep_frames: Sequence[int]) -> DataFrame:
    """Frame-sampling on the flattened pixel array WITHOUT decoding again:
    pure slicing arithmetic on (h, w, t) layout — the predicate-below-
    explode rule (SURVEY §4.1) applied to multimodal payloads."""
    h, w = F.col("height"), F.col("width")
    picks = F.array(*[F.lit(i) for i in keep_frames])
    # pixel (y, x, f) lives at index ((y*w)+x)*n_frames + f of the C-order
    # flattened array; per kept frame, gather the h*w plane
    frame_plane = lambda fr: F.transform(  # noqa: E731
        F.sequence(F.lit(0), h * w - 1),
        lambda i: F.element_at(F.col("pixels"), i * F.col("n_frames") + fr + 1),
    )
    pairs = F.transform(picks, lambda fr: F.struct(fr.alias("frame_nr"), frame_plane(fr).alias("plane")))
    out = decoded.select("path", "height", "width", F.explode(pairs).alias("pf"))
    return out.select("path", "height", "width", "pf.frame_nr", F.col("pf.plane").alias("pixels"))


def group_slices_by_position(
    files: DataFrame, pos_cols: Sequence[str], normal: Sequence[float],
    tol: float = 1e-3, series_col: str | None = None,
) -> DataFrame:
    """S3 DICOM slice grouping, relationally: project each file's patient
    position onto the stack normal, bucket by tolerance, index slices by
    descending position (reference ``get_slices_from_positions``,
    reformat/utils.py:218-241 + the descending unique sort at :235-237).

    Pass ``series_col`` (e.g. ``"series_uid"``) whenever the frame holds
    more than one series: slice numbering is per-series (matching the
    reference's per-folder loop) AND the rank window partitions by it —
    without a partition key the window is a single-task global sort, the
    one plan shape that cannot scale past one executor (same hazard class
    as the round-1 serving iterator). The unpartitioned form stays
    available for genuinely single-series frames."""
    from pyspark.sql.window import Window

    proj = sum(F.col(c) * F.lit(float(n)) for c, n in zip(pos_cols, normal))
    bucketed = files.withColumn("slice_pos", F.round(proj / tol) * tol)
    w = (
        Window.partitionBy(series_col).orderBy(F.desc("slice_pos"))
        if series_col is not None
        else Window.orderBy(F.desc("slice_pos"))
    )
    return bucketed.withColumn("slice_nr", F.dense_rank().over(w) - 1)


# ---------------------------------------------------------------------------
# Audio columns (real WAV codec) and video columns (stub codec, real
# plumbing) — the remaining multimodal modalities of SURVEY §2.14.
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_channels", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("samples", ArrayType(FloatType())),  # mono mixdown
    StructField("payload_bytes", LongType()),
])


def decode_audio(binary_df: DataFrame, target_rate: int | None = None) -> DataFrame:
    """Audio scan with a REAL codec: binaryFile rows → decoded PCM via the
    pure-stdlib WAV reader (sources/audio.py). Multi-channel audio is mixed
    down to mono (mean) — the corpus-pipeline norm; pass ``target_rate`` to
    resample on decode (one pass, no second shuffle).

    100 TB shape: identical to the image scans — Arrow-batched mapInPandas
    AFTER metadata predicates, pure map stage, no shuffle."""
    from qcardia_data_spark.sources.audio import decode_wav, resample_linear

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                samples, rate = decode_wav(bytes(content))
                mono = samples.mean(axis=1)
                if target_rate is not None and target_rate != rate:
                    mono = resample_linear(mono, rate, target_rate)
                    rate = target_rate
                rows.append({
                    "path": path,
                    "sample_rate": rate,
                    "n_channels": samples.shape[1],
                    "n_samples": len(mono),
                    "duration_s": len(mono) / rate,
                    "samples": mono.astype(np.float32).tolist(),
                    "payload_bytes": len(content),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA.fields])

    return binary_df.select("path", "content").mapInPandas(decode, AUDIO_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_start", IntegerType()),
    StructField("rms", DoubleType()),
    StructField("zcr", DoubleType()),
    StructField("spectral_centroid_hz", DoubleType()),
])


def audio_features(decoded: DataFrame, frame_len: int = 1024, hop: int = 512) -> DataFrame:
    """Windowed feature extraction over decoded audio: one row per analysis
    frame with RMS / zero-crossing rate / spectral centroid (numpy rFFT).
    The explode happens INSIDE the Arrow batch (list-of-frames per file →
    rows), so the only Spark-level cost is the map stage itself."""
    from qcardia_data_spark.sources.audio import frame_features

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, rate, samples in zip(pdf["path"], pdf["sample_rate"], pdf["samples"]):
                mono = np.asarray(samples, dtype=np.float32)
                for feat in frame_features(mono, int(rate), frame_len, hop):
                    rows.append({"path": path, **feat})
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])

    return decoded.select("path", "sample_rate", "samples").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA
    )


VIDEO_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("fps", DoubleType()),
    StructField("frame_nr", IntegerType()),
    StructField("pixels", ArrayType(FloatType())),  # one sampled frame, h*w
    StructField("payload_bytes", LongType()),
])


def decode_video_frames(
    binary_df: DataFrame, keep_frames: Sequence[int],
    height: int = 16, width: int = 16, n_frames: int = 8, fps: float = 25.0,
):
    """Video scan + frame sampling: binaryFile rows → one row per KEPT frame.

    MJPEG/AVI files get a REAL decode: the RIFF container parse
    (``sources/avi.py``) yields zero-copy per-frame JPEG slices, and only
    the frames the sampling predicate keeps ever reach the T.81 decoder
    (``sources/jpeg.py``) — the decode-after-predicate rule applied to the
    time axis, with actual DCT work behind it. Container metadata
    (height/width/n_frames/fps) comes from the stream headers, and a kept
    index past a real file's frame count refuses loudly.

    Non-AVI bytes (MP4/H.264, ffmpeg territory — inter-frame codecs are
    out of scope for a pure-Python tree) keep the deterministic
    sha256-seeded fake with the caller-supplied dims: same bytes, same
    frames, every run. Either way the stage is a shuffle-free Arrow map
    with per-frame provenance in the schema.
    """
    from qcardia_data_spark.sources.avi import decode_avi_frame, parse_avi

    keep = sorted(set(int(k) for k in keep_frames))
    if any(k < 0 for k in keep):
        raise ValueError(f"keep_frames must be >= 0, got {keep}")
    # NB: the ``n_frames`` bound applies only to the FAKE (non-AVI) path —
    # real AVI files carry their own frame count and validate per file
    # below. Checking it at build time rejected keep_frames a real file
    # could serve whenever the caller left the stub default (r12 review).

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                content = bytes(content)
                if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
                    meta = parse_avi(content)
                    bad = [k for k in keep if k >= meta["n_frames"]]
                    if bad:
                        raise ValueError(
                            f"{path}: keep_frames {bad} out of range for "
                            f"AVI with {meta['n_frames']} frames"
                        )
                    for k in keep:
                        px = decode_avi_frame(meta["frames"], k)
                        if px.ndim == 3:  # color MJPEG → luma plane
                            px = px.mean(axis=2)
                        rows.append({
                            "path": path,
                            "height": meta["height"],
                            "width": meta["width"],
                            "n_frames": meta["n_frames"],
                            "fps": meta["fps"],
                            "frame_nr": k,
                            "pixels": px.astype(np.float32).ravel().tolist(),
                            "payload_bytes": len(content),
                        })
                    continue
                bad = [k for k in keep if k >= n_frames]
                if bad:
                    raise ValueError(
                        f"{path}: keep_frames {bad} out of range for the "
                        f"stub codec's n_frames={n_frames}"
                    )
                vol = _fake_decode(content, height, width, n_frames)
                for k in keep:
                    rows.append({
                        "path": path,
                        "height": height,
                        "width": width,
                        "n_frames": n_frames,
                        "fps": fps,
                        "frame_nr": k,
                        "pixels": vol[:, :, k].ravel().tolist(),
                        "payload_bytes": len(content),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_SCHEMA.fields])

    return binary_df.select("path", "content").mapInPandas(decode, VIDEO_SCHEMA)


PHASH_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("lo", LongType()),
    StructField("hi", LongType()),
    StructField("payload_bytes", LongType()),
])


def _phash64(img: np.ndarray, hash_size: int = 8, grid: int = 32) -> int:
    """64-bit perceptual hash of one image array (any H×W[, C] uint8):
    channel-mean grayscale → equal-frequency mean-pool to ``grid``² →
    2-D DCT-II (explicit cosine matrices — no scipy dependency) →
    top-left ``hash_size``² coefficients minus DC → median threshold.
    Deterministic: pure numpy float64 with a fixed reduction layout.
    Brightness shifts land only in the DC coefficient, so the hash is
    exposure-invariant by construction (test-asserted)."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    # equal-frequency mean pooling to grid×grid (handles any H, W ≥ 1)
    ry = np.linspace(0, h, grid + 1).astype(int)
    rx = np.linspace(0, w, grid + 1).astype(int)
    pooled = np.empty((grid, grid), dtype=np.float64)
    for i in range(grid):
        y0, y1 = ry[i], max(ry[i + 1], ry[i] + 1)
        for j in range(grid):
            x0, x1 = rx[j], max(rx[j + 1], rx[j] + 1)
            pooled[i, j] = a[min(y0, h - 1):min(y1, h), min(x0, w - 1):min(x1, w)].mean()
    n = grid
    k = np.arange(hash_size)[:, None]
    x = np.arange(n)[None, :]
    dct = np.cos(np.pi / n * (x + 0.5) * k)  # DCT-II basis, first hash_size rows
    coef = dct @ pooled @ dct.T              # top-left hash_size×hash_size block
    # round-before-compare (the repo-wide determinism pattern): structured
    # or flat regions put many coefficients at analytic zero, where ulp
    # noise (e.g. a pure exposure shift leaking ~1e-12 into non-DC terms)
    # would coin-flip the > comparison
    flat = np.round(coef.ravel(), 6)
    med = np.median(flat[1:])                # exclude DC from the threshold
    bits = flat > med
    bits[0] = False                          # DC carries exposure, not structure
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v


def phash_images(binary_df: DataFrame, fmt: str = "png") -> DataFrame:
    """[ext] Perceptual-hash table for an image corpus: binaryFile rows →
    REAL decode (``png`` via the pure-Python codec; ``fake`` keeps the
    deterministic stub for container-less plumbing tests) → 64-bit pHash
    split into ``(lo, hi)`` int32-half columns — the exact signature shape
    `dedup.hamming_near_pairs64` consumes, so image near-dup search reuses
    the Manku blocking engine unchanged. Arrow-batched mapInPandas,
    decode-after-predicate (filter on path/length upstream)."""
    from qcardia_data_spark.sources.png import decode_png

    # a missing codec fails the PLAN, not the first task (the decode_image
    # stance — r12 review moved this out of the per-row loop)
    if fmt not in ("png", "fake"):
        raise NotImplementedError(
            f"phash_images: unsupported fmt {fmt!r} (png, fake)"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if fmt == "png":
                    img = decode_png(raw)
                else:
                    img = _fake_decode(raw)[:, :, 0]
                v = _phash64(img)
                rows.append({
                    "path": path,
                    "lo": v & 0xFFFFFFFF,
                    "hi": v >> 32,
                    "payload_bytes": len(raw),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA.fields])

    return binary_df.select("path", "content").mapInPandas(decode, PHASH_SCHEMA)


def image_near_dup_pairs(
    binary_df: DataFrame, fmt: str = "png", max_hamming: int = 3,
) -> DataFrame:
    """[ext] Image near-duplicate pair search: :func:`phash_images` +
    `dedup.hamming_near_pairs64` — perceptual hashing bounds candidate
    generation exactly like text SimHash (k+1-block pigeonhole, never
    all-pairs), so the image dedup path scales the same way the text one
    does. Returns distinct ``(a, b, hamming)`` with path ids."""
    from qcardia_data_spark.functions.dedup import hamming_near_pairs64

    sig = phash_images(binary_df, fmt=fmt).select(
        F.col("path"), "lo", "hi"
    ).localCheckpoint(eager=True)
    return hamming_near_pairs64(sig, "path", max_hamming=max_hamming)


AUDIO_FP_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("lo", LongType()),
    StructField("hi", LongType()),
])


def audio_fingerprints(
    decoded: DataFrame, frame_len: int = 2048, hop: int = 1024,
    n_bands: int = 65,
) -> DataFrame:
    """[ext] Haitsma-Kalker robust audio sub-fingerprints (ISMIR 2002 —
    the Philips hash), widened to 64 bits per frame: per overlapping
    window, rFFT energy in ``n_bands`` log-spaced bands; bit ``m`` of
    frame ``n`` is the sign of the TIME-AND-FREQUENCY energy difference
    ``(E[n,m]-E[n,m+1]) - (E[n-1,m]-E[n-1,m+1])``, computed over
    PER-FRAME-NORMALIZED energies (each frame's bands divided by the
    frame total): normalization makes gain invariance EXACT rather than
    sign-preserved, and — with the round-before-compare guard at 1e-6 —
    pins noise-floor bands to an exact zero so their signs cannot
    coin-flip on quantization noise (a spectrally sparse signal leaves
    most bands noise-dominated; unnormalized sign-of-difference is
    random there). Overlapping windows keep the usual robustness to
    time shifts near a hop multiple. The first frame has no predecessor
    and emits nothing (standard). Emitted as ``(lo, hi)`` 32-bit halves
    — the signature
    shape `dedup.hamming_near_pairs64` consumes, because matching must
    tolerate a few flipped bits (PCM quantization alone flips marginal
    bits), exactly as the paper matches with a bit-error-rate threshold
    rather than equality.

    Arrow-batched map over decoded audio; the per-file frame explode
    happens inside the batch. One row per (file, frame)."""

    def bands_of(n_bins: int) -> np.ndarray:
        edges = np.logspace(0, np.log10(n_bins - 1), n_bands + 1)
        edges = np.maximum.accumulate(edges.astype(int))
        # strictly increasing (log spacing collapses small-bin edges)
        for i in range(1, len(edges)):
            if edges[i] <= edges[i - 1]:
                edges[i] = edges[i - 1] + 1
        return np.minimum(edges, n_bins - 1)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, samples in zip(pdf["path"], pdf["samples"]):
                mono = np.asarray(samples, dtype=np.float64)
                n = (len(mono) - frame_len) // hop + 1 if len(mono) >= frame_len else 0
                if n < 2:
                    continue
                win = np.hanning(frame_len)
                spec = np.empty((n, n_bands), dtype=np.float64)
                edges = None
                for f in range(n):
                    seg = mono[f * hop:f * hop + frame_len] * win
                    mag = np.abs(np.fft.rfft(seg)) ** 2
                    if edges is None:
                        edges = bands_of(len(mag))
                    row = np.array([
                        mag[edges[b]:max(edges[b + 1], edges[b] + 1)].sum()
                        for b in range(n_bands)
                    ])
                    spec[f] = row / max(row.sum(), 1e-30)  # per-frame norm
                fd = np.diff(spec, axis=1) * -1.0        # E[m] - E[m+1]
                td = np.round(np.diff(fd, axis=0), 6)    # minus previous frame
                for f in range(td.shape[0]):
                    v = 0
                    for m in range(min(64, n_bands - 1)):
                        if td[f, m] > 0:
                            v |= 1 << m
                    rows.append({
                        "path": path, "frame_idx": f,
                        "lo": v & 0xFFFFFFFF, "hi": v >> 32,
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FP_SCHEMA.fields])

    return decoded.select("path", "samples").mapInPandas(extract, AUDIO_FP_SCHEMA)


def frame_signature_share_pairs(
    sig_frames: DataFrame, min_share: float = 0.35, max_hamming: int = 3,
) -> DataFrame:
    """Alignment-free near-dup over any per-frame 64-bit signature table
    ``(path, frame_idx, lo, hi)`` — the matching tail shared by the audio
    (Haitsma-Kalker) and video (per-frame pHash) paths: two files match
    when >= ``min_share`` of the smaller side's frames have a
    Hamming-<=``max_hamming`` counterpart in the other file. Frame-level
    candidates come from `dedup.hamming_near_pairs64` (Manku k+1-block
    pigeonhole — never all-pairs), so every modality's dedup shares one
    scaling argument.

    Returns distinct ``(a, b, share)`` with ``a < b`` on path."""
    from qcardia_data_spark.functions.dedup import hamming_near_pairs64

    sep = "\x1f"  # unit separator: cannot occur in a sane path
    sig = sig_frames.select(
        F.concat_ws(sep, "path", F.col("frame_idx").cast("string")).alias("_fid"),
        "lo", "hi",
    ).localCheckpoint(eager=True)
    frame_pairs = hamming_near_pairs64(sig, "_fid", max_hamming=max_hamming)
    fa = F.split(F.col("a"), sep).getItem(0)
    fb = F.split(F.col("b"), sep).getItem(0)
    cross = frame_pairs.select(fa.alias("fa"), fb.alias("fb"), "a", "b").filter(
        F.col("fa") != F.col("fb")
    )
    # orient by path so (x matches y) and (y matches x) pool per pair;
    # count MATCHED FRAMES distinctly on EACH side (several partners for
    # one frame count once), then divide the count from the side with
    # FEWER frames by that side's frame count — counting the lex-smaller
    # side while dividing by the smaller frame count let share exceed 1.0
    # whenever the lex-smaller file was the longer one (ADVICE r8)
    oriented = cross.select(
        F.least("fa", "fb").alias("pa"), F.greatest("fa", "fb").alias("pb"),
        F.when(F.col("fa") < F.col("fb"), F.col("a")).otherwise(F.col("b")).alias("_fra"),
        F.when(F.col("fa") < F.col("fb"), F.col("b")).otherwise(F.col("a")).alias("_frb"),
    )
    matched = oriented.groupBy("pa", "pb").agg(
        F.count_distinct("_fra").alias("_ma"),
        F.count_distinct("_frb").alias("_mb"),
    )
    sizes = sig_frames.groupBy("path").agg(F.count("*").alias("_n"))
    out = (
        matched
        .join(sizes.select(F.col("path").alias("pa"), F.col("_n").alias("_na")), "pa")
        .join(sizes.select(F.col("path").alias("pb"), F.col("_n").alias("_nb")), "pb")
        .select(
            F.col("pa").alias("a"), F.col("pb").alias("b"),
            (
                F.when(F.col("_na") <= F.col("_nb"), F.col("_ma"))
                .otherwise(F.col("_mb")).cast("double")
                / F.least("_na", "_nb")
            ).alias("share"),
        )
    )
    return out.filter(F.col("share") >= min_share)


def audio_near_dup_pairs(
    decoded: DataFrame, min_share: float = 0.35, max_hamming: int = 3,
    frame_len: int = 2048, hop: int = 1024,
) -> DataFrame:
    """[ext] Audio near-duplicate pair search: Haitsma-Kalker per-frame
    sub-fingerprints (:func:`audio_fingerprints`) through the shared
    :func:`frame_signature_share_pairs` matching tail."""
    fps = audio_fingerprints(decoded, frame_len=frame_len, hop=hop)
    return frame_signature_share_pairs(
        fps, min_share=min_share, max_hamming=max_hamming
    )


def video_frame_phashes(decoded_video: DataFrame) -> DataFrame:
    """Per sampled video frame: the 64-bit image pHash of the decoded
    pixels (:func:`_phash64` — same transform the still-image path uses),
    emitted in the shared ``(path, frame_idx, lo, hi)`` signature shape."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, h, w, fr, px in zip(
                pdf["path"], pdf["height"], pdf["width"],
                pdf["frame_nr"], pdf["pixels"],
            ):
                img = np.asarray(px, dtype=np.float64).reshape(int(h), int(w))
                v = _phash64(img)
                rows.append({
                    "path": path, "frame_idx": int(fr),
                    "lo": v & 0xFFFFFFFF, "hi": v >> 32,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FP_SCHEMA.fields])

    return decoded_video.select(
        "path", "height", "width", "frame_nr", "pixels"
    ).mapInPandas(extract, AUDIO_FP_SCHEMA)


def video_near_dup_pairs(
    binary_df: DataFrame, keep_frames: Sequence[int],
    min_share: float = 0.5, max_hamming: int = 3, fps: float = 25.0,
) -> DataFrame:
    """[ext] Video near-duplicate pair search: REAL MJPEG/AVI decode of
    the SAMPLED frames only (decode-after-predicate on the time axis),
    per-frame pHash, then the shared alignment-free matching tail — two
    clips match when >= ``min_share`` of the smaller side's sampled
    frames have a Hamming-<=k visual counterpart. Completes the
    per-modality dedup family (text SimHash / image pHash / audio
    Haitsma-Kalker / video frame-pHash), all on ONE Manku blocking
    engine."""
    decoded = decode_video_frames(binary_df, keep_frames, fps=fps)
    return frame_signature_share_pairs(
        video_frame_phashes(decoded),
        min_share=min_share, max_hamming=max_hamming,
    )
