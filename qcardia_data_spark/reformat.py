"""Raw → reformatted ETL — the ``setup_cine`` lifecycle (SURVEY §3.2) as a
distributed Spark pipeline.

Reference flow (``src/qcardia_data/setup/reformat/mm1.py:29-80`` — a SERIAL
per-subject tqdm loop; SURVEY §3.2 calls this "the motivating gap"):
per subject: load volume → orientation fix → border crop → ED/ES detection
→ write normalized volume + metadata row.

Engine flow: ``binaryFile`` scan (one task per file-partition) → ONE fused
``mapInArrow`` kernel per file → a narrow JVM projection → parquet records
+ metadata table. The reference chain is per-file and embarrassingly
parallel, so the kernel runs all of it on one decoded volume: decode once,
take the kept frames, mask volumes, ED/ES, border crop. The plan has no
exchange, no window and no join. Idempotence comes from the cache layer
(C1/C2): the whole reformat is ``materialize()``-wrapped, so a completed
run is a no-op and a crashed run is repaired.

The relational operators the kernel fuses (``frame_sample``,
``mask_volume``, ``ed_es_selection``, ``border_crop_udf``) stay public for
ad-hoc use; the kernel shares the codecs (``decode_array``) and the crop
core (``crop_borders``) with them and must give the same rows.

Inputs the kernel cannot reformat correctly are refused, naming them:
two files mapping to one subject (on the driver, before any job runs), a
volume that is not 3-D (x, y, t), and a volume with fewer than
``n_frames`` frames (in the task decoding it).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, FloatType, IntegerType, StringType, StructField, StructType

from qcardia_data_spark.functions.arrays import file_id
from qcardia_data_spark.functions.volumes import crop_borders
from qcardia_data_spark.sources.multimodal import ARRAY_CODECS, decode_array
from qcardia_data_spark.sources.readers import binary_file_scan

#: subject = first dot-free run of the file name (``subj0.nii.gz`` → ``subj0``)
_SUBJECT_RE = r"([^.]+)"

#: the kernel's rows: one per (file, kept frame)
FRAME_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_nr", IntegerType(), False),
    StructField("volume", IntegerType()),
    StructField("pixels", ArrayType(FloatType())),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("y0", IntegerType()),
    StructField("x0", IntegerType()),
    StructField("ed_frame", IntegerType()),
    StructField("es_frame", IntegerType()),
])
_FRAME_ARROW = to_arrow_schema(FRAME_SCHEMA)


def _subject_of(path: str) -> str:
    """Driver-side twin of the records' ``subject`` expression."""
    m = re.search(_SUBJECT_RE, path.rsplit("/", 1)[-1])
    return m.group(1) if m else ""


def reformat_frames(path: str, vol: np.ndarray, n_frames: int) -> pa.RecordBatch:
    """One decoded (x, y, t) volume → its ``FRAME_SCHEMA`` batch: frames
    ``0..n_frames-1``, each with its mask volume, border crop and the
    file's ED/ES frames.

    ``volume`` counts pixels above 0.6 compared in float64, as Spark
    compares a float column with a double literal; a NaN pixel is kept in
    ``pixels`` and does not count. ED is the annotated frame (volume > 0)
    with the largest volume, ES the one with the smallest; the lower frame
    wins a tie; both are null when no frame is annotated."""
    if vol.ndim != 3:
        raise ValueError(f"{path}: volume of shape {vol.shape} is not a 3-D (x, y, t) cine")
    if vol.shape[2] < n_frames:
        raise ValueError(f"{path}: {vol.shape[2]} frames, fewer than n_frames={n_frames}")
    planes = np.moveaxis(vol[:, :, :n_frames], 2, 0)  # (t, x, y) view
    # label analog: the thresholded plane stands in for the segmentation
    # channel, giving nonempty masks whose volume varies per frame
    volume = np.count_nonzero(planes.astype(np.float64) > 0.6, axis=(1, 2)).astype(np.int32)
    annotated = np.flatnonzero(volume > 0)
    ed = es = None
    if annotated.size:
        ed = int(annotated[np.argmax(volume[annotated])])
        es = int(annotated[np.argmin(volume[annotated])])

    crops = [crop_borders(p) for p in planes]
    values = np.concatenate([c.ravel() for c, _, _ in crops]) if crops else np.empty(0, np.float32)
    offsets = np.cumsum([0] + [c.size for c, _, _ in crops], dtype=np.int32)
    return pa.RecordBatch.from_pydict({
        "path": [path] * n_frames,
        "frame_nr": np.arange(n_frames, dtype=np.int32),
        "volume": volume,
        "pixels": pa.ListArray.from_arrays(offsets, values, type=_FRAME_ARROW.field("pixels").type),
        "height": [c.shape[0] for c, _, _ in crops],
        "width": [c.shape[1] for c, _, _ in crops],
        "y0": [y0 for _, y0, _ in crops],
        "x0": [x0 for _, _, x0 in crops],
        "ed_frame": [ed] * n_frames,
        "es_frame": [es] * n_frames,
    }, schema=_FRAME_ARROW)


def _refuse_shared_subjects(blobs: DataFrame) -> None:
    """Two files of one subject would share ED/ES and ``file_id``s."""
    by_subject: dict[str, list[str]] = {}
    for f in blobs.inputFiles():
        by_subject.setdefault(_subject_of(f), []).append(f)
    shared = {s: sorted(fs) for s, fs in by_subject.items() if len(fs) > 1}
    if shared:
        raise ValueError(f"several files map to one subject: {shared}")


def reformat_volumes(
    spark: SparkSession,
    raw_dir: str,
    glob: str = "*.bin",
    dataset: str = "ds",
    height: int = 8,
    width: int = 8,
    n_frames: int = 4,
    codec: str = "fake",
) -> tuple[DataFrame, DataFrame]:
    """Returns (records, subject_metadata).

    records: one row per (subject, frame) — cropped plane + provenance,
    ED/ES frames and ``file_id``. Built by one ``mapInArrow`` kernel per
    file (:func:`reformat_frames`, one Arrow batch per file so a worker
    holds one volume) and a JVM projection deriving ``subject``,
    ``is_ed``/``is_es`` and ``file_id``; writing it is one Spark job.
    subject_metadata: one row per subject — ED/ES frames + frame count
    (the reformatted-CSV analog, reference mm1.py:72-75).

    ``codec`` is ``"nii"`` (REAL NIfTI-1 bytes, last axis the frame axis —
    the reference's (x, y, t) cine layout, mm1.py:47-48; ``height``/
    ``width`` then come from the decoded shape), ``"png"`` (channels as
    frames) or ``"fake"`` (``height`` × ``width`` × ``n_frames`` stub).
    Any other codec, ``"dcm"`` included, raises ``NotImplementedError``
    here. Raises ``ValueError`` here when two files map to one subject
    (e.g. ``s.nii`` beside ``s.nii.gz``), and fails the job naming the file
    for a volume that is not 3-D or has fewer than ``n_frames`` frames.
    """
    if codec not in ARRAY_CODECS:
        raise NotImplementedError(
            f"reformat codec {codec!r}: supported are {', '.join(ARRAY_CODECS)}"
        )
    blobs = binary_file_scan(spark, raw_dir, glob=glob)
    _refuse_shared_subjects(blobs)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for path, content in zip(batch.column("path").to_pylist(),
                                     batch.column("content").to_pylist()):
                vol = decode_array(codec, content, height, width, n_frames)
                yield reformat_frames(path, vol, n_frames)

    frames = blobs.select("path", "content").mapInArrow(kernel, FRAME_SCHEMA)
    subject = F.regexp_extract(F.element_at(F.split("path", "/"), -1), _SUBJECT_RE, 1)
    records = frames.select(
        subject.alias("subject"),
        "frame_nr", "volume", "pixels", "height", "width", "y0", "x0", "ed_frame", "es_frame",
        (F.col("frame_nr") == F.col("ed_frame")).alias("is_ed"),
        (F.col("frame_nr") == F.col("es_frame")).alias("is_es"),
    ).withColumn(
        "file_id",
        file_id(F.lit(dataset), F.col("subject"), F.lit(None).cast("int"), F.col("frame_nr")),
    )

    metadata = (
        records.groupBy("subject")
        .agg(
            F.count(F.lit(1)).alias("total_nr_frames"),
            F.max("ed_frame").alias("ED"),
            F.max("es_frame").alias("ES"),
            F.sum("volume").alias("total_mask_volume"),
        )
        .withColumn("dataset", F.lit(dataset))
    )
    return records, metadata
