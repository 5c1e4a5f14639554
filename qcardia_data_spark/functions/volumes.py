"""Volume/mask operations from the reformat stage (SURVEY §2.9 F12/F15,
§2.4 A6/A7) — the numeric core of ``reformat_sa_cine_scans`` and
``get_ed_es_idxs`` (reference ``setup/reformat/utils.py:18-113``).

Relational where possible (mask volumes, ED/ES selection), numpy-UDF where
genuinely array-geometric (border crop), always with explicit outputs — the
crop returns its bounds so downstream consumers (and inverses) see them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window


def mask_volume(arr: Column) -> Column:
    """A7 on arrays — count of nonzero elements (annotated-pixel volume,
    reference reformat/utils.py:101: ``np.sum(gt[..., idx])`` analog)."""
    return F.aggregate(
        arr, F.lit(0), lambda acc, e: acc + F.when(e != 0, F.lit(1)).otherwise(F.lit(0))
    )


def annotated_frames(df: DataFrame, volume_col: str = "volume") -> DataFrame:
    """Frames with any annotation (nonzero mask), reference
    reformat/utils.py:96-99."""
    return df.filter(F.col(volume_col) > 0)


def ed_es_selection(
    df: DataFrame, subject: str, frame: str, volume: str = "volume",
) -> DataFrame:
    """A6 — ED = annotated frame with the LARGEST mask volume, ES = the
    SMALLEST (reference ``get_ed_es_idxs``, reformat/utils.py:91-113).
    Deterministic under ties: lower frame number wins (the reference takes
    the first argmax/argmin, np.argmax semantics)."""
    ann = annotated_frames(df, volume)
    w_max = Window.partitionBy(subject).orderBy(F.desc(volume), F.col(frame))
    w_min = Window.partitionBy(subject).orderBy(F.col(volume), F.col(frame))
    ranked = ann.withColumn("_rmax", F.row_number().over(w_max)).withColumn(
        "_rmin", F.row_number().over(w_min)
    )
    ed = ranked.filter(F.col("_rmax") == 1).select(subject, F.col(frame).alias("ed_frame"))
    es = ranked.filter(F.col("_rmin") == 1).select(subject, F.col(frame).alias("es_frame"))
    return ed.join(es, subject)


CROP_SCHEMA = StructType([
    StructField("pixels", ArrayType(FloatType())),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("y0", IntegerType()),
    StructField("x0", IntegerType()),
])


def crop_borders(img: np.ndarray) -> tuple[np.ndarray, int, int]:
    """F12's numpy core: trim all-zero borders of a 2-D plane via
    any-nonzero row/col extents. Returns ``(cropped, y0, x0)``; a fully
    empty plane is kept whole at offset (0, 0)."""
    ys = np.flatnonzero(img.any(axis=1))
    if len(ys) == 0:
        return img, 0, 0
    xs = np.flatnonzero(img.any(axis=0))
    y0, x0 = int(ys[0]), int(xs[0])
    return img[y0 : int(ys[-1]) + 1, x0 : int(xs[-1]) + 1], y0, x0


def border_crop_udf():
    """F12 — trim all-zero image borders via any-nonzero row/col extents
    (reference ``reformat_sa_cine_scans``, reformat/utils.py:46-54).
    Returns the cropped plane plus its offset (explicit provenance)."""

    @F.pandas_udf(CROP_SCHEMA)
    def crop(pixels: pd.Series, h: pd.Series, w: pd.Series) -> pd.DataFrame:
        out = {k: [] for k in ("pixels", "height", "width", "y0", "x0")}
        for px, hh, ww in zip(pixels, h, w):
            img = np.asarray(px, dtype=np.float32).reshape(int(hh), int(ww))
            cropped, y0, x0 = crop_borders(img)
            out["pixels"].append(cropped.ravel().tolist())
            out["height"].append(cropped.shape[0])
            out["width"].append(cropped.shape[1])
            out["y0"].append(y0)
            out["x0"].append(x0)
        return pd.DataFrame(out)

    return crop


def stack_ed_es(df: DataFrame, subject: str, frame: str, pixels: str = "pixels") -> DataFrame:
    """F15 — collect the ED and ES planes of each subject into a 2-element
    array column (the reference stacks ED+ES masks into a 4-D tensor,
    reformat/utils.py:38-44). Requires ``ed_frame``/``es_frame`` columns."""
    tagged = df.withColumn(
        "_phase",
        F.when(F.col(frame) == F.col("ed_frame"), F.lit("ed"))
        .when(F.col(frame) == F.col("es_frame"), F.lit("es")),
    ).filter(F.col("_phase").isNotNull())
    return tagged.groupBy(subject).agg(
        F.max(F.when(F.col("_phase") == "ed", F.col(pixels))).alias("ed_pixels"),
        F.max(F.when(F.col("_phase") == "es", F.col(pixels))).alias("es_pixels"),
    )


def spacing_from_affine(affine_flat: Column) -> Column:
    """F14 — voxel spacing = column norms of the affine's 3×3 block
    (``affine_to_spacing``, reference reformat/utils.py:11-15; MONAI does
    the same math). Input: row-major 4×4 affine as array<double>."""
    def col_norm(j: int) -> Column:
        return F.sqrt(
            sum(
                F.element_at(affine_flat, i * 4 + j + 1) ** 2 for i in range(3)
            )
        )

    return F.array(col_norm(0), col_norm(1), col_norm(2))


def ensure_4d_shape(shape: Column) -> Column:
    """F1 — canonical-rank shape normalization as a METADATA op (reference
    ``Ensure4Dd``, transforms/utils.py:9-33 unsqueezes to a fixed layout):
    right-pad the shape array with 1s to rank 4. The pixel buffer is
    untouched — C-order flattening is invariant under trailing singleton
    axes, so this is free at any scale."""
    pad = F.array_repeat(F.lit(1), 4 - F.size(shape))
    return F.when(F.size(shape) >= 4, shape).otherwise(F.concat(shape, pad))


def permute_axes_udf():
    """F21 — axis permutation of a flattened C-order volume (reference
    moves depth↔batch around model calls, data_predictor.py:228,235).
    Arrow-batched pandas UDF: reshape → transpose → ravel per record; the
    permutation vector is a per-row column so mixed layouts batch fine."""

    @F.pandas_udf(StructType([
        StructField("pixels", ArrayType(FloatType())),
        StructField("shape", ArrayType(IntegerType())),
    ]))
    def permute(pixels: pd.Series, shape: pd.Series, perm: pd.Series) -> pd.DataFrame:
        out = {"pixels": [], "shape": []}
        for px, sh, pm in zip(pixels, shape, perm):
            vol = np.asarray(px, dtype=np.float32).reshape([int(s) for s in sh])
            t = vol.transpose([int(p) for p in pm])
            out["pixels"].append(np.ascontiguousarray(t).ravel().tolist())
            out["shape"].append(list(t.shape))
        return pd.DataFrame(out)

    return permute
