"""[ext] Similarity search over embedding columns (SURVEY §2.14).

- Brute-force cosine top-k: O(N·d) scan, TakeOrderedAndProject — the exact
  baseline and the oracle-checkable path.
- LSH-bucketed ANN (random hyperplanes): deterministic hyperplane signs
  derived from xxhash64(dim, plane) — no stored model, reproducible across
  runs/retries; probe = same-bucket (+ optional multi-probe) candidates
  only. At 100 TB this turns a full-corpus scan into a bucket lookup.
- IVF-style variant: k-means-lite centroids chosen deterministically
  (keyed-rand sample), assign via min cosine distance, probe nearest cells.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qcardia_data_spark.sources import readers
from qcardia_data_spark.sources.writers import cluster_for_partitioned_write
from qcardia_data_spark.functions.arrays import (
    cosine,
    dot,
    l2_norm,
    literal_double_array,
)


def cosine_topk(
    embeddings: DataFrame, query_vec: Sequence[float], k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity against a constant query vector.

    The query is a literal array (broadcast into the plan); the scan is one
    narrow pass, and orderBy+limit compiles to per-partition heaps.
    """
    q = literal_double_array([float(x) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def hyperplane_signs(n_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic ±1 hyperplane components from md5 parity — computed
    once on the driver (hashlib md5 ≡ Spark/DuckDB md5, so any engine can
    reproduce them), embedded as plan literals. Storage-free, retry-safe."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}|{p}|{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def _dim_checked(d: Column, dim: int, where: str) -> Column:
    """Refuse-loudly guard for the sign-matrix ops: a vector whose length
    differs from the configured ``dim`` zip_with-null-pads against the
    sign rows, every dot folds to NULL, and EVERY row silently lands in
    bucket 0 — degrading the bucketed join to the O(N²) scan it exists to
    avoid (r10 review). One size comparison per row."""
    return F.when(F.size(d) == dim, d).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: vector dim "),
                F.size(d).cast("string"),
                F.lit(
                    f" != configured dim {dim} — every plane dot would "
                    "NULL-fold and all rows would silently bucket to 0; "
                    "pass the embedding's true dim"
                ),
            )
        ).cast("array<double>")
    )


def hyperplane_bucket(vec: Column, n_planes: int = 8, seed: int = 0, dim: int = 64) -> Column:
    """Random-hyperplane LSH bucket id (sign pattern of n_planes dot
    products). Sign matrices are precomputed literals — the per-row work is
    n_planes multiply-add passes with no hashing in the hot loop, and the
    same constants are reproducible in any engine (md5 parity).

    The whole sign matrix is ONE nested-array literal and the per-plane
    bits fold inside a single ``transform`` + ``aggregate`` — building the
    expression per-element (n_planes × dim ``F.lit`` calls) cost ~0.6 s of
    driver-side py4j round-trips PER CALL, which dominated every
    LSH-bucketed query's wall time at bench scale (the executors' share of
    a 2000-row bucket pass is ~10 ms). Bit-identical output: same
    index-ordered zip_with dot per plane, same >0 sign test, and
    2.0**p == 1<<p exactly for the plane counts in use."""
    signs = hyperplane_signs(n_planes, dim, seed)
    sm = literal_double_array(signs)
    d = _dim_checked(vec.cast("array<double>"), dim, "hyperplane_bucket")
    bits = F.transform(
        sm,
        lambda s, p: F.when(
            F.aggregate(
                F.zip_with(d, s, lambda x, sg: x * sg),
                F.lit(0.0),
                lambda acc, e: acc + e,
            )
            > 0,
            F.pow(F.lit(2.0), p).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, e: acc + e)


def hashed_token_buckets(toks: Column, dim: int = 64) -> Column:
    """Per-token md5 bucket ids (ONE md5 per token). Materialize the
    result behind an ``explode(array(...))`` barrier before handing it to
    :func:`hashed_embedding` — otherwise the md5 pass re-evaluates per
    output dimension (no CSE across HOF lambdas, PERF.md lesson #1)."""
    return F.transform(
        toks,
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long") % dim
        ),
    )


def hashed_embedding(buckets: Column, dim: int = 64) -> Column:
    """[ext] Deterministic HashingTF-style text embedding — the STAND-IN
    for a model-UDF encoder in plumbing tests and examples (the
    multimodal stance: stub the model, make the Spark-side schema /
    partitioning / batch shape real): the bucket-count histogram of a
    materialized :func:`hashed_token_buckets` array, as array<double>.
    The per-dim counting loop compares ints only. Pure JVM expression:
    map-only, stream-safe, identical across engines."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.size(F.filter(buckets, lambda b: b == j.cast("long"))).cast(
            "double"
        ),
    )


def multiprobe_buckets(
    vec: Column, n_planes: int = 8, seed: int = 0, dim: int = 64,
    n_flip: int = 0,
) -> Column:
    """[ext] Multi-probe LSH bucket list (Lv et al. VLDB'07): the vector's
    own bucket plus the buckets reached by flipping the ``n_flip`` LOWEST-
    MARGIN sign bits — the planes whose dot product sits closest to zero,
    i.e. where a true neighbor most plausibly landed on the other side.
    The standard recall lever that costs extra PROBES instead of a bigger
    index: no layout change, no second hash family, the probe just reads
    ``n_flip`` more bucket directories.

    Same plan-literal economics as :func:`hyperplane_bucket` (one nested
    sign-matrix literal, per-plane dots folded in one transform); the
    flip order is deterministic (|dot| ascending, plane index tiebreak),
    so probes are retry-stable. Returns an array<long> of
    ``n_flip + 1`` DISTINCT buckets, the vector's own bucket first."""
    if not 0 <= n_flip <= n_planes:
        raise ValueError(f"need 0 <= n_flip <= n_planes, got {n_flip}")
    signs = hyperplane_signs(n_planes, dim, seed)
    sm = literal_double_array(signs)
    d = _dim_checked(vec.cast("array<double>"), dim, "multiprobe_buckets")
    dots = F.transform(
        sm,
        lambda s: F.aggregate(
            F.zip_with(d, s, lambda x, sg: x * sg),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
    )
    bucket = F.aggregate(
        F.zip_with(
            dots,
            F.lit(list(range(n_planes))),
            lambda dot, p: F.when(
                dot > 0, F.pow(F.lit(2.0), p).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    if n_flip == 0:
        return F.array(bucket)
    margins = F.array_sort(
        F.zip_with(
            dots,
            F.lit(list(range(n_planes))),
            lambda dot, p: F.struct(
                F.abs(dot).alias("m"), p.cast("int").alias("p")
            ),
        )
    )
    flips = F.transform(
        F.slice(margins, 1, n_flip),
        lambda s: bucket.bitwiseXOR(F.pow(F.lit(2.0), s["p"]).cast("long")),
    )
    return F.concat(F.array(bucket), flips)


def hyperplane_bucket_py(
    vec: Sequence[float], n_planes: int = 8, seed: int = 0, dim: int = 64,
) -> int:
    """Driver-side twin of :func:`hyperplane_bucket` for a SINGLE vector
    (the query side of a probe). Bit-identical to the Spark expression:
    the per-plane dot is the same left-to-right IEEE-double fold
    (``acc = (acc + v[j]*sign)`` in element order) the ``aggregate``
    lambda performs, and the sign test / bit weights are the same. Using
    it for the query vector removes one whole Spark job (a
    ``spark.range(1)`` + collect round-trip) from every probe — the
    bucket of one vector is driver-scale work by definition.

    Non-finite/None elements are REFUSED loudly (ADVICE r15): the twin
    property only holds for finite doubles — Spark SQL sorts NaN greatest
    (``NaN > 0`` is true, so the old Spark-side path set the bit) while
    Python's ``acc > 0.0`` is False for NaN, and a None element would
    null-fold the whole dot to bucket 0 on the Spark side but raise
    TypeError here. A query vector with nan/inf/None has no meaningful
    bucket; erroring beats probing a silently different one."""
    import math

    if len(vec) != dim:
        raise ValueError(
            f"hyperplane_bucket_py: vector dim {len(vec)} != configured dim {dim}"
        )
    vals = []
    for j, x in enumerate(vec):
        f = None if x is None else float(x)
        if f is None or not math.isfinite(f):
            raise ValueError(
                f"hyperplane_bucket_py: element {j} is {x!r} — non-finite/None "
                "query vectors have no well-defined LSH bucket (Spark-side NaN "
                "semantics differ: NaN > 0 is true in SQL, false here)"
            )
        vals.append(f)
    signs = hyperplane_signs(n_planes, dim, seed)
    bucket = 0
    for p in range(n_planes):
        acc = 0.0
        row = signs[p]
        for j in range(dim):
            acc = acc + vals[j] * row[j]
        if acc > 0.0:
            bucket += 1 << p
    return bucket


def ann_lsh_topk(
    embeddings: DataFrame, query_vec: Sequence[float], k: int = 10,
    n_planes: int = 8, seed: int = 0,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's hyperplane
    bucket. Recall/eff tradeoff via n_planes; multi-probe = union of
    neighbor buckets (flip one bit) when the bucket underfills.

    At scale: persist ``bucket`` as a partition/bucketing column of the
    embedding table so a probe is a partition-pruned scan, not a full pass.
    """
    q = literal_double_array([float(x) for x in query_vec])
    bucketed = embeddings.withColumn("bucket", hyperplane_bucket(F.col(vec_col), n_planes, seed, dim))
    # query bucket computed driver-side (bit-identical fold) — saves the
    # spark.range(1)+collect job the old form paid per probe
    qb = hyperplane_bucket_py(query_vec, n_planes, seed, dim)
    # multi-probe: exact bucket + single-bit flips
    probes = [qb] + [qb ^ (1 << p) for p in range(n_planes)]
    cand = bucketed.filter(F.col("bucket").isin(probes))
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def _assign_to_centroids(embeddings: DataFrame, cents: list[list[float]], vec_col: str) -> DataFrame:
    """argmax-cosine cell assignment against a literal (broadcast) centroid
    set — one narrow map pass, no shuffle."""
    # one nested-array literal + index lambda instead of n_cells × dim
    # F.lit calls — same driver-side py4j economics as hyperplane_bucket
    cent_arr = literal_double_array([[float(x) for x in c] for c in cents])
    # dim guard (r12 review, the _dim_checked class): a vector whose
    # length differs from the centroids' zip_with-null-pads in the dot,
    # the cosine NULL-folds, and the row silently lands in an arbitrary
    # cell — refuse loudly instead
    d = _dim_checked(
        F.col(vec_col).cast("array<double>"), len(cents[0]),
        "_assign_to_centroids",
    )
    scored = F.transform(
        cent_arr,
        lambda c, i: F.struct(
            (-cosine(d, c)).alias("neg"),
            i.cast("int").alias("cell"),
        ),
    )
    return embeddings.withColumn("cell", F.array_sort(scored)[0]["cell"])


def ivf_assign(
    embeddings: DataFrame, n_cells: int = 16, seed: int = 0, n_refine: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: deterministic keyed-rand sampled seed centroids +
    ``n_refine`` Lloyd iterations (per-cell elementwise mean → reassign).

    Returns (assigned, centroids): ``assigned`` has a ``cell`` column — at
    scale you *partition the table by cell* so probes prune whole files.
    Each Lloyd round is one posexplode + groupBy shuffle over (cell, dim)
    partial means — mergeable, skew-free.
    """
    from qcardia_data_spark.operators.sorts import seeded_sample_n

    sample = (
        seeded_sample_n(embeddings.select(id_col, vec_col), id_col, n_cells, seed)
        .select(vec_col)
        .collect()
    )
    cents = [[float(x) for x in r[vec_col]] for r in sample]
    if not cents:
        raise ValueError("ivf_assign: empty embeddings input — nothing to cluster")
    # a corpus smaller than n_cells yields that many seed centroids — cap
    # the cell count (k-means k <= N) instead of IndexError-ing on the
    # empty-cell fallback below (r10 review)
    n_cells = min(int(n_cells), len(cents))

    assigned = _assign_to_centroids(embeddings, cents, vec_col)
    for _ in range(n_refine):
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            # round-9 like pq_encode's codebook means: F.avg is an
            # order-unspecified reduction, and in residual-PQ mode these
            # centroids are SUBTRACTED INTO the encoded vectors, so
            # cross-engine ulp noise would propagate into every round-6
            # distance downstream
            by_cell.setdefault(r["cell"], {})[r["dim"]] = round(r["m"], 9)
        # empty cells keep their previous centroid
        cents = [
            [by_cell[i][d] for d in sorted(by_cell[i])] if i in by_cell else cents[i]
            for i in range(n_cells)
        ]
        assigned = _assign_to_centroids(embeddings, cents, vec_col)

    centroids = embeddings.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], ["cell", "centroid"]
    )
    return assigned, centroids


def ann_ivf_topk(
    embeddings: DataFrame, query_vec, k: int = 10, n_cells: int = 16,
    n_probe: int = 4, seed: int = 0,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: score only vectors in the ``n_probe`` cells whose
    centroids are closest to the query — the classic recall/cost dial."""
    assigned, centroids = ivf_assign(
        embeddings, n_cells, seed, id_col=id_col, vec_col=vec_col
    )
    probe_cells = ivf_probe_cells(centroids, query_vec, n_probe)
    qcol = literal_double_array([float(x) for x in query_vec])
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), qcol).alias("score"))
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def ivf_write_partitioned(
    embeddings: DataFrame, path: str, n_cells: int = 16, seed: int = 0,
    n_refine: int = 1, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF index as a cell-partitioned parquet table
    (``cell=<i>/`` directories) — the 100 TB layout where a probe prunes
    whole FILES, not just rows: reading ``cell IN (probed)`` touches only
    the probed directories, verified by inputFiles in the test suite.

    Returns the centroid frame; since r8 the centroids and build params
    are ALSO persisted to the ``ivf`` manifest ``path/_meta.json`` (as
    every standing index does), so probes that only hold the path —
    :func:`ann_ivf_topk_from_meta`, the spec ``ann_probe`` op — can
    never drift from the layout they scan."""
    import json as _json

    assigned, centroids = ivf_assign(
        embeddings, n_cells, seed, n_refine, id_col=id_col, vec_col=vec_col
    )
    cluster_for_partitioned_write(assigned, "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    cents = [
        [float(x) for x in r["centroid"]]
        for r in sorted(centroids.collect(), key=lambda r: r["cell"])
    ]
    readers.commit_meta_json(embeddings.sparkSession, path, "ivf", {
        # len(cents), not the requested n_cells: ivf_assign caps the cell
        # count at the corpus size — the meta records the ACTUAL geometry
        "centroids_json": _json.dumps(cents), "n_cells": len(cents),
        "seed": int(seed), "n_refine": int(n_refine),
    })
    return centroids


def ann_ivf_topk_from_meta(
    spark, path: str, query_vec, k: int = 10, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe that needs ONLY the index path: centroids come from the
    index's own manifest, so the probe can never rank cells with a
    different clustering than the one the directories were laid out by.
    Same plan as :func:`ann_ivf_topk_pruned` (partition-filtered cell
    scan + cosine top-k)."""
    import json as _json

    meta = readers.read_meta_json(spark, path, "ivf")
    if meta is None:
        raise ValueError(
            f"ann_ivf_topk_from_meta: no _meta.json at {path!r} — not a "
            "persisted IVF index (build with ivf_write_partitioned)"
        )
    cents = _json.loads(meta["centroids_json"])
    centroids = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], ["cell", "centroid"]
    )
    return ann_ivf_topk_pruned(
        spark, path, centroids, query_vec, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def _rank_cells(cells: "list[tuple[int, list[float]]]", query_vec, n_probe: int) -> list[int]:
    """THE cell-ranking rule, shared by every IVF probe entry point
    (ivf_probe_cells / ann_ivf_topk / ann_ivfpq_topk_pruned — three
    drifted copies before r10): cosine-closest first, EQUAL cosines
    broken by ascending cell id, so every probe path selects the same
    cells for the same index. Driver-side: cells × dim floats, bounded
    index metadata."""
    import numpy as np

    q = np.asarray(list(query_vec), dtype=np.float64)
    nq = np.linalg.norm(q)

    def cos(a):
        a = np.asarray(a, dtype=np.float64)
        na = np.linalg.norm(a)
        return float(a @ q / (na * nq)) if na and nq else -1.0

    ranked = sorted(cells, key=lambda ic: (-cos(ic[1]), int(ic[0])))[:n_probe]
    return [int(ic[0]) for ic in ranked]


def ivf_probe_cells(centroids: DataFrame, query_vec, n_probe: int) -> list[int]:
    """The n_probe cells whose centroids are cosine-closest to the query
    (driver-side: centroids are index metadata, cells × dim floats)."""
    return _rank_cells(
        [(r["cell"], r["centroid"]) for r in centroids.collect()],
        query_vec, n_probe,
    )


def ann_ivf_topk_pruned(
    spark, path: str, centroids: DataFrame, query_vec, k: int = 10,
    n_probe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe against the cell-partitioned table: the ``cell IN (...)``
    filter is a PARTITION filter, so the parquet source lists only the
    probed directories — scan cost ∝ probed fraction, the property that
    makes IVF work at 100 TB (same math as :func:`ann_ivf_topk`, different
    storage layout)."""
    probe_cells = ivf_probe_cells(centroids, query_vec, n_probe)
    qcol = literal_double_array([float(x) for x in query_vec])
    cand = readers.read_pruned_partitions(spark, path, "cell", probe_cells)
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), qcol).alias("score"))
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def normalize_vectors(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Replace ``vec_col`` with its unit-length projection (zero vectors
    pass through). On the unit sphere L2 and cosine rank identically
    (||q−x||² = 2−2cosθ) — the equivalence that lets the IVF+PQ index use
    ONE metric end-to-end (cosine cell selection, L2 ADC ranking) without
    the two orderings disagreeing on unnormalized inputs.

    Determinism contract: the norm is the SEQUENTIAL left fold
    ``0.0 + x₀² + x₁² + …`` (arrays.l2_norm) — any engine replaying the
    same fold order (DuckDB: ``list_reduce`` over the squared list; a
    driver-side loop for the query vector: ``_seq_fold_normalize``) gets
    bit-identical unit vectors (verified component-for-component at
    sf0.1), where a pairwise/parallel summation (numpy ``@``, SQL
    ``sum()``) differs in ulps. Do NOT additionally quantize the
    quotients to a decimal grid: grid-valued inputs make downstream
    distance sums land on exact decimal .5 ties, where Spark's
    BigDecimal HALF_UP and other engines' float-multiply rounding
    diverge SYSTEMATICALLY (measured: ~8 flipped last digits per top-10
    at every SF with round-6 components, ~0 without). The remaining
    noise source — order-unspecified Lloyd-mean reductions — is closed
    by rounding the PQ codebook means to 9 decimals on both sides
    (pq_encode), after which ADC totals agree digit-for-digit at
    round-6.

    The norm crosses an ``explode(array(...))`` generator barrier before
    the per-element division: Catalyst collapses projections and has no
    CSE across higher-order-function lambdas, so an inlined norm would
    re-run the O(d) fold per element — O(d²)/row (PERF.md measured
    lessons #0/#1)."""
    from qcardia_data_spark.operators.joins import fresh_name

    d = F.col(vec_col).cast("array<double>")
    # fresh working name (an input column literally named _nrm collided)
    # and the original column ORDER preserved — positional consumers must
    # see the same schema in and out (r10 review)
    nrm = fresh_name("_nrm", df.columns)
    with_n = df.select(
        *df.columns, F.explode(F.array(l2_norm(d))).alias(nrm)
    )
    unit = F.when(
        F.col(nrm) > 0, F.transform(d, lambda x: x / F.col(nrm))
    ).otherwise(d)
    return with_n.select(
        *[unit.alias(vec_col) if c == vec_col else c for c in df.columns]
    )


def _seq_fold_normalize(vec) -> list[float]:
    """Driver-side unit-normalization matching :func:`normalize_vectors`
    exactly: sequential-fold norm, plain quotients (numpy's pairwise
    summation differs in ulps — enough to flip round-6 distances)."""
    xs = [float(x) for x in vec]
    acc = 0.0
    for x in xs:
        acc += x * x
    n = acc ** 0.5
    return xs if n == 0.0 else [x / n for x in xs]


def ivfpq_write_partitioned(
    embeddings: DataFrame, path: str, n_cells: int = 16,
    m: int = 8, k_codes: int = 16, seed: int = 0, n_refine: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
    normalize: bool = True, residual: bool = False,
) -> None:
    """Materialize the FAISS-style IVF+PQ index: vectors are assigned to
    IVF cells (which become parquet PARTITION directories — probes prune
    whole files) and stored as PQ codes (m small ints — candidates cost
    ~m bytes instead of d floats). The two compressions compose: IVF cuts
    which files a probe READS, PQ cuts what each candidate row COSTS —
    together they are the standard recipe for a standing billion-vector
    index, here expressed as parquet layout + plan literals.

    Index metadata (centroids + codebooks + params) is written to the
    ``ivfpq`` manifest ``path/_meta.json`` (underscore-prefixed →
    invisible to the parquet scan); the probe reads it back, so the two
    sides can never drift.
    With ``residual`` (Jégou §IV.B, the IVFADC form), PQ trains on and
    encodes the RESIDUAL vector − centroid[cell] instead of the vector:
    residuals concentrate near zero, so the same m×k code budget spends
    its resolution on a tighter distribution — measurably lower
    reconstruction error (test-asserted) and the standard recall lever
    at low m. Still one map pass (the centroid table is a plan literal
    indexed by the ``cell`` column) and one shared codebook across
    cells; the flag is persisted so the probe computes the matching
    per-cell query residuals. ``residual=False`` (default) keeps plain
    per-vector PQ — the form the sim_pq/sim_ivfpq SQL oracles replay.

    With ``normalize`` (default) vectors are projected to unit length
    before BOTH the cell assignment and the PQ training/encode, and the
    flag is recorded in the meta so the probe normalizes its query the
    same way. This keeps the index on ONE metric: cell selection by
    cosine and ADC ranking by L2 agree on the unit sphere
    (||q−x||² = 2−2cosθ), whereas on raw vectors the two orderings
    diverge and recall degrades against either metric's true top-k.
    ``normalize=False`` preserves raw-L2 ADC for corpora where magnitude
    is meaningful — then cell selection is L2-inconsistent by
    construction and documented as such."""
    import json as _json

    if normalize:
        embeddings = normalize_vectors(embeddings, vec_col)
    assigned, centroids = ivf_assign(
        embeddings, n_cells, seed, n_refine, id_col=id_col, vec_col=vec_col
    )
    cents = [
        [float(x) for x in r["centroid"]]
        for r in sorted(centroids.collect(), key=lambda r: r["cell"])
    ]
    if residual:
        pq_input = _residualize(assigned, cents, id_col, vec_col)
    else:
        pq_input = embeddings
    codes, cb = pq_encode(
        pq_input, m=m, k_codes=k_codes, seed=seed, n_refine=n_refine,
        id_col=id_col, vec_col=vec_col,
    )
    (
        cluster_for_partitioned_write(
            assigned.select(id_col, "cell").join(codes, id_col), "cell"
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    readers.commit_meta_json(embeddings.sparkSession, path, "ivfpq", {
        # actual geometry, not the requested params: ivf_assign/pq_encode
        # cap cell and code counts at the corpus size
        "centroids_json": _json.dumps(cents), "codebooks_json": _json.dumps(cb),
        "n_cells": len(cents), "m": int(m), "k_codes": len(cb[0]),
        "seed": int(seed), "n_refine": int(n_refine),
        "normalize": bool(normalize), "residual": bool(residual),
    })


def _residualize(
    assigned: DataFrame, cents: list[list[float]], id_col: str, vec_col: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """``vec − centroid[cell]`` as one map-only pass (the centroid table is
    an n_cells×d plan literal indexed by the ``cell`` column) — THE
    residual expression, shared by the index build and the append path so
    the two can never encode residuals differently (r10 review)."""
    centl = F.lit(cents)
    return assigned.select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(centl, F.col("cell") + 1),
            lambda x, c: x - c,
        ).alias(vec_col),
        *extra_cols,
    )


def ann_ivfpq_topk_pruned(
    spark, path: str, query_vec, k: int = 10, n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the persisted IVF+PQ index: pick the ``n_probe``
    cosine-closest cells from the index's own centroids (driver-side —
    metadata is n_cells × d floats, bounded), scan ONLY those cell
    directories (``cell IN (...)`` is a partition filter), and rank the
    surviving PQ codes by asymmetric distance against the index's own
    codebooks. Nothing full-precision is read from the corpus at probe
    time — the query is the only float vector in the plan.

    The index meta's ``normalize`` flag is honored: a normalized index
    gets a normalized query, so the cosine cell selection and the L2 ADC
    ranking agree (unit-sphere equivalence — see
    :func:`ivfpq_write_partitioned`)."""
    import json as _json

    import numpy as np

    meta = readers.read_meta_json(spark, path, "ivfpq")
    if meta is None:
        raise ValueError(
            f"ann_ivfpq_topk_pruned: no _meta.json at {path!r} — not a "
            "persisted IVF+PQ index (build with ivfpq_write_partitioned)"
        )
    cents = _json.loads(meta["centroids_json"])
    cb = _json.loads(meta["codebooks_json"])
    q = np.asarray(list(query_vec), dtype=np.float64)
    if meta["normalize"]:
        # sequential-fold normalize (NOT numpy @ — see _seq_fold_normalize)
        q = np.asarray(_seq_fold_normalize(q), dtype=np.float64)

    probe = _rank_cells(list(enumerate(cents)), q, n_probe)
    cand = readers.read_pruned_partitions(spark, path, "cell", probe)
    # q, not query_vec: a normalized index must see the NORMALIZED query
    # in the ADC too, or the ranking quietly reverts to the raw metric
    if meta["residual"]:
        # residual index: each candidate's codes encode vec − centroid[cell],
        # so the ADC compares against q − centroid[cell] — one residual per
        # cell, shipped as an n_cells×m×d_sub plan literal (bounded)
        return _pq_adc_topk_residual(cand, cb, q, cents, k=k, id_col=id_col)
    return pq_adc_topk(cand, cb, q, k=k, id_col=id_col)


def _pq_adc_topk_residual(
    cand: DataFrame, codebooks: list[list[list[float]]], query_vec,
    centroids: list[list[float]], k: int = 10, id_col: str = "vec_id",
) -> DataFrame:
    """ADC over a RESIDUAL-encoded index (IVFADC): candidate codes encode
    ``vec − centroid[cell]``, so the query side is the per-cell residual
    ``q − centroid[cell]``, selected by each row's ``cell`` column. Same
    map-only + TakeOrderedAndProject shape as :func:`pq_adc_topk`; the
    extra literal is n_cells × d doubles — bounded index metadata, never
    corpus-sized."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    # qres[cell][sub] = (q − centroid[cell]) sliced per subspace
    qres = [
        [
            [q[s * d_sub + t] - float(c[s * d_sub + t]) for t in range(d_sub)]
            for s in range(m)
        ]
        for c in centroids
    ]
    qarr = F.lit(qres)
    cbl = literal_double_array([[list(map(float, c)) for c in sub] for sub in codebooks])
    qcell = F.element_at(qarr, F.col("cell") + 1)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc + F.round(
            _sq_dist(
                F.element_at(qcell, s + 1),
                F.element_at(
                    F.element_at(cbl, s + 1),
                    F.element_at(F.col("codes"), s + 1) + 1,
                ),
            ),
            6,
        ),
    )
    scored = cand.select(F.col(id_col), F.round(dist, 6).alias("adist"))
    return scored.orderBy(F.col("adist").asc(), F.col(id_col)).limit(k)


def auto_n_cells(n_rows: int, target_cell: int = 4096) -> int:
    """IVF cell count for a corpus of ``n_rows``: the classic
    ``~sqrt(N)`` rule, floored so the EXPECTED cell occupancy stays at
    least ``target_cell`` (tiny corpora should not shatter into
    singleton cells — a probe that reads n_probe near-empty directories
    pays file-listing overhead for no candidate pool). At 1e9 vectors
    this gives ~31k cells ≈ sqrt(N); at the test SFs it collapses to a
    handful — the same scale-dial shape as :func:`auto_n_planes`."""
    import math

    if n_rows <= target_cell:
        return 1
    return max(1, min(int(math.isqrt(n_rows)), n_rows // target_cell))


def auto_n_planes(n_rows: int, target_bucket: int = 256) -> int:
    """Plane count for a corpus of ``n_rows``: enough hyperplanes that the
    EXPECTED bucket occupancy is ~``target_bucket`` (within-bucket pair
    work stays ~N·target instead of going quadratic). Measured at 50k
    vectors: n_planes=6 (the 2k-vector default) takes 125 s, the auto
    choice (8) lands near the 10-plane 22.6 s — planes must grow with
    log2(N), this computes exactly that."""
    import math

    if n_rows <= target_bucket:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket)))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance between two equal-length double arrays — a
    sequential left fold (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_assign(sub_rows: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Nearest-codeword assignment for (sub, sd) rows against a literal
    [m][k][d_sub] codebook — one narrow map pass, no shuffle. Distances
    are ROUNDED to 6 decimals before the argmin (code-index tie-break),
    the round-before-compare pattern that keeps iterative assignments
    bit-identical across engines (cf. text_ccnet_buckets, BM25)."""
    cbl = literal_double_array([[list(map(float, c)) for c in sub] for sub in codebooks])
    cands = F.element_at(cbl, F.col("sub") + 1)
    scored = F.transform(
        cands,
        lambda c, i: F.struct(
            F.round(_sq_dist(F.col("sd"), c), 6).alias("dist"),
            i.cast("int").alias("code"),
        ),
    )
    return sub_rows.withColumn("code", F.array_sort(scored)[0]["code"])


def pq_encode(
    embeddings: DataFrame, m: int = 8, k_codes: int = 16,
    seed: int = 0, n_refine: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """[ext] Product Quantization (Jégou et al. TPAMI 2011): split each
    d-dim vector into ``m`` subvectors, k-means each subspace to
    ``k_codes`` codewords, store each vector as ``m`` small code ints —
    float32 64-d → 8 uint8 codes is a 32× footprint cut, THE memory story
    for a standing 100 TB ANN corpus (the IVF/LSH layouts prune which
    files a probe reads; PQ shrinks what a candidate row costs).

    Deterministic end-to-end: codeword seeds are the ``k_codes``
    keyed-md5-lowest vectors (same rank for every subspace — one sample
    job), each Lloyd round is one posexplode + (sub, code, dim) groupBy of
    partial means (mergeable, skew-free; empty codes keep their previous
    codeword), assignments round distances to 6 decimals before argmin.
    Every stage is replayable in plain SQL — the sim_pq_topk oracle
    replays the FULL train→encode→ADC pipeline.

    Returns ``(codes_df, codebooks)``: ``codes_df`` is (id, codes
    array<int> ordered by subspace) and ``codebooks`` is the plain-Python
    [m][k][d_sub] table (bounded: m·k rows — ship it as a plan literal,
    the BPE-merges artifact stance).

    100 TB shape: training touches the corpus ``1 + n_refine`` narrow map
    passes + one bounded groupBy per round (m·k·d_sub cells); encoding is
    map-only against the literal codebook. No stage is ever pairwise.
    """
    from qcardia_data_spark.operators.sorts import seeded_sample_n

    first = embeddings.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError(
            "pq_encode: empty embeddings input — nothing to train on"
        )
    d = int(first[0])
    if d % m != 0:
        raise ValueError(f"pq_encode: dim {d} not divisible by m={m}")
    d_sub = d // m

    # dim guard (r12 review): a shorter vector's slices silently come up
    # short, every codeword distance NULL-folds, and the row gets
    # arbitrary codes — refuse loudly like the LSH/_assign paths
    dvec = _dim_checked(
        F.col(vec_col).cast("array<double>"), d, "pq_encode"
    )
    slices = F.array(*[
        F.slice(dvec, s * d_sub + 1, d_sub) for s in range(m)
    ])
    sub_rows = embeddings.select(
        F.col(id_col), F.posexplode(slices).alias("sub", "sd")
    )

    sample = (
        seeded_sample_n(embeddings.select(id_col, vec_col), id_col, k_codes, seed)
        .select(vec_col)
        .collect()
    )  # bounded: k_codes rows
    # a corpus smaller than k_codes yields that many seed codes — cap
    # (k-means k <= N) instead of IndexError-ing in the Lloyd refresh
    k_codes = min(int(k_codes), len(sample))
    cb = [
        [
            [float(x) for x in r[vec_col]][s * d_sub:(s + 1) * d_sub]
            for r in sample
        ]
        for s in range(m)
    ]

    assigned = _pq_assign(sub_rows, cb)
    for _ in range(n_refine):
        means = (
            assigned.select("sub", "code", F.posexplode("sd").alias("dim", "v"))
            .groupBy("sub", "code", "dim")
            .agg(F.avg("v").alias("mv"))
            .collect()
        )  # bounded: m·k_codes·d_sub rows
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            # means come from an order-unspecified reduction (F.avg) —
            # ±1e-16 ulp noise vs any other engine's avg. Round to 9
            # decimals so codebooks are BIT-IDENTICAL cross-engine (the
            # noise window at 1e-9 is ~1e-7 per value); unrounded
            # codebooks were measured flipping round-6 ADC last digits
            by_key.setdefault((r["sub"], r["code"]), {})[r["dim"]] = round(
                r["mv"], 9
            )
        cb = [
            [
                [by_key[(s, j)][t] for t in sorted(by_key[(s, j)])]
                if (s, j) in by_key else cb[s][j]
                for j in range(k_codes)
            ]
            for s in range(m)
        ]
        assigned = _pq_assign(sub_rows, cb)

    codes = assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )
    return codes, cb


def pq_encode_with_codebooks(
    embeddings: DataFrame, codebooks: list[list[list[float]]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against an EXISTING (frozen) [m][k][d_sub] codebook
    — the append path of a standing PQ index: no training jobs, one
    narrow map pass (:func:`_pq_assign`) + one per-id collect, exactly the
    encode tail of :func:`pq_encode`. New vectors get the same codes the
    original training run would have assigned them, which is what makes
    an incremental index equal to encode-everything-at-once."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    first = embeddings.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError("pq_encode_with_codebooks: empty embeddings input")
    d = int(first[0])
    if d != m * d_sub:
        raise ValueError(
            f"pq_encode_with_codebooks: dim {d} != m*d_sub = {m}*{d_sub}"
        )
    dvec = _dim_checked(
        F.col(vec_col).cast("array<double>"), d, "pq_encode_with_codebooks"
    )
    slices = F.array(*[
        F.slice(dvec, s * d_sub + 1, d_sub) for s in range(m)
    ])
    sub_rows = embeddings.select(
        F.col(id_col), F.posexplode(slices).alias("sub", "sd")
    )
    assigned = _pq_assign(sub_rows, codebooks)
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def ann_index_append(
    embeddings: DataFrame, path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> int:
    """[ext] Grow a persisted ANN index IN PLACE with a new vector batch —
    the operational sibling of the dedup signature index's append path
    (SURVEY r8 index-metadata contracts): a standing 100 TB corpus adds
    crawl batches without re-indexing, and every derived quantity comes
    from the index's OWN meta (planes / centroids / codebooks / normalize
    / residual), so an append can never bucket, assign, or encode
    differently than the original build.

    Retry-idempotent by a SAME-ID GUARD instead of a monotone-id ratchet
    (ANN rows carry no min-id-winner semantics): ids already present are
    anti-joined out before the write, and the existence check reads ONLY
    the partition directories the batch itself occupies (bucket/cell
    pruning — bounded by the batch, never the corpus). The surviving rows
    cross a localCheckpoint BEFORE the append so the lazy plan cannot
    re-read the index mid-write (the near_dedup_incremental lineage
    lesson). A crash mid-append therefore needs no recovery protocol:
    re-run the same call; written rows are guarded out, missing rows are
    written.

    Returns the number of rows appended."""
    import json as _json

    spark = embeddings.sparkSession
    meta = readers.read_meta_json(spark, path)
    kind = meta["kind"] if meta else None
    if kind not in ("lsh", "ivfpq", "ivf"):
        raise ValueError(
            f"ann_index_append: no lsh/ivfpq/ivf _meta.json under {path!r} "
            "— not a persisted ANN index"
        )

    if kind == "lsh":
        n_planes, seed = int(meta["n_planes"]), int(meta["seed"])
        dim = int(meta["dim"])
        rows = embeddings.select(F.col(id_col), F.col(vec_col)).withColumn(
            "bucket", hyperplane_bucket(F.col(vec_col), n_planes, seed, dim)
        )
        part_col = "bucket"
    else:
        cents = _json.loads(meta["centroids_json"]) if kind == "ivfpq" else [
            [float(x) for x in c] for c in _json.loads(meta["centroids_json"])
        ]
        if kind == "ivfpq":
            if meta["normalize"]:
                embeddings = normalize_vectors(embeddings, vec_col)
            assigned = _assign_to_centroids(embeddings, cents, vec_col).select(
                id_col, vec_col, "cell"
            )
            cb = _json.loads(meta["codebooks_json"])
            if meta["residual"]:
                pq_input = _residualize(
                    assigned, cents, id_col, vec_col, extra_cols=("cell",)
                )
            else:
                pq_input = assigned
            codes = pq_encode_with_codebooks(
                pq_input.select(id_col, vec_col), cb,
                id_col=id_col, vec_col=vec_col,
            )
            rows = assigned.select(id_col, "cell").join(codes, id_col)
        else:  # plain ivf: writer keeps EVERY input column — match it
            rows = _assign_to_centroids(embeddings, cents, vec_col)
        part_col = "cell"

    parts = [r[part_col] for r in rows.select(part_col).distinct().collect()]
    existing = readers.read_pruned_partitions(
        spark, path, part_col, parts
    ).select(id_col)
    fresh = rows.join(existing, id_col, "left_anti").localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        # expects a many-valued bucket column ("bucket"/"cell"): a
        # few-valued part_col would serialize this write onto few tasks
        cluster_for_partitioned_write(fresh, part_col).write.mode(
            "append"
        ).partitionBy(part_col).parquet(path)
    return n


def pq_adc_topk(
    codes: DataFrame, codebooks: list[list[list[float]]],
    query_vec: Sequence[float], k: int = 10, id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays
    full-precision, each candidate costs ``m`` codebook lookups + adds — no
    decompression, no original vectors read. The per-subspace distances
    are rounded to 6 decimals (matching the encode-side rounding) and the
    TOTAL is rounded before the order-by, so the ranking is cross-engine
    stable. Map-only + TakeOrderedAndProject."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    q_slices = [q[s * d_sub:(s + 1) * d_sub] for s in range(m)]
    qarr = F.lit(q_slices)
    cbl = literal_double_array([[list(map(float, c)) for c in sub] for sub in codebooks])
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc + F.round(
            _sq_dist(
                F.element_at(qarr, s + 1),
                F.element_at(F.element_at(cbl, s + 1), F.element_at(F.col("codes"), s + 1) + 1),
            ),
            6,
        ),
    )
    scored = codes.select(F.col(id_col), F.round(dist, 6).alias("adist"))
    return scored.orderBy(F.col("adist").asc(), F.col(id_col)).limit(k)


def pairwise_topk_join(
    left: DataFrame, right: DataFrame, k: int = 5,
    id_left: str = "a", id_right: str = "b", vec_col: str = "embedding",
    n_planes: "int | str" = 6, seed: int = 0,
    max_bucket_size: int | None = None, extra_planes: int = 4,
    dim: int = 64, exclude_self: bool = True,
) -> DataFrame:
    """All-pairs ANN join: bucket both sides on hyperplane signature, join
    within buckets, keep top-k matches per left row. The join shuffles
    O(N) bucket-tagged rows, never the O(N²) cross product.

    Hot-bucket guard (``max_bucket_size``, mirrors
    :func:`~qcardia_data_spark.functions.dedup.lsh_candidate_pairs`): with
    2^n_planes buckets, a skewed embedding distribution — or simply
    N/2^n_planes occupancy at corpus scale — makes the within-bucket join
    quadratic. Buckets whose RIGHT side exceeds the cap are handled in two
    stages:

    1. AND-compose ``extra_planes`` more hyperplanes (independent seed) on
       BOTH sides of hot buckets only — subdivides each hot bucket up to
       2^extra_planes ways while near-identical vectors still co-bucket.
    2. Backstop cap: subdivision cannot split *identical* vectors (equal
       sign pattern on every plane), so each still-hot (bucket, sub) group
       keeps only ``max_bucket_size`` right rows, chosen by deterministic
       keyed hash (unbiased, retry-stable). Each left row is then scored
       against at most ``max_bucket_size`` candidates.

    The backstop LOSES candidates by construction (a capped group's dropped
    rows are never scored) — for identical/near-identical vectors the kept
    sample is interchangeable with the dropped rows, so top-k *quality* is
    preserved, but specific ids can differ from the uncapped join. Run
    :func:`oversized_ann_buckets` alongside to log exactly which buckets the
    cap touched. With no bucket over the cap the output is identical to the
    unguarded join.

    ``n_planes="auto"`` sizes the plane count to the RIGHT side's row
    count via :func:`auto_n_planes` (one count() job) — the knob that must
    grow with log2(N) at corpus scale.

    ``exclude_self`` (default True) drops pairs whose LEFT and RIGHT id
    VALUES coincide — correct for self-joins; set False when joining two
    DIFFERENT corpora whose id spaces overlap (query 5 vs doc 5 is a
    legitimate pair there — r10 review). ``dim`` must match the
    embeddings' length (checked loudly per row).
    """
    from pyspark.sql.window import Window

    if n_planes == "auto":
        n_planes = auto_n_planes(right.count())

    # Per-SIDE norms are computed once per row before the join (O(N) folds)
    # so the per-PAIR work is a single dot fold — vs evaluating full
    # cosine() per pair, which re-folds both norms O(pairs) times. Same
    # doubles (identical expression on identical arrays), ~3× less
    # higher-order-function work in the pair stage.
    # The bucket is materialized through an ``explode(array(...))``
    # generator barrier (the :func:`shingle_rows` idiom): joining on a
    # PROJECTED bucket column lets Catalyst infer ``isnotnull(bucket)`` and
    # push the whole sign-matrix fold into every downstream Filter — the
    # expression then appears (and evaluates) once per Filter AND once per
    # Project, per subtree copy (~2 KB of plan text and a full fold per row
    # each). Behind the barrier the join-key null filter applies to the
    # generated attribute instead, so each side computes its bucket exactly
    # once and the plan carries one fold per scan. Same rows either way: a
    # null bucket (impossible for a dim-checked vector) never survives the
    # equi-join in either form.
    def _bucketed(df: DataFrame, id_col: str, vcol: str, n_pl: int, sd: int) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.col(vec_col).alias(vcol),
            F.explode(
                F.array(hyperplane_bucket(F.col(vec_col), n_pl, sd, dim))
            ).alias("bucket"),
        ).withColumn(f"_n{vcol[-1]}", l2_norm(F.col(vcol)))

    lb = _bucketed(left, id_left, "_vl", n_planes, seed)
    rb = _bucketed(right, id_right, "_vr", n_planes, seed)
    if max_bucket_size is not None:
        # NOTE: the bucketed right side is deliberately NOT materialized
        # here: composed queries embed several pairwise joins plus
        # invariant branches in ONE plan and rely on Catalyst's
        # ReusedExchange across those references — a checkpoint (eager or
        # lazy) splits the plan and was measured NET-SLOWER end-to-end
        # (4.7 s vs 2.7 s on sim_ann_join) despite faster isolated stages.
        # Callers running the join repeatedly should persist the bucketed
        # inputs themselves.
        hot = (
            rb.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("bucket", F.lit(1).alias("_h"))
        )
        # hot-bucket list is tiny (≤ 2^n_planes rows) — broadcast it as ONE
        # indicator left-join per side instead of the r15 anti+semi pair:
        # the anti/semi form embedded each side's scan+bucket subtree TWICE
        # and the hot-agg subtree FOUR times (8 scans, a 72 KB formatted
        # plan whose per-repeat Catalyst analysis was ~1 s of the bench
        # wall — guide §7.3 "very large plans spend minutes in the
        # optimizer", measured here at seconds scale). The indicator join
        # keeps the LEFT side to a single subtree (sub assigned by CASE on
        # the indicator) and the right side to two (the cap window must not
        # drag COLD rows through a sort — windowing the union would add a
        # full exchange+sort of every right row, a real regression at
        # scale). Same rows: cold ⇔ indicator null ⇔ sub = -1, hot rows
        # get the identical subdivision planes and cap ranking as before.
        def tag(df: DataFrame) -> DataFrame:
            return df.join(F.broadcast(hot), "bucket", "left")

        # the sub assignments sit behind the same generator barrier as the
        # bucket (the join on sub would otherwise inline the CASE + fold
        # into every inferred isnotnull filter)
        lb = tag(lb).select(
            "*",
            F.explode(
                F.array(
                    F.when(
                        F.col("_h").isNotNull(),
                        hyperplane_bucket(
                            F.col("_vl"), extra_planes, seed + 1_000_003, dim
                        ),
                    ).otherwise(F.lit(-1).cast("long"))
                )
            ).alias("sub"),
        ).drop("_h")
        rt = tag(rb)
        r_cold = rt.filter(F.col("_h").isNull()).withColumn(
            "sub", F.lit(-1).cast("long")
        ).drop("_h")
        r_hot = rt.filter(F.col("_h").isNotNull()).select(
            "*",
            F.explode(
                F.array(
                    hyperplane_bucket(
                        F.col("_vr"), extra_planes, seed + 1_000_003, dim
                    )
                )
            ).alias("sub"),
        ).drop("_h")
        # backstop: subdivision cannot split identical vectors — cap each
        # still-hot (bucket, sub) group by deterministic keyed hash
        cap_w = Window.partitionBy("bucket", "sub").orderBy(
            F.md5(F.concat_ws("|", F.lit(seed), F.col(id_right)))
        )
        r_hot = (
            r_hot.withColumn("_cap_rn", F.row_number().over(cap_w))
            .filter(F.col("_cap_rn") <= max_bucket_size)
            .drop("_cap_rn")
        )
        rb = r_cold.unionByName(r_hot)
        joined = lb.join(rb, ["bucket", "sub"])
    else:
        joined = lb.join(rb, "bucket")
    if exclude_self:
        joined = joined.filter(F.col(id_left) != F.col(id_right))
    return _topk_pair_scores(joined, id_left, id_right, k)


def _topk_pair_scores(
    joined: DataFrame, id_left: str, id_right: str, k: int
) -> DataFrame:
    """Scoring tail shared by :func:`pairwise_topk_join` and
    :func:`pairwise_topk_join_pruned` (``joined`` carries _vl/_vr/_nl/_nr).

    Scores in a stage that is (a) hash-partitioned on id_left — exactly
    the distribution the top-k window needs, so no extra exchange — and
    (b) NOT AQE-coalesced: at modest pair counts AQE shrinks the join's
    output to 1-2 partitions and the dot folds would run serially (an
    explicit-numPartitions repartition is exempt from coalescing). The
    explode(array(...)) generator barrier keeps the dot evaluation AFTER
    the exchange instead of being projected into the (coalesced) join
    stage's shuffle-write side."""
    from pyspark.sql.window import Window

    n_parts = int(
        joined.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    scored = (
        joined.repartition(n_parts, F.col(id_left))
        .select(
            id_left, id_right, "_nl", "_nr",
            F.explode(F.array(dot(F.col("_vl"), F.col("_vr")))).alias("_dot"),
        )
        .select(
            id_left, id_right,
            # zero-norm guard, matching arrays.cosine (r12 review): the
            # raw quotient is NaN for a zero vector and NaN sorts FIRST
            # under desc — one zero embedding would top every left row's
            # list. Score -1.0 instead (ranks last).
            F.when(
                F.col("_nl") * F.col("_nr") > 0,
                F.col("_dot") / (F.col("_nl") * F.col("_nr")),
            ).otherwise(F.lit(-1.0)).alias("score"),
        )
    )
    w = Window.partitionBy(id_left).orderBy(F.desc("score"), F.col(id_right))
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def lsh_write_partitioned(
    embeddings: DataFrame, path: str, n_planes: int = 6, seed: int = 0,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> None:
    """Materialize an embedding table as a hyperplane-bucket-partitioned
    parquet table (``bucket=<i>/`` directories, one per LSH signature) —
    the persisted RIGHT side for :func:`pairwise_topk_join_pruned`. Same
    100 TB layout as :func:`ivf_write_partitioned`: a probe batch prunes
    whole FILES (reads only the bucket directories its own signatures
    occupy), verified by the test suite.

    The (n_planes, seed, dim) the buckets were derived from are written to
    the ``lsh`` manifest ``path/_meta.json`` (underscore-prefixed →
    invisible to the parquet scan), and the probe reads it back — the two
    sides can never drift."""
    rb = embeddings.select(F.col(id_col), F.col(vec_col)).withColumn(
        "bucket", hyperplane_bucket(F.col(vec_col), n_planes, seed, dim)
    )
    cluster_for_partitioned_write(rb, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)
    readers.commit_meta_json(
        embeddings.sparkSession, path, "lsh",
        {"n_planes": int(n_planes), "seed": int(seed), "dim": int(dim)},
    )


def pairwise_topk_join_pruned(
    left: DataFrame, path: str, k: int = 5,
    id_left: str = "a", id_right: str = "vec_id", vec_col: str = "embedding",
    n_flip: int = 0, exclude_self: bool = True,
) -> DataFrame:
    """ANN join of a probe batch against the persisted LSH table: the
    batch is bucketed with the table's OWN (n_planes, seed) from its
    manifest, and the table scan carries a
    ``bucket IN (batch's buckets)`` PARTITION filter — only the occupied
    bucket directories are listed and read, scan cost ∝ probed fraction
    (the property that makes a standing ANN index work at 100 TB; the
    in-memory :func:`pairwise_topk_join` re-buckets the full right side
    every run). Bucket list is collected driver-side — bounded by
    2^n_planes, never by corpus size. Same output as the unguarded
    in-memory join for identical inputs and parameters.

    ``n_flip`` (r8): multi-probe LSH — each probe row ALSO visits the
    buckets reached by flipping its ``n_flip`` lowest-margin sign bits
    (:func:`multiprobe_buckets`), trading ``n_flip`` extra bucket-
    directory reads for recall. Per-left top-k scores are pointwise ≥
    the single-probe run's (candidate sets only grow); (left, right)
    candidate pairs stay unique because each right row lives in exactly
    one bucket."""
    spark = left.sparkSession
    meta = readers.read_meta_json(spark, path, "lsh")
    if meta is None:
        raise ValueError(
            f"pairwise_topk_join_pruned: no _meta.json at {path!r} — not a "
            "persisted LSH index (build with lsh_write_partitioned)"
        )
    n_planes, seed, dim = int(meta["n_planes"]), int(meta["seed"]), int(meta["dim"])
    lb = left.select(F.col(id_left), F.col(vec_col).alias("_vl")).withColumn(
        "bucket",
        F.explode(
            multiprobe_buckets(F.col("_vl"), n_planes, seed, dim, n_flip=n_flip)
        ),
    ).withColumn("_nl", l2_norm(F.col("_vl")))
    probe = [
        r["bucket"] for r in lb.select("bucket").distinct().collect()
    ]  # bounded: ≤ 2^n_planes rows
    rb = (
        readers.read_pruned_partitions(spark, path, "bucket", probe)
        .select(
            "bucket", F.col(id_right), F.col(vec_col).alias("_vr")
        )
        .withColumn("_nr", l2_norm(F.col("_vr")))
    )
    joined = lb.join(rb, "bucket")
    if exclude_self:
        joined = joined.filter(F.col(id_left) != F.col(id_right))
    return _topk_pair_scores(joined, id_left, id_right, k)


def oversized_ann_buckets(
    right: DataFrame, max_bucket_size: int, vec_col: str = "embedding",
    n_planes: int = 6, seed: int = 0, extra_planes: int = 4, dim: int = 64,
) -> DataFrame:
    """Audit companion to :func:`pairwise_topk_join`'s hot-bucket guard:
    (bucket, sub, bucket_n, rows_capped) for every subdivided group the
    backstop cap would truncate — log this instead of truncating silently
    (rows_capped = candidates each left row in that group will never see)."""
    rb = right.withColumn("bucket", hyperplane_bucket(F.col(vec_col), n_planes, seed, dim))
    hot = (
        rb.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select("bucket")
    )
    sub = hyperplane_bucket(F.col(vec_col), extra_planes, seed + 1_000_003, dim)
    groups = (
        rb.join(F.broadcast(hot), "bucket")
        .withColumn("sub", sub)
        .groupBy("bucket", "sub")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
    )
    return groups.withColumn(
        "rows_capped", (F.col("bucket_n") - F.lit(max_bucket_size)).cast("long")
    )


def random_projection(
    embeddings: DataFrame, out_dim: int = 16, seed: int = 0,
    vec_col: str = "embedding", out: str = "projected", dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    ±1 sign matrix (Achlioptas 2003: Rademacher entries preserve pairwise
    distances with the same JL guarantee as Gaussians):

        y_j = (1/sqrt(out_dim)) · Σ_i x_i · s_{j,i},   s ∈ {±1} from
        md5 parity (the same engine-agnostic derivation as
        :func:`hyperplane_signs`, so any SQL engine replays the matrix).

    The pipeline use is the step BEFORE similarity search at scale:
    project 64-d → 16-d once (4× less vector IO and 4× cheaper dot
    products for brute-force/IVF/LSH stages) at a bounded distortion.
    One nested-array plan literal, one narrow map pass, no shuffle."""
    signs = hyperplane_signs(out_dim, dim, seed)
    sm = literal_double_array(signs)
    d = F.col(vec_col).cast("array<double>")
    inv = 1.0 / (out_dim ** 0.5)
    proj = F.transform(
        sm,
        lambda s: F.aggregate(
            F.zip_with(d, s, lambda x, sg: x * sg),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        * F.lit(inv),
    )
    return embeddings.withColumn(out, proj)


def diversity_sample(
    emb: DataFrame,
    n_per_bucket: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 0,
    dim: int = 64,
) -> DataFrame:
    """[ext] Representation-space diversity sampling: cap every
    hyperplane-LSH bucket at ``n_per_bucket`` members chosen by keyed-md5
    rank. Dense regions of embedding space are downsampled, sparse regions
    survive whole — the density-pruning step of SemDeDup/D4-style corpus
    curation, with NO pairwise stage (bucket assignment is map-only).

    Returns the sampled rows with their ``bucket`` attached (audit
    column). Deterministic per (seed, id): retry-safe and cross-engine
    replayable.

    100 TB shape: one map-only bucket pass + one rank window PER BUCKET
    (2^n_planes independent partitions — parallel, never global). A
    pathologically dense bucket ranks inside one partition: raise
    ``n_planes`` to subdivide before sampling (same knob as the ANN
    hot-bucket guard).
    """
    from pyspark.sql.window import Window

    b = emb.withColumn(
        "bucket", hyperplane_bucket(F.col(vec_col), n_planes, seed, dim)
    )
    rnd = F.md5(
        F.concat_ws("|", F.lit(str(seed)), F.lit("divsamp"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("bucket").orderBy(rnd, id_col)
    return (
        b.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_bucket)
        .drop("_rn")
    )
