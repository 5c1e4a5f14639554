"""Config-driven pipeline facade — the reference's ``DataModule`` lifecycle
re-expressed on Spark (SURVEY §3.1 stages 1-8).

Reference flow (``src/qcardia_data/pipeline/data_module.py``):
``DataModule(config)`` → ``setup()`` (resolve split, fingerprint, cache,
build transforms, route files, compute weights) → ``train_dataloader()``.

Engine flow: ``DataModule(spark, config)`` → ``setup()`` (compile source
pipeline, materialize to a fingerprint-keyed parquet cache, resolve the
subject-level split, route records) → ``frame("train")`` (filtered, weighted
lazy DataFrame — the serving surface; iterate with ``toLocalIterator`` or
feed ``foreachBatch``).

Config keys::

    sf_dir: str                  # catalog root for table sources
    cache_root: str              # where materialized caches live
    pipeline: [ ...spec ops... ] # the heavy build (SPEC_DIALECT.md)
    subject_col: str             # group-level split key
    split: {valid_fraction: float, seed: any}  # or {assignments: {subject: split}}
    weight_cols: [str]           # inverse-frequency weighting strata
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qcardia_data_spark.operators.aggregates import group_weights_window
from qcardia_data_spark.operators.windows import seeded_split
from qcardia_data_spark.plans.cache import materialize, read_cache, route_splits
from qcardia_data_spark.plans.spec import compile_pipeline


class DataModule:
    def __init__(self, spark: SparkSession, config: dict):
        self.spark = spark
        self.config = config
        self._routed: DataFrame | None = None
        self.cache_path: str | None = None
        self.was_built: bool | None = None

    # -- lifecycle ---------------------------------------------------------
    def setup(self) -> "DataModule":
        cfg = self.config
        self.cache_path, self.was_built = materialize(
            self.spark,
            build=lambda: compile_pipeline(self.spark, cfg["pipeline"], cfg.get("sf_dir")),
            cache_root=cfg["cache_root"],
            # cache identity = pipeline AND the data directory it compiles
            # against — without sf_dir the same pipeline at two scales
            # collided on one cache path and silently served the other's
            # data (the spec-level "cache" op fixed this in r10; r11
            # review found the DataModule twin)
            spec={"pipeline": cfg["pipeline"], "sf_dir": cfg.get("sf_dir")},
        )
        records = read_cache(self.spark, self.cache_path)
        assignment = self._resolve_split(records)
        self._routed = route_splits(records, assignment, on=[cfg["subject_col"]])
        return self

    def _resolve_split(self, records: DataFrame) -> DataFrame:
        """Subject-level split: explicit assignment table when provided
        (reference data_split.py:43-49 honors split files), else the seeded
        shuffle split over *distinct subjects* (data_split.py:73-84)."""
        cfg = self.config
        subject = cfg["subject_col"]
        split_cfg = cfg.get("split", {})
        if "assignments" in split_cfg:
            rows = [(k, v) for k, v in split_cfg["assignments"].items()]
            return self.spark.createDataFrame(rows, [subject, "split"])
        subjects = records.select(subject).distinct()
        return seeded_split(
            subjects, subject,
            float(split_cfg.get("valid_fraction", 0.2)),
            split_cfg.get("seed", 0),
        )

    # -- serving -----------------------------------------------------------
    def frame(self, split: str) -> DataFrame:
        """Lazy, filtered, weighted record frame for one split (the
        dataloader analog; weights = inverse group frequency over
        ``weight_cols``, reference pipeline/utils.py:88-135)."""
        if self._routed is None:
            raise RuntimeError("call setup() first")
        out = self._routed.filter(F.col("split") == split)
        weight_cols = self.config.get("weight_cols")
        if weight_cols:
            out = group_weights_window(out, weight_cols)
        return out

    def iter_pandas_batches(
        self, split: str, batch_size: int = 128, shuffle_seed=None, epoch: int = 0,
        mode: str = "per_batch",
    ):
        """Serving iterator — the ``DataLoader`` analog (reference
        data_module.py:101-166): yields pandas batches of the split's
        records, optionally shuffled by a seeded, epoch-dependent key
        (same (seed, epoch) ⇒ same order; new epoch ⇒ new permutation —
        what the reference's per-epoch DataLoader shuffle provides).

        Batches come from the global numbering built by ``_numbered_frame``:
        one range exchange, one checkpointed copy of the records, numbers
        bit-identical to ``row_number() OVER (ORDER BY ...)``. The batch
        count is known on the driver from the per-partition counts, so no
        job computes it. At cluster scale the same frame feeds
        ``foreachBatch`` / a Volcano-style reader instead; the batch
        assignment logic is identical.

        ``mode`` picks the driver-side fetch strategy (identical batches
        either way):

        - ``"per_batch"`` (default): one Spark job per batch — a filter on
          ``_batch`` over the checkpointed frame; its ≤ ``batch_size`` rows
          are put in ``_rn`` order in pandas. Random access, cheap
          restarts, right for interactive stepping.
        - ``"stream"``: ONE pass via ``toLocalIterator`` over the numbered
          frame, cut every ``batch_size`` rows, with no sort: range
          partitions hold ascending key ranges and each is sorted, so
          partition order is already ``_rn`` order. Partitions stream to
          the driver with prefetch, one Spark job per partition instead of
          one per batch — right for long epochs.
        """
        import pandas as pd

        if mode not in ("per_batch", "stream"):
            raise ValueError(f"mode must be 'per_batch' or 'stream', got {mode!r}")
        ranked, numbered, n_rows = self._numbered_frame(split, batch_size, shuffle_seed, epoch)
        try:
            if mode == "stream":
                records = numbered.drop("_rn", "_batch")
                rows = records.toLocalIterator(prefetchPartitions=True)
                while chunk := list(itertools.islice(rows, batch_size)):
                    yield pd.DataFrame([r.asDict() for r in chunk], columns=records.columns)
                return
            for b in range(-(-n_rows // batch_size)):
                pdf = numbered.filter(F.col("_batch") == b).toPandas()
                yield pdf.sort_values("_rn").drop(columns=["_rn", "_batch"]).reset_index(drop=True)
        finally:
            release_checkpoint(ranked)

    def _order_key(self, df: DataFrame, shuffle_seed, epoch) -> list:
        """The serving order: the subject alone, or with a seed a keyed hash
        of (seed, epoch, every record column) followed by those columns."""
        from qcardia_data_spark.operators.windows import keyed_rand

        subject = self.config["subject_col"]
        if shuffle_seed is None:
            return [F.col(subject)]
        # hash key = subject + EVERY simple-typed column: the old
        # (subject, first-column) pair tied whenever several records
        # shared it, and tie order fell back to partition-internal
        # arrival order — breaking the (seed, epoch) ⇒ same-order
        # contract (r11 review). Complex payloads (array/struct/map/
        # binary) enter the key through a cheap JVM xxhash64 digest
        # rather than the md5 string path (ADVICE r11: rows identical
        # in every scalar can still differ in a payload column, and
        # their placement across a batch boundary must not depend on
        # arrival order). Map-bearing types go through to_json first
        # — Spark's hash family refuses MapType directly.
        complex_prefixes = ("array", "struct", "map", "binary")
        key_cols = [F.col(subject)]
        for c, t in df.dtypes:
            if c in (subject, "split"):
                continue
            if not t.startswith(complex_prefixes):
                key_cols.append(F.col(c))
            elif "map<" in t:
                key_cols.append(F.xxhash64(F.to_json(F.col(c))))
            else:
                key_cols.append(F.xxhash64(F.col(c)))
        return [keyed_rand(f"{shuffle_seed}|{epoch}", *key_cols)] + key_cols

    def _ranked_frame(self, split, shuffle_seed, epoch) -> DataFrame:
        """The split's records range-partitioned on the serving order and
        sorted within each partition — the serving path's one exchange of
        the records — plus ``_pid`` (the range partition) and ``_mid`` =
        ``monotonically_increasing_id()``. Lazy; exposed for plan-property
        tests."""
        df = self.frame(split)
        order = self._order_key(df, shuffle_seed, epoch)
        n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return (
            df.repartitionByRange(n_parts, *order)
            .sortWithinPartitions(*order)
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_mid", F.monotonically_increasing_id())
        )

    def _numbered_frame(self, split, batch_size, shuffle_seed, epoch):
        """Number the split's records in global order-key order.

        ``_ranked_frame`` is local-checkpointed: the only stored copy of the
        records, with a one-node lineage, so each batch query plans in
        milliseconds. Losing a block fails loudly rather than recomputing
        ``_pid``/``_mid`` under a possibly different range split. The low
        33 bits of ``_mid`` are the row's position inside its sorted
        partition (the ``zipWithIndex`` trick). One ``groupBy(_pid).count()``
        — which also fills the checkpoint — brings ``n_partitions`` rows to
        the driver, which turns them into partition offsets. ``_rn`` =
        offset[``_pid``] + local position + 1 and ``_batch`` = (``_rn`` − 1)
        div ``batch_size`` are then a narrow projection: no window, no join,
        no second copy. Range partitions hold contiguous, ascending key
        ranges, so ``_rn`` equals ``row_number() OVER (ORDER BY ...)``. Both
        are ``long``: a split may hold more than 2³¹ − 1 records.

        Returns ``(ranked, numbered, n_rows)``: the checkpointed frame (the
        caller frees it with ``release_checkpoint``), the numbered
        projection (payload columns, ``_rn``, ``_batch``) and the row count.
        """
        ranked = self._ranked_frame(split, shuffle_seed, epoch).localCheckpoint(eager=False)
        try:
            offsets, n_rows = partition_offsets(dict(ranked.groupBy("_pid").count().collect()))
        except BaseException:
            release_checkpoint(ranked)
            raise
        offset = F.element_at(
            F.array(*[F.lit(o).cast("long") for o in offsets or [0]]), F.col("_pid") + 1
        )
        local = F.col("_mid") - F.shiftleft(F.col("_pid").cast("long"), 33)
        numbered = (
            ranked.withColumn("_rn", offset + local + 1)
            .withColumn("_batch", F.expr(f"(_rn - 1) div {int(batch_size)}"))
            .drop("_pid", "_mid")
        )
        return ranked, numbered, n_rows

    def summary(self) -> DataFrame:
        """Files & subjects per split (reference ``print_dataset_summary``,
        pipeline/utils.py:74-83)."""
        if self._routed is None:
            raise RuntimeError("call setup() first")
        return self._routed.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct(self.config["subject_col"]).alias("n_subjects"),
        )


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a ``localCheckpoint`` frame; ``unpersist``
    does not reach them (they belong to the frame's ``LogicalRDD``)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def partition_offsets(counts: dict[int, int]) -> tuple[list[int], int]:
    """Rows before each partition ``0..max(counts)`` and the total, from
    per-partition row counts; empty partitions may be missing from
    ``counts``."""
    offsets, total = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(total)
        total += counts.get(pid, 0)
    return offsets, total
