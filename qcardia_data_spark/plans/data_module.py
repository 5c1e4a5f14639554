"""Config-driven pipeline facade — the reference's ``DataModule`` lifecycle
re-expressed on Spark (SURVEY §3.1 stages 1-8).

Reference flow (``src/qcardia_data/pipeline/data_module.py``):
``DataModule(config)`` → ``setup()`` (resolve split, fingerprint, cache,
build transforms, route files, compute weights) → ``train_dataloader()``.

Engine flow: ``DataModule(spark, config)`` → ``setup()`` (compile source
pipeline, materialize to a fingerprint-keyed parquet cache, resolve the
subject-level split, route records) → ``frame("train")`` (filtered, weighted
lazy DataFrame) → ``iter_pandas_batches("train", ...)`` (the split streamed to
the driver in serving order, one Spark job per range partition, cut into
pandas batches there).

Config keys::

    sf_dir: str                  # catalog root for table sources
    cache_root: str              # where materialized caches live
    pipeline: [ ...spec ops... ] # the heavy build (SPEC_DIALECT.md)
    subject_col: str             # group-level split key
    split: {valid_fraction: float, seed: any}  # or {assignments: {subject: split}}
    weight_cols: [str]           # inverse-frequency weighting strata
"""

from __future__ import annotations

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
    ):
        """Serving iterator — the ``DataLoader`` analog (reference
        data_module.py:101-166): yields pandas batches of ``batch_size``
        records of the split (the last may be shorter), optionally shuffled
        by a seeded, epoch-dependent key (same (seed, epoch) ⇒ same order;
        new epoch ⇒ new permutation — what the reference's per-epoch
        DataLoader shuffle provides).

        One path: ``_ranked_frame`` streams to the driver as Arrow record
        batches, one Spark job per range partition with the next partition
        prefetched, and batches are cut from that stream on the driver.
        Range partitions hold ascending key ranges and each is sorted, so
        partition order is the global serving order: no numbering, no
        stored copy beyond the shuffle output, and each range partition is
        read once per epoch. A batch inside a partition already on the
        driver launches no job. Driver memory: at most 2 range partitions
        in the JVM (current and prefetched); in Python one Arrow batch plus
        fewer than ``batch_size`` carried rows. Each batch equals
        ``toPandas()`` of its rows in names, dtypes and values.

        The epoch's Spark jobs all carry the job group that was set when
        the first batch was requested: the JVM thread serving the
        partitions inherits it. Closing the generator early tells that
        thread to stop; a partition already prefetched is discarded.
        """
        if batch_size < 1:
            raise ValueError(f"batch_size must be at least 1, got {batch_size}")
        yield from _arrow_pandas_batches(self._ranked_frame(split, shuffle_seed, epoch), batch_size)

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
        the records. Lazy; exposed for plan-property tests."""
        df = self.frame(split)
        order = self._order_key(df, shuffle_seed, epoch)
        n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return df.repartitionByRange(n_parts, *order).sortWithinPartitions(*order)

    def summary(self) -> DataFrame:
        """Files & subjects per split (reference ``print_dataset_summary``,
        pipeline/utils.py:74-83)."""
        if self._routed is None:
            raise RuntimeError("call setup() first")
        return self._routed.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct(self.config["subject_col"]).alias("n_subjects"),
        )


def _arrow_pandas_batches(df: DataFrame, batch_size: int):
    """``df`` in partition order as pandas frames of ``batch_size`` rows
    (the last may be shorter), each converted as ``toPandas`` converts.

    Every private PySpark call of the serving path is here: the JVM's
    ``toArrowBatchRdd`` served one partition per job, with prefetch,
    by ``toLocalIteratorAndServe`` (the call behind ``toLocalIterator``),
    and ``toPandas``'s own Arrow schema and per-column converters.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema
    from pyspark.util import _local_iterator_from_socket

    spark, fields = df.sparkSession, df.schema.fields
    jconf = spark._jconf
    struct_in_pandas = jconf.pandasStructHandlingMode()
    legacy = struct_in_pandas == "legacy"
    converters = [
        _create_converter_to_pandas(
            f.dataType, f.nullable, timezone=jconf.sessionLocalTimeZone(),
            struct_in_pandas="dict" if legacy else struct_in_pandas,
            error_on_duplicated_field_names=legacy,
        )
        for f in fields
    ]
    schema = to_arrow_schema(df.schema, prefers_large_types=jconf.arrowUseLargeVarTypes())
    # Arrow-to-pandas needs unique names; a frame may repeat one
    positional = [f"col_{i}" for i in range(len(fields))]

    def to_pandas(pieces):
        pdf = pa.Table.from_batches(pieces, schema).rename_columns(positional).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True)
        pdf.columns = [f.name for f in fields]
        return pd.concat(
            [conv(col) for conv, (_, col) in zip(converters, pdf.items())], axis="columns")

    sock = spark.sparkContext._jvm.PythonRDD.toLocalIteratorAndServe(
        df._jdf.toArrowBatchRdd(), True)
    carry, n_carry = [], 0  # < batch_size rows, copied out of their Arrow batch
    messages = _local_iterator_from_socket(sock, NoOpSerializer())
    try:
        for msg in messages:
            rb = pa.ipc.read_record_batch(pa.py_buffer(msg), schema)
            start = 0
            while n_carry + rb.num_rows - start >= batch_size:
                take = batch_size - n_carry
                yield to_pandas(carry + [rb.slice(start, take)])
                carry, n_carry, start = [], 0, start + take
            if start < rb.num_rows:
                tail = rb.slice(start)
                carry.append(pa.RecordBatch.from_arrays(
                    [pa.concat_arrays([c]) for c in tail.columns], schema=schema))
                n_carry += tail.num_rows
    finally:
        # frees the socket reader, which tells the JVM to stop serving
        messages.close()
    if carry:
        yield to_pandas(carry)
