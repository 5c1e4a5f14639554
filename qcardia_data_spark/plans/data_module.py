"""Config-driven pipeline facade — the reference's ``DataModule`` lifecycle
re-expressed on Spark (SURVEY §3.1 stages 1-8).

Reference flow (``src/qcardia_data/pipeline/data_module.py``):
``DataModule(config)`` → ``setup()`` (resolve split, fingerprint, cache,
build transforms, route files, compute weights) → ``train_dataloader()``.

Engine flow: ``DataModule(spark, config)`` → ``setup()`` (compile source
pipeline, materialize to a fingerprint-keyed parquet cache, then one action
that resolves the subject-level split and counts the records of every
subject × weight group) → ``frame("train")`` (a narrow projection of the
cached records: subject filter, split, counts and weights as literals) →
``iter_pandas_batches("train", ...)`` (the split's one payload exchange, a
range shuffle on the serving order, streamed to the driver one Spark job
per wave of range partitions and cut into pandas batches there).

Config keys::

    sf_dir: str                  # catalog root for table sources
    cache_root: str              # where materialized caches live
    pipeline: [ ...spec ops... ] # the heavy build (SPEC_DIALECT.md)
    subject_col: str             # group-level split key
    split: {valid_fraction: float, seed: any}  # or {assignments: {subject: split}}
    weight_cols: [str]           # inverse-frequency weighting strata
"""

from __future__ import annotations

import operator
from collections import Counter
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from qcardia_data_spark.operators.joins import fresh_name
from qcardia_data_spark.operators.windows import seeded_split
from qcardia_data_spark.plans.cache import materialize, read_cache, route_splits
from qcardia_data_spark.plans.spec import compile_pipeline

# Spark groups every NaN together, Python keys a NaN by its identity: each
# NaN weight value is mapped to this one object to make it one group
_NAN = float("nan")


class DataModule:
    def __init__(self, spark: SparkSession, config: dict):
        self.spark = spark
        self.config = config
        self._records: DataFrame | None = None
        # (subject, *weight values, n_records, split) per subject × weight group
        self._groups: list | None = None
        self.cache_path: str | None = None
        self.was_built: bool | None = None

    # -- lifecycle ---------------------------------------------------------
    def setup(self) -> "DataModule":
        """Materialize the cache, then resolve the split and the weight
        counts once, in one action: the records grouped by subject and
        weight columns, counted and routed through the split assignment,
        collected as a subjects × weight groups table. Every later
        ``frame``, ``summary`` and epoch reads that table instead of
        resolving the split again. Raises ``ValueError`` when records
        belong to no split."""
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
        subject = cfg["subject_col"]
        n = fresh_name("_n", records.columns)
        counts = records.groupBy(subject, *self._weight_cols).agg(F.count(F.lit(1)).alias(n))
        routed = route_splits(counts, self._resolve_split(records), on=[subject],
                              fail_on_orphans=False)
        groups = [tuple(r) for r in
                  routed.select(subject, *self._weight_cols, n, "split").collect()]
        n_orphans = sum(g[-2] for g in groups if g[-1] is None)
        if n_orphans:
            raise ValueError(f"{n_orphans} records belong to no split")
        self._records, self._groups = records, groups
        return self

    @property
    def _weight_cols(self) -> list:
        return list(self.config.get("weight_cols") or [])

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
        ``weight_cols``, reference pipeline/utils.py:88-135).

        A narrow projection of the cached records — no join, window or
        aggregate: an ``isin`` over the split's subjects (which the parquet
        scan can use), ``split`` as a literal and, with ``weight_cols``,
        ``cnt`` (records of the row's weight group in the split) and
        ``weight`` (split total / ``cnt``) as literals keyed by weight
        group, a null value being a group of its own. Columns:
        ``[subject, other record columns…, split, cnt, weight]``."""
        if self._groups is None:
            raise RuntimeError("call setup() first")
        groups = [g for g in self._groups if g[-1] == split]
        records, subject = self._records, self.config["subject_col"]
        out = records.filter(F.col(subject).isin(list(dict.fromkeys(g[0] for g in groups))))
        cols = [subject, *[c for c in records.columns if c != subject],
                F.lit(split).alias("split")]
        weight_cols = self._weight_cols
        if weight_cols:
            per_group = Counter()
            for g in groups:
                per_group[tuple(_NAN if v != v else v for v in g[1:-2])] += g[-2]
            total = sum(per_group.values())
            types = [records.schema[c].dataType for c in weight_cols]
            cnt = {k: F.lit(v).cast("bigint") for k, v in per_group.items()}
            weight = {k: F.lit(total / v) for k, v in per_group.items()}
            cols += [_by_group(weight_cols, types, cnt, "bigint").alias("cnt"),
                     _by_group(weight_cols, types, weight, "double").alias("weight")]
        return out.select(*cols)

    def iter_pandas_batches(
        self, split: str, batch_size: int = 128, shuffle_seed=None, epoch: int = 0,
    ):
        """Serving iterator — the ``DataLoader`` analog (reference
        data_module.py:101-166): yields pandas batches of ``batch_size``
        records of the split (the last may be shorter), optionally shuffled
        by a seeded, epoch-dependent key (same (seed, epoch) ⇒ same order;
        new epoch ⇒ new permutation — what the reference's per-epoch
        DataLoader shuffle provides).

        One path: ``_ranked_frame`` — the payload's one exchange, since
        ``frame`` is a narrow projection — streams to the driver as Arrow
        record batches, one Spark job per wave of ``defaultParallelism``
        range partitions (all tasks of a wave run at once), and batches
        are cut from that stream on the driver. Range partitions hold
        ascending key ranges and each is sorted, so partition order is the
        global serving order: no numbering, no stored copy beyond the
        shuffle output, and each range partition is read once per epoch. A
        batch inside a wave already on the driver launches no job; the
        next wave's job starts when the first batch that needs one of its
        rows is asked for.

        Driver memory: one wave — at most ``defaultParallelism`` range
        partitions as Arrow bytes — in the JVM, read by Python one Arrow
        batch at a time, plus fewer than ``batch_size`` carried rows. A
        wave is ``defaultParallelism / spark.sql.shuffle.partitions`` of
        the split: with no more shuffle partitions than cores the whole
        split is one wave, collected to the driver JVM (a wave larger than
        ``spark.driver.maxResultSize`` fails its job); a larger
        ``spark.sql.shuffle.partitions`` makes each wave smaller. Each
        batch equals ``toPandas()`` of its rows in names, dtypes and values.

        Each wave's job runs in the consumer's thread, so it carries the
        job group set when the batch that started it was asked for, and
        an error in a wave is raised in the consumer. Closing the
        generator early closes the wave's socket; no job is in flight.
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
        pipeline/utils.py:74-83), from the table ``setup`` collected."""
        if self._groups is None:
            raise RuntimeError("call setup() first")
        n_records, subjects = Counter(), {}
        for g in self._groups:
            n_records[g[-1]] += g[-2]
            subjects.setdefault(g[-1], set()).add(g[0])
        return self.spark.createDataFrame(
            [(s, n_records[s], len(subjects[s])) for s in sorted(n_records)],
            "split string, n_records bigint, n_subjects bigint")


def _by_group(cols: list, types: list, values: dict, dtype: str) -> Column:
    """``values[group]`` for the row's weight group, a group being the
    tuple of ``cols`` values (null-safe: a null is a group value too)."""
    if not values:
        return F.lit(None).cast(dtype)
    *keyed, (_, out) = values.items()
    for key, value in keyed:
        match = reduce(operator.and_, [
            F.col(c).eqNullSafe(F.lit(v).cast(t)) for c, t, v in zip(cols, types, key)])
        out = F.when(match, value).otherwise(out)
    return out


def _arrow_pandas_batches(df: DataFrame, batch_size: int):
    """``df`` in partition order as pandas frames of ``batch_size`` rows
    (the last may be shorter), each converted as ``toPandas`` converts.

    Every private PySpark call of the serving path is here: the JVM's
    ``toArrowBatchRdd`` run one job per wave of ``defaultParallelism``
    partitions by ``PythonRDD.runJob`` (the call behind ``sc.runJob``),
    read back over its local socket one Arrow batch at a time, and
    ``toPandas``'s own Arrow schema and per-column converters. A wave's
    job runs in the consumer's thread when the consumer first asks for a
    row of that wave, so it carries the consumer's job group and its
    error reaches the consumer. Until its rows are read, a wave is held in
    the driver JVM (the job's result); Python holds one Arrow batch and
    fewer than ``batch_size`` carried rows.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema
    from pyspark.util import _create_local_socket

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

    sc = spark.sparkContext
    jrdd = df._jdf.toArrowBatchRdd().toJavaRDD()
    n_parts, width = jrdd.getNumPartitions(), sc.defaultParallelism
    carry, n_carry = [], 0  # < batch_size rows, copied out of their Arrow batch
    for first in range(0, n_parts, width):
        wave = list(range(first, min(first + width, n_parts)))
        # the socket is read lazily and closed with the generator, which
        # lets the JVM drop the rest of the wave
        sockfile = _create_local_socket(sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, wave))
        with sockfile:
            for msg in NoOpSerializer().load_stream(sockfile):
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
    if carry:
        yield to_pandas(carry)
