"""Readers (S1-S5).

- S1 CSV metadata scan: subject CSVs with string-typed ids (the reference
  forces ``SubjectID`` to str, ``utils.py:132-133`` — numeric-looking ids
  like "001" must not collapse to 1).
- S2/S3 binary scans: ``binaryFile`` datasource — (path, length, content)
  rows; decoding is a separate lazy stage (sources.multimodal).
- S4 cached-record scan: plain parquet (plans.cache.read_cache).
- S5 YAML/JSON spec scan: driver-side, tiny, feeds the spec compiler.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def csv_metadata_scan(
    spark: SparkSession, path: str, string_cols: Sequence[str] = ("SubjectID",),
) -> DataFrame:
    """S1 — header CSV with schema inference EXCEPT ``string_cols``, which
    are read as string FROM THE SOURCE (reference reads with
    ``dtype={'SubjectID': str}``). Casting after inference would destroy
    leading zeros ("001" → 1 → "1"); instead the inferred schema is patched
    and the file re-read, so "001" survives intact."""
    from pyspark.sql.types import StringType, StructField, StructType

    inferred = spark.read.option("header", True).option("inferSchema", True).csv(path).schema
    patched = StructType([
        StructField(f.name, StringType() if f.name in set(string_cols) else f.dataType,
                    f.nullable)
        for f in inferred
    ])
    return spark.read.option("header", True).schema(patched).csv(path)


def binary_file_scan(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S2/S3 — binary payload scan: one row per file with (path,
    modificationTime, length, content). ``pathGlobFilter`` prunes at listing
    time — files that don't match are never opened."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def spec_scan(path: str) -> dict:
    """S5 — driver-side spec file load (YAML if available, else JSON).
    Mirrors ``load_yaml_config`` (reference utils.py:122-129)."""
    text = open(path).read()
    try:
        import yaml  # optional dep

        return yaml.safe_load(text)
    except ImportError:
        return json.loads(text)


def split_table_from_dict(spark: SparkSession, split_dict: dict) -> DataFrame:
    """S5 — split dict ``{split: {dataset: [subject,...]}}`` (the reference's
    persisted split YAML shape, data_split.py:80-86) → DataFrame
    (split, dataset, subject_id)."""
    rows = [
        (split, dataset, str(subject))
        for split, datasets in split_dict.items()
        for dataset, subjects in datasets.items()
        for subject in subjects
    ]
    return spark.createDataFrame(rows, ["split", "dataset", "subject_id"])


def jsonl_document_scan(
    spark: SparkSession,
    path: str,
    schema: "str | None" = "doc_id BIGINT, text STRING, lang STRING, source STRING",
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """[ext] JSONL corpus ingestion — the interchange format most public
    text corpora ship as (one JSON object per line).

    With an explicit ``schema`` (default: the engine's documents shape)
    the scan is single-pass, column-pruned, and malformed lines land in
    ``corrupt_col`` instead of killing the job (PERMISSIVE mode) — the
    caller audits ``WHERE _corrupt IS NOT NULL`` and decides; silently
    dropping bad lines would violate the refuse-loudly policy. Pass
    ``schema=None`` to infer (costs an extra pass — avoid at scale).

    NB (Spark restriction): Spark disallows raw-JSON queries whose pruned
    schema is only the corrupt column — materialize first
    (``df.localCheckpoint()`` / write to parquet), then audit
    ``WHERE _corrupt IS NOT NULL``. The parquet-ingest step a pipeline
    does anyway is exactly that materialization.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        reader = reader.schema(f"{schema}, {corrupt_col} STRING")
    return reader.json(path)


META_FILE = "_meta.json"
# the per-family meta directories the one manifest replaced; a root that
# still holds one is an index whose geometry this engine can no longer
# read, so it is refused instead of being taken for a fresh store
_LEGACY_META = (
    "_sig_meta", "_win_meta", "_h64_meta", "_merge_meta", "_lsh_meta",
    "_ivf_meta", "_ivfpq_meta", "_cms_meta", "_hll_meta", "_idx_kind",
)


def _manifest(spark: SparkSession, root: str):
    """(Hadoop path of ``root/_meta.json``, its FileSystem)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(root, META_FILE)
    return path, path.getFileSystem(spark._jsc.hadoopConfiguration())


def read_meta_json(spark: SparkSession, root: str, kind: str | None = None):
    """The index/store manifest ``root/_meta.json`` as a dict holding
    ``{"kind": ..., <build fields>}``; ``None`` ONLY when no manifest
    exists (a not-yet-created store). With ``kind`` the manifest must be
    of that kind. Reads through the Hadoop FileSystem: no Spark job.

    Every other state raises instead of impersonating "store absent" —
    the absent branch re-freezes the caller's geometry over existing
    rows (ADVICE r9): an unreadable, blank or truncated manifest, a
    manifest of another kind, and a root that still holds one of the
    per-family meta directories written before the manifest existed
    (``_sig_meta/``, ``_idx_kind/``, ...)."""
    from py4j.protocol import Py4JJavaError

    path, fs = _manifest(spark, root)
    if not fs.exists(path):
        legacy = fs.globStatus(spark._jvm.org.apache.hadoop.fs.Path(
            root, "{" + ",".join(_LEGACY_META) + "}"
        ))
        if legacy:
            raise ValueError(
                f"read_meta_json: {str(legacy[0].getPath())!r} is index "
                f"metadata in a layout this engine no longer reads (no "
                f"{META_FILE}) — rebuild the index at {root!r}"
            )
        return None
    try:
        stream = fs.open(path)
        try:
            text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    except Py4JJavaError as e:
        raise OSError(
            f"read_meta_json: manifest {str(path)!r} exists but cannot be "
            "read; refusing to treat it as 'store absent'"
        ) from e
    try:
        meta = json.loads(text)
    except ValueError as e:
        raise ValueError(
            f"read_meta_json: manifest {str(path)!r} exists but holds no "
            "rows of valid JSON — a torn/partial write; refusing to treat "
            "it as 'store absent' (delete or repair it explicitly)"
        ) from e
    if not isinstance(meta, dict) or "kind" not in meta:
        raise ValueError(f"read_meta_json: {str(path)!r} holds no index kind")
    if kind is not None and meta["kind"] != kind:
        raise ValueError(
            f"read_meta_json: {root!r} holds a {meta['kind']!r} index, "
            f"not a {kind!r} one (its {META_FILE} says so)"
        )
    return meta


def commit_meta_json(spark: SparkSession, root: str, kind: str, fields: dict) -> None:
    """Atomically replace ``root/_meta.json`` with ``{"kind": kind,
    **fields}``: write an underscore-prefixed temp file (invisible to the
    parquet scan and to :func:`read_meta_json`), then rename it over the
    manifest. The rename overwrites and raises on failure, so a reader
    sees the old manifest or the new one, never a torn one; a crash
    leaves at most a stray temp file. No Spark job."""
    import uuid

    hfs = spark._jvm.org.apache.hadoop.fs
    path, fs = _manifest(spark, root)
    tmp = path.suffix(f".{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(json.dumps({**fields, "kind": kind}).encode()))
    finally:
        out.close()
    overwrite = spark._sc._gateway.new_array(hfs.Options.Rename, 1)
    overwrite[0] = hfs.Options.Rename.OVERWRITE
    hfs.FileContext.getFileContext(
        fs.getUri(), spark._jsc.hadoopConfiguration()
    ).rename(tmp, path, overwrite)


def error_condition(e: Exception) -> str | None:
    """The AnalysisException error class/condition name (PySpark 4 names
    it getCondition, older getErrorClass), or None when unavailable."""
    get = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    if get is None:
        return None
    try:
        return get()
    except Exception:
        return None


def is_path_not_found(e: Exception) -> bool:
    """True iff an AnalysisException means the read PATH does not exist
    (vs permission / corrupt-file / schema errors, which callers must
    surface, not swallow)."""
    cond = error_condition(e)
    return cond == "PATH_NOT_FOUND" or (
        cond is None and "Path does not exist" in str(e)
    )


def read_pruned_partitions(
    spark: SparkSession, root: str, part_col: str, values,
    schema: "str | None" = None,
) -> DataFrame:
    """Read a ``part_col``-partitioned parquet table restricted to the
    partitions in ``values``, listing ONLY those partition directories.

    Equivalent to ``spark.read.parquet(root).filter(col(part_col)
    .isin(values))`` — same rows, same schema — but the plain form makes
    the driver list EVERY partition directory under ``root`` before
    pruning, an O(index) term that r14's append-scaling panel measured
    dominating standing-index probe wall time (winnow probe 9.3→27.3 s
    across a 4× index while post-pruning read VOLUME stayed flat ±1.7%).
    Here the probed directories — known driver-side, bounded by the
    probe's own bucket set — are passed to the reader directly with
    ``basePath`` set to the table root, so Spark's file index never
    touches unprobed directories (guide §6: manifest-style metadata
    beats directory listing at scale; the probe's bucket set IS the
    manifest for bucket-partitioned indexes).

    Existence is checked per directory against the live filesystem
    (never a side manifest file), so a concurrent/crashed append can
    never make this read MISS files the plain read would see. Falls back
    to the plain read — bit-identical semantics, including the error
    raised for a missing ``root`` — whenever ``values`` is empty, no
    probed directory exists, a value is not a plain int (partition-path
    escaping is only trivially correct for ints, which every engine
    bucket column uses), or schema inference over the probed subset
    fails (e.g. committed-but-empty directories).

    ``schema`` (a DDL string naming the data columns, then ``part_col``)
    skips schema inference in the pruned read and in every fallback: an
    inferred parquet read launches a Spark job to read a file footer
    before any row is scanned. Pass it only when the writer's schema is
    known; the rows are the same as the inferred read's.

    Partition-TYPE inference caveat (VERDICT r15 hardening): the probed
    listing infers ``part_col``'s type from the probed directories only,
    so an EXTERNAL table mixing small and ≥2³¹ partition values could
    infer int here where the full listing infers long. Unreachable for
    engine indexes — every writer's bucket values are int-typed and
    capped at 2**20 (pinned by
    ``test_engine_bucket_values_stay_int32_safe``) — and probes that
    touch a huge value agree with the plain read by construction
    (``test_mixed_magnitude_partition_values_schema_equality``).
    """
    from pyspark.errors import AnalysisException

    # materialize FIRST (ADVICE r15): if ``values`` is a one-shot iterator
    # and sorted(set(...)) raises on an unsortable mix, re-reading the
    # exhausted iterator in the except branch would silently yield an
    # empty filter instead of the intended values
    values = list(values)
    try:
        vals = sorted(set(values))
    except TypeError:  # unsortable mix — let the plain read adjudicate it
        vals = values

    def _reader():
        return spark.read if schema is None else spark.read.schema(schema)

    def _fallback() -> DataFrame:
        return _reader().parquet(root).filter(F.col(part_col).isin(vals))

    if not vals or not all(
        isinstance(v, int) and not isinstance(v, bool) for v in vals
    ):
        return _fallback()
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    jroot = jpath(root)
    fs = jroot.getFileSystem(spark._jsc.hadoopConfiguration())
    qroot = fs.makeQualified(jroot)
    dirs = [
        str(p)
        for p in (jpath(qroot, f"{part_col}={v}") for v in vals)
        if fs.exists(p)
    ]
    if not dirs:
        return _fallback()
    try:
        pruned = _reader().option("basePath", str(qroot)).parquet(*dirs)
    except AnalysisException:
        return _fallback()
    # the filter is semantic-parity insurance (and keeps the plan's
    # partition predicate visible); with the pruned listing it prunes
    # nothing further
    return pruned.filter(F.col(part_col).isin(vals))


def orc_scan(spark: SparkSession, path: str) -> DataFrame:
    """[ext] ORC source — Spark's other native columnar format (built-in
    reader, no extra jar): predicate pushdown + column pruning work the
    same as parquet, so an ORC-resident corpus plugs into every operator
    unchanged. Exists so a user migrating an ORC warehouse needs no
    conversion pass."""
    return spark.read.orc(path)
