"""[ext] Mergeable sketch operators beyond Spark's built-ins (SURVEY §2.14
"approx distinct / sketches" extended): bounded-memory heavy hitters.

``approx_count_distinct``/``percentile_approx`` cover HLL and KLL; the
missing corpus-analysis sketch is FREQUENT ITEMS — "top-k most frequent
tokens/domains/n-grams over 100 TB" where the naive groupBy must shuffle
one row per DISTINCT item (token cardinality ≫ memory at web scale).

The classic fix is the two-pass Misra-Gries scheme:

pass 1 — per-partition Misra-Gries summaries with ``m`` counters each:
  bounded memory per task no matter the cardinality; any item with true
  frequency > n_partition/m survives its partition summary (the MG
  guarantee), so any GLOBAL item with frequency > n/m survives in at least
  one partition. Only partitions × m candidate rows leave the map stage.
pass 2 — exact recount of the candidate set only: the full stream is
  filtered by a broadcast candidate hash (no shuffle of non-candidates),
  then a tiny groupBy yields EXACT counts; top-k over exact counts equals
  the true top-k whenever the k-th item's frequency > n/m (easily sized:
  m = 10·k covers any realistic skew).

So the operator is *exact* under an explicit, checkable condition — which
is what makes it oracle-verifiable — while memory stays O(m) per task and
the only full-cardinality shuffle of the naive plan disappears.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from qcardia_data_spark.sources import readers


def _misra_gries_batches(col: str, m: int):
    """mapInPandas kernel: one Misra-Gries summary per PARTITION (state
    carried across the partition's Arrow batches), emitted as candidate
    rows at end-of-partition.

    Vectorized via per-batch ``value_counts`` + MG-merge (combine counts,
    then subtract the (m+1)-th largest and keep positives) instead of a
    per-element Python loop — MG summaries are mergeable with the same
    ``freq > n/m ⇒ survives`` guarantee, and pandas does the counting in
    C. Nulls are excluded (``value_counts`` drops NaN/None)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > m:
                ranked = sorted(counters.items(), key=lambda kv: -kv[1])
                cut = ranked[m][1]  # the (m+1)-th largest count
                counters = {k: c - cut for k, c in ranked[:m] if c > cut}
        yield pd.DataFrame({col: list(counters.keys())})

    return summarize


def heavy_hitters(
    df: DataFrame, col: str, k: int = 10, m: int | None = None, verify: bool = True
) -> DataFrame:
    """Exact top-``k`` most frequent values of ``col`` via the two-pass
    Misra-Gries scheme (module docstring). ``m`` is the per-partition
    counter budget (default ``10·k``). Ties broken by value ascending —
    deterministic, engine-agnostic.

    Returns (col, n) with EXACT counts, ordered n desc, value asc.

    The exactness guarantee requires the k-th item's true frequency to
    exceed ``n_total / m`` (MG survival bound). With ``verify=True`` the
    bound is checked at build time — one extra ``count`` job plus a
    ≤k-row collect — and a :class:`ValueError` is raised when the corpus
    violates it, instead of silently returning a possibly-wrong top-k;
    the remedy is a larger ``m``. Pass ``verify=False`` to skip the
    check when the caller has an external guarantee (e.g. a Zipfian
    corpus with known head mass).
    """
    m = m or 10 * k
    candidates = df.select(col).mapInPandas(
        _misra_gries_batches(col, m), schema=df.select(col).schema
    ).distinct()
    # candidate set is ≤ partitions × m rows: broadcast semi-join prunes the
    # recount to candidate rows only — non-candidates never shuffle
    exact = (
        df.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    result = exact.orderBy(F.desc("n"), F.col(col)).limit(k)
    if verify:
        result = result.persist()
        rows = result.collect()  # ≤ k rows — driver-side scalar boundary
        if len(rows) == k:
            n_total = df.select(F.count(F.col(col))).first()[0]
            if rows[-1]["n"] * m <= n_total:
                raise ValueError(
                    f"heavy_hitters exactness bound violated: k-th count "
                    f"{rows[-1]['n']} ≤ n/m = {n_total}/{m} — counter "
                    f"budget m={m} too small for this corpus; raise m"
                )
        else:
            # < k rows is only exact when EVERY distinct value became a
            # candidate — MG candidate COLLAPSE (all counts below the
            # prune cut, e.g. a near-uniform corpus) also yields < k rows
            # while real values were dropped (r10 review). One bounded
            # probe: any non-candidate value ⇒ cannot certify.
            # NULLs are outside the documented contract (the MG pass
            # counts non-null values only) AND never equi-match in a
            # left_anti join — unfiltered they'd impersonate missing
            # candidates and spuriously raise (ADVICE r10).
            missing = (
                df.filter(F.col(col).isNotNull())
                .join(F.broadcast(candidates), col, "left_anti")
                .limit(1)
                .count()
            )
            if missing:
                raise ValueError(
                    f"heavy_hitters exactness bound violated: only "
                    f"{len(rows)} < k={k} candidates survived the "
                    f"Misra-Gries pass while non-candidate values exist "
                    f"(near-uniform frequencies) — raise m (got m={m})"
                )
    return result


# ---------------------------------------------------------------------------
# HyperLogLog register table — the mergeable-sketch form of approx distinct
# ---------------------------------------------------------------------------


def hll_registers(df, keys, value_col: str, p: int = 4):
    """Deterministic HyperLogLog register table (Flajolet et al., AofA'07):
    md5-bucket each value into ``m = 2**p`` registers and keep
    ``max_rho`` = the maximum leading-zero rank observed per register.

    The register table IS the sketch, and it is the point: registers
    merge by plain ``max`` across any partitioning of the data — per
    group, per partition, per day — so a 100 TB distinct count is one
    map-side-combined groupBy producing ``groups × m`` tiny rows, never
    a count-distinct shuffle of the raw values. Spark's own
    ``approx_count_distinct`` keeps its HLL buffers opaque; this form
    persists/merges/rolls up as ordinary rows (the Timescale
    "two-step aggregate" pattern) and — because bucket and rank both
    derive from md5 — is bit-identical in any engine, so the whole
    sketch is oracle-checkable (unlike engine-native HLL).

    rho uses 24 bits after the bucket nibble(s): rho = 25 - bitlength(v)
    (v = 0 → 25), via the minimal binary-string length — integer/string
    ops only, no cross-engine float log. ``p`` must be a multiple of 4
    (whole md5 hex chars). Returns (keys..., register, max_rho); absent
    registers mean "never hit" (rank 0) and are left implicit.
    """
    if p % 4 != 0 or p <= 0 or p > 16:
        raise ValueError("hll_registers: p must be a multiple of 4 in 4..16")
    nib = p // 4
    # NULLs are ignored, the approx_count_distinct semantics: md5(NULL)
    # is NULL and the bogus (register=NULL, max_rho=NULL) group inflated
    # hll_estimate's zeros arithmetic and polluted persisted stores (r10)
    df = df.filter(F.col(value_col).isNotNull())
    h = F.md5(F.col(value_col).cast("string"))
    register = F.conv(F.substring(h, 1, nib), 16, 10).cast("long")
    v = F.conv(F.substring(h, nib + 1, 6), 16, 10).cast("long")
    rho = (
        F.when(v == 0, F.lit(25))
        .otherwise(F.lit(25) - F.length(F.bin(v)))
        .cast("long")
    )
    return (
        df.select(*keys, register.alias("register"), rho.alias("rho"))
        .groupBy(*keys, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(registers, group_out: dict[str, str], by=("register",)):
    """Merge HLL register tables upward: max over registers across the
    collapsed keys. ``group_out`` maps output key columns to literal
    values (e.g. ``{"event_type": "__all__"}``)."""
    out = registers.groupBy(*by).agg(F.max("max_rho").alias("max_rho"))
    for c, lit in group_out.items():
        out = out.withColumn(c, F.lit(lit))
    return out.select(*group_out.keys(), *by, "max_rho")


def hll_estimate(registers, keys, p: int = 4):
    """Distinct-count estimate from a register table (per ``keys`` group):
    the standard HLL raw estimator with linear-counting small-range
    correction. Float path (harmonic mean + ln) — use for consumption;
    the register table itself is the exact, oracle-checkable artifact.
    """
    m = 1 << p
    if m >= 128:
        alpha = 0.7213 / (1 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}[m]
    g = registers.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_s_hit"),
        F.count("*").alias("_n_hit"),
    )
    zeros = F.lit(m) - F.col("_n_hit")
    s = F.col("_s_hit") + zeros.cast("double")  # absent registers: 2^0 each
    raw = F.lit(alpha * m * m) / s
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return g.select(*keys, est.alias("estimate"))


def hll_store_merge(spark, path: str, registers, p: int) -> None:
    """Merge a register table into a persisted HLL store at ``path``
    (creating it on first call), the incremental-index form of the
    sketch: the store always holds the max-merged registers of every
    batch ever offered.

    Params and key columns are frozen in the store's manifest on first
    write and enforced afterwards (as in every standing index — a probe or
    merge with different params would silently produce garbage, so drift
    refuses loudly). Merging is max: idempotent and commutative, so
    replays and out-of-order batches converge with no sink machinery —
    but the store is derived FROM the rows the overwrite replaces, so the
    merged frame is materialized through ``localCheckpoint`` first (the
    cdc/dedup lineage-barrier lesson).
    """
    keys = [c for c in registers.columns if c not in ("register", "max_rho")]
    rows_path = f"{path}/rows"
    row = readers.read_meta_json(spark, path, "hll")  # absence-only None
    if row is not None:
        if int(row["p"]) != int(p) or list(row["keys"]) != keys:
            raise ValueError(
                f"hll_store_merge: store at {path!r} was built with "
                f"p={row['p']}, keys={list(row['keys'])}; got p={p}, "
                f"keys={keys} — sketches with different params do not merge"
            )
        combined = spark.read.parquet(rows_path).unionByName(registers)
    else:
        readers.commit_meta_json(spark, path, "hll", {"p": int(p), "keys": keys})
        combined = registers
    merged = (
        combined.groupBy(*keys, "register")
        .agg(F.max("max_rho").alias("max_rho"))
        .localCheckpoint(eager=True)  # barrier: derived from rows we replace
    )
    merged.write.mode("overwrite").parquet(rows_path)


def hll_store_read(spark, path: str):
    """Read back the persisted register table (keys..., register, max_rho)."""
    return spark.read.parquet(f"{path}/rows")


def hll_register_intake_batch(
    batch_df, store_path: str, keys: list[str], value_col: str, p: int = 4
) -> None:
    """One micro-batch of the streaming HLL intake: sketch the batch,
    max-merge into the store (no-op on an empty batch). Shared by
    `streaming.events.streaming_hll_intake` and batch backfills."""
    if batch_df.isEmpty():
        return
    regs = hll_registers(batch_df, keys, value_col, p=p)
    hll_store_merge(batch_df.sparkSession, store_path, regs, p=p)


# ---------------------------------------------------------------------------
# Count-Min sketch — the mergeable frequency twin of the HLL register table
# ---------------------------------------------------------------------------


def cms_table(df, keys, value_col: str, depth: int = 3, width: int = 64):
    """Deterministic Count-Min sketch (Cormode & Muthukrishnan, J.Alg'05):
    ``depth`` independent md5 hash rows of ``width`` counters each, one
    (row, bucket, n) cell per key group. Like :func:`hll_registers`, the
    sketch is a plain row table that merges by SUM across any
    partitioning (per group / per day / per stream batch), and — because
    every bucket derives from md5 — it is bit-identical in any engine,
    so the whole sketch is oracle-checkable.

    Point-estimate of a value's frequency = min over the depth rows of
    its bucket's counter (:func:`cms_lookup`): an overestimate with
    P[err > 2n/width] < (1/2)^depth, never an underestimate.

    100 TB: one explode to depth x rows (bounded, default 3), one
    map-side-combined groupBy to groups x depth x width cells — the
    frequency table for a corpus whose distinct-value count dwarfs
    memory, without a per-distinct-value shuffle.
    """
    if depth < 1 or width < 1:
        raise ValueError("cms_table: depth and width must be >= 1")
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    rows = df.select(*keys, F.col(value_col).cast("string").alias("_v"), d)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("_v"), F.col("row"))), 1, 8
            ),
            16, 10,
        ).cast("long"),
        F.lit(int(width)),
    ).alias("bucket")
    return (
        rows.select(*keys, F.col("row").cast("long").alias("row"), bucket)
        .groupBy(*keys, "row", "bucket")
        .agg(F.count("*").alias("n"))
    )


def cms_merge(sketches, group_out: dict[str, str], by=("row", "bucket")):
    """Merge CMS tables upward: SUM counters across collapsed keys."""
    out = sketches.groupBy(*by).agg(F.sum("n").alias("n"))
    for c, lit in group_out.items():
        out = out.withColumn(c, F.lit(lit))
    return out.select(*group_out.keys(), *by, "n")


def cms_lookup(sketch, probes, keys, value_col: str, width: int = 64):
    """Frequency point-estimates: min over the sketch's depth rows of the
    probed value's buckets. ``probes`` is a DataFrame carrying ``keys``
    + ``value_col``; returns it with an ``est_n`` column (0 when no row
    of the sketch was ever hit — a value the sketch never saw still
    collides into SOME bucket, so absent cells read as 0 via the
    left join). The probe side is the small side: broadcast it."""
    from qcardia_data_spark.operators.joins import fresh_name

    # fresh internal names: a probe column literally named "row"/"bucket"
    # made the cross/equi joins ambiguous (r10 review; the same rule as
    # the fresh "n" carry below)
    rw = fresh_name("_cms_row", probes.columns)
    bk = fresh_name("_cms_bucket", [*probes.columns, rw])
    d = sketch.select(F.col("row").alias(rw)).distinct()
    if d.isEmpty():
        # empty sketch: the depth rows are derived from sketch data, so
        # the cross join would drop every probe — the documented contract
        # is est_n = 0 for values the sketch never saw (r10 review)
        return (
            probes.select(*keys, value_col)
            .distinct()
            .withColumn("est_n", F.lit(0).cast("long"))
        )
    p = probes.join(F.broadcast(d))
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(
                    "#", F.col(value_col).cast("string"), F.col(rw)
                )), 1, 8,
            ),
            16, 10,
        ).cast("long"),
        F.lit(int(width)),
    ).alias(bk)
    p = p.select(*keys, F.col(value_col), F.col(rw), bucket)
    # null-SAFE key equality: a NULL-valued group key is a legitimate
    # sketch group (cms_table's groupBy keeps it), so the probe join must
    # reach it — plain `==` would read every NULL-key probe as est 0.
    # The counter is carried under a FRESH name: a probe whose value or
    # key column is literally named "n" would otherwise make the carried
    # column ambiguous
    from qcardia_data_spark.operators.joins import null_safe_equi_join

    n_c = fresh_name("_cms_n", p.columns)
    j = null_safe_equi_join(
        p,
        sketch.select(
            *keys, F.col("row").alias(rw), F.col("bucket").alias(bk),
            F.col("n").alias(n_c),
        ),
        nullsafe_keys=keys, plain_keys=[rw, bk],
        carry=[n_c], how="left",
    )
    return (
        j.groupBy(*keys, value_col)
        .agg(F.min(F.coalesce(F.col(n_c), F.lit(0))).alias("est_n"))
    )


def cms_store_append_batch(
    batch_df, store_path: str, keys: list[str], value_col: str,
    batch_id: int, depth: int = 3, width: int = 64,
) -> None:
    """One micro-batch of the streaming CMS intake: sketch the batch and
    land it as the immutable partition ``_batch=<id>``. The contrast
    with :func:`hll_register_intake_batch` is the point: max-merge is
    idempotent so HLL can merge in place and shrug off replays, but SUM
    double-counts a replay — so each CMS batch must own its partition
    (dynamic overwrite: a retried batch REPLACES its own cells,
    exactly-once) and the read side merges. Because CMS cells merge by
    sum, the append log IS the sketch — no compaction required for
    correctness; merge batches back through :func:`cms_table`'s read
    path when the partition count grows.

    Params/keys are frozen in the ``cms`` manifest on first append and
    enforced afterwards (sketches with different geometry do not merge).
    """
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    row = readers.read_meta_json(spark, store_path, "cms")
    if row is not None:
        if (
            int(row["depth"]) != int(depth)
            or int(row["width"]) != int(width)
            or list(row["keys"]) != list(keys)
        ):
            raise ValueError(
                f"cms_store_append_batch: store at {store_path!r} was "
                f"built with depth={row['depth']}, width={row['width']}, "
                f"keys={list(row['keys'])}; got depth={depth}, "
                f"width={width}, keys={list(keys)} — sketches with "
                "different geometry do not merge"
            )
    else:
        readers.commit_meta_json(
            spark, store_path, "cms",
            {"depth": int(depth), "width": int(width), "keys": list(keys)},
        )
    (
        cms_table(batch_df, keys, value_col, depth=depth, width=width)
        .withColumn("_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch")
        .parquet(f"{store_path}/rows")
    )


def cms_store_read(spark, store_path: str):
    """Sum-merge every landed batch partition into the current sketch."""
    rows = spark.read.parquet(f"{store_path}/rows")
    keys = [c for c in rows.columns
            if c not in ("row", "bucket", "n", "_batch")]
    return rows.groupBy(*keys, "row", "bucket").agg(F.sum("n").alias("n"))


def cms_store_lookup(spark, store_path: str, probes, value_col: str):
    """Probe a CMS store with the geometry it was BUILT with: ``width``
    and ``keys`` come from the store's own manifest, never from the
    caller — :func:`cms_lookup`'s caller-supplied width lets a probe
    silently use a different geometry than the build and read garbage
    estimates (ADVICE r8), exactly the drift the meta-file contract
    (``path/_meta.json`` of every standing index) exists to refuse.

    Consistency contract (ADVICE r9): the meta and the rows directory are
    two separate FS reads, so the store assumes a SINGLE WRITER — the
    same assumption the append path already makes (batch partitions are
    only exactly-once under one streaming query). A concurrent first
    append between the two reads is benign (geometry matches, some rows
    merely not yet visible); what is NOT supported is dropping and
    re-creating the store with a different geometry while a reader is in
    flight — the probe could hash under the stale width. Re-creating a
    store must use a fresh path (or pause readers), as with every other
    persisted index in this engine."""
    row = readers.read_meta_json(spark, store_path, "cms")
    if row is None:
        raise ValueError(
            f"cms_store_lookup: no _meta.json at {store_path!r} — not a "
            "CMS store (build one with cms_store_append_batch)"
        )
    sketch = cms_store_read(spark, store_path)
    return cms_lookup(
        sketch, probes, list(row["keys"]), value_col, width=int(row["width"])
    )
