"""[ext] Deduplication operators for training-data pipelines (SURVEY §2.14).

- Exact dedup: fingerprint → min-id-wins groupBy. One shuffle on the hash.
- MinHash-LSH near-dedup: shingle → per-band min-hash signature → band
  bucket join → Jaccard verify. All SQL-expressible: the "hash family" is
  ``md5(shingle || band_seed)``, so signatures are identical in any engine
  (oracle-checkable) and deterministic under task retry.
- SimHash: 64-bit sign-aggregated token hashes (pure SQL bit ops).

Scale notes: the LSH band join shuffles only (band, signature) pairs —
O(docs × bands) tiny rows, never O(docs²). Candidate verification touches
only bucket-colliding pairs. This is the standard web-scale near-dedup
shape (e.g. the C4/RefinedWeb pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qcardia_data_spark.functions.text import doc_fingerprint, shingles, word_tokens
from qcardia_data_spark.sources import readers
from qcardia_data_spark.sources.writers import cluster_for_partitioned_write


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: canonical-form fingerprint, keep the smallest id per
    fingerprint (deterministic winner, unlike dropDuplicates under retry)."""
    fp = df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
    winners = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Repartition an UNDER-PARTITIONED scan across the cluster before
    CPU-heavy per-row work (tokenize/explode/hash). A small corpus arrives
    as one file → one partition → one core does all the regexp work (the
    whole minhash pipeline measured single-task because of this). At real
    scale the scan already has ≥ defaultParallelism partitions and this is
    a NO-OP — the partition-count check costs only plan metadata, and the
    shuffle it may trigger moves raw text once, far cheaper than serial
    tokenization."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3,
    keep_empty: bool = False,
) -> DataFrame:
    """(id, shingle) rows — one row per distinct shingle per doc.
    ``keep_empty`` gives a doc with no shingles one null-shingle row, so a
    per-doc aggregate downstream still sees it.

    The tokenizer output is materialized through an ``explode(array(...))``
    barrier: a generator's output is a real attribute (a row value), so the
    per-index shingle lambda reads it instead of re-evaluating the
    three-regexp tokenizer (higher-order lambdas get no cross-reference
    subexpression elimination; the naive array form measured ~30× slower,
    a window-``lead`` row form still ~5× slower than this). No shuffle at
    all — shingling is fully map-side. (A ``spread_small_scan`` here was
    measured NET-NEGATIVE on the full LSH pipeline at sf0.1: its stages are
    plan/codegen-overhead-bound, not compute-bound, and the extra
    plan→RDD partition probe costs more than the parallelism returns —
    callers with a genuinely compute-heavy single-file corpus should spread
    BEFORE calling.)
    """
    tok = df.select(F.col(id_col), F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks"))
    k = F.size(F.col("toks"))
    idx = F.sequence(F.lit(0), F.greatest(k - shingle_n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(F.col("toks"), i + 1, shingle_n), " "))
    guarded = F.when(k >= shingle_n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )
    explode = F.explode_outer if keep_empty else F.explode
    return tok.select(F.col(id_col), explode(guarded).alias("shingle"))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bands: int = 8, shingle_n: int = 3,
    band_width: int = 1,
) -> DataFrame:
    """Per-band MinHash signature. With ``band_width`` r, band b's signature
    is the concatenation of r independent minhashes
    (``min(md5(shingle || '#' || b*r+i))`` for i < r).

    r=1 (default): P(candidate) = 1-(1-J)^bands — high recall, more false
    candidates. r>1 sharpens the S-curve (P = 1-(1-J^r)^bands): far fewer
    false candidates to verify, slightly lower recall near the threshold —
    the knob to turn at 100 TB where verification dominates.
    Output: (id, band, sig) — long-thin, shuffle-friendly. Map-side partial
    min makes the shuffle O(docs × bands × r) regardless of shingle count.
    """
    sh = shingle_rows(df, id_col, text_col, shingle_n)
    n_hashes = n_bands * band_width
    banded = sh.select(
        id_col, "shingle", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("hash_i")
    )
    hashed = banded.select(
        id_col,
        (F.col("hash_i") / band_width).cast("int").alias("band"),
        "hash_i",
        F.md5(F.concat(F.col("shingle"), F.lit("#"), F.col("hash_i").cast("string"))).alias("h"),
    )
    per_hash = hashed.groupBy(id_col, "band", "hash_i").agg(F.min("h").alias("mh"))
    return (
        per_hash.groupBy(id_col, "band")
        .agg(F.array_join(F.array_sort(F.collect_list(F.concat_ws(":", F.col("hash_i"), "mh"))), "|").alias("sig"))
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, max_bucket_size: int | None = None,
    hub_rank: int = 0, hub_ranks: "list[int] | None" = None,
) -> DataFrame:
    """Band-bucket self-join → distinct candidate pairs (a < b).

    Joins on (band, sig): only docs sharing a band signature meet.

    Hot-bucket guard (the boilerplate-corpus failure mode: one signature
    shared by k docs makes the self-join emit k² pairs): buckets larger
    than ``max_bucket_size`` switch from all-pairs to a STAR join on one
    hub per bucket — k−1 edges instead of k(k−1)/2. As a CANDIDATE graph
    this loses no connectivity (the star spans the bucket, so transitive
    resolution — e.g. :func:`connected_components` — still finds one
    component). BUT if a downstream verifier prunes edges (near-dedup's
    Jaccard threshold), a star edge whose HUB fails the threshold takes
    the member pair it mediated with it — ``hub_rank`` exists for exactly
    that: rank r picks the (r+1)-th smallest id in each capped bucket as
    hub, so callers union several rotated-hub rounds
    (:func:`near_dedup_minhash` ``star_rounds``) and a dissimilar hub
    stops mediating after its round. Buckets with ≤ hub_rank members
    contribute no star edges for that rank. Small buckets keep exact
    all-pairs (identical in every round). The count window rides the same
    (band, sig) shuffle the join needs anyway — no extra exchange.

    ``hub_ranks`` fuses several rotated-hub rounds into ONE pass: the
    row_number the star path computes anyway selects ALL requested hubs at
    once (``_r − 1 ∈ hub_ranks``), so r rounds cost one window + one join
    instead of r windows + r joins + a unionByName — bit-identical to the
    union of the per-``hub_rank`` calls (measured ~2× on the candidate
    stage at sf0.1). When given, ``hub_rank`` is ignored."""
    # The pair-dedup exchange doubles as the VERIFY stage's distribution:
    # an implicit distinct() exchange gets AQE-coalesced by BYTES (candidate
    # rows are two ids — a few hundred KB at bench scale), but the stage
    # reading it performs the per-pair shingle-set intersection, whose cost
    # per byte is orders of magnitude above a scan's. The r15 profile
    # measured the whole verify serialized onto ONE task (1.1 s of the
    # 3 s pipeline). An explicit-numPartitions repartition on the dedup key
    # is exempt from coalescing (the _topk_pair_scores idiom) and sized by
    # spark.sql.shuffle.partitions, so it stays scale-adaptive. Same rows,
    # same exchange count — dropDuplicates reuses the explicit partitioning.
    n_parts = int(
        sigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # Explicit (band, sig) distribution for the bucket window + self-join:
    # callers hand in a materialized signature frame whose final aggregate
    # AQE typically coalesced to ONE partition (signatures are ~1 MB at
    # bench scale), so the planned hashpartitioning exchange above it also
    # coalesces to one task and the whole window → hub-join → pair chain
    # ran serially (r16 profile: 4 consecutive 1-task stages, ~0.7 s of a
    # 2.1 s wall). REPARTITION_BY_NUM is exempt from coalescing and both
    # the window and the (band, sig) joins reuse this one exchange. Same
    # rows, same exchange count as the planned-but-coalesced form.
    sigs = sigs.repartition(n_parts, "band", "sig")
    a = sigs.select(F.col("band"), F.col("sig"), F.col(id_col).alias("a"))
    b = sigs.select(F.col("band"), F.col("sig"), F.col(id_col).alias("b"))
    if max_bucket_size is None:
        pairs = a.join(b, on=["band", "sig"]).filter(F.col("a") < F.col("b"))
        return (
            pairs.select("a", "b")
            .repartition(n_parts, "a", "b")
            .dropDuplicates()
        )

    from pyspark.sql.window import Window

    sized = sigs.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("band", "sig"))
    )
    small = sized.filter(F.col("bucket_n") <= max_bucket_size)
    sa = small.select("band", "sig", F.col(id_col).alias("a"))
    sb = small.select("band", "sig", F.col(id_col).alias("b"))
    small_pairs = sa.join(sb, on=["band", "sig"]).filter(F.col("a") < F.col("b")).select("a", "b")

    big = sized.filter(F.col("bucket_n") > max_bucket_size)
    rank_w = Window.partitionBy("band", "sig").orderBy(F.col(id_col))
    ranks = [hub_rank] if hub_ranks is None else sorted(set(hub_ranks))
    hubs = (
        big.withColumn("_r", F.row_number().over(rank_w))
        .filter(F.col("_r").isin([r + 1 for r in ranks]))
        .select("band", "sig", F.col(id_col).alias("_hub"))
    )
    star_pairs = (
        big.join(hubs, on=["band", "sig"])
        .filter(F.col(id_col) != F.col("_hub"))
        .select(
            F.least(F.col("_hub"), F.col(id_col)).alias("a"),
            F.greatest(F.col("_hub"), F.col(id_col)).alias("b"),
        )
    )
    return (
        small_pairs.unionByName(star_pairs)
        .repartition(n_parts, "a", "b")
        .dropDuplicates()
    )


def oversized_lsh_buckets(
    sigs: DataFrame, max_bucket_size: int,
) -> DataFrame:
    """Audit companion to the hot-bucket guard: (band, sig, bucket_n,
    pairs_saved) for every bucket the star fallback rewired — run this to
    LOG what the cap touched instead of truncating silently."""
    counts = sigs.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("bucket_n"))
    over = counts.filter(F.col("bucket_n") > max_bucket_size)
    saved = (F.col("bucket_n") * (F.col("bucket_n") - 1) / 2 - (F.col("bucket_n") - 1)).cast("long")
    return over.withColumn("pairs_saved", saved)


def jaccard_verify_rows(
    candidates: DataFrame, sh: DataFrame, id_col: str, threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle Jaccard over candidate pairs, from (id, shingle) rows.

    intersection = count of shared shingles (join on shingle value);
    union = |A| + |B| − intersection. Cost proportional to the candidate
    graph. (A semi-join prefilter of ``sh`` to candidate ids pays off only
    when candidates are sparse relative to the corpus — at 100 TB yes, on
    the dense synthetic corpus it measured slower; callers with sparse
    candidate sets should prefilter before calling.)
    """
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.select(F.col(id_col).alias("a"), "shingle")
    s2 = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        candidates.join(s1, "a")
        .join(s2, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    if threshold > 0:
        # pairs with zero shared shingles have jaccard 0 and can never pass
        # a positive threshold — skip the candidates left-join that existed
        # only to resurrect them (it re-evaluated the whole candidate
        # subtree a second time)
        base = inter
    else:
        base = candidates.join(inter, ["a", "b"], "left").withColumn(
            "i", F.coalesce(F.col("i"), F.lit(0))
        )
    joined = (
        base
        .join(sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb")), "b")
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return joined.select("a", "b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def _ceil_loose(x):
    """``ceil`` of a nonnegative float-product threshold with slack in the
    LOOSENING direction only (longer prefix / kept pair — never a dropped
    one): absolute 1e-9 for small values plus RELATIVE 1e-12 for large
    ones. Float multiplication error is relative (~ulps of the value), so
    a fixed 1e-9 stops covering it past ~5e6-shingle docs (r10
    self-review) — exactly the corpus scale the 100 TB claims assume."""
    return F.ceil(x - x * F.lit(1e-12) - F.lit(1e-9))


def _ranked_encoded_shingles(
    sh: DataFrame, id_col: str, reliable_dir: str | None = None
):
    """One materialized pass shared by the exact set-similarity joins:
    join the shingle rows to the corpus frequency table ONCE, rank each
    doc's shingles by the global ``(df asc, shingle asc)`` total order,
    and DICTIONARY-ENCODE the shingle to a unique int64 — the string
    never travels past this point. Returns the checkpointed frame
    ``(id_col, _sid, _rn, _sz)``.

    Why: the verify stage carries two per-doc shingle ARRAYS on every
    candidate pair; long arrays shuffle ~6× fewer bytes and intersect
    faster than string arrays (measured: containment verify 7.9 → 5.1 s,
    candidate join 4.4 → 3.1 s at the 125k-doc corpus), with the exact
    same results — the encoding is an identity map (unique ids from
    ``monotonically_increasing_id`` on the DISTINCT-shingle table, frozen
    by the checkpoint), not a hash, so no collisions and no semantics
    change. Prefix selection still orders by the string (inside this one
    pass, before the projection drops it).

    100 TB shape: the dict is O(vocabulary) — the same frequency table
    the prefix filter already aggregates, checkpointed with one extra
    int64 column; the ranked frame is O(total shingle rows) of four
    fixed-width columns."""
    from pyspark.sql.window import Window

    spark = sh.sparkSession
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    # monotonically_increasing_id is nondeterministic across RECOMPUTATION,
    # which is safe here ONLY because the materialization below freezes the
    # assignment before anything reads it. Default: eager localCheckpoint —
    # downstream stages read checkpointed blocks, and a lost executor fails
    # the job loudly instead of silently re-encoding with different ids.
    # ``reliable_dir`` (VERDICT r11 #8) is the 100 TB upgrade path: persist
    # the dictionary and ranked tables as parquet under a caller-supplied
    # path, so the frozen assignment survives executor loss (the read-back
    # lineage is the files, recomputable on any executor).
    dic = freq.select(
        "shingle", F.monotonically_increasing_id().alias("_sid"), "_df"
    )
    if reliable_dir is not None:
        # per-invocation namespace (ADVICE r13): a shared reliable_dir
        # must not let a second op overwrite this run's frozen tables
        from qcardia_data_spark.functions.graph import fresh_run_namespace

        _ns = fresh_run_namespace()
        dpath = f"{reliable_dir}/{_ns}/shingle_dict"
        dic.write.mode("overwrite").parquet(dpath)
        dic = spark.read.parquet(dpath)
    else:
        dic = dic.localCheckpoint(eager=True)
    w = Window.partitionBy(id_col).orderBy(
        F.col("_df").asc(), F.col("shingle").asc()
    )
    ranked = sh.join(dic, "shingle").select(
        id_col, "_sid",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(id_col)).alias("_sz"),
    )
    if reliable_dir is not None:
        rpath = f"{reliable_dir}/{_ns}/ranked"
        ranked.write.mode("overwrite").parquet(rpath)
        return spark.read.parquet(rpath)
    return ranked.localCheckpoint(eager=True)


def jaccard_verify_sets(
    candidates: DataFrame, sh: DataFrame, id_col: str, threshold: float = 0.6,
    size_prefilter: bool = True,
) -> DataFrame:
    """Exact shingle Jaccard over candidate pairs, set form: per-doc
    DISTINCT-shingle arrays are attached to each pair and intersected
    JVM-side (``array_intersect``) — intersection never touches a shuffle.

    vs :func:`jaccard_verify_rows`: the row form expands every candidate
    pair by |A| shingle rows and shuffles that expansion through a
    (b, shingle) join + groupBy — O(Σ|pairs|·|doc|) rows through TWO
    exchanges. Here the only exchanges are the set build (one groupBy over
    the shingle rows) and two id-keyed joins of the CANDIDATE frame against
    the doc→set table; the per-pair O(|A|+|B|) intersection work happens
    inside codegen.

    The intersection is evaluated EXACTLY ONCE per pair: the threshold
    filter must not be pushed into the broadcast-join condition (Catalyst
    would inline ``array_intersect`` into the condition AND the project —
    4 evaluations per pair, measured slower than the row form), so the
    intersection size is materialized through an ``explode(array(...))``
    generator barrier (the same trick :func:`shingle_rows` uses) and the
    filter applies to the generated column.

    Scale note: a pair row carries both shingle arrays, so row width is
    bounded by the two docs' distinct-shingle counts — fine for bounded
    docs (web pages ~1e3 shingles → KBs); for pathological multi-MB docs
    prefer the row form, which never widens a row past one shingle.
    Candidate pairs only exist for docs with ≥1 shingle (signatures are
    min-over-shingles), so the inner joins drop nothing — same contract as
    the row form.

    ``size_prefilter`` (guide §3.2 — pre-filter the big side with a cheap
    proxy before the expensive join): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    so for threshold > 0 a pair whose smaller doc has fewer than
    ``threshold × larger`` shingles can NEVER verify — attach per-doc
    COUNTS (one int, a map-side-aggregated tiny frame) to each pair first
    and drop those pairs BEFORE the two array-attach joins ship full
    shingle arrays onto them (measured at sf0.1: 81,498 → 48,356 pairs,
    −41% of the array widening + intersections; result-identical — the
    ``_ceil_loose`` slack can only KEEP a borderline pair, never drop
    one; the same PPJoin size filter :func:`ngram_jaccard_join` applies
    in its prefix join, which therefore passes ``size_prefilter=False``
    to skip the redundant pass)."""
    sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("_s"))
    return _jaccard_of_sets(
        candidates, sets.withColumnRenamed(id_col, "a"),
        sets.withColumnRenamed(id_col, "b"), threshold, size_prefilter,
    )


def _jaccard_of_sets(
    pairs: DataFrame, a_sets: DataFrame, b_sets: DataFrame, threshold: float,
    size_prefilter: bool = True, a_on: tuple = ("a",),
) -> DataFrame:
    """The core of :func:`jaccard_verify_sets` over PREBUILT per-doc
    shingle sets: ``pairs`` holds ``(a, b)`` plus any further ``a_on``
    keys, ``a_sets`` is ``(*a_on, _s)`` and ``b_sets`` is ``(b, _s)``.
    Returns ``(a, b, jaccard)`` for the pairs at or above ``threshold``."""
    a_on = list(a_on)
    if size_prefilter and threshold > 0:
        # sizes derive from the SAME aggregate the array joins build (one
        # F.size projection) — a separate count() over sh re-scanned the
        # whole shingle frame (measured 2.3 s CPU at sf0.1, nearly the cost
        # the filter saves); this way the partial-aggregate exchange is
        # computed once and shared by all three consumers.
        pairs = (
            pairs
            .join(a_sets.select(*a_on, F.size("_s").alias("_zna")), a_on)
            .join(b_sets.select("b", F.size("_s").alias("_znb")), "b")
            .filter(
                F.least("_zna", "_znb")
                >= _ceil_loose(F.lit(threshold) * F.greatest("_zna", "_znb"))
            )
            .drop("_zna", "_znb")
        )
    joined = (
        pairs
        .join(a_sets.withColumnRenamed("_s", "_sa"), a_on)
        .join(b_sets.withColumnRenamed("_s", "_sb"), "b")
    )
    once = joined.select(
        "a", "b",
        F.size("_sa").alias("_na"), F.size("_sb").alias("_nb"),
        F.explode(
            F.array(F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))))
        ).alias("_i"),
    )
    jac = F.col("_i").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_i"))
    return once.select("a", "b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_join(
    df: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.6, shingle_n: int = 3,
    reliable_dir: str | None = None,
) -> DataFrame:
    """[ext] EXACT n-gram Jaccard similarity self-join via lossless PREFIX
    FILTERING (All-Pairs, Bayardo et al. WWW'07; PPJoin, Xiao et al.
    WWW'08) — the deterministic sibling of :func:`near_dedup_minhash`:
    same ``jaccard ≥ threshold`` semantics, but no probabilistic LSH
    stage, so recall is exactly 1 by construction ([ext] training-data
    op, no reference counterpart — public algorithm, original Spark
    plan).

    Prefix-filtering principle: order every doc's DISTINCT shingles by a
    single GLOBAL total order — ascending corpus document-frequency, ties
    by shingle string — and keep each doc's first
    ``|S| − ⌈t·|S|⌉ + 1`` shingles as its prefix. For a pair with
    ``jac ≥ t`` the overlap is ≥ ``t·max(|A|,|B|)`` ≥ ``⌈t·|A|⌉`` on each
    side, and by pigeonhole the two prefixes must share a shingle — so an
    equi-join of prefix rows on the shingle value produces EVERY
    qualifying pair (lossless), and :func:`jaccard_verify_sets` keeps
    exactly those at/above the threshold. ``⌈·⌉`` is computed as
    ``_ceil_loose(t·|S|)`` (relative+absolute slack): float error can
    only LENGTHEN the prefix
    (still lossless), never shorten it.

    100 TB shape: shingle rows are O(total tokens); frequency table is one
    map-side-combined groupBy; per-doc prefix selection is one window over
    the doc's own rows. The candidate join runs on prefix shingles only —
    and because the global order puts the RAREST shingles first, corpus
    stop-shingles never enter a prefix unless a doc has nothing rarer, so
    candidate volume tracks true near-duplicate density, not hot-key
    frequency (the same rarest-first argument as
    :func:`fuzzy_string_join`'s gram prefixes). Candidates then pass the
    two LOSSLESS PPJoin prunes (length filter at the join, positional
    filter on the per-pair aggregate — proofs inline) before the
    set-intersection verify, which is the expensive stage: measured 4.4×
    fewer verify pairs at the 125k-doc EXT corpus, identical output. No
    all-pairs stage anywhere. Skew note: a shingle shared by every member of an n-doc
    duplicate CLUSTER yields O(n²) candidate rows for that cluster — that
    is output complexity (the cluster really has ~n² qualifying pairs),
    not plan waste.

    Returns distinct ``(a, b, jaccard)`` with ``a < b``.
    """
    t = float(threshold)
    # shingle rows feed the frequency table and the ranked/encoded pass —
    # compute once (same lifecycle as near_dedup_minhash; at 100 TB,
    # checkpoint this instead)
    sh = shingle_rows(spread_small_scan(df, id_col), id_col, text_col, shingle_n).persist()
    try:
        # ONE materialized sh×freq pass: per-doc global-order rank + size
        # + int64-encoded shingle (see _ranked_encoded_shingles) feeds
        # prefix selection, the candidate join AND the verify sets.
        # reliable_dir swaps the localCheckpoint for persisted parquet so
        # executor loss cannot fail the job at scale (VERDICT r11 #8)
        ranked = _ranked_encoded_shingles(sh, id_col, reliable_dir)
        pref = ranked.filter(
            F.col("_rn")
            <= F.col("_sz") - _ceil_loose(F.lit(t) * F.col("_sz")) + 1
        )
        # Candidate generation with the two LOSSLESS PPJoin prunes — both
        # provable from jac >= t alone, so recall stays exactly 1:
        #  * LENGTH: overlap <= min(|A|,|B|) and jac >= t force
        #    min >= ceil(t*max) — mismatched sizes never qualify.
        #  * POSITIONAL: the matched prefix shingle earliest in the
        #    GLOBAL (df, shingle) order minimizes BOTH docs' positions at
        #    once (per-doc position is the global order restricted to the
        #    doc), and no common shingle can precede it (it would sit in
        #    both prefixes and be an earlier match), so
        #    overlap <= 1 + min(|A|-ra, |B|-rb); jac >= t needs
        #    overlap >= ceil(t/(1+t)*(|A|+|B|)) exactly. _ceil_loose:
        #    float error can only keep a pair, never drop one.
        # Measured at the 125k-doc EXT corpus: 7.49M -> 1.72M verify
        # pairs (4.4x), with the exact same 6400-pair result. The groupBy
        # replaces the old distinct() — same (a, b) exchange, four extra
        # int columns.
        cands = (
            pref.select(
                F.col(id_col).alias("a"), "_sid",
                F.col("_rn").alias("_ra"), F.col("_sz").alias("_sza"),
            )
            .join(
                pref.select(
                    F.col(id_col).alias("b"), "_sid",
                    F.col("_rn").alias("_rb"), F.col("_sz").alias("_szb"),
                ),
                "_sid",
            )
            .filter(
                (F.col("a") < F.col("b"))
                & (
                    F.least("_sza", "_szb")
                    >= _ceil_loose(F.lit(t) * F.greatest("_sza", "_szb"))
                )
            )
            .groupBy("a", "b")
            .agg(
                F.min("_ra").alias("_ra"), F.min("_rb").alias("_rb"),
                F.first("_sza").alias("_sza"), F.first("_szb").alias("_szb"),
            )
            .filter(
                F.lit(1)
                + F.least(
                    F.col("_sza") - F.col("_ra"), F.col("_szb") - F.col("_rb")
                )
                >= _ceil_loose(
                    F.lit(t / (1.0 + t)) * (F.col("_sza") + F.col("_szb"))
                )
            )
            .select("a", "b")
        )
        # verify over the ENCODED rows: jaccard_verify_sets is
        # type-agnostic (collect_list + array_intersect), and int64
        # arrays shuffle/intersect far cheaper than the raw strings
        enc = ranked.select(id_col, F.col("_sid").alias("shingle"))
        # size_prefilter=False: the prefix join above already applied the
        # identical least/greatest size filter — re-deriving per-doc counts
        # here would add two joins for zero additional pruning
        return jaccard_verify_sets(
            cands, enc, id_col, t, size_prefilter=False
        ).localCheckpoint(eager=True)
    finally:
        sh.unpersist()


def containment_join(
    df: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.8, shingle_n: int = 3,
    reliable_dir: str | None = None,
) -> DataFrame:
    """[ext] EXACT shingle-set CONTAINMENT self-join — the asymmetric
    sibling of :func:`ngram_jaccard_join` for SUB-DOCUMENT duplication:
    ``containment(A ⊆ B) = |A∩B| / |A|`` over the smaller set, which
    catches a short doc embedded in a longer one (quotes, boilerplate,
    excerpt pages) that symmetric Jaccard never flags (a 12-token doc
    inside a 30-token doc has jac ≈ 0.36 but containment 1.0). Public
    algorithm family (overlap-threshold prefix filtering, Chaudhuri
    SSJoin ICDE'06 / Xiao WWW'08), original Spark plan; no reference
    counterpart.

    Losslessness: orient every pair so ``a`` is the doc with the smaller
    ``(|S|, id)``. ``containment ≥ t`` needs overlap ≥ ``⌈t·|A|⌉``, so
    A's rarest-first prefix of length ``|A| − ⌈t·|A|⌉ + 1`` must contain
    a shared shingle (pigeonhole) — but no such bound exists for the
    LARGER side, whose required overlap is set by its partner. The
    candidate join therefore matches the smaller side's PREFIX rows
    against the larger side's FULL shingle rows: still every qualifying
    pair, by construction. Verification attaches both distinct-shingle
    sets and intersects JVM-side (the :func:`jaccard_verify_sets`
    machinery, containment-normalized), once per pair behind the explode
    barrier.

    100 TB shape: same O(tokens) shingle pass, frequency groupBy and
    per-doc prefix window as the Jaccard join; the candidate join is
    prefix × all-shingles, so volume is bounded by prefix co-occurrence —
    rarest-first ordering keeps corpus stop-shingles out of prefixes, and
    the full side only multiplies within docs actually sharing a rare
    shingle. No all-pairs stage.

    Returns distinct ``(a, b, containment)``, ``a`` the smaller/contained
    side; both engines compute the ratio as a division of exact ints, so
    no rounding is needed for cross-engine parity.
    """
    t = float(threshold)
    sh = shingle_rows(spread_small_scan(df, id_col), id_col, text_col, shingle_n).persist()
    try:
        # ONE materialized sh×freq pass (see _ranked_encoded_shingles):
        # the prefix rows, the full-side rows AND the verify sets all
        # read the same int64-encoded checkpoint — this also replaces the
        # former per-doc sizes groupBy+join (the rank window carries
        # _sz); reliable_dir as in ngram_jaccard_join (persisted tables
        # instead of localCheckpoint — VERDICT r11 #8)
        ranked = _ranked_encoded_shingles(sh, id_col, reliable_dir)
        pref = ranked.filter(
            F.col("_rn")
            <= F.col("_sz") - _ceil_loose(F.lit(t) * F.col("_sz")) + 1
        )
        cands = (
            pref.select(F.col(id_col).alias("a"), "_sid", F.col("_sz").alias("_sza"))
            .join(
                ranked.select(
                    F.col(id_col).alias("b"), "_sid", F.col("_sz").alias("_szb")
                ),
                "_sid",
            )
            .filter(
                (F.col("_sza") < F.col("_szb"))
                | ((F.col("_sza") == F.col("_szb")) & (F.col("a") < F.col("b")))
            )
            .select("a", "b")
            .distinct()
        )
        sets = ranked.groupBy(id_col).agg(F.collect_list("_sid").alias("_s"))
        once = (
            cands
            .join(sets.select(F.col(id_col).alias("a"), F.col("_s").alias("_sa")), "a")
            .join(sets.select(F.col(id_col).alias("b"), F.col("_s").alias("_sb")), "b")
            .select(
                "a", "b",
                F.size("_sa").alias("_na"),
                # evaluated exactly once per pair behind the generator
                # barrier (same no-inline rule as jaccard_verify_sets)
                F.explode(
                    F.array(F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))))
                ).alias("_i"),
            )
        )
        cont = F.col("_i").cast("double") / F.col("_na")
        return (
            once.select("a", "b", cont.alias("containment"))
            .filter(F.col("containment") >= t)
            .localCheckpoint(eager=True)
        )
    finally:
        sh.unpersist()


def winnow_share_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, w: int = 4, min_shared: int = 2, max_df: int = 20,
) -> DataFrame:
    """[ext] Near-duplicate candidate pairs from shared WINNOWING
    fingerprints (:func:`~qcardia_data_spark.functions.text.
    winnow_fingerprints`, Schleimer et al. SIGMOD'03) — the MOSS design:
    detection guaranteed for any shared token run >= w + k - 1, on an
    index only ~2/(w+1) the size of full n-gram indexing (what
    :func:`ngram_jaccard_join` pays). The coarse/cheap tier of the
    dedup ladder: winnowing pairs -> jaccard/containment verify.

    ``max_df`` drops fingerprints selected in more than that many docs
    BEFORE the pair join — the stop-shingle / star-hub guard: a
    boilerplate gram selected corpus-wide would otherwise produce a
    quadratic bucket (same lesson as lsh_candidate_pairs' hot-bucket
    guard). ``min_shared`` keeps pairs sharing >= that many surviving
    fingerprints.

    100 TB shape: fingerprint rows are O(tokens · 2/(w+1)); the df table
    is one map-side-combined groupBy; the pair join is an equi-join on
    fp with every bucket <= max_df, so output per fp is <= max_df², never
    data x data.
    """
    from qcardia_data_spark.functions.text import winnow_fingerprints

    # three consumers read the selected fingerprints (the df guard and
    # BOTH sides of the pair join) — materialize so the tokenizer +
    # rolling-min selection runs once, not per consumer (measured
    # best-of-3 14.6 -> 8.5 s at the 125k-doc corpus, same pairs)
    sel = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(F.col(id_col).alias("_id"), "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    ok = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    s = sel.join(ok, "fp")
    a = s.select("fp", F.col("_id").alias("a"))
    b = s.select("fp", F.col("_id").alias("b"))
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, w: int = 4, min_shared: int = 2, max_df: int = 20,
    threshold: float = 0.25,
) -> DataFrame:
    """[ext] The tiered dedup ladder as one op: WINNOW candidates
    (:func:`winnow_share_pairs` — cheap, ~2/(w+1) index size, detection
    guaranteed for runs >= w+k-1) verified by EXACT shingle Jaccard
    (:func:`jaccard_verify_sets` — set-form, intersection inside
    codegen). Returns (a, b, jaccard) pairs at/above ``threshold``.

    This is the shape you run at 100 TB when MinHash's probabilistic
    recall is unacceptable but full n-gram prefix filtering
    (:func:`ngram_jaccard_join`) is too expensive: the winnow tier
    bounds candidate generation by the sampled index, the verify tier
    makes every SURVIVING pair exact. (Unlike ngram_jaccard_join this
    is NOT lossless below the winnow guarantee — pairs similar via many
    short runs < w+k-1 can be missed; the guarantee is the contract.)
    """
    cands = winnow_share_pairs(
        df, id_col, text_col, k=k, w=w,
        min_shared=min_shared, max_df=max_df,
    ).select("a", "b")
    sh = shingle_rows(df, id_col, text_col, shingle_n=k)
    return jaccard_verify_sets(cands, sh, id_col, threshold=threshold)


def near_dedup_minhash(
    df: DataFrame, id_col: str, text_col: str,
    n_bands: int = 8, shingle_n: int = 3, threshold: float = 0.6,
    max_bucket_size: int | None = 1000, star_rounds: int = 2,
    reliable_dir: str | None = None,
) -> DataFrame:
    """Full near-dedup: LSH candidates → Jaccard verify → greedy keep-min-id.

    Duplicate resolution: a doc is dropped iff it is the larger id of a
    verified pair (min-id representative survives). This is the standard
    single-pass approximation of connected-components dedup; iterate to a
    fixpoint for full transitive closure (cheap: candidate graph is sparse).

    ``max_bucket_size`` bounds boilerplate-corpus blowup: buckets past the
    cap generate star edges to a hub instead of all pairs (see
    :func:`lsh_candidate_pairs`) — on a normal corpus (buckets ≪ cap) the
    output is bit-identical to the uncapped form. When the cap fires, star
    edges are verified hub↔member, so a DISSIMILAR hub (a low-Jaccard doc
    that happens to share the band signature and sort first) would take
    every pair it mediates below the threshold with it. ``star_rounds``
    mitigates exactly that: round r re-stars each capped bucket on its
    (r+1)-th smallest id, the rounds' candidate sets are unioned and
    verified ONCE — recall is lost only if ALL ``star_rounds`` hubs of a
    bucket are dissimilar to a genuinely-duplicate member pair
    (probability falls geometrically for boilerplate buckets, which are
    near-identical by construction). Residual risk is still auditable via
    :func:`oversized_lsh_buckets`; for exhaustive recall feed the star
    edges to :func:`connected_components` and verify per cluster. Cost:
    each extra round adds k−1 edges per capped bucket only — small buckets
    contribute identical pairs that the distinct() collapses.

    The (id, shingle) row set is computed once and materialized with an
    eager ``localCheckpoint`` — it feeds both the signature build and the
    Jaccard verify (twice: both set-broadcast builds), and the checkpoint
    truncates the tokenize subtree from every one of those plans.

    The signature frame is materialized (``localCheckpoint``) before the
    bucket join: it appears three times downstream (both self-join sides +
    the bucket-size window), so leaving it lazy makes Catalyst re-optimize
    and re-codegen the whole shingle→signature subtree per reference — at
    sf0.1 the query was plan-overhead-bound (~1 s warm compute inside a
    10 s wall). Truncating lineage here collapses the downstream plan to a
    LogicalRDD scan; signatures are O(docs × bands) tiny rows, cheap to
    hold. (On a real cluster pass ``reliable_dir`` instead —
    localCheckpoint does not survive executor loss; that branch keeps the
    r15 persist + forced-losers shape with parquet-backed signatures.)
    """
    # Spread an under-partitioned corpus before the regexp-heavy shingle
    # stage. (Round-2 measured this NET-NEGATIVE when the whole pipeline was
    # one mega-plan — the plan-overhead tax dominated; with the signature
    # checkpoint below splitting the plan, the spread is a clean 2-5× win on
    # the tokenize stage and a no-op when the scan is already parallel.)
    if reliable_dir is None:
        # r16: the shingle rows are materialized with an eager
        # localCheckpoint instead of the r15 persist()+forced-losers-count
        # shape. Same blocks on the same executors, but (a) the tokenize
        # subtree is TRUNCATED from every downstream plan (it appeared in
        # full under BOTH set-broadcast builds — the 35 KB minhash plan),
        # (b) the separate losers.count() job disappears: candidates,
        # verify and the anti join now run inside the caller's ONE action
        # with AQE scheduling the stages, and (c) the r15 shape's returned
        # plan — which recomputed shingles from parquet because sh was
        # unpersisted before return, and leaked one tiny persisted `losers`
        # per call — is gone. Results identical (pure structure).
        sh = shingle_rows(
            spread_small_scan(df, id_col), id_col, text_col, shingle_n
        ).localCheckpoint(eager=True)
        # r16: the signature frame is NO LONGER checkpointed here — the
        # explicit (band, sig) repartition inside lsh_candidate_pairs now
        # gives its three consumers (window + both self-join sides) ONE
        # shared exchange to read, so the md5 signature compute runs once
        # either way and the eager checkpoint only added a driver-blocking
        # job (A/B min-of-4 at sf0.1: 2.25 s without vs 2.33 s with; the
        # r15 re-optimize-per-reference problem the checkpoint fixed was
        # solved by the exchange, not the materialization). The shingle
        # checkpoint stays: dropping it re-runs the 3-regex tokenizer in
        # both the signature and set-build subtrees (measured 2.57 s).
        sigs = _band_signature_frame(sh, id_col, n_bands)
        cands = lsh_candidate_pairs(
            sigs, id_col, max_bucket_size=max_bucket_size,
            hub_ranks=(
                list(range(star_rounds)) if max_bucket_size is not None else None
            ),
        )
        dups = jaccard_verify_sets(cands, sh, id_col, threshold)
        losers = dups.select(F.col("b").alias(id_col)).distinct()
        return df.join(losers, on=id_col, how="left_anti")

    sh = shingle_rows(spread_small_scan(df, id_col), id_col, text_col, shingle_n).persist()
    try:
        # All n_bands signatures in ONE aggregation pass: each shingle row
        # projects its n_bands md5s and the hash-agg keeps n_bands running
        # mins per doc — vs the previous explode(0..n_bands-1) form this
        # sends 1× (not n_bands×) rows through the aggregate (measured
        # 0.78→0.58 s on the signature stage at sf0.1, bit-identical
        # output; at corpus scale the explode multiplied the map-side row
        # stream by n_bands for no information gain). The wide row then
        # unpivots via stack() into the (id, band, sig) shape the bucket
        # join needs.
        # (shared with the incremental index — _band_signature_frame keeps
        # index and full-run signatures bit-identical by construction)
        sigs = _band_signature_frame(sh, id_col, n_bands)
        # the reliable twin of the default branch's localCheckpoints
        # (VERDICT r11 #8, extended r12): persist the signature table as
        # parquet under a caller path so executor loss cannot fail the
        # job — signatures are md5-deterministic, so unlike the shingle
        # dictionary this is purely an availability upgrade
        from qcardia_data_spark.functions.graph import (
            fresh_run_namespace,
        )

        spath = f"{reliable_dir}/{fresh_run_namespace()}/signatures"
        sigs.write.mode("overwrite").parquet(spath)
        sigs = df.sparkSession.read.parquet(spath)
        cands = lsh_candidate_pairs(
            sigs, id_col, max_bucket_size=max_bucket_size,
            hub_ranks=(
                list(range(star_rounds)) if max_bucket_size is not None else None
            ),
        )
        dups = jaccard_verify_sets(cands, sh, id_col, threshold)
        # losers is tiny (one id column, only verified duplicates): persist
        # and force it while the shingle cache is alive, then drop the cache
        losers = dups.select(F.col("b").alias(id_col)).distinct().persist()
        losers.count()
    finally:
        sh.unpersist()
    return df.join(losers, on=id_col, how="left_anti")


def near_dedup_keep_best(
    df: DataFrame, id_col: str, text_col: str,
    score: Column | None = None,
    n_bands: int = 8, shingle_n: int = 3, threshold: float = 0.6,
    max_bucket_size: int | None = 1000, star_rounds: int = 2,
    reliable_dir: str | None = None,
) -> DataFrame:
    """[ext] Quality-aware canonical selection: full transitive duplicate
    CLUSTERS (LSH candidates → Jaccard verify → connected components),
    then keep each cluster's argmax-``score`` member (ties → min id) —
    instead of :func:`near_dedup_minhash`'s greedy min-id winner. The
    practical difference at corpus scale: when a crawl holds a truncated
    and a complete copy of a page, min-id keeps whichever was crawled
    first; this keeps the BEST one (default score: token count — longest
    copy wins; pass any per-row expression, e.g. a quality-classifier
    column, for smarter selection).

    100 TB shape: identical stages to near_dedup_minhash plus the CC
    fixpoint (iterations bounded by cluster diameter, edges are the
    sparse verified-pair set) and one window over cluster members —
    cluster-partitioned, never corpus-wide.

    ``reliable_dir`` (VERDICT r12 #4): with r12's upgrade the SIGNATURE
    table survived executor loss but the clustering fixpoint after it did
    not — an end-to-end availability hole. The flag now covers the whole
    job: signatures persisted as parquet (the near_dedup_minhash idiom)
    AND the CC rounds' edge/label frames (see
    :func:`connected_components`). Values identical either way.
    """
    from pyspark.sql.window import Window

    from qcardia_data_spark.functions.text import word_tokens

    score_col = score if score is not None else F.size(word_tokens(F.col(text_col)))
    sh = shingle_rows(spread_small_scan(df, id_col), id_col, text_col, shingle_n).persist()
    try:
        sigs = _band_signature_frame(sh, id_col, n_bands)
        if reliable_dir is not None:
            from qcardia_data_spark.functions.graph import (
                fresh_run_namespace,
            )

            spath = f"{reliable_dir}/{fresh_run_namespace()}/signatures"
            sigs.write.mode("overwrite").parquet(spath)
            sigs = df.sparkSession.read.parquet(spath)
        else:
            sigs = sigs.localCheckpoint(eager=True)
        cands = lsh_candidate_pairs(
            sigs, id_col, max_bucket_size=max_bucket_size,
            hub_ranks=(
                list(range(star_rounds)) if max_bucket_size is not None else None
            ),
        )
        dups = jaccard_verify_sets(cands, sh, id_col, threshold)
        # (node, component), clustered docs only
        cc = connected_components(dups, reliable_dir=reliable_dir)
        scored = df.select(F.col(id_col).alias("node"), score_col.alias("_score"))
        w = Window.partitionBy("component").orderBy(
            F.desc("_score"), F.col("node").asc()
        )
        losers = (
            cc.join(scored, "node")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(F.col("node").alias(id_col))
            .persist()
        )
        losers.count()  # force while the shingle cache is alive
    finally:
        sh.unpersist()
    return df.join(losers, on=id_col, how="left_anti")


def near_dedup_minhash_ml(
    df: DataFrame, id_col: str, text_col: str,
    num_hash_tables: int = 8, shingle_n: int = 3, jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Spark-ML-backed near-dedup variant: shingles → HashingTF sparse
    vectors → ``pyspark.ml.feature.MinHashLSH`` → approxSimilarityJoin at
    ``1 − jaccard_threshold`` distance → keep-min-id.

    Same pipeline shape as :func:`near_dedup_minhash` built from Spark ML's
    fitted-model LSH instead of the SQL-expressible md5 family — useful when
    a fitted/persisted index is wanted. Note: ML Jaccard here is over the
    *hashed* feature space (HashingTF buckets), so borderline pairs can
    differ from the exact-shingle pipeline; thresholds are on hashed-space
    distance.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = shingle_rows(df, id_col, text_col, shingle_n)
    docs_sh = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("sh"))
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(docs_sh)
    # MinHashLSH requires at least one non-zero entry
    feats = feats.filter(F.size("sh") > 0)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, 1.0 - jaccard_threshold, distCol="dist"
    ).filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
    losers = pairs.select(F.col(f"datasetB.{id_col}").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def connected_components(
    pairs: DataFrame, a: str = "a", b: str = "b", max_iter: int = 20,
    reliable_dir: str | None = None,
) -> DataFrame:
    """Transitive closure of the duplicate-pair graph: (node, component)
    with component = min node id reachable — turns pairwise near-dup hits
    into duplicate *clusters* (the full version of the single-pass keep-min
    approximation in :func:`near_dedup_minhash`).

    Iterative min-label propagation: each round every node adopts the
    smallest label in its neighborhood; converges in O(graph diameter)
    rounds (near-dup graphs are shallow — a handful of rounds in practice).
    Each iteration is one shuffle; labels are checkpointed per round to cut
    the lineage chain (mandatory for iterative algorithms on Spark).

    ``reliable_dir`` (VERDICT r12 #4 — the dedup tables got this in r12;
    the fixpoint AFTER them still rode executor blocks): persist the edge
    frame once and each round's labels as parquet under the caller path,
    so executor loss mid-fixpoint re-reads files instead of killing the
    job. Labels alternate between two subpaths — Spark must never
    overwrite the files a round is still reading from. Same values either
    way (labels are a pure function of the edge set).
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .union(pairs.select(F.col(b).alias("x"), F.col(a).alias("y")))
        .distinct()
    )
    if reliable_dir is not None:
        # per-invocation namespace (ADVICE r13): two CC runs sharing a
        # reliable_dir must not clobber each other's edges/labels
        from qcardia_data_spark.functions.graph import fresh_run_namespace

        _ns = fresh_run_namespace()
        epath = f"{reliable_dir}/{_ns}/cc_edges"
        edges.write.mode("overwrite").parquet(epath)
        edges = spark.read.parquet(epath)
        persisted_edges = None
    else:
        edges = edges.persist()
        persisted_edges = edges

    def _materialize(d: DataFrame, rnd: int) -> DataFrame:
        if reliable_dir is None:
            return d.localCheckpoint(eager=True)
        lpath = f"{reliable_dir}/{_ns}/cc_labels_{rnd % 2}"
        d.write.mode("overwrite").parquet(lpath)
        return spark.read.parquet(lpath)

    labels = (
        edges.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    try:
        for i in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges["y"] == labels["node"])
                .groupBy("x")
                .agg(F.min("component").alias("nbr_comp"))
            )
            new_labels = _materialize(
                labels.join(neighbor_min, labels["node"] == neighbor_min["x"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_comp"), F.col("component"))
                    ).alias("component"),
                ),
                i,
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        return labels
    finally:
        if persisted_edges is not None:
            persisted_edges.unpersist()


def simhash64(text: Column) -> Column:
    """SimHash: 64-bit signature = sign-vector of summed per-token hash bits.

    Pure SQL: token → xxhash64 → per-bit ±1 votes → sign → bit assembly.
    Hamming-close signatures ⇒ similar token multisets.
    """
    toks = word_tokens(text)
    hashes = F.transform(toks, lambda w: F.xxhash64(w))

    def vote(b: int) -> Column:
        # shift amounts must be Python ints → build one expression per bit
        def merge(acc: Column, h: Column) -> Column:
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(hashes, F.lit(0), merge)

    sig = F.lit(0).cast("long")
    for b in range(64):  # two's-complement wraparound at bit 63 is intended
        sig = sig + F.when(vote(b) > 0, F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash32_md5(text: Column) -> Column:
    """32-bit SimHash with an md5-derived bit source (engine-portable
    variant of :func:`simhash64`: md5 is identical everywhere, so this one
    is DuckDB-oracle-checkable; xxhash64 is the faster scale path).

    Bit b of token t = parity of hex digit b of md5(t). Votes summed over
    tokens; signature bit set where the vote is positive.
    """
    toks = word_tokens(text)
    hashes = F.transform(toks, lambda w: F.md5(w))

    def vote(b: int) -> Column:
        def merge(acc: Column, h: Column) -> Column:
            digit = F.conv(F.substring(h, b + 1, 1), 16, 10).cast("int")
            return acc + F.when(digit % 2 == 1, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(hashes, F.lit(0), merge)

    sig = F.lit(0).cast("long")
    for b in range(32):
        sig = sig + F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def simhash32_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Row-form simhash32_md5: explode tokens → md5 once per token → 32
    vote sums in one groupBy. Identical output to the Column form, ~10×
    faster (the Column form re-evaluates md5 inside each of the 32 aggregate
    lambdas; codegen can't CSE across higher-order-function lambdas).

    One shuffle on ``id_col`` with map-side partial aggregation.

    The 4-quarter/32-vote/assemble expressions are built as ``F.expr``
    SQL strings (one py4j round trip each) instead of Column-method
    chains (~8 round trips per sub-expression): the construction of this
    frame measured 0.6 s of pure driver latency per call at r15 —
    comparable to the whole executor-side compute at bench scale. The
    parsed trees are the same operators (shiftright/&/CASE/sum), so
    results are bit-identical (integer arithmetic throughout).
    """
    toks = spread_small_scan(df, id_col).select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("w")
    )
    # 4 conv()s per token (8-hex-digit quarters, < 2^32 so the long cast
    # never overflows) instead of 32 substring+conv digit extractions;
    # digit parity = bit 4·(7 − b%8) of the quarter. Bit-identical votes.
    hashed = toks.select(
        id_col,
        *[
            F.expr(
                f"CAST(conv(substring(md5(w), {1 + 8 * q}, 8), 16, 10) "
                f"AS BIGINT) AS _q{q}"
            )
            for q in range(4)
        ],
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(_q{b // 8}, {4 * (7 - b % 8)}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(32)
        ]
    )
    sig_sql = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(32)
    )
    return votes.select(
        F.col(id_col),
        F.expr(f"CAST(0 AS BIGINT) + {sig_sql} AS simhash"),
    )


def simhash64_md5_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit md5-parity SimHash as TWO 32-bit halves ``(lo, hi)`` — the
    production signature width (32 bits saturate Hamming-k search on a
    same-vocab ~100k corpus; see PERF.md), still engine-replayable: the
    ``lo`` channel votes with bit 0 of each md5 hex digit (identical to
    :func:`simhash32_table`), the ``hi`` channel with bit 1 of the SAME
    digits — one md5 per token total, 64 independent vote streams."""
    toks = spread_small_scan(df, id_col).select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("w")
    )
    # F.expr strings for the same py4j-latency reason as simhash32_table
    # (one round trip per sub-expression; identical parsed operators)
    hashed = toks.select(
        id_col,
        *[
            F.expr(
                f"CAST(conv(substring(md5(w), {1 + 8 * q}, 8), 16, 10) "
                f"AS BIGINT) AS _q{q}"
            )
            for q in range(4)
        ],
    )

    def vote(b: int, chan: int) -> Column:
        return F.expr(
            f"sum(CASE WHEN (shiftright(shiftright(_q{b // 8}, "
            f"{4 * (7 - b % 8)}), {chan}) & 1) = 1 THEN 1 ELSE -1 END) "
            f"AS v{chan}_{b}"
        )

    votes = hashed.groupBy(id_col).agg(
        *[vote(b, 0) for b in range(32)], *[vote(b, 1) for b in range(32)]
    )

    def assemble(chan: int, out: str) -> Column:
        body = " + ".join(
            f"(CASE WHEN v{chan}_{b} > 0 THEN CAST({1 << b} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for b in range(32)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {body} AS {out}")

    return votes.select(id_col, assemble(0, "lo"), assemble(1, "hi"))


def simhash_near_pairs64(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
) -> DataFrame:
    """64-bit :func:`simhash_near_pairs`: Manku block-permutation blocking
    over the (lo, hi) signature halves — ``k + 1`` blocks across the 64
    bits, pigeonhole-lossless, ``bit_count(xor lo) + bit_count(xor hi)``
    verify on candidates only. Block width ``64 / (k+1)`` must divide 32
    (k ∈ {1, 3, 7, 15, 31}) so no block straddles the halves. Returns
    distinct ``(a, b, hamming)`` with ``a < b``."""
    k = int(max_hamming)
    n_blocks = k + 1
    if 64 % n_blocks != 0 or 32 % (64 // n_blocks) != 0:
        raise ValueError(
            f"simhash_near_pairs64: max_hamming={k} needs 64/(k+1) to "
            "divide 32 (k in 1, 3, 7, 15, 31)"
        )
    sig = simhash64_md5_table(df, id_col, text_col).localCheckpoint(eager=True)
    return hamming_near_pairs64(sig, id_col, max_hamming=k)


def hamming_near_pairs64(
    sig: DataFrame, id_col: str, max_hamming: int = 3,
) -> DataFrame:
    """Manku block-permutation Hamming-≤k pair search over ANY 64-bit
    signature table ``(id, lo, hi)`` — the blocking/verify engine shared
    by text SimHash (:func:`simhash_near_pairs64`) and image perceptual
    hashes (`multimodal.phash_images`): k+1 bit blocks, pigeonhole-
    lossless equi-join on (block, value), xor bit_count verify on
    candidates only. ``sig`` should be materialized (checkpoint/persist)
    — it is scanned 2·(k+1) times by the block union."""
    k = int(max_hamming)
    n_blocks = k + 1
    if 64 % n_blocks != 0 or 32 % (64 // n_blocks) != 0:
        raise ValueError(
            f"hamming_near_pairs64: max_hamming={k} needs 64/(k+1) to "
            "divide 32 (k in 1, 3, 7, 15, 31)"
        )
    width = 64 // n_blocks
    mask = (1 << width) - 1

    def blocks_of(side: str) -> DataFrame:
        s = sig.select(
            F.col(id_col).alias(side),
            F.col("lo").alias(f"_lo_{side}"), F.col("hi").alias(f"_hi_{side}"),
        )
        rows = []
        for b in range(n_blocks):
            lo_bit = b * width
            half = f"_lo_{side}" if lo_bit < 32 else f"_hi_{side}"
            off = lo_bit % 32
            rows.append(
                s.select(
                    side, f"_lo_{side}", f"_hi_{side}", F.lit(b).alias("_blk"),
                    F.shiftright(F.col(half), off).bitwiseAND(F.lit(mask)).alias("_val"),
                )
            )
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out

    cands = (
        blocks_of("a")
        .join(blocks_of("b"), ["_blk", "_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "_lo_a", "_hi_a", "_lo_b", "_hi_b")
        .distinct()
    )
    ham = (
        F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
        + F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
    )
    return (
        cands.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
) -> DataFrame:
    """[ext] SimHash near-duplicate PAIR search at Hamming distance ≤ k
    (Manku, Jain & Das Sarma, WWW 2007 — the Google web-crawl near-dup
    design): split each 32-bit signature into ``k + 1`` bit blocks; by
    pigeonhole, two signatures within Hamming distance k agree EXACTLY on
    at least one block, so an equi-join on (block index, block value)
    finds every qualifying pair — lossless blocking, verified by
    ``bit_count(xor)`` on the candidates only, never all pairs.

    100 TB shape: the signature table is one id-keyed groupBy
    (:func:`simhash32_table`); the candidate join shuffles (k+1) ×
    corpus tiny (block, value) rows. Block values carry 32/(k+1) bits, so
    at web scale each block bucket holds corpus/2^(32/(k+1)) docs on
    average (64-bit signatures widen the blocks — same plan, wider
    conv()). A boilerplate corpus where millions share a block value
    degenerates exactly like hot LSH buckets — the same star-guard
    applies if needed; at default k=3 each block has 8 bits and the
    verify is one integer xor per candidate.

    Returns distinct ``(a, b, hamming)`` with ``a < b``.
    """
    k = int(max_hamming)
    n_blocks = k + 1
    width = 32 // n_blocks  # trailing block absorbs the remainder bits
    sig = simhash32_table(df, id_col, text_col).localCheckpoint(eager=True)

    def blocks_of(side: str) -> DataFrame:
        s = sig.select(F.col(id_col).alias(side), F.col("simhash").alias(f"_h_{side}"))
        rows = []
        for b in range(n_blocks):
            lo = b * width
            hi = 32 if b == n_blocks - 1 else lo + width
            mask = (1 << (hi - lo)) - 1
            rows.append(
                s.select(
                    side, f"_h_{side}", F.lit(b).alias("_blk"),
                    F.shiftright(F.col(f"_h_{side}"), lo).bitwiseAND(F.lit(mask)).alias("_val"),
                )
            )
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out

    cands = (
        blocks_of("a")
        .join(blocks_of("b"), ["_blk", "_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "_h_a", "_h_b")
        .distinct()
    )
    ham = F.bit_count(F.col("_h_a").bitwiseXOR(F.col("_h_b")))
    return (
        cands.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


def oversized_semantic_cells(
    embeddings: DataFrame, n_cells: int = 16, max_cell_size: int = 10000,
    seed: int = 0, n_refine: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Audit companion to :func:`semantic_dedup` (same pattern as
    :func:`oversized_lsh_buckets`): (cell, cell_n, pairs) for every
    k-means cell whose within-cell pair count would exceed the comparison
    budget — run it to decide whether ``n_cells`` needs to scale up
    BEFORE paying a quadratic cell. SemDeDup's own remedy for a hot cell
    is more cells (n_cells ~ N/1000), not edge capping: unlike LSH
    boilerplate buckets, a dense embedding cluster is exactly the
    structure the dedup must examine."""
    from qcardia_data_spark.functions.similarity import ivf_assign

    assigned, _ = ivf_assign(
        embeddings, n_cells, seed, n_refine, id_col=id_col, vec_col=vec_col
    )
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    pairs = (F.col("cell_n") * (F.col("cell_n") - 1) / 2).cast("long")
    return counts.withColumn("pairs", pairs).filter(
        F.col("cell_n") > max_cell_size
    )


def semantic_dedup(
    embeddings: DataFrame, n_cells: int = 16, threshold: float = 0.35,
    seed: int = 0, n_refine: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then drop
    within-cluster near-duplicates (cosine >= ``threshold``; the min-id
    member of each near-dup pair survives, matching the repo's
    exact/minhash dedup convention — SemDeDup's keep-farthest-from-centroid
    variant is one ``orderBy`` swap away).

    Returns the SURVIVOR rows of ``embeddings`` plus their ``cell``
    assignment.

    Scale shape: clustering bounds the pairwise stage to within-cell —
    O(sum cell_i^2), never global O(N^2). The one pairwise shuffle is keyed
    on ``cell``; at 100 TB pick ``n_cells ~ N / 1000`` (SemDeDup's own
    operating point) and materialize ``cell`` as a partition column
    (`ivf_write_partitioned`) so each cell's pair join is a co-located
    partition-local scan. Clustering itself is `ivf_assign`: md5-keyed
    deterministic seeding + posexplode/groupBy Lloyd rounds, mergeable and
    skew-free.
    """
    from qcardia_data_spark.functions.arrays import dot, l2_norm
    from qcardia_data_spark.functions.similarity import ivf_assign

    assigned, _ = ivf_assign(
        embeddings, n_cells, seed, n_refine, id_col=id_col, vec_col=vec_col
    )
    # per-SIDE norms once per row, dot-only per pair (same doubles as
    # full cosine — identical expressions on identical arrays)
    normed = assigned.withColumn("__n", l2_norm(F.col(vec_col)))
    a = normed.select(
        "cell", F.col(id_col).alias("__a"), F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = normed.select(
        "cell", F.col(id_col).alias("__b"), F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("__a") < F.col("__b"))
        .filter(
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select(F.col("__b").alias(id_col))
        .distinct()
    )
    return assigned.join(dups, id_col, "left_anti")


def window_hash_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 4, *, tokens: str | None = None
) -> DataFrame:
    """(id, wpos, whash) — one row per k-token window OCCURRENCE (not
    distinct: within-document repeats must count toward duplication, per
    the ExactSubstr semantics). Same explode-barrier discipline as
    shingle_rows; the per-window slice keeps expression work O(k_doc·k),
    fine for the small k this is used with.

    ``tokens``: name of a pre-tokenized array<string> column — when given,
    ``df`` is reused as-is (text_col ignored) so a caller that already
    tokenized (remove_duplicate_spans) doesn't pay the pass twice."""
    if tokens is not None:
        tok = df.select(F.col(id_col), F.col(tokens).alias("toks"))
    else:
        tok = df.select(
            F.col(id_col),
            F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks"),
        )
    n = F.size("toks")
    idx = F.sequence(F.lit(0), n - k)
    wh = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(F.col("toks"), i + 1, k), " "))
    )
    guarded = F.when(n >= k, wh).otherwise(F.array().cast("array<string>"))
    return tok.select(id_col, F.posexplode(guarded).alias("wpos", "whash"))


def remove_duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 4
) -> DataFrame:
    """[ext] Exact-substring deduplication à la Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (ACL 2022), ExactSubstr:
    instead of dropping whole near-duplicate documents, remove every token
    covered by a k-token window whose exact content occurs more than once
    in the corpus (across documents OR repeated within one). Untouched
    text survives; only the literally-duplicated spans go.

    Returns (id_col, clean_text, n_removed) for EVERY input document —
    fully-duplicated docs come back with clean_text = '' (the caller
    decides whether empty docs drop), untouched docs with their
    whitespace-normalized token stream and n_removed = 0.

    100 TB shape: window rows explode once — O(tokens) rows; the
    duplicated-window set reduces map-side on the whash shuffle; coverage
    positions blow up only by k × |duplicated windows| (bounded by the
    duplicated content itself, not the corpus); reconstruction is one
    anti-join plus one per-doc sort-agg, both O(tokens) with map-side
    partials. No pairwise stage anywhere — this is the span-level
    complement of the document-level MinHash path.
    """
    # tok feeds the position rows AND the per-doc token counts; win feeds
    # the duplicated-hash set AND the coverage join — checkpoint both so
    # the tokenizer/md5 passes run once (same lifecycle note as DSIR: at
    # cluster scale use a reliable checkpoint()).
    tok = df.select(
        F.col(id_col), F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks")
    ).localCheckpoint(eager=False)
    win = window_hash_rows(tok, id_col, text_col, k, tokens="toks").localCheckpoint(
        eager=False
    )
    dup = win.groupBy("whash").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    cover = (
        win.join(dup.select("whash"), "whash")
        .select(
            id_col,
            F.explode(F.sequence(F.col("wpos"), F.col("wpos") + (k - 1))).alias("pos"),
        )
        .distinct()
    )
    toks_pos = tok.select(id_col, F.posexplode("toks").alias("pos", "tok"))
    kept = toks_pos.join(cover, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos").alias("p"), F.col("tok").alias("t")))),
                lambda x: x["t"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    orig = tok.select(F.col(id_col), F.size("toks").alias("_n_toks"))
    return (
        orig.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("_n_toks") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    col_l: str,
    col_r: str,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """[ext] Edit-distance similarity join (q-gram SSJoin with PREFIX
    FILTERING, Chaudhuri et al.; positional prefixes à la Ed-Join):
    candidates come from an equi-join on each string's ``q·k + 1``
    globally-RAREST q-gram occurrences, then only candidates are verified
    with ``levenshtein`` — never the cross product, and never a join on
    hot stop-grams.

    Soundness: one edit destroys or shifts at most ``q`` q-gram
    occurrences, so strings within distance ``k`` share ≥
    |occ| − q·k aligned occurrences; with both sides' occurrence lists
    ordered by the SAME global (frequency, gram, position) key, the
    pigeonhole gives prefix(a) ∩ prefix(b) ≠ ∅ for prefix length
    ``q·k + 1``. The bound needs every string to carry MORE than ``q·k``
    gram occurrences (length ≥ q·k + q); SHORTER strings are routed to a
    dedicated length-banded pass (below) instead of joining on grams —
    the prefix filter would silently miss their pairs. Each side is
    reduced to DISTINCT strings first: the output is distinct pairs
    anyway, and duplicate input rows would double every gram's occurrence
    rank and break the pigeonhole bound (advisor-confirmed miss:
    left=[a,a] × right=[b] returned empty while deduplicated input found
    the pair).

    Short-string branch: a string shorter than ``q·k + q`` chars can only
    match partners shorter than ``q·k + q + k`` chars (|len diff| ≤ k),
    so BOTH sides of that branch are bounded-length. Candidates come from
    an equi-join on TWO blocking keys, each individually sound:
    ``floor(len / (k+1))`` length bands (strings within distance k sit in
    the same or adjacent bands — the left side explodes to its band ± 1)
    AND a shared CHARACTER (each edit touches at most one character of
    the longer side, so a pair within distance k with max(len) > k keeps
    ≥ max(len) − k ≥ 1 characters in common). Only pairs where BOTH
    sides are ≤ k chars ("tiny": "ab" vs "cd" at k=2 share nothing) fall
    back to band-only pairing — at most alphabet^k distinct values per
    side. levenshtein verifies all candidates. At 100 TB the branch is
    bounded by distinct short strings per (band, char) bucket — the char
    key splits the one-band-per-length blob that a large (e.g. unicode)
    alphabet would otherwise pack into a single all-pairs band.

    100 TB shape: gram rows are O(total chars); the global gram-frequency
    table reduces map-side; each long string then joins on only q·k + 1
    gram occurrences — and because prefixes take the RAREST grams,
    stop-grams ("th", digit runs) never drive the join. The first cut
    joined on ALL grams and went quadratic on shared hot grams: 52k
    strings with a common "unit NNNNN" suffix pattern did not finish in
    10 minutes; the prefix form finishes on the same corpus (543 s
    distinct-gram, 323 s positional — see PERF.md). There is no
    per-call validation job: routing is a plan-side length predicate.
    """
    if col_l == col_r:
        raise ValueError(
            "fuzzy_string_join: col_l and col_r must differ (the output "
            "carries both) — rename one side first"
        )
    from pyspark.sql.window import Window

    k = int(max_dist)
    min_grams = q * k + 1
    short_lim = q * k + q  # length < short_lim  ⇒  < min_grams q-grams
    near_lim = short_lim + k  # a short string's partner is < near_lim chars

    sa = left.select(F.col(col_l).alias("a_s")).distinct()
    sb = right.select(F.col(col_r).alias("b_s")).distinct()

    def grams_of(s: DataFrame, side: str) -> DataFrame:
        # POSITIONAL q-grams built by zipping q shifted char-array slices
        # — O(len) per row (never per-position substring, which scans
        # from the string head: the O(len²) trap PERF.md measures).
        # F.split(s, "") appends a trailing empty element (Java split
        # semantics); slice it off so grams are the L−q+1 PROPER q-grams —
        # a length ≥ q·k+q string still carries ≥ q·k+1 of them, and q=1
        # no longer emits a universal "" gram.
        name = f"{side}_s"
        chars = F.slice(F.split(F.col(name), ""), 1, F.length(name))
        n = F.length(name)
        # greatest(0, …): slice raises on negative lengths, and the
        # length-routing filter below does not stop Spark from evaluating
        # the projection speculatively inside the same stage
        g = F.slice(chars, 1, F.greatest(n - (q - 1), F.lit(0)))
        for off in range(1, q):
            g = F.zip_with(
                g,
                F.slice(chars, off + 1, F.greatest(n - (q - 1), F.lit(0))),
                lambda a, b: F.concat(a, b),
            )
        return (
            s.filter(F.length(name) >= short_lim)
            .select(F.col(name), g.alias("_g"))
            .select(name, F.posexplode("_g").alias(f"{side}_p", "gram"))
        )

    ga = grams_of(sa, "a")
    gb = grams_of(sb, "b")

    # ONE canonical gram order for both sides: global (frequency, gram)
    # ascending over the union of gram occurrences. Checkpointed — it
    # feeds both sides' prefix ranking.
    freqs = (
        ga.select("gram").unionByName(gb.select("gram"))
        .groupBy("gram").agg(F.count(F.lit(1)).alias("_gf"))
    ).localCheckpoint(eager=False)

    def prefix_of(g: DataFrame, side: str) -> DataFrame:
        w = Window.partitionBy(f"{side}_s").orderBy("_gf", "gram", f"{side}_p")
        return (
            g.join(freqs, "gram")
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= min_grams)
            .select(f"{side}_s", f"{side}_p", "gram")
        )

    # the position-band and length-band filters run INSIDE the gram join's
    # stage, BEFORE the distinct's exchange, so only aligned survivors are
    # shuffled. Measured on a deliberately low-gram-diversity 52k corpus
    # (10-word vocab + serial digits): all-grams join DNF (>600 s),
    # distinct-gram prefix 542 s, positional prefix 323 s — the residual
    # is candidate GENERATION, irreducible for signature joins when the
    # whole corpus shares a handful of grams; real key spaces have far
    # higher gram diversity (PERF.md).
    cand_long = (
        prefix_of(ga, "a").join(prefix_of(gb, "b"), "gram")
        .filter(F.abs(F.col("a_p") - F.col("b_p")) <= k)
        .filter(F.abs(F.length("a_s") - F.length("b_s")) <= k)
        .select("a_s", "b_s")
    )

    # Short branch: every pair with at least one side < short_lim chars.
    # Both participants are < near_lim chars. Blocking key = (length band,
    # shared character): |len(a) − len(b)| ≤ k ⇒ bands differ by ≤ 1 (the
    # left side explodes to {band−1, band, band+1}), and dist ≤ k with
    # max(len) > k ⇒ ≥ 1 character in common. Pairs where BOTH sides are
    # ≤ k chars can share no character at all — they pair on band alone
    # (≤ alphabet^k distinct values per side, all in bands {0, 1}).
    def short_keys(s: DataFrame, side: str, explode_band: bool) -> DataFrame:
        name = f"{side}_s"
        b = F.floor(F.length(name) / (k + 1))
        banded_df = (
            s.select(name, F.explode(F.array(b - 1, b, b + 1)).alias("_band"))
            if explode_band
            else s.select(name, b.alias("_band"))
        )
        chars = F.array_distinct(
            F.slice(F.split(F.col(name), ""), 1, F.length(name))
        )
        return banded_df.select(name, "_band", F.explode(chars).alias("_ch"))

    def banded(a_side: DataFrame, b_side: DataFrame) -> DataFrame:
        char_pairs = (
            short_keys(a_side, "a", explode_band=True)
            .join(short_keys(b_side, "b", explode_band=False), ["_band", "_ch"])
            .filter(F.abs(F.length("a_s") - F.length("b_s")) <= k)
            .select("a_s", "b_s")
        )
        ba = F.floor(F.length("a_s") / (k + 1))
        tiny_pairs = (
            a_side.filter(F.length("a_s") <= k)
            .select("a_s", F.explode(F.array(ba - 1, ba, ba + 1)).alias("_band"))
            .join(
                b_side.filter(F.length("b_s") <= k)
                .select("b_s", F.floor(F.length("b_s") / (k + 1)).alias("_band")),
                "_band",
            )
            .filter(F.abs(F.length("a_s") - F.length("b_s")) <= k)
            .select("a_s", "b_s")
        )
        return char_pairs.unionByName(tiny_pairs)

    a_short = sa.filter(F.length("a_s") < short_lim)
    b_short = sb.filter(F.length("b_s") < short_lim)
    a_near = sa.filter(F.length("a_s") < near_lim)
    b_near = sb.filter(F.length("b_s") < near_lim)
    cand_short = banded(a_short, b_near).unionByName(banded(a_near, b_short))

    cand = cand_long.unionByName(cand_short).distinct()
    return (
        cand.withColumn("dist", F.levenshtein("a_s", "b_s"))
        .filter(F.col("dist") <= k)
        .select(F.col("a_s").alias(col_l), F.col("b_s").alias(col_r), "dist")
    )


# ---------------------------------------------------------------------------
# Incremental near-dedup against a persisted signature index.
#
# The real 100 TB operating mode is not "re-sign the full corpus every run"
# but "dedup this week's crawl against the standing index" — sign ONLY the
# new batch, probe the index with partition pruning, and (optionally) fold
# the survivors back into the index. Same storage pattern as
# similarity.ivf_write_partitioned: bucket-partitioned parquet where a probe
# prunes whole FILES, verified by inputFiles in the test suite.
# ---------------------------------------------------------------------------


def _band_signature_frame(
    sh: DataFrame, id_col: str, n_bands: int
) -> DataFrame:
    """(id, band, sig) MinHash band signatures from (id, shingle) rows —
    the one-pass groupBy + stack() build shared by near_dedup_minhash and
    the signature index (bit-identical signatures is the contract that
    makes incremental == full-corpus dedup)."""
    return (
        sh.groupBy(id_col)
        .agg(*_band_mins(n_bands))
        .selectExpr(id_col, _stack_bands(n_bands))
    )


def _band_mins(n_bands: int) -> list:
    """Per-doc band-minimum aggregates ``s0 .. s{n_bands-1}``: band b is
    ``min(md5(shingle || '#b'))``."""
    return [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{b}")))).alias(f"s{b}")
        for b in range(n_bands)
    ]


def _stack_bands(n_bands: int) -> str:
    """``stack`` expression unpivoting the ``s<b>`` columns of
    :func:`_band_mins` into ``(band, sig)`` rows."""
    stack_expr = ", ".join(f"{b}, s{b}" for b in range(n_bands))
    return f"stack({n_bands}, {stack_expr}) as (band, sig)"


def _sig_bucket(col: Column, n_buckets: int) -> Column:
    """Partition key for the signature table: md5-derived, cross-run
    stable (NOT Spark-internal hash — the index outlives any session)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _id_bucket(col: Column, n_buckets: int) -> Column:
    return _sig_bucket(col.cast("string"), n_buckets)


def auto_index_buckets(n_rows: int, target_rows: int = 2048) -> int:
    """Corpus-sized partition-bucket count for a standing index — the
    operating rule the r13 append-scaling panel measured (PERF.md
    "Standing-index append scaling"): per-bucket occupancy stays
    ~``target_rows``, so a fixed-size batch's expected bucket coverage
    SHRINKS as the corpus grows and append read volume is bounded by the
    batch, not the index (flat 117k→126k sig rows across a 4× index in
    the panel; the 64-bucket big panel shows the saturated alternative
    reading O(index)). Power of two, floor 8 (tiny corpora should not
    shatter into per-row directories), capped at 2^20 — past ~2 G rows
    the occupancy grows instead of the directory count (a million
    partition directories is the filesystem-listing comfort limit; at
    100 TB that trades a bounded constant factor, not the asymptote).

    The panel's manual sizing replays exactly: 125k docs × 8 bands =
    1 M sig rows → 512; 2 M → 1,024; 4 M → 2,048.
    """
    import math

    if n_rows <= target_rows * 8:
        return 8
    return min(1 << 20, 2 ** math.ceil(math.log2(n_rows / target_rows)))


_NUMERIC_ID_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double"}
)


def _write_sig_meta(spark, path: str, meta: dict) -> None:
    readers.commit_meta_json(spark, path, "sig", meta)


def _id_as_meta_comparable(raw: str | None, id_type: str):
    """max_id is persisted as a string; compare numerically for numeric id
    types (lexicographic '9' > '10' would corrupt the monotone check).
    Integer types compare as exact ints — float would silently lose
    precision above 2^53, and 64-bit crawl ids are realistic."""
    if raw is None:
        return None
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    return float(raw) if id_type in _NUMERIC_ID_TYPES else raw


# per standing dedup index kind: the operator that appends batches to it
# and the function that builds it
_INDEX_OPS = {
    "sig": ("near_dedup_incremental", "write_signature_index"),
    "win": ("winnow_incremental", "write_winnow_index"),
    "h64": ("hamming64_index_probe", "write_hamming64_index"),
}


def _index_manifest(batch: DataFrame, path: str, kind: str, id_col: str):
    """``(manifest, batch id type)`` of the ``kind`` index at ``path``.
    Refuses an index without a manifest, and a batch whose id column or
    type differs from the index's (an id compared across types breaks
    the monotone check and the same-id guards)."""
    fn, build = _INDEX_OPS[kind]
    meta = readers.read_meta_json(batch.sparkSession, path, kind)
    if meta is None:
        raise ValueError(
            f"{fn}: no _meta.json at {path!r} — the index was not written "
            f"by {build} (or the path is wrong). Rebuild it; probing with "
            "guessed parameters silently misses duplicates."
        )
    id_type = batch.schema[id_col].dataType.simpleString()
    if (id_col, id_type) != (meta["id_col"], meta["id_type"]):
        raise ValueError(
            f"{fn}: batch id {id_col}:{id_type} differs from the index's "
            f"{meta['id_col']}:{meta['id_type']} at {path!r}"
        )
    return meta, id_type


def _admit_batch(
    spark, path: str, kind: str, meta: dict, id_type: str, lo, hi,
    allow_replay: bool, update_index: bool,
) -> None:
    """The one append guard of the standing dedup indexes. Refuses a
    batch whose min id ``lo`` does not exceed the manifest's ``max_id``
    unless ``allow_replay``; with ``update_index``, commits ``max_id``
    ratcheted to the batch max ``hi``. The caller appends the batch's
    rows only after this returns: a crash between the two then leaves a
    manifest that over-claims, so a replay is refused until
    ``allow_replay`` re-runs it, instead of one that under-claims, under
    which a batch overlapping half-appended rows would pass the guard
    and silently diverge. ``lo`` and ``hi`` range over the whole batch,
    kept and dropped rows alike: the next batch must clear this one
    entirely."""
    fn = _INDEX_OPS[kind][0]
    idx_max = _id_as_meta_comparable(meta.get("max_id"), id_type)
    if (
        not allow_replay
        and lo is not None
        and idx_max is not None
        and _id_as_meta_comparable(str(lo), id_type) <= idx_max
    ):
        raise ValueError(
            f"{fn}: batch min id {lo!r} does not exceed the index's max id "
            f"{meta['max_id']!r} — the min-id greedy requires monotonically "
            "increasing ids across batches (the monotone-id layout), or it "
            "silently keeps the wrong copies. Re-id the batch, or pass "
            "allow_replay=True if this is a retried batch being reprocessed "
            "against its own appended rows."
        )
    if update_index and hi is not None and (
        idx_max is None or _id_as_meta_comparable(str(hi), id_type) > idx_max
    ):
        ratcheted = {**meta, "max_id": str(hi)}
        if kind == "sig":  # its own name: perfbench traces it as index.write
            _write_sig_meta(spark, path, ratcheted)
        else:
            readers.commit_meta_json(spark, path, kind, ratcheted)


def _replace_partitioned(df: DataFrame, bucket: str, path: str) -> None:
    """Write ``df`` partitioned by ``bucket`` over the whole table at
    ``path``. Static partition overwrite is forced: under a session's
    ``partitionOverwriteMode=dynamic`` a rebuild from a smaller corpus
    would keep the prior build's untouched bucket directories, mixing
    old rows into the new index."""
    # cluster on the partition column before every bucket write (r16,
    # guide §6): one file per touched directory, created in parallel —
    # see sources.writers.cluster_for_partitioned_write
    cluster_for_partitioned_write(df, bucket).write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy(bucket).parquet(path)


def write_signature_index(
    df: DataFrame, id_col: str, text_col: str, path: str,
    n_bands: int = 8, shingle_n: int = 3,
    n_sig_buckets: int | str = 64, n_id_buckets: int | str = 64,
) -> None:
    """Build the MinHash dedup index for ``df`` (normally an
    already-deduped corpus), replacing any index at ``path``, as TWO
    bucket-partitioned parquet tables:

    - ``path/sigs``          (id, band, sig)  partitioned by sig_bucket
      — what a new batch band-joins against; the probe reads only the
      ``sig_bucket`` directories the batch's own signatures hash into.
    - ``path/shingle_sets``  (id, shingles)   partitioned by id_bucket
      — what Jaccard verification reads, pruned to the candidate ids'
      buckets (candidates are sparse: only verification's ids are read).

    Both partition keys are md5-derived (engine- and session-independent),
    so the index is appendable across runs: batches append to it through
    :func:`near_dedup_incremental` ``update_index``, the index's one
    append path.

    The build parameters and the corpus max id are persisted to the
    index manifest ``path/_meta.json`` (kind ``sig``; every standing
    index keeps one, so the index and its probes can never drift) —
    :func:`near_dedup_incremental` reads them back, validates any
    explicitly-passed parameters, and enforces the monotone-id
    precondition against ``max_id``.

    ``n_sig_buckets`` / ``n_id_buckets`` accept ``"auto"`` (VERDICT r13
    #2): the count is sized from the corpus being written via
    :func:`auto_index_buckets` — sig table from ``n_docs × n_bands``
    rows, shingle-set table from ``n_docs`` — the corpus-sized rule the
    r13 append-scaling panel measured as the flat-append regime. The
    RESOLVED ints are what the meta persists, so probes and appends see
    concrete geometry, never the sentinel; appends keep it frozen. For a
    corpus that will grow far past its initial size, size the initial
    build for the anticipated steady state (pass the explicit count) or
    rebuild when occupancy drifts — an append can never re-bucket.

    COST NOTE (ADVICE r14): an ``"auto"`` build runs one extra
    count/max aggregation over ``df`` before the write re-evaluates it;
    for an expensive or non-deterministic upstream plan, ``.persist()``
    the frame first or pass explicit counts (sizing is approximate, so
    drift affects occupancy only, never correctness)."""
    n_docs = batch_max = None
    if "auto" in (n_sig_buckets, n_id_buckets):
        stats = df.agg(
            F.count(F.lit(1)).alias("_n"), F.max(id_col).alias("_mx")
        ).first()
        n_docs, batch_max = int(stats["_n"]), stats["_mx"]
    params = {
        "n_bands": int(n_bands), "shingle_n": int(shingle_n),
        "n_sig_buckets": (
            auto_index_buckets(n_docs * int(n_bands))
            if n_sig_buckets == "auto" else int(n_sig_buckets)
        ),
        "n_id_buckets": (
            auto_index_buckets(n_docs)
            if n_id_buckets == "auto" else int(n_id_buckets)
        ),
        "id_col": id_col, "id_type": df.schema[id_col].dataType.simpleString(),
    }
    sh = shingle_rows(
        spread_small_scan(df, id_col), id_col, text_col, shingle_n
    ).persist()
    try:
        sigs = _band_signature_frame(sh, id_col, n_bands)
        _replace_partitioned(
            sigs.withColumn(
                "sig_bucket", _sig_bucket(F.col("sig"), params["n_sig_buckets"])
            ),
            "sig_bucket", f"{path}/sigs",
        )
        sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("shingles"))
        _replace_partitioned(
            sets.withColumn(
                "id_bucket", _id_bucket(F.col(id_col), params["n_id_buckets"])
            ),
            "id_bucket", f"{path}/shingle_sets",
        )
    finally:
        sh.unpersist()
    if batch_max is None:
        batch_max = df.agg(F.max(id_col)).first()[0]  # bounded: one scalar
    max_id = None if batch_max is None else str(batch_max)
    _write_sig_meta(df.sparkSession, path, {**params, "max_id": max_id})


def _observed_checkpoint(df: DataFrame, name: str, *metrics: Column):
    """Eager ``localCheckpoint`` of ``df`` and the aggregate ``metrics``
    computed in the same job, as ``(checkpoint, {alias: value})``.

    The metrics are read from the checkpoint's own query execution, not
    through ``pyspark.sql.Observation``: on Spark 4.1 that starts the
    session's ObservationManager, which cannot be serialized, and every
    later task that captures the session (a LogisticRegression model
    keeps it in its training summary) then fails "Task not
    serializable"."""
    from pyspark.serializers import CPickleSerializer

    observed = df.observe(name, *metrics)
    ckpt = observed.localCheckpoint(eager=True)
    row = observed._jdf.queryExecution().observedMetrics().apply(name)
    utils = df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return ckpt, CPickleSerializer().loads(utils.toPyRow(row)).asDict()


def near_dedup_incremental(
    new_docs: DataFrame, index_path: str, id_col: str, text_col: str,
    n_bands: int | None = None, shingle_n: int | None = None,
    threshold: float = 0.6,
    n_sig_buckets: int | None = None, n_id_buckets: int | None = None,
    max_bucket_size: int | None = 1000, star_rounds: int = 2,
    update_index: bool = False, allow_replay: bool = False,
) -> DataFrame:
    """Dedup a NEW batch against a persisted signature index (and within
    itself) WITHOUT re-signing the existing corpus. Returns the surviving
    new docs; with ``update_index`` their signatures and shingle sets are
    appended to the index, making the next batch incremental too.

    Build parameters come from the index's own manifest (written by
    :func:`write_signature_index`): leave ``n_bands``/``shingle_n``/
    ``n_sig_buckets``/``n_id_buckets`` as None to use the index's values;
    any explicitly-passed value is VALIDATED against the meta and a
    mismatch refuses loudly — a probe signed with different parameters
    than the index silently misses duplicates (wrong partitions pruned,
    incomparable signatures), which is exactly the drift the meta file
    exists to prevent.

    Semantics match the full run exactly: provided the index holds an
    already-deduped corpus whose ids precede the batch's (the standard
    monotonically-increasing crawl-id layout) and no LSH bucket overflows
    ``max_bucket_size`` (the hot-bucket star guard fires on neither side —
    bucket sizes differ between batch-only and combined-corpus runs, so a
    guard-triggering boilerplate-heavy corpus can diverge), the union of
    index docs and this function's survivors equals ``near_dedup_minhash``
    over the combined corpus (index docs carry no verified pairs among
    themselves — the min-id greedy's survivor invariant — so the full run
    could only drop BATCH docs, and it drops exactly those with a verified
    pair to an index doc or a smaller batch doc: precisely this function's
    losers). The monotone-id half of that precondition is ENFORCED: the
    batch's min id must exceed the index meta's ``max_id`` or this raises
    ``ValueError`` (``allow_replay=True`` waives it for the streaming
    intake's retried micro-batches, whose ids legitimately overlap their
    own appended copies — the same-id guard below keeps the replay
    idempotent). With ``update_index`` the manifest's ``max_id`` is
    committed before the rows are appended, so a crash in between leaves
    the batch refused until ``allow_replay`` re-runs it, never silently
    accepted. Property-tested against the full run in
    tests/test_incremental_dedup.py.

    100 TB shape: the batch is signed once (O(batch) work); the index side
    is read with ``sig_bucket IN (batch's buckets)`` — a PARTITION filter
    that prunes whole files — and verification reads only the candidate
    ids' ``id_bucket`` directories. Both bucket sets are observed on
    checkpoints the append runs anyway (no collect, no extra job) and
    are bounded by ``n_sig_buckets`` / ``n_id_buckets`` values, never by
    corpus or batch size. An append runs five Spark actions: the signed
    batch, the candidate pairs and the verified losers are each
    checkpointed once, then the two index tables are appended from the
    signed checkpoint. Batch-internal candidates keep the hot-bucket
    star guard; batch×index candidates are exact within each (band, sig)
    bucket — a new doc needs ONE verified index match to be dropped, and
    equality of a full band signature is already a strong filter.
    """
    spark = new_docs.sparkSession
    meta, id_type = _index_manifest(new_docs, index_path, "sig", id_col)
    caller = {
        "n_bands": n_bands, "shingle_n": shingle_n,
        "n_sig_buckets": n_sig_buckets, "n_id_buckets": n_id_buckets,
    }
    drift = {
        k: (meta[k], v)
        for k, v in caller.items()
        if v is not None and int(v) != int(meta[k])
    }
    if drift:
        raise ValueError(
            f"near_dedup_incremental: parameters differ from the index at "
            f"{index_path!r} (meta vs caller): {drift} — pass None to use "
            "the index's own values."
        )
    n_bands, shingle_n = int(meta["n_bands"]), int(meta["shingle_n"])
    n_sig_buckets = int(meta["n_sig_buckets"])
    n_id_buckets = int(meta["n_id_buckets"])

    # --- sign once: ONE aggregate yields each doc's shingle set and its
    # band minima (bit-identical to _band_signature_frame); its checkpoint
    # is the only copy of the batch later steps read. The checkpoint's job
    # also observes the batch id range and the probe's sig_bucket set.
    # Docs without shingles keep a row so the id range covers them (an
    # observation below the aggregate is lost when AQE folds an all-empty
    # shingle stage away) ---
    signed, seen = _observed_checkpoint(
        shingle_rows(
            spread_small_scan(new_docs, id_col), id_col, text_col, shingle_n,
            keep_empty=True,
        )
        .groupBy(id_col)
        .agg(F.collect_list("shingle").alias("_s"), *_band_mins(n_bands)),
        "near_dedup_incremental.sign",
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi"),
        F.array_distinct(F.flatten(F.array(*[
            F.collect_set(_sig_bucket(F.col(f"s{b}"), n_sig_buckets))
            for b in range(n_bands)
        ]))).alias("buckets"),  # bounded: ≤ n_sig_buckets values
    )
    _admit_batch(
        spark, index_path, "sig", meta, id_type, seen["lo"], seen["hi"],
        allow_replay, update_index,
    )
    probe_buckets = seen["buckets"]
    signed_docs = signed.filter(F.size("_s") > 0)
    sigs_new = signed_docs.selectExpr(id_col, _stack_bands(n_bands))

    # --- both candidate kinds in ONE frame (a, b, _src); the batch doc b
    # is the loser of either kind. Batch-internal pairs (_src 0) keep the
    # hot-bucket star guard; batch × index pairs (_src 1) read only the
    # sig_bucket directories the batch's signatures hash into ---
    pairs = lsh_candidate_pairs(
        sigs_new, id_col, max_bucket_size=max_bucket_size,
        hub_ranks=(
            list(range(star_rounds)) if max_bucket_size is not None else None
        ),
    ).withColumn("_src", F.lit(0))
    # the manifest implies the index schemas: no footer-read job
    id_ddl = f"`{id_col}` {id_type}"
    if probe_buckets:
        idx_sigs = readers.read_pruned_partitions(
            spark, f"{index_path}/sigs", "sig_bucket", probe_buckets,
            schema=f"{id_ddl}, band INT, sig STRING, sig_bucket INT",
        )
        pairs = pairs.unionByName(
            sigs_new.join(
                idx_sigs.select("band", "sig", F.col(id_col).alias("_idx_id")),
                ["band", "sig"],
            )
            # same-id pairs only exist when the batch was ALREADY appended
            # to the index (a retried micro-batch in the streaming intake);
            # without this guard a retry matches every survivor against its
            # own index copy at jaccard 1.0 and drops the whole batch. In
            # the normal flow ids are unique across index ∪ batch, so this
            # is a no-op — it makes reprocessing idempotent.
            .filter(F.col(id_col) != F.col("_idx_id"))
            .select(
                F.col("_idx_id").alias("a"), F.col(id_col).alias("b"),
                F.lit(1).alias("_src"),
            )
            .distinct()
        )
    cands, seen = _observed_checkpoint(
        pairs, "near_dedup_incremental.candidates",
        F.collect_set(
            F.when(F.col("_src") == 1, _id_bucket(F.col("a"), n_id_buckets))
        ).alias("buckets"),  # bounded: ≤ n_id_buckets values
    )
    set_buckets = seen["buckets"]

    # --- one verify: each pair joins the set of its own source (under
    # allow_replay an index id keeps its index copy); the index side reads
    # only the candidate ids' id_bucket directories ---
    a_sets = signed.select(F.col(id_col).alias("a"), F.lit(0).alias("_src"), "_s")
    if set_buckets:
        a_sets = a_sets.unionByName(
            readers.read_pruned_partitions(
                spark, f"{index_path}/shingle_sets", "id_bucket", set_buckets,
                schema=f"{id_ddl}, shingles ARRAY<STRING>, id_bucket INT",
            ).select(
                F.col(id_col).alias("a"), F.lit(1).alias("_src"),
                F.col("shingles").alias("_s"),
            )
        )
    dups = _jaccard_of_sets(
        cands, a_sets, signed.select(F.col(id_col).alias("b"), "_s"),
        threshold, a_on=("a", "_src"),
    )

    # HARD materialization barrier (localCheckpoint, not persist): the
    # loser plan reads the index, and update_index appends to that same
    # index below — a lazy/cached plan re-evaluated after the append would
    # match every appended survivor AGAINST ITSELF (jaccard 1.0) and drop
    # it. Checkpointing truncates the lineage so later evaluations of
    # ``kept`` never re-read the index. losers is tiny: one id column,
    # verified duplicates only.
    losers, seen = _observed_checkpoint(
        dups.select(F.col("b").alias(id_col)).distinct(),
        "near_dedup_incremental.losers", F.count(F.lit(1)).alias("n"),
    )
    # the planner sizes a checkpoint by its source plan's estimate (here a
    # product of join sizes), so every anti join below would shuffle both
    # sides; the observed row count, at 8 bytes an id, decides instead
    if seen["n"] * 8 <= (
        spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    ):
        losers = F.broadcast(losers)
    kept = new_docs.join(losers, on=id_col, how="left_anti")
    if update_index:
        # the appended rows come from the signed checkpoint, so neither
        # write re-reads or re-signs the batch
        appended = signed_docs.join(losers, id_col, "left_anti")
        (
            cluster_for_partitioned_write(
                appended.selectExpr(id_col, _stack_bands(n_bands)).withColumn(
                    "sig_bucket", _sig_bucket(F.col("sig"), n_sig_buckets)
                ),
                "sig_bucket",
            )
            .write.mode("append").partitionBy("sig_bucket")
            .parquet(f"{index_path}/sigs")
        )
        (
            cluster_for_partitioned_write(
                appended.select(F.col(id_col), F.col("_s").alias("shingles"))
                .withColumn("id_bucket", _id_bucket(F.col(id_col), n_id_buckets)),
                "id_bucket",
            )
            .write.mode("append").partitionBy("id_bucket")
            .parquet(f"{index_path}/shingle_sets")
        )
    return kept


# ---------------------------------------------------------------------------
# Winnowing standing index — the incremental operating mode of the MOSS tier
# ---------------------------------------------------------------------------

def write_winnow_index(
    df: DataFrame, id_col: str, text_col: str, path: str,
    k: int = 3, w: int = 4, n_fp_buckets: int | str = 64,
) -> None:
    """Build the winnowing fingerprint index for ``df``, replacing any
    index at ``path``, as ONE fp-bucket-partitioned parquet table
    (id, fp) — the standing-index form of :func:`winnow_share_pairs`'s
    left side, the signature-index pattern applied to the MOSS tier:
    params + id type + corpus max_id frozen in the index's manifest;
    batches append through :func:`winnow_incremental` ``update_index``,
    which validates the params and ratchets ``max_id``. Because
    winnowing samples ~2/(w+1) of grams, this index is ~5x smaller than
    the signature index's shingle sets for the same detection guarantee
    class.

    ``n_fp_buckets`` accepts ``"auto"`` (VERDICT r13 #2): sized from the
    EXACT distinct (id, fp) row count being written (the fp frame is
    persisted across the count and the write — one fingerprint pass)
    via :func:`auto_index_buckets`, the corpus-sized flat-append rule.
    The meta persists the resolved int; appends keep it frozen."""
    from qcardia_data_spark.functions.text import winnow_fingerprints

    fps = (
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
        .select(id_col, "fp")
        .distinct()
    )
    if n_fp_buckets == "auto":
        fps = fps.persist()
        n_fp_buckets = auto_index_buckets(fps.count())
    params = {
        "k": int(k), "w": int(w), "n_fp_buckets": int(n_fp_buckets),
        "id_col": id_col, "id_type": df.schema[id_col].dataType.simpleString(),
    }
    try:
        _replace_partitioned(
            fps.withColumn(
                "fp_bucket", _sig_bucket(F.col("fp"), params["n_fp_buckets"])
            ),
            "fp_bucket", f"{path}/fps",
        )
    finally:
        fps.unpersist()
    batch_max = df.agg(F.max(id_col)).first()[0]
    max_id = None if batch_max is None else str(batch_max)
    readers.commit_meta_json(
        df.sparkSession, path, "win", {**params, "max_id": max_id}
    )


def winnow_incremental(
    new_docs: DataFrame, index_path: str,
    id_col: str = "doc_id", text_col: str = "text",
    k: int | None = None, w: int | None = None,
    min_shared: int = 2, max_df: int = 20,
    update_index: bool = False, allow_replay: bool = False,
) -> DataFrame:
    """Winnow-dedup a NEW batch against the standing fingerprint index
    (and within itself) without re-fingerprinting the corpus: the batch
    fingerprints only itself (map-only), probes ONLY its own fp_bucket
    partition directories, and drops every batch doc sharing
    >= ``min_shared`` surviving fingerprints with ANY lower id (index or
    batch — the min-id greedy, so under the monotone-id layout the
    batch-wise result composes like the full run). Params come from
    the index manifest; explicit values are validated (drift refuses
    loudly);
    batch ids at or below the index's ``max_id`` refuse unless
    ``allow_replay`` (the retried-micro-batch escape — same-id rows
    dedup in the pool, so a replay converges).

    ``max_df`` counts a fingerprint's docs over (probed index ∪ batch):
    exact w.r.t. the corpus so far, which matches the full-corpus run
    whenever no fingerprint crosses ``max_df`` between a batch's turn
    and the end of the corpus (the same qualification as the LSH
    star-guard equivalence; the tests pin the within-regime identity).

    With ``update_index`` the manifest's ``max_id`` is committed first,
    then the SURVIVORS' fingerprints append to the index (through a
    lineage-severing localCheckpoint — the appended frame's plan reads
    the index, and a lazy re-read mid-append would self-match). A crash
    between the two leaves the batch refused until ``allow_replay``
    re-runs it.
    """
    spark = new_docs.sparkSession
    meta, id_type = _index_manifest(new_docs, index_path, "win", id_col)
    for name, val in (("k", k), ("w", w)):
        if val is not None and int(val) != int(meta[name]):
            raise ValueError(
                f"winnow_incremental: {name}={val} != index {name}="
                f"{meta[name]} at {index_path!r} — reprobe with the "
                "index's own parameters"
            )
    kk, ww = int(meta["k"]), int(meta["w"])
    n_fp_buckets = int(meta["n_fp_buckets"])
    ids = new_docs.agg(F.min(id_col), F.max(id_col)).first()
    _admit_batch(
        spark, index_path, "win", meta, id_type, ids[0], ids[1],
        allow_replay, update_index,
    )
    from qcardia_data_spark.functions.text import winnow_fingerprints

    bfps = (
        winnow_fingerprints(new_docs, id_col, text_col, k=kk, w=ww)
        .select(F.col(id_col).alias("_id"), "fp")
        .distinct()
        .withColumn("fp_bucket", _sig_bucket(F.col("fp"), n_fp_buckets))
        .persist()
    )
    try:
        buckets = [
            r["fp_bucket"]
            for r in bfps.select("fp_bucket").distinct().collect()
        ]  # bounded driver collect: <= n_fp_buckets rows
        idx = readers.read_pruned_partitions(
            spark, f"{index_path}/fps", "fp_bucket", buckets
        ).select(F.col(id_col).alias("_id"), "fp")
        pool = idx.unionByName(bfps.select("_id", "fp")).distinct()
        ok = (
            pool.groupBy("fp").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df).select("fp")
        )
        a = bfps.select("fp", F.col("_id").alias("a")).join(ok, "fp")
        b = pool.select("fp", F.col("_id").alias("b"))
        losers = (
            a.join(b, "fp")
            .filter(F.col("b") < F.col("a"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("shared"))
            .filter(F.col("shared") >= min_shared)
            .select(F.col("a").alias(id_col))
            .distinct()
        )
        kept = new_docs.join(losers, id_col, "left_anti")
        if update_index:
            kept_fps = (
                bfps.join(
                    kept.select(F.col(id_col).alias("_kid")),
                    bfps["_id"] == F.col("_kid"),
                    "left_semi",
                )
                .select(F.col("_id").alias(id_col), "fp", "fp_bucket")
                .localCheckpoint(eager=True)  # sever the index-read lineage
            )
            cluster_for_partitioned_write(kept_fps, "fp_bucket").write.mode(
                "append"
            ).partitionBy("fp_bucket").parquet(f"{index_path}/fps")
        return kept
    finally:
        bfps.unpersist()


# ---------------------------------------------------------------------------
# Hamming-64 standing index — the Manku engine's incremental operating mode
# (shared by text SimHash and the image/audio/video fingerprint families)
# ---------------------------------------------------------------------------


def _h64_blocks(sig: DataFrame, id_col: str, k: int) -> DataFrame:
    """One row per (id, blk, val) with lo/hi carried for the verify —
    the same block derivation as hamming_near_pairs64."""
    n_blocks = k + 1
    width = 64 // n_blocks
    mask = (1 << width) - 1
    rows = []
    for b in range(n_blocks):
        lo_bit = b * width
        half = "lo" if lo_bit < 32 else "hi"
        off = lo_bit % 32
        rows.append(
            sig.select(
                F.col(id_col), "lo", "hi", F.lit(b).alias("blk"),
                F.shiftright(F.col(half), off)
                .bitwiseAND(F.lit(mask)).alias("val"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _h64_kb(k: int, n_key_buckets: int) -> Column:
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("blk"), F.col("val"))), 1, 8
            ), 16, 10,
        ).cast("long"),
        F.lit(int(n_key_buckets)),
    ).cast("int")


def write_hamming64_index(
    sig: DataFrame, path: str, id_col: str = "doc_id",
    max_hamming: int = 3, n_key_buckets: int | str = 64,
) -> None:
    """Build the Manku blocking index for a 64-bit signature table
    ``(id, lo, hi)``, replacing any index at ``path`` — the standing
    form of :func:`hamming_near_pairs64`, shared by every signature
    family (text simhash64, image pHash, audio Haitsma-Kalker frames,
    video frame pHash): one row per (id, block, block-value) with lo/hi
    carried for the verify, partitioned by ``kb = md5(block#value) mod
    n`` so a probe reads ONLY the key buckets its own blocks hash into.
    Params + id type + corpus max_id frozen in the ``h64`` manifest;
    batches append through :func:`hamming64_index_probe`
    ``update_index``, which ratchets ``max_id``.

    ``n_key_buckets`` accepts ``"auto"`` (VERDICT r13 #2): sized from
    the block-table row count — exactly ``n_sigs × (max_hamming + 1)``
    blocks — via :func:`auto_index_buckets`, the corpus-sized
    flat-append rule. The meta persists the resolved int; appends keep
    it frozen. COST NOTE (ADVICE r14): an ``"auto"`` build runs one
    extra count/max aggregation over ``sig`` before the write
    re-evaluates it — persist an expensive upstream plan first or pass
    an explicit count."""
    k = int(max_hamming)
    if 64 % (k + 1) != 0 or 32 % (64 // (k + 1)) != 0:
        raise ValueError(
            "write_hamming64_index: max_hamming must be in 1, 3, 7, 15, 31"
        )
    batch_max = None
    if n_key_buckets == "auto":
        stats = sig.agg(
            F.count(F.lit(1)).alias("_n"), F.max(id_col).alias("_mx")
        ).first()
        n_key_buckets = auto_index_buckets(int(stats["_n"]) * (k + 1))
        batch_max = stats["_mx"]
    params = {
        "max_hamming": k, "n_key_buckets": int(n_key_buckets),
        "id_col": id_col, "id_type": sig.schema[id_col].dataType.simpleString(),
    }
    _replace_partitioned(
        _h64_blocks(sig, id_col, k).withColumn(
            "kb", _h64_kb(k, params["n_key_buckets"])
        ),
        "kb", f"{path}/blocks",
    )
    if batch_max is None:
        batch_max = sig.agg(F.max(id_col)).first()[0]
    max_id = None if batch_max is None else str(batch_max)
    readers.commit_meta_json(
        sig.sparkSession, path, "h64", {**params, "max_id": max_id}
    )


def hamming64_index_probe(
    batch_sig: DataFrame, index_path: str, id_col: str = "doc_id",
    update_index: bool = False, allow_replay: bool = False,
) -> DataFrame:
    """Find every (batch id, partner id, hamming) pair within the index's
    ``max_hamming``, where the partner is any OTHER signature in the
    standing index or the batch itself — without re-blocking the corpus:
    the batch blocks only itself and reads ONLY the key-bucket
    directories its blocks hash into. Monotone-id refusal with the
    ``allow_replay`` escape (replayed same-id rows dedup in the
    candidate distinct); ``update_index`` commits the manifest's
    ``max_id`` first, then appends the batch's blocks through a
    lineage-severing checkpoint, so a crash between the two leaves the
    batch refused until ``allow_replay`` re-runs it. Pair output keeps
    partner on ``b``; under the monotone layout ``b < a`` for index
    partners, so "drop matched batch items" is one anti-join away — the
    policy stays with the caller (media families keep cluster-best
    candidates, dedup drops them)."""
    spark = batch_sig.sparkSession
    meta, id_type = _index_manifest(batch_sig, index_path, "h64", id_col)
    k = int(meta["max_hamming"])
    n_kb = int(meta["n_key_buckets"])
    ids = batch_sig.agg(F.min(id_col), F.max(id_col)).first()
    _admit_batch(
        spark, index_path, "h64", meta, id_type, ids[0], ids[1],
        allow_replay, update_index,
    )
    bblocks = _h64_blocks(batch_sig, id_col, k).withColumn(
        "kb", _h64_kb(k, n_kb)
    ).persist()
    try:
        buckets = [
            r["kb"] for r in bblocks.select("kb").distinct().collect()
        ]  # bounded: <= n_key_buckets
        idx = readers.read_pruned_partitions(
            spark, f"{index_path}/blocks", "kb", buckets
        )
        pool = idx.select(id_col, "lo", "hi", "blk", "val").unionByName(
            bblocks.select(id_col, "lo", "hi", "blk", "val")
        )
        a = bblocks.select(
            F.col(id_col).alias("a"), F.col("lo").alias("_lo_a"),
            F.col("hi").alias("_hi_a"), "blk", "val",
        )
        b = pool.select(
            F.col(id_col).alias("b"), F.col("lo").alias("_lo_b"),
            F.col("hi").alias("_hi_b"), "blk", "val",
        )
        cands = (
            a.join(b, ["blk", "val"])
            .filter(F.col("a") != F.col("b"))
            .select("a", "b", "_lo_a", "_hi_a", "_lo_b", "_hi_b")
            .distinct()
        )
        ham = (
            F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
            + F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        )
        pairs = cands.select("a", "b", ham.alias("hamming")).filter(
            F.col("hamming") <= k
        )
        if update_index:
            to_append = bblocks.localCheckpoint(eager=True)
            cluster_for_partitioned_write(to_append, "kb").write.mode(
                "append"
            ).partitionBy("kb").parquet(f"{index_path}/blocks")
        return pairs
    finally:
        bblocks.unpersist()
