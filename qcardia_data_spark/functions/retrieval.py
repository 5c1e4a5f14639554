"""[ext] Sparse lexical retrieval over document tables (SURVEY §2.14).

BM25 (Robertson/Spärck Jones Okapi weighting, the Lucene `k1`/`b` variant)
as pure Spark SQL, plus a term-bucket-partitioned inverted-index layout so
a 100 TB corpus answers keyword queries without rescanning documents.

Scale shape:
- Scoring touches only (doc, query-term) matches: the per-row token filter
  runs BEFORE the explode, so non-matching tokens never become rows.
- Per-term document frequencies are at most |query| rows → broadcast.
- Top-k is ``orderBy().limit(k)`` → Spark's TakeOrderedAndProject
  (per-partition heaps + driver merge, O(k) memory at any scale).
- The persisted index is partitioned by ``term_bucket`` so a probe prunes
  to |query| partitions (same layout discipline as the IVF cell table,
  `similarity.py::ivf_write_partitioned`).

Reference analog: the reference has no retrieval surface; this extends the
text-pipeline family (SURVEY §2.14) the way a pretraining-data stack needs
(e.g. eval-set leak hunting / targeted corpus slicing by keyword).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qcardia_data_spark.functions.text import word_tokens
from qcardia_data_spark.sources import readers
from qcardia_data_spark.sources.writers import cluster_for_partitioned_write


_RESERVED_INTERNAL = frozenset(
    {"dl", "term", "toks", "tf", "df", "pos", "wd", "anchor", "j",
     "score", "term_bucket", "n_hits"}
)


def _check_id_col(id_col: str, where: str) -> None:
    """Refuse id columns that collide with this module's internal working
    names — 'term'/'dl'/... as an id would alias the explode outputs and
    either raise AMBIGUOUS_REFERENCE mid-job or group on the wrong column
    (r10 review; the commit-66b3f46 carry-clash pattern)."""
    if id_col in _RESERVED_INTERNAL:
        raise ValueError(
            f"{where}: id_col {id_col!r} collides with an internal working "
            f"column — rename it (reserved: {sorted(_RESERVED_INTERNAL)})"
        )


def _match_rows(
    docs: DataFrame, query_terms: list[str], id_col: str, text_col: str
) -> DataFrame:
    """(id, dl, term) rows — one row per occurrence of a query term.

    The tokenizer output crosses an ``explode(array(...))`` barrier (the
    shingle_rows lesson: higher-order lambdas get no cross-reference CSE),
    then ``filter(toks, isin(query))`` drops non-query tokens BEFORE the
    row explode — the exploded row count is O(matches), not O(tokens).
    """
    tok = docs.select(
        F.col(id_col), F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks")
    )
    return tok.select(
        id_col,
        F.size("toks").alias("dl"),
        F.explode(F.filter(F.col("toks"), lambda w: w.isin(*query_terms))).alias("term"),
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 score per document containing ≥1 query term.

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))        (Lucene form —
               nonnegative even for df > N/2)
    score(d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Exchanges: one groupBy(id, term) with map-side combine over the
    match rows, two scalar one-row aggregates (N, avgdl) attached by
    1-row cross-join (plan-side, no driver collect), one broadcast join
    on the ≤|query|-row df table, one final per-doc sum. The corpus is
    scanned twice (stats + matches) — at 100 TB both scans prune to
    (id, text) and the stats scan aggregates map-side to one row.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    _check_id_col(id_col, "bm25_scores")
    # tokens are lowercased by word_tokens — normalize the query the same
    # way, or an uppercase term would silently match nothing
    query_terms = sorted({t.lower() for t in query_terms})
    stats = docs.select(
        F.size(word_tokens(F.col(text_col))).alias("_dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("_dl").alias("avgdl"),
    )

    matches = _match_rows(docs, query_terms, id_col, text_col)
    tf = matches.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))  # 1-row scalar attachment
        .select(
            F.col(id_col),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("_c"),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("_c").alias("score"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 retrieval (deterministic tie-break on id)."""
    s = bm25_scores(docs, query_terms, id_col, text_col, k1=k1, b=b)
    return s.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Inverted-index layout: probe without rescanning the corpus
# ---------------------------------------------------------------------------

N_TERM_BUCKETS = 64


def term_bucket(term, n_buckets: int = N_TERM_BUCKETS):
    """Stable md5 bucket for a term (cross-engine: conv(substr(md5,1,8))).

    Bucketing (vs partition-per-term) bounds the partition count at any
    vocabulary size; a probe reads |query| buckets."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    ).cast("int")


def build_inverted_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """Materialize postings (term, id, tf, dl) partitioned by term_bucket,
    plus a 1-row `_stats` side table (n_docs, avgdl).

    At 100 TB this is the one corpus-wide pass; every later keyword query
    reads only its terms' buckets (verified file pruning in
    `test_retrieval.py`)."""
    marker = readers.read_meta_json(docs.sparkSession, path)
    if marker is not None and marker["kind"] != "bm25":
        raise ValueError(
            f"build_inverted_index: {path!r} holds a {marker['kind']} "
            f"index — both kinds write {path + '/postings'!r} with "
            "incompatible schemas; use a fresh path"
        )
    tok = docs.select(
        F.col(id_col), F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks")
    )
    postings = (
        tok.select(
            id_col, F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("term_bucket", term_bucket(F.col("term"), n_buckets))
    )
    # force STATIC partition overwrite: under the session-level
    # partitionOverwriteMode=dynamic, a same-kind rebuild from a
    # smaller corpus would leave the prior build's extra term_bucket
    # partitions in place, silently mixing old and new postings
    # (ADVICE r11). Static drops the whole postings dir first.
    cluster_for_partitioned_write(postings, "term_bucket").write.mode(
        "overwrite"
    ).option(
        "partitionOverwriteMode", "static"
    ).partitionBy("term_bucket").parquet(
        f"{path}/postings"
    )
    docs.select(F.size(word_tokens(F.col(text_col))).alias("_dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("_dl").alias("avgdl")
    ).write.mode("overwrite").parquet(f"{path}/_stats")
    # the manifest carries the LAYOUT geometry too (r13 review): probes
    # must bucket with the index's own n_buckets — a caller-supplied
    # count that differs from the build reads the WRONG partition
    # directories with no error signal (the CMS-store drift class)
    readers.commit_meta_json(
        docs.sparkSession, path, "bm25", {"n_buckets": int(n_buckets)}
    )


def _resolve_index_buckets(
    spark: SparkSession, path: str, caller: int | None, who: str, kind: str,
) -> int:
    """Bucket count for probing the ``kind`` index at ``path``: the
    index's OWN geometry from its manifest (r13 — the CMS-store
    contract), with an explicitly-passed caller value VALIDATED against
    it (mismatch refuses loudly: probing with a different count reads
    the wrong partition directories silently). An index with no manifest
    refuses too: nothing records the count it was built with, so any
    guess may read the wrong partitions — rebuild it, and the build
    writes its geometry."""
    marker = readers.read_meta_json(spark, path, kind)
    if marker is None:
        raise ValueError(
            f"{who}: no _meta.json at {path!r} — nothing records the "
            "n_buckets this index was built with, so a probe could read "
            "the wrong partitions; rebuild the index (the build writes "
            "its geometry)"
        )
    meta_n = int(marker["n_buckets"])
    if caller is not None and int(caller) != meta_n:
        raise ValueError(
            f"{who}: n_buckets={caller} differs from the index's own "
            f"layout at {path!r} (built with n_buckets={meta_n}) — "
            "pass None to use the index's value; probing with a "
            "different count reads the wrong partitions silently"
        )
    return meta_n


def _stats_exists(spark: SparkSession, path: str) -> bool:
    """True when a pre-marker BM25 index lives at ``path`` (its `_stats`
    side table exists) — FS-agnostic probe through the reader."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(f"{path}/_stats").schema
        return True
    except AnalysisException as e:
        if readers.is_path_not_found(e):
            return False
        raise


def bm25_topk_from_index(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> DataFrame:
    """BM25 top-k over a persisted inverted index — no corpus scan.

    The ``term_bucket IN (...)`` predicate is a partition filter (the
    bucket values are computed driver-side from the query terms), so the
    parquet source lists only |query| directories; the residual
    ``term IN (...)`` prunes within-bucket collisions via row-group stats.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    _check_id_col(id_col, "bm25_topk_from_index")
    n_buckets = _resolve_index_buckets(
        spark, path, n_buckets, "bm25_topk_from_index", "bm25"
    )
    query_terms = sorted({t.lower() for t in query_terms})  # postings are lowercase
    # bucket ids via the index's OWN bucketing expression (the
    # phrase_occurrences_from_index stance): a hand-rolled driver-side
    # hash could silently drift from the layout and read the wrong
    # partitions with no error signal (r10 review)
    buckets = sorted(
        r["b"]
        for r in spark.createDataFrame([(t,) for t in query_terms], ["term"])
        .select(term_bucket(F.col("term"), n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    postings = readers.read_pruned_partitions(
        spark, f"{path}/postings", "term_bucket", buckets
    ).filter(F.col("term").isin(query_terms))
    stats = spark.read.parquet(f"{path}/_stats")
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("_c"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.sum("_c").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def phrase_occurrences(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[ext] Exact phrase search — consecutive-token match counts per
    document, the positional-postings capability keyword BM25 lacks.
    The adjusted-position trick makes it pure joins: token rows
    (id, term, pos) filtered to the phrase's terms join a tiny (j, term)
    phrase frame (broadcast); a hit anchored at p exists iff group
    (id, anchor = pos - j) covers ALL j slots — count(DISTINCT j) =
    len(phrase) — which handles repeated phrase terms exactly (one
    token can only fill the slot its offset puts it in). Returns
    (id, n_hits) for matching docs.

    100 TB: the term filter lands ON the token explode (only phrase
    terms survive into the shuffle); one groupBy on (id, anchor), one
    on id. With a positional index the same algebra runs off persisted
    postings — the build is the one corpus pass, as in
    :func:`build_inverted_index`.
    """
    if not phrase:
        raise ValueError("phrase_occurrences: phrase must be non-empty")
    _check_id_col(id_col, "phrase_occurrences")
    # corpus tokens are lowercased by word_tokens — normalize the phrase
    # the same way or an uppercase term silently matches nothing (the
    # bm25_scores rule; slot order preserved, so no sort/dedup)
    phrase = [t.lower() for t in phrase]
    spark = docs.sparkSession
    ph = spark.createDataFrame(
        [(j, t) for j, t in enumerate(phrase)], ["j", "term"]
    )
    tok = docs.select(
        F.col(id_col),
        F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks"),
    )
    pos_rows = tok.select(
        id_col, F.posexplode("toks").alias("pos", "wd")
    )
    m = pos_rows.join(
        F.broadcast(ph), pos_rows["wd"] == ph["term"]
    ).select(id_col, (F.col("pos") - F.col("j")).alias("anchor"), "j")
    # no distinct: (id, anchor, j) is unique by construction (anchor =
    # pos - j pins pos for a given j) — the old distinct() forced a full
    # extra shuffle of the widest intermediate for nothing (r10 review)
    hits = (
        m.filter(F.col("anchor") >= 0)
        .groupBy(id_col, "anchor")
        .agg(F.countDistinct("j").alias("_slots"))
        .filter(F.col("_slots") == len(phrase))
    )
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))


def build_positional_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_TERM_BUCKETS,
) -> None:
    """[ext] Positional postings (term, id, pos) partitioned by
    term_bucket — what :func:`build_inverted_index`'s tf postings cannot
    answer: phrase and proximity queries. Same layout contract as the
    BM25 index (md5 term buckets, session-independent), so a phrase
    probe reads ONLY its terms' bucket directories. The one corpus-wide
    pass; positions make it ~|tokens| rows instead of |distinct terms
    per doc| — the classic positional-index size trade, paid once."""
    spark = docs.sparkSession
    # same-kind rebuild is allowed (retry-safe, the build_inverted_index
    # stance); only a DIFFERENT kind at the path refuses — both kinds
    # write {path}/postings with incompatible schemas, so a cross-kind
    # overwrite would silently clobber it
    marker = readers.read_meta_json(spark, path)
    if (marker is not None and marker["kind"] != "positional") or (
        marker is None and _stats_exists(spark, path)
    ):
        kind = marker["kind"] if marker is not None else "bm25"
        raise ValueError(
            f"build_positional_index: {path!r} already holds a {kind} "
            f"index — both index kinds write {path + '/postings'!r} with "
            "incompatible schemas, so an overwrite would silently clobber "
            "it; use a fresh path"
        )
    tok = docs.select(
        F.col(id_col),
        F.explode(F.array(word_tokens(F.col(text_col)))).alias("toks"),
    )
    postings = tok.select(
        id_col, F.posexplode("toks").alias("pos", "term")
    ).withColumn("term_bucket", term_bucket(F.col("term"), n_buckets))
    # force STATIC partition overwrite: under the session-level
    # partitionOverwriteMode=dynamic, a same-kind rebuild from a
    # smaller corpus would leave the prior build's extra term_bucket
    # partitions in place, silently mixing old and new postings
    # (ADVICE r11). Static drops the whole postings dir first.
    cluster_for_partitioned_write(postings, "term_bucket").write.mode(
        "overwrite"
    ).option(
        "partitionOverwriteMode", "static"
    ).partitionBy("term_bucket").parquet(
        f"{path}/postings"
    )
    readers.commit_meta_json(spark, path, "positional", {"n_buckets": int(n_buckets)})


def phrase_occurrences_from_index(
    spark: SparkSession,
    path: str,
    phrase: list[str],
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Phrase search off the positional index: reads only the phrase
    terms' bucket directories (partition filter), then the same
    adjusted-position algebra as :func:`phrase_occurrences` — value-
    identical to the scan form (test-asserted) at the cost of the
    phrase's buckets instead of the corpus."""
    if not phrase:
        raise ValueError("phrase_occurrences_from_index: phrase is empty")
    _check_id_col(id_col, "phrase_occurrences_from_index")
    n_buckets = _resolve_index_buckets(
        spark, path, n_buckets, "phrase_occurrences_from_index", "positional"
    )
    phrase = [t.lower() for t in phrase]  # postings are lowercase
    ph = spark.createDataFrame(
        [(j, t) for j, t in enumerate(phrase)], ["j", "term"]
    )
    # bucket ids via the index's OWN bucketing expression — a hand-rolled
    # driver-side hash could silently drift from the layout
    buckets = [
        r["b"]
        for r in ph.select(
            term_bucket(F.col("term"), n_buckets).alias("b")
        ).distinct().collect()
    ]
    postings = readers.read_pruned_partitions(
        spark, f"{path}/postings", "term_bucket", buckets
    ).filter(F.col("term").isin(list(set(phrase))))
    m = postings.join(F.broadcast(ph), "term").select(
        id_col, (F.col("pos") - F.col("j")).alias("anchor"), "j"
    )
    hits = (
        m.filter(F.col("anchor") >= 0)
        .groupBy(id_col, "anchor")
        .agg(F.countDistinct("j").alias("_slots"))
        .filter(F.col("_slots") == len(phrase))
    )
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits"))
