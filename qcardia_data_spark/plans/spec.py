"""Declarative pipeline spec → DataFrame compiler.

The reference's "query language" is its YAML config: a dict that drives
split resolution, cache construction, and the transform Compose
(reference ``demo/data-config.yaml``; consumed at
``src/qcardia_data/pipeline/data_module.py:44-99`` and
``pipeline/compose.py:26-234``). This module is the engine's equivalent: a
JSON/YAML-able list of ops compiled into a lazy DataFrame DAG. Compilation
is pure plan construction (driver-side, zero jobs) — execution happens only
when the caller acts on the result, exactly Spark's model.

Conditional plan pruning mirrors the reference's Compose construction
(no-op stages are dropped at build time, compose.py:130-144): an op with
``"when": false`` is skipped during compilation, not at runtime.

Spec grammar (one dict per op, applied in order):

    {"op": "source", "table": "lineitem"}              # or {"path": ...};
        path sources take "format" ("binaryFile" + "glob" for raw blobs)
        and "decode": "nifti"|"dicom" to fuse the real-codec mapInPandas
        stage into the source (predicates on path/length stay pushable)
    {"op": "select", "cols": [...]}
    {"op": "filter", "expr": "l_quantity > 25"}
    {"op": "with_columns", "cols": {"rev": "l_extendedprice * (1-l_discount)"}}
    {"op": "rename", "mapping": {"a": "b"}}
    {"op": "drop", "cols": [...]}
    {"op": "join", "table"/"pipeline": ..., "on": [...], "how": "left",
     "broadcast": true}
    {"op": "asof_join", "table"/"pipeline": ..., "by": [...],
     "left_ts": ..., "right_ts": ..., "carry": [...],
     "direction": "backward"|"forward"}
    {"op": "overlap_join", "table"/"pipeline": ..., "start_l"/"end_l"/
     "start_r"/"end_r": ..., "bucket_seconds": 3600}
        # interval×interval overlap (bucketed equi-join, no theta join)
    {"op": "group_agg", "by": [...], "aggs": {"out": "sum(expr)"}}
    {"op": "window", "cols": {"out": "count(*)"}, "partition_by": [...],
     "order_by": [...]}
    {"op": "explode", "col": "arr", "pos": "frame_nr", "val": "frame"}
    {"op": "union", "pipeline": [...]}                 # unionByName
    {"op": "distinct"} / {"op": "dropDuplicates", "cols": [...]}
    {"op": "sort", "by": [...]} / {"op": "limit", "n": 10}
    {"op": "sample_group", "group": [...], "key": ..., "n": ..., "seed": ...}
    {"op": "split_subjects", "key": ..., "valid_fraction": ..., "seed": ...,
     "scale_safe": false, "num_ranges": null}
        # scale_safe: distributed two-phase rank over the subject frame
        # (identical assignments; for huge subject cardinalities)
    {"op": "cumsum", "partition_by": [...], "order_by": [...],
     "value": ..., "out": "cum", "scale_safe": false, "num_ranges": null}
        # running sum; scale_safe = two-phase distributed prefix sum for
        # COARSE partition keys (same values, no giant sort tasks)
    {"op": "subject_kfold", "key": ..., "k": 5, "seed": 0, "out": "fold"}
    {"op": "remove_spans", "id_col": ..., "text_col": ..., "k": 4,
     "drop_empty": true}       # ExactSubstr span-level dedup (in-place)
    {"op": "fuzzy_join", "right": <table/pipeline>, "col_l": ...,
     "col_r": ..., "max_dist": 2}  # q-gram edit-distance join
    {"op": "near_dedup", ..., "keep_best": true, "score": "<expr>"}
        # per-cluster argmax-score winner instead of greedy min-id
    {"op": "semantic_dedup", "n_cells": 16, "threshold": 0.35, ...}
    {"op": "ngram_jaccard_dedup", "threshold": 0.6, "shingle_n": 3,
     "pairs_only": false}                              # exact, recall 1
    {"op": "containment_dedup", "threshold": 0.8, "shingle_n": 3,
     "pairs_only": false}
        # exact |A∩B|/|A| sub-document dup gate: drops docs contained
        # in a larger doc (excerpts/quotes — invisible to Jaccard)
    {"op": "gopher_rules", "text_col": ..., "out": "gopher_keep",
     "drop_failing": false, ...rule thresholds...}
    {"op": "c4_clean", "text_col": ..., "min_words_per_line": 5,
     "min_sentences": 3, "drop_failing": true}
        # C4 §2.2: line-level removal (terminal punct + >=5 words,
        # survivors rejoined) + page gate (<3 sentences, lorem, '{')
    {"op": "gopher_line_rules", "text_col": ..., "drop_failing": true}
        # Gopher A1.1 line-format page gate (bullet/ellipsis line
        # fractions) over newline-split text
    {"op": "quality_signals", "text_col": ..., "prefix": "qs"}
        # RedPajama-V2 pattern: the whole per-doc signal table
        # (length/punct/stopword/repetition/gopher/lang/fingerprint)
        # appended in ONE map pass; gate downstream against the columns
    {"op": "media_near_dup", "modality": "image"|"audio"|"video",
     "max_hamming": 3, ...}
        # perceptual near-dup pairs over a binaryFile frame (pHash /
        # Haitsma-Kalker / frame-pHash, one Manku engine)
    {"op": "chunk", "id_col": ..., "text_col": ...,
     "chunk_tokens": 32, "overlap": 8}
        # sliding token-window chunking; one row per chunk (stream-safe)
    {"op": "token_entropy", "id_col": ..., "text_col": ...,
     "append": false}
        # vocabulary-entropy signal table (or appended via left join)
    {"op": "lm_score", "ref": ..., "id_col": ..., "text_col": ...,
     "min_score": -7.5 | "keep_buckets": ["head", "middle"]}
        # CCNet-style trigram quality gate (hard threshold or the
        # head/middle/tail tercile form)
    {"op": "bpe_encode", "text_col": ..., "merges": [["e","r"], ...],
     "out": "bpe_tokens"}        # merges table = config artifact
    {"op": "random_projection", "out_dim": 16, "seed": 0,
     "out": "projected"}         # JL dim reduction before ANN stages
    {"op": "diversity_sample", "n_per_bucket": 5, "vec_col": ...,
     "n_planes": 8, "seed": 0}   # density-pruning sample (cap LSH buckets)
    {"op": "bm25_topk", "terms": ["spark", "join"], "k": 10,
     "id_col": ..., "text_col": ...}   # keyword retrieval slice
    {"op": "dsir_weights", "target": "lang = 'en'", "id_col": ...,
     "text_col": ..., "n_buckets": 128, "top_fraction": 0.25}
        # DSIR importance weighting; top_fraction turns it into the
        # selection gate (keep the highest-weight slice)
    {"op": "alpha_mix", "by": "lang", "token_col": ..., "key_col": ...,
     "alpha": 0.5, "total_budget": 30000, "seed": 0}
        # temperature-based multilingual/source sampling (XLM-R rule)
    {"op": "unimax_mix", "by": "lang", "token_col": ..., "key_col": ...,
     "total_budget": 30000, "max_epochs": 1.0, "seed": 0}
        # epoch-capped uniform budgets (UniMax waterfill)
    {"op": "quality_classifier", "positive": "lang = 'en'",
     "text_col": ..., "out": "quality_score",
     "min_score": 0.5 | "pareto_alpha": 9.0, "key_col": ..., "seed": 0}
        # GPT-3-style learned quality gate: train LR on hashed tokens,
        # attach P(curated); min_score = hard gate, pareto_alpha = the
        # Pareto-smoothed stochastic gate
    {"op": "signature_index_write", "path": ..., "id_col": ...,
     "text_col": ..., "mode": "overwrite"}            # standing dedup index
    {"op": "near_dedup_incremental", "index_path": ...,
     "update_index": false, ...near_dedup knobs...}
    {"op": "zorder_write", "path": ..., "buckets": {"name": "expr"},
     "bits": 16, "n_files": 8}                         # materialize Z-ordered,
        downstream ops read the clustered parquet back
    {"op": "inverted_index_write", "path": ..., "id_col": ...,
     "text_col": ..., "n_buckets": 64}   # side artifact: BM25 postings
        (probe later with retrieval.bm25_topk_from_index)
    {"op": "ann_index_write", "path": ..., "kind": "lsh"|"ivf"|"ivfpq",
     "id_col": ..., "vec_col": ..., ...index params...}
        # side artifact: persisted ANN index (hyperplane-bucket LSH or
        # cell-partitioned IVF+PQ); frame passes through unchanged
    {"op": "ann_index_append", "index_path": ...}
        # grow a standing ANN index with the current frame (params from
        # the index's own meta; same-id-guarded, retry-idempotent)
    {"op": "ann_probe", "index_path": ..., "k": 5, ...}
        # probe a persisted ANN index; the index KIND and its build
        # params come from the index's own manifest (_meta.json),
        # so spec and index can never drift. LSH: current frame = probe
        # batch -> per-row top-k join. IVF+PQ: "query_id" picks the query
        # row from the current frame -> ADC top-k, "n_probe" cells read
    {"op": "pagerank" | "triangle_count" | "connected_components"
         | "bfs_hops" | "sssp" | "kcore",
     "src": ..., "dst": ...}
        # graph family over an edge-shaped frame (functions/graph.py):
        # PageRank with dangling-mass redistribution / exact per-node
        # triangle counts via the ordered-wedge join / large-star CC /
        # multi-source BFS hop counts / bounded Bellman-Ford costs /
        # bounded k-core peel
    {"op": "drift", "stat": "psi"|"chisq"|"ks", "col": ...,
     "against": {"table"|"pipeline": ...}, ...stat knobs...}
        # distribution drift of the frame vs a baseline (functions/drift.py)
    {"op": "scd2", "key": ..., "ts": ..., "attrs": [...], "tiebreak": ...}
        # SCD type-2 history from a change log (functions/cdc.py)
    {"op": "upsert_table_write", "path": ..., "key": ..., "ts": ...,
     "n_buckets": 64}                    # init persisted merge-upsert table
    {"op": "merge_upsert", "path": ..., "tiebreak": ...}
        # merge the current frame (a CDC batch) latest-wins into the
        # table; key/ts/bucketing from its manifest; only touched
        # bucket partitions read+rewritten; downstream sees the merged table
    {"op": "upsert_log_append", "path": ..., "batch_id": N?}
        # MOR write: land the frame as immutable log partition _batch=<id>
        # (replay-idempotent when pinned); frame passes through
    {"op": "read_as_of", "path": ..., "batch": N?, "tiebreak": ...?}
        # time travel: replace the frame with the table's latest-wins
        # state as of log batch N (partition-pruned; None = current)
    {"op": "table_diff", "path": ..., "before_batch": N,
     "after_batch": M?, "compare": [...]?}
        # audit: added/removed/changed keys between two as-of versions
    {"op": "compact_upsert_log", "path": ..., "up_to": N?}
        # maintenance: fold log batches <= up_to into the base table;
        # downstream sees the (unchanged) current state
    {"op": "gapfill_interpolate" | "trend_stats" | "value_histogram" |
     "heartbeat_uptime" | "lttb_downsample" | "mad_outliers" | "ewma",
     "key": ..., ...}
        # time-series hyperfunction family (operators/timeseries.py):
        # linear-interp gapfill, least-squares trend, fixed-bin
        # histogram, liveness/uptime, largest-triangle downsampling,
        # robust MAD outlier scores, truncated EWMA — params mirror the
        # module signatures; frames must carry an int64 epoch-seconds
        # column (ts_s) built upstream (except value_histogram /
        # mad_outliers, which are order-free)
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from qcardia_data_spark.catalog import load_table
from qcardia_data_spark.operators import sampling as X
from qcardia_data_spark.operators.setops import union_by_name


class SpecError(ValueError):
    pass


# Ops that read a PERSISTED table by path and may therefore open a
# pipeline (no incoming frame needed): the MOR CDC read/maintenance side.
_FRAME_INITIALIZERS = frozenset(
    {"read_as_of", "table_diff", "compact_upsert_log"}
)



def _bucket_knob(op: dict, key: str, default: int = 64):
    """Bucket-count knob for the standing-index write ops: an int, or the
    literal string "auto" (r14, VERDICT r13 #2) which the writer resolves
    to a corpus-sized count (auto_index_buckets) and persists resolved."""
    v = op.get(key, default)
    if v == "auto":
        return "auto"
    return int(v)


def compile_pipeline(
    spark: SparkSession, ops: Sequence[dict], sf_dir: str | None = None,
) -> DataFrame:
    """Compile an op list into a lazy DataFrame. Raises SpecError on an
    unknown op or a malformed entry — at plan time, never mid-job."""
    df: DataFrame | None = None
    prior_ops: list[dict] = []
    ops = _push_filters_below_explode(ops)
    for i, op in enumerate(ops):
        if not isinstance(op, dict) or "op" not in op:
            raise SpecError(f"op #{i} malformed: {op!r}")
        if op.get("when") is False:  # build-time pruning of disabled stages
            continue
        kind = op["op"]
        if kind == "source":
            if df is not None:
                raise SpecError(
                    f"op #{i}: a second 'source' mid-pipeline would discard "
                    "everything built so far — use 'union' or a join op's "
                    "'right' side to bring in another table"
                )
            df = _source(spark, op, sf_dir)
            prior_ops.append(op)
            continue
        if df is None and kind not in _FRAME_INITIALIZERS:
            raise SpecError(f"op #{i} ({kind}) before any source")
        df = _apply(spark, df, op, sf_dir, prior_ops)
        prior_ops.append(op)
    if df is None:
        raise SpecError("empty pipeline: no source op")
    return df


def _push_filters_below_explode(ops: Sequence[dict]) -> list[dict]:
    """Compiler rewrite (SURVEY §4.1): Catalyst cannot push a predicate on a
    generated ordinal through ``posexplode``, so the spec compiler does it —
    an ``explode`` immediately followed by a structured position filter
    (``{"op": "filter", "col": <pos>, "in": [...]}``) is fused into the
    explode's ``keep_positions``: never-used elements are never generated
    (the reference's ``selected_frame_nrs`` pre-filter, dimensions.py:33-37).
    """
    out: list[dict] = []
    i = 0
    ops = list(ops)
    while i < len(ops):
        op = ops[i]
        nxt = ops[i + 1] if i + 1 < len(ops) else None
        if (
            isinstance(op, dict)
            and op.get("op") == "explode"
            and op.get("keep_positions") is None
            and isinstance(nxt, dict)
            and nxt.get("op") == "filter"
            # a filter carrying BOTH keys executes its 'expr' (the filter
            # op's precedence rule) — fusing on col/in would silently drop
            # that predicate (r13 review)
            and "expr" not in nxt
            and nxt.get("col") == op.get("pos", "pos")
            and isinstance(nxt.get("in"), list)
            # fusion must be a pure optimization (r10 review): never fuse
            # across a 'when' toggle (a disabled filter would still apply /
            # a disabled explode would swallow the filter), and only fuse
            # plain non-negative int positions — negatives and floats fall
            # back to the always-correct posexplode + isin form
            and "when" not in op
            and "when" not in nxt
            and all(
                isinstance(p, int) and not isinstance(p, bool) and p >= 0
                for p in nxt["in"]
            )
        ):
            fused = dict(op)
            fused["keep_positions"] = list(nxt["in"])
            out.append(fused)
            i += 2
            continue
        out.append(op)
        i += 1
    return out


def _source(spark: SparkSession, op: dict, sf_dir: str | None) -> DataFrame:
    if "table" in op:
        if sf_dir is None:
            raise SpecError("table source requires sf_dir")
        return load_table(spark, sf_dir, op["table"])
    if "path" in op:
        fmt = op.get("format", "parquet")
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", op.get("header", True))
            if "schema" in op:
                reader = reader.schema(op["schema"])
        if fmt == "binaryFile" and "glob" in op:
            reader = reader.option("pathGlobFilter", op["glob"])
        df = reader.load(op["path"])
        codec = op.get("decode")
        if codec is not None:  # real-codec decode fused into the source op
            from qcardia_data_spark.sources import multimodal as MM

            if codec == "nifti":
                return MM.decode_nifti(df)
            if codec == "dicom":
                return MM.decode_dicom(df)
            raise SpecError(f"unknown decode codec {codec!r} (nifti|dicom)")
        return df
    raise SpecError(f"source needs 'table' or 'path': {op!r}")


def _cols(exprs: Sequence[str]) -> list[Column]:
    return [F.expr(e) for e in exprs]


def _pair_dedup_epilogue(
    df: DataFrame, pairs: DataFrame, id_col: str, op: dict, drop: str = "b",
) -> DataFrame:
    """Shared tail of the exact-pair dedup ops (ngram_jaccard /
    containment / winnow / winnow_near_pairs): ``pairs_only`` returns the
    auditable pair list; otherwise anti-join away the ``drop`` side of
    every qualifying pair ("b" = the larger id; containment passes "a" —
    the contained smaller doc)."""
    if op.get("pairs_only", False):
        return pairs
    losers = pairs.select(F.col(drop).alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _apply(
    spark: SparkSession, df: DataFrame, op: dict, sf_dir: str | None,
    prior_ops: Sequence[dict] = (),
) -> DataFrame:
    kind = op["op"]
    if kind == "select":
        return df.select(*_cols(op["cols"]))
    if kind == "filter":
        if "expr" in op:
            return df.filter(F.expr(op["expr"]))
        if "in" in op:  # structured form (push-down-able, see the peephole)
            return df.filter(F.col(op["col"]).isin(*op["in"]))
        raise SpecError(f"filter needs 'expr' or ('col','in'): {op!r}")
    if kind == "with_columns":
        return df.withColumns({k: F.expr(v) for k, v in op["cols"].items()})
    if kind == "rename":
        return df.withColumnsRenamed(op["mapping"])
    if kind == "drop":
        return df.drop(*op["cols"])
    if kind == "join":
        right = _side(spark, op, sf_dir)
        if op.get("broadcast"):
            right = F.broadcast(right)
        return df.join(right, on=op["on"], how=op.get("how", "inner"))
    if kind == "asof_join":
        from qcardia_data_spark.operators.temporal import asof_join

        return asof_join(
            df, _side(spark, op, sf_dir), by=op["by"],
            left_ts=op["left_ts"], right_ts=op["right_ts"],
            carry=op["carry"], direction=op.get("direction", "backward"),
        )
    if kind == "overlap_join":
        from qcardia_data_spark.operators.temporal import interval_overlap_join

        # {"op": "overlap_join", "table"/"pipeline": ..., "start_l"/"end_l"/
        #  "start_r"/"end_r": epoch-second cols, "bucket_seconds": 3600} —
        # interval×interval overlap via the bucketed equi-join (never a
        # theta join); column names must be disjoint across the sides.
        return interval_overlap_join(
            df, _side(spark, op, sf_dir),
            op["start_l"], op["end_l"], op["start_r"], op["end_r"],
            bucket_seconds=int(op.get("bucket_seconds", 3600)),
        )
    if kind == "group_agg":
        aggs = [F.expr(e).alias(name) for name, e in op["aggs"].items()]
        return df.groupBy(*op.get("by", [])).agg(*aggs)
    if kind == "window":
        from pyspark.sql.window import Window

        w = Window.partitionBy(*op.get("partition_by", []))
        w_rank = None
        if op.get("order_by"):
            w_rank = w.orderBy(*_cols(op["order_by"]))
            if op.get("running", False):
                w = w_rank.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            else:
                # an ordered window's IMPLICIT frame is RANGE-cumulative,
                # so plain aggregates next to a row_number()/lag() would
                # silently become RUNNING aggregates despite running:
                # false (r11 review). Aggregates get an explicit
                # whole-partition frame; ranking/offset functions (which
                # refuse custom frames) keep the bare ordered spec.
                w = w_rank.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
        _RANKING = (
            "row_number", "rank", "dense_rank", "percent_rank", "ntile",
            "cume_dist", "lag", "lead", "nth_value",
        )
        # Ranking/offset calls must be TOP-LEVEL in a window col: Spark's
        # .over() attaches the spec to the OUTERMOST expression, so a
        # nested call ("coalesce(lag(x), 0)") is unexpressible however we
        # pick the frame — the engine rejects it with a confusing
        # WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE. Refuse at the spec level
        # with guidance instead (ADVICE r11).
        _rank_call = re.compile(
            r"\b(" + "|".join(_RANKING) + r")\s*\(", re.IGNORECASE
        )
        # the guard scans expression TEXT, so quoted string literals must
        # not trip it ("concat(col, 'lag(')" contains no nested call —
        # ADVICE r12). SQL string literals: single-quoted, with '' OR \'
        # escaping a quote (Spark accepts both — ADVICE r13: a backslash
        # escape must be consumed as one unit or it desynchronizes the
        # scanner). Double-quoted tokens are string LITERALS too in
        # Spark's default non-ANSI mode (identifiers use backticks), so
        # they take the same backslash-escape alternative (ADVICE r14:
        # "it\"s" must not desynchronize the scanner either).
        _strip_literals = re.compile(
            r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.)*\""
        )
        out = df
        for name, e in op["cols"].items():
            head = e.split("(", 1)[0].strip().lower()
            scan = _strip_literals.sub("''", e)
            if head not in _RANKING and _rank_call.search(scan) is not None:
                fn = _rank_call.search(scan).group(1)
                raise SpecError(
                    f"window col {name!r}: ranking/offset call {fn}() is "
                    "nested inside a wrapper expression — Spark can only "
                    "attach the window spec to the outermost call. Make it "
                    "top-level (offset functions take a default: "
                    "lag(x, 1, <default>)) or compute the window column "
                    "first and derive the wrapper in a follow-up op"
                )
            spec_w = w_rank if (w_rank is not None and head in _RANKING) else w
            out = out.withColumn(name, F.expr(e).over(spec_w))
        return out
    if kind == "explode":
        from qcardia_data_spark.operators.generators import explode_with_position

        return explode_with_position(
            df, op["col"],
            pos_out=op.get("pos", "pos"), val_out=op.get("val", "val"),
            keep_positions=op.get("keep_positions"),
        )
    if kind == "compose":
        from qcardia_data_spark.functions.compose import apply_composed

        return apply_composed(
            df, op["stages"], op["arr_col"], op["key_col"], op.get("out_col")
        )
    if kind == "exact_dedup":
        from qcardia_data_spark.functions.dedup import exact_dedup

        return exact_dedup(df, op["id_col"], op["text_col"])
    if kind == "near_dedup":
        from qcardia_data_spark.functions.dedup import (
            near_dedup_keep_best,
            near_dedup_minhash,
        )

        # max_bucket_size / star_rounds are the 100 TB recall/cost knobs
        # (boilerplate-bucket cap + rotated-hub rounds) — a spec config can
        # tune them without touching code; null max_bucket_size disables the
        # cap entirely (exhaustive in-bucket pairs).
        # {"keep_best": true, "score": "<sql expr>"} switches winner
        # selection from greedy min-id to per-CLUSTER argmax-score
        # (default score: token count — the longest copy survives).
        if op.get("keep_best", False):
            return near_dedup_keep_best(
                df, op["id_col"], op["text_col"],
                score=F.expr(op["score"]) if "score" in op else None,
                n_bands=int(op.get("n_bands", 8)),
                shingle_n=int(op.get("shingle_n", 3)),
                threshold=float(op.get("threshold", 0.6)),
                # r13: covers the signature table AND the CC fixpoint
                reliable_dir=op.get("reliable_dir"),
                max_bucket_size=(
                    None if op.get("max_bucket_size", 1000) is None
                    else int(op.get("max_bucket_size", 1000))
                ),
                star_rounds=int(op.get("star_rounds", 2)),
            )
        return near_dedup_minhash(
            df, op["id_col"], op["text_col"],
            n_bands=int(op.get("n_bands", 8)),
            shingle_n=int(op.get("shingle_n", 3)),
            threshold=float(op.get("threshold", 0.6)),
            max_bucket_size=(
                None if op.get("max_bucket_size", 1000) is None
                else int(op.get("max_bucket_size", 1000))
            ),
            star_rounds=int(op.get("star_rounds", 2)),
            # optional executor-loss-safe materialization: persist the
            # signature table under this path instead of localCheckpoint
            reliable_dir=op.get("reliable_dir"),
        )
    if kind == "ngram_jaccard_dedup":
        from qcardia_data_spark.functions.dedup import ngram_jaccard_join

        # {"op": "ngram_jaccard_dedup", "id_col": ..., "text_col": ...,
        #  "threshold": 0.6, "shingle_n": 3, "pairs_only": false} — EXACT
        # n-gram Jaccard dedup (All-Pairs prefix filter, recall 1 — the
        # deterministic alternative to "near_dedup"): drops the larger id
        # of every qualifying pair; pairs_only returns the (a, b, jaccard)
        # pair list instead (the auditable intermediate).
        id_col = op.get("id_col", "doc_id")
        pairs = ngram_jaccard_join(
            df, id_col, op.get("text_col", "text"),
            threshold=float(op.get("threshold", 0.6)),
            shingle_n=int(op.get("shingle_n", 3)),
            reliable_dir=op.get("reliable_dir"),
        )
        return _pair_dedup_epilogue(df, pairs, id_col, op)
    if kind == "containment_dedup":
        from qcardia_data_spark.functions.dedup import containment_join

        # {"op": "containment_dedup", "id_col": ..., "text_col": ...,
        #  "threshold": 0.8, "shingle_n": 3, "pairs_only": false} — EXACT
        # sub-document duplication gate (|A∩B|/|A| over the smaller set):
        # drops every doc whose shingle set is >= threshold contained in
        # a LARGER doc's (the excerpt/quote/boilerplate case symmetric
        # Jaccard misses); pairs_only returns (a, b, containment) pairs.
        id_col = op.get("id_col", "doc_id")
        pairs = containment_join(
            df, id_col, op.get("text_col", "text"),
            threshold=float(op.get("threshold", 0.8)),
            shingle_n=int(op.get("shingle_n", 3)),
            reliable_dir=op.get("reliable_dir"),
        )
        return _pair_dedup_epilogue(df, pairs, id_col, op, drop="a")
    if kind == "winnow_dedup":
        from qcardia_data_spark.functions.dedup import winnow_share_pairs

        # {"op": "winnow_dedup", "id_col": ..., "text_col": ..., "k": 3,
        #  "w": 4, "min_shared": 2, "max_df": 20, "pairs_only": false} —
        # MOSS winnowing near-dup gate: guaranteed detection of shared
        # runs >= w+k-1 tokens at ~2/(w+1) index size (the cheap coarse
        # tier before ngram_jaccard/containment verify); drops the larger
        # id of each pair, pairs_only returns (a, b, shared).
        id_col = op.get("id_col", "doc_id")
        pairs = winnow_share_pairs(
            df, id_col, op.get("text_col", "text"),
            k=int(op.get("k", 3)), w=int(op.get("w", 4)),
            min_shared=int(op.get("min_shared", 2)),
            max_df=int(op.get("max_df", 20)),
        )
        return _pair_dedup_epilogue(df, pairs, id_col, op)
    if kind == "winnow_near_pairs":
        from qcardia_data_spark.functions.dedup import winnow_near_pairs

        # {"op": "winnow_near_pairs", "id_col": ..., "text_col": ...,
        #  "k": 3, "w": 4, "min_shared": 2, "max_df": 20,
        #  "threshold": 0.25, "pairs_only": false} — the tiered ladder as
        # one op (functions/dedup.py::winnow_near_pairs): WINNOW
        # candidates (guaranteed for shared runs >= w+k-1) verified by
        # EXACT set-form shingle Jaccard, so every surviving pair carries
        # a true jaccard. The 100 TB shape when MinHash's probabilistic
        # recall is unacceptable but full prefix filtering is too dear.
        # pairs_only returns (a, b, jaccard); default drops the larger id
        # of each verified pair (the winnow_dedup convention).
        id_col = op.get("id_col", "doc_id")
        pairs = winnow_near_pairs(
            df, id_col, op.get("text_col", "text"),
            k=int(op.get("k", 3)), w=int(op.get("w", 4)),
            min_shared=int(op.get("min_shared", 2)),
            max_df=int(op.get("max_df", 20)),
            threshold=float(op.get("threshold", 0.25)),
        )
        return _pair_dedup_epilogue(df, pairs, id_col, op)
    if kind == "hll_registers":
        from qcardia_data_spark.functions import sketches as _SK

        # {"op": "hll_registers", "keys": [...], "value_col": ...,
        #  "p": 4, "merge_to": {"col": "literal", ...}?} — deterministic
        # md5 HLL register table per key group (engine-portable,
        # value-checkable); with merge_to, max-merges the per-group
        # registers into ONE rolled-up sketch labeled by the literals.
        regs = _SK.hll_registers(
            df, list(op.get("keys", [])), op["value_col"],
            p=int(op.get("p", 4)),
        )
        if "merge_to" in op:
            return _SK.hll_merge(regs, dict(op["merge_to"]))
        return regs
    if kind == "hll_estimate":
        from qcardia_data_spark.functions import sketches as _SK

        # {"op": "hll_estimate", "keys": [...], "p": 4} — distinct-count
        # estimates off the frame, which must BE a register table (the
        # hll_registers op's output shape); p must equal the build p (the
        # estimator's m = 2^p replays it). The register table stays the
        # exact oracle-checkable artifact; this is the consumption end.
        return _SK.hll_estimate(df, list(op.get("keys", [])),
                                p=int(op.get("p", 4)))
    if kind == "cms_sketch":
        from qcardia_data_spark.functions import sketches as _SK

        # {"op": "cms_sketch", "keys": [...], "value_col": ..., "depth": 3,
        #  "width": 64, "merge_to": {"col": "literal", ...}?} — the CMS
        # twin of hll_registers (functions/sketches.py::cms_table):
        # deterministic md5 Count-Min counter cells per key group,
        # sum-mergeable across any partitioning; with merge_to the
        # per-group cells collapse into ONE rolled-up sketch labeled by
        # the literals (cms_merge). Probe it with the cms_lookup op —
        # depth/width must match between build and probe (the store form,
        # cms_store_*, persists them in its manifest; the in-plan form keeps
        # them in the spec, side by side).
        sk = _SK.cms_table(
            df, list(op.get("keys", [])), op["value_col"],
            depth=int(op.get("depth", 3)), width=int(op.get("width", 64)),
        )
        if "merge_to" in op:
            return _SK.cms_merge(sk, dict(op["merge_to"]))
        return sk
    if kind == "cms_lookup":
        from qcardia_data_spark.functions import sketches as _SK

        # {"op": "cms_lookup", "keys": [...], "value_col": ...,
        #  "width": 64, "probes": {"table": ...} | {"pipeline": [...]}} —
        # frequency point-estimates off the frame, which must BE a CMS
        # cell table (the cms_sketch op's output shape): min over the
        # depth rows of the probed value's buckets, est_n = 0 for values
        # the sketch never saw. width must equal the sketch's build
        # width (the bucket derivation replays it). Keep the probe side
        # small: it is expanded ×depth (broadcast depth-row cross) and
        # the estimate join is a key-partitioned equi-join on the
        # expanded probes.
        probes = _side(spark, op["probes"], sf_dir)
        return _SK.cms_lookup(
            df, probes, list(op.get("keys", [])), op["value_col"],
            width=int(op.get("width", 64)),
        )
    if kind == "gopher_rules":
        from qcardia_data_spark.functions.text import gopher_rules, word_tokens

        # {"op": "gopher_rules", "text_col": ..., "out": "gopher_keep",
        #  "drop_failing": true, ...rule thresholds...} — the Gopher
        # rule-based quality gate; with drop_failing the rule columns are
        # gate-only (never materialized), otherwise every metric + rule
        # boolean is appended under "<out>_" prefixes for auditing.
        from qcardia_data_spark.operators.joins import fresh_name

        text_col = op.get("text_col", "text")
        out = op.get("out", "gopher_keep")
        # fresh working column: a user column literally named "_gtoks"
        # (any case) would be replaced and then dropped — silent data
        # loss (r11 review; the quality_filter op already does this)
        gtoks = fresh_name("_gtoks", df.columns)
        tok = df.withColumn(
            gtoks, F.explode(F.array(word_tokens(F.col(text_col))))
        )
        g = gopher_rules(
            F.col(gtoks), F.col(text_col),
            min_words=int(op.get("min_words", 50)),
            max_words=int(op.get("max_words", 100_000)),
            min_mean_len=float(op.get("min_mean_len", 3.0)),
            max_mean_len=float(op.get("max_mean_len", 10.0)),
            max_symbol_ratio=float(op.get("max_symbol_ratio", 0.1)),
            min_alpha_frac=float(op.get("min_alpha_frac", 0.8)),
            min_stop_hits=int(op.get("min_stop_hits", 2)),
        )
        if op.get("drop_failing", False):
            return tok.filter(g["keep"]).drop(gtoks)
        audited = tok.select(
            "*", *[v.alias(f"{out}_{k}") for k, v in g.items() if k != "keep"],
            g["keep"].alias(out),
        )
        return audited.drop(gtoks)
    if kind == "pii_scrub":
        from qcardia_data_spark.functions.text import pii_counts, pii_scrub

        # {"op": "pii_scrub", "text_col": "text", "audit": false} —
        # redact emails/IPv4s/phone numbers in place (text.py::pii_scrub,
        # map-only JVM regex, zero exchanges); with audit, the
        # per-category match counts are appended as pii_<category>
        # columns BEFORE the scrub (measured on what was removed).
        text_col = op.get("text_col", "text")
        out = df
        if op.get("audit", False):
            counts = pii_counts(F.col(text_col))
            # refuse-loudly on audit-column collisions: appending a second
            # pii_<category> column would only fail ambiguously downstream
            # (same guard family as bm25_topk 'score' / phrase_search
            # 'n_hits' -- ADVICE r11).
            taken = [f"pii_{k}" for k in counts if f"pii_{k}" in df.columns]
            if taken:
                raise SpecError(
                    f"pii_scrub: audit column(s) {taken} already exist on "
                    "the frame — rename or drop them before auditing"
                )
            out = out.select(
                "*", *[v.alias(f"pii_{k}") for k, v in counts.items()]
            )
        return out.withColumn(text_col, pii_scrub(F.col(text_col)))
    if kind == "quality_signals":
        from qcardia_data_spark.functions.text import (
            doc_fingerprint,
            gopher_rules,
            lang_id,
            quality_scores,
            repetition_scores,
            word_tokens,
        )

        # {"op": "quality_signals", "text_col": "text", "prefix": "qs"} —
        # the RedPajama-V2 operating pattern: compute the WHOLE
        # per-document signal table in one map pass and append it as
        # audit columns (`<prefix>_*`); gating happens downstream
        # (filter / gopher_rules / quality_classifier) against the
        # materialized signals instead of re-deriving them per gate. One
        # token barrier feeds every signal family; zero exchanges.
        from qcardia_data_spark.operators.joins import fresh_name

        text_col = op.get("text_col", "text")
        p = op.get("prefix", "qs")
        qstoks = fresh_name("_qstoks", df.columns)  # r11: no silent clobber
        tok = df.withColumn(
            qstoks, F.explode(F.array(word_tokens(F.col(text_col))))
        )
        q = quality_scores(F.col(text_col), toks=F.col(qstoks))
        r = repetition_scores(F.col(qstoks))
        g = gopher_rules(F.col(qstoks), F.col(text_col))
        sig = {
            "n_chars": q["n_chars"],
            "n_tokens": q["n_tokens"],
            "mean_token_len": q["mean_token_len"],
            "punct_ratio": q["punct_ratio"],
            "alpha_ratio": q["alpha_ratio"],
            "stopword_ratio": q["stopword_ratio"],
            "max_tok_count": r["max_tok_count"],
            "n_distinct_tokens": r["n_distinct"],
            "top_bigram_count": r["top_bigram_count"],
            "mean_word_len": g["mean_word_len"],
            "frac_alpha_words": g["frac_alpha_words"],
            "stop_hits": g["stop_hits"],
            "symbol_ratio": g["symbol_ratio"],
            "gopher_keep": g["keep"],
            "lang_pred": lang_id(F.col(text_col), toks=F.col(qstoks)),
            "fingerprint": doc_fingerprint(F.col(text_col)),
        }
        out = tok.select(
            "*", *[v.alias(f"{p}_{k}") for k, v in sig.items()]
        )
        return out.drop(qstoks)
    if kind == "media_near_dup":
        from qcardia_data_spark.sources import multimodal as MM

        # {"op": "media_near_dup",
        #  "modality": "image"|"audio"|"video"|"text",
        #  "max_hamming": 3, image: "fmt"; audio/video: "min_share";
        #  video: "keep_frames"; text: "id_col"/"text_col"} — REPLACES
        # the frame (binaryFile for media; a documents frame for text)
        # with the near-duplicate pair table of the modality's signature
        # family (pHash / Haitsma-Kalker / frame-pHash / 64-bit SimHash),
        # all four on the shared Manku blocking engine. text max_hamming
        # must satisfy the engine's block rule (k in 1, 3, 7, 15, 31).
        modality = op.get("modality", "image")
        mh = int(op.get("max_hamming", 3))
        if modality == "text":
            from qcardia_data_spark.functions.dedup import (
                simhash_near_pairs64,
            )

            return simhash_near_pairs64(
                df, op.get("id_col", "doc_id"),
                op.get("text_col", "text"), max_hamming=mh,
            )
        if modality == "image":
            return MM.image_near_dup_pairs(
                df, fmt=op.get("fmt", "png"), max_hamming=mh
            )
        if modality == "audio":
            return MM.audio_near_dup_pairs(
                MM.decode_audio(df),
                min_share=float(op.get("min_share", 0.35)), max_hamming=mh,
            )
        if modality == "video":
            return MM.video_near_dup_pairs(
                df, keep_frames=list(op.get("keep_frames", [0])),
                min_share=float(op.get("min_share", 0.5)), max_hamming=mh,
            )
        raise SpecError(f"media_near_dup: unknown modality {modality!r}")
    if kind == "chunk":
        from qcardia_data_spark.functions.text import chunk_documents

        # {"op": "chunk", "id_col": "doc_id", "text_col": "text",
        #  "chunk_tokens": 32, "overlap": 8} — sliding token-window
        # chunking (the embed/retrieval preprocessing step). REPLACES the
        # frame with one row per chunk (doc_id, chunk_id, chunk_n_tokens,
        # chunk_text); map-only, stream-safe.
        return chunk_documents(
            df,
            op.get("id_col", "doc_id"),
            op.get("text_col", "text"),
            chunk_tokens=int(op.get("chunk_tokens", 32)),
            overlap=int(op.get("overlap", 8)),
        )
    if kind == "token_entropy":
        from qcardia_data_spark.functions.text import token_entropy_stats

        # {"op": "token_entropy", "id_col": ..., "text_col": ...,
        #  "append": false} — vocabulary-entropy signals. Default returns
        # the per-doc signal table; append=true joins the four signal
        # columns back onto the frame by id_col (left join: zero-token
        # docs keep nulls). Batch-only (aggregation).
        id_col = op.get("id_col", "doc_id")
        stats = token_entropy_stats(df, id_col, op.get("text_col", "text"))
        if op.get("append", False):
            return df.join(stats, id_col, "left")
        return stats
    if kind == "gopher_line_rules":
        from qcardia_data_spark.functions.text import line_format_scores

        # {"op": "gopher_line_rules", "text_col": "text",
        #  "out": "line_format_ok", "drop_failing": true} — the Gopher
        # A1.1 line-format page gate (>90 % bullet-started or >30 %
        # ellipsis-ended lines drops the page) over newline-split text.
        # Unlike c4_clean this gate never rewrites the text — Gopher
        # drops pages, it does not edit them.
        from qcardia_data_spark.operators.joins import fresh_name

        text_col = op.get("text_col", "text")
        out = op.get("out", "line_format_ok")
        gll = fresh_name("_gllines", df.columns)  # r11: no silent clobber
        lined = df.withColumn(
            gll, F.explode(F.array(F.split(F.col(text_col), "\n")))
        )
        s = line_format_scores(F.col(gll))
        if op.get("drop_failing", True):
            return lined.filter(s["line_format_ok"]).drop(gll)
        audited = lined.select(
            "*",
            s["n_lines"].alias(f"{out}_n_lines"),
            s["bullet_line_frac"].alias(f"{out}_bullet_frac"),
            s["ellipsis_line_frac"].alias(f"{out}_ellipsis_frac"),
            s["line_format_ok"].alias(out),
        )
        return audited.drop(gll)
    if kind == "c4_clean":
        from qcardia_data_spark.functions.text import c4_rules

        # {"op": "c4_clean", "text_col": "text", "min_words_per_line": 5,
        #  "min_sentences": 3, "drop_failing": true, "out": "c4_keep"} —
        # the C4 §2.2 cleaner as it actually runs: LINE-level removal
        # (only ≥min_words terminal-punct lines survive, rejoined into
        # text_col) plus the page gate (<min_sentences survivors, lorem
        # ipsum, '{'). With drop_failing failing pages drop and text_col
        # is rewritten to the cleaned text; otherwise the gate boolean
        # and audit counts are appended and the text left untouched.
        from qcardia_data_spark.operators.joins import fresh_name

        text_col = op.get("text_col", "text")
        out = op.get("out", "c4_keep")
        c4l = fresh_name("_c4lines", df.columns)  # r11: no silent clobber
        lined = df.withColumn(
            c4l, F.explode(F.array(F.split(F.col(text_col), "\n")))
        )
        c = c4_rules(
            F.col(c4l),
            min_words_per_line=int(op.get("min_words_per_line", 5)),
            min_sentences=int(op.get("min_sentences", 3)),
        )
        if op.get("drop_failing", True):
            cleaned = lined.filter(c["keep"]).withColumn(
                text_col, F.array_join(c["kept_lines"], "\n")
            )
            return cleaned.drop(c4l)
        audited = lined.select(
            "*",
            c["n_lines"].alias(f"{out}_n_lines"),
            c["n_kept_lines"].alias(f"{out}_n_kept_lines"),
            c["has_lorem"].alias(f"{out}_has_lorem"),
            c["has_brace"].alias(f"{out}_has_brace"),
            c["keep"].alias(out),
        )
        return audited.drop(c4l)
    if kind == "fuzzy_join":
        from qcardia_data_spark.functions.dedup import fuzzy_string_join

        # {"op": "fuzzy_join", "right": <table/pipeline>, "col_l": ...,
        #  "col_r": ..., "max_dist": 2, "q": 2} — q-gram SSJoin: returns
        # the (col_l, col_r, dist) match pairs.
        return fuzzy_string_join(
            df, _side(spark, op["right"], sf_dir),
            op["col_l"], op["col_r"],
            max_dist=int(op.get("max_dist", 2)), q=int(op.get("q", 2)),
        )
    if kind == "remove_spans":
        from qcardia_data_spark.functions.dedup import remove_duplicate_spans

        # {"op": "remove_spans", "id_col": ..., "text_col": ..., "k": 4,
        #  "drop_empty": true} — ExactSubstr span-level dedup: replaces
        # text_col with the span-cleaned text (+ n_removed audit column);
        # drop_empty drops docs whose every token was duplicated.
        id_col = op.get("id_col", "doc_id")
        text_col = op.get("text_col", "text")
        cleaned = remove_duplicate_spans(
            df, id_col, text_col, k=int(op.get("k", 4))
        )
        out = (
            df.drop(text_col)
            .join(cleaned, id_col)
            .withColumnRenamed("clean_text", text_col)
        )
        if op.get("drop_empty", False):
            out = out.filter(F.length(text_col) > 0)
        return out
    if kind == "semantic_dedup":
        from qcardia_data_spark.functions.dedup import semantic_dedup

        # n_cells is the 100 TB knob: SemDeDup operates at ~N/1000 cells so
        # the within-cell pairwise stage stays bounded; spec configs scale
        # it with corpus size without touching code.
        return semantic_dedup(
            df,
            n_cells=int(op.get("n_cells", 16)),
            threshold=float(op.get("threshold", 0.35)),
            seed=int(op.get("seed", 0)),
            n_refine=int(op.get("n_refine", 1)),
            id_col=op.get("id_col", "vec_id"),
            vec_col=op.get("vec_col", "embedding"),
        )
    if kind == "heavy_hitters":
        from qcardia_data_spark.functions.sketches import heavy_hitters

        return heavy_hitters(
            df, op["col"], k=int(op.get("k", 10)),
            m=int(op["m"]) if "m" in op else None,
        )
    if kind == "pack_sequences":
        from qcardia_data_spark.functions.text import pack_sequences

        return pack_sequences(
            df, op["token_col"], int(op["seq_len"]),
            by=op["by"], order=op["order"],
        )
    if kind == "corpus_mix":
        from qcardia_data_spark.functions.text import corpus_mix

        return corpus_mix(
            df, op["token_col"], op["key_col"], op["by"],
            weights={str(k): float(v) for k, v in op["weights"].items()},
            total_budget=int(op["total_budget"]),
            seed=int(op.get("seed", 0)),
        )
    if kind == "unimax_mix":
        from qcardia_data_spark.functions.text import unimax_mix

        # {"op": "unimax_mix", "by": ..., "token_col": ..., "key_col": ...,
        #  "total_budget": ..., "max_epochs": 1.0, "seed": 0} — epoch-capped
        # uniform budgets (UniMax waterfill over the bounded group-count
        # table; collection happens at compile time).
        return unimax_mix(
            df, op["token_col"], op["key_col"], op["by"],
            total_budget=int(op["total_budget"]),
            max_epochs=float(op.get("max_epochs", 1.0)),
            seed=int(op.get("seed", 0)),
        )
    if kind == "alpha_mix":
        from qcardia_data_spark.functions.text import alpha_mix

        # {"op": "alpha_mix", "by": ..., "token_col": ..., "key_col": ...,
        #  "alpha": 0.5, "total_budget": ...} — temperature sampling with
        # budgets computed plan-side from the corpus' own group counts.
        return alpha_mix(
            df, op["token_col"], op["key_col"], op["by"],
            alpha=float(op.get("alpha", 0.5)),
            total_budget=int(op["total_budget"]),
            seed=int(op.get("seed", 0)),
        )
    if kind == "decontaminate":
        from qcardia_data_spark.functions.text import (
            decontaminate,
            decontaminate_bloom,
        )

        # bloom=True switches to the fixed-size Bloom-prefilter path (same
        # exact verdicts) for eval sets too large to broadcast as a set;
        # m_bits/k are the filter-size/probe-count knobs.
        fn = decontaminate_bloom if op.get("bloom", False) else decontaminate
        kwargs = (
            {"m_bits": int(op.get("m_bits", 1 << 16)), "k": int(op.get("k", 3))}
            if op.get("bloom", False)
            else {}
        )
        out = fn(
            df, _side(spark, op["eval"], sf_dir),
            op["id_col"], op["text_col"], n=int(op.get("n", 13)), **kwargs,
        )
        # drop_flagged=True turns the audit into the gate
        return (
            out.filter(~F.col("contaminated")).drop("contaminated")
            if op.get("drop_flagged", False)
            else out
        )
    if kind == "diversity_sample":
        from qcardia_data_spark.functions.similarity import diversity_sample

        # {"op": "diversity_sample", "n_per_bucket": 5, "id_col": ...,
        #  "vec_col": ..., "n_planes": 8, "seed": 0} — density-pruning
        # sample over embedding space (cap each LSH bucket).
        return diversity_sample(
            df,
            n_per_bucket=int(op["n_per_bucket"]),
            id_col=op.get("id_col", "vec_id"),
            vec_col=op.get("vec_col", "embedding"),
            n_planes=int(op.get("n_planes", 8)),
            seed=int(op.get("seed", 0)),
            dim=int(op.get("dim", 64)),
        )
    if kind == "random_projection":
        from qcardia_data_spark.functions.similarity import random_projection

        # {"op": "random_projection", "out_dim": 16, "seed": 0,
        #  "vec_col": "embedding", "out": "projected"} — JL dim reduction
        # before the similarity-search stages; deterministic sign matrix.
        return random_projection(
            df,
            out_dim=int(op.get("out_dim", 16)),
            seed=int(op.get("seed", 0)),
            vec_col=op.get("vec_col", "embedding"),
            out=op.get("out", "projected"),
            dim=int(op.get("dim", 64)),
        )
    if kind == "bm25_topk":
        from qcardia_data_spark.functions.retrieval import (
            bm25_topk,
            bm25_topk_from_index,
        )

        # {"op": "bm25_topk", "terms": [...], "k": 10, "id_col": ...,
        #  "text_col": ..., "path": ...?, "n_buckets": 64} —
        # keyword-retrieval slice: keep the top-k BM25 documents with
        # their scores attached. The k-row result broadcasts back onto
        # the pipeline frame. With "path" the scores come off a standing
        # inverted index (inverted_index_write; reads ONLY the query
        # terms' bucket dirs — no corpus scan); without it, one scan of
        # the frame itself.
        id_col = op.get("id_col", "doc_id")
        # refuse-loudly: the op appends a fixed 'score' column; joining
        # it onto a frame that already has one yields an AMBIGUOUS
        # duplicate that only explodes downstream (r11 review)
        if any(c.casefold() == "score" for c in df.columns):
            raise SpecError(
                "bm25_topk: the frame already has a 'score' column — "
                "rename it upstream (the op appends its own)"
            )
        if "path" in op:
            sel = bm25_topk_from_index(
                spark, op["path"], list(op["terms"]),
                k=int(op.get("k", 10)), id_col=id_col,
                k1=float(op.get("k1", 1.2)), b=float(op.get("b", 0.75)),
                # None = the index's own recorded layout (r13); an
                # explicit spec value is validated against it
                n_buckets=(
                    int(op["n_buckets"]) if "n_buckets" in op else None
                ),
            )
        else:
            sel = bm25_topk(
                df, list(op["terms"]), k=int(op.get("k", 10)),
                id_col=id_col, text_col=op.get("text_col", "text"),
                k1=float(op.get("k1", 1.2)), b=float(op.get("b", 0.75)),
            )
        return df.join(F.broadcast(sel.select(id_col, "score")), id_col)
    if kind == "dsir_weights":
        from qcardia_data_spark.functions.selection import dsir_log_weights

        # {"op": "dsir_weights", "target": "<bool SQL expr>", ...,
        #  "top_fraction": 0.25} — attach the DSIR importance log-weight;
        # top_fraction keeps the highest-weight slice. The cutoff comes
        # from approx_percentile (mergeable sketch — no global sort) and
        # attaches via a 1-row broadcast.
        id_col = op.get("id_col", "doc_id")
        scored = dsir_log_weights(
            df, F.expr(op["target"]), id_col=id_col,
            text_col=op.get("text_col", "text"),
            n_buckets=int(op.get("n_buckets", 128)),
            alpha=float(op.get("alpha", 0.5)),
        )
        out = df.join(scored, id_col, "left")
        if "top_fraction" in op:
            q = 1.0 - float(op["top_fraction"])
            thr = scored.agg(
                F.expr(f"approx_percentile(dsir_logw, {q})").alias("_thr")
            )
            return (
                out.crossJoin(F.broadcast(thr))
                .filter(F.col("dsir_logw") >= F.col("_thr"))
                .drop("_thr")
            )
        return out
    if kind == "quality_classifier":
        from qcardia_data_spark.functions.classifier import (
            pareto_keep,
            score_quality,
            train_quality_classifier,
        )

        # {"op": "quality_classifier", "positive": "<bool SQL expr>", ...}
        # — NOTE: spec compilation stays lazy everywhere else; this op
        # triggers the training job at compile time (Spark ML fit is an
        # action). The fitted model is a bounded coefficient vector.
        # FROZEN form: {"op": "quality_classifier", "coefs": [...],
        # "intercept": ...} scores with literal md5-bucket coefficients
        # (trained elsewhere, shipped as config — same artifact stance as
        # BPE merges; no training job, exactly engine-replayable).
        out = op.get("out", "quality_score")
        if "min_score" in op and "pareto_alpha" in op:
            # validate BEFORE training — the fit is an eager job and a
            # malformed spec must not burn it first
            raise SpecError(
                "quality_classifier: min_score and pareto_alpha are mutually "
                "exclusive gates — pick one"
            )
        if "coefs" in op:
            from qcardia_data_spark.functions.classifier import (
                score_frozen_quality,
            )

            scored = score_frozen_quality(
                df, [float(c) for c in op["coefs"]], float(op["intercept"]),
                id_col=op.get("key_col", "doc_id"),
                text_col=op.get("text_col", "text"), out=out,
            )
        else:
            model = train_quality_classifier(
                df, F.expr(op["positive"]),
                text_col=op.get("text_col", "text"),
                n_features=int(op.get("n_features", 4096)),
                reg_param=float(op.get("reg_param", 0.01)),
                max_iter=int(op.get("max_iter", 30)),
            )
            scored = score_quality(
                model, df, op.get("text_col", "text"), out=out
            )
        if "min_score" in op:
            return scored.filter(F.col(out) >= float(op["min_score"]))
        if "pareto_alpha" in op:
            return pareto_keep(
                scored, out, op.get("key_col", "doc_id"),
                alpha=float(op["pareto_alpha"]), seed=int(op.get("seed", 0)),
            )
        return scored
    if kind == "bpe_encode":
        from qcardia_data_spark.functions.bpe import bpe_encode

        # {"op": "bpe_encode", "text_col": ..., "merges": [["e","r"], ...],
        #  "out": "bpe_tokens"} — the merges table is part of the CONFIG
        # (tokenizers ship as artifacts; spec compilation stays job-free);
        # train once with functions.bpe.bpe_train and embed the result.
        merges = [tuple(p) for p in op["merges"]]
        return bpe_encode(
            df, op["text_col"], merges, out=op.get("out", "bpe_tokens")
        )
    if kind == "lm_score":
        from qcardia_data_spark.functions.text import char_trigram_lm_score

        # {"op": "lm_score", "ref": <table/pipeline>, "id_col": ..,
        #  "text_col": .., "min_score": -7.5}  — attach the CCNet-style
        # trigram quality score; min_score turns it into a hard gate;
        # "keep_buckets": ["head", "middle"] applies CCNet's actual
        # head/middle/tail tercile gate instead (thresholds from a 1-row
        # exact-percentile aggregate attached by broadcast — at 100 TB
        # swap for percentile_approx, the a4 exact/approx pairing).
        if "min_score" in op and "keep_buckets" in op:
            raise SpecError(
                "lm_score: min_score and keep_buckets are mutually "
                "exclusive gates — pick one"
            )
        scored = char_trigram_lm_score(
            df, _side(spark, op["ref"], sf_dir),
            op["id_col"], op["text_col"],
            smooth_v=int(op.get("smooth_v", 100)),
        )
        out = df.join(scored, op["id_col"], "left")
        if "min_score" in op:
            return out.filter(
                F.col("lm_score") >= float(op["min_score"])
            ).drop("lm_score")
        if "keep_buckets" in op:
            keep = set(op["keep_buckets"])
            bad = keep - {"head", "middle", "tail"}
            if bad:
                raise SpecError(f"lm_score: unknown buckets {sorted(bad)}")
            rounded = F.round(F.col("lm_score"), 6)
            thr = (
                scored.select(F.round("lm_score", 6).alias("_s"))
                .agg(
                    F.percentile(F.col("_s"), F.lit(1.0 / 3)).alias("_t1"),
                    F.percentile(F.col("_s"), F.lit(2.0 / 3)).alias("_t2"),
                )
            )
            bucket = (
                F.when(rounded >= F.col("_t2"), "head")
                .when(rounded >= F.col("_t1"), "middle")
                .otherwise("tail")
            )
            return (
                out.crossJoin(F.broadcast(thr))
                # unscorable docs (NULL lm_score — no trigrams) are DROPPED,
                # matching the min_score gate; without the isNotNull they
                # fell through both when()s into 'tail' (r10 review)
                .filter(rounded.isNotNull() & bucket.isin(*sorted(keep)))
                .drop("_t1", "_t2", "lm_score")
            )
        return out
    if kind == "quality_filter":
        from qcardia_data_spark.functions.text import word_tokens
        from qcardia_data_spark.operators.joins import fresh_name

        # tokenize ONCE behind the explode(array()) generator barrier —
        # referencing the word_tokens expression from the size gate, the
        # blocklist lambda and the ratio would re-run the tokenizer up to
        # 3x per row (no CSE across HOF lambdas — the repo's standing
        # text.py rule, r10 review)
        qtoks = fresh_name("_qtoks", df.columns)
        toked = df.withColumn(
            qtoks, F.explode(F.array(word_tokens(F.col(op["text_col"]))))
        )
        toks = F.col(qtoks)
        cond = F.size(toks) >= int(op.get("min_tokens", 10))
        if "min_chars" in op:
            cond = cond & (F.length(op["text_col"]) >= int(op["min_chars"]))
        if "blocklist" in op:
            # word-blocklist gate (the Dolma/C4 taxonomy row): drop docs
            # whose blocked-token fraction exceeds max_block_ratio
            # (default 0 = any hit drops). Token-exact, not substring —
            # 'class' never matches a blocked 'ass'. The list is a plan
            # literal (config artifact, same stance as BPE merges).
            blocked = F.array(*[F.lit(w) for w in op["blocklist"]])
            n_blocked = F.size(
                F.filter(toks, lambda w: F.array_contains(blocked, w))
            )
            ratio = float(op.get("max_block_ratio", 0.0))
            cond = cond & (
                n_blocked.cast("double")
                <= ratio * F.size(toks).cast("double")
            )
        return toked.filter(cond).drop(qtoks)
    if kind == "weighted_sample":
        from qcardia_data_spark.operators.sampling import weighted_rejection_sample

        return weighted_rejection_sample(
            df, op["group"], op["key"],
            float(op.get("accept_scale", 1.0)), op.get("seed", 0),
        )
    if kind == "weighted_reservoir":
        # {"op": "weighted_reservoir", "key": ..., "weight": ..., "k": N,
        #  "seed": 0} — exact-k weight-proportional sample without
        # replacement (A-Res; operators/sampling.py), keyed-md5
        # deterministic; e.g. "10k documents proportional to token count"
        from qcardia_data_spark.operators.sampling import weighted_reservoir

        return weighted_reservoir(
            df, op["key"], op["weight"], int(op["k"]), op.get("seed", 0)
        )
    if kind == "poisson_bootstrap":
        # {"op": "poisson_bootstrap", "key_cols": [...], "lam": 1.0,
        #  "k_max": 8, "seed": 0, "out": "boot_k"} — deterministic
        # Poisson bootstrap (operators/sampling.py::poisson_bootstrap,
        # Chamandy et al. 2012): each row draws its resample multiplicity
        # from a keyed-md5 uniform against plan-literal Poisson CDF
        # thresholds — map-only, no shuffle, retry-reproducible.
        # Downstream aggregates weight by the `out` column.
        from qcardia_data_spark.operators.sampling import poisson_bootstrap

        return poisson_bootstrap(
            df, list(op["key_cols"]), lam=float(op.get("lam", 1.0)),
            k_max=int(op.get("k_max", 8)), seed=op.get("seed", 0),
            out=op.get("out", "boot_k"),
        )
    if kind == "cache":
        # materialization boundary: everything upstream is built once into a
        # fingerprint-keyed parquet (or hit), downstream reads the cache —
        # the reference's cache-then-serve split (SURVEY §3.1 stage 4)
        from qcardia_data_spark.plans.cache import materialize, read_cache

        upstream = df
        path, _built = materialize(
            spark,
            build=lambda: upstream,
            cache_root=op["cache_root"],
            # cache identity = the upstream op list (the producing plan)
            # PLUS the data directory it was compiled against — without
            # sf_dir the same spec at two scales collided on one cache
            # path and silently served the other's data (r10 review) —
            # mirroring the reference's config-derived cache name (C1)
            spec={"upstream": list(prior_ops), "sf_dir": sf_dir},
            overwrite=op.get("overwrite", False),
        )
        return read_cache(spark, path)
    if kind == "union":
        other = _side(spark, op, sf_dir)
        return union_by_name([df, other])
    if kind == "distinct":
        return df.distinct()
    if kind == "dropDuplicates":
        return df.dropDuplicates(op.get("cols"))
    if kind == "sort":
        # refuse-loudly: "col DESC" parses as the column ALIASED 'DESC'
        # (ascending, no error) — the silent mis-sort an r11 example hit.
        # Descending in this dialect is "-col" (numeric negation).
        for e in op["by"]:
            if isinstance(e, str) and re.search(r"(?i)\s+(asc|desc)\s*$", e):
                raise SpecError(
                    f"sort: {e!r} — SQL ASC/DESC suffixes are silently "
                    "ignored by expr(); use \"-col\" for descending"
                )
        return df.orderBy(*_cols(op["by"]))
    if kind == "limit":
        return df.limit(int(op["n"]))
    if kind == "sample_group":
        return X.stratified_sample_n(
            df, op["group"], op["key"], int(op["n"]), op.get("seed", 0)
        )
    if kind == "split_subjects":
        # scale_safe (VERDICT r12 #3): the distributed two-phase rank was
        # reachable only from the module API — a spec-driven 100 TB
        # pipeline could not ask for it. Same knob, same default.
        return X.subject_level_split(
            df, op["key"], float(op["valid_fraction"]), op.get("seed", 0),
            out=op.get("out", "split"),
            scale_safe=bool(op.get("scale_safe", False)),
            num_ranges=op.get("num_ranges"),
        )
    if kind == "cumsum":
        # running sum with the key-granularity escape hatch exposed:
        # {"op": "cumsum", "partition_by": [...], "order_by": [...],
        #  "value": col, "out": name, "scale_safe": bool, "num_ranges": N}
        # The spec `window` op with running:true plans the classic window
        # form only; coarse partition keys at scale need the two-phase
        # distributed prefix sum (operators.windows.cumulative_sum).
        from qcardia_data_spark.operators.windows import cumulative_sum

        return cumulative_sum(
            df, op.get("partition_by", []), _cols(op["order_by"]),
            op["value"], out=op.get("out", "cum"),
            scale_safe=bool(op.get("scale_safe", False)),
            num_ranges=op.get("num_ranges"),
        )
    if kind == "subject_kfold":
        return X.subject_kfold(
            df, op["key"], k=int(op["k"]),
            seed=op.get("seed", 0), out=op.get("out", "fold"),
        )
    if kind == "inverted_index_write":
        # materialization boundary like zorder_write, for keyword retrieval:
        # builds the term-bucket-partitioned postings + stats tables, then
        # continues the pipeline on the UNCHANGED input frame (the index is
        # a side artifact probed later via bm25_topk_from_index).
        from qcardia_data_spark.functions.retrieval import build_inverted_index

        build_inverted_index(
            df, op["path"],
            id_col=op.get("id_col", "doc_id"),
            text_col=op.get("text_col", "text"),
            n_buckets=int(op.get("n_buckets", 64)),
        )
        return df
    if kind == "positional_index_write":
        # materialization boundary like inverted_index_write, for PHRASE
        # retrieval: persists the term-bucket-partitioned positional
        # postings (retrieval.py::build_positional_index — what tf
        # postings cannot answer), passes the frame through unchanged.
        # Probe later with phrase_search + the same path/n_buckets.
        from qcardia_data_spark.functions.retrieval import (
            build_positional_index,
        )

        build_positional_index(
            df, op["path"],
            id_col=op.get("id_col", "doc_id"),
            text_col=op.get("text_col", "text"),
            n_buckets=int(op.get("n_buckets", 64)),
        )
        return df
    if kind == "phrase_search":
        # {"op": "phrase_search", "phrase": ["exact", "words"],
        #  "id_col": ..., "text_col": ..., "path": ...?, "n_buckets": 64}
        # — exact consecutive-token phrase match counts, the bm25_topk
        # convention: the per-doc (id, n_hits) result broadcasts back
        # onto the pipeline frame (docs without the phrase drop). With
        # "path" the occurrences come off a standing positional index
        # (reads ONLY the phrase terms' bucket dirs — value-identical to
        # the scan form); without it, one scan of the frame itself.
        from qcardia_data_spark.functions.retrieval import (
            phrase_occurrences,
            phrase_occurrences_from_index,
        )

        id_col = op.get("id_col", "doc_id")
        # same refuse-loudly rule as bm25_topk's 'score' carry
        if any(c.casefold() == "n_hits" for c in df.columns):
            raise SpecError(
                "phrase_search: the frame already has an 'n_hits' column "
                "— rename it upstream (the op appends its own)"
            )
        if "path" in op:
            hits = phrase_occurrences_from_index(
                spark, op["path"], list(op["phrase"]), id_col=id_col,
                n_buckets=(
                    int(op["n_buckets"]) if "n_buckets" in op else None
                ),
            )
        else:
            hits = phrase_occurrences(
                df, list(op["phrase"]), id_col=id_col,
                text_col=op.get("text_col", "text"),
            )
        return df.join(F.broadcast(hits), id_col)
    if kind == "ann_index_write":
        # materialization boundary like inverted_index_write: persist the
        # current frame as a standing ANN index (a side artifact probed
        # later via ann_probe), pass the frame through unchanged
        ikind = op.get("kind", "lsh")
        if ikind == "lsh":
            from qcardia_data_spark.functions.similarity import (
                lsh_write_partitioned,
            )

            lsh_write_partitioned(
                df, op["path"],
                n_planes=int(op.get("n_planes", 6)),
                seed=int(op.get("seed", 0)),
                id_col=op.get("id_col", "vec_id"),
                vec_col=op.get("vec_col", "embedding"),
            )
        elif ikind == "ivf":
            from qcardia_data_spark.functions.similarity import (
                ivf_write_partitioned,
            )

            ivf_write_partitioned(
                df, op["path"],
                n_cells=int(op.get("n_cells", 16)),
                seed=int(op.get("seed", 0)),
                n_refine=int(op.get("n_refine", 1)),
                id_col=op.get("id_col", "vec_id"),
                vec_col=op.get("vec_col", "embedding"),
            )
        elif ikind == "ivfpq":
            from qcardia_data_spark.functions.similarity import (
                ivfpq_write_partitioned,
            )

            ivfpq_write_partitioned(
                df, op["path"],
                n_cells=int(op.get("n_cells", 16)),
                m=int(op.get("m", 8)),
                k_codes=int(op.get("k_codes", 16)),
                seed=int(op.get("seed", 0)),
                n_refine=int(op.get("n_refine", 1)),
                id_col=op.get("id_col", "vec_id"),
                vec_col=op.get("vec_col", "embedding"),
                normalize=bool(op.get("normalize", True)),
                residual=bool(op.get("residual", False)),
            )
        else:
            raise SpecError(f"ann_index_write: unknown kind {ikind!r}")
        return df
    if kind == "ann_index_append":
        from qcardia_data_spark.functions.similarity import ann_index_append

        # {"op": "ann_index_append", "index_path": ..., "id_col"/"vec_col"}
        # — grow the standing index with the current frame; every derived
        # quantity (planes/centroids/codebooks/normalize/residual) comes
        # from the index's own meta, same-id-guarded so retries are
        # no-ops. Frame passes through unchanged.
        ann_index_append(
            df, op["index_path"],
            id_col=op.get("id_col", "vec_id"),
            vec_col=op.get("vec_col", "embedding"),
        )
        return df
    if kind == "ann_probe":
        # {"op": "ann_probe", "index_path": ..., "k": 5,
        #  "id_col"/"vec_col": ..., LSH extras: "id_right", "n_flip"
        #  (multi-probe); IVF+PQ extra: "query_id", "n_probe"} — the index kind and its
        #  build params are read from the index's OWN meta file (the
        #  bm25_topk_from_index form): specs carry only the path + probe
        #  knobs, so a spec can never sign/bucket differently than the
        #  index it probes.
        path = op["index_path"]
        from qcardia_data_spark.sources import readers

        # one manifest read picks the kind; absence-only None: a
        # permission/corrupt read of a real index raises instead of
        # mis-dispatching the op (ADVICE r9)
        meta = readers.read_meta_json(spark, path)
        ann_kind = meta["kind"] if meta else None
        if ann_kind == "lsh":
            from qcardia_data_spark.functions.similarity import (
                pairwise_topk_join_pruned,
            )

            id_left = op.get("id_col", "vec_id")
            id_right = op.get("id_right", "vec_id")
            if id_left == id_right:
                # probe batch and index share the id name (the common
                # self-join case): disambiguate the probe side — output
                # columns become (<id>_probe, <id>, score)
                probe_id = f"{id_left}_probe"
                df = df.withColumnRenamed(id_left, probe_id)
                id_left = probe_id
            return pairwise_topk_join_pruned(
                df, path, k=int(op.get("k", 5)),
                id_left=id_left, id_right=id_right,
                vec_col=op.get("vec_col", "embedding"),
                n_flip=int(op.get("n_flip", 0)),  # multi-probe recall knob
            )
        if ann_kind in ("ivfpq", "ivf"):
            if "query_id" not in op:
                raise SpecError("ann_probe (ivf/ivfpq): 'query_id' required")
            id_col = op.get("id_col", "vec_id")
            vec_col = op.get("vec_col", "embedding")
            row = df.filter(
                F.col(id_col) == op["query_id"]
            ).select(vec_col).first()  # bounded: one query row
            if row is None:
                raise SpecError(
                    f"ann_probe: query_id {op['query_id']!r} not in frame"
                )
            if ann_kind == "ivfpq":
                from qcardia_data_spark.functions.similarity import (
                    ann_ivfpq_topk_pruned,
                )

                return ann_ivfpq_topk_pruned(
                    spark, path, row[0], k=int(op.get("k", 10)),
                    n_probe=int(op.get("n_probe", 4)), id_col=id_col,
                )
            from qcardia_data_spark.functions.similarity import (
                ann_ivf_topk_from_meta,
            )

            return ann_ivf_topk_from_meta(
                spark, path, row[0], k=int(op.get("k", 10)),
                n_probe=int(op.get("n_probe", 4)), id_col=id_col,
                vec_col=vec_col,
            )
        raise SpecError(
            f"ann_probe: no lsh, ivfpq or ivf _meta.json under "
            f"{path!r} — not an ANN index written by ann_index_write/"
            "lsh_write_partitioned/ivf_write_partitioned/"
            "ivfpq_write_partitioned"
        )
    if kind == "winnow_index_write":
        # {"op": "winnow_index_write", "path": ..., "id_col": ...,
        #  "text_col": ..., "k": 3, "w": 4, "mode": "overwrite"} — the
        #  MOSS tier's standing-index half: fp-bucket-partitioned
        #  fingerprint table for the CURRENT frame, ~5x smaller than the
        #  signature index for the guaranteed-detection class; frame
        #  passes through unchanged.
        from qcardia_data_spark.functions.dedup import write_winnow_index

        write_winnow_index(
            df, op.get("id_col", "doc_id"), op.get("text_col", "text"),
            op["path"],
            k=int(op.get("k", 3)), w=int(op.get("w", 4)),
            n_fp_buckets=_bucket_knob(op, "n_fp_buckets"),
            mode=op.get("mode", "overwrite"),
        )
        return df
    if kind == "winnow_incremental":
        # {"op": "winnow_incremental", "index_path": ...,
        #  "min_shared": 2, "max_df": 20, "update_index": false,
        #  "allow_replay": false} — winnow-dedups the current frame
        #  against the persisted fingerprint index and within itself
        #  (k/w come from the index's own manifest); survivors flow on.
        from qcardia_data_spark.functions.dedup import winnow_incremental

        return winnow_incremental(
            df, op["index_path"],
            id_col=op.get("id_col", "doc_id"),
            text_col=op.get("text_col", "text"),
            min_shared=int(op.get("min_shared", 2)),
            max_df=int(op.get("max_df", 20)),
            update_index=bool(op.get("update_index", False)),
            allow_replay=bool(op.get("allow_replay", False)),
        )
    if kind == "hamming_index_write":
        # {"op": "hamming_index_write", "path": ..., "id_col": ...,
        #  "text_col": ..., "max_hamming": 3, "mode": "overwrite"} —
        #  simhash64 the CURRENT frame's text and persist the Manku
        #  block index (the engine's fourth standing index); frame
        #  passes through unchanged.
        from qcardia_data_spark.functions.dedup import (
            simhash64_md5_table,
            write_hamming64_index,
        )

        sig = simhash64_md5_table(
            df, op.get("id_col", "doc_id"), op.get("text_col", "text")
        )
        write_hamming64_index(
            sig, op["path"], id_col=op.get("id_col", "doc_id"),
            max_hamming=int(op.get("max_hamming", 3)),
            n_key_buckets=_bucket_knob(op, "n_key_buckets"),
            mode=op.get("mode", "overwrite"),
        )
        return df
    if kind == "hamming_probe":
        # {"op": "hamming_probe", "index_path": ..., "id_col": ...,
        #  "text_col": ..., "pairs_only": true, "update_index": false,
        #  "allow_replay": false} — simhash64 the current frame, probe
        #  the standing Manku index for within-k partners. pairs_only
        #  (default) returns (a, b, hamming); otherwise drops every
        #  frame row with a LOWER-id partner (min-id greedy dedup).
        from qcardia_data_spark.functions.dedup import (
            hamming64_index_probe,
            simhash64_md5_table,
        )

        id_col = op.get("id_col", "doc_id")
        sig = simhash64_md5_table(
            df, id_col, op.get("text_col", "text")
        ).localCheckpoint(eager=True)
        pairs = hamming64_index_probe(
            sig, op["index_path"], id_col=id_col,
            update_index=bool(op.get("update_index", False)),
            allow_replay=bool(op.get("allow_replay", False)),
        )
        if op.get("pairs_only", True):
            return pairs
        losers = (
            pairs.filter(F.col("b") < F.col("a"))
            .select(F.col("a").alias(id_col)).distinct()
        )
        return df.join(losers, id_col, "left_anti")
    if kind == "signature_index_write":
        # {"op": "signature_index_write", "path": ..., "id_col": ...,
        #  "text_col": ..., "n_bands": 8, "shingle_n": 3, "mode":
        #  "overwrite"} — materializes the MinHash dedup index (sig_bucket/
        #  id_bucket-partitioned parquet) for the CURRENT frame, then
        #  passes the frame through unchanged: the standing-index half of
        #  the incremental dedup pair below.
        from qcardia_data_spark.functions.dedup import write_signature_index

        write_signature_index(
            df, op.get("id_col", "doc_id"), op.get("text_col", "text"),
            op["path"],
            n_bands=int(op.get("n_bands", 8)),
            shingle_n=int(op.get("shingle_n", 3)),
            n_sig_buckets=_bucket_knob(op, "n_sig_buckets"),
            n_id_buckets=_bucket_knob(op, "n_id_buckets"),
            mode=op.get("mode", "overwrite"),
        )
        return df
    if kind == "near_dedup_incremental":
        # {"op": "near_dedup_incremental", "index_path": ...,
        #  "update_index": false, ...near_dedup knobs...} — dedups the
        #  current frame (a new crawl batch) against the persisted index
        #  AND within itself; survivors flow on. With update_index the
        #  survivors' signatures are appended, so a spec re-run on next
        #  week's batch stays incremental — the 100 TB operating mode.
        from qcardia_data_spark.functions.dedup import near_dedup_incremental

        # signature knobs default to None → taken from the index's own
        # manifest; a spec that DOES pin them gets the refuse-loudly
        # drift validation inside near_dedup_incremental
        return near_dedup_incremental(
            df, op["index_path"],
            op.get("id_col", "doc_id"), op.get("text_col", "text"),
            n_bands=(
                None if op.get("n_bands") is None else int(op["n_bands"])
            ),
            shingle_n=(
                None if op.get("shingle_n") is None else int(op["shingle_n"])
            ),
            threshold=float(op.get("threshold", 0.6)),
            n_sig_buckets=(
                None if op.get("n_sig_buckets") is None
                else int(op["n_sig_buckets"])
            ),
            n_id_buckets=(
                None if op.get("n_id_buckets") is None
                else int(op["n_id_buckets"])
            ),
            max_bucket_size=(
                None if op.get("max_bucket_size", 1000) is None
                else int(op.get("max_bucket_size", 1000))
            ),
            star_rounds=int(op.get("star_rounds", 2)),
            update_index=bool(op.get("update_index", False)),
            allow_replay=bool(op.get("allow_replay", False)),
        )
    if kind == "zorder_write":
        # materialization boundary like "cache", but with a Z-ordered layout:
        # downstream ops read the multi-column-clustered parquet, so filters
        # on ANY bucket column prune at file/row-group level (plans/layout.py)
        from qcardia_data_spark.plans.layout import zorder_write

        buckets = {name: F.expr(e) for name, e in op["buckets"].items()}
        zorder_write(
            df, op["path"], buckets,
            bits=op.get("bits", 16), n_files=int(op.get("n_files", 8)),
        )
        return spark.read.parquet(op["path"])
    if kind == "pivot_counts":
        # {"op": "pivot_counts", "key": ..., "pivot_col": ...,
        #  "values": [...]} — explicit-values cross-tab (one map-side-
        #  combined groupBy; absent combos emit 0). Values are REQUIRED:
        #  inference costs a distinct scan and makes the output schema
        #  data-dependent.
        from qcardia_data_spark.operators.aggregates import pivot_counts

        return pivot_counts(
            df, op["key"], op["pivot_col"], list(op["values"])
        )
    if kind == "unpivot":
        # {"op": "unpivot", "key": ..., "value_cols": [...],
        #  "var_name": "variable", "value_name": "value"} — melt back to
        #  long rows (pure map-side generator).
        from qcardia_data_spark.operators.aggregates import unpivot_long

        return unpivot_long(
            df, op["key"], list(op["value_cols"]),
            var_name=op.get("var_name", "variable"),
            value_name=op.get("value_name", "value"),
        )
    if kind == "discrete_quantiles":
        # {"op": "discrete_quantiles", "key": ..., "value": ...,
        #  "pcts": [25, 50, 75, 90]} — exact per-group quantiles by
        #  integer rank selection (always a stored value).
        from qcardia_data_spark.operators.aggregates import discrete_quantiles

        return discrete_quantiles(
            df, op["key"], op["value"],
            pcts=op.get("pcts", (25, 50, 75, 90)),
        )
    if kind == "expect":
        # {"op": "expect", "checks": ["l_quantity >= 0", ...],
        #  "max_violation_frac": 0.0, "mode": "fail"|"drop"|"audit"} —
        # the dbt-style data-quality gate. fail (default): ONE agg job
        # counts violations per check (conditional sums — one pass, no
        # per-check scans) and the pipeline REFUSES loudly above the
        # budget, naming the failing checks and their rates — bad data
        # stops at the gate instead of corrupting everything downstream.
        # drop: keep rows passing ALL checks. audit: append `_ok_<i>`
        # booleans and let downstream decide. NULL check results count
        # as violations (an unevaluable expectation is not met).
        checks = [str(c) for c in op["checks"]]
        if not checks:
            raise SpecError("expect: checks must name >= 1 predicate")
        oks = [F.coalesce(F.expr(c), F.lit(False)) for c in checks]
        mode = op.get("mode", "fail")
        if mode not in ("fail", "drop", "audit"):
            raise SpecError(
                f"expect: unknown mode {mode!r} — use 'fail', 'drop' or "
                "'audit' (a typo must not silently run the fail gate)"
            )
        if mode == "drop":
            keep = oks[0]
            for o in oks[1:]:
                keep = keep & o
            return df.filter(keep)
        if mode == "audit":
            return df.select(
                "*", *[o.alias(f"_ok_{i}") for i, o in enumerate(oks)]
            )
        budget = float(op.get("max_violation_frac", 0.0))
        counts = df.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.when(~o, 1).otherwise(0)).alias(f"_v{i}")
                for i, o in enumerate(oks)
            ],
        ).collect()[0]
        n = counts["_n"] or 0
        bad = {
            c: counts[f"_v{i}"] / n
            for i, c in enumerate(checks)
            if n > 0 and counts[f"_v{i}"] / n > budget
        }
        if bad:
            detail = ", ".join(f"{c!r}: {r:.4f}" for c, r in bad.items())
            raise SpecError(
                f"expect: violation rate over budget {budget}: {detail}"
            )
        return df
    if kind == "compact":
        # {"op": "compact", "src": ..., "dst": ..., "target_mb": 256,
        #  "order_by": [cols]?} — maintenance boundary: rewrite a
        # fragmented parquet directory (streaming sinks / index appends
        # accrete small files) into ~target_mb files, zero-shuffle
        # coalesce or range+sort pruning layout; downstream ops read the
        # compacted table. Acts on its named src directory, not the
        # pipeline frame (a maintenance pipeline sources the same path).
        from qcardia_data_spark.plans.layout import compact_files

        compact_files(
            spark, op["src"], op["dst"],
            target_mb=int(op.get("target_mb", 256)),
            order_by=op.get("order_by"),
        )
        return spark.read.parquet(op["dst"])
    if kind == "drift":
        # {"op": "drift", "stat": "psi"|"chisq"|"ks", "col": ...,
        #  "against": {"table": ...|"pipeline": [...]},
        #  psi: "edges": [...], "smooth": 0.5; ks: "n_coarse": 64}
        # — drift statistics of the current frame (sample A) vs the
        # `against` side (sample B, the standing-corpus baseline):
        # functions/drift.py. Replaces the frame with the stat table.
        from qcardia_data_spark.functions import drift as _DR

        other = _side(spark, op["against"], sf_dir)
        stat, col = op.get("stat", "psi"), op["col"]
        if stat == "psi":
            return _DR.psi_buckets(
                df, other, col,
                edges=[float(e) for e in op["edges"]],
                smooth=float(op.get("smooth", 0.5)),
            )
        if stat == "chisq":
            return _DR.chi_square_drift(df, other, col)
        if stat == "ks":
            return _DR.ks_statistic(
                df, other, col, n_coarse=int(op.get("n_coarse", 64))
            )
        raise SpecError(f"drift: unknown stat {stat!r} (psi|chisq|ks)")
    if kind == "scd2":
        # {"op": "scd2", "key": ..., "ts": ..., "attrs": [...],
        #  "tiebreak": ...} — SCD type-2 history from the current change
        # log: one validity-interval row per distinct consecutive state
        # (valid_from/valid_to/version/is_current; functions/cdc.py)
        from qcardia_data_spark.functions.cdc import scd2_from_changes

        return scd2_from_changes(
            df, op["key"], op["ts"], list(op["attrs"]),
            tiebreak=op.get("tiebreak"),
        )
    if kind == "upsert_table_write":
        # {"op": "upsert_table_write", "path": ..., "key": ..., "ts": ...,
        #  "n_buckets": 64} — initialize the persisted merge-upsert table
        # (md5-bucketed on key, params frozen in its manifest); the frame
        # passes through unchanged (the signature_index_write form)
        from qcardia_data_spark.functions.cdc import upsert_write_partitioned

        upsert_write_partitioned(
            df, op["path"], key=op["key"], ts=op["ts"],
            n_buckets=_bucket_knob(op, "n_buckets"),
        )
        return df
    if kind == "merge_upsert":
        # {"op": "merge_upsert", "path": ..., "tiebreak": ...} — the
        # current frame is a CDC batch merged latest-wins into the table
        # at path (key/ts/bucketing from the table's OWN manifest, so
        # spec and table can never drift); reads at most the batch's
        # bucket partitions and rewrites only those. Downstream ops see
        # the post-merge table state.
        from qcardia_data_spark.functions.cdc import (
            merge_upsert_partitioned,
            read_upsert_table,
        )

        merge_upsert_partitioned(
            spark, op["path"], df, tiebreak=op.get("tiebreak")
        )
        return read_upsert_table(spark, op["path"])
    if kind == "upsert_log_append":
        # {"op": "upsert_log_append", "path": ..., "batch_id": N?} — land
        # the current frame as an immutable MOR log batch (_batch=<id>
        # partition, bucketed on the table's merge key); key/ts/bucketing
        # come from the table's OWN manifest. Pinned batch_id replays
        # are no-ops (exactly-once); auto id = max existing + 1. The
        # frame passes through unchanged so appends chain.
        from qcardia_data_spark.functions.cdc import upsert_append_batch

        bid = op.get("batch_id")
        upsert_append_batch(
            spark, op["path"], df,
            batch_id=None if bid is None else int(bid),
        )
        return df
    if kind == "read_as_of":
        # {"op": "read_as_of", "path": ..., "batch": N?, "tiebreak": ...?}
        # — time travel: REPLACE the frame with the latest-wins state the
        # upsert table at path had after log batch N landed (None/omitted
        # = current state). The _batch <= N predicate is a partition
        # filter, so later batches' files are never read. Closes the
        # write-only gap: a declarative pipeline that lands an upsert log
        # (upsert_table_write + upsert_log_append) can now read it back
        # at any version, the way ann_probe closed the same gap for ANN
        # indexes (VERDICT r8 "What's missing" #3).
        from qcardia_data_spark.functions.cdc import read_upsert_as_of

        b = op.get("batch")
        return read_upsert_as_of(
            spark, op["path"], batch=None if b is None else int(b),
            tiebreak=op.get("tiebreak"),
        )
    if kind == "table_diff":
        # {"op": "table_diff", "path": ..., "before_batch": N,
        #  "after_batch": M?, "compare": [cols]?, "tiebreak": ...?} —
        # audit: what did batches (N, M] do? Replaces the frame with the
        # snapshot diff between the two as-of versions of the upsert
        # table (added/removed/changed + before/after structs); the key
        # comes from the table's own manifest.
        from qcardia_data_spark.functions.cdc import (
            _require_meta,
            read_upsert_as_of,
            table_diff,
        )

        meta = _require_meta(spark, op["path"], "spec:table_diff")
        tb = op.get("tiebreak")
        after_b = op.get("after_batch")
        before = read_upsert_as_of(
            spark, op["path"], batch=int(op["before_batch"]), tiebreak=tb
        )
        after = read_upsert_as_of(
            spark, op["path"],
            batch=None if after_b is None else int(after_b), tiebreak=tb,
        )
        cmp_cols = op.get("compare")
        return table_diff(
            before, after, meta["key"],
            compare=None if cmp_cols is None else list(cmp_cols),
        )
    if kind == "compact_upsert_log":
        # {"op": "compact_upsert_log", "path": ..., "up_to": N?,
        #  "tiebreak": ...?} — maintenance boundary (the MOR sibling of
        # "compact"): fold log batches <= up_to into the base table and
        # drop the folded partitions, trading time travel below the
        # horizon for read amplification 1. Downstream ops see the
        # post-compaction current state (unchanged by the fold,
        # test-asserted in functions/cdc.py).
        from qcardia_data_spark.functions.cdc import (
            compact_upsert_log,
            read_upsert_as_of,
        )

        up = op.get("up_to")
        compact_upsert_log(
            spark, op["path"], up_to=None if up is None else int(up),
            tiebreak=op.get("tiebreak"),
        )
        return read_upsert_as_of(spark, op["path"],
                                 tiebreak=op.get("tiebreak"))
    if kind in ("pagerank", "triangle_count", "connected_components",
                "bfs_hops", "sssp", "kcore"):
        # Graph family (functions/graph.py) over an edge-shaped frame:
        #   {"op": "pagerank", "src": "src", "dst": "dst",
        #    "damping": 0.875, "iters": 3}       -> (node, rank)
        #   {"op": "triangle_count", "src": ..., "dst": ...}
        #                                        -> (node, n_triangles)
        #   {"op": "connected_components", "src": ..., "dst": ...,
        #    "max_rounds": 40}                   -> (node, component)
        #       large-star/small-star alternation: O(log n) rounds for
        #       ANY diameter — the scale-correct CC for arbitrary graphs
        from qcardia_data_spark.functions import graph as _G

        src_c, dst_c = op.get("src", "src"), op.get("dst", "dst")
        if kind == "pagerank":
            return _G.pagerank(
                df, src_c, dst_c,
                damping=float(op.get("damping", 0.875)),
                iters=int(op.get("iters", 3)),
                reliable_dir=op.get("reliable_dir"),
            )
        if kind == "connected_components":
            # reliable_dir / reliable_every (r13): persist the per-round
            # edge frame as parquet every k rounds so the fixpoint
            # survives executor loss (bounded replay between persists)
            return _G.connected_components_star(
                df, src_c, dst_c,
                max_rounds=int(op.get("max_rounds", 40)),
                reliable_dir=op.get("reliable_dir"),
                reliable_every=int(op.get("reliable_every", 1)),
            )
        if kind in ("bfs_hops", "sssp"):
            #   {"op": "bfs_hops", "src": ..., "dst": ...,
            #    "sources_where": "node % 97 = 0", "max_hops": 6}
            #                                      -> (node, hops)
            #       multi-source shortest hop counts; sources_where is a
            #       SQL predicate over the derived `node` column
            #   {"op": "sssp", "src": ..., "dst": ..., "weight": "w",
            #    "sources_where": ..., "rounds": 6}  -> (node, cost)
            #       the WEIGHTED twin (bounded Bellman-Ford relaxations;
            #       graph.py::sssp_rounds — integer weights for
            #       engine-exact costs, negative weights refused)
            nodes = (
                df.select(F.col(src_c).alias("node"))
                .unionByName(df.select(F.col(dst_c).alias("node")))
                .distinct()
            )
            srcs = nodes.filter(F.expr(op["sources_where"]))
            if kind == "sssp":
                return _G.sssp_rounds(
                    df, srcs, src_c, dst_c,
                    weight=op.get("weight", "w"),
                    rounds=int(op.get("rounds", 6)),
                    reliable_dir=op.get("reliable_dir"),
                )
            return _G.bfs_hops(
                df, srcs, src_c, dst_c,
                max_hops=int(op.get("max_hops", 6)),
                reliable_dir=op.get("reliable_dir"),
            )
        if kind == "kcore":
            #   {"op": "kcore", "src": ..., "dst": ..., "k": 2,
            #    "rounds": 6}                      -> (node, degree)
            #       bounded k-core peel over the canonicalized simple
            #       graph (graph.py::kcore_rounds; R-round peel = the
            #       core once the peel stabilizes — bounded rounds are
            #       the contract, the PageRank/BFS/SSSP idiom)
            return _G.kcore_rounds(
                df, k=int(op.get("k", 2)), src=src_c, dst=dst_c,
                reliable_dir=op.get("reliable_dir"),
                rounds=int(op.get("rounds", 6)),
            )
        return _G.triangle_count(df, src_c, dst_c)
    if kind in (
        "gapfill_interpolate", "trend_stats", "value_histogram",
        "heartbeat_uptime", "lttb_downsample", "mad_outliers", "ewma",
    ):
        # Time-series hyperfunction family (operators/timeseries.py) —
        # each REPLACES the frame with the operator's result table, like
        # chunk/token_entropy. The frame must already carry an int64
        # epoch-seconds column (ts_col; build one upstream with
        # with_columns + unix_timestamp — the NTZ-safe idiom):
        #   {"op": "gapfill_interpolate", "key": "user_id", "ts_s": "s",
        #    "value_col": "value", "tiebreak": "event_id",
        #    "bucket_s": 3600}
        #   {"op": "trend_stats", "key": ..., "ts_s": ..., "value_col": ...}
        #   {"op": "value_histogram", "key": ..., "value_col": ...,
        #    "bin_width_cents": 2000, "n_bins": 25}
        #   {"op": "heartbeat_uptime", "key": ..., "ts_s": ...,
        #    "tiebreak": ..., "liveness_s": 600}
        #   {"op": "lttb_downsample", "key": ..., "ts_s": ...,
        #    "value_col": ..., "tiebreak": ..., "bucket_s": 3600}
        from qcardia_data_spark.operators import timeseries as _TS

        key = op["key"]
        if kind == "value_histogram":
            return _TS.value_histogram(
                df, key, op.get("value_col", "value"),
                bin_width_cents=int(op.get("bin_width_cents", 2000)),
                n_bins=int(op.get("n_bins", 25)),
            )
        if kind == "mad_outliers":
            #   {"op": "mad_outliers", "key": ..., "value_col": ...,
            #    "id_col": "event_id", "cutoff": 3.5}
            #       -> (id, score, is_outlier); robust MAD z-scores
            #       (timeseries.py::mad_outliers — discrete lower
            #       medians, MAD=0 keys emit nothing; no ts column: the
            #       score is order-free)
            return _TS.mad_outliers(
                df, key, op.get("value_col", "value"),
                op.get("id_col", "event_id"),
                cutoff=float(op.get("cutoff", 3.5)),
            )
        ts_s = op.get("ts_s", "s")
        if kind == "trend_stats":
            return _TS.trend_stats(df, key, ts_s, op.get("value_col", "value"))
        if kind == "ewma":
            #   {"op": "ewma", "key": ..., "ts_s": ..., "value_col": ...,
            #    "alpha": 0.5, "lags": 8, "tiebreak": "event_id"}
            #       -> frame + `ewma` column (KEEPS the frame, like
            #       window); truncated K-term EWMA — one window exchange,
            #       plan-literal weights (timeseries.py::ewma_truncated).
            #       tiebreak defaults to event_id like the sibling ts ops:
            #       tied timestamps without a total order make the lag
            #       chain nondeterministic run-to-run
            return _TS.ewma_truncated(
                df, key, ts_s, op.get("value_col", "value"),
                alpha=float(op.get("alpha", 0.5)),
                lags=int(op.get("lags", 8)),
                tiebreak=op.get("tiebreak", "event_id"),
            )
        tb = op.get("tiebreak", "event_id")
        if kind == "heartbeat_uptime":
            return _TS.heartbeat_uptime(
                df, key, ts_s, tb, liveness_s=int(op.get("liveness_s", 600))
            )
        fn = (
            _TS.gapfill_interpolate
            if kind == "gapfill_interpolate"
            else _TS.lttb_downsample
        )
        return fn(
            df, key, ts_s, op.get("value_col", "value"), tb,
            bucket_s=int(op.get("bucket_s", 3600)),
        )
    raise SpecError(f"unknown op {kind!r}")


def _side(spark: SparkSession, op: dict, sf_dir: str | None) -> DataFrame:
    if "pipeline" in op:
        return compile_pipeline(spark, op["pipeline"], sf_dir)
    if "table" in op:
        if sf_dir is None:
            raise SpecError("table side requires sf_dir")
        return load_table(spark, sf_dir, op["table"])
    raise SpecError(f"join/union side needs 'table' or 'pipeline': {op!r}")


def compile_stream_pipeline(
    spark: SparkSession, ops: Sequence[dict],
) -> DataFrame:
    """Compile an op list into a STREAMING DataFrame (SURVEY §2.12 × §2.13:
    the declarative spec surface extended to Structured Streaming).

    Ops:
      {"op": "stream_source", "path": ..., "schema": <DDL or StructType>,
       "format": "parquet", "max_files_per_trigger": 1}
      {"op": "watermark", "col": "ts", "delay": "2 hours"}
      {"op": "window_agg", "col": "ts", "width": "1 hour",
       "by": [...extra keys...], "aggs": {"n": "count(*)"},
       "slide": optional}
      {"op": "stream_join", "right": [stream ops...], "cond": "<expr>",
       "how": "inner"}   # stream-stream join; watermarks + time-bound
                         # condition required (state expiry)
      ...plus every STATELESS batch op (select / filter / with_columns /
      rename / drop / explode / quality_filter / gopher_rules / chunk /
      pii_scrub) — reused verbatim from the batch compiler, which is the
      point: one spec dialect, two execution modes. The text gates and
      the PII redactor are map-only expressions, so a crawl STREAM can
      run the same quality spec ops the batch corpus-prep chain uses.

    Stateful batch-only ops (join to static is allowed by Spark, but
    group_agg/sort/limit/sample are not meaningful mid-stream) raise
    SpecError at plan time.
    """
    _STATELESS = {
        "select", "filter", "with_columns", "rename", "drop", "explode",
        "quality_filter", "gopher_rules", "chunk", "pii_scrub",
    }
    df: DataFrame | None = None
    prior_ops: list[dict] = []
    for i, op in enumerate(ops):
        if not isinstance(op, dict) or "op" not in op:
            raise SpecError(f"op #{i} malformed: {op!r}")
        if op.get("when") is False:
            continue
        kind = op["op"]
        if kind == "stream_source":
            reader = spark.readStream.schema(op["schema"]).option(
                "maxFilesPerTrigger", op.get("max_files_per_trigger", 1)
            )
            df = getattr(reader, op.get("format", "parquet"))(op["path"])
            prior_ops.append(op)
            continue
        if df is None:
            raise SpecError(f"op #{i} ({kind}) before stream_source")
        if kind == "watermark":
            from qcardia_data_spark.streaming.events import _watermarked

            df = _watermarked(df, op["col"], op["delay"])
        elif kind == "window_agg":
            win = (
                F.window(op["col"], op["width"], op["slide"])
                if "slide" in op
                else F.window(op["col"], op["width"])
            )
            keys = [win.alias("w")] + [F.col(c) for c in op.get("by", [])]
            aggs = [F.expr(e).alias(name) for name, e in op["aggs"].items()]
            df = df.groupBy(*keys).agg(*aggs).select(
                F.col("w.start").alias("window_start"),
                *[c for c in op.get("by", [])],
                *[F.col(n) for n in op["aggs"]],
            )
        elif kind == "session_agg":
            # per-key session windows: {"op": "session_agg", "col": "ts",
            # "gap": "30 minutes", "by": [...], "aggs": {...}} — requires a
            # prior watermark op (Spark enforces it at start)
            keys = [F.session_window(op["col"], op["gap"]).alias("w")] + [
                F.col(c) for c in op.get("by", [])
            ]
            aggs = [F.expr(e).alias(name) for name, e in op["aggs"].items()]
            df = df.groupBy(*keys).agg(*aggs).select(
                F.col("w.start").alias("sess_start"),
                F.col("w.end").alias("sess_end"),
                *[c for c in op.get("by", [])],
                *[F.col(n) for n in op["aggs"]],
            )
        elif kind == "stream_dedup":
            # {"op": "stream_dedup", "keys": [...], "within_watermark": bool}
            # — first-per-key (state expires with the watermark) or exact
            # re-delivery collapse; requires a prior watermark op
            keys = list(op["keys"])
            df = (
                df.dropDuplicatesWithinWatermark(keys)
                if op.get("within_watermark", True)
                else df.dropDuplicates(keys)
            )
        elif kind == "stream_join":
            # {"op": "stream_join", "right": [stream ops...],
            #  "cond": "<sql expr>", "how": "inner"} — stream-stream join.
            # Each side carries its own watermark op, and the condition
            # must include the event-time bound so Spark can size and
            # expire the join state (Spark enforces both at stream start —
            # the canonical attribution-join shape,
            # streaming/events.attribution_join).
            right = compile_stream_pipeline(spark, op["right"])
            df = df.join(right, F.expr(op["cond"]), op.get("how", "inner"))
        elif kind in _STATELESS:
            df = _apply(spark, df, op, None, prior_ops)
        else:
            raise SpecError(
                f"op #{i} ({kind}) is not streamable (stateless ops: "
                f"{sorted(_STATELESS)}, plus watermark/window_agg/"
                "session_agg/stream_dedup/stream_join)"
            )
        prior_ops.append(op)
    if df is None:
        raise SpecError("empty pipeline: no stream_source op")
    return df
