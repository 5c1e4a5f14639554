"""End-to-end corpus-prep spec chain (examples/corpus_pipeline_e2e.json —
VERDICT r6 #6): one declarative pipeline covering jsonl scan, language +
quality gates, span + MinHash dedup, the frozen classifier Pareto gate,
DSIR, UniMax budgets, decontamination and sequence packing, compiled by
plans.spec.compile_pipeline. Plus the persisted-ANN spec pair
(ann_index_write → ann_probe, VERDICT r7 #5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.plans.spec import compile_pipeline


@pytest.fixture(scope="module")
def e2e_spec(spark, sf_dir, tmp_path_factory):
    spec = json.load(open("examples/corpus_pipeline_e2e.json"))
    jsonl = str(tmp_path_factory.mktemp("e2e") / "docs_jsonl")
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .write.mode("overwrite").json(jsonl)
    )
    spec["pipeline"][0]["path"] = jsonl
    return spec


def test_e2e_chain_runs_and_gates_monotonically(spark, sf_dir, e2e_spec):
    ops = e2e_spec["pipeline"]
    # row count after each doc-level gate must be non-increasing (every
    # stage up to packing is a filter/dedup over whole documents)
    gate_prefix_ends = [
        i + 1
        for i, op in enumerate(ops)
        if op["op"] in ("filter", "quality_filter", "gopher_rules", "near_dedup",
                        "containment_dedup", "quality_classifier", "dsir_weights",
                        "unimax_mix", "decontaminate")
    ]
    counts = [
        compile_pipeline(spark, ops[:end], sf_dir).count()
        for end in gate_prefix_ends
    ]
    assert counts[0] > 0
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    # the chain must actually select (not pass everything through)
    assert counts[-1] < counts[0]


def test_e2e_chain_final_output_shape(spark, sf_dir, e2e_spec):
    out = compile_pipeline(spark, e2e_spec["pipeline"], sf_dir)
    rows = out.collect()
    assert rows, "pipeline selected nothing"
    assert out.columns == ["doc_id", "lang", "source", "n_tokens",
                           "quality_score", "dsir_logw", "pack_id",
                           "pack_offset", "n_spans"]
    # packing invariants: offsets are non-negative and every span fits the
    # 256-token sequence (pack_offset is the span's start inside its pack)
    for r in rows:
        assert r["pack_id"] >= 0 and 0 <= r["pack_offset"] < 256
    # surviving docs all carry the gate columns
    assert all(r["quality_score"] is not None for r in rows)
    assert all(r["dsir_logw"] is not None for r in rows)
    # deterministic: recompiling the same spec gives the same selection
    again = compile_pipeline(spark, e2e_spec["pipeline"], sf_dir)
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_frozen_classifier_spec_op_matches_function(spark, sf_dir, e2e_spec):
    # the spec's frozen form must equal score_frozen_quality + pareto_keep
    # called directly with the same literals
    from qcardia_data_spark.functions.classifier import (
        pareto_keep,
        score_frozen_quality,
    )

    qc = next(op for op in e2e_spec["pipeline"]
              if op["op"] == "quality_classifier")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    via_spec = compile_pipeline(
        spark,
        [{"op": "source", "table": "documents"}, qc],
        sf_dir,
    ).select("doc_id", F.round("quality_score", 9).alias("s"))
    direct = pareto_keep(
        score_frozen_quality(docs, qc["coefs"], qc["intercept"]),
        "quality_score", "doc_id", alpha=qc["pareto_alpha"], seed=qc["seed"],
    ).select("doc_id", F.round("quality_score", 9).alias("s"))
    assert sorted(map(tuple, via_spec.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_ann_spec_pair_lsh_and_ivfpq(spark, sf_dir, tmp_path):
    """ann_index_write → ann_probe spec chain equals the direct library
    calls, for BOTH index kinds, with the probe params coming from the
    index's own meta (VERDICT r7 #5: the persisted ANN probes join the
    declarative dialect)."""
    from qcardia_data_spark.functions.similarity import (
        ann_ivfpq_topk_pruned,
        pairwise_topk_join_pruned,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    # --- LSH: write via spec (non-default n_planes), probe a sub-batch ---
    lsh = str(tmp_path / "lsh_idx")
    compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "ann_index_write", "kind": "lsh", "path": lsh,
             "n_planes": 4, "seed": 3},
        ],
        sf_dir,
    )
    got = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "filter", "expr": "vec_id < 40"},
            {"op": "ann_probe", "index_path": lsh, "k": 3},
        ],
        sf_dir,
    )
    want = pairwise_topk_join_pruned(
        emb.filter(F.col("vec_id") < 40).withColumnRenamed(
            "vec_id", "vec_id_probe"
        ),
        lsh, k=3, id_left="vec_id_probe", id_right="vec_id",
    )
    key = lambda r: (r[0], r[1], round(r[2], 9))  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))

    # --- IVF+PQ: write via spec, probe by query_id ---
    ivfpq = str(tmp_path / "ivfpq_idx")
    compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "ann_index_write", "kind": "ivfpq", "path": ivfpq,
             "n_cells": 8, "m": 8, "k_codes": 16, "seed": 0},
        ],
        sf_dir,
    )
    got2 = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "ann_probe", "index_path": ivfpq, "query_id": 3,
             "k": 5, "n_probe": 3},
        ],
        sf_dir,
    )
    q = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    want2 = ann_ivfpq_topk_pruned(spark, ivfpq, q, k=5, n_probe=3)
    key2 = lambda r: (r["vec_id"], round(r["adist"], 9))  # noqa: E731
    assert [key2(r) for r in got2.collect()] == [
        key2(r) for r in want2.collect()
    ]


def test_ann_probe_refuses_non_index_path(spark, sf_dir, tmp_path):
    from qcardia_data_spark.plans.spec import SpecError

    with pytest.raises(SpecError, match="ivfpq or ivf _meta.json"):
        compile_pipeline(
            spark,
            [
                {"op": "source", "table": "embeddings"},
                {"op": "ann_probe", "index_path": str(tmp_path / "nope")},
            ],
            sf_dir,
        )


def test_ann_spec_pair_ivf(spark, sf_dir, tmp_path):
    """Third index kind for the declarative ANN pair: plain IVF. The
    probe holds only the path — centroids come from the index's own
    _ivf_meta — and must equal the library probe fed the same meta."""
    from qcardia_data_spark.functions.similarity import ann_ivf_topk_from_meta

    idx = str(tmp_path / "ivf_idx")
    compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "ann_index_write", "kind": "ivf", "path": idx,
             "n_cells": 8, "seed": 3},
        ],
        sf_dir,
    )
    got = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "ann_probe", "index_path": idx, "query_id": 3,
             "k": 5, "n_probe": 2},
        ],
        sf_dir,
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    want = ann_ivf_topk_from_meta(spark, idx, q, k=5, n_probe=2)
    key = lambda r: (r["vec_id"], round(r["score"], 9))  # noqa: E731
    assert [key(r) for r in got.collect()] == [key(r) for r in want.collect()]


def test_e2e_retrieval_fork_chunks_after_dedup(spark, sf_dir, e2e_spec):
    """Specs fork: the same cleaned/deduped prefix feeds the RETRIEVAL
    branch (chunk for embedding) instead of the packing tail — one row
    per token window, every surviving doc represented."""
    ops = e2e_spec["pipeline"]
    cut = next(
        i for i, op in enumerate(ops) if op["op"] == "containment_dedup"
    ) + 1
    fork = ops[:cut] + [
        {"op": "chunk", "id_col": "doc_id", "text_col": "text",
         "chunk_tokens": 32, "overlap": 8},
    ]
    chunks = compile_pipeline(spark, fork, sf_dir)
    assert chunks.columns == ["doc_id", "chunk_id", "chunk_n_tokens", "chunk_text"]
    survivors = compile_pipeline(spark, ops[:cut], sf_dir)
    n_docs = survivors.count()
    got_docs = chunks.select("doc_id").distinct().count()
    assert 0 < got_docs == n_docs  # every nonempty survivor chunked
    per = chunks.groupBy("doc_id").count()
    assert per.filter("count < 1").count() == 0


def test_ann_spec_write_append_probe_chain(spark, sf_dir, tmp_path):
    """Declarative index lifecycle: write on the head batch, append the
    tail batch, probe — identical to probing a full-corpus write (LSH:
    meta-frozen bucketing makes grown == full exactly)."""
    from qcardia_data_spark.functions.similarity import lsh_write_partitioned

    grown = str(tmp_path / "lsh_spec_grown")
    compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "filter", "expr": "vec_id < 150"},
            {"op": "ann_index_write", "kind": "lsh", "path": grown,
             "n_planes": 4, "seed": 3},
        ],
        sf_dir,
    )
    compile_pipeline(
        spark,
        [
            {"op": "source", "table": "embeddings"},
            {"op": "filter", "expr": "vec_id >= 150"},
            {"op": "ann_index_append", "index_path": grown},
        ],
        sf_dir,
    )
    full = str(tmp_path / "lsh_spec_full")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    lsh_write_partitioned(emb, full, n_planes=4, seed=3)

    def probe(path):
        got = compile_pipeline(
            spark,
            [
                {"op": "source", "table": "embeddings"},
                {"op": "filter", "expr": "vec_id < 25"},
                {"op": "ann_probe", "index_path": path, "k": 3},
            ],
            sf_dir,
        )
        return sorted((r[0], r[1], round(r[2], 9)) for r in got.collect())

    assert probe(grown) == probe(full) and len(probe(grown)) > 0


def test_spec_upsert_log_time_travel_chain(spark, sf_dir, tmp_path):
    """VERDICT r8 'What's missing' #3: the MOR CDC READ side as spec ops.
    One declarative lifecycle — init the table, land two log batches,
    read back as-of each version, diff the versions, compact — with every
    result matched against the functions/cdc.py library forms."""
    from qcardia_data_spark.functions.cdc import read_upsert_as_of

    path = str(tmp_path / "upsert_spec")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], ["k", "ts", "v"]
    )
    b1 = spark.createDataFrame([(2, 20, "b2"), (4, 20, "d")], ["k", "ts", "v"])
    b2 = spark.createDataFrame([(1, 30, "a2")], ["k", "ts", "v"])
    pb, p1, p2 = (str(tmp_path / n) for n in ("pb", "p1", "p2"))
    base.write.parquet(pb)
    b1.write.parquet(p1)
    b2.write.parquet(p2)

    compile_pipeline(
        spark,
        [
            {"op": "source", "path": pb},
            {"op": "upsert_table_write", "path": path, "key": "k",
             "ts": "ts", "n_buckets": 4},
        ],
        sf_dir,
    )
    compile_pipeline(
        spark,
        [
            {"op": "source", "path": p1},
            {"op": "upsert_log_append", "path": path, "batch_id": 1},
        ],
        sf_dir,
    )
    compile_pipeline(
        spark,
        [
            {"op": "source", "path": p2},
            {"op": "upsert_log_append", "path": path, "batch_id": 2},
        ],
        sf_dir,
    )

    def state(spec_batch):
        ops = [{"op": "read_as_of", "path": path}]
        if spec_batch is not None:
            ops[0]["batch"] = spec_batch
        got = compile_pipeline(spark, ops, sf_dir)
        return sorted((r["k"], r["ts"], r["v"]) for r in got.collect())

    # version 1: batch 1 applied, batch 2 invisible
    assert state(1) == [(1, 10, "a"), (2, 20, "b2"), (3, 10, "c"), (4, 20, "d")]
    # current: both batches
    assert state(None) == [(1, 30, "a2"), (2, 20, "b2"), (3, 10, "c"), (4, 20, "d")]
    # spec == library, both versions
    for b in (1, None):
        lib = sorted(
            (r["k"], r["ts"], r["v"])
            for r in read_upsert_as_of(spark, path, batch=b).collect()
        )
        assert state(b) == lib

    # audit: what did batch 2 do? exactly one changed key
    diff = compile_pipeline(
        spark,
        [{"op": "table_diff", "path": path, "before_batch": 1,
          "compare": ["v"]}],
        sf_dir,
    )
    assert [(r["k"], r["change"]) for r in diff.collect()] == [(1, "changed")]

    # compact below the horizon: current state unchanged, log folded
    folded = compile_pipeline(
        spark,
        [{"op": "compact_upsert_log", "path": path}],
        sf_dir,
    )
    assert sorted((r["k"], r["ts"], r["v"]) for r in folded.collect()) == state(None)
    import os as _os
    assert not _os.path.isdir(f"{path}/log/_batch=1")
    assert not _os.path.isdir(f"{path}/log/_batch=2")


def test_spec_timeseries_ops_match_module(spark, sf_dir):
    # the five hyperfunction spec ops must compile to exactly the module
    # operators (same result rows), with the epoch-seconds column built
    # by an upstream with_columns — the declarative twin of the graded
    # ev_* timeseries queries
    from qcardia_data_spark.operators import timeseries as TS

    base = [
        {"op": "source", "table": "events"},
        {"op": "with_columns", "cols": {"s": "unix_timestamp(ts)"}},
    ]

    def run(tail):
        return compile_pipeline(spark, base + [tail], sf_dir)

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).withColumn(
        "s", F.unix_timestamp("ts")
    )

    def canon(df):
        return sorted(
            tuple(str(r[c]) for c in sorted(df.columns)) for r in df.collect()
        )

    got = run({"op": "trend_stats", "key": "user_id"})
    want = TS.trend_stats(ev, "user_id", "s", "value")
    assert canon(got) == canon(want) and len(canon(want)) > 0

    got = run({"op": "value_histogram", "key": "event_type"})
    want = TS.value_histogram(ev, "event_type", "value")
    assert canon(got) == canon(want)

    got = run({"op": "heartbeat_uptime", "key": "user_id"})
    want = TS.heartbeat_uptime(ev, "user_id", "s", "event_id")
    assert canon(got) == canon(want)

    got = run({"op": "lttb_downsample", "key": "event_type"})
    want = TS.lttb_downsample(ev, "event_type", "s", "value", "event_id")
    assert canon(got) == canon(want)

    got = run({"op": "gapfill_interpolate", "key": "user_id",
               "bucket_s": 86400})
    want = TS.gapfill_interpolate(ev, "user_id", "s", "value", "event_id",
                                  bucket_s=86400)
    assert canon(got) == canon(want)


def test_events_analytics_example_runs(spark, sf_dir):
    # the shipped analytics example must compile and produce the top-mover
    # table with the documented columns
    spec = json.load(open("examples/events_analytics.json"))
    out = compile_pipeline(spark, spec["pipeline"], sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 25
    assert {"user_id", "slope_cph_e6", "r2_e6", "abs_slope"} <= set(out.columns)
    # sorted by descending absolute slope
    slopes = [r["abs_slope"] for r in rows]
    assert slopes == sorted(slopes, reverse=True)


def test_spec_graph_ops_match_module(spark, sf_dir):
    # pagerank / triangle_count spec ops over a window-derived edge frame
    # must equal the module calls exactly (exact-int triangle counts;
    # rank doubles compared bitwise via repr)
    from qcardia_data_spark.functions import graph as G

    edge_ops = [
        {"op": "source", "table": "events"},
        {"op": "with_columns", "cols": {"s": "unix_timestamp(ts)"}},
        {"op": "window", "cols": {"prev_user": "lag(user_id)"},
         "partition_by": ["event_type"], "order_by": ["s", "event_id"]},
        {"op": "filter",
         "expr": "prev_user IS NOT NULL AND prev_user <> user_id"},
        {"op": "select", "cols": ["prev_user AS src", "user_id AS dst"]},
    ]
    edges = compile_pipeline(spark, edge_ops, sf_dir)

    got_pr = compile_pipeline(
        spark, edge_ops + [{"op": "pagerank"}], sf_dir
    )
    want_pr = G.pagerank(edges)
    assert sorted((r["node"], repr(r["rank"])) for r in got_pr.collect()) == \
        sorted((r["node"], repr(r["rank"])) for r in want_pr.collect())

    got_tc = compile_pipeline(
        spark, edge_ops + [{"op": "triangle_count"}], sf_dir
    )
    want_tc = G.triangle_count(edges)
    assert sorted(map(tuple, got_tc.collect())) == \
        sorted(map(tuple, want_tc.collect()))


def test_cdc_time_travel_example_runs(spark, sf_dir, tmp_path):
    """examples/cdc_time_travel.json executes end-to-end with real paths:
    init from the customer table, land a change batch, time-travel both
    versions, audit the batch window, fold the history — current state
    unchanged by the fold."""
    import json as _json

    from pyspark.sql import functions as F

    spec = _json.load(open("examples/cdc_time_travel.json"))
    table_dir = str(tmp_path / "cust_upsert")
    batch_dir = str(tmp_path / "batch1")

    # a real change batch: bump 5 balances at a later ts
    base = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    (
        base.select("c_custkey", "c_acctbal", "c_mktsegment")
        .limit(5)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .withColumn("updated_at", F.lit(10).cast("bigint"))
        .write.parquet(batch_dir)
    )

    def resolve(ops):
        out = []
        for op in ops:
            op = dict(op)
            for k, v in op.items():
                if isinstance(v, str):
                    op[k] = v.replace("{table_dir}", table_dir).replace(
                        "{batch_dir}", batch_dir
                    )
            out.append(op)
        return out

    p = spec["pipelines"]
    compile_pipeline(spark, resolve(p["init"]), sf_dir)
    compile_pipeline(spark, resolve(p["land_batch"]), sf_dir)
    v1 = compile_pipeline(spark, resolve(p["read_version_1"]), sf_dir)
    cur = compile_pipeline(spark, resolve(p["read_current"]), sf_dir)
    assert v1.count() == cur.count() == base.count()
    diff = compile_pipeline(spark, resolve(p["audit_batch_effects"]), sf_dir)
    changes = [(r["c_custkey"], r["change"]) for r in diff.collect()]
    assert len(changes) == 5 and all(c == "changed" for _, c in changes)
    cur_rows = sorted(
        (r["c_custkey"], r["c_acctbal"]) for r in cur.collect()
    )
    folded = compile_pipeline(spark, resolve(p["fold_history"]), sf_dir)
    assert sorted(
        (r["c_custkey"], r["c_acctbal"]) for r in folded.collect()
    ) == cur_rows


# ---------------------------------------------------------------------------
# r11 spec-dialect completeness sweep (VERDICT r10 stretch #8): the ops added
# to close coverage-table gaps must compile to EXACTLY the module calls.


def _canon(df):
    return sorted(
        tuple(str(r[c]) for c in sorted(df.columns)) for r in df.collect()
    )


def test_spec_winnow_near_pairs_matches_module(spark, sf_dir, tmp_path):
    # tiered ladder op: winnow candidates -> exact set-form Jaccard verify
    from qcardia_data_spark.functions.dedup import winnow_near_pairs

    base = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    clones = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail words appended")).alias("text"),
    )
    corpus_dir = str(tmp_path / "clone_docs")
    base.unionByName(clones).write.parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)

    src = [{"op": "source", "path": corpus_dir}]
    got = compile_pipeline(
        spark,
        src + [{"op": "winnow_near_pairs", "max_df": 100,
                "pairs_only": True}],
        sf_dir,
    )
    want = winnow_near_pairs(docs, "doc_id", "text", max_df=100)
    gw = _canon(want)
    assert _canon(got) == gw and len(gw) > 0

    # default form drops the larger id of every verified pair (the
    # winnow_dedup convention)
    kept = compile_pipeline(
        spark, src + [{"op": "winnow_near_pairs", "max_df": 100}], sf_dir
    )
    losers = {r["b"] for r in want.collect()}
    assert {r["doc_id"] for r in kept.collect()} == (
        {r["doc_id"] for r in docs.collect()} - losers
    )


def test_spec_cms_sketch_and_lookup_match_module(spark, sf_dir):
    from qcardia_data_spark.functions import sketches as SK

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = [{"op": "source", "table": "events"}]

    got_sk = compile_pipeline(
        spark,
        base + [{"op": "cms_sketch", "keys": ["event_type"],
                 "value_col": "user_id"}],
        sf_dir,
    )
    want_sk = SK.cms_table(ev, ["event_type"], "user_id")
    assert _canon(got_sk) == _canon(want_sk) and got_sk.count() > 0

    got_m = compile_pipeline(
        spark,
        base + [{"op": "cms_sketch", "keys": ["event_type"],
                 "value_col": "user_id", "merge_to": {"scope": "all"}}],
        sf_dir,
    )
    want_m = SK.cms_merge(want_sk, {"scope": "all"})
    assert _canon(got_m) == _canon(want_m)

    probe_ops = [
        {"op": "source", "table": "events"},
        {"op": "select", "cols": ["event_type", "user_id"]},
        {"op": "distinct"},
        {"op": "sort", "by": ["event_type", "user_id"]},
        {"op": "limit", "n": 20},
    ]
    got_lk = compile_pipeline(
        spark,
        base + [
            {"op": "cms_sketch", "keys": ["event_type"],
             "value_col": "user_id"},
            {"op": "cms_lookup", "keys": ["event_type"],
             "value_col": "user_id", "probes": {"pipeline": probe_ops}},
        ],
        sf_dir,
    )
    probes = compile_pipeline(spark, probe_ops, sf_dir)
    want_lk = SK.cms_lookup(want_sk, probes, ["event_type"], "user_id")
    assert _canon(got_lk) == _canon(want_lk) and got_lk.count() > 0
    # CMS contract: never an underestimate vs the true counts
    true_n = ev.groupBy("event_type", "user_id").count()
    low = got_lk.join(true_n, ["event_type", "user_id"]).filter(
        F.col("est_n") < F.col("count")
    )
    assert low.count() == 0


def test_spec_graph_sssp_kcore_match_module(spark, sf_dir):
    from qcardia_data_spark.functions import graph as G

    edge_ops = [
        {"op": "source", "table": "events"},
        {"op": "with_columns", "cols": {"s": "unix_timestamp(ts)"}},
        {"op": "window", "cols": {"prev_user": "lag(user_id)"},
         "partition_by": ["event_type"], "order_by": ["s", "event_id"]},
        {"op": "filter",
         "expr": "prev_user IS NOT NULL AND prev_user <> user_id"},
        {"op": "select", "cols": ["prev_user AS src", "user_id AS dst"]},
        {"op": "with_columns", "cols": {"w": "pmod(src + dst, 5) + 1"}},
    ]
    edges = compile_pipeline(spark, edge_ops, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    srcs = nodes.filter("node % 97 = 0")

    got = compile_pipeline(
        spark,
        edge_ops + [{"op": "sssp", "sources_where": "node % 97 = 0",
                     "rounds": 4}],
        sf_dir,
    )
    want = G.sssp_rounds(edges, srcs, rounds=4)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert want.count() > 0

    got_k = compile_pipeline(
        spark, edge_ops + [{"op": "kcore", "k": 2, "rounds": 4}], sf_dir
    )
    want_k = G.kcore_rounds(edges, k=2, rounds=4)
    assert sorted(map(tuple, got_k.collect())) == \
        sorted(map(tuple, want_k.collect()))
    assert want_k.count() > 0


def test_spec_mad_outliers_and_ewma_match_module(spark, sf_dir):
    from qcardia_data_spark.operators import timeseries as TS

    base = [
        {"op": "source", "table": "events"},
        {"op": "with_columns", "cols": {"s": "unix_timestamp(ts)"}},
    ]
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).withColumn(
        "s", F.unix_timestamp("ts")
    )

    got = compile_pipeline(
        spark,
        base + [{"op": "mad_outliers", "key": "user_id",
                 "value_col": "value", "id_col": "event_id"}],
        sf_dir,
    )
    want = TS.mad_outliers(ev, "user_id", "value", "event_id")
    assert _canon(got) == _canon(want) and got.count() > 0

    got_e = compile_pipeline(
        spark,
        base + [{"op": "ewma", "key": "user_id", "tiebreak": "event_id"}],
        sf_dir,
    )
    want_e = TS.ewma_truncated(ev, "user_id", "s", "value",
                               tiebreak="event_id")
    # ewma KEEPS the frame; compare the doubles bitwise via repr, keyed
    assert sorted(
        (r["event_id"], repr(r["ewma"])) for r in got_e.collect()
    ) == sorted((r["event_id"], repr(r["ewma"])) for r in want_e.collect())


def test_spec_poisson_bootstrap_matches_module(spark, sf_dir):
    from qcardia_data_spark.operators.sampling import poisson_bootstrap

    base = [{"op": "source", "table": "events"}]
    got = compile_pipeline(
        spark,
        base + [{"op": "poisson_bootstrap", "key_cols": ["event_id"],
                 "seed": 7}],
        sf_dir,
    )
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    want = poisson_bootstrap(ev, ["event_id"], seed=7)
    gk = sorted((r["event_id"], r["boot_k"]) for r in got.collect())
    wk = sorted((r["event_id"], r["boot_k"]) for r in want.collect())
    assert gk == wk and len(gk) > 0
    ks = [k for _, k in gk]
    assert all(0 <= k <= 8 for k in ks) and any(k > 0 for k in ks)


def test_spec_positional_index_phrase_search(spark, sf_dir, tmp_path):
    from qcardia_data_spark.functions.text import word_tokens

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # a phrase that certainly occurs: the first two tokens of the first
    # doc, extracted through the SAME tokenizer the ops use
    toks = (
        docs.orderBy("doc_id")
        .select(word_tokens(F.col("text")).alias("t"))
        .first()["t"]
    )
    phrase = list(toks[:2])
    assert len(phrase) == 2

    base = [{"op": "source", "table": "documents"}]
    scan = compile_pipeline(
        spark, base + [{"op": "phrase_search", "phrase": phrase}], sf_dir
    )
    idx = str(tmp_path / "pos_idx")
    probed = compile_pipeline(
        spark,
        base + [
            {"op": "positional_index_write", "path": idx},
            {"op": "phrase_search", "phrase": phrase, "path": idx},
        ],
        sf_dir,
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["n_hits"]) for r in df.collect()
    )
    assert canon(scan) == canon(probed) and len(canon(scan)) > 0
    # join-back keeps the frame's columns alongside n_hits
    assert set(docs.columns) <= set(scan.columns)
    # same-kind rebuild is retry-safe (the build_inverted_index stance)
    rebuilt = compile_pipeline(
        spark,
        base + [
            {"op": "positional_index_write", "path": idx},
            {"op": "phrase_search", "phrase": phrase, "path": idx},
        ],
        sf_dir,
    )
    assert canon(rebuilt) == canon(probed)
    # a cross-kind overwrite still refuses
    from qcardia_data_spark.functions.retrieval import (
        build_inverted_index,
        build_positional_index,
    )

    clash = str(tmp_path / "bm25_clash")
    build_inverted_index(docs.limit(5), clash)
    with pytest.raises(ValueError, match="bm25"):
        build_positional_index(docs, clash)
        


def test_spec_bm25_topk_from_index_path(spark, sf_dir, tmp_path):
    # the "path" knob must score off the standing inverted index and be
    # value-identical to the scan form
    from qcardia_data_spark.functions.text import word_tokens

    idx = str(tmp_path / "bm25_idx")
    base = [{"op": "source", "table": "documents"}]
    toks = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .orderBy("doc_id")
        .select(word_tokens(F.col("text")).alias("t"))
        .first()["t"]
    )
    terms = list(dict.fromkeys(toks))[:2]  # distinct, engine-tokenized
    scan = compile_pipeline(
        spark, base + [{"op": "bm25_topk", "terms": terms, "k": 5}], sf_dir
    )
    probed = compile_pipeline(
        spark,
        base + [
            {"op": "inverted_index_write", "path": idx},
            {"op": "bm25_topk", "terms": terms, "k": 5, "path": idx},
        ],
        sf_dir,
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["doc_id"], repr(r["score"])) for r in df.collect()
    )
    assert canon(scan) == canon(probed) and len(canon(scan)) > 0


def test_spec_media_near_dup_text_modality(spark, sf_dir, tmp_path):
    # the text modality rides the same Manku engine: spec == module
    from qcardia_data_spark.functions.dedup import simhash_near_pairs64

    base = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    clones = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    )
    corpus_dir = str(tmp_path / "sim_docs")
    base.unionByName(clones).write.parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)

    got = compile_pipeline(
        spark,
        [{"op": "source", "path": corpus_dir},
         {"op": "media_near_dup", "modality": "text", "max_hamming": 3}],
        sf_dir,
    )
    want = simhash_near_pairs64(docs, "doc_id", "text", max_hamming=3)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert want.count() > 0


def test_spec_pii_scrub_matches_module(spark, sf_dir):
    from qcardia_data_spark.functions.text import pii_counts, pii_scrub

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" mail a@b.io at 10.0.0.1 or 555-123-4567")
        ).alias("text"),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        corpus = os.path.join(d, "pii_docs")
        docs.write.parquet(corpus)
        got = compile_pipeline(
            spark,
            [{"op": "source", "path": corpus},
             {"op": "pii_scrub", "audit": True}],
            sf_dir,
        )
        rows = got.collect()
        assert rows and {"pii_email", "pii_ipv4", "pii_phone"} <= set(
            got.columns
        )
        # audit counts measured BEFORE the scrub; text is redacted after
        assert all(r["pii_email"] >= 1 and r["pii_ipv4"] >= 1 for r in rows)
        assert all("a@b.io" not in r["text"] for r in rows)
        # scrubbed text == the module call on the original
        want = docs.select(
            "doc_id", pii_scrub(F.col("text")).alias("text")
        )
        assert sorted((r["doc_id"], r["text"]) for r in rows) == \
            sorted(map(tuple, want.collect()))


def test_anomaly_monitor_example_runs(spark, sf_dir):
    # the shipped r11 example must compile and produce flagged outliers,
    # worst first, with the documented columns
    spec = json.load(open("examples/anomaly_monitor.json"))
    out = compile_pipeline(spark, spec["pipeline"], sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 50
    assert {"event_id", "score", "is_outlier", "abs_score"} <= set(out.columns)
    assert all(r["is_outlier"] for r in rows)
    scores = [r["abs_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 3.5 for s in scores)


def test_spec_hll_estimate_matches_module(spark, sf_dir):
    from qcardia_data_spark.functions import sketches as SK

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    got = compile_pipeline(spark, [
        {"op": "source", "table": "events"},
        {"op": "hll_registers", "keys": ["event_type"],
         "value_col": "user_id", "p": 4},
        {"op": "hll_estimate", "keys": ["event_type"], "p": 4},
    ], sf_dir)
    want = SK.hll_estimate(
        SK.hll_registers(ev, ["event_type"], "user_id", p=4),
        ["event_type"], p=4,
    )
    key = lambda r: (r["event_type"], repr(r["estimate"]))  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    rows = got.collect()
    assert rows and all(r["estimate"] > 0 for r in rows)


def test_spec_pii_scrub_audit_refuses_column_collision(spark, sf_dir):
    # ADVICE r11: audit:true appends fixed pii_<category> columns; a frame
    # already carrying one must refuse loudly (the bm25_topk 'score' /
    # phrase_search 'n_hits' guard family), not duplicate the column.
    from qcardia_data_spark.plans.spec import SpecError

    import tempfile

    docs = spark.createDataFrame(
        [("d1", "mail a@b.io", 7)], ["doc_id", "text", "pii_email"]
    )
    with tempfile.TemporaryDirectory() as d:
        corpus = os.path.join(d, "pii_coll")
        docs.write.parquet(corpus)
        with pytest.raises(SpecError, match="pii_email"):
            compile_pipeline(
                spark,
                [{"op": "source", "path": corpus},
                 {"op": "pii_scrub", "audit": True}],
                sf_dir,
            ).collect()
        # without audit there is no column append — still fine
        out = compile_pipeline(
            spark,
            [{"op": "source", "path": corpus},
             {"op": "pii_scrub", "audit": False}],
            sf_dir,
        )
        assert out.collect()[0]["text"] == "mail <EMAIL>"


def test_spec_window_nested_offset_refused_with_guidance(spark, sf_dir):
    # ADVICE r11: a ranking/offset call NESTED in a wrapper
    # ("coalesce(lag(x), 0)") is unexpressible via .over() — the old
    # head-only classifier let it through to a confusing engine-level
    # WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE. The spec must refuse loudly
    # with guidance; the equivalent top-level form (lag default arg)
    # must keep working.
    import tempfile

    from qcardia_data_spark.plans.spec import SpecError

    rows = [("u1", i, float(i * 10)) for i in range(1, 5)] + [
        ("u2", i, float(i * 100)) for i in range(1, 3)
    ]
    df = spark.createDataFrame(rows, ["user_id", "seq", "value"])
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "w_nested")
        df.write.parquet(path)
        with pytest.raises(SpecError, match="lag.*top-level|top-level"):
            compile_pipeline(
                spark,
                [{"op": "source", "path": path},
                 {"op": "window", "partition_by": ["user_id"],
                  "order_by": ["seq"],
                  "cols": {"prev_or_zero":
                           "coalesce(lag(value), cast(0.0 as double))"}}],
                sf_dir,
            )
        # the guided rewrite: top-level offset call with a default, next
        # to a plain aggregate that must STAY whole-partition
        out = compile_pipeline(
            spark,
            [{"op": "source", "path": path},
             {"op": "window", "partition_by": ["user_id"],
              "order_by": ["seq"],
              "cols": {
                  "prev_or_zero": "lag(value, 1, cast(0.0 as double))",
                  "total": "sum(value)",
              }}],
            sf_dir,
        ).collect()
        by = {(r["user_id"], r["seq"]): r for r in out}
        assert by[("u1", 1)]["prev_or_zero"] == 0.0
        assert by[("u1", 3)]["prev_or_zero"] == 20.0
        # whole-partition aggregate: identical on every row of the group
        assert {by[("u1", s)]["total"] for s in (1, 2, 3, 4)} == {100.0}
        assert {by[("u2", s)]["total"] for s in (1, 2)} == {300.0}
        # ADVICE r12: a ranking-function NAME inside a string LITERAL is
        # not a nested call — the guard must not fire on it (the regex
        # now strips quoted literals, incl. ''-escaped quotes, first)
        lit = compile_pipeline(
            spark,
            [{"op": "source", "path": path},
             {"op": "window", "partition_by": ["user_id"],
              "order_by": ["seq"],
              "cols": {"tagged":
                       "max(concat('lag(', '''rank(', cast(value as string)))"}}],
            sf_dir,
        ).collect()
        assert all(r["tagged"].startswith("lag('rank(") for r in lit)
        # ADVICE r13: Spark also accepts BACKSLASH-escaped quotes inside
        # string literals ('it\'s'); the scanner must consume the escape
        # as one unit or it desynchronizes — a literal containing \' then
        # 'lag(' was falsely refused before this fix
        esc = compile_pipeline(
            spark,
            [{"op": "source", "path": path},
             {"op": "window", "partition_by": ["user_id"],
              "order_by": ["seq"],
              "cols": {"tagged2":
                       r"max(concat('it\'s lag(', cast(value as string)))"}}],
            sf_dir,
        ).collect()
        assert all(r["tagged2"].startswith("it's lag(") for r in esc)
        # ...and a GENUINELY nested call after such a literal still refuses
        with pytest.raises(SpecError, match="top-level"):
            compile_pipeline(
                spark,
                [{"op": "source", "path": path},
                 {"op": "window", "partition_by": ["user_id"],
                  "order_by": ["seq"],
                  "cols": {"bad":
                           r"coalesce(concat('it\'s', ''), lag(value))"}}],
                sf_dir,
            )
        # ADVICE r14: DOUBLE-quoted tokens are string literals in Spark's
        # default non-ANSI mode and accept \" escapes too — the scanner's
        # double-quote branch must consume them or an expression like
        # concat("it\"s lag(", x) is falsely refused (fail-closed, so
        # availability not safety — but still wrong)
        dq = compile_pipeline(
            spark,
            [{"op": "source", "path": path},
             {"op": "window", "partition_by": ["user_id"],
              "order_by": ["seq"],
              "cols": {"tagged3":
                       'max(concat("it\\"s lag(", cast(value as string)))'}}],
            sf_dir,
        ).collect()
        assert all(r["tagged3"].startswith('it"s lag(') for r in dq)


def test_retrieval_search_example_runs(spark, sf_dir, tmp_path):
    # the shipped r12 example: build both standing indexes once, then
    # phrase-filter + BM25-rank off the indexes without a corpus rescan
    spec = json.load(open("examples/retrieval_search.json"))
    subst = {
        "{phrase_idx}": str(tmp_path / "phrase_idx"),
        "{bm25_idx}": str(tmp_path / "bm25_idx"),
    }

    def patch(ops):
        out = []
        for op in ops:
            op = dict(op)
            if op.get("path") in subst:
                op["path"] = subst[op["path"]]
            out.append(op)
        return out

    compile_pipeline(
        spark, patch(spec["pipelines"]["build_indexes"]), sf_dir
    ).count()  # materialization boundary: force the index writes
    out = compile_pipeline(
        spark, patch(spec["pipelines"]["phrase_and_rank"]), sf_dir
    )
    rows = out.collect()
    assert out.columns == ["doc_id", "n_hits", "score"]
    assert 0 < len(rows) <= 100
    assert all(r["n_hits"] >= 1 for r in rows)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # index-path probe == scan-form result on the same frame
    from qcardia_data_spark.functions.retrieval import (
        bm25_topk,
        phrase_occurrences,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    hits = phrase_occurrences(docs, ["query", "line", "value"])
    top = bm25_topk(docs, ["query", "line", "value"], k=100)
    want = sorted(
        (r["doc_id"], r["n_hits"], r["score"])
        for r in hits.join(top.select("doc_id", "score"), "doc_id").collect()
    )
    assert sorted((r["doc_id"], r["n_hits"], r["score"]) for r in rows) == want


def test_media_dedup_example_runs_all_modalities(spark, sf_dir, tmp_path):
    # the shipped r12 example: all four modalities through media_near_dup
    # on synthetic corpora built with the repo's own pure-stdlib codecs
    import numpy as np

    from qcardia_data_spark.sources.audio import encode_wav
    from qcardia_data_spark.sources.avi import encode_avi_mjpeg
    from qcardia_data_spark.sources.png import encode_png

    spec = json.load(open("examples/media_dedup.json"))
    rng = np.random.RandomState(12)

    imgs = tmp_path / "imgs"; imgs.mkdir()
    coarse = rng.randint(0, 200, size=(8, 6)).astype(np.float64)
    base = np.kron(coarse, np.ones((8, 8)))[:64, :48].astype(np.uint8)
    (imgs / "base.png").write_bytes(encode_png(base))
    (imgs / "bright.png").write_bytes(encode_png((base + 20).astype(np.uint8)))
    (imgs / "noise.png").write_bytes(
        encode_png(rng.randint(0, 255, size=(64, 48)).astype(np.uint8))
    )

    aud = tmp_path / "aud"; aud.mkdir()
    rate = 8000
    t = np.arange(int(rate * 4.0)) / rate
    sig = 0.02 * rng.randn(len(t))
    for _ in range(8):
        f0 = rng.uniform(100, 3500)
        am = 0.3 + 0.7 * np.sin(2 * np.pi * rng.uniform(0.2, 1.0) * t)
        sig += 0.1 * am * np.sin(2 * np.pi * f0 * t + rng.uniform(0, 6))
    sig = 0.6 * sig / np.abs(sig).max()
    other = 0.02 * rng.randn(len(t))
    for _ in range(8):
        other += 0.1 * np.sin(2 * np.pi * rng.uniform(100, 3500) * t
                              + rng.uniform(0, 6))
    other = 0.6 * other / np.abs(other).max()
    (aud / "base.wav").write_bytes(encode_wav(sig, rate))
    (aud / "quiet.wav").write_bytes(encode_wav(0.4 * sig, rate))
    (aud / "other.wav").write_bytes(encode_wav(other, rate))

    vid = tmp_path / "vid"; vid.mkdir()
    frames = [
        np.kron(rng.randint(0, 200, size=(8, 8)), np.ones((8, 8))).astype(np.uint8)
        for _ in range(4)
    ]
    (vid / "a.avi").write_bytes(encode_avi_mjpeg(frames))
    (vid / "bright.avi").write_bytes(
        encode_avi_mjpeg([(f + 15).astype(np.uint8) for f in frames])
    )
    (vid / "other.avi").write_bytes(encode_avi_mjpeg([
        np.kron(rng.randint(0, 200, size=(8, 8)), np.ones((8, 8))).astype(np.uint8)
        for _ in range(4)
    ]))

    subst = {"{images}": str(imgs), "{audio}": str(aud), "{video}": str(vid)}

    def run(name):
        ops = []
        for op in spec["pipelines"][name]:
            op = dict(op)
            if op.get("path") in subst:
                op["path"] = subst[op["path"]]
            ops.append(op)
        return compile_pipeline(spark, ops, sf_dir)

    # text: pair table over the documents table, SimHash64 engine
    text_pairs = run("text")
    assert {"a", "b"} <= set(text_pairs.columns)
    assert text_pairs.count() >= 0  # runs; density depends on sf

    got = {(r["a"].rsplit("/", 1)[-1], r["b"].rsplit("/", 1)[-1])
           for r in run("image").collect()}
    assert ("base.png", "bright.png") in got
    assert not any("noise" in a or "noise" in b for a, b in got)

    got = {(r["a"].rsplit("/", 1)[-1], r["b"].rsplit("/", 1)[-1])
           for r in run("audio").collect()}
    assert ("base.wav", "quiet.wav") in got
    assert not any("other" in a or "other" in b for a, b in got)

    got = {(r["a"].rsplit("/", 1)[-1], r["b"].rsplit("/", 1)[-1])
           for r in run("video").collect()}
    assert ("a.avi", "bright.avi") in got
    assert not any("other" in a or "other" in b for a, b in got)


def test_spec_scale_safe_split_and_cumsum_match_module(spark, sf_dir, tmp_path):
    """VERDICT r12 #3: scale_safe existed only on the inner primitives —
    a spec-driven pipeline could not ask for the 100 TB split/cumsum
    forms. Pins (a) spec split_subjects scale_safe == module
    subject_level_split default assignments (value equality of the
    distributed rank), (b) the new spec cumsum op == module
    cumulative_sum in both window and scale_safe forms, and (c) the
    scale_safe plans actually avoid the unpartitioned window."""
    import os

    from qcardia_data_spark.operators.sampling import subject_level_split
    from qcardia_data_spark.operators.windows import cumulative_sum

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    path = str(tmp_path / "cust_ss")
    cust.write.parquet(path)

    # (a) split: spec scale_safe form == module window form, row for row
    want = {
        r["c_custkey"]: r["split"]
        for r in subject_level_split(cust, "c_custkey", 0.3, seed="s13").collect()
    }
    spec_out = compile_pipeline(
        spark,
        [{"op": "source", "path": path},
         {"op": "split_subjects", "key": "c_custkey", "valid_fraction": 0.3,
          "seed": "s13", "scale_safe": True, "num_ranges": 8}],
        sf_dir,
    )
    got = {r["c_custkey"]: r["split"] for r in spec_out.collect()}
    assert got == want
    plan = spec_out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition()" not in plan.replace(" ", "")

    # (b) cumsum: spec op == module, window form and scale_safe form
    want_cum = {
        (r["c_nationkey"], r["c_custkey"]): r["cum"]
        for r in cumulative_sum(
            cust, ["c_nationkey"],
            [F.col("c_custkey")], "c_acctbal",
        ).collect()
    }
    for knobs in ({}, {"scale_safe": True, "num_ranges": 8}):
        out = compile_pipeline(
            spark,
            [{"op": "source", "path": path},
             {"op": "cumsum", "partition_by": ["c_nationkey"],
              "order_by": ["c_custkey"], "value": "c_acctbal",
              **knobs}],
            sf_dir,
        )
        got_cum = {
            (r["c_nationkey"], r["c_custkey"]): r["cum"] for r in out.collect()
        }
        assert got_cum.keys() == want_cum.keys()
        for k, v in want_cum.items():
            assert abs(got_cum[k] - v) < 1e-6, (k, got_cum[k], v)


def test_reliable_corpus_prep_example_runs(spark, sf_dir, tmp_path):
    """examples/reliable_corpus_prep.json — the r13 knobs in one spec:
    keep_best near-dedup with reliable_dir (signatures AND the CC
    fixpoint file-backed) + scale_safe distributed split. Must equal the
    same chain with the knobs OFF (the knobs change where state lives
    and how the rank is computed, never the answer), and must leave the
    reliable artifacts on disk."""
    import json as _json

    spec = _json.load(open("examples/reliable_corpus_prep.json"))
    corpus = str(tmp_path / "docs")
    rel = str(tmp_path / "rel")
    (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text").limit(400).write.parquet(corpus)
    )

    def resolve(ops, drop_knobs=False):
        out = []
        for op in ops:
            op = dict(op)
            for k, v in list(op.items()):
                if isinstance(v, str):
                    op[k] = v.replace("{corpus}", corpus).replace(
                        "{reliable_dir}", rel
                    )
            if drop_knobs:
                op.pop("reliable_dir", None)
                op.pop("scale_safe", None)
                op.pop("num_ranges", None)
            out.append(op)
        return out

    got = compile_pipeline(spark, resolve(spec["pipeline"]), sf_dir)
    want = compile_pipeline(
        spark, resolve(spec["pipeline"], drop_knobs=True), sf_dir
    )
    key = lambda r: (r["doc_id"], r["split"])  # noqa: E731
    got_rows = sorted(map(key, got.collect()))
    assert got_rows == sorted(map(key, want.collect()))
    assert got_rows, "pipeline selected nothing"
    assert {s for _, s in got_rows} == {"train", "valid"}
    import glob as _glob

    # artifacts live under per-invocation run_* namespaces (ADVICE r13)
    assert _glob.glob(os.path.join(rel, "run_*", "signatures"))
    assert _glob.glob(os.path.join(rel, "run_*", "cc_edges"))


def test_standing_index_lifecycle_example_runs(spark, sf_dir, tmp_path):
    """examples/standing_index_lifecycle.json — the r14 'auto' geometry
    knob end to end: build both text standing indexes with corpus-sized
    buckets, then run a monotone-id weekly batch through BOTH incremental
    dedup ops with update_index; the metas must hold resolved ints and
    the batch survivors must flow through."""
    spec = json.load(open("examples/standing_index_lifecycle.json"))
    subst = {
        "{corpus}": str(tmp_path / "corpus"),
        "{batch}": str(tmp_path / "batch"),
        "{sig_idx}": str(tmp_path / "sig_idx"),
        "{win_idx}": str(tmp_path / "win_idx"),
    }
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
    )
    docs.filter(F.col("doc_id") < 60).write.parquet(subst["{corpus}"])
    docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 90)).write.parquet(
        subst["{batch}"]
    )

    def patch(ops):
        out = []
        for op in ops:
            op = dict(op)
            for k, v in list(op.items()):
                if isinstance(v, str) and v in subst:
                    op[k] = subst[v]
            out.append(op)
        return out

    compile_pipeline(spark, patch(spec["pipelines"]["build_indexes"]), None).count()
    from qcardia_data_spark.sources.readers import read_meta_json

    sig_meta = read_meta_json(spark, subst["{sig_idx}"], "sig")
    win_meta = read_meta_json(spark, subst["{win_idx}"], "win")
    assert isinstance(sig_meta["n_sig_buckets"], int)
    assert isinstance(win_meta["n_fp_buckets"], int)

    out = compile_pipeline(spark, patch(spec["pipelines"]["weekly_batch"]), None)
    n = out.count()
    assert 0 < n <= 30
    # update_index ratcheted both metas' max_id to the batch's ids
    assert int(read_meta_json(spark, subst["{sig_idx}"], "sig")["max_id"]) >= 60
    assert int(read_meta_json(spark, subst["{win_idx}"], "win")["max_id"]) >= 60
