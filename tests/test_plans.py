"""Plan layer tests: fingerprint stability, cache hit/miss/repair,
spec compilation, and the DataModule lifecycle (SURVEY §5.3/§5.5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.plans import cache as C
from qcardia_data_spark.plans.data_module import DataModule
from qcardia_data_spark.plans.fingerprint import (
    cache_name,
    normalize_spec,
    spec_fingerprint,
    subject_set_fingerprint,
)
from qcardia_data_spark.plans.spec import SpecError, compile_pipeline


def test_fingerprint_is_order_insensitive():
    a = {"x": 1, "y": [1, 2], "z": {"a": True, "b": "s"}}
    b = {"z": {"b": "s", "a": True}, "y": (1, 2), "x": 1.0}
    assert spec_fingerprint(a) == spec_fingerprint(b)


def test_fingerprint_drops_empty_and_none():
    assert spec_fingerprint({"x": 1, "noise": None, "e": {}}) == spec_fingerprint({"x": 1})
    assert normalize_spec({"a": [None]}) == {"a": [None]}  # nested None survives lists


def test_fingerprint_distinguishes_real_changes():
    assert spec_fingerprint({"x": 1}) != spec_fingerprint({"x": 2})


def test_subject_fingerprint_sorted():
    assert subject_set_fingerprint(["b", "a"]) == subject_set_fingerprint(["a", "b"])
    assert cache_name({"p": 1}, ["a"]) != cache_name({"p": 1}, ["a", "b"])


def test_cache_hit_miss_and_partial_repair(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    spec = {"q": "nation-count"}
    builds = []

    def build():
        builds.append(1)
        return spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))

    p1, built1 = C.materialize(spark, build, root, spec)
    assert built1 and len(builds) == 1
    p2, built2 = C.materialize(spark, build, root, spec)
    assert p1 == p2 and not built2 and len(builds) == 1  # hit costs no build

    # simulate a crashed writer: remove _SUCCESS → PARTIAL → repaired
    os.remove(os.path.join(p1, "_SUCCESS"))
    assert C.cache_state(p1) is C.CacheState.PARTIAL
    p3, built3 = C.materialize(spark, build, root, spec)
    assert built3 and len(builds) == 2
    assert C.read_cache(spark, p3).count() == 25


def test_route_splits_orphan_check(spark):
    records = spark.createDataFrame([("s1", 1), ("s2", 2), ("s3", 3)], ["subj", "v"])
    assignment = spark.createDataFrame([("s1", "train"), ("s2", "valid")], ["subj", "split"])
    with pytest.raises(ValueError, match="1 records belong to no split"):
        C.route_splits(records, assignment, ["subj"])
    ok = C.route_splits(records.filter("subj != 's3'"), assignment, ["subj"])
    assert {r["split"] for r in ok.collect()} == {"train", "valid"}


def test_spec_compiler_matches_handwritten(spark, sf_dir):
    ops = [
        {"op": "source", "table": "lineitem"},
        {"op": "filter", "expr": "l_quantity > 25"},
        {"op": "with_columns", "cols": {"rev": "l_extendedprice * (1 - l_discount)"}},
        {"op": "group_agg", "by": ["l_returnflag"], "aggs": {"total_rev": "sum(rev)", "n": "count(*)"}},
        {"op": "sort", "by": ["l_returnflag"]},
    ]
    got = compile_pipeline(spark, ops, sf_dir).collect()
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    want = (
        li.filter("l_quantity > 25")
        .withColumn("rev", F.expr("l_extendedprice * (1 - l_discount)"))
        .groupBy("l_returnflag")
        .agg(F.sum("rev").alias("total_rev"), F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_spec_compiler_prunes_disabled_ops(spark, sf_dir):
    ops = [
        {"op": "source", "table": "nation"},
        {"op": "filter", "expr": "n_nationkey < 0", "when": False},  # pruned at build
    ]
    assert compile_pipeline(spark, ops, sf_dir).count() == 25


def test_spec_compiler_errors_at_plan_time(spark, sf_dir):
    with pytest.raises(SpecError, match="unknown op"):
        compile_pipeline(spark, [{"op": "source", "table": "nation"}, {"op": "zap"}], sf_dir)
    with pytest.raises(SpecError, match="before any source"):
        compile_pipeline(spark, [{"op": "limit", "n": 1}], sf_dir)


def test_spec_explode_prefilter_and_compose(spark, sf_dir):
    ops = [
        {"op": "source", "table": "embeddings"},
        {"op": "filter", "expr": "vec_id < 10"},
        {"op": "compose", "arr_col": "embedding", "key_col": "vec_id",
         "stages": [{"t": "normalize"}, {"t": "clamp", "lo": 0.2, "hi": 0.8}]},
        {"op": "explode", "col": "embedding", "pos": "frame_nr", "val": "v",
         "keep_positions": [0, 5]},
    ]
    out = compile_pipeline(spark, ops, sf_dir)
    rows = out.collect()
    assert len(rows) == 20  # 10 vecs × 2 kept positions
    assert {r["frame_nr"] for r in rows} == {0, 5}
    assert all(0.2 <= r["v"] <= 0.8 for r in rows)


def test_spec_pushes_position_filter_below_explode(spark, sf_dir):
    base = [
        {"op": "source", "table": "embeddings"},
        {"op": "filter", "expr": "vec_id < 10"},
    ]
    unfused = base + [
        {"op": "explode", "col": "embedding", "pos": "frame_nr", "val": "v"},
        {"op": "filter", "col": "frame_nr", "in": [1, 7]},
    ]
    explicit = base + [
        {"op": "explode", "col": "embedding", "pos": "frame_nr", "val": "v",
         "keep_positions": [1, 7]},
    ]
    got = compile_pipeline(spark, unfused, sf_dir)
    want = compile_pipeline(spark, explicit, sf_dir)

    # the peephole must produce the same physical plan as the hand-placed
    # pre-filter (elements outside [1,7] are never generated); expression
    # ids differ between compilations, so normalize #NNN before comparing
    def norm(df):
        import re

        return re.sub(r"#\d+", "#x", df._jdf.queryExecution().executedPlan().toString())

    assert norm(got) == norm(want)
    assert {(r["vec_id"], r["frame_nr"]) for r in got.collect()} == {
        (v, p) for v in range(10) for p in (1, 7)
    }
    # a structured filter NOT adjacent to an explode still filters normally
    plain = base + [{"op": "filter", "col": "vec_id", "in": [3, 4]}]
    assert compile_pipeline(spark, plain, sf_dir).count() == 2


def test_spec_cache_boundary(spark, sf_dir, tmp_path):
    ops = [
        {"op": "source", "table": "nation"},
        {"op": "filter", "expr": "n_regionkey = 1"},
        {"op": "cache", "cache_root": str(tmp_path)},
        {"op": "group_agg", "by": [], "aggs": {"n": "count(*)"}},
    ]
    n1 = compile_pipeline(spark, ops, sf_dir).collect()[0]["n"]
    assert n1 == 5
    # same upstream → cache hit (one cache dir); different upstream → new dir
    compile_pipeline(spark, ops, sf_dir).collect()
    import os as _os

    dirs = [d for d in _os.listdir(tmp_path) if d.startswith("cache-")]
    assert len(dirs) == 1
    ops2 = [dict(o) for o in ops]
    ops2[1] = {"op": "filter", "expr": "n_regionkey = 2"}
    compile_pipeline(spark, ops2, sf_dir).collect()
    dirs = [d for d in _os.listdir(tmp_path) if d.startswith("cache-")]
    assert len(dirs) == 2


def _orders_dm(spark, sf_dir, tmp_path):
    return DataModule(spark, {
        "sf_dir": sf_dir,
        "cache_root": str(tmp_path),
        "pipeline": [
            {"op": "source", "table": "orders"},
            {"op": "select", "cols": ["o_orderkey", "o_custkey", "o_orderstatus"]},
        ],
        "subject_col": "o_custkey",
        "split": {"valid_fraction": 0.5, "seed": "srv"},
    }).setup()


def test_serving_iterator_batches(spark, sf_dir, tmp_path):
    dm = _orders_dm(spark, sf_dir, tmp_path)
    n_valid = dm.frame("valid").count()

    batches = list(dm.iter_pandas_batches("valid", batch_size=100, shuffle_seed=7))
    assert sum(len(b) for b in batches) == n_valid
    assert all(len(b) == 100 for b in batches[:-1])  # full batches except last
    assert "_rn" not in batches[0].columns

    # epoch-dependent deterministic shuffle: same epoch = same order,
    # different epoch = different permutation of the same rows
    again = list(dm.iter_pandas_batches("valid", batch_size=100, shuffle_seed=7))
    assert batches[0]["o_orderkey"].tolist() == again[0]["o_orderkey"].tolist()
    ep1 = list(dm.iter_pandas_batches("valid", batch_size=100, shuffle_seed=7, epoch=1))
    assert batches[0]["o_orderkey"].tolist() != ep1[0]["o_orderkey"].tolist()
    all_ids = sorted(k for b in batches for k in b["o_orderkey"])
    all_ids_ep1 = sorted(k for b in ep1 for k in b["o_orderkey"])
    assert all_ids == all_ids_ep1  # same record set, permuted


def _plan_nodes(df):
    """Every node of ``df``'s physical plan, AQE's current plan included."""
    stack, nodes = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        nodes.append(node)
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _output_names(node):
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def test_serving_iterator_plan_is_distributed(spark, sf_dir, tmp_path):
    """The records cross exactly one exchange on the way to the batches —
    a range exchange on the seeded order key — with no global Sort, no
    Window and no single-partition exchange over them (the round-1
    single-task funnel). Single-partition exchanges stay on driver-small
    frames (distinct subjects). The config has no weight_cols, so
    ``frame()`` adds no weighting window of its own."""
    dm = _orders_dm(spark, sf_dir, tmp_path)
    nodes = _plan_nodes(dm._ranked_frame("valid", 7, 0))
    # a node carries the records when the payload column is in its output
    over_records = [n for n in nodes if "o_orderstatus" in _output_names(n)]
    exchanges = [n.outputPartitioning().toString() for n in over_records
                 if n.nodeName() == "Exchange"]
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith("rangepartitioning"), exchanges  # not SinglePartition
    assert not [n for n in nodes if n.nodeName() == "Sort" and getattr(n, "global")()]
    assert not [n for n in over_records if n.nodeName() == "Window"]


def _synthetic_dm(spark, tmp_path, tag, rows, valid=None):
    """DataModule over ``rows`` of (subj, rec_id, val); subjects in
    ``valid`` (default: all) go to the valid split, the rest to train."""
    path = str(tmp_path / f"src_{tag}")
    spark.createDataFrame(rows, "subj string, rec_id long, val double").write.parquet(path)
    subjects = {r[0] for r in rows}
    valid = subjects if valid is None else valid
    return DataModule(spark, {
        "cache_root": str(tmp_path / f"cache_{tag}"),
        "pipeline": [{"op": "source", "path": path}],
        "subject_col": "subj",
        "split": {"assignments": {s: "valid" if s in valid else "train" for s in subjects}},
    }).setup()


@pytest.mark.parametrize(
    "n_rows, per_subject, batch_size, shuffle_seed",
    [
        (12, 3, 4, 7),     # row count an exact multiple of batch_size
        (23, 4, 5, 7),     # a short last batch
        (3, 1, 2, 7),      # more range partitions asked for than rows
        (17, 1, 4, None),  # unseeded: ordered by subject only
    ],
    ids=["exact_multiple", "short_last", "parts_gt_rows", "unseeded"],
)
def test_serving_batches_equal_direct_row_number(
    spark, tmp_path, n_rows, per_subject, batch_size, shuffle_seed
):
    """The served batches are exactly the batches of a direct
    ``row_number() OVER (ORDER BY <order key>)`` numbering of the split —
    same rows, same order, same boundaries. The direct numbering is a
    single-partition window: fine for a test, the hazard the engine
    avoids."""
    from pyspark.sql.window import Window

    rows = [(f"s{i // per_subject:03d}", i, i * 0.5) for i in range(n_rows)]
    dm = _synthetic_dm(spark, tmp_path, "eq", rows)
    df = dm.frame("valid")
    order = dm._order_key(df, shuffle_seed, 0)
    direct = df.withColumn("_rn", F.row_number().over(Window.orderBy(*order)))
    keys = [r["rec_id"] for r in direct.orderBy("_rn").select("rec_id").collect()]
    expected = [keys[i:i + batch_size] for i in range(0, len(keys), batch_size)]
    assert sorted(keys) == list(range(n_rows))

    served = [b["rec_id"].tolist() for b in dm.iter_pandas_batches(
        "valid", batch_size=batch_size, shuffle_seed=shuffle_seed)]
    assert served == expected


def test_serving_empty_split_yields_no_batches(spark, tmp_path):
    rows = [(f"s{i}", i, float(i)) for i in range(4)]
    dm = _synthetic_dm(spark, tmp_path, "empty", rows, valid=set())
    assert list(dm.iter_pandas_batches("valid", batch_size=2, shuffle_seed=7)) == []
    with pytest.raises(ValueError, match="batch_size"):
        next(dm.iter_pandas_batches("train", batch_size=0))


def _under_group(spark, fn):
    """``fn()`` and the (jobs, tasks) it ran under a fresh job group;
    tasks count each stage once and leave out skipped stages."""
    import uuid

    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serving job-count test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    # a skipped stage ran no task, and the status store evicts skipped
    # stages first once it holds spark.ui.retainedStages
    infos = [i for i in map(tracker.getStageInfo, stages) if i is not None]
    return out, (len(jobs), sum(i.numCompletedTasks for i in infos))


def test_serving_epoch_reads_each_range_partition_once(spark, tmp_path):
    """Beyond the jobs that prepare the range shuffle (the same plan's
    ``.rdd`` runs exactly those), an epoch runs one job and one task per
    range partition, however many batches it serves — and every one of
    them carries the job group set when the first batch was asked for,
    since the JVM thread serving the partitions inherits it. The epoch has
    more batches than range partitions, so a job per batch cannot pass."""
    rows = [(f"s{i // 2:03d}", i, i * 0.5) for i in range(60)]
    dm = _synthetic_dm(spark, tmp_path, "jobs", rows)
    n_parts, (prep_jobs, prep_tasks) = _under_group(
        spark, lambda: dm._ranked_frame("valid", 7, 0).rdd.getNumPartitions())
    assert n_parts > 2
    batches, (jobs, tasks) = _under_group(
        spark, lambda: list(dm.iter_pandas_batches("valid", batch_size=4, shuffle_seed=7)))
    assert len(batches) == 15 > n_parts + 2
    assert (jobs - prep_jobs, tasks - prep_tasks) == (n_parts, n_parts)
    # the preparation: broadcast of the split table, range bounds sample,
    # shuffle map stage
    assert prep_jobs <= 3


def test_serving_close_mid_epoch_then_reserve(spark, tmp_path):
    """Closing the iterator after its first batch leaves nothing behind:
    the same (seed, epoch) then serves the full order again, and the
    session's stored RDDs are the same before, during and after an
    epoch (the shuffle output is the epoch's only copy)."""
    rows = [(f"s{i // 3:03d}", i, i * 0.5) for i in range(40)]
    dm = _synthetic_dm(spark, tmp_path, "close", rows)
    jsc = spark.sparkContext._jsc

    def stored():
        return set(jsc.getPersistentRDDs().keySet())

    def order(it):
        return [k for b in it for k in b["rec_id"]]

    before = stored()
    full = order(dm.iter_pandas_batches("valid", batch_size=6, shuffle_seed=7, epoch=2))
    assert sorted(full) == list(range(40))
    it = dm.iter_pandas_batches("valid", batch_size=6, shuffle_seed=7, epoch=2)
    first = next(it)
    assert stored() == before
    it.close()
    assert first["rec_id"].tolist() == full[:6]
    again = dm.iter_pandas_batches("valid", batch_size=6, shuffle_seed=7, epoch=2)
    assert order(again) == full
    assert stored() == before


def test_serving_batches_equal_to_pandas(spark, tmp_path):
    """Each served batch equals ``toPandas()`` of its rows — column names,
    dtypes and values — on a split with date, timestamp, decimal, array,
    map, struct, binary and all-null columns. Batches of 12 over 8 range
    partitions of about 5 rows: one batch spans three partitions and the
    last batch is short."""
    import pandas as pd

    path = str(tmp_path / "src_types")
    spark.range(40).selectExpr(
        "concat('s', lpad(cast(id div 2 as string), 3, '0')) AS subj",
        "id AS rec_id",
        "date_add(date'2024-02-27', cast(id AS int)) AS d",
        "timestamp_seconds(1700000000 + id * 3607) AS ts",
        "cast(id / 7 AS decimal(12, 4)) AS dec",
        "IF(id % 5 = 0, NULL, sequence(0L, id % 4)) AS arr",
        "map('k', id, 'k2', id * 2) AS m",
        "named_struct('k', id, 'v', IF(id % 3 = 0, NULL, cast(id AS string))) AS st",
        "cast(cast(id AS string) AS binary) AS bin",
        "cast(NULL AS string) AS none_s",
        "cast(NULL AS double) AS none_d",
    ).write.parquet(path)
    subjects = [f"s{i:03d}" for i in range(20)]
    dm = DataModule(spark, {
        "cache_root": str(tmp_path / "cache_types"),
        "pipeline": [{"op": "source", "path": path}],
        "subject_col": "subj",
        "split": {"assignments": {s: "valid" for s in subjects}},
    }).setup()
    batch_size = 12
    ranked = dm._ranked_frame("valid", 7, 0)
    sizes = ranked.rdd.glom().map(len).collect()
    owner = [p for p, n in enumerate(sizes) for _ in range(n)]  # range partition of each row
    spans = [len(set(owner[b:b + batch_size])) for b in range(0, 40, batch_size)]
    assert max(spans) >= 3, sizes
    expected = ranked.toPandas()
    served = list(dm.iter_pandas_batches("valid", batch_size=batch_size, shuffle_seed=7))
    assert [len(b) for b in served] == [12, 12, 12, 4]
    for i, got in enumerate(served):
        want = expected.iloc[i * batch_size:(i + 1) * batch_size].reset_index(drop=True)
        assert got.columns.tolist() == want.columns.tolist()
        assert got.dtypes.tolist() == want.dtypes.tolist()
        pd.testing.assert_frame_equal(got, want)


def test_spec_corpus_prep_from_file(spark, sf_dir):
    # the shipped declarative corpus-prep pipeline runs end to end and
    # strictly shrinks the corpus at each gate
    import json

    spec = json.load(open("examples/corpus_prep.json"))
    out = compile_pipeline(spark, spec["pipeline"], sf_dir)
    n_out = out.count()
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    assert 0 < n_out < n_docs
    assert out.columns == ["doc_id", "text", "source", "n_chars"]


def test_data_module_lifecycle(spark, sf_dir, tmp_path):
    config = {
        "sf_dir": sf_dir,
        "cache_root": str(tmp_path),
        "pipeline": [
            {"op": "source", "table": "orders"},
            {"op": "select", "cols": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]},
        ],
        "subject_col": "o_custkey",
        "split": {"valid_fraction": 0.25, "seed": "dm1"},
        "weight_cols": ["o_orderstatus"],
    }
    dm = DataModule(spark, config).setup()
    assert dm.was_built

    # subject-level isolation: no customer appears in both splits
    train = dm.frame("train")
    valid = dm.frame("valid")
    overlap = train.select("o_custkey").intersect(valid.select("o_custkey")).count()
    assert overlap == 0
    n_orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    assert train.count() + valid.count() == n_orders

    # weights are inverse-frequency within the split
    r = train.limit(1).collect()[0]
    assert r["weight"] > 0

    # second setup() is a cache hit and identical split (determinism)
    dm2 = DataModule(spark, config).setup()
    assert not dm2.was_built
    s1 = {(r["o_custkey"], r["split"]) for r in dm.frame("valid").select("o_custkey", "split").collect()}
    s2 = {(r["o_custkey"], r["split"]) for r in dm2.frame("valid").select("o_custkey", "split").collect()}
    assert s1 == s2


def test_spec_stream_pipeline_matches_batch_twin(spark, sf_dir, tmp_path):
    """The SAME spec dialect compiles to a streaming job: watermarked
    tumbling counts via spec ops equal the batch aggregation."""
    import pyspark.sql.functions as F

    from qcardia_data_spark.catalog import load_table
    from qcardia_data_spark.plans.spec import SpecError, compile_stream_pipeline
    from qcardia_data_spark.streaming.events import run_to_memory

    src = tmp_path / "ev"
    ev = load_table(spark, sf_dir, "events").limit(500)
    ev.coalesce(2).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    stream = compile_stream_pipeline(spark, [
        {"op": "stream_source", "path": str(src) + "/*.parquet", "schema": schema},
        {"op": "filter", "expr": "event_type in ('view', 'click')"},
        {"op": "watermark", "col": "ts", "delay": "2 hours"},
        {"op": "window_agg", "col": "ts", "width": "1 hour",
         "by": ["event_type"], "aggs": {"n": "count(*)"}},
    ])
    # complete mode: append would withhold windows still open at stream
    # end (their watermark never passes with availableNow termination)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in run_to_memory(stream, output_mode="complete").collect()
    }
    batch = (
        spark.read.parquet(str(src))
        .filter(F.col("event_type").isin("view", "click"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r["w"]["start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want and len(want) > 0

    # stateful batch ops fail at PLAN time, not mid-job
    import pytest as _pytest

    with _pytest.raises(SpecError, match="not streamable"):
        compile_stream_pipeline(spark, [
            {"op": "stream_source", "path": str(src) + "/*.parquet", "schema": schema},
            {"op": "sort", "by": ["ts"]},
        ])


def test_spec_stream_sliding_window(spark, sf_dir, tmp_path):
    from qcardia_data_spark.catalog import load_table
    from qcardia_data_spark.plans.spec import compile_stream_pipeline
    from qcardia_data_spark.streaming.events import run_to_memory

    src = tmp_path / "ev2"
    load_table(spark, sf_dir, "events").limit(200).coalesce(1).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = compile_stream_pipeline(spark, [
        {"op": "stream_source", "path": str(src) + "/*.parquet", "schema": schema},
        {"op": "watermark", "col": "ts", "delay": "2 hours"},
        {"op": "window_agg", "col": "ts", "width": "1 hour", "slide": "30 minutes",
         "aggs": {"n": "count(*)"}},
    ])
    rows = run_to_memory(stream, output_mode="complete").collect()
    # sliding windows: every event lands in exactly 2 windows
    assert sum(r["n"] for r in rows) == 2 * 200


def test_spec_asof_join_op(spark, sf_dir):
    """The temporal as-of join is reachable from the declarative spec
    surface, both directions, and matches the operator called directly."""
    from qcardia_data_spark.catalog import load_table
    from qcardia_data_spark.operators.temporal import asof_join
    from qcardia_data_spark.plans.spec import compile_pipeline

    for direction in ("backward", "forward"):
        got = compile_pipeline(spark, [
            {"op": "source", "table": "events"},
            {"op": "filter", "expr": "event_type = 'purchase'"},
            {"op": "select", "cols": ["event_id", "user_id", "ts"]},
            {"op": "asof_join",
             "pipeline": [
                 {"op": "source", "table": "events"},
                 {"op": "filter", "expr": "event_type = 'view'"},
                 {"op": "select", "cols": ["user_id", "ts", "ts AS v_ts"]},
             ],
             "by": ["user_id"], "left_ts": "ts", "right_ts": "ts",
             "carry": ["v_ts"], "direction": direction},
        ], sf_dir)
        e = load_table(spark, sf_dir, "events")
        p = e.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
        v = e.filter("event_type = 'view'").selectExpr("user_id", "ts", "ts AS v_ts")
        want = asof_join(p, v, ["user_id"], "ts", "ts", ["v_ts"], direction=direction)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_spec_near_dedup_tuning_knobs(spark, sf_dir):
    # star_rounds / max_bucket_size flow from the spec dialect into
    # near_dedup_minhash: with a tiny cap + 1 round the capped buckets emit
    # star edges only, so survivors can only increase vs the uncapped form
    # (recall loss is bounded, never negative selectivity); null cap means
    # exhaustive in-bucket pairs — identical to the uncapped library call.
    from qcardia_data_spark.functions.dedup import near_dedup_minhash

    base = [{"op": "source", "table": "documents"}]

    def run(extra):
        ops = base + [dict(
            {"op": "near_dedup", "id_col": "doc_id", "text_col": "text",
             "n_bands": 4, "threshold": 0.5}, **extra)]
        return compile_pipeline(spark, ops, sf_dir)

    uncapped = run({"max_bucket_size": None})
    capped = run({"max_bucket_size": 2, "star_rounds": 1})
    direct = near_dedup_minhash(
        uncapped.sparkSession.read.parquet(os.path.join(sf_dir, "documents.parquet")),
        "doc_id", "text", n_bands=4, threshold=0.5, max_bucket_size=None,
    )
    n_unc, n_cap, n_direct = uncapped.count(), capped.count(), direct.count()
    assert n_unc == n_direct  # null cap in spec ≡ uncapped library call
    assert n_cap >= n_unc  # star-only edges can only lower recall → more survivors


def test_spec_corpus_assembly_ops(spark, sf_dir):
    # pack_sequences / corpus_mix / decontaminate flow through the spec
    # dialect and match the direct library calls
    import qcardia_data_spark.functions.text as T

    tok_expr = "size(split(trim(text), ' '))"
    base = [
        {"op": "source", "table": "documents"},
        {"op": "with_columns", "cols": {"n_tokens": tok_expr}},
    ]
    packed = compile_pipeline(
        spark,
        base + [{"op": "pack_sequences", "token_col": "n_tokens",
                 "seq_len": 256, "by": "source", "order": "doc_id"}],
        sf_dir,
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    direct = T.pack_sequences(
        docs.withColumn("n_tokens", F.expr(tok_expr)),
        "n_tokens", 256, by="source", order="doc_id",
    )
    assert sorted(
        (r["doc_id"], r["pack_id"], r["pack_offset"]) for r in packed.collect()
    ) == sorted((r["doc_id"], r["pack_id"], r["pack_offset"]) for r in direct.collect())

    mixed = compile_pipeline(
        spark,
        base + [{"op": "corpus_mix", "token_col": "n_tokens", "key_col": "doc_id",
                 "by": "source", "weights": {"src0": 0.6, "src1": 0.4},
                 "total_budget": 3000}],
        sf_dir,
    )
    srcs = {r["source"] for r in mixed.select("source").distinct().collect()}
    assert srcs <= {"src0", "src1"} and mixed.count() > 0

    decon = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "filter", "expr": "doc_id >= 20"},
            {"op": "decontaminate", "id_col": "doc_id", "text_col": "text", "n": 5,
             "eval": {"pipeline": [
                 {"op": "source", "table": "documents"},
                 {"op": "filter", "expr": "doc_id < 20"},
             ]},
             "drop_flagged": True},
        ],
        sf_dir,
    )
    n_train = docs.filter(F.col("doc_id") >= 20).count()
    assert 0 < decon.count() <= n_train
    assert "contaminated" not in decon.columns


def test_spec_mix_pack_example_from_file(spark, sf_dir):
    import json

    spec = json.load(open("examples/corpus_mix_pack.json"))
    out = compile_pipeline(spark, spec["pipeline"], sf_dir)
    rows = out.collect()
    assert rows
    assert out.columns == ["doc_id", "source", "n_tokens", "pack_id", "pack_offset", "n_spans"]
    # only weighted sources survive the mix
    assert {r["source"] for r in rows} <= {"src0", "src1", "src2", "src3"}
    # offsets always inside the sequence length
    assert all(0 <= r["pack_offset"] < 512 for r in rows)


def test_spec_heavy_hitters_op(spark, sf_dir):
    ops = [
        {"op": "source", "table": "documents"},
        {"op": "with_columns", "cols": {"toks": "split(trim(text), ' ')"}},
        {"op": "explode", "col": "toks", "val": "term", "pos": "p"},
        {"op": "select", "cols": ["term"]},
        {"op": "heavy_hitters", "col": "term", "k": 5},
    ]
    out = compile_pipeline(spark, ops, sf_dir).collect()
    assert len(out) == 5
    assert out[0]["n"] >= out[-1]["n"] > 0


def test_spec_stream_session_and_dedup_ops(spark, sf_dir):
    from qcardia_data_spark.plans.spec import compile_stream_pipeline
    from qcardia_data_spark.streaming import events as S

    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    src = [
        {"op": "stream_source", "path": os.path.join(sf_dir, "events.*"),
         "schema": raw_schema, "max_files_per_trigger": 1},
        {"op": "watermark", "col": "ts", "delay": "2 hours"},
    ]

    sess = compile_stream_pipeline(spark, src + [
        {"op": "session_agg", "col": "ts", "gap": "30 minutes",
         "by": ["user_id"], "aggs": {"n_events": "count(*)"}},
    ])
    got = S.run_to_memory(sess, "complete")
    want = S.session_counts(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")), gap="30 minutes"
    )
    assert got.count() == want.count() > 0

    dedup = compile_stream_pipeline(spark, src + [
        {"op": "stream_dedup", "keys": ["user_id", "event_type"]},
    ])
    out = S.run_to_memory(dedup, "append")
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    n_keys = batch.select("user_id", "event_type").distinct().count()
    assert out.count() == n_keys


def test_spec_subject_kfold_op(spark, sf_dir):
    ops = [
        {"op": "source", "table": "events"},
        {"op": "subject_kfold", "key": "user_id", "k": 4, "seed": 7},
    ]
    out = compile_pipeline(spark, ops, sf_dir)
    rows = out.select("user_id", "fold").collect()
    folds = {}
    for r in rows:
        folds.setdefault(r["user_id"], set()).add(r["fold"])
    # leak-free: every record of a subject lands in one fold
    assert all(len(v) == 1 for v in folds.values())
    per_fold = {}
    for u, v in folds.items():
        per_fold[next(iter(v))] = per_fold.get(next(iter(v)), 0) + 1
    assert set(per_fold) == {0, 1, 2, 3}
    # balanced at subject granularity: sizes differ by at most one
    assert max(per_fold.values()) - min(per_fold.values()) <= 1


def test_spec_zorder_write_op(spark, sf_dir, tmp_path):
    from qcardia_data_spark.plans.layout import file_stats

    dest = str(tmp_path / "ev_z")
    ops = [
        {"op": "source", "table": "events"},
        {"op": "select", "cols": ["event_id", "user_id", "value"]},
        {"op": "zorder_write", "path": dest,
         "buckets": {"u": "user_id % 256", "v": "CAST(least(value, 255) AS INT)"},
         "bits": 8, "n_files": 4},
        {"op": "filter", "expr": "user_id % 256 < 32"},
    ]
    out = compile_pipeline(spark, ops, sf_dir)
    n_direct = (
        spark.read.parquet(dest).filter("user_id % 256 < 32").count()
    )
    assert out.count() == n_direct > 0
    # layout materialized: multiple files, each covering a tight span of the
    # first bucket column (the z-prefix range partitioning property)
    stats = file_stats(spark, dest, "user_id")
    assert len(stats) >= 2


def test_spec_semantic_dedup_op(spark, sf_dir):
    # {"op": "semantic_dedup"} compiles to functions.dedup.semantic_dedup
    # with spec-tunable n_cells/threshold — identical survivors to the
    # direct library call at the same knobs.
    from qcardia_data_spark.functions.dedup import semantic_dedup

    ops = [
        {"op": "source", "table": "embeddings"},
        {"op": "semantic_dedup", "n_cells": 8, "threshold": 0.35},
        {"op": "select", "cols": ["vec_id", "cell"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    direct = semantic_dedup(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
        n_cells=8, threshold=0.35,
    ).select("vec_id", "cell")
    assert via_spec.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_spec).count() == 0


def test_spec_lm_score_op(spark, sf_dir):
    # {"op": "lm_score"} attaches the trigram quality score; min_score
    # prunes below-bucket docs. Spec == direct library call.
    from qcardia_data_spark.functions.text import char_trigram_lm_score

    ops = [
        {"op": "source", "table": "documents"},
        {"op": "filter", "expr": "source != 'src0'"},
        {"op": "lm_score",
         "ref": {"pipeline": [{"op": "source", "table": "documents"},
                               {"op": "filter", "expr": "source = 'src0'"}]},
         "id_col": "doc_id", "text_col": "text"},
        {"op": "select", "cols": ["doc_id", "lm_score"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    direct = char_trigram_lm_score(
        docs.filter("source != 'src0'"), docs.filter("source = 'src0'"),
        "doc_id", "text",
    )
    sel = ["doc_id", "lm_score"]
    joined = (
        via_spec.withColumnRenamed("lm_score", "a")
        .join(direct.withColumnRenamed("lm_score", "b"), "doc_id", "full")
    )
    import pyspark.sql.functions as SF
    bad = joined.filter(
        SF.col("a").isNull() | SF.col("b").isNull()
        | (SF.abs(SF.col("a") - SF.col("b")) > 1e-12)
    ).count()
    assert bad == 0
    gated = compile_pipeline(
        spark,
        ops[:2] + [dict(ops[2], min_score=-100.0)],
        sf_dir,
    )
    assert gated.count() == via_spec.filter(SF.col("lm_score").isNotNull()).count()
    assert "lm_score" not in gated.columns


def test_spec_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream attribution join via the spec dialect == the same
    join on batch frames (the streaming/events.attribution_join shape)."""
    import pyspark.sql.functions as F

    from qcardia_data_spark.catalog import load_table
    from qcardia_data_spark.plans.spec import compile_stream_pipeline
    from qcardia_data_spark.streaming.events import run_to_memory

    src = tmp_path / "ev_join"
    ev = load_table(spark, sf_dir, "events").limit(800)
    ev.coalesce(2).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    right = [
        {"op": "stream_source", "path": str(src) + "/*.parquet", "schema": schema},
        {"op": "filter", "expr": "event_type = 'purchase'"},
        {"op": "watermark", "col": "ts", "delay": "2 hours"},
        {"op": "select", "cols": ["user_id as o_user", "event_id as outcome_id",
                                   "ts as o_ts", "value as outcome_value"]},
    ]
    stream = compile_stream_pipeline(spark, [
        {"op": "stream_source", "path": str(src) + "/*.parquet", "schema": schema},
        {"op": "filter", "expr": "event_type = 'click'"},
        {"op": "watermark", "col": "ts", "delay": "2 hours"},
        {"op": "select", "cols": ["user_id as t_user", "event_id as trigger_id",
                                   "ts as t_ts"]},
        {"op": "stream_join", "right": right,
         "cond": "t_user = o_user AND t_ts <= o_ts "
                 "AND t_ts >= o_ts - INTERVAL 1 HOUR"},
        {"op": "select", "cols": ["trigger_id", "outcome_id", "outcome_value"]},
    ])
    got = {tuple(r) for r in run_to_memory(stream, "append").collect()}

    b = spark.read.parquet(str(src))
    trig = b.filter("event_type = 'click'").selectExpr(
        "user_id as t_user", "event_id as trigger_id", "ts as t_ts")
    outc = b.filter("event_type = 'purchase'").selectExpr(
        "user_id as o_user", "event_id as outcome_id", "ts as o_ts",
        "value as outcome_value")
    want = {
        tuple(r)
        for r in trig.join(
            outc,
            F.expr("t_user = o_user AND t_ts <= o_ts "
                   "AND t_ts >= o_ts - INTERVAL 1 HOUR"),
        ).select("trigger_id", "outcome_id", "outcome_value").collect()
    }
    assert want and got == want


def test_spec_bpe_encode_op(spark, sf_dir):
    # merges embedded in the spec (a config artifact) == direct library
    # apply with the same merges
    from qcardia_data_spark.functions import bpe as B

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    freqs = B.bpe_word_freqs(docs, "text", sample_docs=None)
    merges = B.bpe_train(freqs, n_merges=16)
    ops = [
        {"op": "source", "table": "documents"},
        {"op": "bpe_encode", "text_col": "text",
         "merges": [list(p) for p in merges], "out": "toks"},
        {"op": "select", "cols": ["doc_id", "toks"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    direct = B.bpe_encode(docs, "text", merges, out="toks").select("doc_id", "toks")
    assert via_spec.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_spec).count() == 0


def test_spec_random_projection_op(spark, sf_dir):
    from qcardia_data_spark.functions.similarity import random_projection

    ops = [
        {"op": "source", "table": "embeddings"},
        {"op": "random_projection", "out_dim": 8, "seed": 3},
        {"op": "select", "cols": ["vec_id", "projected"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    direct = random_projection(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
        out_dim=8, seed=3,
    ).select("vec_id", "projected")
    assert via_spec.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_spec).count() == 0


def test_spec_bm25_topk_op(spark, sf_dir):
    # keyword-retrieval slice: the spec op keeps exactly the top-k BM25
    # docs and attaches their scores (broadcast join back onto the frame)
    from qcardia_data_spark.functions.retrieval import bm25_topk

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ops = [
        {"op": "source", "table": "documents"},
        {"op": "bm25_topk", "terms": ["spark", "table"], "k": 5},
        {"op": "select", "cols": ["doc_id", "score", "lang"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    direct = bm25_topk(docs, ["spark", "table"], k=5)
    assert via_spec.count() == 5
    got = {r["doc_id"]: r["score"] for r in via_spec.collect()}
    want = {r["doc_id"]: r["score"] for r in direct.collect()}
    assert got == want
    # original columns survive the slice
    assert "lang" in via_spec.columns


def test_spec_dsir_weights_op(spark, sf_dir):
    # DSIR gate: top_fraction keeps the highest-weight slice; the kept
    # set's minimum weight must dominate the dropped set's maximum
    from pyspark.sql import functions as SF

    from qcardia_data_spark.functions.selection import dsir_log_weights

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    base = [
        {"op": "source", "table": "documents"},
        {"op": "dsir_weights", "target": "lang = 'en'"},
    ]
    via_spec = compile_pipeline(spark, base, sf_dir)
    direct = dsir_log_weights(docs, SF.col("lang") == "en")
    joined = (
        via_spec.select("doc_id", SF.col("dsir_logw").alias("a"))
        .join(direct.withColumnRenamed("dsir_logw", "b"), "doc_id", "full")
    )
    assert joined.filter(
        (SF.col("a").isNull() != SF.col("b").isNull())
        | (SF.abs(SF.col("a") - SF.col("b")) > 1e-12)
    ).count() == 0

    gated = compile_pipeline(
        spark, base[:1] + [dict(base[1], top_fraction=0.25)], sf_dir
    )
    n_all = via_spec.filter(SF.col("dsir_logw").isNotNull()).count()
    n_kept = gated.count()
    assert 0 < n_kept < n_all
    kept_min = gated.agg(SF.min("dsir_logw")).collect()[0][0]
    dropped_max = (
        via_spec.join(gated.select("doc_id"), "doc_id", "left_anti")
        .agg(SF.max("dsir_logw")).collect()[0][0]
    )
    assert kept_min >= dropped_max - 1e-9


def test_spec_alpha_mix_op(spark, sf_dir):
    from pyspark.sql import functions as SF

    from qcardia_data_spark.functions.text import alpha_mix, word_tokens

    ops = [
        {"op": "source", "table": "documents"},
        {"op": "with_columns", "cols": {"n_tokens":
         "cast(size(filter(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))),"
         " '[^a-z0-9]+'), x -> length(x) > 0)) as bigint)"}},
        {"op": "alpha_mix", "by": "lang", "token_col": "n_tokens",
         "key_col": "doc_id", "alpha": 0.5, "total_budget": 5000, "seed": 3},
        {"op": "select", "cols": ["doc_id", "lang", "n_tokens"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    t = docs.select(
        "doc_id", "lang",
        SF.size(word_tokens(SF.col("text"))).cast("bigint").alias("n_tokens"),
    )
    direct = alpha_mix(
        t, "n_tokens", "doc_id", "lang", alpha=0.5, total_budget=5000, seed=3
    ).select("doc_id", "lang", "n_tokens")
    assert via_spec.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_spec).count() == 0


def test_spec_quality_classifier_op(spark, sf_dir):
    # trains in-pipeline, attaches P(curated); min_score gates
    from pyspark.sql import functions as SF

    base = [
        {"op": "source", "table": "documents"},
        {"op": "quality_classifier", "positive": "lang = 'en'",
         "n_features": 256},
    ]
    scored = compile_pipeline(spark, base, sf_dir)
    assert "quality_score" in scored.columns
    rows = scored.select("lang", "quality_score").collect()
    assert all(r["quality_score"] is not None for r in rows)
    # the classifier must actually separate the slice it was trained on
    en = [r["quality_score"] for r in rows if r["lang"] == "en"]
    rest = [r["quality_score"] for r in rows if r["lang"] != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)

    gated = compile_pipeline(
        spark, base[:1] + [dict(base[1], min_score=0.5)], sf_dir
    )
    n_all, n_kept = scored.count(), gated.count()
    assert 0 < n_kept < n_all
    assert gated.agg(SF.min("quality_score")).collect()[0][0] >= 0.5


def test_spec_corpus_select_example_from_file(spark, sf_dir):
    import json

    from pyspark.sql import functions as SF

    spec = json.load(open("examples/corpus_select.json"))
    out = compile_pipeline(spark, spec["pipeline"], sf_dir)
    rows = out.collect()
    assert rows
    assert out.columns == [
        "doc_id", "lang", "source", "n_tokens", "quality_score", "dsir_logw"
    ]
    # every surviving row carries both gate scores
    assert all(r["quality_score"] is not None and r["dsir_logw"] is not None
               for r in rows)
    # the alpha mix keeps every language's token total within its budget
    # plus one crossing doc (ceil semantics)
    per_lang = out.groupBy("lang").agg(SF.sum("n_tokens").alias("tok")).collect()
    assert 0 < len(per_lang) <= 5


def test_spec_remove_spans_op(spark, sf_dir):
    from pyspark.sql import functions as SF

    from qcardia_data_spark.functions.dedup import remove_duplicate_spans

    ops = [
        {"op": "source", "table": "documents"},
        {"op": "remove_spans", "k": 4, "drop_empty": True},
        {"op": "select", "cols": ["doc_id", "lang", "text", "n_removed"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    direct = remove_duplicate_spans(docs, "doc_id", "text", k=4)
    joined = via_spec.join(
        direct.withColumnRenamed("clean_text", "want"), "doc_id"
    )
    assert joined.filter(SF.col("text") != SF.col("want")).count() == 0
    # non-text columns survive; empty docs dropped
    assert "lang" in via_spec.columns
    assert via_spec.filter(SF.length("text") == 0).count() == 0


def test_spec_diversity_sample_op(spark, sf_dir):
    from pyspark.sql import functions as SF

    from qcardia_data_spark.functions.similarity import diversity_sample

    ops = [
        {"op": "source", "table": "embeddings"},
        {"op": "diversity_sample", "n_per_bucket": 4, "n_planes": 6, "seed": 2},
        {"op": "select", "cols": ["vec_id", "bucket"]},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    direct = diversity_sample(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")),
        n_per_bucket=4, n_planes=6, seed=2,
    ).select("vec_id", "bucket")
    assert via_spec.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_spec).count() == 0
    caps = via_spec.groupBy("bucket").agg(SF.count(SF.lit(1)).alias("n")).collect()
    assert all(r["n"] <= 4 for r in caps)


def test_spec_quality_filter_blocklist(spark, sf_dir):
    docs = spark.createDataFrame(
        [
            (0, "clean words only in this document body here now ok"),
            (1, "spamword appears once among ten otherwise fine tokens here now"),
            (2, "spamword spamword spamword spamword heavy spam doc body here now"),
            (3, "classic glass passing tokens that contain but do not equal it ok"),
        ],
        ["doc_id", "text"],
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(td + "/documents.parquet")
        strict = compile_pipeline(spark, [
            {"op": "source", "table": "documents"},
            {"op": "quality_filter", "text_col": "text", "min_tokens": 5,
             "blocklist": ["spamword"]},
        ], td)
        assert {r["doc_id"] for r in strict.collect()} == {0, 3}  # token-exact
        lenient = compile_pipeline(spark, [
            {"op": "source", "table": "documents"},
            {"op": "quality_filter", "text_col": "text", "min_tokens": 5,
             "blocklist": ["spamword"], "max_block_ratio": 0.2},
        ], td)
        assert {r["doc_id"] for r in lenient.collect()} == {0, 1, 3}


def test_spec_inverted_index_write_op(spark, sf_dir, tmp_path):
    from qcardia_data_spark.functions.retrieval import (
        bm25_topk,
        bm25_topk_from_index,
    )

    path = str(tmp_path / "spec_idx")
    ops = [
        {"op": "source", "table": "documents"},
        {"op": "inverted_index_write", "path": path},
        {"op": "select", "cols": ["doc_id"]},
    ]
    out = compile_pipeline(spark, ops, sf_dir)
    assert out.count() > 0  # pipeline continues on the unchanged frame
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    want = {(r["doc_id"], round(r["score"], 9))
            for r in bm25_topk(docs, ["spark", "table"], k=5).collect()}
    got = {(r["doc_id"], round(r["score"], 9))
           for r in bm25_topk_from_index(spark, path, ["spark", "table"], k=5).collect()}
    assert got == want


def test_spec_quality_classifier_rejects_ambiguous_gates(spark, sf_dir):
    import pytest as _pt

    from qcardia_data_spark.plans.spec import SpecError

    ops = [
        {"op": "source", "table": "documents"},
        {"op": "quality_classifier", "positive": "lang = 'en'",
         "n_features": 64, "min_score": 0.5, "pareto_alpha": 9.0},
    ]
    with _pt.raises(SpecError, match="mutually"):
        compile_pipeline(spark, ops, sf_dir)


def test_spec_fuzzy_join_op(spark, sf_dir):
    from qcardia_data_spark.functions.dedup import fuzzy_string_join

    ops = [
        {"op": "source", "table": "part"},
        {"op": "select", "cols": ["p_name"]},
        {"op": "distinct"},
        {"op": "rename", "mapping": {"p_name": "a_name"}},
        {"op": "fuzzy_join",
         "right": {"pipeline": [
             {"op": "source", "table": "part"},
             {"op": "select", "cols": ["p_name"]},
             {"op": "distinct"},
             {"op": "rename", "mapping": {"p_name": "b_name"}},
         ]},
         "col_l": "a_name", "col_r": "b_name", "max_dist": 2},
        {"op": "filter", "expr": "a_name < b_name"},
    ]
    via_spec = compile_pipeline(spark, ops, sf_dir)
    import os as _os

    names = (spark.read.parquet(_os.path.join(sf_dir, "part.parquet"))
             .select("p_name").distinct())
    direct = fuzzy_string_join(
        names.withColumnRenamed("p_name", "a_name"),
        names.withColumnRenamed("p_name", "b_name"),
        "a_name", "b_name", max_dist=2,
    ).filter("a_name < b_name")
    assert sorted(map(tuple, via_spec.collect())) == sorted(map(tuple, direct.collect()))


def test_spec_lm_score_keep_buckets_gate(spark, sf_dir):
    import pytest as _pt

    from qcardia_data_spark.plans.spec import SpecError

    base = [
        {"op": "source", "table": "documents"},
        {"op": "filter", "expr": "source != 'src0'"},
        {"op": "lm_score",
         "ref": {"pipeline": [
             {"op": "source", "table": "documents"},
             {"op": "filter", "expr": "source = 'src0'"},
         ]},
         "id_col": "doc_id", "text_col": "text"},
    ]
    scored = compile_pipeline(spark, base, sf_dir)
    n_scored = scored.filter("lm_score IS NOT NULL").count()

    gated = compile_pipeline(
        spark, base[:2] + [dict(base[2], keep_buckets=["head", "middle"])], sf_dir
    )
    n_kept = gated.count()
    # terciles: keeping 2 of 3 buckets keeps ~2/3 of the scored docs
    assert abs(n_kept - 2 * n_scored / 3) <= n_scored * 0.05
    assert "lm_score" not in gated.columns  # gate drops the working column

    with _pt.raises(SpecError, match="mutually"):
        compile_pipeline(
            spark,
            base[:2] + [dict(base[2], keep_buckets=["head"], min_score=-5.0)],
            sf_dir,
        )
    with _pt.raises(SpecError, match="unknown buckets"):
        compile_pipeline(
            spark, base[:2] + [dict(base[2], keep_buckets=["torso"])], sf_dir
        )


def test_spec_gopher_rules_and_ngram_jaccard_ops(spark, sf_dir):
    """The two r7 spec ops: gopher_rules (gate + audit forms) and
    ngram_jaccard_dedup (keep-min-id + pairs_only forms) compile and match
    direct library calls."""
    from qcardia_data_spark.functions.dedup import ngram_jaccard_join
    from qcardia_data_spark.functions.text import gopher_rules, word_tokens

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    gate = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "gopher_rules", "drop_failing": True, "min_words": 20},
        ],
        sf_dir,
    )
    tok = docs.withColumn("_gtoks", F.explode(F.array(word_tokens(F.col("text")))))
    keep = gopher_rules(F.col("_gtoks"), F.col("text"), min_words=20)["keep"]
    want_ids = {r["doc_id"] for r in tok.filter(keep).select("doc_id").collect()}
    assert {r["doc_id"] for r in gate.select("doc_id").collect()} == want_ids
    assert gate.columns == docs.columns  # gate-only: no audit columns leak

    audited = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "gopher_rules", "out": "gq", "min_words": 20},
        ],
        sf_dir,
    )
    assert "gq" in audited.columns and "gq_n_words" in audited.columns
    keep_map = {r["doc_id"]: r["gq"] for r in audited.select("doc_id", "gq").collect()}
    assert {i for i, k in keep_map.items() if k} == want_ids

    deduped = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "ngram_jaccard_dedup", "threshold": 0.6},
        ],
        sf_dir,
    )
    pairs = ngram_jaccard_join(docs, "doc_id", "text", 0.6, 3)
    losers = {r["b"] for r in pairs.collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert {r["doc_id"] for r in deduped.select("doc_id").collect()} == all_ids - losers

    pairs_spec = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "ngram_jaccard_dedup", "threshold": 0.6, "pairs_only": True},
        ],
        sf_dir,
    )
    assert sorted(map(tuple, pairs_spec.collect())) == sorted(map(tuple, pairs.collect()))


def test_stream_spec_text_gates_match_batch(spark, sf_dir, tmp_path):
    """quality_filter + gopher_rules run INSIDE a stream spec (map-only
    gates on a crawl stream) and keep exactly the batch gate's documents."""
    from qcardia_data_spark.plans.spec import compile_stream_pipeline
    from qcardia_data_spark.streaming.events import run_to_memory

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "stream_src")
    docs.write.mode("overwrite").parquet(src)

    gates = [
        {"op": "quality_filter", "text_col": "text", "min_tokens": 5},
        {"op": "gopher_rules", "text_col": "text", "drop_failing": True,
         "min_words": 20, "min_stop_hits": 1},
    ]
    stream = compile_stream_pipeline(
        spark,
        [{"op": "stream_source", "path": src, "schema": docs.schema,
          "max_files_per_trigger": 100}] + gates
        + [{"op": "select", "cols": ["doc_id"]}],
    )
    got = {r["doc_id"] for r in run_to_memory(stream).collect()}
    want = {
        r["doc_id"]
        for r in compile_pipeline(
            spark, [{"op": "source", "table": "documents"}] + gates, sf_dir
        ).select("doc_id").collect()
    }
    assert got == want and got


def test_spec_containment_dedup_op(spark, sf_dir):
    """containment_dedup spec op: pairs_only returns the library pairs;
    gate form drops exactly the distinct contained ('a') docs."""
    from qcardia_data_spark.functions.dedup import containment_join

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "containment_dedup", "threshold": 0.8, "pairs_only": True},
        ],
        sf_dir,
    )
    want = {
        (r["a"], r["b"]): r["containment"]
        for r in containment_join(docs, "doc_id", "text", 0.8, 3).collect()
    }
    got = {(r["a"], r["b"]): r["containment"] for r in pairs.collect()}
    assert got == want and len(got) > 0

    gated = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "documents"},
            {"op": "containment_dedup", "threshold": 0.8},
        ],
        sf_dir,
    )
    contained = {a for (a, _b) in want}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert {r["doc_id"] for r in gated.select("doc_id").collect()} == all_ids - contained


def test_spec_winnow_dedup_op(spark, sf_dir, tmp_path):
    run = " ".join(f"r{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, run + " tail one"), (2, run + " tail two"),
         (3, "entirely different words here to stand alone quietly")],
        ["doc_id", "text"],
    )
    p = str(tmp_path / "winnow_in")
    docs.write.parquet(p)
    pairs = compile_pipeline(
        spark,
        [{"op": "source", "path": p},
         {"op": "winnow_dedup", "max_df": 10, "pairs_only": True}],
        sf_dir,
    ).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}
    kept = compile_pipeline(
        spark,
        [{"op": "source", "path": p},
         {"op": "winnow_dedup", "max_df": 10}],
        sf_dir,
    ).collect()
    assert {r["doc_id"] for r in kept} == {1, 3}  # larger id of the pair drops


def test_spec_bfs_hops_op(spark, sf_dir, tmp_path):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (7, 8)], ["src", "dst"]
    )
    p = str(tmp_path / "bfs_edges")
    edges.write.parquet(p)
    out = compile_pipeline(
        spark,
        [{"op": "source", "path": p},
         {"op": "bfs_hops", "sources_where": "node = 0", "max_hops": 2}],
        sf_dir,
    ).collect()
    assert {(r["node"], r["hops"]) for r in out} == {(0, 0), (1, 1), (2, 2)}


def test_spec_hll_registers_op(spark, sf_dir):
    from qcardia_data_spark.functions.sketches import hll_registers

    base = [
        {"op": "source", "table": "events"},
        {"op": "hll_registers", "keys": ["event_type"],
         "value_col": "user_id", "p": 4},
    ]
    regs = compile_pipeline(spark, base, sf_dir)
    direct = hll_registers(
        compile_pipeline(spark, [{"op": "source", "table": "events"}], sf_dir),
        ["event_type"], "user_id", p=4,
    )
    assert sorted(map(tuple, regs.collect())) == sorted(map(tuple, direct.collect()))
    rolled = compile_pipeline(
        spark,
        [
            {"op": "source", "table": "events"},
            {"op": "hll_registers", "keys": ["event_type"],
             "value_col": "user_id", "p": 4,
             "merge_to": {"event_type": "__all__"}},
        ],
        sf_dir,
    ).collect()
    assert all(r["event_type"] == "__all__" for r in rolled) and rolled


def test_spec_compact_op(spark, sf_dir, tmp_path):
    import glob as _glob

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    ev = compile_pipeline(spark, [{"op": "source", "table": "events"}], sf_dir)
    ev.repartition(24).write.parquet(src)  # 24 small files
    out = compile_pipeline(
        spark,
        [{"op": "source", "path": src},
         {"op": "compact", "src": src, "dst": dst, "target_mb": 256}],
        sf_dir,
    )
    assert out.count() == ev.count()
    n_files = len(_glob.glob(f"{dst}/*.parquet"))
    assert 1 <= n_files < 24


def test_example_sketch_telemetry_compiles(spark, sf_dir):
    import json as _json

    spec = _json.load(open("examples/sketch_telemetry.json"))
    out = compile_pipeline(spark, spec["pipeline"], sf_dir).collect()
    assert out and all(r["event_type"] == "__all__" for r in out)
    assert all(1 <= r["max_rho"] <= 25 for r in out)


def test_spec_expect_op_modes(spark, sf_dir):
    from qcardia_data_spark.plans.spec import SpecError

    base = [{"op": "source", "table": "lineitem"}]
    # fail mode: satisfied expectations pass the frame through untouched
    ok = compile_pipeline(
        spark,
        base + [{"op": "expect",
                 "checks": ["l_quantity >= 0", "l_discount <= 1.0"]}],
        sf_dir,
    )
    assert ok.count() > 0
    # a violated expectation refuses loudly, naming the check
    with pytest.raises(SpecError, match="l_quantity > 30"):
        compile_pipeline(
            spark,
            base + [{"op": "expect", "checks": ["l_quantity > 30"]}],
            sf_dir,
        )
    # ...unless the violation budget covers it
    n_all = ok.count()
    frac_over_30 = (
        compile_pipeline(spark, base, sf_dir)
        .filter("l_quantity > 30").count() / n_all
    )
    compile_pipeline(
        spark,
        base + [{"op": "expect", "checks": ["l_quantity > 30"],
                 "max_violation_frac": 1.0 - frac_over_30 + 0.01}],
        sf_dir,
    )
    # drop mode keeps exactly the passing rows; NULL results are violations
    dropped = compile_pipeline(
        spark,
        base + [{"op": "expect", "mode": "drop",
                 "checks": ["l_quantity > 30", "nullif(l_tax, l_tax) = 0"]}],
        sf_dir,
    )
    assert dropped.count() == 0  # nullif check is NULL everywhere -> all drop
    # audit mode appends one boolean per check
    audited = compile_pipeline(
        spark,
        base + [{"op": "expect", "mode": "audit",
                 "checks": ["l_quantity > 30"]}],
        sf_dir,
    )
    assert "_ok_0" in audited.columns
    assert audited.filter("_ok_0").count() < n_all


def test_spec_pivot_unpivot_quantiles_ops(spark, sf_dir):
    ev_types = ["click", "error", "purchase", "signup", "view"]
    wide = compile_pipeline(
        spark,
        [{"op": "source", "table": "events"},
         {"op": "pivot_counts", "key": "user_id",
          "pivot_col": "event_type", "values": ev_types}],
        sf_dir,
    )
    assert set(ev_types) < set(wide.columns)
    row = wide.collect()[0]
    assert all(row[t] >= 0 for t in ev_types)  # absent combos are 0
    long = compile_pipeline(
        spark,
        [{"op": "source", "table": "events"},
         {"op": "pivot_counts", "key": "user_id",
          "pivot_col": "event_type", "values": ev_types},
         {"op": "unpivot", "key": "user_id", "value_cols": ev_types,
          "var_name": "event_type", "value_name": "n"},
         {"op": "filter", "expr": "n > 0"}],
        sf_dir,
    )
    direct = compile_pipeline(
        spark,
        [{"op": "source", "table": "events"},
         {"op": "group_agg", "by": ["user_id", "event_type"],
          "aggs": {"n": "count(1)"}}],
        sf_dir,
    )
    assert sorted(map(tuple, long.select("user_id", "event_type", "n").collect())) == \
        sorted(map(tuple, direct.select("user_id", "event_type", "n").collect()))
    q = compile_pipeline(
        spark,
        [{"op": "source", "table": "events"},
         {"op": "discrete_quantiles", "key": "user_id",
          "value": "value", "pcts": [50]}],
        sf_dir,
    )
    rows = q.collect()
    assert rows and all(r["pct"] == 50 for r in rows)


def test_explode_filter_fusion_is_semantics_preserving(spark, sf_dir):
    """r10 spec review: fused keep_positions must be ROW-IDENTICAL to the
    unfused posexplode + isin — out-of-range positions match nothing (no
    phantom NULL rows), negatives/floats/'when' toggles skip the fusion."""
    df = spark.createDataFrame([(1, ["x"]), (2, ["a", "b", "c"])], ["k", "arr"])

    from qcardia_data_spark.operators.generators import explode_with_position

    # out-of-range position: unfused semantics = only in-range rows
    out = explode_with_position(
        df, "arr", keep_positions=[0, 5], keep_other=["k"]
    )
    got = {(r["k"], r["pos"], r["val"]) for r in out.collect()}
    assert got == {(1, 0, "x"), (2, 0, "a")}
    # negative position: matches nothing, never throws
    out = explode_with_position(
        df, "arr", keep_positions=[-1], keep_other=["k"]
    )
    assert out.collect() == []

    # the peephole skips fusion for 'when'-carrying ops and non-int values
    from qcardia_data_spark.plans.spec import _push_filters_below_explode

    ex = {"op": "explode", "col": "arr", "pos": "pos", "val": "val"}
    flt_when = {"op": "filter", "col": "pos", "in": [0], "when": False}
    assert _push_filters_below_explode([ex, flt_when]) == [ex, flt_when]
    flt_float = {"op": "filter", "col": "pos", "in": [1.5]}
    assert _push_filters_below_explode([ex, flt_float]) == [ex, flt_float]
    flt_neg = {"op": "filter", "col": "pos", "in": [-1]}
    assert _push_filters_below_explode([ex, flt_neg]) == [ex, flt_neg]
    flt_ok = {"op": "filter", "col": "pos", "in": [0, 2]}
    fused = _push_filters_below_explode([ex, flt_ok])
    assert fused[0]["keep_positions"] == [0, 2] and len(fused) == 1
    # r13 review: a filter carrying BOTH 'expr' and ('col','in') executes
    # its expr (the filter op's precedence rule) — fusing on col/in would
    # silently drop that predicate, so the peephole must skip it
    flt_expr = {"op": "filter", "expr": "val > 5", "col": "pos", "in": [0]}
    assert _push_filters_below_explode([ex, flt_expr]) == [ex, flt_expr]


def test_spec_second_source_refused(spark, sf_dir):
    with pytest.raises(SpecError, match="second 'source'"):
        compile_pipeline(spark, [
            {"op": "source", "table": "region"},
            {"op": "limit", "n": 1},
            {"op": "source", "table": "nation"},
        ], sf_dir)


def test_spec_expect_unknown_mode_refused(spark, sf_dir):
    with pytest.raises(SpecError, match="unknown mode"):
        compile_pipeline(spark, [
            {"op": "source", "table": "region"},
            {"op": "expect", "checks": ["r_regionkey >= 0"], "mode": "Audit"},
        ], sf_dir)


def test_spec_cache_identity_includes_sf_dir(spark, sf_dir, tmp_path):
    """r10 spec review: the same spec compiled against two data dirs must
    not collide on one cache path (the old fingerprint hashed only the op
    list and silently served the first dir's rows to the second)."""
    import os

    root = str(tmp_path / "cache_root")
    ops = [
        {"op": "source", "table": "region"},
        {"op": "cache", "cache_root": root},
    ]
    a = compile_pipeline(spark, ops, sf_dir).count()
    sub = str(tmp_path / "other_sf")
    os.makedirs(sub)
    spark.read.parquet(f"{sf_dir}/region.parquet").limit(2).write.parquet(
        f"{sub}/region.parquet"
    )
    b = compile_pipeline(spark, ops, sub).count()
    assert a == 5 and b == 2


def test_spec_stream_pii_scrub_matches_batch(spark, sf_dir, tmp_path):
    """pii_scrub is map-only, so the SAME spec op runs in the streaming
    subset: scrubbed stream output equals the batch twin (r11)."""
    import pyspark.sql.functions as F

    from qcardia_data_spark.catalog import load_table
    from qcardia_data_spark.plans.spec import (
        compile_pipeline,
        compile_stream_pipeline,
    )
    from qcardia_data_spark.streaming.events import run_to_memory

    src = tmp_path / "pii_docs"
    (
        load_table(spark, sf_dir, "documents").limit(50)
        .select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(" reach me at a@b.io / 10.0.0.1")
            ).alias("text"),
        )
        .coalesce(1).write.parquet(str(src))
    )
    schema = spark.read.parquet(str(src)).schema
    stream = compile_stream_pipeline(spark, [
        {"op": "stream_source", "path": str(src) + "/*.parquet",
         "schema": schema},
        {"op": "pii_scrub", "audit": True},
        {"op": "select", "cols": ["doc_id", "text", "pii_email"]},
    ])
    got = sorted(map(tuple, run_to_memory(stream).collect()))
    batch = compile_pipeline(spark, [
        {"op": "source", "path": str(src)},
        {"op": "pii_scrub", "audit": True},
        {"op": "select", "cols": ["doc_id", "text", "pii_email"]},
    ], None)
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(want) == 50
    assert all("a@b.io" not in t for _, t, _ in got)
    assert all(n >= 1 for _, _, n in got)


def test_spec_sort_refuses_sql_desc_suffix(spark, sf_dir):
    """'col DESC' parses as the column aliased 'DESC' (silently
    ascending) — the dialect refuses it and points at '-col' (r11)."""
    from qcardia_data_spark.plans.spec import SpecError, compile_pipeline

    with pytest.raises(SpecError, match="-col"):
        compile_pipeline(spark, [
            {"op": "source", "table": "events"},
            {"op": "sort", "by": ["value DESC"]},
        ], sf_dir)


def test_spec_pii_scrub_plan_is_exchange_free(spark, sf_dir):
    """pii_scrub is the map-only PII pass: the compiled plan must carry
    ZERO exchanges past the scan (the 100 TB claim, plan-asserted)."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    out = compile_pipeline(spark, [
        {"op": "source", "table": "documents"},
        {"op": "pii_scrub", "audit": True},
    ], sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_spec_phrase_search_joinback_is_broadcast(spark, sf_dir):
    """phrase_search joins the per-doc hit counts back onto the frame via
    an explicit broadcast — the k-row side must plan as BroadcastHashJoin,
    never a corpus-wide SortMergeJoin."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    out = compile_pipeline(spark, [
        {"op": "source", "table": "documents"},
        {"op": "phrase_search", "phrase": ["the"]},
    ], sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_normalize_spec_post_normalization_empties_agree():
    """r11: a dict that only becomes empty AFTER normalization must
    fingerprint identically to an already-empty (dropped) one."""
    from qcardia_data_spark.plans.fingerprint import spec_fingerprint

    base = {"pipeline": [{"op": "source", "table": "events"}]}
    a = dict(base, opts={"x": None})
    b = dict(base, opts={})
    c = dict(base)
    assert spec_fingerprint(a) == spec_fingerprint(b) == spec_fingerprint(c)
    # nested: a list value emptied by child normalization stays positional
    d = dict(base, opts={"x": None, "y": 1})
    assert spec_fingerprint(d) != spec_fingerprint(c)


def test_spec_window_ordered_aggregate_is_whole_partition(spark, sf_dir):
    """r11: with order_by and running:false, a plain aggregate must be the
    WHOLE-partition value on every row (the implicit RANGE-cumulative
    frame silently made it a running aggregate), while row_number in the
    same op stays ordered."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    out = compile_pipeline(spark, [
        {"op": "source", "table": "events"},
        {"op": "limit", "n": 500},
        {"op": "window", "partition_by": ["user_id"],
         "order_by": ["ts", "event_id"],
         "cols": {"n_total": "count(*)", "rn": "row_number()"}},
    ], sf_dir)
    rows = out.select("user_id", "n_total", "rn").collect()
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append((r["rn"], r["n_total"]))
    assert per_user
    for vals in per_user.values():
        n = len(vals)
        # every row carries the full partition count, not its running rank
        assert all(t == n for _, t in vals), vals
        assert sorted(rn for rn, _ in vals) == list(range(1, n + 1))


def test_spec_quality_ops_survive_reserved_working_columns(spark, sf_dir):
    """r11: frames that already carry columns named like the handlers'
    working columns (_gtoks/_qstoks/_gllines/_c4lines) must pass through
    un-clobbered (fresh_name everywhere)."""
    from qcardia_data_spark.plans.spec import compile_pipeline

    pre = [
        {"op": "source", "table": "documents"},
        {"op": "limit", "n": 20},
        {"op": "with_columns", "cols": {
            "_gtoks": "'keep1'", "_qstoks": "'keep2'",
            "_gllines": "'keep3'", "_c4lines": "'keep4'",
        }},
    ]
    for tail in (
        {"op": "gopher_rules", "drop_failing": False},
        {"op": "quality_signals"},
        {"op": "gopher_line_rules", "drop_failing": False},
        {"op": "c4_clean", "drop_failing": False},
    ):
        out = compile_pipeline(spark, pre + [tail], sf_dir)
        row = out.select("_gtoks", "_qstoks", "_gllines", "_c4lines").first()
        assert tuple(row) == ("keep1", "keep2", "keep3", "keep4"), tail["op"]


def test_spec_bm25_and_phrase_refuse_output_column_collision(spark, sf_dir):
    from qcardia_data_spark.plans.spec import SpecError, compile_pipeline

    with pytest.raises(SpecError, match="'score'"):
        compile_pipeline(spark, [
            {"op": "source", "table": "documents"},
            {"op": "with_columns", "cols": {"score": "1"}},
            {"op": "bm25_topk", "terms": ["data"]},
        ], sf_dir)
    with pytest.raises(SpecError, match="'n_hits'"):
        compile_pipeline(spark, [
            {"op": "source", "table": "documents"},
            {"op": "with_columns", "cols": {"n_hits": "1"}},
            {"op": "phrase_search", "phrase": ["data"]},
        ], sf_dir)


def test_serving_shuffle_order_is_content_determined_for_complex_payloads(
    spark, tmp_path
):
    """ADVICE r11: rows identical in every scalar column can still differ
    in a complex payload (array/map/binary); their batch placement must be
    a function of (seed, epoch, row content), not partition-internal
    arrival order. The shuffle key now folds an xxhash64 digest of each
    complex column in, so writing the SAME rows in two different file
    orders must serve the SAME batch sequence."""
    rows = [
        # subject and scalar identical on every row — only the array and
        # map payloads distinguish them
        ("s1", 1, [float(i), float(i * i)], {"k": i})
        for i in range(12)
    ]
    cols = ["subj", "flag", "emb", "meta"]

    def serve(order, tag):
        path = str(tmp_path / f"payload_{tag}")
        df = spark.createDataFrame(order, cols).coalesce(1)
        df.write.parquet(path)
        config = {
            "cache_root": str(tmp_path / f"cache_{tag}"),
            "pipeline": [{"op": "source", "path": path}],
            "subject_col": "subj",
            "split": {"assignments": {"s1": "valid"}},
        }
        dm = DataModule(spark, config).setup()
        return [
            [r["k"] for r in b["meta"]]
            for b in dm.iter_pandas_batches(
                "valid", batch_size=4, shuffle_seed=7
            )
        ]

    fwd = serve(rows, "fwd")
    rev = serve(list(reversed(rows)), "rev")
    assert sum(map(len, fwd)) == 12 and len(fwd) == 3
    assert fwd == rev, "batch placement depended on arrival order"


def test_discrete_quantiles_working_name_collisions(spark):
    """r13 review (the carry-clash rule): a value column literally named
    _rn/_n was silently overwritten by the rank/count working columns;
    and a key/value named 'pct' would make the (key, pct, value) output
    ambiguous — fresh names for the former, loud refusal for the latter."""
    import pytest

    from qcardia_data_spark.operators.aggregates import discrete_quantiles

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 11)], ["k", "_n"]
    )
    got = {(r["pct"], r["_n"])
           for r in discrete_quantiles(df, "k", "_n", (50,)).collect()}
    assert got == {(50, 5.0)}
    with pytest.raises(ValueError, match="pct"):
        discrete_quantiles(df.withColumnRenamed("_n", "pct"), "k", "pct")
