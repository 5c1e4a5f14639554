"""The benchmark's workloads: set-up, timed loop and output checks.

Both workloads are a single closed-loop client with zero think time: the
next op is issued only when the previous one has returned, because a
caller of this library waits for each result. Each workload returns a
``Result`` holding its samples; ``run.py`` turns that into metrics.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from harness import Bench, OpFailed
from spans import Tracer, listing

QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "j2_broadcast_star_join", "a4_quantile_summary", "a8_histogram_cdf",
    "w1_count_over_partition", "w4_cumulative_sum", "g1_posexplode",
    "x1_subject_level_split", "ev_sessionize", "ev_tumbling_window",
]

# Sizes per mode. "full" is what the benchmark measures; "tiny" is the
# self-test's seconds-long version of the same code paths.
SIZES = {
    "full": {
        "cine": {"subjects": 5, "h": 256, "w": 256, "frames": 25, "batch": 10,
                 "epochs": 1, "warm_subjects": 2, "warm_hw": 32},
        "session": {"sf": 0.001, "probes": 2, "appends": 2, "batch_docs": 20},
    },
    "tiny": {
        "cine": {"subjects": 2, "h": 32, "w": 32, "frames": 5, "batch": 4,
                 "epochs": 1, "warm_subjects": 2, "warm_hw": 16},
        "session": {"sf": 0.001, "probes": 2, "appends": 1, "batch_docs": 10},
    },
}

# engine parameters: fixed here, never derived from the benchmark seed
SPLIT_SEED, SHUFFLE_SEED, VALID_FRACTION = 7, 11, 0.25


@dataclass
class Result:
    bench: Bench
    setup_s: float
    session_start_ms: float
    iterations: int = 0
    traced_iterations: int = 0
    cpu_ns: int = 0
    read_kinds: tuple = ()
    write_kinds: tuple = ()
    extra: dict = field(default_factory=dict)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise OpFailed(msg)


def wrap_layers(tracer: Tracer) -> None:
    """Spans around the calls into each engine module (traced runs only)."""
    from pyspark.sql.readwriter import DataFrameWriter

    import qcardia_data_spark.catalog as catalog
    import qcardia_data_spark.functions.dedup as dedup
    import qcardia_data_spark.plans.data_module as data_module
    import qcardia_data_spark.plans.spec as spec
    import qcardia_data_spark.queries as queries
    import qcardia_data_spark.reformat as reformat
    import qcardia_data_spark.sources.readers as readers

    for mod in (catalog, queries, spec):
        tracer.wrap(mod, "load_table", "catalog.load_table", "catalog.load_table_calls")
    tracer.wrap(readers, "read_meta_json", "index.read_meta", "index.read_meta_calls")
    tracer.wrap(dedup, "_write_sig_meta", "index.write")
    tracer.wrap(data_module, "compile_pipeline", "spec.compile")
    tracer.wrap(data_module, "materialize", "cache.materialize")
    tracer.wrap(data_module, "route_splits", "cache.route")
    tracer.wrap(data_module, "seeded_split", "data_module.split")
    tracer.wrap(reformat, "reformat_volumes", "reformat.build")
    tracer.wrap(DataFrameWriter, "parquet", "writer.parquet")


# --------------------------------------------------------------------------
# cine_cache_serve
# --------------------------------------------------------------------------


def _cine_pass(b: Bench, spark, raw: str, root: str, sz: dict, traced: bool,
               prefix: str = "", serve_epochs: list[int] | None = None) -> dict:
    """reformat → cache → DataModule.setup → serve epochs; returns checks'
    facts (digests, orders)."""
    import qcardia_data_spark.plans.data_module as data_module
    import qcardia_data_spark.reformat as reformat
    from qcardia_data_spark.plans.cache import materialize

    n_sub, frames = sz["subjects"] if not prefix else sz["warm_subjects"], sz["frames"]
    cache_root, dm_root = _fresh(os.path.join(root, "cache")), _fresh(os.path.join(root, "dm"))
    facts: dict = {"orders": []}

    def reformat_cache():
        records, _ = reformat.reformat_volumes(
            spark, raw, glob="*.nii.gz", dataset="bench", n_frames=frames, codec="nii")
        return records

    path = b.op(prefix + "reformat_cache", reformat_cache,
                action=lambda recs: materialize(spark, lambda: recs, cache_root,
                                                {"workload": "cine", "n": n_sub})[0],
                traced=traced)
    if path is None:
        return facts
    n_rec, h_rec = b.check_digest(spark.read.parquet(path))
    if n_rec != n_sub * frames:
        b.fail(prefix + "reformat_cache", f"records {n_rec} != subjects x frames {n_sub * frames}")
    facts["records"] = f"{n_rec}:{h_rec}"

    dm = data_module.DataModule(spark, {
        "cache_root": dm_root,
        "pipeline": [{"op": "source", "path": path}],
        "subject_col": "subject",
        "split": {"valid_fraction": VALID_FRACTION, "seed": SPLIT_SEED},
        "weight_cols": ["is_ed"],
    })
    if b.op(prefix + "dm_setup", dm.setup, action=None, traced=traced) is None:
        return facts
    train_ids = {r[0] for r in dm.frame("train").select("file_id").collect()}
    n_batches = math.ceil(len(train_ids) / sz["batch"])
    for epoch in serve_epochs if serve_epochs is not None else range(sz["epochs"]):
        it = dm.iter_pandas_batches("train", batch_size=sz["batch"],
                                    shuffle_seed=SHUFFLE_SEED, epoch=epoch)
        order: list = []
        for i in range(n_batches):
            kind = prefix + ("first_batch" if i == 0 else "serve_batch")
            batch = b.op(kind, lambda: next(it), action=None, traced=traced,
                         check=lambda pdf: _check(len(pdf) > 0, "empty batch"))
            if batch is None:
                break
            order += batch["file_id"].tolist()
        rest = sum(len(x) for x in it)
        if rest or len(order) != len(train_ids) or set(order) != train_ids:
            b.fail(prefix + "serve_batch",
                   f"epoch {epoch}: {len(order)}+{rest} served, {len(set(order))} distinct, "
                   f"{len(train_ids)} train records")
        facts["served"] = facts.get("served", 0) + len(order)
        facts["orders"].append((epoch, hashlib.sha1("\n".join(order).encode()).hexdigest()[:16]))
    return facts


def cine_cache_serve(spark_factory, inputs: str, work: str, seed: int, seconds: float,
                     tracer: Tracer, mode: str) -> Result:
    sz = SIZES[mode]["cine"]
    raw = gen.cine(inputs, seed, sz["subjects"], sz["h"], sz["w"], sz["frames"])
    warm_raw = gen.cine(inputs, seed, sz["warm_subjects"], sz["warm_hw"], sz["warm_hw"], sz["frames"])

    t0 = time.perf_counter()
    spark = spark_factory()
    start_ms = (time.perf_counter() - t0) * 1000.0
    b = Bench(spark, tracer)
    # checked warm-up of every op kind, on a small cine set; serving the
    # same epoch twice checks that (seed, epoch) fixes the order
    warm = _cine_pass(b, spark, warm_raw, os.path.join(work, "warm"), sz, False,
                      prefix="warmup.", serve_epochs=[0, 0])
    if len(warm["orders"]) != 2 or len({d for _, d in warm["orders"]}) != 1:
        b.fail("warmup.serve_batch", f"same (seed, epoch) served different orders: {warm['orders']}")
    setup_s = time.perf_counter() - t0
    res = Result(b, setup_s, start_ms, read_kinds=("first_batch", "serve_batch"),
                 write_kinds=("reformat_cache", "dm_setup"))

    cpu0 = b.stats.executor_cpu_ns()
    t_run = time.perf_counter()
    i = 0
    while True:
        traced = tracer.enabled and i % 2 == 1
        facts = _cine_pass(b, spark, raw, os.path.join(work, f"it{i}"), sz, traced)
        if i == 0:
            b.digests.update({"records": facts.get("records"),
                              **{f"serve_epoch{e}": d for e, d in facts["orders"]}})
        res.iterations += not traced
        res.traced_iterations += traced
        if not traced:
            res.extra["served_records"] = res.extra.get("served_records", 0) + facts.get("served", 0)
        i += 1
        if time.perf_counter() - t_run >= seconds and (not tracer.enabled or i >= 2):
            break
    res.cpu_ns = b.stats.executor_cpu_ns() - cpu0
    res.extra["subjects_per_iteration"] = sz["subjects"]
    return res


# --------------------------------------------------------------------------
# interactive_session
# --------------------------------------------------------------------------


def _oracle():
    """tests/oracle.py, loaded by path (the checkout root is not a package)."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(here, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_issues(oracle, table, sql: str, sf_dir: str, name: str) -> list[str]:
    """``tests/oracle.py::compare`` of the Spark result ``table`` (Arrow)
    as a multiset comparison: the same canonical rows (columns by name,
    doubles to 9 significant digits), counted instead of sorted, which
    keeps the 60k-row window queries' check to about a second."""
    o_cols, o_rows = oracle.run_oracle(sql, sf_dir, name)
    s_cols, o_cols = [c.lower() for c in table.column_names], [c.lower() for c in o_cols]
    if sorted(s_cols) != sorted(o_cols):
        return [f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"]

    def canon(cols, rows) -> Counter:
        order = sorted(range(len(cols)), key=cols.__getitem__)
        return Counter(tuple(oracle._canon_value(r[i]) for i in order) for r in rows)

    got = canon(s_cols, list(zip(*(c.to_pylist() for c in table.columns))))
    want = canon(o_cols, o_rows)
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [f"{sum(extra.values())} rows not in the oracle (e.g. {next(iter(extra), None)}), "
            f"{sum(missing.values())} oracle rows missing (e.g. {next(iter(missing), None)})"]


def _batch_docs(seed: int, first_id: int, n: int, corpus: pd.DataFrame) -> pd.DataFrame:
    """``n`` new docs with ids from ``first_id``: a quarter are
    near-duplicates of standing corpus docs, the rest fresh."""
    rng = np.random.default_rng([seed, 4, first_id])
    docs = gen.documents_frame(rng, np.arange(first_id, first_id + n))
    texts = docs["text"].tolist()
    for j, src in enumerate(rng.integers(0, len(corpus), n // 4)):
        texts[j] = gen.near_duplicate(rng, corpus["text"].iloc[int(src)])
    docs["text"] = texts
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs


def interactive_session(spark_factory, inputs: str, work: str, seed: int, seconds: float,
                        tracer: Tracer, mode: str) -> Result:
    import qcardia_data_spark.functions.dedup as D
    import qcardia_data_spark.functions.retrieval as R
    from qcardia_data_spark.catalog import load_table
    from qcardia_data_spark.queries import QUERIES as REGISTRY

    sz = SIZES[mode]["session"]
    sf_dir = gen.tables(inputs, seed, sz["sf"])
    corpus = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
    rnd = np.random.default_rng([seed, 5])
    bm25_terms = [sorted(rnd.choice(gen.VOCAB, 3, replace=False).tolist()) for _ in range(2)]
    id_base = int(corpus["doc_id"].max()) + 1
    script = gen.op_script(seed, QUERIES, sz["probes"], sz["appends"], n_cycles=64)
    oracle = _oracle()
    pristine, live = os.path.join(work, "pristine"), os.path.join(work, "live")

    t0 = time.perf_counter()
    spark = spark_factory()
    start_ms = (time.perf_counter() - t0) * 1000.0
    b = Bench(spark, tracer)
    excluded = 0.0  # oracle comparisons are checks, not set-up work

    expect: dict = {}
    for q in QUERIES:
        fn, sql = REGISTRY[q]
        # the warm-up fetches the rows for the oracle and their digest in
        # one execution; traced runs also split these cold queries
        fetched = b.op("warmup.query", lambda: fn(spark, sf_dir), action="fetch", name=q,
                       traced=tracer.enabled)
        if fetched is None:
            continue
        expect[("query", q, 0)], table = fetched
        t_ex = time.perf_counter()
        try:
            issues = _oracle_issues(oracle, table, sql, sf_dir, q)
        except Exception as e:  # noqa: BLE001 — an oracle that cannot run is a failed check
            issues = [f"{type(e).__name__}: {e}"]
        if issues:
            b.fail(f"warmup.query {q}", "; ".join(issues)[:300])
        excluded += time.perf_counter() - t_ex

    docs = load_table(spark, sf_dir, "documents")
    b.op("warmup.index_build", lambda: D.write_signature_index(
        docs, "doc_id", "text", os.path.join(pristine, "sig"), n_sig_buckets="auto",
        n_id_buckets="auto"), action=None, name="signature")
    b.op("warmup.index_build", lambda: R.build_inverted_index(
        docs, os.path.join(pristine, "inv")), action=None, name="inverted")

    def probe(arg: int, root: str):
        return R.bm25_topk_from_index(spark, os.path.join(root, "inv"), bm25_terms[arg], k=10)

    for arg in (0, 1):
        expect[("probe", "bm25", arg)] = b.op(
            "warmup.probe", lambda: probe(arg, pristine), name="bm25",
            check=lambda r: _check(1 <= r[0] <= 10, f"bm25 returned {r[0]} rows"))

    def append(root: str, k: int, prefix: str = "", traced: bool = False):
        ids = _batch_docs(seed, id_base * 20 + k * sz["batch_docs"], sz["batch_docs"], corpus)
        batch = spark.createDataFrame(ids)
        batch_ids = set(ids["doc_id"].tolist())
        sig = os.path.join(root, "sig")
        before = listing(sig) if traced else None
        kept = b.op(prefix + "append", lambda: D.near_dedup_incremental(
            batch, sig, "doc_id", "text", threshold=0.6, update_index=True),
            action=lambda df: sorted(r[0] for r in df.select("doc_id").collect()),
            check=lambda got: _check(set(got) <= batch_ids and len(got) < len(batch_ids),
                                     f"{len(got)} survivors of {len(batch_ids)}, "
                                     f"{len(set(got) - batch_ids)} not in the batch"),
            traced=traced)
        if before is not None and kept is not None:
            files, dirs = listing(sig)
            rec = b.layers["append"][-1]
            rec["index.files_added"] = len(files - before[0])
            rec["index.dirs_touched"] = len({os.path.dirname(f) for f in files - before[0]}
                                            | (dirs - before[1]))
        return kept

    shutil.copytree(pristine, os.path.join(work, "warm"))
    append(os.path.join(work, "warm"), 0, prefix="warmup.")
    setup_s = time.perf_counter() - t0 - excluded
    res = Result(b, setup_s, start_ms, read_kinds=("query", "probe"), write_kinds=("append",))

    shutil.copytree(pristine, live)  # appends never leak across runs
    cpu0 = b.stats.executor_cpu_ns()
    t_run = time.perf_counter()
    per_cycle = len(QUERIES) + sz["probes"] + sz["appends"]
    cycle = 0
    for n, (kind, name, arg) in enumerate(script):
        traced = tracer.enabled and cycle % 2 == 1
        if kind == "query":
            fn = REGISTRY[name][0]
            want = expect.get(("query", name, 0))
            b.op("query", lambda: fn(spark, sf_dir), name=name, traced=traced,
                 check=lambda r: _check(r == want, f"digest {r} != warm-up {want}"))
        elif kind == "probe":
            want = expect.get(("probe", name, arg))
            b.op("probe", lambda: probe(arg, live),
                 name=name, traced=traced,
                 check=lambda r: _check(r == want, f"digest {r} != warm-up {want}"))
        else:
            kept = append(live, arg + 1, traced=traced)
            if arg == 0:
                b.digests["append0"] = hashlib.sha1(repr(kept).encode()).hexdigest()[:16]
        if (n + 1) % per_cycle == 0:
            res.iterations += not traced
            res.traced_iterations += traced
            cycle += 1
            if time.perf_counter() - t_run >= seconds and (not tracer.enabled or cycle >= 2):
                break
    res.cpu_ns = b.stats.executor_cpu_ns() - cpu0
    for (kind, name, arg), got in expect.items():
        b.digests[f"{kind}:{name}:{arg}"] = None if got is None else f"{got[0]}:{got[1]}"
    return res


WORKLOADS = {
    "cine_cache_serve": cine_cache_serve,
    "interactive_session": interactive_session,
}
