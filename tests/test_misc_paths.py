"""Coverage for less-trodden paths: spec file loading, CSV spec sources,
custom predictor models, append-mode record writes."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.plans.spec import compile_pipeline
from qcardia_data_spark.predictor import DataPredictor
from qcardia_data_spark.sources.readers import csv_metadata_scan, spec_scan
from qcardia_data_spark.sources.writers import write_records


def test_spec_scan_json_and_yaml(tmp_path):
    p = tmp_path / "spec.json"
    p.write_text(json.dumps({"pipeline": [{"op": "source", "table": "nation"}]}))
    assert spec_scan(str(p))["pipeline"][0]["table"] == "nation"
    y = tmp_path / "spec.yaml"
    y.write_text("pipeline:\n  - op: source\n    table: region\n")
    try:
        import yaml  # noqa: F401

        assert spec_scan(str(y))["pipeline"][0]["table"] == "region"
    except ImportError:
        pass  # yaml absent → json-only environments still work


def test_csv_metadata_scan_keeps_string_ids(spark, tmp_path):
    p = tmp_path / "subjects.csv"
    p.write_text("SubjectID,Pathology,ED\n001,NOR,3\n042,HCM,5\n")
    df = csv_metadata_scan(spark, str(p))
    rows = {r["SubjectID"]: (r["Pathology"], r["ED"]) for r in df.collect()}
    # leading zeros preserved (reference forces SubjectID to str)
    assert rows == {"001": ("NOR", 3), "042": ("HCM", 5)}
    assert dict(df.dtypes)["SubjectID"] == "string"


def test_spec_csv_source(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("k,v\na,1\nb,2\n")
    ops = [
        {"op": "source", "path": str(p), "format": "csv", "header": True},
        {"op": "with_columns", "cols": {"v2": "CAST(v AS INT) * 10"}},
    ]
    out = compile_pipeline(spark, ops)
    assert {(r["k"], r["v2"]) for r in out.collect()} == {("a", 10), ("b", 20)}


def test_predictor_custom_model(spark):
    rows = [(f"s{i % 2}", i, [float(i)] * 4) for i in range(8)]
    records = spark.createDataFrame(rows, ["subject", "record_id", "pixels"])

    def double_mean_model(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        arr = pdf["pixels"].map(lambda p: np.asarray(p))
        pdf = pdf.drop(columns=["pixels"])
        pdf["pred_mean"] = arr.map(lambda a: float(a.mean() * 2))
        pdf["pred_max"] = arr.map(lambda a: float(a.max() * 2))
        return pdf

    final = DataPredictor(records, "subject", model_fn=double_mean_model).run().collect()[0]
    # records 0..7, doubled means → overall mean = 2 * mean(0..7) = 7.0
    assert final["mean_pred"] == pytest.approx(7.0)
    assert final["max_pred"] == 14.0


def test_write_records_append_mode(spark, tmp_path):
    out = str(tmp_path / "recs")
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    write_records(df, out, order_by=["id"])
    write_records(spark.createDataFrame([(2, "y")], ["id", "v"]), out, order_by=["id"], mode="append")
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_jsonl_document_scan_roundtrip_and_corrupt_audit(spark, tmp_path):
    from qcardia_data_spark.sources.readers import jsonl_document_scan

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s0"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "s1"}\n'
        "this line is not json\n"
    )
    df = jsonl_document_scan(spark, str(p))
    from pyspark.sql import functions as F

    good = df.filter(F.col("_corrupt").isNull())
    assert {(r["doc_id"], r["lang"]) for r in good.collect()} == {(1, "en"), (2, "fr")}
    # malformed lines are auditable, not silently dropped; Spark requires
    # materializing before a corrupt-column-only query (docstring NB)
    parsed = df.localCheckpoint(eager=True)
    assert parsed.filter(F.col("_corrupt").isNotNull()).count() == 1


# ---------------------------------------------------------------------------
# HLL register sketch
# ---------------------------------------------------------------------------


def test_hll_registers_merge_equals_direct(spark):
    """Mergeability: max-merging per-group registers == building the
    sketch over the whole table in one pass."""
    from qcardia_data_spark.functions.sketches import hll_merge, hll_registers

    rows = [(f"g{i % 3}", f"v{i % 500}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    per = hll_registers(df, ["grp"], "val", p=4)
    merged = {
        (r["register"], r["max_rho"])
        for r in hll_merge(per, {"grp": "__all__"}).collect()
    }
    direct = {
        (r["register"], r["max_rho"])
        for r in hll_registers(
            df.withColumn("grp", __import__("pyspark").sql.functions.lit("__all__")),
            ["grp"], "val", p=4,
        ).collect()
    }
    assert merged == direct


def test_hll_estimate_within_error(spark):
    """p=8 (256 registers, ~6.5% rsd): estimate lands within 4 sigma of
    the true distinct count on each of three cardinalities."""
    from qcardia_data_spark.functions.sketches import hll_estimate, hll_registers

    for true_n in (50, 1000, 20000):
        df = spark.createDataFrame(
            [(("x"), f"k{i}") for i in range(true_n)], ["grp", "val"]
        )
        regs = hll_registers(df, ["grp"], "val", p=8)
        est = hll_estimate(regs, ["grp"], p=8).collect()[0]["estimate"]
        assert abs(est - true_n) <= 4 * 0.065 * true_n + 3, (true_n, est)


def test_hll_registers_p_validation(spark):
    import pytest as _pytest

    from qcardia_data_spark.functions.sketches import hll_registers

    df = spark.createDataFrame([("a", "b")], ["g", "v"])
    with _pytest.raises(ValueError, match="multiple of 4"):
        hll_registers(df, ["g"], "v", p=5)


def test_cms_merge_equals_direct_and_lookup_bounds(spark):
    """CMS: sum-merge of per-group sketches == one-pass sketch; point
    estimates never underestimate and are exact when width >> distincts."""
    from pyspark.sql import functions as F

    from qcardia_data_spark.functions.sketches import (
        cms_lookup,
        cms_merge,
        cms_table,
    )

    rows = [(f"g{i % 2}", f"v{i % 7}") for i in range(700)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    per = cms_table(df, ["grp"], "val", depth=3, width=64)
    merged = sorted(
        map(tuple, cms_merge(per, {"grp": "__all__"}).collect())
    )
    direct = sorted(
        map(tuple, cms_table(
            df.withColumn("grp", F.lit("__all__")), ["grp"], "val",
            depth=3, width=64,
        ).collect())
    )
    assert merged == direct

    true_counts = {("g0", f"v{v}"): 0 for v in range(7)}
    true_counts.update({("g1", f"v{v}"): 0 for v in range(7)})
    for g, v in rows:
        true_counts[(g, v)] += 1
    probes = spark.createDataFrame(
        [(g, v) for (g, v) in true_counts], ["grp", "val"]
    )
    est = {
        (r["grp"], r["val"]): r["est_n"]
        for r in cms_lookup(per, probes, ["grp"], "val", width=64).collect()
    }
    for kv, n in true_counts.items():
        assert est[kv] >= n  # never underestimates
    # 7 distinct values, width 64: collisions are unlikely but legal;
    # depth-3 min must be exact here for at least most values
    assert sum(est[kv] == n for kv, n in true_counts.items()) >= 12


def test_cms_lookup_unseen_value_small(spark):
    from qcardia_data_spark.functions.sketches import cms_lookup, cms_table

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(50)], ["grp", "val"]
    )
    sk = cms_table(df, ["grp"], "val", depth=3, width=256)
    probes = spark.createDataFrame([("g", "never-seen")], ["grp", "val"])
    est = cms_lookup(sk, probes, ["grp"], "val", width=256).collect()[0]
    assert 0 <= est["est_n"] <= 2  # collision overestimate bounded


def test_cms_validation(spark):
    import pytest as _pytest

    from qcardia_data_spark.functions.sketches import cms_table

    df = spark.createDataFrame([("a", "b")], ["g", "v"])
    with _pytest.raises(ValueError, match=">= 1"):
        cms_table(df, ["g"], "v", depth=0)


def test_cms_lookup_null_group_key_reachable(spark):
    """r9 null-safety sweep: cms_table's groupBy keeps a NULL group key as
    a legitimate sketch group, so the probe join must reach it — the old
    null-unsafe column-list join read every NULL-key probe as est 0."""
    from qcardia_data_spark.functions.sketches import cms_lookup, cms_table

    df = spark.createDataFrame(
        [(None, "x")] * 5 + [("g", "x")] * 2, ["grp", "val"]
    )
    sk = cms_table(df, ["grp"], "val", depth=3, width=16)
    probes = spark.createDataFrame([(None, "x"), ("g", "x")], ["grp", "val"])
    got = {r["grp"]: r["est_n"] for r in
           cms_lookup(sk, probes, ["grp"], "val", width=16).collect()}
    assert got["g"] >= 2          # CMS never underestimates
    assert got[None] >= 5         # the NULL group is probe-reachable


def test_cms_store_scheme_qualified_path(spark, sf_dir, tmp_path):
    """r9 deep-review regression: store existence was checked with
    os.path.isdir, so a scheme-qualified path (file:/) to a VALID store
    was rejected as 'not a CMS store' — and on append silently skipped
    geometry enforcement. Meta now reads through the reader."""
    import pytest as _pytest

    from qcardia_data_spark.functions.sketches import (
        cms_store_append_batch,
        cms_store_lookup,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(200)
    store = str(tmp_path / "cms_scheme")
    cms_store_append_batch(ev, store, ["event_type"], "user_id", batch_id=1)
    probes = ev.select("event_type", "user_id").distinct().limit(4)
    plain = sorted(map(tuple, cms_store_lookup(
        spark, store, probes, "user_id").collect()))
    scheme = sorted(map(tuple, cms_store_lookup(
        spark, f"file:{store}", probes, "user_id").collect()))
    assert scheme == plain and plain
    # geometry drift through the scheme path refuses too
    with _pytest.raises(ValueError, match="do not merge"):
        cms_store_append_batch(
            ev, f"file:{store}", ["event_type"], "user_id",
            batch_id=2, depth=4,
        )


def test_cms_lookup_value_col_named_n(spark):
    """r9 deep-review regression: a probe whose value column is literally
    named 'n' collided with the carried sketch counter and raised
    AMBIGUOUS_REFERENCE; the counter now travels under a fresh name."""
    from qcardia_data_spark.functions.sketches import cms_lookup, cms_table

    df = spark.createDataFrame([("g", "x")] * 3, ["grp", "n"])
    sk = cms_table(df, ["grp"], "n", depth=3, width=16)
    probes = spark.createDataFrame([("g", "x")], ["grp", "n"])
    got = cms_lookup(sk, probes, ["grp"], "n", width=16).collect()
    assert got[0]["est_n"] >= 3


def test_read_meta_json_absence_only_none(spark, tmp_path):
    """ADVICE r9 regression: meta reads return None ONLY when no manifest
    exists. Any other failure (here: a manifest path that cannot be read
    as a file) re-raises, so a broken read of a REAL store can't
    impersonate 'store absent' and bypass geometry enforcement."""
    from qcardia_data_spark.sources.readers import read_meta_json

    # absent manifest -> None (both plain and scheme-qualified roots)
    assert read_meta_json(spark, str(tmp_path / "nope")) is None
    assert read_meta_json(spark, f"file:{tmp_path}/nope2", "cms") is None

    # existing but unreadable manifest -> raises, NOT None
    (tmp_path / "store" / "_meta.json").mkdir(parents=True)
    with pytest.raises(OSError, match="cannot be read"):
        read_meta_json(spark, str(tmp_path / "store"))


def test_cms_append_raises_on_broken_meta(spark, sf_dir, tmp_path):
    """The concrete ADVICE r9 scenario: a real store whose manifest read
    fails must REFUSE the append (previously it silently re-wrote the
    meta with the caller's geometry and landed the batch)."""
    from qcardia_data_spark.functions.sketches import (
        cms_store_append_batch,
        cms_store_lookup,
    )

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(50)
    store = tmp_path / "cms_broken"
    # simulate a truncated manifest: the file exists, its JSON is cut off
    store.mkdir()
    (store / "_meta.json").write_text('{"kind": "cms", "depth": 3, "wid')
    with pytest.raises(ValueError, match="torn"):
        cms_store_append_batch(ev, str(store), ["event_type"], "user_id", batch_id=1)
    # nothing landed
    assert not (store / "rows").exists()
    with pytest.raises(ValueError, match="torn"):
        cms_store_lookup(
            spark, str(store),
            ev.select("event_type", "user_id").limit(1), "user_id",
        )


def test_default_num_ranges_non_numeric_conf():
    """ADVICE r9: platforms that set spark.sql.shuffle.partitions='auto'
    (AQE-managed) must not break scale_safe cumulative_sum's default."""
    from types import SimpleNamespace

    from qcardia_data_spark.operators.windows import _default_num_ranges

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda k, d=None: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=48),
    )
    assert _default_num_ranges(fake) == 48
    numeric = SimpleNamespace(
        conf=SimpleNamespace(get=lambda k, d=None: "17"),
        sparkContext=SimpleNamespace(defaultParallelism=48),
    )
    assert _default_num_ranges(numeric) == 17


def test_read_meta_json_zero_row_meta_raises(spark, tmp_path):
    """r10 self-review: a READABLE manifest that yields zero rows (torn
    write leaving blank JSON) must raise, not report 'store absent' — the
    absent branch re-freezes geometry and overwrites store rows."""
    from qcardia_data_spark.sources.readers import read_meta_json

    store = tmp_path / "store"
    store.mkdir()
    (store / "_meta.json").write_text("\n")
    with pytest.raises(ValueError, match="no rows"):
        read_meta_json(spark, str(store), "hll")


def test_fresh_name_case_insensitive():
    """r10 self-review: Spark resolves columns case-insensitively by
    default, so fresh_name must too ('_T' collides with '_t')."""
    from qcardia_data_spark.operators.joins import fresh_name

    assert fresh_name("_t", ["_T"]) == "_t_"
    assert fresh_name("_carry", ["_CARRY", "_carry_"]) == "_carry__"
    assert fresh_name("_x", ["y"]) == "_x"


def test_heavy_hitters_refuses_on_candidate_collapse(spark):
    """r10 review: a near-uniform corpus collapses the Misra-Gries
    candidate set (every count equals the prune cut) — verify=True must
    refuse instead of returning an incomplete top-k."""
    from qcardia_data_spark.functions.sketches import heavy_hitters

    rows = [(f"v{i}",) for i in range(2000)]  # every value once
    df = spark.createDataFrame(rows, "x string").repartition(4)
    with pytest.raises(ValueError, match="bound violated"):
        heavy_hitters(df, "x", k=10, m=20)


def test_heavy_hitters_nulls_excluded_from_collapse_probe(spark):
    """ADVICE r10: the collapse probe's left_anti join is null-unsafe —
    NULL rows never equi-match a candidate, so a NULL-bearing corpus
    with < k distinct values used to spuriously raise despite the
    documented nulls-excluded contract. Now NULLs are filtered before
    the probe: this corpus (3 distinct + NULLs, k=10) must succeed."""
    from qcardia_data_spark.functions.sketches import heavy_hitters

    rows = [("a",)] * 30 + [("b",)] * 20 + [("c",)] * 10 + [(None,)] * 15
    df = spark.createDataFrame(rows, "x string").repartition(4)
    got = [(r["x"], r["n"]) for r in heavy_hitters(df, "x", k=10, m=50).collect()]
    assert got == [("a", 30), ("b", 20), ("c", 10)]


def test_hll_registers_ignore_null_values(spark):
    """r10 review: md5(NULL) produced a bogus (NULL, NULL) register row
    that inflated the estimate's zeros arithmetic."""
    from qcardia_data_spark.functions.sketches import hll_estimate, hll_registers

    vals = [(i % 50,) for i in range(500)]
    clean = spark.createDataFrame(vals, "v long")
    dirty = clean.unionByName(
        spark.createDataFrame([(None,)] * 25, "v long")
    )
    rc = hll_registers(clean.selectExpr("'g' AS g", "v"), ["g"], "v", p=4)
    rd = hll_registers(dirty.selectExpr("'g' AS g", "v"), ["g"], "v", p=4)
    assert {tuple(r) for r in rc.collect()} == {tuple(r) for r in rd.collect()}
    ec = hll_estimate(rc, ["g"], p=4).first()["estimate"]
    ed = hll_estimate(rd, ["g"], p=4).first()["estimate"]
    assert ec == ed


def test_cms_lookup_probe_column_named_row_and_empty_sketch(spark):
    """r10 review: a probe column literally named 'row' was ambiguous;
    an empty sketch dropped every probe instead of estimating 0."""
    from qcardia_data_spark.functions.sketches import cms_lookup, cms_table

    ev = spark.createDataFrame(
        [("a", 1, 10), ("a", 1, 11), ("b", 2, 12)], ["g", "row", "v"]
    )
    sk = cms_table(ev.select("g", "v"), ["g"], "v", depth=3, width=16)
    probes = ev.select("g", "row", "v")
    est = {(r["g"], r["v"]): r["est_n"]
           for r in cms_lookup(sk, probes, ["g"], "v", width=16).collect()}
    assert est[("a", 10)] >= 1 and est[("b", 12)] >= 1

    empty = sk.filter(F.lit(False))
    out = cms_lookup(empty, probes, ["g"], "v", width=16).collect()
    assert len(out) == 3 and all(r["est_n"] == 0 for r in out)


def test_kcore_rounds_zero_refused(spark):
    from qcardia_data_spark.functions.graph import kcore_rounds

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="rounds"):
        kcore_rounds(e, k=2, rounds=0)
