"""The spec dialect's op registry against its documentation and examples,
and the compile-time refusals the registry makes possible.

The first group runs no Spark code at all: SPEC_DIALECT.md must name every
registered op in each mode it runs in, every op an op table names must be
registered, every example spec must pass the key check, and every engine
op must pass only parameters its engine function takes. The second group
compiles specs that the key check refuses and asserts no Spark job ran.
"""

import glob
import importlib
import inspect
import json
import re
import uuid

import pytest

from qcardia_data_spark.plans import spec as S
from qcardia_data_spark.plans.spec import (
    SpecError,
    compile_pipeline,
    compile_stream_pipeline,
)

DIALECT = open("SPEC_DIALECT.md").read()


def _section(text: str, start: str, end: str = "\n## ") -> str:
    i = text.index(start)
    j = text.find(end, i + len(start))
    return text[i:] if j < 0 else text[i:j]


def _named(text: str) -> set[str]:
    return set(re.findall(r"`(\w+)`", text))


def test_every_registered_op_is_documented_in_its_mode():
    index = DIALECT[: DIALECT.index("## Coverage table")]
    stream = _section(index, "## Streaming subset")
    batch = index.replace(stream, "")
    undocumented = {
        mode: sorted(set(S._mode_ops(mode)) - _named(text))
        for mode, text in (("batch", batch), ("stream", stream))
    }
    assert undocumented == {"batch": [], "stream": []}


def test_every_documented_op_is_registered():
    named = set()
    for table in re.findall(r"\| op \| does \|\n\|---\|---\|\n((?:\|.*\n)+)", DIALECT):
        for row in table.splitlines():
            named |= _named(row.split("|")[1])
    rows = "\n".join(ln for ln in DIALECT.splitlines() if ln.startswith("|"))
    for chain in re.findall(r"op:((?:`\w+`\s*/\s*)*`\w+`)", rows):
        named |= _named(chain)
    assert len(named) > 50
    assert sorted(named - set(S._OPS)) == []


def _example_pipelines():
    for path in sorted(glob.glob("examples/*.json")):
        spec = json.load(open(path))
        if "pipeline" in spec:
            yield path, spec["pipeline"]
        for name, ops in spec.get("pipelines", {}).items():
            yield f"{path}:{name}", ops


@pytest.mark.parametrize(
    "ops", [ops for _, ops in _example_pipelines()],
    ids=[name for name, _ in _example_pipelines()],
)
def test_example_specs_pass_the_key_check(ops):
    S._check(S._push_filters_below_explode(ops), "batch")


def test_engine_ops_pass_only_callee_parameters():
    """An engine op hands its args to the function as keywords, so every
    key it declares (after renaming) must be a parameter of that function
    — otherwise a spec setting the key would fail mid-compile with a
    TypeError instead of at the key check."""
    checked = 0
    for name, entry in S._OPS.items():
        target = getattr(entry.fn, "engine", None)
        if target is None:
            continue
        mod, fn = target.rsplit(".", 1)
        callee = getattr(importlib.import_module(f"qcardia_data_spark.{mod}"), fn)
        params = inspect.signature(callee).parameters
        bad = [k for k in entry.keys if entry.fn.rename.get(k, k) not in params]
        assert bad == [], f"{name}: {bad} not parameters of {target}"
        checked += 1
    assert checked >= 40


# -- compile-time refusals ----------------------------------------------

def _refused_without_jobs(spark, compile_fn, match):
    sc = spark.sparkContext
    group = f"spec-check-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "spec key check")
    try:
        with pytest.raises(SpecError, match=match):
            compile_fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_misspelled_key_refused_before_any_job(spark, sf_dir, tmp_path):
    near = {"op": "near_dedup", "id_col": "doc_id", "text_col": "text",
            "treshold": 0.9}
    _refused_without_jobs(spark, lambda: compile_pipeline(spark, [
        {"op": "source", "table": "documents"}, near,
    ], sf_dir), "treshold")
    # a stage switched off is still checked, and so is a nested pipeline
    _refused_without_jobs(spark, lambda: compile_pipeline(spark, [
        {"op": "source", "table": "documents"}, {**near, "when": False},
    ], sf_dir), "treshold")
    _refused_without_jobs(spark, lambda: compile_pipeline(spark, [
        {"op": "source", "table": "documents"},
        {"op": "join", "on": ["doc_id"], "pipeline": [
            {"op": "source", "table": "documents"}, near,
        ]},
    ], sf_dir), "treshold")
    stream_src = {"op": "stream_source", "path": str(tmp_path / "none"),
                  "schema": "doc_id BIGINT, text STRING"}
    _refused_without_jobs(spark, lambda: compile_stream_pipeline(
        spark, [stream_src, near]
    ), "near_dedup")
    _refused_without_jobs(spark, lambda: compile_stream_pipeline(spark, [
        stream_src,
        {"op": "gopher_rules", "text_col": "text", "min_word": 5},
    ]), "min_word")


def test_missing_required_key_is_a_spec_error(spark, sf_dir):
    for op, missing in (
        ({"op": "limit"}, "'n'"),
        ({"op": "fuzzy_join", "right": {"table": "documents"},
          "col_r": "text"}, "'col_l'"),
    ):
        _refused_without_jobs(spark, lambda: compile_pipeline(spark, [
            {"op": "source", "table": "documents"}, op,
        ], sf_dir), f"missing required key.*{missing}")


def test_underscore_annotation_keys_are_accepted(spark, sf_dir):
    df = compile_pipeline(spark, [
        {"op": "source", "table": "region", "_note": "any annotation"},
        {"op": "select", "cols": ["r_name"], "_why": {"nested": True}},
    ], sf_dir)
    assert df.columns == ["r_name"]


def test_form_dependent_keys_are_spec_errors_before_any_job(spark, sf_dir):
    """Keys only one form of an op needs are checked by the op itself,
    before any side is built or any training job starts."""
    # the session's first read of a table infers its schema in a job;
    # take it here, outside the job group
    compile_pipeline(spark, [{"op": "source", "table": "documents"}], sf_dir)
    for op, match in (
        ({"op": "quality_classifier", "coefs": [0.5, -0.5]}, "'intercept'"),
        ({"op": "quality_classifier", "min_score": 0.5}, "'positive'"),
        ({"op": "drift", "col": "doc_id", "against": {"table": "documents"}}, "'edges'"),
    ):
        _refused_without_jobs(spark, lambda: compile_pipeline(spark, [
            {"op": "source", "table": "documents"}, op,
        ], sf_dir), match)


def test_second_stream_source_refused(spark, tmp_path):
    """A second stream_source would silently replace the frame built so
    far; like a second batch source, it is refused."""
    (tmp_path / "in").mkdir()
    src = {"op": "stream_source", "path": str(tmp_path / "in"),
           "schema": "doc_id BIGINT, text STRING"}
    _refused_without_jobs(spark, lambda: compile_stream_pipeline(spark, [
        src, {"op": "filter", "expr": "doc_id > 0"}, src,
    ]), "second 'stream_source'")
