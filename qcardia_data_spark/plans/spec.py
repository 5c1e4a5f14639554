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

Every op is one registry entry (``_op`` / ``_engine``) declaring the keys
it reads, how a set value is coerced, the compiler modes it runs in and
whether it may open a pipeline. ``compile_pipeline`` and
``compile_stream_pipeline`` share one loop that checks every entry against
the registry before any plan is built. The dialect — every op and what it
does — is documented in SPEC_DIALECT.md.
"""

from __future__ import annotations

import importlib
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from qcardia_data_spark.catalog import load_table
from qcardia_data_spark.operators.setops import union_by_name


class SpecError(ValueError):
    pass


# -- the registry -------------------------------------------------------

_BATCH, _STREAM, _BOTH = ("batch",), ("stream",), ("batch", "stream")


def _pipe(v):
    """Coercion marker: the key holds a nested op list (checked with its
    parent, compiled in the parent's mode)."""
    return v


def _side_spec(v):
    """Coercion marker: the key holds a ``{"table"|"pipeline": ...}`` side."""
    return v


def _opt(conv: Callable) -> Callable:
    return lambda v: None if v is None else conv(v)


def _buckets(v):
    """Bucket-count knob of the standing-index writers: an int, or "auto",
    which the writer resolves to a corpus-sized count and persists."""
    return v if v == "auto" else int(v)


def _floats(v):
    return [float(x) for x in v]


def _cols(exprs: Sequence[str]) -> list[Column]:
    return [F.expr(e) for e in exprs]


# shared key declarations and family defaults
_SIDE = {"table": None, "pipeline": _pipe}  # an op-level join/union side
_DOC_KEYS = ("id_col", "text_col")
_DOC = {"id_col": "doc_id", "text_col": "text"}
_ID = {"id_col": "doc_id"}  # where the callee has text_col's default
_TS = {"ts_s": "s", "value_col": "value", "tiebreak": "event_id"}
_TS_NAMES = {"key": "key_col", "ts_s": "ts_s_col", "tiebreak": "tiebreak_col"}


@dataclass(frozen=True)
class _Op:
    fn: Callable
    required: tuple[str, ...]
    keys: dict  # every accepted key -> coercion of a set value (None: as given)
    defaults: dict
    modes: tuple[str, ...]
    opens: bool

    def args(self, op: dict) -> dict:
        """The handler's view of ``op``: the declared keys the spec sets,
        coerced, over the declared defaults. An unset key is absent, so
        the engine function's own default applies."""
        a = dict(self.defaults)
        for k, v in op.items():
            if k in self.keys:
                conv = self.keys[k]
                a[k] = v if conv is None else conv(v)
        return a


_OPS: dict[str, _Op] = {}


def _op(
    name: str, *, required=(), keys=(), defaults=None, modes=_BATCH,
    opens=False,
):
    """Register a handler ``fn(c, df, a)`` as op ``name``. ``required`` and
    ``keys`` are key names, or dicts of key name -> coercion (``int``,
    ``float``, ...; ``None`` passes the value as given). ``defaults`` fill
    keys the engine function has no default for, or that the handler reads
    itself; a shared family dict (``_DOC``, ``_TS``) applies only to the
    keys the op declares. ``opens``: the op may run with no incoming frame
    (``df`` is then ``None``)."""

    def as_dict(ks) -> dict:
        return dict(ks) if isinstance(ks, dict) else dict.fromkeys(ks)

    req = as_dict(required)
    accepted = {**req, **as_dict(keys)}
    own = {k: v for k, v in (defaults or {}).items() if k in accepted}

    def register(fn: Callable) -> Callable:
        _OPS[name] = _Op(fn, tuple(req), accepted, own, modes, opens)
        return fn

    return register


def _resolve(target: str) -> Callable:
    """The engine function ``target`` ("module.function" under the
    package), imported on first use."""
    mod, fn_name = target.rsplit(".", 1)
    return getattr(importlib.import_module(f"qcardia_data_spark.{mod}"), fn_name)


def _engine(
    name: str, target: str, *, through: bool = False, rename=None, **decl,
) -> None:
    """Register op ``name`` as one call of the engine function ``target``:
    ``target(df, **args)``, each key passed under its own name or its
    ``rename``. ``through``: the call writes a side artifact and the frame
    passes on unchanged."""
    rename = rename or {}

    def handler(c, df, a):
        out = _resolve(target)(df, **{rename.get(k, k): v for k, v in a.items()})
        return df if through else out

    handler.engine, handler.rename = target, rename
    _op(name, **decl)(handler)


def _pick(a: dict, *names: str, **renamed: str) -> dict:
    """The set keys among ``names`` (plus ``callee_name=spec_key`` renames)
    as keyword arguments — unset keys stay unset."""
    out = {n: a[n] for n in names if n in a}
    out.update({to: a[k] for to, k in renamed.items() if k in a})
    return out


def _pop(a: dict, *names: str) -> dict:
    """Move the set keys among ``names`` out of ``a`` into a new dict."""
    return {n: a.pop(n) for n in names if n in a}


class _Ctx(NamedTuple):
    spark: SparkSession
    sf_dir: str | None
    mode: str
    prior_ops: list

    def compile(self, ops: Sequence[dict]) -> DataFrame:
        return _compile(self.spark, ops, self.sf_dir, self.mode)

    def side(self, spec: dict) -> DataFrame:
        if "pipeline" in spec:
            return self.compile(spec["pipeline"])
        if "table" in spec:
            if self.sf_dir is None:
                raise SpecError("table side requires sf_dir")
            return load_table(self.spark, self.sf_dir, spec["table"])
        raise SpecError(f"join/union side needs 'table' or 'pipeline': {spec!r}")


# -- the compile loop ---------------------------------------------------

def compile_pipeline(
    spark: SparkSession, ops: Sequence[dict], sf_dir: str | None = None,
) -> DataFrame:
    """Compile an op list into a lazy DataFrame. Raises SpecError on an
    unknown op, a missing or undeclared key or a malformed entry — at
    plan time, never mid-job."""
    return _compile(spark, ops, sf_dir, "batch")


def compile_stream_pipeline(
    spark: SparkSession, ops: Sequence[dict],
) -> DataFrame:
    """Compile an op list into a STREAMING DataFrame (SURVEY §2.12 × §2.13:
    the declarative spec surface extended to Structured Streaming). The
    ops are those registered for the stream mode: the stream-only ops
    (``stream_source``, ``watermark``, ``window_agg``, ``session_agg``,
    ``stream_dedup``, ``stream_join``) plus the stateless batch ops, reused
    verbatim — one spec dialect, two execution modes. Stateful batch-only
    ops raise SpecError at plan time."""
    return _compile(spark, ops, None, "stream")


def _compile(
    spark: SparkSession, ops: Sequence[dict], sf_dir: str | None, mode: str,
) -> DataFrame:
    ops = _push_filters_below_explode(ops)
    _check(ops, mode)
    c = _Ctx(spark, sf_dir, mode, [])
    df: DataFrame | None = None
    for i, op in enumerate(ops):
        if op.get("when") is False:  # build-time pruning of disabled stages
            continue
        entry = _OPS[op["op"]]
        if df is None and not entry.opens:
            raise SpecError(f"op #{i} ({op['op']}) before any source")
        df = entry.fn(c, df, entry.args(op))
        c.prior_ops.append(op)
    if df is None:
        raise SpecError("empty pipeline: no source op")
    return df


def _mode_ops(mode: str) -> list[str]:
    return sorted(n for n, e in _OPS.items() if mode in e.modes)


def _check(ops: Sequence[dict], mode: str) -> None:
    """Refuse a malformed entry, an op not registered for ``mode``, a
    missing required key or an undeclared key — before any plan is built,
    nested pipelines included. ``op``, ``when`` and ``_``-prefixed
    annotation keys are always accepted. Disabled ops are checked too: a
    typo must not wait for the day its stage is switched on."""
    for i, op in enumerate(ops):
        if not isinstance(op, dict) or "op" not in op:
            raise SpecError(f"op #{i} malformed: {op!r}")
        kind = op["op"]
        entry = _OPS.get(kind)
        if entry is None:
            raise SpecError(f"op #{i}: unknown op {kind!r}")
        if mode not in entry.modes:
            if mode == "stream":
                raise SpecError(
                    f"op #{i} ({kind}) is not streamable (stream ops: "
                    f"{_mode_ops('stream')})"
                )
            raise SpecError(f"op #{i} ({kind}) runs only in compile_stream_pipeline")
        missing = [k for k in entry.required if k not in op]
        if missing:
            raise SpecError(f"op #{i} ({kind}): missing required key(s) {missing}")
        unknown = [
            k for k in op
            if k not in entry.keys and k not in ("op", "when")
            and not str(k).startswith("_")
        ]
        if unknown:
            raise SpecError(
                f"op #{i} ({kind}): unknown key(s) {unknown} — it takes "
                f"{sorted(entry.keys)}"
            )
        for k, conv in entry.keys.items():
            if k not in op:
                continue
            if conv is _pipe:
                _check(op[k], mode)
            elif conv is _side_spec and isinstance(op[k], dict) and "pipeline" in op[k]:
                _check(op[k]["pipeline"], mode)


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


# -- sources ------------------------------------------------------------

def _first_source(df, kind: str) -> None:
    if df is not None:
        raise SpecError(
            f"a second '{kind}' mid-pipeline would discard everything built "
            "so far — use 'union' or a join op's 'right' side to bring in "
            "another table"
        )


@_op(
    "source", opens=True,
    keys=("table", "path", "format", "header", "schema", "glob", "decode"),
)
def _source(c, df, a):
    _first_source(df, "source")
    if "table" in a:
        if c.sf_dir is None:
            raise SpecError("table source requires sf_dir")
        return load_table(c.spark, c.sf_dir, a["table"])
    if "path" not in a:
        raise SpecError(f"source needs 'table' or 'path': {a!r}")
    fmt = a.get("format", "parquet")
    reader = c.spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", a.get("header", True))
        if "schema" in a:
            reader = reader.schema(a["schema"])
    if fmt == "binaryFile" and "glob" in a:
        reader = reader.option("pathGlobFilter", a["glob"])
    out = reader.load(a["path"])
    codec = a.get("decode")
    if codec is None:
        return out
    # real-codec decode fused into the source (predicates on path/length
    # stay pushable)
    from qcardia_data_spark.sources import multimodal as MM

    if codec == "nifti":
        return MM.decode_nifti(out)
    if codec == "dicom":
        return MM.decode_dicom(out)
    raise SpecError(f"unknown decode codec {codec!r} (nifti|dicom)")


@_op(
    "stream_source", modes=_STREAM, opens=True,
    required=("path", "schema"), keys=("format", "max_files_per_trigger"),
)
def _stream_source(c, df, a):
    _first_source(df, "stream_source")
    reader = c.spark.readStream.schema(a["schema"]).option(
        "maxFilesPerTrigger", a.get("max_files_per_trigger", 1)
    )
    return getattr(reader, a.get("format", "parquet"))(a["path"])


# -- relational core ----------------------------------------------------

@_op("select", modes=_BOTH, required=("cols",))
def _select(c, df, a):
    return df.select(*_cols(a["cols"]))


@_op("filter", modes=_BOTH, keys=("expr", "col", "in"))
def _filter(c, df, a):
    if "expr" in a:
        return df.filter(F.expr(a["expr"]))
    if "in" in a and "col" in a:  # structured form (see the peephole)
        return df.filter(F.col(a["col"]).isin(*a["in"]))
    raise SpecError(f"filter needs 'expr' or ('col','in'): {a!r}")


@_op("with_columns", modes=_BOTH, required=("cols",))
def _with_columns(c, df, a):
    return df.withColumns({k: F.expr(v) for k, v in a["cols"].items()})


@_op("rename", modes=_BOTH, required=("mapping",))
def _rename(c, df, a):
    return df.withColumnsRenamed(a["mapping"])


@_op("drop", modes=_BOTH, required=("cols",))
def _drop(c, df, a):
    return df.drop(*a["cols"])


@_op("join", required=("on",), keys={**_SIDE, "how": None, "broadcast": None})
def _join(c, df, a):
    right = c.side(a)
    if a.get("broadcast"):
        right = F.broadcast(right)
    return df.join(right, on=a["on"], how=a.get("how"))


@_op(
    "asof_join", required=("by", "left_ts", "right_ts", "carry"),
    keys={**_SIDE, "direction": None},
)
def _asof_join(c, df, a):
    from qcardia_data_spark.operators.temporal import asof_join

    return asof_join(df, c.side(_pop(a, *_SIDE)), **a)


@_op(
    "overlap_join", required=("start_l", "end_l", "start_r", "end_r"),
    keys={**_SIDE, "bucket_seconds": int},
)
def _overlap_join(c, df, a):
    from qcardia_data_spark.operators.temporal import interval_overlap_join

    return interval_overlap_join(df, c.side(_pop(a, *_SIDE)), **a)


@_op("union", keys=_SIDE)
def _union(c, df, a):
    return union_by_name([df, c.side(a)])


@_op("group_agg", required=("aggs",), keys=("by",))
def _group_agg(c, df, a):
    aggs = [F.expr(e).alias(name) for name, e in a["aggs"].items()]
    return df.groupBy(*a.get("by", [])).agg(*aggs)


_RANKING = (
    "row_number", "rank", "dense_rank", "percent_rank", "ntile",
    "cume_dist", "lag", "lead", "nth_value",
)
_RANK_CALL = re.compile(r"\b(" + "|".join(_RANKING) + r")\s*\(", re.IGNORECASE)
# the nested-ranking guard scans expression TEXT, so quoted string
# literals must not trip it ("concat(col, 'lag(')" contains no nested call
# — ADVICE r12). SQL string literals: single-quoted, with '' OR \'
# escaping a quote (Spark accepts both — ADVICE r13: a backslash escape
# must be consumed as one unit or it desynchronizes the scanner).
# Double-quoted tokens are string LITERALS too in Spark's default non-ANSI
# mode (identifiers use backticks), so they take the same backslash-escape
# alternative (ADVICE r14: "it\"s" must not desynchronize the scanner).
_STRIP_LITERALS = re.compile(r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.)*\"")


@_op("window", required=("cols",), keys=("partition_by", "order_by", "running"))
def _window(c, df, a):
    from pyspark.sql.window import Window

    w = Window.partitionBy(*a.get("partition_by", []))
    w_rank = None
    if a.get("order_by"):
        w_rank = w.orderBy(*_cols(a["order_by"]))
        if a.get("running", False):
            w = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        else:
            # an ordered window's IMPLICIT frame is RANGE-cumulative, so
            # plain aggregates next to a row_number()/lag() would silently
            # become RUNNING aggregates despite running: false (r11
            # review). Aggregates get an explicit whole-partition frame;
            # ranking/offset functions (which refuse custom frames) keep
            # the bare ordered spec.
            w = w_rank.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
    out = df
    for name, e in a["cols"].items():
        head = e.split("(", 1)[0].strip().lower()
        nested = _RANK_CALL.search(_STRIP_LITERALS.sub("''", e))
        # Ranking/offset calls must be TOP-LEVEL in a window col: Spark's
        # .over() attaches the spec to the OUTERMOST expression, so a
        # nested call ("coalesce(lag(x), 0)") is unexpressible however we
        # pick the frame — the engine rejects it with a confusing
        # WINDOW_FUNCTION_WITHOUT_OVER_CLAUSE. Refuse at the spec level
        # with guidance instead (ADVICE r11).
        if head not in _RANKING and nested is not None:
            raise SpecError(
                f"window col {name!r}: ranking/offset call "
                f"{nested.group(1)}() is nested inside a wrapper expression "
                "— Spark can only attach the window spec to the outermost "
                "call. Make it top-level (offset functions take a default: "
                "lag(x, 1, <default>)) or compute the window column first "
                "and derive the wrapper in a follow-up op"
            )
        spec_w = w_rank if (w_rank is not None and head in _RANKING) else w
        out = out.withColumn(name, F.expr(e).over(spec_w))
    return out


@_op("distinct")
def _distinct(c, df, a):
    return df.distinct()


@_op("dropDuplicates", keys=("cols",))
def _drop_duplicates(c, df, a):
    return df.dropDuplicates(a.get("cols"))


@_op("sort", required=("by",))
def _sort(c, df, a):
    # refuse-loudly: "col DESC" parses as the column ALIASED 'DESC'
    # (ascending, no error) — the silent mis-sort an r11 example hit.
    # Descending in this dialect is "-col" (numeric negation).
    for e in a["by"]:
        if isinstance(e, str) and re.search(r"(?i)\s+(asc|desc)\s*$", e):
            raise SpecError(
                f"sort: {e!r} — SQL ASC/DESC suffixes are silently "
                "ignored by expr(); use \"-col\" for descending"
            )
    return df.orderBy(*_cols(a["by"]))


@_op("limit", required={"n": int})
def _limit(c, df, a):
    return df.limit(a["n"])


@_op("cache", required=("cache_root",), keys=("overwrite",))
def _cache(c, df, a):
    # materialization boundary: everything upstream is built once into a
    # fingerprint-keyed parquet (or hit), downstream reads the cache —
    # the reference's cache-then-serve split (SURVEY §3.1 stage 4)
    from qcardia_data_spark.plans.cache import materialize, read_cache

    path, _built = materialize(
        c.spark,
        build=lambda: df,
        # cache identity = the upstream op list (the producing plan) PLUS
        # the data directory it was compiled against — without sf_dir the
        # same spec at two scales collided on one cache path and silently
        # served the other's data (r10 review) — mirroring the reference's
        # config-derived cache name (C1)
        spec={"upstream": list(c.prior_ops), "sf_dir": c.sf_dir},
        **a,
    )
    return read_cache(c.spark, path)


@_op(
    "expect", required=("checks",),
    keys={"max_violation_frac": float, "mode": None},
)
def _expect(c, df, a):
    # fail (default): ONE agg job counts violations per check (conditional
    # sums — one pass, no per-check scans). NULL check results count as
    # violations (an unevaluable expectation is not met).
    checks = [str(e) for e in a["checks"]]
    if not checks:
        raise SpecError("expect: checks must name >= 1 predicate")
    oks = [F.coalesce(F.expr(e), F.lit(False)) for e in checks]
    mode = a.get("mode", "fail")
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
        return df.select("*", *[o.alias(f"_ok_{i}") for i, o in enumerate(oks)])
    budget = a.get("max_violation_frac", 0.0)
    counts = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(~o, 1).otherwise(0)).alias(f"_v{i}")
            for i, o in enumerate(oks)
        ],
    ).collect()[0]
    n = counts["_n"] or 0
    bad = {
        e: counts[f"_v{i}"] / n
        for i, e in enumerate(checks)
        if n > 0 and counts[f"_v{i}"] / n > budget
    }
    if bad:
        detail = ", ".join(f"{e!r}: {r:.4f}" for e, r in bad.items())
        raise SpecError(f"expect: violation rate over budget {budget}: {detail}")
    return df


_engine(
    "explode", "operators.generators.explode_with_position", modes=_BOTH,
    required=("col",), keys=("pos", "val", "keep_positions"),
    rename={"col": "array_col", "pos": "pos_out", "val": "val_out"},
)
_engine(
    "compose", "functions.compose.apply_composed",
    required=("stages", "arr_col", "key_col"), keys=("out_col",),
)
# values are REQUIRED: inference costs a distinct scan and makes the
# output schema data-dependent
_engine(
    "pivot_counts", "operators.aggregates.pivot_counts",
    required={"key": None, "pivot_col": None, "values": list},
)
_engine(
    "unpivot", "operators.aggregates.unpivot_long",
    required={"key": None, "value_cols": list}, keys=("var_name", "value_name"),
)
_engine(
    "discrete_quantiles", "operators.aggregates.discrete_quantiles",
    required=("key", "value"), keys=("pcts",),
)


# -- sampling / splits --------------------------------------------------

_engine(
    "sample_group", "operators.sampling.stratified_sample_n",
    required={"group": None, "key": None, "n": int}, keys=("seed",),
)
_engine(
    "weighted_sample", "operators.sampling.weighted_rejection_sample",
    required=("group", "key"), keys={"accept_scale": float, "seed": None},
)
_engine(
    "weighted_reservoir", "operators.sampling.weighted_reservoir",
    required={"key": None, "weight": None, "k": int}, keys=("seed",),
)
_engine(
    "poisson_bootstrap", "operators.sampling.poisson_bootstrap",
    required={"key_cols": list},
    keys={"lam": float, "k_max": int, "seed": None, "out": None},
)
_engine(
    "split_subjects", "operators.sampling.subject_level_split",
    required={"key": None, "valid_fraction": float},
    keys={"seed": None, "out": None, "scale_safe": bool, "num_ranges": None},
    rename={"key": "subject_col"},
)
_engine(
    "subject_kfold", "operators.sampling.subject_kfold",
    required={"key": None, "k": int}, keys=("seed", "out"),
    rename={"key": "subject_col"},
)
# The `window` op with running:true plans the classic window form only;
# coarse partition keys at scale need cumsum's two-phase distributed
# prefix sum (scale_safe)
_engine(
    "cumsum", "operators.windows.cumulative_sum",
    required={"order_by": _cols, "value": None}, defaults={"partition_by": []},
    keys={"partition_by": None, "out": None, "scale_safe": bool,
          "num_ranges": None},
    rename={"partition_by": "partition"},
)


# -- text / corpus preparation ------------------------------------------

@_op(
    "quality_filter", modes=_BOTH, required=("text_col",),
    keys={"min_tokens": int, "min_chars": int, "blocklist": None,
          "max_block_ratio": float},
)
def _quality_filter(c, df, a):
    from qcardia_data_spark.functions.text import word_tokens
    from qcardia_data_spark.operators.joins import fresh_name

    # tokenize ONCE behind the explode(array()) generator barrier —
    # referencing the word_tokens expression from the size gate, the
    # blocklist lambda and the ratio would re-run the tokenizer up to 3x
    # per row (no CSE across HOF lambdas — the repo's standing text.py
    # rule, r10 review)
    qtoks = fresh_name("_qtoks", df.columns)
    toked = df.withColumn(
        qtoks, F.explode(F.array(word_tokens(F.col(a["text_col"]))))
    )
    toks = F.col(qtoks)
    cond = F.size(toks) >= a.get("min_tokens", 10)
    if "min_chars" in a:
        cond = cond & (F.length(a["text_col"]) >= a["min_chars"])
    if "blocklist" in a:
        # token-exact, not substring — 'class' never matches a blocked
        # 'ass'; max_block_ratio 0 means any hit drops
        blocked = F.array(*[F.lit(w) for w in a["blocklist"]])
        n_blocked = F.size(F.filter(toks, lambda w: F.array_contains(blocked, w)))
        ratio = a.get("max_block_ratio", 0.0)
        cond = cond & (
            n_blocked.cast("double") <= ratio * F.size(toks).cast("double")
        )
    return toked.filter(cond).drop(qtoks)


@_op(
    "gopher_rules", modes=_BOTH,
    defaults={"text_col": "text", "out": "gopher_keep"},
    keys={"text_col": None, "out": None, "drop_failing": None,
          "min_words": int, "max_words": int, "min_mean_len": float,
          "max_mean_len": float, "max_symbol_ratio": float,
          "min_alpha_frac": float, "min_stop_hits": int},
)
def _gopher_rules(c, df, a):
    from qcardia_data_spark.functions.text import gopher_rules, word_tokens
    from qcardia_data_spark.operators.joins import fresh_name

    text_col, out = a.pop("text_col"), a.pop("out")
    drop_failing = a.pop("drop_failing", False)
    # fresh working column: a user column literally named "_gtoks" (any
    # case) would be replaced and then dropped — silent data loss (r11)
    gtoks = fresh_name("_gtoks", df.columns)
    tok = df.withColumn(gtoks, F.explode(F.array(word_tokens(F.col(text_col)))))
    g = gopher_rules(F.col(gtoks), F.col(text_col), **a)
    if drop_failing:  # the rule columns stay gate-only
        return tok.filter(g["keep"]).drop(gtoks)
    audited = tok.select(
        "*", *[v.alias(f"{out}_{k}") for k, v in g.items() if k != "keep"],
        g["keep"].alias(out),
    )
    return audited.drop(gtoks)


@_op(
    "gopher_line_rules", defaults={"text_col": "text", "out": "line_format_ok"},
    keys=("text_col", "out", "drop_failing"),
)
def _gopher_line_rules(c, df, a):
    # Unlike c4_clean this gate never rewrites the text — Gopher drops
    # pages, it does not edit them.
    from qcardia_data_spark.functions.text import line_format_scores
    from qcardia_data_spark.operators.joins import fresh_name

    text_col, out = a["text_col"], a["out"]
    gll = fresh_name("_gllines", df.columns)  # r11: no silent clobber
    lined = df.withColumn(gll, F.explode(F.array(F.split(F.col(text_col), "\n"))))
    s = line_format_scores(F.col(gll))
    if a.get("drop_failing", True):
        return lined.filter(s["line_format_ok"]).drop(gll)
    audited = lined.select(
        "*",
        s["n_lines"].alias(f"{out}_n_lines"),
        s["bullet_line_frac"].alias(f"{out}_bullet_frac"),
        s["ellipsis_line_frac"].alias(f"{out}_ellipsis_frac"),
        s["line_format_ok"].alias(out),
    )
    return audited.drop(gll)


@_op(
    "c4_clean", defaults={"text_col": "text", "out": "c4_keep"},
    keys={"text_col": None, "out": None, "drop_failing": None,
          "min_words_per_line": int, "min_sentences": int},
)
def _c4_clean(c, df, a):
    from qcardia_data_spark.functions.text import c4_rules
    from qcardia_data_spark.operators.joins import fresh_name

    text_col, out = a.pop("text_col"), a.pop("out")
    drop_failing = a.pop("drop_failing", True)
    c4l = fresh_name("_c4lines", df.columns)  # r11: no silent clobber
    lined = df.withColumn(c4l, F.explode(F.array(F.split(F.col(text_col), "\n"))))
    r = c4_rules(F.col(c4l), **a)
    if drop_failing:
        cleaned = lined.filter(r["keep"]).withColumn(
            text_col, F.array_join(r["kept_lines"], "\n")
        )
        return cleaned.drop(c4l)
    audited = lined.select(
        "*",
        r["n_lines"].alias(f"{out}_n_lines"),
        r["n_kept_lines"].alias(f"{out}_n_kept_lines"),
        r["has_lorem"].alias(f"{out}_has_lorem"),
        r["has_brace"].alias(f"{out}_has_brace"),
        r["keep"].alias(out),
    )
    return audited.drop(c4l)


@_op("pii_scrub", modes=_BOTH, defaults=_DOC, keys=("text_col", "audit"))
def _pii_scrub(c, df, a):
    from qcardia_data_spark.functions.text import pii_counts, pii_scrub

    text_col = a["text_col"]
    out = df
    if a.get("audit", False):
        counts = pii_counts(F.col(text_col))
        # refuse-loudly on audit-column collisions: a second
        # pii_<category> column would only fail ambiguously downstream
        taken = [f"pii_{k}" for k in counts if f"pii_{k}" in df.columns]
        if taken:
            raise SpecError(
                f"pii_scrub: audit column(s) {taken} already exist on "
                "the frame — rename or drop them before auditing"
            )
        out = out.select("*", *[v.alias(f"pii_{k}") for k, v in counts.items()])
    return out.withColumn(text_col, pii_scrub(F.col(text_col)))


@_op("quality_signals", defaults={**_DOC, "prefix": "qs"}, keys=("text_col", "prefix"))
def _quality_signals(c, df, a):
    # One token barrier feeds every signal family; zero exchanges.
    from qcardia_data_spark.functions import text as T
    from qcardia_data_spark.operators.joins import fresh_name

    text, p = F.col(a["text_col"]), a["prefix"]
    qstoks = fresh_name("_qstoks", df.columns)  # r11: no silent clobber
    tok = df.withColumn(qstoks, F.explode(F.array(T.word_tokens(text))))
    q = T.quality_scores(text, toks=F.col(qstoks))
    r = T.repetition_scores(F.col(qstoks))
    g = T.gopher_rules(F.col(qstoks), text)
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
        "lang_pred": T.lang_id(text, toks=F.col(qstoks)),
        "fingerprint": T.doc_fingerprint(text),
    }
    out = tok.select("*", *[v.alias(f"{p}_{k}") for k, v in sig.items()])
    return out.drop(qstoks)


@_op("token_entropy", defaults=_ID, keys=(*_DOC_KEYS, "append"))
def _token_entropy(c, df, a):
    # append joins the signals back by id_col (left join: zero-token docs
    # keep nulls)
    from qcardia_data_spark.functions.text import token_entropy_stats

    append = a.pop("append", False)
    stats = token_entropy_stats(df, **a)
    return df.join(stats, a["id_col"], "left") if append else stats


@_op(
    "lm_score", required={"ref": _side_spec, "id_col": None, "text_col": None},
    keys={"smooth_v": int, "min_score": float, "keep_buckets": None},
)
def _lm_score(c, df, a):
    from qcardia_data_spark.functions.text import char_trigram_lm_score

    if "min_score" in a and "keep_buckets" in a:
        raise SpecError(
            "lm_score: min_score and keep_buckets are mutually "
            "exclusive gates — pick one"
        )
    min_score, keep = a.pop("min_score", None), a.pop("keep_buckets", None)
    scored = char_trigram_lm_score(df, c.side(a.pop("ref")), **a)
    out = df.join(scored, a["id_col"], "left")
    if min_score is not None:
        return out.filter(F.col("lm_score") >= min_score).drop("lm_score")
    if keep is None:
        return out
    keep = set(keep)
    bad = keep - {"head", "middle", "tail"}
    if bad:
        raise SpecError(f"lm_score: unknown buckets {sorted(bad)}")
    # tercile thresholds from a 1-row exact-percentile aggregate attached
    # by broadcast (at 100 TB swap for percentile_approx)
    rounded = F.round(F.col("lm_score"), 6)
    thr = scored.select(F.round("lm_score", 6).alias("_s")).agg(
        F.percentile(F.col("_s"), F.lit(1.0 / 3)).alias("_t1"),
        F.percentile(F.col("_s"), F.lit(2.0 / 3)).alias("_t2"),
    )
    bucket = (
        F.when(rounded >= F.col("_t2"), "head")
        .when(rounded >= F.col("_t1"), "middle")
        .otherwise("tail")
    )
    return (
        out.crossJoin(F.broadcast(thr))
        # unscorable docs (NULL lm_score — no trigrams) are DROPPED,
        # matching the min_score gate; without the isNotNull they fell
        # through both when()s into 'tail' (r10 review)
        .filter(rounded.isNotNull() & bucket.isin(*sorted(keep)))
        .drop("_t1", "_t2", "lm_score")
    )


@_op(
    "quality_classifier",
    defaults={"out": "quality_score", "key_col": "doc_id"},
    keys={"positive": None, "text_col": None, "out": None, "key_col": None,
          "min_score": float, "pareto_alpha": float, "seed": int,
          "coefs": _floats, "intercept": float, "n_features": int,
          "reg_param": float, "max_iter": int},
)
def _quality_classifier(c, df, a):
    # NOTE: spec compilation stays lazy everywhere else; the trained form
    # runs the training job at compile time (Spark ML fit is an action).
    # The frozen form ("coefs" + "intercept") needs no training job.
    from qcardia_data_spark.functions import classifier as CL

    out = a["out"]
    # validate BEFORE training — the fit is an eager job and a malformed
    # spec must not burn it first
    if "min_score" in a and "pareto_alpha" in a:
        raise SpecError(
            "quality_classifier: min_score and pareto_alpha are mutually "
            "exclusive gates — pick one"
        )
    if "coefs" in a and "intercept" not in a:
        raise SpecError("quality_classifier: the frozen form needs 'intercept' with 'coefs'")
    if "coefs" not in a and "positive" not in a:
        raise SpecError(
            "quality_classifier needs 'coefs' + 'intercept' (frozen) or "
            "'positive' (trained)"
        )
    if "coefs" in a:
        scored = CL.score_frozen_quality(
            df, a["coefs"], a["intercept"], id_col=a["key_col"], out=out,
            **_pick(a, "text_col"),
        )
    else:
        model = CL.train_quality_classifier(
            df, F.expr(a["positive"]),
            **_pick(a, "text_col", "n_features", "reg_param", "max_iter"),
        )
        scored = CL.score_quality(model, df, out=out, **_pick(a, "text_col"))
    if "min_score" in a:
        return scored.filter(F.col(out) >= a["min_score"])
    if "pareto_alpha" in a:
        return CL.pareto_keep(
            scored, out, a["key_col"], alpha=a["pareto_alpha"],
            **_pick(a, "seed"),
        )
    return scored


@_op(
    "decontaminate", required={"eval": _side_spec, "id_col": None, "text_col": None},
    keys={"n": int, "bloom": None, "m_bits": int, "k": int, "drop_flagged": None},
)
def _decontaminate(c, df, a):
    from qcardia_data_spark.functions.text import decontaminate, decontaminate_bloom

    eval_docs = c.side(a.pop("eval"))
    drop_flagged = a.pop("drop_flagged", False)
    # bloom switches to the fixed-size Bloom-prefilter path (same exact
    # verdicts) for eval sets too large to broadcast as a set
    bloom = _pop(a, "m_bits", "k")
    if a.pop("bloom", False):
        out = decontaminate_bloom(df, eval_docs, **a, **bloom)
    else:
        out = decontaminate(df, eval_docs, **a)
    if drop_flagged:  # the audit becomes the gate
        return out.filter(~F.col("contaminated")).drop("contaminated")
    return out


@_op(
    "dsir_weights", required=("target",), defaults=_ID,
    keys={**dict.fromkeys(_DOC_KEYS), "n_buckets": int, "alpha": float,
          "top_fraction": float},
)
def _dsir_weights(c, df, a):
    # the top_fraction cutoff comes from approx_percentile (mergeable
    # sketch — no global sort) and attaches via a 1-row broadcast
    from qcardia_data_spark.functions.selection import dsir_log_weights

    top = a.pop("top_fraction", None)
    scored = dsir_log_weights(df, F.expr(a.pop("target")), **a)
    out = df.join(scored, a["id_col"], "left")
    if top is None:
        return out
    thr = scored.agg(
        F.expr(f"approx_percentile(dsir_logw, {1.0 - top})").alias("_thr")
    )
    return (
        out.crossJoin(F.broadcast(thr))
        .filter(F.col("dsir_logw") >= F.col("_thr"))
        .drop("_thr")
    )


_engine(
    "chunk", "functions.text.chunk_documents", modes=_BOTH,
    keys={"id_col": None, "text_col": None, "chunk_tokens": int, "overlap": int},
)
# the merges table is part of the CONFIG (tokenizers ship as artifacts;
# spec compilation stays job-free): train once with functions.bpe.bpe_train
_engine(
    "bpe_encode", "functions.bpe.bpe_encode",
    required={"text_col": None, "merges": lambda m: [tuple(p) for p in m]},
    keys=("out",),
)
_engine(
    "pack_sequences", "functions.text.pack_sequences",
    required={"token_col": None, "seq_len": int, "by": None, "order": None},
)
_MIX = {"token_col": None, "key_col": None, "by": None, "total_budget": int}
_engine(
    "corpus_mix", "functions.text.corpus_mix", keys={"seed": int},
    required={**_MIX, "weights": lambda w: {str(k): float(v) for k, v in w.items()}},
)
_engine(
    "unimax_mix", "functions.text.unimax_mix", required=_MIX,
    keys={"max_epochs": float, "seed": int},
)
_engine(
    "alpha_mix", "functions.text.alpha_mix", required=_MIX,
    defaults={"alpha": 0.5}, keys={"alpha": float, "seed": int},
)


# -- dedup ladder -------------------------------------------------------

@_op(
    "near_dedup", required=_DOC_KEYS,
    keys={"keep_best": None, "score": None, "n_bands": int, "shingle_n": int,
          "threshold": float, "max_bucket_size": _opt(int),
          "star_rounds": int, "reliable_dir": None},
)
def _near_dedup(c, df, a):
    # keep_best: per-CLUSTER argmax-score winner (default score: token
    # count) instead of greedy min-id; its reliable_dir covers the
    # signature table AND the CC fixpoint. A null max_bucket_size disables
    # the boilerplate-bucket cap (exhaustive in-bucket pairs).
    from qcardia_data_spark.functions import dedup as D

    score = a.pop("score", None)
    if not a.pop("keep_best", False):
        return D.near_dedup_minhash(df, **a)
    if score is not None:
        a["score"] = F.expr(score)
    return D.near_dedup_keep_best(df, **a)


def _pair_op(name: str, target: str, keys: dict, defaults: dict, drop="b"):
    """Register an exact-pair dedup op over the engine's pair function
    ``target``: ``pairs_only`` returns the auditable pair list; otherwise
    anti-join away the ``drop`` side of every qualifying pair ("b" = the
    larger id; containment passes "a" — the contained smaller doc)."""

    def handler(c, df, a):
        pairs_only = a.pop("pairs_only", False)
        pairs = _resolve(target)(df, **a)
        if pairs_only:
            return pairs
        losers = pairs.select(F.col(drop).alias(a["id_col"])).distinct()
        return df.join(losers, a["id_col"], "left_anti")

    _op(name, keys=keys, defaults=defaults)(handler)


_PAIRS = {**dict.fromkeys(_DOC_KEYS), "pairs_only": None}
_EXACT_PAIRS = {**_PAIRS, "threshold": float, "shingle_n": int, "reliable_dir": None}
_WINNOW = {**_PAIRS, "k": int, "w": int, "min_shared": int, "max_df": int}
_pair_op("ngram_jaccard_dedup", "functions.dedup.ngram_jaccard_join", _EXACT_PAIRS, _DOC)
_pair_op(
    "containment_dedup", "functions.dedup.containment_join", _EXACT_PAIRS, _DOC,
    drop="a",
)
_pair_op("winnow_dedup", "functions.dedup.winnow_share_pairs", _WINNOW, _ID)
_pair_op(
    "winnow_near_pairs", "functions.dedup.winnow_near_pairs",
    {**_WINNOW, "threshold": float}, _ID,
)


@_op(
    "remove_spans", defaults=_DOC,
    keys={**dict.fromkeys(_DOC_KEYS), "k": int, "drop_empty": None},
)
def _remove_spans(c, df, a):
    from qcardia_data_spark.functions.dedup import remove_duplicate_spans

    drop_empty = a.pop("drop_empty", False)
    id_col, text_col = a["id_col"], a["text_col"]
    out = (
        df.drop(text_col)
        .join(remove_duplicate_spans(df, **a), id_col)
        .withColumnRenamed("clean_text", text_col)
    )
    return out.filter(F.length(text_col) > 0) if drop_empty else out


@_op(
    "fuzzy_join", required={"right": _side_spec, "col_l": None, "col_r": None},
    keys={"max_dist": int, "q": int},
)
def _fuzzy_join(c, df, a):
    from qcardia_data_spark.functions.dedup import fuzzy_string_join

    return fuzzy_string_join(df, c.side(a.pop("right")), **a)


@_op(
    "media_near_dup", defaults={**_DOC, "keep_frames": [0]},
    keys={**dict.fromkeys(_DOC_KEYS), "modality": None, "max_hamming": int,
          "fmt": None, "min_share": float, "keep_frames": list},
)
def _media_near_dup(c, df, a):
    # REPLACES the frame with the modality's near-duplicate pair table;
    # text max_hamming must satisfy the Manku engine's block rule (k in 1,
    # 3, 7, 15, 31)
    from qcardia_data_spark.sources import multimodal as MM

    modality = a.get("modality", "image")
    if modality == "text":
        from qcardia_data_spark.functions.dedup import simhash_near_pairs64

        return simhash_near_pairs64(df, **_pick(a, *_DOC_KEYS, "max_hamming"))
    if modality == "image":
        return MM.image_near_dup_pairs(df, **_pick(a, "fmt", "max_hamming"))
    if modality == "audio":
        return MM.audio_near_dup_pairs(
            MM.decode_audio(df), **_pick(a, "min_share", "max_hamming")
        )
    if modality == "video":
        return MM.video_near_dup_pairs(
            df, **_pick(a, "keep_frames", "min_share", "max_hamming")
        )
    raise SpecError(f"media_near_dup: unknown modality {modality!r}")


_engine("exact_dedup", "functions.dedup.exact_dedup", required=_DOC_KEYS)
# n_cells is the 100 TB knob: SemDeDup operates at ~N/1000 cells so the
# within-cell pairwise stage stays bounded
_engine(
    "semantic_dedup", "functions.dedup.semantic_dedup",
    keys={"n_cells": int, "threshold": float, "seed": int, "n_refine": int,
          "id_col": None, "vec_col": None},
)


# -- standing indexes ---------------------------------------------------
# The *_write / *_append ops persist a side artifact and pass the frame
# through unchanged.

_engine(
    "signature_index_write", "functions.dedup.write_signature_index",
    through=True, required=("path",), defaults=_DOC,
    keys={**dict.fromkeys(_DOC_KEYS), "n_bands": int, "shingle_n": int,
          "n_sig_buckets": _buckets, "n_id_buckets": _buckets, "mode": None},
)
# Unset signature knobs come from the index's own manifest; a spec that
# DOES pin them gets the refuse-loudly drift validation of the callee.
_engine(
    "near_dedup_incremental", "functions.dedup.near_dedup_incremental",
    required=("index_path",), defaults=_DOC,
    keys={**dict.fromkeys(_DOC_KEYS), "n_bands": _opt(int),
          "shingle_n": _opt(int), "threshold": float,
          "n_sig_buckets": _opt(int), "n_id_buckets": _opt(int),
          "max_bucket_size": _opt(int), "star_rounds": int,
          "update_index": bool, "allow_replay": bool},
)
_engine(
    "winnow_index_write", "functions.dedup.write_winnow_index",
    through=True, required=("path",), defaults=_DOC,
    keys={**dict.fromkeys(_DOC_KEYS), "k": int, "w": int,
          "n_fp_buckets": _buckets, "mode": None},
)
_engine(
    "winnow_incremental", "functions.dedup.winnow_incremental",
    required=("index_path",),
    keys={**dict.fromkeys(_DOC_KEYS), "min_shared": int, "max_df": int,
          "update_index": bool, "allow_replay": bool},
)
_engine(
    "inverted_index_write", "functions.retrieval.build_inverted_index",
    through=True, required=("path",),
    keys={**dict.fromkeys(_DOC_KEYS), "n_buckets": int},
)
_engine(
    "positional_index_write", "functions.retrieval.build_positional_index",
    through=True, required=("path",),
    keys={**dict.fromkeys(_DOC_KEYS), "n_buckets": int},
)
# every derived quantity (planes/centroids/codebooks/normalize/residual)
# comes from the index's own meta; same-id-guarded, so retries are no-ops
_engine(
    "ann_index_append", "functions.similarity.ann_index_append",
    through=True, required=("index_path",), keys=("id_col", "vec_col"),
    rename={"index_path": "path"},
)


@_op(
    "hamming_index_write", required=("path",), defaults=_DOC,
    keys={**dict.fromkeys(_DOC_KEYS), "max_hamming": int,
          "n_key_buckets": _buckets, "mode": None},
)
def _hamming_index_write(c, df, a):
    from qcardia_data_spark.functions import dedup as D

    D.write_hamming64_index(
        D.simhash64_md5_table(df, a["id_col"], a.pop("text_col")), **a
    )
    return df


@_op(
    "hamming_probe", required=("index_path",), defaults=_DOC,
    keys={**_PAIRS, "update_index": bool, "allow_replay": bool},
)
def _hamming_probe(c, df, a):
    # pairs_only (default) returns (a, b, hamming); otherwise drops every
    # frame row with a LOWER-id partner (min-id greedy dedup)
    from qcardia_data_spark.functions import dedup as D

    pairs_only = a.pop("pairs_only", True)
    id_col = a["id_col"]
    sig = D.simhash64_md5_table(df, id_col, a.pop("text_col"))
    pairs = D.hamming64_index_probe(sig.localCheckpoint(eager=True), **a)
    if pairs_only:
        return pairs
    losers = (
        pairs.filter(F.col("b") < F.col("a"))
        .select(F.col("a").alias(id_col)).distinct()
    )
    return df.join(losers, id_col, "left_anti")


@_op(
    "ann_index_write", required=("path",),
    keys={"kind": None, "n_planes": int, "n_cells": int, "m": int,
          "k_codes": int, "seed": int, "n_refine": int, "id_col": None,
          "vec_col": None, "normalize": bool, "residual": bool},
)
def _ann_index_write(c, df, a):
    from qcardia_data_spark.functions import similarity as S

    kind = a.pop("kind", "lsh")
    common = ("path", "seed", "id_col", "vec_col")
    if kind == "lsh":
        S.lsh_write_partitioned(df, **_pick(a, *common, "n_planes"))
    elif kind == "ivf":
        S.ivf_write_partitioned(df, **_pick(a, *common, "n_cells", "n_refine"))
    elif kind == "ivfpq":
        a.pop("n_planes", None)
        S.ivfpq_write_partitioned(df, **a)
    else:
        raise SpecError(f"ann_index_write: unknown kind {kind!r}")
    return df


@_op(
    "ann_probe", required=("index_path",),
    defaults={"id_col": "vec_id", "id_right": "vec_id", "vec_col": "embedding"},
    keys={"k": int, "id_col": None, "id_right": None, "vec_col": None,
          "n_flip": int, "query_id": None, "n_probe": int},
)
def _ann_probe(c, df, a):
    # the index kind and its build params are read from the index's OWN
    # meta file, so a spec can never sign/bucket differently than the
    # index it probes
    from qcardia_data_spark.functions import similarity as S
    from qcardia_data_spark.sources import readers

    path = a["index_path"]
    # one manifest read picks the kind; absence-only None: a
    # permission/corrupt read of a real index raises instead of
    # mis-dispatching the op (ADVICE r9)
    meta = readers.read_meta_json(c.spark, path)
    ann_kind = meta["kind"] if meta else None
    id_col = a["id_col"]
    if ann_kind == "lsh":
        if id_col == a["id_right"]:
            # probe batch and index share the id name (the common
            # self-join case): disambiguate the probe side — output
            # columns become (<id>_probe, <id>, score)
            df = df.withColumnRenamed(id_col, f"{id_col}_probe")
            id_col = f"{id_col}_probe"
        return S.pairwise_topk_join_pruned(
            df, path, id_left=id_col,
            **_pick(a, "k", "id_right", "vec_col", "n_flip"),
        )
    if ann_kind in ("ivfpq", "ivf"):
        if "query_id" not in a:
            raise SpecError("ann_probe (ivf/ivfpq): 'query_id' required")
        row = df.filter(F.col(id_col) == a["query_id"]).select(
            a["vec_col"]
        ).first()  # bounded: one query row
        if row is None:
            raise SpecError(f"ann_probe: query_id {a['query_id']!r} not in frame")
        if ann_kind == "ivfpq":
            return S.ann_ivfpq_topk_pruned(
                c.spark, path, row[0], id_col=id_col, **_pick(a, "k", "n_probe")
            )
        return S.ann_ivf_topk_from_meta(
            c.spark, path, row[0], id_col=id_col,
            **_pick(a, "k", "n_probe", "vec_col"),
        )
    raise SpecError(
        f"ann_probe: no lsh, ivfpq or ivf _meta.json under {path!r} — not "
        "an ANN index written by ann_index_write/lsh_write_partitioned/"
        "ivf_write_partitioned/ivfpq_write_partitioned"
    )


# -- similarity / retrieval ---------------------------------------------

_engine(
    "diversity_sample", "functions.similarity.diversity_sample",
    required={"n_per_bucket": int},
    keys={"id_col": None, "vec_col": None, "n_planes": int, "seed": int,
          "dim": int},
)
_engine(
    "random_projection", "functions.similarity.random_projection",
    keys={"out_dim": int, "seed": int, "vec_col": None, "out": None, "dim": int},
)


def _refuse_taken(df: DataFrame, col: str, op: str) -> None:
    # refuse-loudly: the op appends a fixed column; joining it onto a frame
    # that already has one yields an AMBIGUOUS duplicate that only explodes
    # downstream (r11 review)
    if any(name.casefold() == col for name in df.columns):
        raise SpecError(
            f"{op}: the frame already has a {col!r} column — rename it "
            "upstream (the op appends its own)"
        )


@_op(
    "bm25_topk", required={"terms": list}, defaults=_ID,
    keys={**dict.fromkeys(_DOC_KEYS), "k": int, "k1": float, "b": float,
          "path": None, "n_buckets": int},
)
def _bm25_topk(c, df, a):
    # the k-row result broadcasts back onto the pipeline frame. With
    # "path" the scores come off a standing inverted index (reads ONLY the
    # query terms' bucket dirs; an unset n_buckets = the index's own
    # recorded layout); without it, one scan of the frame itself.
    from qcardia_data_spark.functions import retrieval as R

    _refuse_taken(df, "score", "bm25_topk")
    terms, id_col = a.pop("terms"), a["id_col"]
    if "path" in a:
        a.pop("text_col", None)
        sel = R.bm25_topk_from_index(c.spark, a.pop("path"), terms, **a)
    else:
        a.pop("n_buckets", None)
        sel = R.bm25_topk(df, terms, **a)
    return df.join(F.broadcast(sel.select(id_col, "score")), id_col)


@_op(
    "phrase_search", required={"phrase": list}, defaults=_ID,
    keys={**dict.fromkeys(_DOC_KEYS), "path": None, "n_buckets": int},
)
def _phrase_search(c, df, a):
    # the bm25_topk convention: the per-doc (id, n_hits) result broadcasts
    # back onto the frame (docs without the phrase drop); "path" probes a
    # standing positional index, value-identical to the scan form
    from qcardia_data_spark.functions import retrieval as R

    _refuse_taken(df, "n_hits", "phrase_search")
    if "path" in a:
        a.pop("text_col", None)
        hits = R.phrase_occurrences_from_index(c.spark, **a)
    else:
        a.pop("n_buckets", None)
        hits = R.phrase_occurrences(df, **a)
    return df.join(F.broadcast(hits), a["id_col"])


# -- sketches / statistics ----------------------------------------------

@_op(
    "hll_registers", required=("value_col",), defaults={"keys": []},
    keys={"keys": list, "p": int, "merge_to": dict},
)
def _hll_registers(c, df, a):
    # merge_to max-merges the per-group registers into ONE rolled-up
    # sketch labeled by the literals
    from qcardia_data_spark.functions import sketches as SK

    merge_to = a.pop("merge_to", None)
    regs = SK.hll_registers(df, **a)
    return regs if merge_to is None else SK.hll_merge(regs, merge_to)


@_op(
    "cms_sketch", required=("value_col",), defaults={"keys": []},
    keys={"keys": list, "depth": int, "width": int, "merge_to": dict},
)
def _cms_sketch(c, df, a):
    # depth/width must match between build and cms_lookup
    from qcardia_data_spark.functions import sketches as SK

    merge_to = a.pop("merge_to", None)
    sk = SK.cms_table(df, **a)
    return sk if merge_to is None else SK.cms_merge(sk, merge_to)


@_op(
    "cms_lookup", required={"probes": _side_spec, "value_col": None},
    defaults={"keys": []}, keys={"keys": list, "width": int},
)
def _cms_lookup(c, df, a):
    # Keep the probe side small: it is expanded ×depth (broadcast
    # depth-row cross) before the key-partitioned estimate join.
    from qcardia_data_spark.functions import sketches as SK

    return SK.cms_lookup(df, c.side(a.pop("probes")), **a)


# the frame must BE a register table and p its build p (the estimator's
# m = 2^p replays it)
_engine(
    "hll_estimate", "functions.sketches.hll_estimate",
    defaults={"keys": []}, keys={"keys": list, "p": int},
)
_engine(
    "heavy_hitters", "functions.sketches.heavy_hitters",
    required=("col",), keys={"k": int, "m": int},
)


@_op(
    "drift", required={"against": _side_spec, "col": None},
    keys={"stat": None, "edges": _floats, "smooth": float, "n_coarse": int},
)
def _drift(c, df, a):
    from qcardia_data_spark.functions import drift as DR

    stat, col = a.get("stat", "psi"), a["col"]
    if stat == "psi" and "edges" not in a:
        raise SpecError("drift: stat 'psi' (the default) needs 'edges'")
    other = c.side(a.pop("against"))
    if stat == "psi":
        return DR.psi_buckets(df, other, col, a["edges"], **_pick(a, "smooth"))
    if stat == "chisq":
        return DR.chi_square_drift(df, other, col)
    if stat == "ks":
        return DR.ks_statistic(df, other, col, **_pick(a, "n_coarse"))
    raise SpecError(f"drift: unknown stat {stat!r} (psi|chisq|ks)")


# -- time series / events -----------------------------------------------
# The frame must carry an int64 epoch-seconds column (ts_s; build one
# upstream with with_columns + unix_timestamp — the NTZ-safe idiom),
# except for the order-free value_histogram / mad_outliers. Each REPLACES
# the frame with the result table; ewma keeps it and appends a column.

_engine(
    "gapfill_interpolate", "operators.timeseries.gapfill_interpolate",
    required=("key",), defaults=_TS, rename=_TS_NAMES,
    keys={"ts_s": None, "value_col": None, "tiebreak": None, "bucket_s": int},
)
_engine(
    "lttb_downsample", "operators.timeseries.lttb_downsample",
    required=("key",), defaults=_TS, rename=_TS_NAMES,
    keys={"ts_s": None, "value_col": None, "tiebreak": None, "bucket_s": int},
)
_engine(
    "trend_stats", "operators.timeseries.trend_stats",
    required=("key",), defaults=_TS, rename=_TS_NAMES,
    keys=("ts_s", "value_col"),
)
_engine(
    "heartbeat_uptime", "operators.timeseries.heartbeat_uptime",
    required=("key",), defaults=_TS, rename=_TS_NAMES,
    keys={"ts_s": None, "tiebreak": None, "liveness_s": int},
)
_engine(
    "value_histogram", "operators.timeseries.value_histogram",
    required=("key",), defaults=_TS, rename=_TS_NAMES,
    keys={"value_col": None, "bin_width_cents": int, "n_bins": int},
)
# tiebreak defaults to event_id like the sibling ts ops: tied timestamps
# without a total order make the lag chain nondeterministic run-to-run
_engine(
    "ewma", "operators.timeseries.ewma_truncated",
    required=("key",), defaults=_TS, rename={"ts_s": "ts"},
    keys={"ts_s": None, "value_col": None, "alpha": float, "lags": int,
          "tiebreak": None},
)
_engine(
    "mad_outliers", "operators.timeseries.mad_outliers", required=("key",),
    defaults={"value_col": "value", "id_col": "event_id"},
    keys={"value_col": None, "id_col": None, "cutoff": float},
)


# -- graph (over an edge-shaped frame) ----------------------------------

_EDGES = {"src": None, "dst": None}
_engine("triangle_count", "functions.graph.triangle_count", keys=_EDGES)
_engine(
    "pagerank", "functions.graph.pagerank",
    keys={**_EDGES, "damping": float, "iters": int, "reliable_dir": None},
)
# large-star/small-star alternation: O(log n) rounds for ANY diameter;
# reliable_every persists the per-round edge frame every k rounds
_engine(
    "connected_components", "functions.graph.connected_components_star",
    keys={**_EDGES, "max_rounds": int, "reliable_dir": None,
          "reliable_every": int},
)
_engine(
    "kcore", "functions.graph.kcore_rounds",
    keys={**_EDGES, "k": int, "rounds": int, "reliable_dir": None},
)


def _graph_sources(df: DataFrame, a: dict) -> DataFrame:
    """The source nodes of bfs_hops / sssp: ``sources_where`` is a SQL
    predicate over the derived ``node`` column."""
    nodes = (
        df.select(F.col(a["src"]).alias("node"))
        .unionByName(df.select(F.col(a["dst"]).alias("node")))
        .distinct()
    )
    return nodes.filter(F.expr(a.pop("sources_where")))


@_op(
    "bfs_hops", required=("sources_where",), defaults={"src": "src", "dst": "dst"},
    keys={**_EDGES, "max_hops": int, "reliable_dir": None},
)
def _bfs_hops(c, df, a):
    from qcardia_data_spark.functions import graph as G

    sources = _graph_sources(df, a)
    return G.bfs_hops(df, sources, **a)


@_op(
    "sssp", required=("sources_where",), defaults={"src": "src", "dst": "dst"},
    keys={**_EDGES, "weight": None, "rounds": int, "reliable_dir": None},
)
def _sssp(c, df, a):
    from qcardia_data_spark.functions import graph as G

    sources = _graph_sources(df, a)
    return G.sssp_rounds(df, sources, **a)


# -- warehouse / maintenance --------------------------------------------

_engine(
    "scd2", "functions.cdc.scd2_from_changes",
    required={"key": None, "ts": None, "attrs": list}, keys=("tiebreak",),
)
# params frozen in the table's manifest at init
_engine(
    "upsert_table_write", "functions.cdc.upsert_write_partitioned",
    through=True, required=("path", "key", "ts"), keys={"n_buckets": _buckets},
)


@_op("merge_upsert", required=("path",), keys=("tiebreak",))
def _merge_upsert(c, df, a):
    # key/ts/bucketing come from the table's OWN manifest, so spec and
    # table can never drift; downstream ops see the post-merge table
    from qcardia_data_spark.functions import cdc

    cdc.merge_upsert_partitioned(c.spark, updates=df, **a)
    return cdc.read_upsert_table(c.spark, a["path"])


@_op("upsert_log_append", required=("path",), keys={"batch_id": _opt(int)})
def _upsert_log_append(c, df, a):
    # the frame passes through unchanged so appends chain
    from qcardia_data_spark.functions import cdc

    cdc.upsert_append_batch(c.spark, updates=df, **a)
    return df


@_op(
    "read_as_of", opens=True, required=("path",),
    keys={"batch": _opt(int), "tiebreak": None},
)
def _read_as_of(c, df, a):
    from qcardia_data_spark.functions import cdc

    return cdc.read_upsert_as_of(c.spark, **a)


@_op(
    "table_diff", opens=True, required={"path": None, "before_batch": int},
    keys={"after_batch": _opt(int), "compare": _opt(list), "tiebreak": None},
)
def _table_diff(c, df, a):
    from qcardia_data_spark.functions import cdc

    path, tb = a["path"], _pick(a, "tiebreak")
    meta = cdc._require_meta(c.spark, path, "spec:table_diff")
    before = cdc.read_upsert_as_of(c.spark, path, batch=a["before_batch"], **tb)
    after = cdc.read_upsert_as_of(
        c.spark, path, **tb, **_pick(a, batch="after_batch")
    )
    return cdc.table_diff(before, after, meta["key"], **_pick(a, "compare"))


@_op(
    "compact_upsert_log", opens=True, required=("path",),
    keys={"up_to": _opt(int), "tiebreak": None},
)
def _compact_upsert_log(c, df, a):
    # downstream sees the (unchanged) current state
    from qcardia_data_spark.functions import cdc

    cdc.compact_upsert_log(c.spark, **a)
    return cdc.read_upsert_as_of(c.spark, a["path"], **_pick(a, "tiebreak"))


@_op("zorder_write", required=("path", "buckets"), keys={"bits": None, "n_files": int})
def _zorder_write(c, df, a):
    # materialization boundary like "cache", but Z-ordered: downstream
    # filters on ANY bucket column prune at file/row-group level
    from qcardia_data_spark.plans.layout import zorder_write

    buckets = {name: F.expr(e) for name, e in a.pop("buckets").items()}
    zorder_write(df, a["path"], buckets, **_pick(a, "bits", "n_files"))
    return c.spark.read.parquet(a["path"])


@_op("compact", required=("src", "dst"), keys={"target_mb": int, "order_by": None})
def _compact(c, df, a):
    # acts on its named src directory, not the pipeline frame; downstream
    # ops read the compacted table
    from qcardia_data_spark.plans.layout import compact_files

    compact_files(c.spark, **a)
    return c.spark.read.parquet(a["dst"])


# -- streaming ----------------------------------------------------------

@_op("watermark", modes=_STREAM, required=("col", "delay"))
def _watermark(c, df, a):
    from qcardia_data_spark.streaming.events import _watermarked

    return _watermarked(df, a["col"], a["delay"])


def _windowed(df: DataFrame, a: dict, win: Column, bounds: dict) -> DataFrame:
    by = a.get("by", [])
    aggs = [F.expr(e).alias(name) for name, e in a["aggs"].items()]
    return df.groupBy(win.alias("w"), *[F.col(b) for b in by]).agg(*aggs).select(
        *[F.col(f"w.{f}").alias(out) for f, out in bounds.items()],
        *by, *[F.col(n) for n in a["aggs"]],
    )


@_op(
    "window_agg", modes=_STREAM, required=("col", "width", "aggs"),
    keys=("by", "slide"),
)
def _window_agg(c, df, a):
    win = F.window(a["col"], a["width"], **_pick(a, slideDuration="slide"))
    return _windowed(df, a, win, {"start": "window_start"})


@_op("session_agg", modes=_STREAM, required=("col", "gap", "aggs"), keys=("by",))
def _session_agg(c, df, a):
    # requires a prior watermark op (Spark enforces it at start)
    win = F.session_window(a["col"], a["gap"])
    return _windowed(df, a, win, {"start": "sess_start", "end": "sess_end"})


@_op(
    "stream_dedup", modes=_STREAM, required={"keys": list},
    keys=("within_watermark",),
)
def _stream_dedup(c, df, a):
    # first-per-key (state expires with the watermark) or exact
    # re-delivery collapse; requires a prior watermark op
    if a.get("within_watermark", True):
        return df.dropDuplicatesWithinWatermark(a["keys"])
    return df.dropDuplicates(a["keys"])


@_op(
    "stream_join", modes=_STREAM, required={"right": _pipe, "cond": None},
    keys=("how",),
)
def _stream_join(c, df, a):
    # Each side carries its own watermark op, and the condition must
    # include the event-time bound so Spark can size and expire the join
    # state (Spark enforces both at stream start — the canonical
    # attribution-join shape, streaming/events.attribution_join).
    return df.join(c.compile(a["right"]), F.expr(a["cond"]), a.get("how"))
