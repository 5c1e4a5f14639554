"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed and
sizes give byte-identical inputs. Outputs are cached on disk under
``<root>/<recipe key>`` and reused while ``RECIPE`` and the arguments are
unchanged; bump ``RECIPE`` whenever a generator changes.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RECIPE = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "hot", "large", "new", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "rod", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64

# cine volumes: the reference's published workload shape (BASELINE.md)
CINE_H, CINE_W, CINE_FRAMES = 256, 256, 25


def _cached(root: str, key: str, build) -> str:
    """Run ``build(tmp_dir)`` once per key; a ``_DONE`` marker makes a
    half-written directory from an interrupted run count as absent."""
    out = os.path.join(root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    os.rename(tmp, out)
    return out


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]


def documents_frame(rng, ids: np.ndarray) -> pd.DataFrame:
    text = _texts(rng, len(ids))
    return pd.DataFrame({
        "doc_id": ids.astype(np.int64),
        "text": text,
        "lang": rng.choice(LANGS, len(ids), p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, len(ids))],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def near_duplicate(rng, text: str) -> str:
    """A rotation of ``text`` with one token replaced: most 3-shingles
    survive, so MinHash at threshold 0.6 pairs it with its original."""
    toks = text.split()
    r = int(rng.integers(1, len(toks)))
    toks = toks[r:] + toks[:r]
    toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def _tables(out: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    p = lambda t: os.path.join(out, f"{t}.parquet")  # noqa: E731

    _write(pd.DataFrame({"r_regionkey": i32(range(5)), "r_name": REGIONS}), p("region"))
    _write(pd.DataFrame({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    }), p("nation"))
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), p("customer"))
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), p("supplier"))
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }), p("part"))
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }), p("orders"))
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    }), p("lineitem"))
    gaps = rng.exponential(26.0, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(int(15_000 * sf), 50), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), p("events"))
    _write(documents_frame(rng, np.arange(n_doc)), p("documents"))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                      "embedding": list(vecs), "label": i32(labels)}),
        p("embeddings"),
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
    )


def tables(root: str, seed: int, sf: float) -> str:
    """The ten-table catalog (TPC-H-shaped star schema plus events,
    documents and embeddings) at scale factor ``sf``."""
    return _cached(root, f"tables_r{RECIPE}_sf{sf}_s{seed}",
                   lambda out: _tables(out, seed, sf))


def _cine(out: str, seed: int, n_subjects: int, h: int, w: int, frames: int) -> None:
    from qcardia_data_spark.sources.nifti import encode_nifti1

    rng = np.random.default_rng([seed, 3])
    y, x = np.mgrid[0:h, 0:w].astype(np.float32)
    for i in range(n_subjects):
        # smooth, compressible cine (like anatomy, not noise: gzip ratio
        # drives decode time); seeded per-subject phase, radius and centre
        off, rad = rng.uniform(0, 2 * np.pi), rng.uniform(0.12, 0.2) * h
        cx, cy = w / 2 + rng.uniform(-0.05, 0.05) * w, h / 2 + rng.uniform(-0.05, 0.05) * h
        vol = np.empty((h, w, frames), dtype=np.float32)
        for t in range(frames):
            phase = 2 * np.pi * t / frames
            r = np.hypot(x - cx - 0.04 * w * np.sin(phase + off), y - cy)
            vol[:, :, t] = np.exp(-((r - rad - 0.02 * h * np.cos(phase)) ** 2) / (0.003 * h * w))
        with open(os.path.join(out, f"subj{i:04d}.nii.gz"), "wb") as f:
            f.write(encode_nifti1(vol, np.eye(4), compress=True))


def cine(root: str, seed: int, n_subjects: int,
         h: int = CINE_H, w: int = CINE_W, frames: int = CINE_FRAMES) -> str:
    """``n_subjects`` 4-D cine ``.nii.gz`` volumes of ``h×w×frames``."""
    return _cached(root, f"cine_r{RECIPE}_n{n_subjects}_{h}x{w}x{frames}_s{seed}",
                   lambda out: _cine(out, seed, n_subjects, h, w, frames))


def op_script(seed: int, queries: list[str], probes: int,
              appends: int, n_cycles: int) -> list[tuple[str, str, int]]:
    """The interactive session's op sequence: ``n_cycles`` cycles, each
    holding every query once, ``probes`` BM25 probes (alternating over
    the two term sets) and ``appends`` appends, in a seeded order. Op
    shares and probe arguments are fixed by the cycle; only the order
    depends on the seed. Returns ``(kind, name, arg)`` triples; ``arg``
    selects the probe's term set (0 or 1) and numbers appends
    monotonically."""
    rnd = random.Random(seed)
    script, n_app = [], 0
    for _ in range(n_cycles):
        cycle = [("query", q, 0) for q in queries]
        cycle += [("probe", "bm25", j % 2) for j in range(probes)]
        for _ in range(appends):
            cycle.append(("append", "near_dedup_incremental", -1))
        rnd.shuffle(cycle)
        for kind, name, arg in cycle:
            if kind == "append":
                arg, n_app = n_app, n_app + 1
            script.append((kind, name, arg))
    return script
