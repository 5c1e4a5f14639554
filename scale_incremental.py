#!/usr/bin/env python
"""Incremental-path scaling yardstick (VERDICT r12 stretch #7): measure
the STANDING-INDEX append paths — `near_dedup_incremental` against a
persisted signature index and `ann_index_append` against a persisted LSH
index — at 1x/2x/4x the standing corpus with FIXED batches. The batch
dedup/ANN families all carry measured 1x/2x/4x tables (winnow r8, PPJoin
r11, MinHash-LSH + ANN pairwise r12); the append paths had only the
probe-identical-to-full-build equality proofs. The claim to verify:
append cost is O(batch), ~flat in standing-index size.

Corpora are the existing yardsticks' replicas, reused verbatim:
- documents: scale_ppjoin._build (alphabet-permuted replica blocks,
  ids offset by 100M per block — monotone, so a batch at id offset 1e9
  satisfies the incremental path's monotone-id ratchet at every scale).
- embeddings: scale_ann._build (Rademacher sign-pattern replicas).

The FIXED batches derive from the 1x base (identity permutation /
identity signs), so their true-duplicate relationship to the index is
the SAME at every scale (near-dups live in replica block 0, present in
all three indexes) — growth in append time/read volume can then only
come from index size, the variable under test.

TWO panels per family, because partition pruning has a geometry:
- BIG batch (2000 docs / 5000 vecs) against default-bucket indexes —
  the batch's signatures touch EVERY partition directory, so the probe's
  read volume is O(index) no matter how "pruned" the scan is. This
  panel measures the O(batch) work term and makes the saturation
  honest (buckets_probed == buckets_total in the output).
- SMALL batch (8 docs / 64 vecs) against indexes whose bucket count
  GROWS with the corpus (n_sig_buckets="auto" — the writer's own
  corpus-sized knob since r14, which resolves to the r13 panel's manual
  512·scale geometry at these corpora; ANN auto_n_planes)
  — the 100 TB sizing rule. Per-bucket occupancy is then ~constant and
  the batch touches a bounded set of directories, so the absolute read
  volume should be FLAT across 1x/2x/4x. That flatness IS the measured
  form of "append cost is independent of standing-index size".

Instrumentation replays the production paths' own bucket derivations
(same helpers) and counts index rows inside the probed partitions — the
true post-pruning read volume.

Prints one JSON line per (family, panel, scale) and a final summary.
Run idle (bench_common load guard); run bench_ext.py once first.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from scale_ppjoin import BASE as DOC_BASE
from scale_ppjoin import _build as _build_docs
from scale_ppjoin import _perms

EMB_BASE = "/tmp/qds_ext_corpus_v1/embeddings.parquet"
WORK = "/tmp/qds_incr_scale_v1"
DOC_BATCH_BIG, DOC_BATCH_SMALL = 2000, 8
VEC_BATCH_BIG, VEC_BATCH_SMALL = 5000, 64
N_BANDS = 8
SHINGLE_N = 3


def main() -> None:
    from pyspark.sql import functions as F

    from bench_common import host_state, wait_for_idle_host
    from qcardia_data_spark import get_spark
    from qcardia_data_spark.functions.dedup import (
        _band_signature_frame,
        _sig_bucket,
        near_dedup_incremental,
        shingle_rows,
        winnow_incremental,
        write_signature_index,
        write_winnow_index,
    )
    from qcardia_data_spark.sources.readers import read_meta_json
    from qcardia_data_spark.functions.similarity import (
        ann_index_append,
        auto_n_planes,
        hyperplane_bucket,
        lsh_write_partitioned,
    )
    from scale_ann import _build as _build_emb

    host_before, guard = wait_for_idle_host(host_state())
    if not os.path.isdir(DOC_BASE) or not os.path.isdir(EMB_BASE):
        raise SystemExit("run bench_ext.py first (builds the 1x corpus)")
    perms = _perms()
    spark = get_spark(app_name="qds-incr-scale")
    results = []

    def _doc_batch(n):
        return (
            spark.read.parquet(DOC_BASE)
            .orderBy("doc_id")
            .limit(n)
            .select((F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text")
            .localCheckpoint(eager=True)
        )

    def _vec_batch(n):
        return (
            spark.read.parquet(EMB_BASE)
            .orderBy("vec_id")
            .limit(n)
            .select((F.col("vec_id") + 1_000_000_000).alias("vec_id"),
                    "embedding")
            .localCheckpoint(eager=True)
        )

    batches = {
        "doc_big": _doc_batch(DOC_BATCH_BIG),
        "doc_small": _doc_batch(DOC_BATCH_SMALL),
        "vec_big": _vec_batch(VEC_BATCH_BIG),
        "vec_small": _vec_batch(VEC_BATCH_SMALL),
    }

    def _dedup_row(scale, n_docs, docs, panel, batch, batch_n, n_sig_buckets):
        idx = os.path.join(WORK, f"sigidx_{scale}x_{panel}")
        shutil.rmtree(idx, ignore_errors=True)  # fresh build per run
        t0 = time.perf_counter()
        write_signature_index(
            docs, "doc_id", "text", idx,
            n_bands=N_BANDS, shingle_n=SHINGLE_N,
            n_sig_buckets=n_sig_buckets,
        )
        build_sec = time.perf_counter() - t0
        requested = n_sig_buckets
        if n_sig_buckets == "auto":  # r14: the writer sizes; read it back
            n_sig_buckets = read_meta_json(spark, idx, "sig")["n_sig_buckets"]
        t0 = time.perf_counter()
        survivors = near_dedup_incremental(
            batch, idx, "doc_id", "text", update_index=False
        ).count()
        probe_sec = time.perf_counter() - t0
        bsigs = _band_signature_frame(
            shingle_rows(batch, "doc_id", "text", SHINGLE_N),
            "doc_id", N_BANDS,
        ).withColumn("sig_bucket", _sig_bucket(F.col("sig"), n_sig_buckets))
        probed = [r["sig_bucket"] for r in
                  bsigs.select("sig_bucket").distinct().collect()]
        read_rows = (
            spark.read.parquet(f"{idx}/sigs")
            .filter(F.col("sig_bucket").isin(probed))
            .count()
        )
        return {
            "family": "dedup_incremental", "panel": panel, "scale": scale,
            "index_docs": n_docs, "batch_docs": batch_n,
            "n_sig_buckets": n_sig_buckets, "buckets_requested": requested,
            "build_sec": round(build_sec, 2),
            "append_sec": round(probe_sec, 2),
            "survivors": survivors,
            "index_rows_in_probed_buckets": read_rows,
            "buckets_probed": len(probed), "buckets_total": n_sig_buckets,
        }

    def _winnow_row(scale, n_docs, docs, batch, batch_n):
        # r14: the MOSS-tier standing index's append path, measured under
        # the writer's own "auto" bucket sizing (the signature panel's
        # twin — fp buckets grow with the corpus, so the fixed batch's
        # probed read volume should stay flat across 1x/2x/4x)
        from qcardia_data_spark.functions.text import winnow_fingerprints

        idx = os.path.join(WORK, f"winidx_{scale}x")
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        write_winnow_index(docs, "doc_id", "text", idx, n_fp_buckets="auto")
        build_sec = time.perf_counter() - t0
        n_fp_buckets = int(read_meta_json(spark, idx, "win")["n_fp_buckets"])
        t0 = time.perf_counter()
        survivors = winnow_incremental(
            batch, idx, "doc_id", "text", update_index=False
        ).count()
        probe_sec = time.perf_counter() - t0
        bfps = (
            winnow_fingerprints(batch, "doc_id", "text")
            .select(_sig_bucket(F.col("fp"), n_fp_buckets).alias("fp_bucket"))
            .distinct()
        )
        probed = [r["fp_bucket"] for r in bfps.collect()]
        read_rows = (
            spark.read.parquet(f"{idx}/fps")
            .filter(F.col("fp_bucket").isin(probed))
            .count()
        )
        return {
            "family": "winnow_incremental", "panel": "small", "scale": scale,
            "index_docs": n_docs, "batch_docs": batch_n,
            "n_fp_buckets": n_fp_buckets, "buckets_requested": "auto",
            "build_sec": round(build_sec, 2),
            "append_sec": round(probe_sec, 2),
            "survivors": survivors,
            "index_rows_in_probed_buckets": read_rows,
            "buckets_probed": len(probed), "buckets_total": n_fp_buckets,
        }

    def _ann_row(scale, n_vecs, emb, panel, batch, batch_n, planes):
        idx = os.path.join(WORK, f"annidx_{scale}x_{panel}")
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.perf_counter()
        lsh_write_partitioned(emb, idx, n_planes=planes, seed=0)
        build_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        appended = ann_index_append(batch, idx)
        append_sec = time.perf_counter() - t0
        bb = [
            r["bucket"]
            for r in batch.select(
                hyperplane_bucket(F.col("embedding"), planes, 0, 64)
                .alias("bucket")
            ).distinct().collect()
        ]
        # count BEFORE-append rows in the probed dirs: exclude the batch's
        # own just-appended ids so the metric is the existence-check's
        # read volume against the standing index
        aread = (
            spark.read.parquet(idx)
            .filter(F.col("bucket").isin(bb))
            .filter(F.col("vec_id") < 1_000_000_000)
            .count()
        )
        return {
            "family": "ann_index_append", "panel": panel, "scale": scale,
            "index_vecs": n_vecs, "batch_vecs": batch_n, "n_planes": planes,
            "build_sec": round(build_sec, 2),
            "append_sec": round(append_sec, 2),
            "appended": appended,
            "index_rows_in_probed_buckets": aread,
            "buckets_probed": len(bb), "buckets_total": 2 ** planes,
        }

    for scale in (1, 2, 4):
        docs = spark.read.parquet(_build_docs(scale, perms))
        n_docs = docs.count()
        emb = spark.read.parquet(_build_emb(spark, scale))
        n_vecs = emb.count()

        # BIG panel: default buckets — O(batch) work term, saturation honest
        row = _dedup_row(scale, n_docs, docs, "big",
                         batches["doc_big"], DOC_BATCH_BIG, 64)
        results.append(row)
        print(json.dumps(row), flush=True)
        row = _ann_row(scale, n_vecs, emb, "big",
                       batches["vec_big"], VEC_BATCH_BIG, 6)
        results.append(row)
        print(json.dumps(row), flush=True)

        # SMALL panel: buckets grow with the corpus (the 100 TB sizing
        # rule) — absolute read volume should be FLAT across scales
        # r14 (VERDICT r13 #2): the sizing rule is now the writer's own
        # "auto" knob — at this corpus it must resolve to the r13 panel's
        # manual 512*scale geometry (auto_index_buckets replays it)
        row = _dedup_row(scale, n_docs, docs, "small",
                         batches["doc_small"], DOC_BATCH_SMALL, "auto")
        results.append(row)
        print(json.dumps(row), flush=True)
        row = _ann_row(scale, n_vecs, emb, "small",
                       batches["vec_small"], VEC_BATCH_SMALL,
                       auto_n_planes(n_vecs))
        results.append(row)
        print(json.dumps(row), flush=True)
        row = _winnow_row(scale, n_docs, docs, batches["doc_small"],
                          DOC_BATCH_SMALL)
        results.append(row)
        print(json.dumps(row), flush=True)

    print(json.dumps({
        "metric": "incremental_append_scaling",
        "host": {"before": host_before, "load_guard": guard},
        "rows": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
    # own artifacts only (the scale_minhash lesson, ADVICE r12): the doc
    # and embedding replica caches belong to scale_ppjoin / scale_ann
    shutil.rmtree(WORK, ignore_errors=True)
