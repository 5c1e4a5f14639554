"""BM25 retrieval (functions/retrieval.py) + DSIR selection
(functions/selection.py) — value checks vs hand-computed references,
index-layout pruning, and plan-shape guards.

Registry parity vs DuckDB is covered by test_oracle_parity
(text_bm25_topk / text_dsir_weights).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from qcardia_data_spark.functions.retrieval import (
    bm25_scores,
    bm25_topk,
    bm25_topk_from_index,
    build_inverted_index,
)
from qcardia_data_spark.functions.selection import dsir_log_weights, hashed_gram_rows

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick fox"),
    (2, "lazy dog sleeps all day long in the sun"),
    (3, "a completely unrelated document about spark sql"),
    (4, "fox fox fox everywhere fox"),
]


def _bm25_reference(query, k1=1.2, b=0.75):
    """Row-at-a-time python BM25 over CORPUS (Lucene idf form)."""
    docs = {i: t.split() for i, t in CORPUS}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {t: sum(1 for toks in docs.values() if t in toks) for t in query}
    out = {}
    for i, toks in docs.items():
        s = 0.0
        for t in query:
            tf = toks.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(toks) / avgdl))
        if s:
            out[i] = s
    return out


def test_bm25_matches_reference_formula(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    query = ["fox", "dog"]
    got = {r["doc_id"]: r["score"] for r in bm25_scores(docs, query).collect()}
    want = _bm25_reference(query)
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], rel=1e-12)


def test_bm25_topk_order_and_limit(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    rows = bm25_topk(docs, ["fox", "dog"], k=2).collect()
    assert len(rows) == 2
    # matches the row-at-a-time reference ordering (note BM25 tf saturation:
    # doc 0 with BOTH terms beats doc 4's tf=4 single-term spam)
    want = sorted(_bm25_reference(["fox", "dog"]).items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r["doc_id"] for r in rows] == [i for i, _ in want[:2]]
    assert rows[0]["score"] >= rows[1]["score"]


def test_bm25_topk_plan_is_take_ordered(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    plan = (
        bm25_topk(docs, ["fox"], k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan  # O(k) heaps, no global sort


def test_bm25_rejects_empty_query(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    with pytest.raises(ValueError):
        bm25_scores(docs, [])
    with pytest.raises(ValueError):
        bm25_topk_from_index(spark, "/nonexistent", [])


def test_inverted_index_matches_direct_and_prunes(spark, tmp_path):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    path = str(tmp_path / "inv_idx")
    build_inverted_index(docs, path)

    query = ["fox", "dog"]
    direct = {
        r["doc_id"]: r["score"] for r in bm25_topk(docs, query, k=5).collect()
    }
    via_index = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_from_index(spark, path, query, k=5).collect()
    }
    assert set(direct) == set(via_index)
    for i in direct:
        assert via_index[i] == pytest.approx(direct[i], rel=1e-12)

    # file pruning: the probe touches only the query terms' buckets
    import hashlib

    from qcardia_data_spark.functions.retrieval import N_TERM_BUCKETS

    want_buckets = {
        str(int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % N_TERM_BUCKETS)
        for t in query
    }
    probe = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term_bucket").isin([int(b) for b in want_buckets]))
    )
    touched = probe.select(F.input_file_name().alias("f")).distinct().collect()
    got_buckets = {f["f"].split("term_bucket=")[1].split("/")[0] for f in touched}
    assert got_buckets <= want_buckets
    plan = (
        bm25_topk_from_index(spark, path, query, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "term_bucket" in plan


def test_hashed_gram_rows_counts_and_edges(spark):
    # 3 tokens -> 3 unigrams + 2 bigrams; 1 token -> 1 unigram, no bigram;
    # empty -> no rows. Occurrences are NOT deduplicated.
    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "solo"), (2, "   ")], ["doc_id", "text"]
    )
    rows = hashed_gram_rows(docs, "doc_id", "text", ns=(1, 2))
    counts = {r["doc_id"]: r["n"] for r in
              rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {0: 5, 1: 1}


def test_dsir_prefers_target_like_documents(spark):
    # target slice = fox-documents; a fox-heavy unlabeled doc must out-weigh
    # a dog-heavy one under the fitted importance ratio
    rows = [
        (0, "fox fox jumps fox den", True),
        (1, "fox runs fox fast fox", True),
        (2, "dog dog sleeps dog bone", False),
        (3, "dog barks dog loud dog", False),
        (4, "fox jumps fox quick fox", False),  # unlabeled, target-like
        (5, "dog sleeps dog lazy dog", False),  # unlabeled, raw-like
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_tgt"])
    w = {
        r["doc_id"]: r["dsir_logw"]
        for r in dsir_log_weights(docs, F.col("is_tgt"), n_buckets=64).collect()
    }
    assert len(w) == 6
    # the unlabeled target-like doc out-weighs the unlabeled raw-like doc
    assert w[4] > w[5]
    # the target slice's mean weight dominates the raw slice's mean
    # (absolute signs are not asserted: at 64 buckets a toy corpus has
    # hash collisions; the ORDERING is the resampling-relevant property)
    assert (w[0] + w[1]) / 2 > (w[2] + w[3] + w[4] + w[5]) / 4


def test_dsir_deterministic_across_runs(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} tok{i % 5} common word") for i in range(20)],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, dsir_log_weights(docs, F.col("doc_id") < 10).collect()))
    b = sorted(map(tuple, dsir_log_weights(docs, F.col("doc_id") < 10).collect()))
    assert a == b


def test_remove_duplicate_spans_semantics(spark):
    from qcardia_data_spark.functions.dedup import remove_duplicate_spans

    rows = [
        # docs 0/1 share the exact 4-token span "alpha beta gamma delta"
        (0, "alpha beta gamma delta unique zero tail"),
        (1, "one head alpha beta gamma delta more words"),
        # doc 2: within-doc repetition of a 4-window ("x y z w" twice)
        (2, "x y z w x y z w epsilon"),
        # doc 3: short doc (< k tokens) — never touched
        (3, "tiny doc"),
        # doc 4: fully unique — untouched
        (4, "completely fresh sentence with original content here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           remove_duplicate_spans(docs, "doc_id", "text", k=4).collect()}
    assert len(out) == 5
    # shared span gone from both docs, remaining text intact and ordered
    assert out[0]["clean_text"] == "unique zero tail"
    assert out[0]["n_removed"] == 4
    assert out[1]["clean_text"] == "one head more words"
    assert out[1]["n_removed"] == 4
    # within-doc repeats: every position of the repeated window is covered
    # (windows at 0..4 all duplicated -> all of x y z w x y z w covered;
    # epsilon survives)
    assert out[2]["clean_text"] == "epsilon"
    assert out[2]["n_removed"] == 8
    # short + unique docs untouched
    assert out[3]["clean_text"] == "tiny doc" and out[3]["n_removed"] == 0
    assert out[4]["n_removed"] == 0


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["fox", "dog", "cat", "run", "sun", "sky", "red", "big"]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12),
        min_size=2, max_size=8,
    ),
    st.sets(st.sampled_from(_WORDS), min_size=1, max_size=3),
)
def test_bm25_property_matches_python_reference(shared_spark, doclists, query):
    docs = shared_spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(doclists)],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["score"]
           for r in bm25_scores(docs, sorted(query)).collect()}
    # row-at-a-time reference (same Lucene idf / k1 / b)
    import math as _m
    n = len(doclists)
    avgdl = sum(len(t) for t in doclists) / n
    want = {}
    for i, toks in enumerate(doclists):
        s = 0.0
        for t in sorted(query):
            tf = toks.count(t)
            if tf == 0:
                continue
            df_t = sum(1 for d in doclists if t in d)
            idf = _m.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len(toks) / avgdl))
        if s:
            want[i] = s
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], rel=1e-9)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["en", "fr", "zh"]),
                  st.integers(min_value=1, max_value=40)),
        min_size=2, max_size=30,
    )
)
def test_alpha_mix_budget_property(shared_spark, rows):
    # per-group kept tokens never exceed budget + the crossing doc
    from qcardia_data_spark.functions.text import alpha_mix

    df = shared_spark.createDataFrame(
        [(i, lang, n) for i, (lang, n) in enumerate(rows)],
        ["doc_id", "lang", "n_tokens"],
    )
    total = 50
    out = alpha_mix(df, "n_tokens", "doc_id", "lang", alpha=0.5, total_budget=total)
    kept = out.groupBy("lang").agg(F.sum("n_tokens").alias("tok")).collect()
    n_g = {}
    for lang, n in rows:
        n_g[lang] = n_g.get(lang, 0) + n
    z = sum(v ** 0.5 for v in n_g.values())
    for r in kept:
        budget = (n_g[r["lang"]] ** 0.5) / z * total
        assert r["tok"] - 40 < budget  # ≤ budget + one crossing doc (≤40 tokens)
    # every group with weight > 0 contributes at least one doc
    assert {r["lang"] for r in kept} == set(n_g)


def test_remove_duplicate_spans_adversarial_identical_corpus(spark):
    # 1000 identical docs: the dup-window join is keyed per whash (no
    # pairwise stage), so this must complete quickly and strip everything
    docs = spark.createDataFrame(
        [(i, "all these tokens repeat in every single document") for i in range(1000)],
        ["doc_id", "text"],
    )
    from qcardia_data_spark.functions.dedup import remove_duplicate_spans

    out = remove_duplicate_spans(docs, "doc_id", "text", k=4)
    assert out.count() == 1000
    assert out.filter(F.col("clean_text") != "").count() == 0
    assert out.agg(F.min("n_removed")).collect()[0][0] == 8


def _edit_dist(a, b):
    # naive python reference
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                     prev + (ca != cb))
    return dp[-1]


def test_fuzzy_string_join_blocking_is_lossless_and_matches_short(spark):
    from qcardia_data_spark.functions.dedup import fuzzy_string_join

    names = ["small ring", "small king", "blue bolt", "blue boltz",
             "red widget", "green gear", "gren gear", "totally different"]
    df = spark.createDataFrame([(n,) for n in names], ["s"])
    out = fuzzy_string_join(
        df.withColumnRenamed("s", "a"), df.withColumnRenamed("s", "b"),
        "a", "b", max_dist=2,
    )
    got = {(r["a"], r["b"], r["dist"]) for r in out.collect()
           if r["a"] < r["b"]}
    ed = _edit_dist
    want = {(a, b, ed(a, b)) for a in names for b in names
            if a < b and ed(a, b) <= 2}
    assert got == want
    assert ("small king", "small ring", 1) in got

    # short strings (< q*k+q chars) route to the length-banded branch and
    # MUST be matched, not refused (the refuse-loudly contract moved in
    # round 6: dedup.py::fuzzy_string_join now promises routing).
    short = spark.createDataFrame([("abcd",), ("ab",)], ["s"])
    right = spark.createDataFrame(
        [("abce",), ("abcdxy",), ("zz",), ("blue bolt",)], ["s"])
    out2 = fuzzy_string_join(short.withColumnRenamed("s", "a"),
                             right.withColumnRenamed("s", "b"),
                             "a", "b", max_dist=2)
    got2 = {(r["a"], r["b"], r["dist"]) for r in out2.collect()}
    want2 = {(a, b, ed(a, b)) for a in ["abcd", "ab"]
             for b in ["abce", "abcdxy", "zz", "blue bolt"]
             if ed(a, b) <= 2}
    assert got2 == want2
    assert ("abcd", "abce", 1) in got2        # short × short
    assert ("abcd", "abcdxy", 2) in got2      # short × long (boundary)


def test_fuzzy_string_join_duplicate_input_rows(spark):
    # advisor repro: duplicate rows on one side must not break the
    # occurrence-rank pigeonhole (left=[a,a] × right=[b] returned empty
    # before the round-6 distinct-per-side fix)
    from qcardia_data_spark.functions.dedup import fuzzy_string_join

    left = spark.createDataFrame([("small ring",), ("small ring",)], ["a"])
    right = spark.createDataFrame([("small king",)], ["b"])
    out = fuzzy_string_join(left, right, "a", "b", max_dist=2)
    assert {(r["a"], r["b"], r["dist"]) for r in out.collect()} == {
        ("small ring", "small king", 1)
    }


def test_fuzzy_string_join_exhaustive_binary_alphabet(spark):
    # every string over {a,b} of length 0..7 crosses the tiny (<=k),
    # short (<q*k+q) and long branches at k=2, q=2 — compare pair-for-pair
    # against the naive quadratic reference
    from itertools import product

    from qcardia_data_spark.functions.dedup import fuzzy_string_join

    names = [""] + ["".join(p) for n in range(1, 8)
                    for p in product("ab", repeat=n)]
    df = spark.createDataFrame([(n,) for n in names], ["s"])
    out = fuzzy_string_join(
        df.withColumnRenamed("s", "a"), df.withColumnRenamed("s", "b"),
        "a", "b", max_dist=2,
    )
    got = {(r["a"], r["b"]) for r in out.collect()}
    want = {(a, b) for a in names for b in names if _edit_dist(a, b) <= 2}
    assert got == want


def test_fuzzy_string_join_rejects_same_column_name(spark):
    from qcardia_data_spark.functions.dedup import fuzzy_string_join

    df = spark.createDataFrame([("abcdefgh",)], ["s"])
    with pytest.raises(ValueError, match="must differ"):
        fuzzy_string_join(df, df, "s", "s")


def test_bm25_query_terms_case_normalized(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    lower = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["fox"]).collect()}
    upper = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["FOX"]).collect()}
    assert lower == upper and lower  # uppercase query matches, identically


def test_phrase_occurrences_exact_semantics(spark):
    from qcardia_data_spark.functions.retrieval import phrase_occurrences

    docs = spark.createDataFrame(
        [
            (1, "a b c d a b c"),      # "a b c" twice
            (2, "a c b"),              # all terms, wrong order -> no hit
            (3, "a b"),                # incomplete -> no hit
            (4, "x a b c y"),          # once, mid-document
            (5, "b c a b c"),          # once (anchor 2)
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_hits"]
           for r in phrase_occurrences(docs, ["a", "b", "c"]).collect()}
    assert got == {1: 2, 4: 1, 5: 1}


def test_phrase_occurrences_repeated_terms(spark):
    from qcardia_data_spark.functions.retrieval import phrase_occurrences

    docs = spark.createDataFrame(
        [(1, "the cat the dog"), (2, "the the cat"), (3, "cat the the")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_hits"]
           for r in phrase_occurrences(docs, ["the", "cat", "the"]).collect()}
    assert got == {1: 1}  # only doc 1 has the exact t-c-t run
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        phrase_occurrences(docs, [])


def test_positional_index_probe_matches_scan_and_prunes(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from qcardia_data_spark.functions.retrieval import (
        build_positional_index,
        phrase_occurrences,
        phrase_occurrences_from_index,
        term_bucket,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "pos_idx")
    build_positional_index(docs, idx, n_buckets=16)

    phrase = ["query", "line", "value"]
    want = sorted(map(tuple, phrase_occurrences(docs, phrase).collect()))
    got = sorted(map(tuple, phrase_occurrences_from_index(
        spark, idx, phrase, n_buckets=16).collect()))
    assert got == want and got

    # the probe reads only the phrase terms' bucket directories
    buckets = {
        str(r["b"]) for r in spark.createDataFrame(
            [(t,) for t in phrase], ["term"]
        ).select(term_bucket(F.col("term"), 16).alias("b")).collect()
    }
    scan = spark.read.parquet(f"{idx}/postings").filter(
        F.col("term_bucket").isin([int(b) for b in buckets])
    )
    touched = {
        r["f"].split("term_bucket=")[1].split("/")[0]
        for r in scan.select(F.input_file_name().alias("f"))
        .distinct().collect()
    }
    assert touched and touched <= buckets


def test_phrase_terms_are_case_normalized(spark, sf_dir):
    """r10 review: corpus tokens are lowercased, so an uppercase phrase
    term silently matched nothing (bm25 already normalized; the phrase
    functions did not)."""
    from qcardia_data_spark.functions.retrieval import phrase_occurrences

    docs = spark.createDataFrame(
        [(1, "Alpha beta gamma alpha beta")], ["doc_id", "text"]
    )
    lo = {r["doc_id"]: r["n_hits"]
          for r in phrase_occurrences(docs, ["alpha", "beta"]).collect()}
    hi = {r["doc_id"]: r["n_hits"]
          for r in phrase_occurrences(docs, ["Alpha", "Beta"]).collect()}
    assert lo == hi == {1: 2}


def test_index_kind_collision_refused(spark, sf_dir, tmp_path):
    """r10 review: both index kinds write {path}/postings with
    incompatible schemas — building one over the other must refuse, not
    silently clobber."""
    from qcardia_data_spark.functions.retrieval import (
        build_inverted_index,
        build_positional_index,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    p1 = str(tmp_path / "bm25_idx")
    build_inverted_index(docs, p1)
    with pytest.raises(ValueError, match="already holds a bm25 index"):
        build_positional_index(docs, p1)
    p2 = str(tmp_path / "pos_idx")
    build_positional_index(docs, p2)
    with pytest.raises(ValueError, match="positional"):
        build_inverted_index(docs, p2)


def test_reserved_id_col_refused(spark):
    from qcardia_data_spark.functions.retrieval import bm25_scores
    from qcardia_data_spark.functions.selection import hashed_gram_rows

    docs = spark.createDataFrame([(1, "a b")], ["term", "text"])
    with pytest.raises(ValueError, match="collides"):
        bm25_scores(docs, ["a"], id_col="term")
    with pytest.raises(ValueError, match="collide"):
        hashed_gram_rows(docs.withColumnRenamed("term", "gram"), "gram", "text")


def test_positional_rebuild_drops_stale_buckets_under_dynamic_mode(
    spark, tmp_path
):
    """ADVICE r11: with the session set to dynamic partition overwrite, a
    same-kind rebuild from a smaller corpus used to leave the prior
    build's extra term_bucket partitions in place, silently mixing old
    and new postings. The writes force static mode, so a rebuild must
    fully replace the postings."""
    from qcardia_data_spark.functions.retrieval import (
        build_inverted_index,
        build_positional_index,
    )

    big = spark.createDataFrame(
        [("d1", "alpha beta gamma delta epsilon zeta"),
         ("d2", "eta theta iota kappa lambda mu")],
        ["doc_id", "text"],
    )
    small = spark.createDataFrame([("d3", "alpha beta")], ["doc_id", "text"])

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        pos = str(tmp_path / "pos_rebuild")
        build_positional_index(big, pos, n_buckets=8)
        build_positional_index(small, pos, n_buckets=8)
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{pos}/postings")
            .select("doc_id").distinct().collect()
        }
        assert ids == {"d3"}, f"stale postings survived the rebuild: {ids}"

        bm = str(tmp_path / "bm25_rebuild")
        build_inverted_index(big, bm, n_buckets=8)
        build_inverted_index(small, bm, n_buckets=8)
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(f"{bm}/postings")
            .select("doc_id").distinct().collect()
        }
        assert ids == {"d3"}, f"stale postings survived the rebuild: {ids}"
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_index_probes_resolve_n_buckets_from_marker(spark, tmp_path):
    """r13 review (the _cms_meta drift class, found in the BM25/phrase
    probes): the index marker now records n_buckets, a probe with the
    knob omitted buckets with the INDEX's layout, and an explicitly
    mismatched value refuses loudly — previously a default-bucket probe
    against a non-default index silently read the wrong partition
    directories and returned wrong/empty results."""
    import pytest

    from qcardia_data_spark.functions.retrieval import (
        bm25_topk_from_index,
        build_inverted_index,
        build_positional_index,
        phrase_occurrences_from_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark shuffles data across the cluster"),
         (2, "the cluster runs spark"),
         (3, "unrelated words entirely")],
        ["doc_id", "text"],
    )
    bm25 = str(tmp_path / "bm25_nb")
    build_inverted_index(docs, bm25, n_buckets=7)  # non-default layout
    got = {r["doc_id"] for r in
           bm25_topk_from_index(spark, bm25, ["spark", "cluster"], k=3).collect()}
    assert got == {1, 2}
    # explicit matching value still accepted; mismatch refuses loudly
    assert bm25_topk_from_index(
        spark, bm25, ["spark"], k=3, n_buckets=7
    ).count() == 2
    with pytest.raises(ValueError, match="built with n_buckets=7"):
        bm25_topk_from_index(spark, bm25, ["spark"], k=3, n_buckets=64)

    pos = str(tmp_path / "pos_nb")
    build_positional_index(docs, pos, n_buckets=5)
    hits = phrase_occurrences_from_index(spark, pos, ["the", "cluster"])
    assert {r["doc_id"] for r in hits.collect()} == {1, 2}
    with pytest.raises(ValueError, match="built with n_buckets=5"):
        phrase_occurrences_from_index(
            spark, pos, ["the", "cluster"], n_buckets=64
        )


def test_markerless_index_probe_refuses(spark, tmp_path):
    """An index without its _meta.json (a pre-manifest build) records no
    n_buckets, so any probe of it could read the wrong partition
    directories: both probe forms refuse, naming the path and pointing at
    a rebuild — with or without an explicit caller count."""
    import os

    import pytest

    from qcardia_data_spark.functions.retrieval import (
        bm25_topk_from_index,
        build_inverted_index,
        build_positional_index,
        phrase_occurrences_from_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "the cluster runs spark")],
        ["doc_id", "text"],
    )
    bm = str(tmp_path / "legacy_bm25")
    build_inverted_index(docs, bm)
    os.remove(f"{bm}/_meta.json")  # simulate the pre-manifest index
    for n_buckets in (None, 64):
        with pytest.raises(ValueError, match="rebuild") as e:
            bm25_topk_from_index(spark, bm, ["spark"], k=3, n_buckets=n_buckets)
        assert bm in str(e.value)
    pos = str(tmp_path / "legacy_pos")
    build_positional_index(docs, pos)
    os.remove(f"{pos}/_meta.json")
    with pytest.raises(ValueError, match="rebuild") as e:
        phrase_occurrences_from_index(spark, pos, ["the", "cluster"])
    assert pos in str(e.value)
