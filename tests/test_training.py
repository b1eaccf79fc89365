"""Distributed-training operators: the batch-perceptron quality
classifier (plans/docs.py) and the k-NN label-accuracy audit
(plans/emb.py) against independent pure-Python references — the same
strategy as the BPE-trainer tests: the SQL oracle pins cross-engine
agreement, these pin that both engines compute the RIGHT thing."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark.plans.docs import (
    _trunc_div,
    perceptron_features,
    perceptron_train_trajectory,
)
from duckdb_cluster_hash_spark.plans.catalog import QUERIES


def _ref_perceptron(rows, iters=8):
    """Independent reference: rows = [(y, x0..x4)], the mistake-averaged
    batch rule with trunc-toward-zero division."""
    w = [0] * 5
    out = []
    for t in range(1, iters + 1):
        n = len(rows)
        mis = [r for r in rows if r[0] * sum(w[j] * r[1 + j] for j in range(5)) <= 0]
        nm = len(mis)
        d = max(nm, 1)
        g = [sum(r[0] * r[1 + j] for r in mis) for j in range(5)]
        w = [w[j] + _trunc_div(g[j], d) for j in range(5)]
        out.append((t, nm, (10000 * (n - nm)) // max(n, 1), *w))
    return out


def test_trunc_div_matches_both_engines():
    con = duckdb.connect()
    for a in [-17, -7, -2, -1, 0, 1, 2, 7, 17, 10**12 + 7]:
        for b in [1, 2, 3, 5, 97]:
            (dd,) = con.execute(f"SELECT {a} // {b}").fetchone()
            assert _trunc_div(a, b) == dd, (a, b)
    # Python floor division would fail exactly here:
    assert _trunc_div(-7, 2) == -3 and (-7 // 2) == -4


def _mk_docs(spark, seed=3, n=60):
    rng = random.Random(seed)
    vocab = "the a data spark table value fast slow row key".split()
    rows = []
    for i in range(n):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        text = " ".join(words)
        rows.append(
            (i, text, rng.choice(["en", "de", "fr"]), "src", len(text))
        )
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    )


def test_perceptron_trajectory_matches_reference(spark):
    docs = _mk_docs(spark)
    feats = perceptron_features(docs)
    got = perceptron_train_trajectory(feats, iters=6)
    ref_rows = [tuple(int(v) for v in r) for r in feats.collect()]
    assert got == _ref_perceptron(ref_rows, iters=6)


def test_perceptron_negative_gradient_truncation(spark):
    # all labels -1 with positive features: gradients are negative every
    # iteration, exercising the trunc-vs-floor division edge for real
    docs = _mk_docs(spark, seed=9).withColumn("lang", F.lit("de"))
    feats = perceptron_features(docs)
    got = perceptron_train_trajectory(feats, iters=3)
    ref_rows = [tuple(int(v) for v in r) for r in feats.collect()]
    assert got == _ref_perceptron(ref_rows, iters=3)
    assert all(r[3] <= 0 for r in got)  # w0 driven negative, not past zero


def _ref_knn(rows, k=5, step=29, cap=1160):
    """rows = [(vec_id, embedding(list), label)]; sequential-fold cosine,
    micro-rounded, (cm desc, vec_id) top-k, (votes desc, label) vote."""
    ev = [r for r in rows if r[0] % step == 0 and r[0] < cap]
    tr = [r for r in rows if not (r[0] % step == 0 and r[0] < cap)]

    def fold(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + float(x) * float(y)
        return acc

    out = []
    for qid, qv, qlabel in ev:
        scored = []
        for vid, tv, lbl in tr:
            cos = fold(tv, qv) / (fold(tv, tv) * fold(qv, qv)) ** 0.5
            # round-half-away like both engines' round()
            from duckdb_cluster_hash_spark.operators.similarity import (
                round_half_away,
            )

            scored.append((round_half_away(cos * 1e6), vid, lbl))
        scored.sort(key=lambda s: (-s[0], s[1]))
        top = scored[:k]
        votes = {}
        for _, _, lbl in top:
            votes[lbl] = votes.get(lbl, 0) + 1
        pred, v = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((qid, qlabel, pred, v, 1 if pred == qlabel else 0))
    return sorted(out)


def test_knn_label_accuracy_matches_reference(spark, tmp_path):
    rng = random.Random(11)
    rows = []
    for i in range(140):
        emb = [rng.randrange(-512, 513) / 1024 for _ in range(64)]
        if not any(emb):
            emb[0] = 1 / 1024
        rows.append((i, emb, rng.randrange(4)))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    got = sorted(
        tuple(int(v) for v in r)
        for r in QUERIES["emb_knn_label_accuracy"](spark, sf_dir).collect()
    )
    # reference reads back the PARQUET floats (float32 round-trip), the
    # same values both engines fold over
    stored = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]], int(r["label"]))
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ]
    assert got == _ref_knn(stored)
    assert len(got) == 5  # vec_ids 0,29,58,87,116


def test_perceptron_filter_confusion_mass_and_memo(spark, tmp_path):
    docs = _mk_docs(spark, seed=5, n=70)
    sf = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from duckdb_cluster_hash_spark import memo
    from duckdb_cluster_hash_spark.plans.docs import perceptron_trajectory_shared
    from duckdb_cluster_hash_spark.sources.tables import load_table

    corpus = load_table(spark, sf, "documents")
    rows = {
        r["source"]: r
        for r in QUERIES["docs_quality_perceptron_filter"](spark, sf).collect()
    }
    # confusion-mass sanity: counts nest
    for r in rows.values():
        assert 0 <= r["n_true_pos"] <= min(r["n_pred_pos"], r["n_pos"])
        assert max(r["n_pred_pos"], r["n_pos"]) <= r["n_docs"]
    # totals match the corpus and the final trajectory weights decide
    assert sum(r["n_docs"] for r in rows.values()) == 70
    # the trainer memo is shared: same corpus frame -> same object back
    t1 = perceptron_trajectory_shared(corpus, 8)
    t2 = perceptron_trajectory_shared(corpus, 8)
    assert t1 is t2 and ("perceptron", 8) in memo._STORE[corpus]
    # scoring with the final weights reproduces n_pred_pos
    w = list(t1[-1][3:])
    feats = [
        tuple(int(v) for v in r)
        for r in perceptron_features(corpus).collect()
    ]
    # (y, x0..x4): margin > 0 predicted positive
    npred = sum(1 for f in feats if sum(w[j] * f[1 + j] for j in range(5)) > 0)
    assert npred == sum(r["n_pred_pos"] for r in rows.values())


def test_perceptron_sweep_matches_reference_and_plan(spark, tmp_path):
    """The operating-point sweep must reproduce an independent Python
    confusion sweep at every threshold, AND stay one aggregate: no
    join, a single corpus scan, stack-unpivoted (the plan-gate half of
    the 'no new corpus pass' contract)."""
    from duckdb_cluster_hash_spark.plans.docs import (
        _SWEEP_THRESHOLDS,
        perceptron_trajectory_shared,
    )
    from duckdb_cluster_hash_spark.sources.tables import load_table

    docs = _mk_docs(spark, seed=11, n=80)
    sf = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    corpus = load_table(spark, sf, "documents")
    out = QUERIES["docs_quality_perceptron_sweep"](spark, sf)
    got = {r["threshold"]: tuple(r)[1:] for r in out.collect()}
    w = list(perceptron_trajectory_shared(corpus, 8)[-1][3:])
    feats = [
        tuple(int(v) for v in r)
        for r in perceptron_features(corpus).collect()
    ]
    margins = [
        (f[0], sum(w[j] * f[1 + j] for j in range(5))) for f in feats
    ]
    n = len(margins)
    npos = sum(1 for y, _ in margins if y == 1)
    for th in _SWEEP_THRESHOLDS:
        pp = sum(1 for _, m in margins if m > th)
        tp = sum(1 for y, m in margins if y == 1 and m > th)
        want = (
            pp,
            tp,
            (10000 * tp) // max(pp, 1),
            (10000 * tp) // max(npos, 1),
            (10000 * (n - pp)) // max(n, 1),
        )
        assert got[th] == want, (th, got[th], want)
    # attrition must be non-decreasing and predictions non-increasing
    # as the threshold tightens
    ths = sorted(got)
    pps = [got[t][0] for t in ths]
    assert pps == sorted(pps, reverse=True)
    # plan gate: one scan, no join, stack generator present (post-run
    # AQE toString echoes the initial plan below the final one — only
    # the final section counts)
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("Initial Plan")[0]
    )
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert "stack(" in plan


def test_perceptron_memo_cleared_by_shared_cache_hook(spark, tmp_path):
    """Timing harnesses reset session memos through the ONE hook
    (operators.dedup.clear_shared_cache); the trajectory memo must obey
    it, or bench repeats / scale-probe passes measure memo hits."""
    from duckdb_cluster_hash_spark import memo
    from duckdb_cluster_hash_spark.operators.dedup import clear_shared_cache
    from duckdb_cluster_hash_spark.plans.docs import perceptron_trajectory_shared
    from duckdb_cluster_hash_spark.sources.tables import load_table

    sf = str(tmp_path)
    _mk_docs(spark, seed=7, n=30).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    corpus = load_table(spark, sf, "documents")
    t1 = perceptron_trajectory_shared(corpus, 3)
    assert ("perceptron", 3) in memo._STORE[corpus]
    assert clear_shared_cache() >= 1
    assert corpus not in memo._STORE
    t2 = perceptron_trajectory_shared(corpus, 3)
    assert t1 == t2 and t1 is not t2  # retrained, same trajectory


def test_perceptron_empty_corpus_zero_trajectory(spark):
    """Zero-row corpus: the engine must emit the same all-zero
    trajectory the oracle's coalesce() chain produces, not crash."""
    feats = perceptron_features(
        spark.createDataFrame(
            [], "doc_id bigint, text string, lang string, source string, n_chars int"
        )
    )
    rows = perceptron_train_trajectory(feats, iters=3)
    assert rows == [(t, 0, 0, 0, 0, 0, 0, 0) for t in (1, 2, 3)]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except Exception:  # pragma: no cover
    _HYP = False


if _HYP:

    @given(
        a=st.integers(min_value=-(2**62), max_value=2**62),
        b=st.integers(min_value=1, max_value=2**31),
    )
    @settings(max_examples=200, deadline=None)
    def test_trunc_div_matches_duckdb_hypothesis(a, b):
        """The weight-update division must agree with SQL `//` on any
        gradient sign/magnitude the trainer can produce (int64-safe)."""
        con = duckdb.connect()
        (dd,) = con.execute(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()
        assert _trunc_div(a, b) == dd


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) trainer — independent greedy reference
# ---------------------------------------------------------------------------


def _ref_unigram(word_freq, k=3, seed=256, max_piece=4):
    """Independent pure-Python unigram trainer: greedy longest-match
    E-step over a dict vocab, count-ranked shrink (keep top seed>>(it+1)
    multis), milli-bit loss via the mlog2 twin."""
    from duckdb_cluster_hash_spark.plans.docs import mlog2_1024_py

    subs = {}
    singles = set()
    for w, f in word_freq.items():
        for st in range(len(w)):
            singles.add(w[st])
            for l in range(2, min(max_piece, len(w) - st) + 1):
                p = w[st : st + l]
                subs[p] = subs.get(p, 0) + f
    top = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:seed]
    pieces = sorted(singles) + sorted(p for p, _ in top)
    rows = []
    for it in range(k + 1):
        pset = set(pieces)
        counts = {p: 0 for p in pieces}
        for w, f in word_freq.items():
            pos = 0
            while pos < len(w):
                ln = 1
                for l in range(min(max_piece, len(w) - pos), 0, -1):
                    if w[pos : pos + l] in pset:
                        ln = l
                        break
                tok = w[pos : pos + ln]
                if tok in counts:
                    counts[tok] += f
                pos += ln
        total = sum(counts.values())
        lt = mlog2_1024_py(total) if total else 0
        bits = sum(c * (lt - mlog2_1024_py(c)) for c in counts.values() if c)
        rows.append((it, len(pieces), total, bits))
        if it < k:
            keep = seed >> (it + 1)
            multi = sorted(
                ((-counts[p], p) for p in pieces if len(p) > 1)
            )[:keep]
            kept = {p for _, p in multi}
            pieces = [p for p in pieces if len(p) == 1 or p in kept]
    return rows, pieces


def test_unigram_trainer_matches_reference(spark):
    """The distributed trainer (seed -> greedy walk E-step -> shrink)
    must reproduce the independent Python reference's FULL trajectory —
    inventory sizes, token counts, and every milli-bit of loss — on a
    corpus engineered so later prunes remove USED pieces (forcing real
    re-segmentation), with repeats, shared prefixes, and a 16-char
    boundary word."""
    from duckdb_cluster_hash_spark.plans.docs import unigram_train

    corpus = {
        "banana": 7,
        "bandana": 3,
        "ananas": 5,
        "data": 9,
        "dataset": 4,
        "database": 2,
        "aaaa": 6,
        "aaab": 1,
        "abababababababab": 2,  # exactly UNIGRAM_MAX_WORD chars
        "zq": 1,
    }
    want, want_pieces = _ref_unigram(corpus, k=3, seed=256)
    wf = spark.createDataFrame(list(corpus.items()), "w string, f bigint")
    got, got_pieces = unigram_train(spark, wf, k=3)
    assert got == want
    assert sorted(got_pieces) == sorted(want_pieces)


def test_unigram_distributed_loop_matches_driver_cutover(spark, monkeypatch):
    """The above-cap DISTRIBUTED trainer — seed collects + per-iteration
    greedy-walk E-step jobs, the code that actually runs at large scale
    — is dead at every tested vocab size because sf0.001–0.1 corpora all
    probe under _UNIGRAM_DRIVER_CAP (the r15 cutover).  Force it by
    pinning the cap to 0 and assert the full (trajectory, final pieces)
    pair is bit-identical to the driver transcription's on the same
    runs/prefix/boundary-word corpus."""
    from duckdb_cluster_hash_spark.plans import docs as docs_mod

    corpus = {
        "banana": 7,
        "bandana": 3,
        "ananas": 5,
        "data": 9,
        "dataset": 4,
        "database": 2,
        "aaaa": 6,
        "aaab": 1,
        "abababababababab": 2,
        "zq": 1,
    }
    wf = spark.createDataFrame(list(corpus.items()), "w string, f bigint")
    driver_rows, driver_pieces = docs_mod.unigram_train(spark, wf, k=3)
    assert driver_rows, "driver cutover produced no trajectory"
    monkeypatch.setattr(docs_mod, "_UNIGRAM_DRIVER_CAP", 0)
    dist_rows, dist_pieces = docs_mod.unigram_train(spark, wf, k=3)
    assert dist_rows == driver_rows
    assert dist_pieces == driver_pieces


def test_unigram_encode_fallback_for_unknown_chars(spark):
    """Held-out text with characters absent from the training inventory
    must fall back to single-char tokens (the byte-fallback rule), not
    drop words or raise — the walk's coalesce(try_element_at, 1) path."""
    from duckdb_cluster_hash_spark.plans.docs import unigram_greedy_tokens

    pieces = spark.createDataFrame([("ab",), ("a",), ("b",)], "piece string")
    held = spark.createDataFrame(
        [("s1", "abxyab", 2)], "source string, w string, f bigint"
    )
    toks = unigram_greedy_tokens(held, pieces, keys=("source",)).collect()
    got = sorted((r["source"], r["tok"], r["f"]) for r in toks)
    # ab | x | y | ab — unknown x, y consumed as singletons
    assert got == [("s1", "ab", 2), ("s1", "ab", 2), ("s1", "x", 2), ("s1", "y", 2)]


if _HYP:

    @given(x=st.integers(min_value=1, max_value=2**62))
    @settings(max_examples=200, deadline=None)
    def test_mlog2_python_twin_matches_engines(x):
        """mlog2_1024_py must be bit-identical to the shared SQL chain
        (the unigram trainer emits driver-computed milli-bits that the
        oracle recomputes in SQL) for any bigint the trainer can see."""
        from duckdb_cluster_hash_spark.plans.docs import (
            _MLOG2_SEED_EXPRS,
            _MLOG2_STEPS,
            _mlog2_step_exprs,
            mlog2_1024_py,
        )

        sql = f"WITH s0 AS (SELECT {', '.join(_MLOG2_SEED_EXPRS)} FROM (SELECT CAST({x} AS BIGINT) AS x))"
        for i in range(1, _MLOG2_STEPS + 1):
            m, f_ = _mlog2_step_exprs(i)
            sql += f", s{i} AS (SELECT e, {m}, {f_} FROM s{i - 1})"
        sql += f" SELECT e * 1024 + f{_MLOG2_STEPS} FROM s{_MLOG2_STEPS}"
        con = duckdb.connect()
        (dd,) = con.execute(sql).fetchone()
        assert mlog2_1024_py(x) == dd
