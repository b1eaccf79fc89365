#!/usr/bin/env python
"""Scale-notch probe: measure the heavy query families one corpus-size
notch ABOVE the shipped testdata and record wall-time scaling exponents.

The plan gates (scripts/audit_plans.py, tests/test_plans.py) argue each
heavy family is sub-quadratic by construction — banded/blocked joins,
capped wedges, sqrt(n) cells, pointer-jump rounds.  This script measures
instead of arguing: it deterministically synthesizes a ``factor``x
(default 3x) corpus with the SAME distributions as sf0.1 (empirical
unigram text + 5% planted near-copies, resampled+perturbed embeddings,
orderkey-shifted lineitem copies over the fixed part catalog), runs each
heavy family serially at both sizes in one session, and writes SCALE.md
with the observed exponent log(t_big/t_small)/log(factor).

    python scripts/scale_probe.py [factor]        # default 3

Synthetic-corpus caveat (recorded in SCALE.md): generated text is iid
unigram within the real length/vocab distributions, so absolute
candidate densities differ slightly from the driver corpus; the planted
near-dup RATE (the thing pair-generating joins scale with) is matched.
Data lands in .scaledata/ (gitignored); only SCALE.md is committed.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

BASE = os.environ.get("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")

# The five families the round-10 verdict named, the exact-substring
# operator (its cap^2 fan-out bound deserves a number), the four
# next-heaviest bench queries the round-11 verdict asked to probe, plus
# the round-12 additions: the composed curation pipeline (now the
# heaviest single bench query) and the perceptron trainer (8 fixed
# corpus scans — the iterative-trainer shape).
FAMILIES = [
    ("docs_curation_pipeline", "documents", "composed ladder: per-doc gates one corpus pass, memoized LSH components, literal-cut quota rank, artifact write: ~linear in docs"),
    ("docs_quality_perceptron", "documents", "8 map-side-combined scalar aggregates over a cached 6-int projection: ~linear in docs"),
    ("docs_set_similarity_join", "documents", "PPJoin+ prefix-filter join: ~linear in near-dup pair mass"),
    ("docs_neardup_component_census", "documents", "LSH bands + connected components (driver union-find under the edge cap) + per-cluster groupBy: ~linear in candidate pairs"),
    ("docs_exact_substring_dedup", "documents", "digest-grouped diagonals, cap-bounded fan-out: ~linear in shared-span mass"),
    ("parts_kcore_decomposition", "lineitem", "graded peels over copurchase edges: ~linear in edges per round"),
    ("parts_link_prediction", "lineitem", "wedges capped at 64 md5-neighbors per middle: sum min(d,64)^2"),
    ("emb_margin_bitext_pairs", "embeddings", "sqrt(n) cells, cogrouped cross-gram: O(n^1.5) within-cell work"),
    ("customer_rfm_segments", "orders", "3 independent literal-cut-bucket ntile rankings over the per-customer rollup: ~linear in orders"),
    ("events_histogram_quantile_sketch", "events", "log-bucket histogram + bucketed rank ride-along: ~linear in events"),
    ("docs_bpe_encode", "documents", "fixed merge-table encode, bounded rounds: ~linear in tokens"),
    ("docs_simhash_neardup_pairs", "documents", "64-bit signature banding self-join: ~linear in band-collision mass"),
    ("docs_image_neardup_bill", "documents", "signature-grouped dHash banding: one linear hash+group pass, candidate join over DISTINCT signatures only (the unsalted generator saturates at ~1-2k classes; see the high-diversity notch below for the diversity-quadratic regime), doc-pair mass as integer multiplicities"),
    ("docs_audio_neardup_bill", "documents", "signature-grouped energy-dHash banding (RIFF decode + 72-segment integer energy profile): same distinct-signature class machine as the image twin"),
    ("docs_video_neardup_bill", "documents", "signature-grouped luma-dHash banding (y4m decode + 72-segment luma profile over concatenated frames): same distinct-signature class machine; classes saturate at the generator's 768-id period"),
]

# Verified-output sizes are computed IN the probe run (the set-sim
# footnote used to hardcode round-11 counts, which would go stale).
COUNT_OUTPUT = {"docs_set_similarity_join"}


def _gen_documents(con, out_dir: str, factor: int, seed: int = 42) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = con.execute(
        f"SELECT text, lang, source FROM '{BASE}/documents.parquet'"
    ).fetchall()
    texts = [r[0] for r in rows]
    words = [w for t in texts for w in t.split(" ")]
    vocab, counts = np.unique(np.array(words), return_counts=True)
    p = counts / counts.sum()
    lens = np.array([len(t.split(" ")) for t in texts])
    langs = np.array([r[1] for r in rows])
    sources = np.array([r[2] for r in rows])
    rng = np.random.RandomState(seed)
    n = factor * len(texts)
    out_texts: list[str] = []
    for i in range(n):
        r = rng.rand()
        if r < 0.0016 and out_texts:  # exact-copy rate measured from sf0.1
            out_texts.append(out_texts[rng.randint(len(out_texts))])
            continue
        if r < 0.05 + 0.0016 and out_texts:  # near-copy rate (one word swapped)
            ws = out_texts[rng.randint(len(out_texts))].split(" ")
            ws[rng.randint(len(ws))] = str(rng.choice(vocab, p=p))
            out_texts.append(" ".join(ws))
            continue
        k = int(lens[rng.randint(len(lens))])
        out_texts.append(" ".join(rng.choice(vocab, size=k, p=p)))
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": pa.array(out_texts, type=pa.string()),
            "lang": pa.array(
                [str(x) for x in rng.choice(langs, size=n)], type=pa.string()
            ),
            "source": pa.array(
                [str(x) for x in rng.choice(sources, size=n)], type=pa.string()
            ),
            "n_chars": pa.array([len(t) for t in out_texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))


def _gen_embeddings(con, out_dir: str, factor: int, seed: int = 43) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = con.execute(
        f"SELECT embedding, label FROM '{BASE}/embeddings.parquet'"
    ).fetchall()
    base = np.array([r[0] for r in rows], dtype=np.float32)
    labels = np.array([r[1] for r in rows], dtype=np.int32)
    rng = np.random.RandomState(seed)
    n = factor * len(rows)
    idx = rng.randint(len(rows), size=n)
    noise = rng.normal(0.0, 0.05 * base.std(), size=(n, base.shape[1])).astype(
        np.float32
    )
    vecs = base[idx] + noise  # keeps label/cosine structure, breaks identity
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(
                [v for v in vecs], type=pa.list_(pa.float32())
            ),
            "label": pa.array(labels[idx], type=pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "embeddings.parquet"))


def _gen_lineitem(con, out_dir: str, factor: int) -> None:
    # factor orderkey-shifted copies over the FIXED part catalog — the
    # "same catalog, growing order book" growth mode the copurchase-graph
    # families densify under.  Each copy permutes l_partkey with an
    # affine map coprime to the catalog size: identical baskets re-keyed
    # to identical-SHAPE baskets over different parts, so the copurchase
    # EDGE set (what k-core/link-pred scale with) grows ~factor-fold with
    # an unchanged degree distribution — a plain orderkey shift would
    # only re-weight the same edges.
    out = os.path.join(out_dir, "lineitem.parquet")
    n_parts = con.execute(
        f"SELECT max(l_partkey) FROM '{BASE}/lineitem.parquet'"
    ).fetchone()[0]
    mults = [1, 7, 11, 13, 17, 19, 23, 29, 31, 37]
    cases = " ".join(
        f"WHEN {c} THEN ((l_partkey - 1) * {mults[c % len(mults)]} + {c} * 37) % {n_parts} + 1"
        for c in range(factor)
    )
    con.execute(
        f"""
        COPY (
          SELECT l_orderkey + c * 150000 AS l_orderkey,
                 CASE c {cases} END AS l_partkey, l_suppkey,
                 l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
                 l_returnflag, l_linestatus, l_shipdate
          FROM '{BASE}/lineitem.parquet', range({factor}) t(c)
        ) TO '{out}' (FORMAT PARQUET)
        """
    )


def _gen_orders(con, out_dir: str, factor: int) -> None:
    # factor orderkey-shifted copies over the FIXED customer base — the
    # "same customers, growing order book" mode the RFM rollup scales
    # under: per-customer frequency/monetary grow ~factor-fold while the
    # ranked set (customers) stays fixed, so the rankings' input rollup
    # is the invariant and the scan is what must stay linear.
    out = os.path.join(out_dir, "orders.parquet")
    shift = con.execute(
        f"SELECT max(o_orderkey) + 1 FROM '{BASE}/orders.parquet'"
    ).fetchone()[0]
    con.execute(
        f"""
        COPY (
          SELECT o_orderkey + c * {shift} AS o_orderkey, o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          FROM '{BASE}/orders.parquet', range({factor}) t(c)
        ) TO '{out}' (FORMAT PARQUET)
        """
    )


def _gen_events(con, out_dir: str, factor: int) -> None:
    # factor event_id-shifted copies, each copy's timestamps nudged by c
    # seconds: value/user/type distributions (what the histogram sketch
    # and quantile ride-along scale with) are preserved exactly while no
    # two copies collide on (event_id) or exactly on ts.
    out = os.path.join(out_dir, "events.parquet")
    shift = con.execute(
        f"SELECT max(event_id) + 1 FROM '{BASE}/events.parquet'"
    ).fetchone()[0]
    con.execute(
        f"""
        COPY (
          SELECT event_id + c * {shift} AS event_id,
                 ts + to_seconds(c) AS ts, user_id, event_type, value, props
          FROM '{BASE}/events.parquet', range({factor}) t(c)
        ) TO '{out}' (FORMAT PARQUET)
        """
    )


def ensure_corpus(factor: int) -> str:
    import duckdb

    out_dir = os.path.join(ROOT, ".scaledata", f"x{factor}")
    marker = os.path.join(out_dir, ".complete")
    # v2: orders + events added for the round-12 family extension
    marker2 = os.path.join(out_dir, ".complete_v2")
    if os.path.exists(marker2):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    print(f"generating {out_dir} ...", file=sys.stderr)
    if not os.path.exists(marker):
        _gen_documents(con, out_dir, factor)
        _gen_embeddings(con, out_dir, factor)
        _gen_lineitem(con, out_dir, factor)
        with open(marker, "w") as fh:
            fh.write("ok\n")
    _gen_orders(con, out_dir, factor)
    _gen_events(con, out_dir, factor)
    with open(marker2, "w") as fh:
        fh.write("ok\n")
    return out_dir


def _reset() -> None:
    """Drop every cross-pass cache perfbench/run.py's ``run_pass`` drops:
    the session memo, the rank pins, and the quota split's cut-point
    memo (which survives the other two), so each timed pass pays its own
    materialization and cut-sample jobs."""
    from duckdb_cluster_hash_spark.operators import dedup, ranking

    dedup.clear_shared_cache()
    ranking.release_rank_pins()
    ranking.clear_cut_memo()


def main() -> int:
    factors = [int(a) for a in sys.argv[1:]] or [3]
    big_dirs = {f: ensure_corpus(f) for f in factors}

    # CALM GATE — bench.py's: exponents are RATIOS of wall times, and a
    # neighbor storm landing on one side of the ratio fabricates (or
    # hides) a scaling problem just as surely as it fabricates a bench
    # regression.  A storm that outlasts the wait stamps SCALE.md noisy.
    import bench

    load1, waited, noisy = bench.wait_for_calm()

    from duckdb_cluster_hash_spark.session import host_cpus, start_session

    spark = start_session()
    cpus = host_cpus()

    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    # warmup: JVM + python workers outside the timings
    QUERIES["cluster_node_distribution"](spark, BASE).collect()

    results = []
    for name, table, claim in FAMILIES:
        row = {"query": name, "table": table, "claim": claim}
        # untimed warm pass at the small size first: each family JITs its
        # own codegen/python-worker paths on first execution, and without
        # this the small measurement absorbs that one-off cost and the
        # exponent reads artificially low (observed: k-core "faster" at
        # 3x).  _reset() runs after EVERY pass so each timed run pays
        # its own materialization and cut-sample jobs.
        QUERIES[name](spark, BASE).write.format("noop").mode(
            "overwrite"
        ).save()
        _reset()
        passes = [("t_small", BASE)] + [
            (f"t_x{f}", big_dirs[f]) for f in factors
        ]
        for key, sf_dir in passes:
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            row[key] = round(time.time() - t0, 2)
            _reset()
            if name in COUNT_OUTPUT:
                # verified-output mass, measured in THIS run (untimed;
                # the memo is cleared again so the next timed pass pays
                # its own materialization)
                row[f"rows_{key}"] = QUERIES[name](spark, sf_dir).count()
                _reset()
        for f in factors:
            row[f"exp_x{f}"] = round(
                math.log(
                    max(row[f"t_x{f}"], 0.01) / max(row["t_small"], 0.01)
                )
                / math.log(f),
                2,
            )
        results.append(row)
        print(json.dumps(row), file=sys.stderr)

    # HIGH-DIVERSITY image notch (r13 verdict item 1): the unsalted
    # generator's rasters repeat with period 1280 in doc_id, so the
    # distinct-signature table STOPS GROWING (~1-2k classes) and the
    # banded join's measured flatness is a generator artifact, not a
    # property of the join.  Re-measure with PNM_DIVERSITY_BLOCK set —
    # stride+offset salted per 1280-id block, distinct signatures grow
    # ~0.6n (measured: 3.1k @ 5k docs, 29k @ 50k docs) — and record,
    # next to the wall time, the DISTINCT-signature count m and the
    # BANDED CANDIDATE mass the join actually processes (sum over
    # (band_idx, band) buckets of f*(f-1)/2 over distinct signatures,
    # capped at DHASH_BAND_CAP exactly as the join caps it).  The
    # honest claim is wall ~ linear in CANDIDATE MASS (quadratic in
    # diversity for 8-bit bands — the documented banding cost), with
    # the cap bounding mass at 8*m*cap once buckets exceed it.
    from duckdb_cluster_hash_spark.operators import multimodal as _mm
    from duckdb_cluster_hash_spark.plans import dedup_text as _dt

    diverse_rows = []
    saved_block = _mm.PNM_DIVERSITY_BLOCK
    try:
        _mm.PNM_DIVERSITY_BLOCK = 1280
        _reset()
        # untimed warm pass (codegen/python-worker JIT), memo cleared
        QUERIES["docs_image_neardup_bill"](spark, BASE).write.format(
            "noop"
        ).mode("overwrite").save()
        _reset()
        for key, sf_dir in [("t_small", BASE)] + [
            (f"t_x{f}", big_dirs[f]) for f in factors
        ]:
            t0 = time.time()
            QUERIES["docs_image_neardup_bill"](spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            _reset()
            # untimed stats: m and candidate mass, from the same
            # signature pipeline the query runs
            from pyspark.sql import functions as _F

            sig = _mm.pnm_dhash(
                _mm.attach_fake_pnm(
                    spark.read.parquet(
                        os.path.join(sf_dir, "documents.parquet")
                    ).select("doc_id")
                )
            )
            groups = sig.groupBy(*[f"b{i}" for i in range(8)]).count()
            stacked = groups.select(
                _F.expr(
                    "stack(8, "
                    + ", ".join(f"{i}, b{i}" for i in range(8))
                    + ") AS (band_idx, band)"
                )
            )
            buckets = stacked.groupBy("band_idx", "band").agg(
                _F.count("*").alias("f")
            )
            cap = _dt.DHASH_BAND_CAP
            st = buckets.agg(
                (_F.sum(_F.col("f")) / 8).cast("bigint").alias("m"),
                _F.sum(
                    _F.expr(
                        f"least(f, {cap}) * (least(f, {cap}) - 1) div 2"
                    )
                ).alias("cand_mass"),
                _F.max("f").alias("max_bucket"),
            ).collect()[0]
            _reset()
            diverse_rows.append(
                {
                    "key": key,
                    "wall": wall,
                    "m": int(st["m"]),
                    "cand_mass": int(st["cand_mass"]),
                    "max_bucket": int(st["max_bucket"]),
                }
            )
    finally:
        _mm.PNM_DIVERSITY_BLOCK = saved_block
        _reset()
    print(json.dumps({"image_diverse_notch": diverse_rows}), file=sys.stderr)

    # First-execution warmth attribution for the two iterative graph
    # families (the r12 verdict flagged their t_small drifting across
    # rounds with unchanged plans): neither holds a session memo —
    # clear_shared_cache is a no-op on them — so any cold-vs-warm gap
    # is one-time JVM codegen/JIT + page cache, not data work.  Re-run
    # them at BASE now that the session is warm and print both numbers,
    # so a reader comparing t_small across rounds can separate
    # measurement state from a real plan regression.
    warm_base: dict[str, float] = {}
    for name in ("parts_link_prediction", "parts_kcore_decomposition"):
        if name not in QUERIES:
            continue
        t0 = time.time()
        QUERIES[name](spark, BASE).write.format("noop").mode(
            "overwrite"
        ).save()
        warm_base[name] = round(time.time() - t0, 2)
        _reset()
    print(json.dumps({"warm_base_rerun": warm_base}), file=sys.stderr)

    flist = ", ".join(f"{f}x" for f in factors)
    lines = [
        "# SCALE — measured scale-notch exponents",
        "",
        f"Serial wall times, one `local[{cpus}]` session, `{BASE}` vs",
        f"deterministic {flist} synthetic corpora (`scripts/scale_probe.py`,",
        "seeded; same length/vocab/label distributions, matched planted",
        "near-dup rate, orderkey-shifted + partkey-permuted lineitem over",
        "the fixed part catalog).  `exp_xF` = log(t_xF/t_small)/log(F):",
        "1.0 is linear, 2.0 quadratic.  Per-query fixed overhead",
        "(planning, python worker reuse) inflates the small-run baseline,",
        "so exponents read LOW for floor-dominated queries at small",
        "factors; the largest factor is the honest one.",
        "",
        f"Ambient 1-min load at start: {load1}.  Generated corpus caveat:",
        "iid-unigram text (real collocations absent), so absolute candidate",
        "densities differ slightly from the driver corpus; the planted",
        "near-dup rate — what pair joins scale with — is matched.",
        "",
        "| query | input | t(sf0.1) s | "
        + " | ".join(f"t(x{f}) s | exp(x{f})" for f in factors)
        + " | documented claim |",
        "|---" * (3 + 2 * len(factors) + 1) + "|",
    ]
    for r in results:
        cells = " | ".join(
            f"{r[f't_x{f}']} | {r[f'exp_x{f}']}" for f in factors
        )
        lines.append(
            f"| {r['query']} | {r['table']} | {r['t_small']} | "
            f"{cells} | {r['claim']} |"
        )
    setsim = next(
        (r for r in results if r["query"] == "docs_set_similarity_join"), None
    )
    if setsim is not None:
        counts = "/".join(
            str(setsim.get(k, "?"))
            for k in ["rows_t_small"] + [f"rows_t_x{f}" for f in factors]
        )
        lines.append("")
        lines.append(
            "set-similarity footnote (counts measured in THIS run): the"
        )
        lines.append(
            f"VERIFIED pair output is {counts} at "
            f"1x/{'/'.join(str(f) + 'x' for f in factors)} — any wall-time"
        )
        lines.append(
            "growth beyond that is CANDIDATE mass under the synthetic"
        )
        lines.append(
            "unigram vocabulary, whose dense prefixes are the documented"
        )
        lines.append(
            "worst case for prefix filtering; real corpora (vocab in the"
        )
        lines.append("millions) prune far harder.")
    if diverse_rows:
        small = diverse_rows[0]
        lines.append("")
        lines.append(
            "high-diversity image notch (PNM_DIVERSITY_BLOCK=1280: distinct"
        )
        lines.append(
            "signatures m grow ~0.6n instead of saturating, the regime the"
        )
        lines.append(
            "r13 verdict flagged as unmeasured).  Banded CANDIDATE mass ="
        )
        lines.append(
            "sum over (band_idx, band) buckets of C(min(f, cap), 2) with"
        )
        lines.append(
            f"cap = DHASH_BAND_CAP; the claim is wall ~ linear in candidate"
        )
        lines.append(
            "mass (itself ~quadratic in m for 8-bit bands until the cap"
        )
        lines.append("bounds it at 8*m*cap):")
        lines.append("")
        lines.append(
            "| size | wall s | distinct sigs m | candidate mass | max bucket "
            "| exp(wall) | exp(mass) |"
        )
        lines.append("|---|---|---|---|---|---|---|")
        for r in diverse_rows:
            if r["key"] == "t_small":
                ew = em = "-"
            else:
                f = int(r["key"][3:])
                ew = round(
                    math.log(max(r["wall"], 0.01) / max(small["wall"], 0.01))
                    / math.log(f),
                    2,
                )
                em = round(
                    math.log(
                        max(r["cand_mass"], 1) / max(small["cand_mass"], 1)
                    )
                    / math.log(f),
                    2,
                )
            lines.append(
                f"| {r['key']} | {r['wall']} | {r['m']} | {r['cand_mass']} "
                f"| {r['max_bucket']} | {ew} | {em} |"
            )

    if warm_base:
        cold = {
            r["query"]: r["t_small"]
            for r in results
            if r["query"] in warm_base
        }
        pairs = "; ".join(
            f"{q} {cold.get(q, '?')}s first -> {warm_base[q]}s re-run"
            for q in sorted(warm_base)
        )
        lines.append("")
        lines.append(
            "iterative-graph measurement-state footnote (measured in "
            f"THIS run): {pairs} — same plan, same data, same session, "
            "memo clears active (clear_shared_cache drops the r14 shared "
            "edge-table memo between timings, so both timings rebuild it), "
            "so the first-vs-re-run spread bounds the pure "
            "measurement-state component (JVM codegen/JIT on first "
            "execution, page-cache/GC state after the big-factor "
            "sweep) of any cross-round t(sf0.1) delta on these rows.  "
            "An isolated fresh-session experiment measured "
            "parts_link_prediction 16.1s first / 6.7s third run and "
            "parts_kcore_decomposition 7.0s / 5.0s — up to ~2x from "
            "state alone.  The r11->r12 t_small drift on these two "
            "rows sits inside that band (plans unchanged): compare "
            "exponents across rounds, not raw t_small."
        )
    lines.append("")
    calm_note = (
        f"calm-gated (ambient {load1})" if not noisy else f"NOISY RUN "
        f"(ambient {load1} after {waited:.0f}s wait) — exponents unreliable"
    )
    lines.append(
        f"Stamped {time.strftime('%Y-%m-%d %H:%M:%S UTC', time.gmtime())}; "
        + calm_note + "."
    )
    with open(os.path.join(ROOT, "SCALE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps({"factors": factors, "results": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
