"""Dedup operator semantics: recall of the LSH path against the exact
inverted-index path, exact-dedup invariants, shingling edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark import memo
from duckdb_cluster_hash_spark.operators import dedup as dd
from duckdb_cluster_hash_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_medium):
    return load_table(spark, sf_medium, "documents").cache()


def test_exact_dedup_counts(spark, docs):
    reps = dd.dedup_representatives(docs, "text", "doc_id")
    assert reps.count() == docs.select("text").distinct().count()
    assert reps.agg(F.sum("n_copies")).head()[0] == docs.count()


def test_word_ngrams_short_text(spark):
    df = spark.createDataFrame(
        [("a b",), ("a b c",), ("a b c d",), ("solo",)], "text string"
    )
    rows = df.select(dd.word_ngrams(F.col("text"), 3).alias("g")).collect()
    assert rows[0]["g"] == ["a b"]          # shorter than n -> whole text
    assert rows[1]["g"] == ["a b c"]
    assert rows[2]["g"] == ["a b c", "b c d"]
    assert rows[3]["g"] == ["solo"]


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    assert len(pairs) == 25  # generator plants 25 near-dup pairs at sf0.01
    assert all(r["jacc"] >= 0.5 for r in pairs)


def test_minhash_lsh_recall_vs_exact(docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_neardup_pairs(
            docs, "doc_id", "text", n=3, k=16, bands=8, rows=2, threshold=0.2
        ).collect()
    }
    # verified candidates can only be true pairs at >= the verify threshold
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9
    # and LSH output is itself exact-verified: every pair really is a near-dup
    exact_02 = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.2).collect()
    }
    assert lsh <= exact_02


def test_max_df_prunes_stop_shingles(docs):
    unpruned = dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5)
    pruned = dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5, max_df=3)
    # pruning can only remove candidate mass, never add pairs
    assert pruned.count() <= unpruned.count()


def test_simhash_identical_text_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: (r["simhash_lo"], r["simhash_hi"])
           for r in dd.simhash64(df, "doc_id", "text").collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]
    pairs = dd.simhash_neardup_pairs(df, "doc_id", "text", max_hamming=0).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]


def test_simhash_banding_exactness(docs):
    """Pigeonhole block banding must reproduce the brute-force all-pairs
    result EXACTLY (it is a plan optimization, not an approximation)."""
    sig = dd.simhash64(docs, "doc_id", "text")
    a = sig.select(*[F.col(c).alias(c + "_a") for c in sig.columns])
    b = sig.select(*[F.col(c).alias(c + "_b") for c in sig.columns])
    hamming = F.bit_count(
        F.col("simhash_lo_a").bitwiseXOR(F.col("simhash_lo_b"))
    ) + F.bit_count(F.col("simhash_hi_a").bitwiseXOR(F.col("simhash_hi_b")))
    brute = (
        a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 2)
    )
    banded = dd.simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=2)
    bruteset = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in brute.collect()}
    bandset = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in banded.collect()}
    assert bandset == bruteset


def test_winnow_shared_fingerprints_for_near_dups(docs):
    """Near-duplicate docs (the 25 planted pairs) share winnow fingerprints."""
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    fp = dd.winnow_fingerprints(docs, "doc_id", "text", 3, 4)
    by_doc = {
        r["doc_id"]: set(r["fps"])
        for r in fp.groupBy("doc_id").agg(F.collect_set("fp").alias("fps")).collect()
    }
    for p in pairs:
        a, b = by_doc[p["doc_a"]], by_doc[p["doc_b"]]
        overlap = len(a & b) / min(len(a), len(b))
        assert overlap > 0.5, (p["doc_a"], p["doc_b"], overlap)


def test_winnow_density(docs):
    """Winnowing emits ~2/(w+1) of positions; sanity-check the ballpark."""
    fp = dd.winnow_fingerprints(docs, "doc_id", "text", 3, 4)
    n_fp = fp.count()
    n_grams = dd.shingle_table(docs, "doc_id", "text", 3).count()
    assert 0.1 < n_fp / n_grams < 0.6


def test_winnow_short_doc(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    rows = dd.winnow_fingerprints(df, "doc_id", "text", 3, 4).collect()
    assert len(rows) == 1  # single partial window over the whole-text gram


def test_neardup_components_structure(spark, docs):
    pairs = dd.minhash_neardup_pairs(docs, "doc_id", "text", threshold=0.2)
    comps = dd.neardup_components(pairs).collect()
    by_doc = {r["doc_id"]: r["component"] for r in comps}
    # every pair's endpoints share a component
    for p in pairs.collect():
        assert by_doc[p["doc_a"]] == by_doc[p["doc_b"]]
    # component id is the min member
    import collections
    members = collections.defaultdict(list)
    for d, c in by_doc.items():
        members[c].append(d)
    for c, ds in members.items():
        assert c == min(ds)


def test_neardup_components_transitivity(spark):
    # chain a-b, b-c, plus isolated pair d-e: {a,b,c} one component
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (10, 11, 0.9)],
        "doc_a long, doc_b long, jacc double",
    )
    comps = {r["doc_id"]: r["component"]
             for r in dd.neardup_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_decisions_one_keeper_per_cluster(spark, docs):
    pairs = dd.minhash_neardup_pairs(docs, "doc_id", "text", threshold=0.2)
    dec = dd.dedup_decisions(pairs)
    per_comp = dec.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("keepers")
    )
    assert per_comp.where("keepers != 1").count() == 0


def test_chunk_digest_table_short_docs_drop_out(spark):
    df = spark.createDataFrame(
        [(1, "one two three"), (2, " ".join(str(i) for i in range(20)))],
        "doc_id long, text string",
    )
    chunks = dd.chunk_digest_table(df, "doc_id", "text", chunk_words=8)
    per_doc = {r["doc_id"]: r["n"] for r in
               chunks.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert 1 not in per_doc          # 3 words < one chunk
    assert per_doc[2] == 2           # 20 words -> 2 full chunks, tail dropped


def test_chunk_dedup_histogram_shared_chunk(spark):
    shared = " ".join(f"w{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, shared + " unique1 a b c d e f g"),
         (2, shared + " other2 h i j k l m n"),
         (3, "totally different words here spanning eight tokens now")],
        "doc_id long, text string",
    )
    hist = {r["docs_sharing"]: r["n_chunks"]
            for r in dd.chunk_dedup_histogram(df, "doc_id", "text", 8).collect()}
    assert hist[2] == 1              # the shared leading chunk
    assert hist[1] == 3              # each doc's distinct second chunk


def test_span_coverage_memo_keyed_by_corpus_identity(spark):
    """The pos-gram memo must never serve corpus A's checkpoint to
    corpus B aimed at the same (id_col, text_col, n) params — the key is
    the DataFrame object itself (the memo's weak owner), so two different
    corpora get independent entries and independent results."""
    a = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine"),
         (2, "one two three four five six seven eight ten")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    ra = {r["doc_id"]: r["n_dup_spans"] for r in
          dd.duplicated_span_coverage(a, "doc_id", "text", n=8).collect()}
    rb = {r["doc_id"]: r["n_dup_spans"] for r in
          dd.duplicated_span_coverage(b, "doc_id", "text", n=8).collect()}
    assert ra == {1: 1, 2: 1}        # the shared 8-gram at position 0
    assert rb == {7: 0}              # single doc: nothing shared
    assert a in memo._STORE and b in memo._STORE


def test_clear_shared_cache_reclaims_and_rebuilds(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    first = dd.duplicated_span_coverage(df, "doc_id", "text", n=8).collect()
    assert dd.clear_shared_cache(df) >= 1
    assert df not in memo._STORE
    # a fresh call rebuilds from lineage and agrees
    again = dd.duplicated_span_coverage(df, "doc_id", "text", n=8).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))
    # full clear (no df) drains everything
    dd.clear_shared_cache()
    assert len(memo._STORE) == 0


def test_setsim_suffix_filter_bound_is_lossless():
    """The set-similarity join's suffix filter (PPJoin+-style fixed-cut
    histogram bound) must NEVER underestimate: for any two token-digest
    sets, sum_j min(h1[j], h2[j]) >= |t1 & t2|, where h[j] counts
    tokens in fixed bucket j = tok div 2^57.  If this bound could dip
    below the true intersection, the filter would drop qualifying pairs
    and break the completeness grade vs the all-pairs oracle."""
    from hypothesis import given, settings, strategies as st

    CUT = 144115188075855872  # 2^57, 8 buckets over the 60-bit space

    tokens = st.sets(st.integers(min_value=0, max_value=2**60 - 1), max_size=40)

    @settings(max_examples=500, deadline=None)
    @given(tokens, tokens)
    def check(t1, t2):
        h1 = [sum(1 for t in t1 if t // CUT == j) for j in range(8)]
        h2 = [sum(1 for t in t2 if t // CUT == j) for j in range(8)]
        bound = sum(min(a, b) for a, b in zip(h1, h2))
        assert bound >= len(t1 & t2)

    check()


def test_pathjump_chain_converges_logarithmically(spark, monkeypatch):
    """Why the distributed branch jumps pointers: a 64-hop chain needs
    ~63 label-propagation rounds but only O(log2(64)) jump rounds.  With
    ``max_rounds=8`` a loop that silently drops the jump step raises
    here instead of converging."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dd, "SMALL_GRAPH_EDGE_CAP", 0)
    comps = {
        r["doc_id"]: r["component"]
        for r in dd.neardup_components(pairs, max_rounds=8).collect()
    }
    assert comps == {i: 0 for i in range(n + 1)}


def test_exact_substring_spans_known_lcs(spark):
    """Hand-built corpus with known longest-common-substrings: the
    diagonal gaps-and-islands construction must report the exact span
    lengths (run + k - 1), count maximal spans per pair, filter below
    min_span, and skip sub-k documents without error."""
    s1 = "SHAREDBLOCKONE!!"        # 16 chars, shared by docs 1 and 2
    t = "TWELVECHARSX"             # 12 chars, also shared by docs 1 and 2
    e = "ELEVENCHAR!"              # 11 chars < min_span, docs 4 and 5
    df = spark.createDataFrame(
        [
            (1, "qqqqqqqqqq" + s1 + "rrrrrrrrrr" + t + "ssssssssss"),
            (2, "uuuuuuuuuu" + s1 + "vvvvvvvvvv" + t + "wwwwwwwwww"),
            (3, "kkkkkkkkkkkkkkkkkkkk"),
            (4, "aaaaaaaaaa" + e + "bbbbbbbbbb"),
            (5, "cccccccccc" + e + "dddddddddd"),
            (6, "short"),  # < k: contributes no positions
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in dd.exact_substring_span_pairs(
            df, "doc_id", "text", k=10, cap=64, min_span=12
        ).collect()
    }
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["longest_span_chars"] == 16    # s1, exactly
    assert r["n_spans"] == 2                # s1 and t are separate islands
    assert r["dup_chars_bound"] == 16 + 12


def test_exact_substring_spans_frequency_cap(spark):
    """A k-gram above the occurrence cap is a stop-gram: the 4-doc
    shared block yields all 6 pairs below the cap and none above it."""
    block = "COMMONBOILERPLATE!!!"  # 20 chars shared by 4 docs
    pad = ["ee", "ff", "gg", "hh"]
    df = spark.createDataFrame(
        [(i, pad[i] * 5 + block + pad[i] * 5) for i in range(4)],
        "doc_id long, text string",
    )
    wide = dd.exact_substring_span_pairs(
        df, "doc_id", "text", k=10, cap=64, min_span=10
    ).collect()
    assert len(wide) == 6 and all(
        r["longest_span_chars"] == 20 for r in wide
    )
    capped = dd.exact_substring_span_pairs(
        df, "doc_id", "text", k=10, cap=3, min_span=10
    ).collect()
    assert capped == []


def test_substring_dup_bill_interval_union(spark):
    """Overlapping shared spans from DIFFERENT partners must be
    interval-merged, never summed: doc 1 shares the first 20 chars of a
    30-char block with doc 2 and the last 20 with doc 3, so its bill is
    the 30-char union, not 40."""
    b = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 distinct chars
    df = spark.createDataFrame(
        [
            (1, "qqqqqqqqqq" + b + "zzzzzzzzzz"),
            (2, "pppppppppp" + b[:20] + "xxxxxxxxxx"),
            (3, "rrrrrrrrrr" + b[10:] + "yyyyyyyyyy"),
            (4, "kkkkkkkkkkkkkkkkkkkk"),  # no shared content
            (5, "tiny"),                   # < k
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dd.substring_dup_bill(df, "doc_id", "text", k=10, cap=64).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}   # every doc gets a bill row
    assert rows[1]["dup_chars"] == 30     # union of [11,30] and [21,40]
    assert rows[1]["n_chars"] == 50
    assert rows[1]["dup_bp"] == (10000 * 30) // 50
    assert rows[2]["dup_chars"] == 20
    assert rows[3]["dup_chars"] == 20
    assert rows[4]["dup_chars"] == 0 and rows[4]["dup_bp"] == 0
    assert rows[5]["dup_chars"] == 0


def test_substring_bill_after_intermediate_release(spark):
    """The run-table memo must keep serving correct bills AFTER the
    builder released its position intermediates (the persist()-backed
    blocks are genuinely freed now — the old localCheckpoint+unpersist
    was a no-op): a second family member computed post-release reads
    the checkpointed runs, never the dropped positions."""
    b = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"
    df = spark.createDataFrame(
        [(1, "xx" + b + "yy"), (2, "zz" + b + "ww"), (3, "mmmmmmmmmmmm")],
        "doc_id long, text string",
    )
    pairs = dd.exact_substring_span_pairs(
        df, "doc_id", "text", k=10, cap=64, min_span=10
    ).collect()  # materializes runs; builder cleanup has run by now
    bill = {
        r["doc_id"]: r["dup_chars"]
        for r in dd.substring_dup_bill(
            df, "doc_id", "text", k=10, cap=64
        ).collect()
    }
    assert len(pairs) == 1 and pairs[0]["longest_span_chars"] == 30
    assert bill == {1: 30, 2: 30, 3: 0}


def test_exact_substring_rewrite_splices_exactly(spark):
    """The deletion rewrite must remove EXACTLY the merged covered
    intervals from every doc: head/middle/tail gaps survive verbatim,
    overlapping partner spans are cut once, untouched and sub-k docs
    come back byte-identical, and a fully-covered doc comes back
    empty."""
    b = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123"  # 30 distinct chars
    full = "FULLYSHAREDDOCBODY!!"  # 20 chars, the whole of docs 4 and 5
    rows = [
        # doc 1 shares b[:20] with doc 2 and b[10:] with doc 3 ->
        # union covers all 30 chars of b inside doc 1
        (1, "xx" + b + "yy"),
        (2, "mm" + b[:20] + "nn"),
        (3, "pp" + b[10:] + "qq"),
        (4, full),
        (5, full),
        (6, "nothing shared here at all, unique."),
        (7, "tiny"),  # < k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["text"]
        for r in dd.exact_substring_rewrite(
            df, "doc_id", "text", k=10, cap=64
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}
    assert got[1] == "xxyy"  # whole 30-char union cut, gaps spliced
    assert got[2] == "mmnn"
    assert got[3] == "ppqq"
    assert got[4] == "" and got[5] == ""  # fully covered -> empty
    assert got[6] == rows[5][1]  # untouched, byte-identical
    assert got[7] == "tiny"  # sub-k doc contributes no positions
    # the deletion agrees with the bill: removed chars == dup_chars
    bill = {
        r["doc_id"]: r["dup_chars"]
        for r in dd.substring_dup_bill(
            df, "doc_id", "text", k=10, cap=64
        ).collect()
    }
    for d, txt in got.items():
        orig = dict((r[0], r[1]) for r in rows)[d]
        assert len(orig) - len(txt) == bill[d], d


def test_components_driver_cutover_matches_distributed(spark, monkeypatch):
    """The one components operator gives the same closure, names and id
    types on both branches — driver union-find below
    SMALL_GRAPH_EDGE_CAP, pointer jumping above it (a cap of 0 forces
    it) — over a chain, a clique, a self-loop, duplicate and reversed
    edges, an int32 id schema and an empty edge list."""
    rows = [(i, i + 1) for i in range(0, 20)]  # 21-node chain
    rows += [(100, 101), (100, 102), (101, 102)]  # clique
    rows += [(200, 200)]  # self-loop
    rows += [(300, 301), (301, 300), (300, 301)]  # duplicate + reversed
    want = {i: 0 for i in range(21)}
    want |= {100: 100, 101: 100, 102: 100, 200: 200, 300: 300, 301: 300}
    graphs = {
        "long": (spark.createDataFrame(rows, "doc_a long, doc_b long"), want),
        "int32": (spark.createDataFrame(rows, "doc_a int, doc_b int"), want),
        "empty": (spark.createDataFrame([], "doc_a long, doc_b long"), {}),
    }

    def closure(pairs):
        out = dd.neardup_components(pairs)
        id_type = pairs.schema["doc_a"].dataType
        assert out.columns == ["doc_id", "component"]
        assert [f.dataType for f in out.schema.fields] == [id_type, id_type]
        return {r.doc_id: r.component for r in out.collect()}

    driver = {name: closure(pairs) for name, (pairs, _) in graphs.items()}
    monkeypatch.setattr(dd, "SMALL_GRAPH_EDGE_CAP", 0)
    for name, (pairs, expected) in graphs.items():
        assert closure(pairs) == driver[name], name
        assert driver[name] == expected, name


def test_pathjump_components_match_labelprop(spark, docs, monkeypatch):
    """On the MinHash near-dup graph of the test corpus, the pointer-
    jumping branch of neardup_components (forced by a cap of 0) names
    the same components as the driver union-find closure."""
    pairs = dd.minhash_neardup_pairs(docs, "doc_id", "text", threshold=0.2)
    want = {r.doc_id: r.component for r in dd.neardup_components(pairs).collect()}
    assert want
    monkeypatch.setattr(dd, "SMALL_GRAPH_EDGE_CAP", 0)
    got = {r.doc_id: r.component for r in dd.neardup_components(pairs).collect()}
    assert got == want


def test_softdedup_reweight_hand_values(spark, tmp_path):
    """4 copies of A in src0, 1 unique B in src0, 2 copies of C split
    across src0/src1: each copy of a cnt-group weighs 10000 div cnt bp."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    rows = [
        (0, "a a a", "en", "src0", 5),
        (1, "a a a", "en", "src0", 5),
        (2, "a a a", "en", "src0", 5),
        (3, "a a a", "en", "src0", 5),
        (4, "b unique words", "en", "src0", 14),
        (5, "c shared", "en", "src0", 8),
        (6, "c shared", "en", "src1", 8),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r["source"]: (
            r["n_docs"], r["n_tokens"], r["eff_docs_bp"], r["eff_tokens_bp"]
        )
        for r in QUERIES["docs_softdedup_reweight"](spark, sf).collect()
    }
    # src0: 4xA (w=2500, 3 toks) + B (w=10000, 3 toks) + C copy (w=5000, 2 toks)
    assert got["src0"] == (6, 17, 4 * 2500 + 10000 + 5000, 4 * 3 * 2500 + 3 * 10000 + 2 * 5000)
    # src1: the other C copy
    assert got["src1"] == (1, 2, 5000, 2 * 5000)
    # soft mass never exceeds hard mass, and a full group sums to <= 10000
    assert all(v[2] <= 10000 * v[0] for v in got.values())
