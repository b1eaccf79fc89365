"""Tier C — dedup / near-dup / similarity over documents: exact, MinHash
LSH, SimHash, winnowing, set-similarity join, components.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark import oracle_text as _ot
from duckdb_cluster_hash_spark.operators import dedup as _dd
from duckdb_cluster_hash_spark.operators import multimodal as _mm
from duckdb_cluster_hash_spark.functions import text as _tx
from duckdb_cluster_hash_spark.plans._registry import _t, query


@query(
    "docs_exact_dedup",
    oracle=(
        "WITH h AS (SELECT md5(text) AS th FROM documents), "
        "g AS (SELECT th, count(*) AS cnt FROM h GROUP BY th) "
        "SELECT CAST(sum(cnt) AS BIGINT) AS total_docs, "
        "count(*) AS distinct_docs, "
        "count(*) FILTER (WHERE cnt > 1) AS dup_groups, "
        "COALESCE(CAST(sum(cnt - 1) FILTER (WHERE cnt > 1) AS BIGINT), 0) AS dup_docs "
        "FROM g"
    ),
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup profile (C3): md5-hash groups over document text."""
    docs = _t(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("th")).agg(F.count("*").alias("cnt"))
    return groups.agg(
        F.sum("cnt").alias("total_docs"),
        F.count("*").alias("distinct_docs"),
        F.count(F.when(F.col("cnt") > 1, 1)).alias("dup_groups"),
        F.coalesce(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1)), F.lit(0)
        ).alias("dup_docs"),
    )


@query("docs_dedup_representatives", oracle=_ot.dedup_representatives_sql())
def docs_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (C3): one keeper id per distinct text, digest-keyed."""
    return _dd.dedup_representatives(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query("docs_ngram_jaccard_pairs", oracle=_ot.ngram_jaccard_pairs_sql(3, 0.2))
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup (C4 baseline): word-3-gram Jaccard >= 0.2 via the
    inverted-index self-join (the oracle cross-joins; we never do)."""
    return _dd.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.2
    )


@query(
    "docs_minhash_neardup_pairs",
    oracle=_ot.minhash_neardup_pairs_sql(3, 16, 8, 2, 0.2),
)
def docs_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (C4 scale path): 16 hashes, 8 bands x 2 rows,
    candidates verified with exact Jaccard on candidates only."""
    return _dd.minhash_neardup_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        k=16,
        bands=8,
        rows=2,
        threshold=0.2,
    )


@query("docs_simhash_signatures", oracle=_ot.simhash_signatures_sql())
def docs_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (C4): 64-bit majority-vote fingerprint per document.
    Shares the materialized signature table with the near-dup pairs
    query (dedup._shared_checkpoint) — one explode + 64-sum pass per
    corpus per session."""
    return _dd.simhash64_shared(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query("docs_simhash_neardup_pairs", oracle=_ot.simhash_neardup_pairs_sql(2))
def docs_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 2, via pigeonhole
    block banding (block-equality join, 100% recall).  The oracle stays
    brute-force all-pairs — a genuine cross-check that the banded plan
    reproduces the exact result set."""
    return _dd.simhash_neardup_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=2
    )


@query("docs_fingerprints", oracle=_ot.rolling_hash_sql())
def docs_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document (C6)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _tx.rolling_hash_pudf()(F.col("text")).alias("fingerprint")
    )


def _winnow_fp_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized winnow fingerprint table (r14): the fingerprint
    query and the source-contamination matrix both consume the same
    (doc_id, fp) minima — one windowed gram pass per corpus per session
    instead of one per consumer."""
    docs = _t(spark, sf_dir, "documents")
    return _dd._shared_checkpoint(
        docs,
        ("winnow_fp", 3, 4),
        lambda: _dd.winnow_fingerprints(docs, "doc_id", "text", n=3, window=4),
    )


@query("docs_winnow_fingerprints", oracle=_ot.winnow_fingerprints_sql(3, 4))
def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (C6): distinct sliding-window minima of
    3-gram hashes, window 4 — the local fingerprinting scheme."""
    return _winnow_fp_shared(spark, sf_dir)


@query("docs_neardup_components", oracle=_ot.neardup_components_sql(3, 16, 8, 2, 0.2))
def docs_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering (C4 end-game): MinHash pairs -> connected
    components (dedup.neardup_components); component id = min doc id
    (the oracle computes the same closure with a recursive CTE).
    Session-memoized (neardup_components_shared): the census and the
    curation pipeline consume the same clustering, so the closure runs
    once per (corpus, params), not once per consumer."""
    return _dd.neardup_components_shared(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=8, rows=2, threshold=0.2,
    )


@query(
    "docs_neardup_component_census",
    oracle=(
        "SELECT component, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS sum_doc_id FROM ("
        + _ot.neardup_components_sql(3, 16, 8, 2, 0.2)
        + ") GROUP BY component ORDER BY component"
    ),
)
def docs_neardup_component_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster census: the per-cluster bill — component (min
    doc id), member count, exact membership digest (sum of ids) — over
    the session-memoized clustering (dedup.neardup_components_shared,
    same params) that docs_neardup_components and docs_curation_pipeline
    read, graded against the same recursive-CTE closure in the oracle.
    After either of those ran, the census is one map-side-combined
    groupBy over |clusters| groups.
    """
    labels = _dd.neardup_components_shared(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=8, rows=2, threshold=0.2,
    )
    return (
        labels.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        )
        .orderBy("component")
    )


@query("docs_chunk_dedup_histogram", oracle=_ot.chunk_dedup_histogram_sql(8))
def docs_chunk_dedup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup census (the paragraph-dedup analog, dolma /
    RefinedWeb-style): md5 digests of non-overlapping 8-word chunks,
    histogram of how many documents share each chunk.

    Scale: the shuffle carries 32-byte digests (never chunk text); two
    keyed aggregations sized by distinct-chunk count, then a histogram
    over a handful of rows.
    """
    docs = _t(spark, sf_dir, "documents")
    return _dd.chunk_dedup_histogram(docs, "doc_id", "text", 8)


@query(
    "docs_exact_substring_dedup",
    oracle=_ot.exact_substring_spans_sql(40, 64, 60),
)
def docs_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup, suffix-array style (C4; Lee et al. 2022
    ExactSubstr): document pairs sharing a verbatim substring of >= 60
    chars, with the per-pair longest span, span count, and a duplicated-
    character bound — the signal that cuts memorized boilerplate the
    set-based near-dup family can't see.  40-char md5 position anchors
    group like sorted suffixes; consecutive matches on a (doc_a, doc_b,
    pa-pb) diagonal reconstruct maximal spans exactly (see
    operators/dedup.py:exact_substring_span_pairs for the scale story:
    digest-only shuffles, cap-bounded join fan-out, keyed windows)."""
    return _dd.exact_substring_span_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=40, cap=64, min_span=60
    )


@query(
    "docs_substring_dup_bill",
    oracle=_ot.substring_dup_bill_sql(40, 64),
)
def docs_substring_dup_bill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring DELETION bill (C3/C4; the size of
    the cut Lee et al. 2022's ExactSubstr would actually make): for
    every document, the count of characters inside at least one
    >= 40-char substring shared verbatim with another document, as
    integer basis points of the document's length.  Complements
    docs_exact_substring_dedup (pair view) with the per-document view a
    curation run bills sources by; overlapping spans from different
    partners are interval-merged so no character is double-counted.
    See operators/dedup.py:substring_dup_bill."""
    return _dd.substring_dup_bill(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=40, cap=64
    )


@query(
    "docs_exact_substring_rewrite",
    oracle=_ot.exact_substring_rewrite_sql(40, 64),
)
def docs_exact_substring_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ExactSubstr DELETION itself (C3/C4; Lee et al. 2022 §4.1) —
    the step that turns the bill into a corpus: every character covered
    by a >= 40-char substring shared verbatim with another document is
    physically removed from every document, and the deduplicated corpus
    is WRITTEN as a lake artifact (parquet, one row per doc including
    untouched ones).  The graded audit is then computed FROM the
    artifact — per-doc pre/post char counts plus md5 over the rewritten
    text — so the oracle certifies the bytes that actually landed on
    disk, not an intermediate frame; a one-char splice error anywhere
    breaks the value hash.

    Scale: see operators/dedup.py:exact_substring_rewrite — merged
    regions collapse to one bounded interval array per doc, the splice
    is a JVM-side aggregate fold, and both joins (regions -> corpus,
    audit -> originals) are doc_id-keyed; no cartesian, no
    corpus-sized collect, no Python.  The run table is the family memo
    shared with the pair view and the bill."""
    from duckdb_cluster_hash_spark.streaming.events import scratch_dir

    docs = _t(spark, sf_dir, "documents")
    rewritten = _dd.exact_substring_rewrite(
        docs, "doc_id", "text", k=40, cap=64
    )
    path = scratch_dir("substr_rewrite", sf_dir)
    rewritten.write.mode("overwrite").parquet(path)
    art = spark.read.parquet(path)
    orig = docs.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    return (
        art.select(
            "doc_id",
            F.length("text").cast("bigint").alias("kept_chars"),
            F.md5("text").alias("rewritten_md5"),
        )
        .join(orig, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            "kept_chars",
            (F.col("n_chars") - F.col("kept_chars"))
            .cast("bigint")
            .alias("removed_chars"),
            "rewritten_md5",
        )
        .orderBy("doc_id")
    )


@query("docs_dup_span_coverage", oracle=_ot.duplicated_span_coverage_sql(8))
def docs_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage (Lee et al. 2022 exact
    substring dedup signal): per document, the share of sequential
    8-gram positions whose 8-gram appears in >= 1 other document —
    position-aware, unlike set-based Jaccard, so it measures how much
    of the document's SURFACE is literally shared boilerplate.

    Scale: positions shuffle as md5 digests; shared grams come from one
    keyed aggregation with an early HAVING; membership joins back
    left-semi.  Basis points keep the ratio integer cross-engine.
    """
    docs = _t(spark, sf_dir, "documents")
    return _dd.duplicated_span_coverage(docs, "doc_id", "text", n=8)


@query(
    "docs_incremental_dedup",
    oracle=(
        "WITH base AS (SELECT md5(text) AS digest FROM documents "
        "WHERE doc_id % 2 = 0), "
        "inc AS (SELECT doc_id, source, md5(text) AS digest FROM documents "
        "WHERE doc_id % 2 = 1), "
        "w AS (SELECT source, digest, "
        "row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rk, "
        "CASE WHEN digest IN (SELECT digest FROM base) THEN 1 ELSE 0 END "
        "AS in_base FROM inc) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_incoming, "
        "CAST(sum(CASE WHEN in_base = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_dup_vs_base, "
        "CAST(sum(CASE WHEN in_base = 0 AND rk > 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_dup_within, "
        "CAST(sum(CASE WHEN in_base = 0 AND rk = 1 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_new_unique "
        "FROM w GROUP BY source ORDER BY source"
    ),
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: a new batch (odd doc_ids) deduplicates
    against the already-ingested base corpus (even doc_ids) AND within
    itself, reporting per-source how much of the batch is (a) already in
    the base, (b) self-duplicate inside the batch, (c) genuinely new —
    the accept/reject accounting every rolling crawl ingestion keeps.

    Scale: both sides shuffle 32-byte md5 digests, never text; the
    vs-base membership is a LEFT SEMI-shaped join keyed on the digest
    (at 100 TB the base digest set is a bucketed table, making this a
    co-located join); within-batch dedup is one rank window over the
    digest key — same shuffle, no second pass.
    """
    docs = _t(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("digest")
    )
    inc = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    from pyspark.sql.window import Window

    hit = base.distinct().withColumn("in_base", F.lit(1))
    w = (
        inc.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("digest").orderBy("doc_id")
            ),
        )
        .join(hit, "digest", "left")
        .withColumn("in_base", F.coalesce("in_base", F.lit(0)))
    )
    return (
        w.groupBy("source")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum((F.col("in_base") == 1).cast("bigint")).alias(
                "n_dup_vs_base"
            ),
            F.sum(
                ((F.col("in_base") == 0) & (F.col("rk") > 1)).cast("bigint")
            ).alias("n_dup_within"),
            F.sum(
                ((F.col("in_base") == 0) & (F.col("rk") == 1)).cast("bigint")
            ).alias("n_new_unique"),
        )
        .orderBy("source")
    )


@query(
    "docs_incremental_neardup",
    oracle=_ot.minhash_incremental_neardup_sql(3, 16, 8, 2, 0.2),
)
def docs_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup crawl ingestion — the C4 companion to
    docs_incremental_dedup's exact digests, and the shape a rolling
    100 TB ingestion actually runs: a new batch (odd doc_ids) is
    MinHash-banded against the already-ingested base corpus (even
    doc_ids) and against itself, and the base is NEVER self-joined —
    candidate cost is O(batch x collision rate), independent of how
    big the accumulated base grows.  Verified (exact n-gram Jaccard >=
    0.2, computed on candidates only) matches roll up per source:
    already-near-the-base / near-dup of an EARLIER incoming doc
    (first-wins: the larger id is the duplicate) / genuinely new.

    Scale: signatures and shingle sets come from the same session
    memos the full self-join pairs query uses (mh_sigs / ngram_sets —
    one signature pass per corpus per session); the asymmetric join
    shuffles (doc_id, band_digest) rows only; at 100 TB the base's
    band table is a bucketed parquet table keyed on band_hash, making
    the per-batch probe a co-located join against yesterday's buckets.
    The oracle re-derives the identical signature arithmetic and
    candidate rule, so a recall hole in the asymmetric banding (vs the
    symmetric machine) hash-mismatches.
    """
    docs = _t(spark, sf_dir, "documents")
    sigs = _dd._shared_checkpoint(
        docs,
        ("mh_sigs", "doc_id", "text", 3, 16),
        lambda: _dd.minhash_signatures(docs, "doc_id", "text", 3, 16),
    )
    bt = _dd.lsh_band_table(sigs, 8, 2)
    inc_b = bt.where(F.col("doc_id") % 2 == 1)
    base_b = bt.where(F.col("doc_id") % 2 == 0)
    cvb = (
        inc_b.alias("i")
        .join(base_b.alias("b"), F.col("i.band_hash") == F.col("b.band_hash"))
        .select(
            F.col("i.doc_id").alias("inc_id"),
            F.col("b.doc_id").alias("other_id"),
            F.lit(1).alias("is_base"),
        )
        .distinct()
    )
    cwi = (
        inc_b.alias("e")
        .join(
            inc_b.alias("l"),
            (F.col("e.band_hash") == F.col("l.band_hash"))
            & (F.col("e.doc_id") < F.col("l.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("inc_id"),
            F.col("e.doc_id").alias("other_id"),
            F.lit(0).alias("is_base"),
        )
        .distinct()
    )
    sets = _dd._shared_checkpoint(
        docs,
        ("ngram_sets", "doc_id", "text", 3),
        lambda: docs.select(
            F.col("doc_id"),
            _dd.word_ngrams(F.col("text"), 3).alias("sh"),
        ),
    )
    si = sets.select(F.col("doc_id").alias("inc_id"), F.col("sh").alias("sh_i"))
    so = sets.select(F.col("doc_id").alias("other_id"), F.col("sh").alias("sh_o"))
    inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_o")))
    union = F.size(F.col("sh_i")) + F.size(F.col("sh_o")) - inter
    jacc = F.round((inter / union) * 10000) / 10000
    hits = (
        cvb.unionByName(cwi)
        .join(si, "inc_id")
        .join(so, "other_id")
        .where(jacc >= 0.2)
        .groupBy("inc_id")
        .agg(
            F.max("is_base").alias("vs_base"),
            F.max(1 - F.col("is_base")).alias("within"),
        )
    )
    inc_docs = docs.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("inc_id"), "source"
    )
    j = inc_docs.join(hits, "inc_id", "left").select(
        "source",
        # coalesce BEFORE aggregating: a source whose docs all miss
        # would otherwise sum all-NULL conditions to NULL where the
        # oracle's CASE arithmetic yields 0
        F.coalesce("vs_base", F.lit(0)).alias("vb"),
        F.coalesce("within", F.lit(0)).alias("wi"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_incoming"),
            F.sum((F.col("vb") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_neardup_vs_base"),
            F.sum(((F.col("vb") == 0) & (F.col("wi") == 1)).cast("bigint"))
            .cast("bigint")
            .alias("n_neardup_within"),
            F.sum(((F.col("vb") == 0) & (F.col("wi") == 0)).cast("bigint"))
            .cast("bigint")
            .alias("n_new"),
        )
        .orderBy("source")
    )


def _setsim_oracle_sql(tau_num: int = 8, tau_den: int = 10) -> str:
    # Deliberately naive complete oracle: full token self-join generates
    # every pair sharing ANY token, exact integer Jaccard test
    # (tau_den * inter >= tau_num * union), then the same histogram with
    # SYMMETRIC pair aggregates (sum of id sums, sum of id products) the
    # Spark side emits.  Completeness of the oracle is the point: a
    # wrong prefix bound or a lossy candidate filter on the Spark side
    # would MISS pairs and hash-mismatch here.
    return (
        "WITH dt AS (SELECT doc_id, unnest(list_distinct("
        "regexp_extract_all(lower(text), '[a-z]+'))) AS tok FROM documents), "
        "sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dt GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "CAST(count(*) AS BIGINT) AS i FROM dt a JOIN dt b "
        "ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY d1, d2), "
        "pairs AS (SELECT d1, d2, i, s1.n + s2.n - i AS u FROM inter "
        "JOIN sz s1 ON s1.doc_id = inter.d1 JOIN sz s2 ON s2.doc_id = inter.d2 "
        f"WHERE {tau_den} * i >= {tau_num} * (s1.n + s2.n - i)) "
        "SELECT CAST((1000 * i) // u AS BIGINT) AS jac_milli, "
        "CAST(count(*) AS BIGINT) AS n_pairs, "
        "CAST(sum(d1 + d2) AS BIGINT) AS sum_ids, "
        "CAST(sum(d1 * d2) AS BIGINT) AS sum_products "
        "FROM pairs GROUP BY jac_milli ORDER BY jac_milli DESC"
    )


@query("docs_set_similarity_join", oracle=_setsim_oracle_sql())
def docs_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard >= 0.8 (PPJoin-style
    prefix filtering; Xiao et al., WWW'08) — the exact complement to
    the MinHash/SimHash APPROXIMATE near-dup family, with every
    candidate-pruning trick LOSSLESS so completeness survives the
    oracle's naive all-pairs grade:

    1. EXACT-DUP COLLAPSE first: identical token sets group under an
       md5 set-hash, and the quadratic phase runs on DISTINCT sets
       only — in a near-dup-heavy corpus (this one: ~20% exact-dup
       docs) that shrinks pair work by the square.  Doc-level pair
       aggregates are recovered ALGEBRAICALLY from per-group
       (count, id-sum, id-square-sum): symmetric functions factor over
       groups — cross-group pairs contribute kH*s1G + kG*s1H id-sums
       and s1G*s1H products; within-group (Jaccard = 1 by identity)
       contribute C(k,2), (k-1)*s1 and (s1^2 - s2)/2 — so the output
       pins the same doc-level pair multiset the naive oracle counts,
       without ever enumerating intra-cluster pairs.
    2. Rarest-first PREFIX join: the global order is the (df, tok)
       tuple (no dense-rank single-partition exchange); each set keeps
       its first n - ceil(0.8n) + 1 tokens; only prefix-sharing sets
       become candidates.
    2b. ASYMMETRIC prefix bound (Bayardo et al. WWW'07 §3 / Xiao et
       al. §3.2): pairs are oriented smaller-set-first (ties by set
       hash).  For a qualifying pair with n1 <= n2 the overlap is
       >= ceil(t(n1+n2)/(1+t)) >= ceil(2t*n1/(1+t)), so the SMALLER
       side only needs its first n1 - ceil(8*n1/9) + 1 tokens
       (~0.11n at t=0.8) to guarantee a shared prefix token — the
       a-side join constraint `a.pos <= a.n - ceil(8*a.n/9) + 1`
       drops a third of the raw prefix-join pairs (measured 23.9M ->
       16.0M at sf0.1) with the identical candidate set (lossless:
       the bound subsumes the symmetric one because n2 >= n1).
    3. Lossless LENGTH filter at the join (10*min(n1,n2) >=
       8*max(n1,n2)) and POSITIONAL filter after it (max over shared
       prefix tokens of 1 + min(n1-p1, n2-p2) >= ceil(8(n1+n2)/18)):
       both are the PPJoin bounds — they can only drop pairs the
       Jaccard test would drop anyway.
    3b. SUFFIX filter (PPJoin+, Xiao et al. §4), shuffle-friendly
       form: Xiao's recursive probe partitions both suffixes at a
       probe token and bounds the intersection by the sum of
       per-partition minima — a bound that holds for ANY partition of
       the token ORDER, not just data-dependent probes.  Tokens here
       are 60-bit md5 digests (uniform by construction), so 8 FIXED
       equal cuts of the digest space partition every set evenly with
       zero per-pair probing: each distinct set precomputes an 8-bucket
       histogram once, every candidate row applies
       sum_j min(h1[j], h2[j]) >= alpha BEFORE the distinct exchange.
       Lossless (intersection splits across the cut: |t1 n t2 n B_j|
       <= min counts, summed over j) — only pairs the exact Jaccard
       test would reject are dropped, so the all-pairs-oracle
       completeness grade still applies.
    4. Exact verify by sorted-array intersection: candidates shuffle
       back to the distinct-set table with two KEYED joins on the set
       hash (packed as two bigints).  On each join's build side a
       group's token array is shuffled once per group; the
       intermediate first-join output does carry t1 arrays into the second
       exchange, i.e. t1 arrays ride that one exchange per CANDIDATE —
       bounded by the filter-pruned candidate count, not the pair
       cross product.  No forced broadcast pins the full token-array
       table in executor memory (at 100 TB the distinct-set table is
       GBs of arrays; AQE may still choose a broadcast at runtime when
       the measured size is small, which is the right call at small
       SF).  The previously-named follow-up — scalar-stats-first
       verify with a final positional array fetch — was profiled at
       sf0.1 and DECLINED: the verify stage is ~1s of a ~5s standalone
       wall (candidate generation and tokenize/group dominate), and a
       narrow-join variant that re-fetched histograms after the
       distinct measured net SLOWER (extra keyed exchange outweighed
       the thinner join rows), so the win went to 2b instead.

    All arithmetic is integer; both engines agree bit-for-bit.  (At
    scales where sum-of-products nears int64, both sides would reduce
    the checksum modulo a shared prime at the same final step.)

    Scale: dup collapse bounds the blow-up where near-dup corpora
    actually explode (inside duplicate clusters); the prefix join only
    multiplies RARE-token posting lists; the verify input is
    filter-pruned candidates, not the token cross product.  The
    naive oracle joins on every token — the prefix pipeline is the
    100 TB version, and its completeness is GRADED, not assumed.
    """
    from pyspark.sql import Window

    base = _t(spark, sf_dir, "documents")
    docs = base.select("doc_id", "text")
    # Tokens are carried as xxhash64 bigints from here on: the verify
    # step intersects sorted INT arrays instead of string arrays — same
    # result, a fraction of the comparison/allocation cost at millions
    # of pairs.  xxhash64 (JVM-native, no hex-string round trip)
    # replaces the earlier conv(substring(md5)) digesting: token
    # digests are PURELY INTERNAL here (the oracle only ever sees the
    # final jac_milli aggregates, which any injective token mapping
    # preserves), so the md5-only cross-engine rule does not apply.
    # Digesting goes explode -> flat projection -> collect_list, NOT a
    # transform() lambda: the per-element lambda is interpreted (no
    # whole-stage codegen inside HOFs) and measured 3.4x slower than
    # the exploded codegen path over the same corpus.
    def build_groups() -> DataFrame:
        tok = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
                )
            ).alias("t"),
        )
        sets = (
            tok.select("doc_id", F.xxhash64("t").alias("tokd"))
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list("tokd")).alias("ts"))
        )
        # Exact-dup collapse groups directly on the sorted token ARRAY (no
        # intermediate set-hash string to build or shuffle).
        g = sets.groupBy("ts").agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum("doc_id").cast("bigint").alias("s1"),
            F.sum(F.col("doc_id") * F.col("doc_id")).cast("bigint").alias("s2"),
            F.size(F.first("ts")).cast("bigint").alias("n"),
            # 8-bucket digest-space histogram for the suffix filter (3b):
            # bucket = top 3 bits of the signed 64-bit token digest
            # ((t >> 61) & 7 — arithmetic shift then mask spreads negatives
            # and positives over all 8 buckets uniformly).  Eight FLAT int
            # columns, not an array: the per-pair bound then compiles to
            # plain least()+sum arithmetic inside the join stage's
            # whole-stage codegen — an array + zip_with/aggregate lambda
            # form measured ~10x slower (interpreted HOFs + per-row
            # allocation over millions of joined rows).  The filter()
            # HOFs here run once per DISTINCT SET (thousands), not per
            # candidate row (millions).
            *[
                F.expr(
                    f"size(filter(first(ts), t -> int((t >> 61) & 7) = {j}))"
                ).alias(f"b{j}")
                for j in range(8)
            ],
        )
        # Set identity rides the shuffles as TWO BIGINTS (two independent
        # xxhash64 views of the token array): the candidate distinct and
        # the two verify joins key on 16 flat bytes — measured ~35% faster
        # on the distinct exchange than a 32-char md5 string key, and the
        # hashes come straight off the array without a concat_ws+md5 pass.
        # 128-bit combined identity keeps the birthday bound negligible
        # even at billions of distinct sets.
        return g.select(
            F.xxhash64("ts").alias("hh"),
            F.xxhash64(F.lit(7), F.col("ts")).alias("hl"),
            *g.columns,
        )

    # groups feeds five subtrees (df table, prefix build, two keyed
    # verify sides, within-group expansion) and is corpus-derived with
    # no per-call parameters — materialize it ONCE PER SESSION through
    # the dedup family's shared memo (r14; it was a per-call
    # localCheckpoint before, so every bench run re-tokenized and
    # re-grouped the corpus) instead of re-tokenizing per subtree.
    groups = _dd._shared_checkpoint(base, ("setsim_groups", 8, 10), build_groups)
    hist_cols = [f"b{j}" for j in range(8)]

    def build_pref() -> DataFrame:
        dt = groups.select(
            "hh", "hl", "n", *hist_cols, F.explode("ts").alias("tok")
        )
        df_tok = dt.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
        w_set = Window.partitionBy("hh", "hl")
        return (
            dt.join(F.broadcast(df_tok), "tok")
            .withColumn(
                "pos",
                F.row_number().over(w_set.orderBy(F.asc("df"), F.asc("tok"))),
            )
            .where(F.expr("pos <= n - ((8 * n + 9) div 10) + 1"))
            .select("hh", "hl", "tok", "pos", "n", *hist_cols)
        )

    # both sides of the self-join; session memo for the same reason
    pref = _dd._shared_checkpoint(base, ("setsim_pref", 8, 10), build_pref)
    # Lossless row-level positional filter: a qualifying pair must have
    # AT LEAST ONE shared prefix token whose overlap upper bound
    # 1 + min(n1-p1, n2-p2) reaches alpha = ceil(8(n1+n2)/18) — that row
    # survives the filter, so dropping the others before the distinct is
    # free (narrower exchange rows, no max aggregate needed).
    # Pairs are oriented SMALLER-SET-FIRST (ties by set hash) so the
    # a-side can apply the tighter asymmetric prefix bound (2b); every
    # unordered pair is still generated exactly once, and all the
    # downstream aggregates are symmetric in (1,2) so orientation never
    # reaches the output.
    cands = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (
                (F.col("a.n") < F.col("b.n"))
                | (
                    (F.col("a.n") == F.col("b.n"))
                    & (
                        (F.col("a.hh") < F.col("b.hh"))
                        | (
                            (F.col("a.hh") == F.col("b.hh"))
                            & (F.col("a.hl") < F.col("b.hl"))
                        )
                    )
                )
            )
            # asymmetric short prefix for the smaller side (2b):
            # lossless — overlap >= ceil(2t*n1/(1+t)) = ceil(8*n1/9)
            & F.expr("a.pos <= a.n - ((8 * a.n + 8) div 9) + 1"),
        )
        .where(
            # length filter, simplified by the orientation (a.n <= b.n)
            F.expr("10 * a.n >= 8 * b.n")
            & F.expr(
                "1 + least(a.n - a.pos, b.n - b.pos) >= "
                "(8 * (a.n + b.n) + 17) div 18"
            )
            # suffix filter (3b): histogram-minima overlap bound >= alpha
            # — flat codegen arithmetic, evaluated inside the join stage
            & F.expr(
                " + ".join(f"least(a.b{j}, b.b{j})" for j in range(8))
                + " >= (8 * (a.n + b.n) + 17) div 18"
            )
        )
        .select(
            F.col("a.hh").alias("hh1"), F.col("a.hl").alias("hl1"),
            F.col("b.hh").alias("hh2"), F.col("b.hl").alias("hl2"),
        )
        .distinct()
    )
    side = groups.select("hh", "hl", "ts", "n", "k", "s1")
    verified = (
        cands.join(
            side.select(
                F.col("hh").alias("hh1"), F.col("hl").alias("hl1"),
                F.col("ts").alias("t1"), F.col("n").alias("n1"),
                F.col("k").alias("k1"), F.col("s1").alias("i1"),
            ),
            ["hh1", "hl1"],
        )
        .join(
            side.select(
                F.col("hh").alias("hh2"), F.col("hl").alias("hl2"),
                F.col("ts").alias("t2"), F.col("n").alias("n2"),
                F.col("k").alias("k2"), F.col("s1").alias("i2"),
            ),
            ["hh2", "hl2"],
        )
        .withColumn("i", F.size(F.array_intersect("t1", "t2")).cast("bigint"))
        .withColumn("u", F.expr("n1 + n2 - i"))
        .where(F.expr("10 * i >= 8 * u"))
    )
    cross = verified.select(
        F.expr("(1000 * i) div u").cast("bigint").alias("jac_milli"),
        F.expr("k1 * k2").cast("bigint").alias("np"),
        F.expr("k2 * i1 + k1 * i2").cast("bigint").alias("si"),
        F.expr("i1 * i2").cast("bigint").alias("sp"),
    )
    within = (
        groups.where(F.col("k") >= 2)
        .select(
            F.lit(1000).cast("bigint").alias("jac_milli"),
            F.expr("k * (k - 1) div 2").cast("bigint").alias("np"),
            F.expr("(k - 1) * s1").cast("bigint").alias("si"),
            F.expr("(s1 * s1 - s2) div 2").cast("bigint").alias("sp"),
        )
    )
    return (
        cross.unionByName(within)
        .groupBy("jac_milli")
        .agg(
            F.sum("np").cast("bigint").alias("n_pairs"),
            F.sum("si").cast("bigint").alias("sum_ids"),
            F.sum("sp").cast("bigint").alias("sum_products"),
        )
        .orderBy(F.desc("jac_milli"))
    )


@query(
    "docs_containment_neardup",
    oracle=_ot.containment_neardup_pairs_sql(3, 0.5),
)
def docs_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (C4): pairs where one doc's
    3-gram set is >= 50% inside the other's — the subset-duplication
    (excerpt / boilerplate / quote) case symmetric Jaccard
    structurally misses.  Shares the memoized shingle table with the
    Jaccard and MinHash queries; the oracle cross-joins, the Spark
    plan never does (inverted-index join keyed on the shingle)."""
    return _dd.containment_neardup_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5
    )


@query(
    "docs_source_contamination",
    oracle=(
        "WITH wf AS (" + _ot.winnow_fingerprints_sql(3, 4) + "), "
        "d AS (SELECT DISTINCT s.source AS source, w.fp AS fp "
        "FROM wf w JOIN documents s ON w.doc_id = s.doc_id), "
        "cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS nf "
        "FROM d GROUP BY source), "
        "sh AS (SELECT a.source AS src_a, b.source AS src_b, "
        "CAST(count(*) AS BIGINT) AS n_shared "
        "FROM d a JOIN d b ON a.fp = b.fp AND a.source <> b.source "
        "GROUP BY a.source, b.source) "
        "SELECT sh.src_a, sh.src_b, sh.n_shared, "
        "CAST((10000 * sh.n_shared) // c.nf AS BIGINT) AS containment_bp "
        "FROM sh JOIN cnt c ON sh.src_a = c.source "
        "ORDER BY containment_bp DESC, src_a, src_b LIMIT 20"
    ),
)
def docs_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for each ordered source pair
    (a, b), how many of source a's winnowing fingerprints also appear
    in source b, as a containment fraction of a's fingerprint set in
    basis points — the inter-corpus leakage report a curation team
    reads before mixing sources (asymmetric on purpose: a small
    source can be fully contained in a large one).  Top-20 hottest
    directed pairs graded.

    Scale: fingerprints are the already-windowed winnowing minima
    (~2/(w+1) gram density) and shuffle as 60-bit digests, never
    text; the source-level distinct and the pair join key on the
    FINGERPRINT (posting-list bounded, the inverted-index shape);
    the final matrix is |sources|^2-bounded.
    """
    docs = _t(spark, sf_dir, "documents")
    wf = _winnow_fp_shared(spark, sf_dir)
    d = (
        wf.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "fp")
        .distinct()
    )
    cnt = d.groupBy("source").agg(F.count("*").cast("bigint").alias("nf"))
    a_, b_ = d.alias("a"), d.alias("b")
    sh = (
        a_.join(
            b_,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        sh.join(cnt.withColumnRenamed("source", "src_a"), "src_a")
        .selectExpr(
            "src_a",
            "src_b",
            "n_shared",
            "CAST((10000 * n_shared) div nf AS BIGINT) AS containment_bp",
        )
        .orderBy(F.desc("containment_bp"), F.asc("src_a"), F.asc("src_b"))
        .limit(20)
    )


def _minhash_calibration_sql(
    n: int = 3, k: int = 16, bands: int = 8, rows: int = 2, top: int = 20
) -> str:
    from duckdb_cluster_hash_spark.oracle_text import shingles_cte

    mh_aggs = ", ".join(f"min(h1 + {i} * h2) AS mh{i}" for i in range(k))
    band_list = ", ".join(
        f"md5('{j}|' || "
        + " || ',' || ".join(f"mh{j * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for j in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return (
        f"WITH {shingles_cte(n)}, "
        "sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled), "
        "hashed AS (SELECT doc_id, "
        "('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1, "
        f"('0x' || substr(md5(shingle), 17, 15))::BIGINT % {1 << 58} AS h2 "
        "FROM sh), "
        f"mh AS (SELECT doc_id, {mh_aggs} FROM hashed GROUP BY doc_id), "
        f"bands AS (SELECT doc_id, unnest([{band_list}]) AS band_hash "
        "FROM mh), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band_hash = b.band_hash "
        "AND a.doc_id < b.doc_id), "
        "est AS (SELECT c.doc_a, c.doc_b, "
        f"CAST({matches} AS BIGINT) AS matches FROM cand c "
        "JOIN mh a ON a.doc_id = c.doc_a JOIN mh b ON b.doc_id = c.doc_b), "
        "ver AS (SELECT e.doc_a, e.doc_b, e.matches, "
        "len(list_intersect(sa.sh, sb.sh)) AS inter, "
        "len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS u "
        "FROM est e JOIN shingled sa ON e.doc_a = sa.doc_id "
        "JOIN shingled sb ON e.doc_b = sb.doc_id) "
        f"SELECT doc_a, doc_b, "
        f"CAST((1000 * matches) // {k} AS BIGINT) AS est_permille, "
        "CAST(CASE WHEN u = 0 THEN 0 ELSE (1000 * inter) // u END "
        "AS BIGINT) AS exact_permille, "
        f"CAST((1000 * matches) // {k} - CASE WHEN u = 0 THEN 0 "
        "ELSE (1000 * inter) // u END AS BIGINT) AS err_permille "
        "FROM ver "
        f"ORDER BY abs((1000 * matches) // {k} - CASE WHEN u = 0 THEN 0 "
        "ELSE (1000 * inter) // u END) DESC, doc_a, doc_b LIMIT "
        f"{top}"
    )


@query("docs_minhash_jaccard_calibration", oracle=_minhash_calibration_sql())
def docs_minhash_jaccard_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash estimator calibration: on every LSH candidate pair, the
    16-permutation signature-agreement estimate of Jaccard sits next
    to the exact shingle-set Jaccard, and the 20 worst-calibrated
    pairs are graded — the index-quality meta-check run before
    trusting banded MinHash verdicts at a new shingle size or corpus
    (a k=16 sketch has ~1/4 standard error, and THIS query shows
    where that error lands).  Signed error in permille, all integer.

    Scale: signatures and shingle sets are the SAME memoized
    checkpoints the dedup suite shares (built once per corpus);
    candidates come from the banded join (never all-pairs), the
    match-count is 16 codegen CASE terms on the two joined signature
    rows, and the exact verify joins sets only for candidate pairs.
    """
    docs = _t(spark, sf_dir, "documents")
    k = 16
    sigs = _dd._shared_checkpoint(
        docs,
        ("mh_sigs", "doc_id", "text", 3, k),
        lambda: _dd.minhash_signatures(docs, "doc_id", "text", 3, k),
    )
    cands = _dd.lsh_candidate_pairs(sigs, 8, 2)
    sets = _dd._shared_checkpoint(
        docs,
        ("ngram_sets", "doc_id", "text", 3),
        lambda: docs.select(
            F.col("doc_id").alias("doc_id"),
            _dd.word_ngrams(F.col("text"), 3).alias("sh"),
        ),
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)],
    )
    matches = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr("doc_a", "doc_b", f"CAST({matches} AS BIGINT) AS matches")
    )
    va = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    vb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    u = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    ver = (
        est.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "matches",
            inter.cast("bigint").alias("inter"),
            u.cast("bigint").alias("u"),
        )
    )
    out = ver.selectExpr(
        "doc_a",
        "doc_b",
        f"CAST((1000 * matches) div {k} AS BIGINT) AS est_permille",
        "CAST(CASE WHEN u = 0 THEN 0 ELSE (1000 * inter) div u END "
        "AS BIGINT) AS exact_permille",
        f"CAST((1000 * matches) div {k} - CASE WHEN u = 0 THEN 0 "
        "ELSE (1000 * inter) div u END AS BIGINT) AS err_permille",
    )
    return out.orderBy(
        F.abs(F.col("err_permille")).desc(), F.asc("doc_a"), F.asc("doc_b")
    ).limit(20)


@query(
    "docs_softdedup_reweight",
    oracle=(
        "WITH h AS (SELECT source, md5(text) AS th, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS toks "
        "FROM documents), "
        "c AS (SELECT th, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY th), "
        "j AS (SELECT source, toks, 10000 // cnt AS wbp FROM h JOIN c USING (th)) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(toks) AS BIGINT) AS n_tokens, "
        "CAST(sum(wbp) AS BIGINT) AS eff_docs_bp, "
        "CAST(sum(toks * wbp) AS BIGINT) AS eff_tokens_bp "
        "FROM j GROUP BY source ORDER BY source"
    ),
)
def docs_softdedup_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (C3 frontier): instead of DROPPING exact duplicates,
    each copy is down-weighted to 1/cnt of a document (integer basis
    points, ``10000 div cnt``) so a duplicate group contributes ~one
    document of training mass wherever it appears — the
    keep-but-reweight alternative to hard dedup that preserves
    naturally-frequent text without letting boilerplate dominate the
    mixture.  Reported per source: raw vs EFFECTIVE doc/token mass,
    i.e. what the sampler would actually draw after re-weighting.

    Scale: duplicate groups key on the md5 digest, so the wire carries
    (digest, tokens) pairs, never bodies; one map-side-combined digest
    aggregate, one digest-keyed join back, one per-source aggregate
    over ~20 groups.  Integer floor-division keeps the weights
    bit-identical cross-engine (both truncate toward zero).
    """
    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        F.md5("text").alias("th"),
        F.size(F.expr("regexp_extract_all(text, '[^ ]+', 0)"))
        .cast("long")
        .alias("toks"),
    )
    c = h.groupBy("th").agg(F.count("*").cast("long").alias("cnt"))
    j = h.join(c, "th").select(
        "source", "toks", F.expr("10000 div cnt").alias("wbp")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("wbp").cast("long").alias("eff_docs_bp"),
            F.sum(F.col("toks") * F.col("wbp")).cast("long").alias("eff_tokens_bp"),
        )
        .orderBy("source")
    )


# Per-(band_idx, band) frequency cap over DISTINCT signatures — the
# skew safety valve for the dHash banded joins (every MODALITIES entry), the
# twin of the substring-anchor df cap (operators/dedup.py).  A band
# bucket holding f distinct signatures contributes ~f^2 candidate
# pairs, and a low-entropy band (flat images -> b_i = 0, silent clips
# -> monotone energy) is a hot key with no other bound; capping each
# bucket at c bounds total candidate mass by sum min(f, c)^2 <= 8*m*c
# — LINEAR in the distinct-signature count m.  Semantics (reproduced
# bit-for-bit in the oracle): a pair is reported iff hamming <= tau
# AND at least one SHARED band sits in a bucket of <= cap signatures.
# At tau = 6 the pigeonhole guarantees >= 2 shared bands, so a pair is
# lost only when EVERY shared band is hot.  The default never triggers
# at any graded scale (max observed bucket: 264 distinct signatures at
# the x10 scale notch) — it exists for the 100 TB corpus, where
# candidate mass is otherwise quadratic in signature diversity
# (8-bit bands: ~m^2 * 8/256 — see _sig_pair_classes).
DHASH_BAND_CAP = 512


def _dhash_class_ctes(head: str, cap: int = DHASH_BAND_CAP) -> str:
    """Shared oracle CTE tail over a modality head ending in CTE
    ``b(d, gy, band)``: pivots to one row per doc (``w8``), groups to
    DISTINCT signatures (``grp``: b0..b7, rep = min doc_id, mx = max
    doc_id, cnt), computes per-band bucket frequencies over distinct
    signatures (``fq0..fq7`` -> ``grpf``), and enumerates EVERY
    distinct-signature pair brute force (``crs``) keeping those with a
    shared band whose bucket holds <= cap signatures — the exact cap
    rule the Spark side's banded join implements.  The all-pairs shape
    is deliberately stronger than banded candidate generation: a
    banding recall hole (a pair the bands should find but don't) still
    hash-mismatches, while the cap rule is applied declaratively, not
    via the join."""
    wide = ", ".join(
        f"CAST(max(CASE WHEN gy = {i} THEN band END) AS INTEGER) AS b{i}"
        for i in range(8)
    )
    ham = " + ".join(f"bit_count(xor(x.b{i}, y.b{i}))" for i in range(8))
    fqs = ", ".join(
        f"fq{i} AS (SELECT b{i} AS band, CAST(count(*) AS BIGINT) AS f "
        f"FROM grp GROUP BY b{i})"
        for i in range(8)
    )
    fcols = ", ".join(f"q{i}.f AS f{i}" for i in range(8))
    fjoins = " ".join(f"JOIN fq{i} q{i} ON q{i}.band = g.b{i}" for i in range(8))
    shared_ok = " OR ".join(
        f"(x.b{i} = y.b{i} AND x.f{i} <= {cap})" for i in range(8)
    )
    return (
        head
        + f", w8 AS (SELECT d, {wide} FROM b GROUP BY d), "
        "grp AS (SELECT b0, b1, b2, b3, b4, b5, b6, b7, "
        "CAST(min(d) AS BIGINT) AS rep, CAST(max(d) AS BIGINT) AS mx, "
        "CAST(count(*) AS BIGINT) AS cnt "
        "FROM w8 GROUP BY b0, b1, b2, b3, b4, b5, b6, b7), "
        f"{fqs}, "
        f"grpf AS (SELECT g.*, {fcols} FROM grp g {fjoins}), "
        "crs AS (SELECT x.rep AS doc_a, y.rep AS doc_b, "
        f"CAST({ham} AS BIGINT) AS hamming, "
        "CAST(x.cnt * y.cnt AS BIGINT) AS n_pairs "
        f"FROM grpf x JOIN grpf y ON x.rep < y.rep WHERE {shared_ok}), "
        "cls AS (SELECT rep AS doc_a, mx AS doc_b, CAST(0 AS BIGINT) AS "
        "hamming, CAST(cnt * (cnt - 1) // 2 AS BIGINT) AS n_pairs "
        "FROM grp WHERE cnt > 1 "
        "UNION ALL SELECT doc_a, doc_b, hamming, n_pairs FROM crs "
        "WHERE hamming <= 6)"
    )


def _image_band_head() -> str:
    """Image oracle head ending in ``b(d, gy, band)``: the dHash bands
    re-derived from attach_fake_pnm's closed form (pixel(i) =
    (7*doc_id + 13*i) % 256, Rec.601 integer luma, nearest-neighbor
    9x8 grid, horizontal-gradient bits).  Shared by the near-dup class
    oracle (``MODALITIES["image"]``) and the streaming media-dedup
    oracle (plans/streaming.docs_streaming_media_dedup)."""
    base = "(((h * gy) // 8) * w + (w * gx) // 9)"

    def pix(i: str) -> str:
        return f"((7 * d + 13 * ({i})) % 256)"

    return (
        "WITH p AS (SELECT doc_id AS d, "
        "CAST(4 + doc_id % 8 AS BIGINT) AS w, "
        "CAST(3 + (doc_id * 3) % 5 AS BIGINT) AS h, "
        "CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS c FROM documents), "
        "g AS (SELECT d, gy, gx, CASE WHEN c = 3 THEN ("
        f"299 * {pix('3 * ' + base)} "
        f"+ 587 * {pix('3 * ' + base + ' + 1')} "
        f"+ 114 * {pix('3 * ' + base + ' + 2')}) // 1000 "
        f"ELSE {pix(base)} END AS v "
        "FROM p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gy) "
        "CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS gx)), "
        "s AS (SELECT d, gy, gx, v, "
        "lead(v) OVER (PARTITION BY d, gy ORDER BY gx) AS nxt FROM g), "
        "b AS (SELECT d, gy, CAST(coalesce(sum(CASE WHEN nxt > v "
        "THEN (CAST(1 AS BIGINT) << gx) ELSE 0 END), 0) AS BIGINT) AS band "
        "FROM s WHERE gx < 8 GROUP BY d, gy)"
    )


# Clip length for the audio near-dup fingerprint (multimodal.
# attach_fake_wav's n_base): at the decode-stats default (8) the
# 72-segment energy profile has at most one sample per segment and the
# fingerprint collapses to a function of clip LENGTH alone (19
# distinct signatures over 500 docs, measured); at 240 every segment
# holds 3-7 samples and the signature space is content-bearing (430
# distinct signatures over 500 docs, populated Hamming 1..6 mass).
WAV_NEARDUP_BASE = 240


def _audio_band_head() -> str:
    """Audio oracle head ending in ``b(d, gy, band)``: the energy-dHash
    bands re-derived from attach_fake_wav's closed form (sample(k) =
    (31*doc_id + 17*k) % 4096 - 2048 over n = (240 + d%9)*(1 + d%2)
    interleaved samples), 72 nearest-neighbor segments.  Sample k
    belongs to segment g = (72*k + 71) // n — the exact integer
    inverse of the boundary map lo_g = n*g // 72 — and empty trailing
    segments come back as energy 0 through the left join against the
    full 72-cell grid."""
    v = "((d * 31 + k * 17) % 4096 - 2048)"
    return (
        "WITH p AS (SELECT doc_id AS d, "
        f"CAST(({WAV_NEARDUP_BASE} + doc_id % 9) * (1 + doc_id % 2) "
        "AS BIGINT) AS n FROM documents), "
        "smp AS (SELECT d, n, unnest(generate_series(0, n - 1)) AS k "
        "FROM p), "
        "en AS (SELECT d, (72 * k + 71) // n AS g, "
        f"sum(CAST({v} AS BIGINT) * {v}) AS e FROM smp GROUP BY d, g), "
        "grid AS (SELECT p.d, gs.g, coalesce(en.e, 0) AS v FROM p "
        "CROSS JOIN (SELECT unnest(generate_series(0, 71)) AS g) gs "
        "LEFT JOIN en ON en.d = p.d AND en.g = gs.g), "
        "s AS (SELECT d, g // 9 AS gy, g % 9 AS gx, v, "
        "lead(v) OVER (PARTITION BY d, g // 9 ORDER BY g) AS nxt "
        "FROM grid), "
        "b AS (SELECT d, gy, CAST(coalesce(sum(CASE WHEN nxt > v "
        "THEN (CAST(1 AS BIGINT) << gx) ELSE 0 END), 0) AS BIGINT) AS band "
        "FROM s WHERE gx < 8 GROUP BY d, gy)"
    )


# Clip length for the video near-dup fingerprint (multimodal.
# attach_fake_y4m's nf_base): at the decode-stats default (2) the
# luma stream holds 16-160 bytes and most of the 72 segments are
# EMPTY, so the fingerprint is a function of clip shape alone; at 48
# the stream holds 384-1632 bytes, every segment is populated (>= 5
# bytes) and the signature space is content-bearing.  The signature
# CLASS period in doc_id is lcm(shape period 12, luma-offset period
# 256) = 768 — corpora longer than that carry exact-duplicate
# clusters, pinned by tests/test_text.py.
Y4M_NEARDUP_FRAMES = 48


def _video_band_head() -> str:
    """Video oracle head ending in ``b(d, gy, band)``: the luma-dHash
    bands re-derived from attach_fake_y4m's closed form (frame byte =
    (11*doc_id + 29*i + 7*j) % 256; the LUMA plane is the first
    width*height bytes of every frame under BOTH colorspaces, so luma
    byte k of the concatenated stream has i = k // (w*h), j = k %
    (w*h) over n = n_frames*w*h bytes), 72 nearest-neighbor segments
    of summed luma.  Byte k belongs to segment g = (72*k + 71) // n —
    the exact integer inverse of the boundary map lo_g = n*g // 72;
    n >= 384 at the near-dup clip length so no segment is empty, but
    the full-grid left join keeps the same shape as the audio head."""
    wh = "((4 + d % 3 * 2) * (2 + (d // 2) % 2 * 2))"
    v = f"((d * 11 + (k // {wh}) * 29 + (k % {wh}) * 7) % 256)"
    return (
        "WITH p AS (SELECT doc_id AS d, "
        f"CAST(({Y4M_NEARDUP_FRAMES} + doc_id % 4) * "
        "(4 + doc_id % 3 * 2) * (2 + (doc_id // 2) % 2 * 2) "
        "AS BIGINT) AS n FROM documents), "
        "smp AS (SELECT d, n, unnest(generate_series(0, n - 1)) AS k "
        "FROM p), "
        "en AS (SELECT d, (72 * k + 71) // n AS g, "
        f"sum(CAST({v} AS BIGINT)) AS e FROM smp GROUP BY d, g), "
        "grid AS (SELECT p.d, gs.g, coalesce(en.e, 0) AS v FROM p "
        "CROSS JOIN (SELECT unnest(generate_series(0, 71)) AS g) gs "
        "LEFT JOIN en ON en.d = p.d AND en.g = gs.g), "
        "s AS (SELECT d, g // 9 AS gy, g % 9 AS gx, v, "
        "lead(v) OVER (PARTITION BY d, g // 9 ORDER BY g) AS nxt "
        "FROM grid), "
        "b AS (SELECT d, gy, CAST(coalesce(sum(CASE WHEN nxt > v "
        "THEN (CAST(1 AS BIGINT) << gx) ELSE 0 END), 0) AS BIGINT) AS band "
        "FROM s WHERE gx < 8 GROUP BY d, gy)"
    )


class Modality(NamedTuple):
    """One perceptual near-dup modality: the memo-key prefix of its
    fingerprint table (``{memo}_dhash``) and pair-class table
    (``{memo}_pair_classes``), the builder from a ``doc_id`` frame to
    its ``(doc_id, b0..b7)`` signatures, and the oracle band head
    ending in CTE ``b(d, gy, band)``."""

    memo: str
    signatures: Callable[[DataFrame], DataFrame]
    band_head: Callable[[], str]


# Registration order = catalog order: image, audio, video.
MODALITIES = {
    "image": Modality(
        "pnm",
        lambda ids: _mm.pnm_dhash(_mm.attach_fake_pnm(ids)),
        _image_band_head,
    ),
    "audio": Modality(
        "wav",
        lambda ids: _mm.wav_energy_dhash(
            _mm.attach_fake_wav(ids, n_base=WAV_NEARDUP_BASE)
        ),
        _audio_band_head,
    ),
    "video": Modality(
        "y4m",
        lambda ids: _mm.y4m_luma_dhash(
            _mm.attach_fake_y4m(ids, nf_base=Y4M_NEARDUP_FRAMES)
        ),
        _video_band_head,
    ),
}


def dhash_shared(docs: DataFrame, modality: str) -> DataFrame:
    """Per-document fingerprint table ``(doc_id, b0..b7)`` of one
    modality (real decode of the synthesized media -> 8 one-byte
    bands), materialized once per corpus per session through the
    session memo and shared between the modality's near-dup pair and
    bill queries — one decode + hash pass, 8 small ints per document
    on the wire."""
    m = MODALITIES[modality]
    return _dd._shared_checkpoint(
        docs, (f"{m.memo}_dhash",), lambda: m.signatures(docs.select("doc_id"))
    )


_IMG_BANDS = [f"b{i}" for i in range(8)]


def _sig_pair_classes(
    sig: DataFrame, tau: int = 6, cap: "int | None" = None
) -> DataFrame:
    """Near-dup PAIR CLASSES at the DISTINCT-SIGNATURE level over any
    8-band signature table ``(doc_id, b0..b7)`` (image dHash, audio
    energy-dHash): ``(doc_a, doc_b, hamming <= tau, n_pairs)`` where
    each row is one signature pair (or one exact-duplicate cluster at
    distance 0), represented by its smallest member ids, carrying the
    number of underlying doc pairs it stands for.  NOTE the unit: rows
    are CLASSES, not doc pairs — a consumer wanting the doc-level
    enumeration expands each class row (cluster rows to the
    cnt-choose-2 within-group pairs, cross rows to the ca*cb
    member-id cross product); n_pairs sums are exact either way
    (pinned by tests/test_text.py::test_pair_class_expansion_...).

    Collapsing to distinct signatures FIRST is the load-bearing scale
    move on duplicate-heavy corpora (the synthetic image generator
    tops out at ~1-2k distinct rasters, so doc-level pair mass grows
    ~n^2/2k — measured exp(x10) = 2.0 before this rewrite): one
    linear grouping pass, and the candidate join runs over distinct
    signatures only.  On a HIGH-DIVERSITY corpus (distinct signatures
    m ~ n) the 8-bit bands make candidate mass ~m^2 * 8/256 —
    quadratic in diversity, the documented cost of banding 64-bit
    signatures at tau = 6 (8 bands is the minimum for pigeonhole
    exactness, so wider bands are not available) — which is where the
    per-(band_idx, band) frequency cap takes over: hot buckets
    (> cap distinct signatures — low-entropy bands, e.g. flat images
    or silent clips) are dropped from candidate generation, bounding
    candidate mass by 8*m*cap, linear in m.  See DHASH_BAND_CAP for
    the exact recall semantics (a pair is lost only when every shared
    band is hot; the oracle applies the identical rule).

    EXACT at the threshold by pigeonhole (below the cap): the 64-bit
    hash splits into 8 one-byte bands, and two signatures differing
    in <= 6 bits share at least TWO bands — so band equality as the
    candidate key loses nothing below distance 8, and even one hot
    shared band still leaves a live candidate key.  Distance-0 pairs
    exist only WITHIN a signature group (distinct signatures differ
    by >= 1 bit), so the cluster row covers them exactly — the cap
    never affects exact duplicates.
    """
    cap = DHASH_BAND_CAP if cap is None else int(cap)
    groups = sig.groupBy(*_IMG_BANDS).agg(
        F.min("doc_id").alias("rep"),
        F.max("doc_id").alias("mx"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    stack = F.expr(
        "stack(8, "
        + ", ".join(f"{i}, b{i}" for i in range(8))
        + ") AS (band_idx, band)"
    )
    # hot (band_idx, band) buckets over DISTINCT signatures: usually
    # EMPTY (cap is a skew safety valve), so the anti-join below is a
    # near-free broadcast filter, never a second shuffle of the stack
    hot = (
        groups.select(stack)
        .groupBy("band_idx", "band")
        .agg(F.count("*").alias("f"))
        .where(F.col("f") > int(cap))
        .select("band_idx", "band")
    )
    a = groups.select(
        F.col("rep").alias("ra"),
        F.col("cnt").alias("ca"),
        *[F.col(b).alias(f"a{i}") for i, b in enumerate(_IMG_BANDS)],
        stack,
    ).join(F.broadcast(hot), ["band_idx", "band"], "left_anti")
    b = groups.select(
        F.col("rep").alias("rb"),
        F.col("cnt").alias("cb"),
        *[F.col(b).alias(f"x{i}") for i, b in enumerate(_IMG_BANDS)],
        stack,
    ).join(F.broadcast(hot), ["band_idx", "band"], "left_anti")
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"x{i}")))
        for i in range(8)
    )
    cross = (
        a.join(b, ["band_idx", "band"])
        .where(F.col("ra") < F.col("rb"))
        .dropDuplicates(["ra", "rb"])
        .withColumn("hamming", ham.cast("bigint"))
        .where(F.col("hamming") <= tau)
        .select(
            F.col("ra").alias("doc_a"),
            F.col("rb").alias("doc_b"),
            "hamming",
            (F.col("ca") * F.col("cb")).cast("bigint").alias("n_pairs"),
        )
    )
    clusters = groups.where(F.col("cnt") > 1).select(
        F.col("rep").alias("doc_a"),
        F.col("mx").alias("doc_b"),
        F.lit(0).cast("bigint").alias("hamming"),
        F.expr("(cnt * (cnt - 1)) div 2").cast("bigint").alias("n_pairs"),
    )
    return clusters.unionByName(cross)


def _pair_classes(docs: DataFrame, modality: str, tau: int = 6) -> DataFrame:
    """Near-dup pair classes of one modality: its memoized fingerprint
    table through the shared signature-class machine
    (:func:`_sig_pair_classes` — see it for the class semantics, the
    distinct-signature collapse, and the band-cap recall rule).  The
    CLASS table itself is also memoized (hundreds of rows — cluster +
    cross class rows, never doc pairs): the pairs and bill queries
    consume the identical class set, so the grouping + banded join runs
    once per corpus per session."""
    return _dd._shared_checkpoint(
        docs,
        (f"{MODALITIES[modality].memo}_pair_classes", tau, DHASH_BAND_CAP),
        lambda: _sig_pair_classes(dhash_shared(docs, modality), tau),
    )


def _register_neardup(modality: str) -> None:
    """Register ``docs_{modality}_neardup_pairs`` and ``_bill``: REAL
    media decode (netpbm / RIFF-WAVE / YUV4MPEG2 over spec-compliant
    synthesized media) -> 64-bit perceptual fingerprint -> signature
    grouping -> banded Hamming join — the media twins of
    docs_simhash_neardup_pairs.

    ``_pairs`` emits the 100 closest pair CLASSES by (hamming, doc_a,
    doc_b): each row is one exact-dup cluster (distance 0) or one
    distinct-signature pair, represented by its smallest member ids
    with its doc-pair multiplicity — the cluster-level view a dedup
    pipeline acts on.  ``_bill`` is the pair-mass bill: DOC-pair counts
    per Hamming distance 0..6, summed from the class multiplicities
    (cnt-choose-2 or ca*cb doc pairs per row), so nothing doc-pair-sized
    is ever materialized; it grades EVERY pair the banding finds, so a
    distance-5/6 recall hole the top-100 query can't see hash-mismatches.

    Scale: decode + fingerprinting is one Arrow-batched map pass emitting
    8 small ints per document, memoized per corpus (:func:`dhash_shared`);
    the candidate join runs over DISTINCT signatures only, on
    (band_idx, band) EQUALITY, never a cartesian product, with hot band
    buckets dropped by the DHASH_BAND_CAP skew valve (see
    _sig_pair_classes for the full cost/recall analysis).  Both oracles
    re-derive every bit from the generator's closed form and grade an
    all-pairs formulation carrying the identical cap rule.
    """
    ctes = _dhash_class_ctes(MODALITIES[modality].band_head())

    @query(
        f"docs_{modality}_neardup_pairs",
        oracle=ctes + " SELECT doc_a, doc_b, hamming, n_pairs FROM cls "
        "ORDER BY hamming, doc_a, doc_b LIMIT 100",
    )
    def pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        return (
            _pair_classes(docs, modality)
            .orderBy("hamming", "doc_a", "doc_b")
            .limit(100)
        )

    @query(
        f"docs_{modality}_neardup_bill",
        oracle=ctes + " SELECT hamming, CAST(sum(n_pairs) AS BIGINT) AS n_pairs "
        "FROM cls GROUP BY hamming ORDER BY hamming",
    )
    def bill(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        return (
            _pair_classes(docs, modality)
            .groupBy("hamming")
            .agg(F.sum("n_pairs").cast("bigint").alias("n_pairs"))
            .orderBy("hamming")
        )


for _modality in MODALITIES:
    _register_neardup(_modality)
