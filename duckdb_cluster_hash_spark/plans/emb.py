"""Embedding similarity: exact top-k, LSH, IVF, PQ/ADC, Hamming,
Matryoshka, SemDeDup-adjacent cells.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark import memo as _memo
from duckdb_cluster_hash_spark import oracle_text as _ot
from duckdb_cluster_hash_spark.operators import similarity as _sim
from duckdb_cluster_hash_spark.plans._registry import _t, query

# The corpus probes nearly every emb query repeats — the row count
# (scaled_n_cells input) and the vec_id=0 query row — are each a
# full-scan driver job; under the bench's 8-way FAIR contention each
# waits in the scheduler queue, so unshared probes, not the ANN work,
# set several queries' contended walls.  They live in the session memo
# under ("emb", name) keys.  Scalars and bounded rows only — never a
# corpus collect.
def _emb_n(emb: DataFrame) -> int:
    return _memo.shared(emb, ("emb", "n"), lambda: int(emb.count()))


def _emb_q0(emb: DataFrame):
    """The vec_id = 0 probe row (vec_id, label, embedding)."""
    return _memo.shared(
        emb, ("emb", "q0"), lambda: emb.where(F.col("vec_id") == 0).head()
    )


@query("emb_cosine_topk", oracle=_ot.cosine_topk_sql(0, 10, 64))
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search (C5): brute-force cosine top-10 to vec_id 0,
    fold-exact arithmetic shared with the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _emb_q0(emb)["embedding"]
    return _sim.cosine_topk(emb, [float(x) for x in qvec], k=10)


@query(
    "emb_label_centroids",
    oracle=(
        "WITH e AS (SELECT label, unnest(embedding) AS v, "
        "CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos FROM embeddings) "
        "SELECT label, pos, "
        "CAST(sum(CAST(round(v::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS dim_sum_micro, "
        "count(*) AS n_vecs "
        "FROM e GROUP BY label, pos ORDER BY label, pos"
    ),
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: per-label per-dimension sums via posexplode.

    Values quantize to integer micros BEFORE summing: float->decimal
    casts diverge across engines (Spark goes through the float's
    shortest decimal repr, DuckDB through its full binary expansion),
    but float->double->round-to-int is bit-identical, and integer sums
    are order-independent.  centroid = dim_sum_micro / (1e6 * n_vecs).
    """
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    micro = F.round(F.col("v").cast("double") * 1000000).cast("bigint")
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.sum(micro).alias("dim_sum_micro"),
            F.count("*").alias("n_vecs"),
        )
        .orderBy("label", "pos")
    )


_EMB_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "[a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE FOR i IN range(1, 65)]), "
    "(acc, x) -> acc + x)"
)


_EMB_NORM = lambda t: (
    f"list_reduce(list_prepend(0.0::DOUBLE, "
    f"[{t}.embedding[i]::DOUBLE * {t}.embedding[i]::DOUBLE FOR i IN range(1, 65)]), "
    "(acc, x) -> acc + x)"
)


@query(
    "emb_neardup_pairs",
    oracle=_ot.emb_lsh_neardup_sql(0.45, 8, 8, 64),
)
def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (C4/C5) via hyperplane-LSH banding:
    (table, bucket) equality join generates candidates, exact fold-cosine
    verifies — never an all-pairs product.  Threshold 0.45 surfaces this
    corpus's natural similarity tail (no planted vector dups); that is the
    worst case for sign-LSH (per-plane collide prob 0.65), so the
    (8 planes, 8 tables) point trades recall (~0.22 at c=0.45) for a ~10x
    candidate cut — at production near-dup thresholds (>= 0.9) the same
    banding keeps >0.99 recall while pruning geometrically harder.  The
    oracle recomputes the identical md5-derived buckets in SQL, so the
    recall trade is mirrored, not hidden."""
    return _sim.embedding_neardup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), threshold=0.45, planes=8, tables=8
    )


@query("emb_ann_topk", oracle=_ot.ivf_topk_sql(0, 10, 64, None, 4))
def emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search (C5, the 100 TB similarity story): IVF index build +
    partition-pruned probe.  The corpus is re-written as parquet
    partitioned by a deterministic md5-centroid cell id; the probe reads
    ONLY the nprobe=4 cell partitions nearest the query (PartitionFilters
    in the scan — nprobe/n_cells of the data touched, no shuffle), then
    exact fold-cosine re-ranks the survivors.  The cell count is
    CORPUS-DERIVED (scaled_n_cells ~ ceil(sqrt(n)), mirrored by the
    oracle's GREATEST(16, ceil(sqrt(count(*))))), so the probed fraction
    shrinks as the corpus grows — a fixed cell count would re-approach a
    full scan at 100x scale.  A kmeans-trained quantizer (ivf_topk)
    plugs into the same index/probe machinery; the md5 quantizer is used
    here so the DuckDB oracle can recompute cell assignment bit-for-bit.
    """
    from duckdb_cluster_hash_spark.streaming.events import scratch_dir

    emb = _t(spark, sf_dir, "embeddings")
    n_cells = _sim.scaled_n_cells(_emb_n(emb))
    qvec = [
        float(x)
        for x in _emb_q0(emb)["embedding"]
    ]
    index_path = scratch_dir(f"ivf_index_c{n_cells}", sf_dir)
    _sim.ivf_write_index(emb, index_path, dim=64, n_cells=n_cells)
    return _sim.ivf_probe_topk(
        spark, index_path, qvec, k=10, nprobe=4, n_cells=n_cells
    )


@query(
    "emb_int8_quantize_stats",
    oracle=(
        "WITH q AS (SELECT label, "
        "[CASE WHEN mx > mn THEN CAST(floor((x::DOUBLE - mn) * 255 / (mx - mn) + 0.5) AS BIGINT) "
        "ELSE 0 END FOR x IN embedding] AS qs FROM "
        "(SELECT label, embedding, list_min(embedding)::DOUBLE AS mn, "
        "list_max(embedding)::DOUBLE AS mx FROM embeddings)) "
        "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
        "CAST(sum(list_sum(qs)) AS BIGINT) AS sum_q, "
        "CAST(sum(list_sum([CAST(v * v AS BIGINT) FOR v IN qs])) AS BIGINT) AS sum_q2 "
        "FROM q GROUP BY label ORDER BY label"
    ),
)
def emb_int8_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 per-vector quantization of the embedding column with
    per-label integer checksums (operators/quantize.py).

    The codes are bit-identical across engines (IEEE +,-,*,/ and floor
    only — no round(), no transcendentals), so the oracle checks every
    code exactly via sum / sum-of-squares.  Scale: quantization is a
    map-side codegen'd transform; 4x smaller vectors are what the ANN
    candidate path scans at 100 TB.
    """
    from duckdb_cluster_hash_spark.operators.quantize import quantize_label_stats

    emb = _t(spark, sf_dir, "embeddings")
    return quantize_label_stats(emb, "embedding", "label").orderBy("label")


@query("emb_semantic_dedup", oracle=_ot.semantic_dedup_summary_sql(0.6, 64, None))
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding corpus into
    coarse cells (deterministic md5 centroids — the same IVF quantizer
    the ANN index uses), then count keep-lowest-id drops among
    intra-cell pairs with cosine >= 0.6.

    Scale: pairs exist only WITHIN a cell — the cell tag is the parquet
    partition key at 100 TB, so each intra-cell join reads one pruned
    partition and cross-cell pairs are never materialized.  The exact
    pair cosine runs on candidates only, Arrow-vectorized.  The cell
    count scales with the corpus (ceil(sqrt(n)), floor 16 — both engines
    derive it from count(*)): per-cell population stays ~sqrt(n), so the
    intra-cell pair work is O(n^1.5), not the O(n²) a fixed cell count
    degenerates to at 100× scale (the SemDeDup paper's k≈100k on LAION
    is the same rule of thumb).
    """
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.semantic_dedup_summary(emb, threshold=0.6, dim=64, n_cells=None)


@query(
    "emb_ivf_kmeans_recall",
    oracle=(
        "SELECT 10 AS k, "
        "CAST(GREATEST(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) // 2 "
        "AS INTEGER) AS nprobe, "
        "CAST(GREATEST(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) "
        "AS INTEGER) AS n_clusters, "
        "CAST(1 AS INTEGER) AS recall_ok FROM embeddings"
    ),
)
def emb_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-quantizer ANN (MLlib KMeans IVF, similarity.ivf_topk)
    graded by recall against the exact fold-cosine top-k.

    KMeans centroids are seeded but depend on data partitioning, so exact
    result hashes are not portable across engines; the driver-checkable
    contract is the RECALL PROPERTY: probing n_clusters div 2 of the
    CORPUS-SCALED cluster count (scaled_n_cells ~ ceil(sqrt(n)), same
    rule as the md5-IVF index trio — the oracle re-derives k and nprobe
    from count(*)) must recover >= 5 of the exact top-10 (measured 8-9
    of 10 at sf0.01/sf0.1 — wide margin).  Exact full-probe equality
    and per-seed recall are pinned in tests/test_similarity.py.
    Scale: the cell tag becomes a parquet partition column (see
    ivf_write_index) and the probe reads nprobe/n_clusters = half the
    corpus here for a maximally-robust contract; a production service
    probes a constant number of sqrt(n) cells, which is the trio's
    shrinking-fraction story.
    """
    emb = _t(spark, sf_dir, "embeddings")
    n_clusters = _sim.scaled_n_cells(_emb_n(emb))
    nprobe = n_clusters // 2
    qvec = [float(x) for x in _emb_q0(emb)["embedding"]]
    # quantizer trained on an md5-deterministic 25% sample (standard IVF
    # practice — at 100 TB nobody KMeans-fits the full corpus)
    approx = _sim.ivf_topk(
        emb, qvec, k=10, n_clusters=n_clusters, nprobe=nprobe,
        train_permille=250,
    )
    exact = _sim.cosine_topk(emb, qvec, k=10).select("vec_id")
    return (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count("*").alias("overlap"))
        .select(
            F.lit(10).alias("k"),
            F.lit(nprobe).alias("nprobe"),
            F.lit(n_clusters).alias("n_clusters"),
            (F.col("overlap") >= F.lit(5)).cast("int").alias("recall_ok"),
        )
    )


@query(
    "emb_lsh_ann_recall",
    oracle=(
        "SELECT 10 AS k, 4 AS planes, 16 AS tables, "
        "CAST(1 AS INTEGER) AS recall_ok, CAST(1 AS INTEGER) AS self_found"
    ),
)
def emb_lsh_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (similarity.ann_lsh_topk — bucket probe across
    16 tables, exact re-rank of candidates only) graded by its recall
    contract against the exact fold-cosine top-k, like
    emb_ivf_kmeans_recall: bucket membership depends on float sign
    tests no SQL engine reproduces bit-for-bit, so the portable oracle
    is the property, not the ranking.

    recall_ok: >= 5 of the exact top-10 recovered (pytest pins >= 6 at
    these parameters; 5 leaves margin).  self_found: the query vector
    hashes into its own bucket in every table, so it is always a
    candidate and ranks first — a structural invariant of LSH probing.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in _emb_q0(emb)["embedding"]]
    approx = _sim.ann_lsh_topk(emb, qvec, k=10, planes=4, tables=16)
    exact = _sim.cosine_topk(emb, qvec, k=10).select("vec_id")
    overlap = (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count("*").alias("overlap"))
    )
    self_hit = approx.agg(
        F.max(F.when(F.col("vec_id") == 0, 1).otherwise(0)).alias("self_found")
    )
    return overlap.join(F.broadcast(self_hit)).select(
        F.lit(10).alias("k"),
        F.lit(4).alias("planes"),
        F.lit(16).alias("tables"),
        (F.col("overlap") >= F.lit(5)).cast("int").alias("recall_ok"),
        F.col("self_found").cast("int").alias("self_found"),
    )


@query(
    "emb_dim_stats",
    oracle=(
        "WITH e AS (SELECT unnest(embedding) AS v, "
        "CAST(generate_subscripts(embedding, 1) AS INTEGER) AS pos "
        "FROM embeddings), "
        "m AS (SELECT pos, CAST(round(v::DOUBLE * 1000) AS BIGINT) AS mv "
        "FROM e) "
        "SELECT pos, CAST(count(*) AS BIGINT) AS n_vecs, "
        "CAST(sum(mv) AS BIGINT) AS sum_milli, "
        "CAST(sum(mv * mv) AS BIGINT) AS sumsq_milli2, "
        "CAST(min(mv) AS BIGINT) AS min_milli, "
        "CAST(max(mv) AS BIGINT) AS max_milli "
        "FROM m GROUP BY pos ORDER BY pos"
    ),
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding corpus (the
    normalization / dead-dimension / whitening report run before any
    ANN indexing): count, sum, sum-of-squares, min, max — variance and
    mean derive from the sums reader-side.

    Values quantize to integer MILLIS before any aggregation (same
    rationale as emb_label_centroids: float->double->round-to-int is
    bit-identical across engines and integer sums are order-independent;
    millis, not micros, keep the squared sum < 2^63 out to ~1e17 rows
    per dimension).

    Scale: one posexplode + one keyed partial aggregation on the
    dimension index — the shuffle carries |dims| rows of five bigints
    per map task, nothing else.
    """
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(F.posexplode("embedding").alias("pos0", "v")).select(
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("v").cast("double") * 1000).cast("bigint").alias("mv"),
    )
    return (
        exploded.groupBy("pos")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("mv").alias("sum_milli"),
            F.sum(F.col("mv") * F.col("mv")).alias("sumsq_milli2"),
            F.min("mv").alias("min_milli"),
            F.max("mv").alias("max_milli"),
        )
        .orderBy("pos")
    )


@query(
    "emb_pq_adc_recall",
    oracle=(
        "SELECT 10 AS k, 8 AS m, 32 AS n_codes, 128 AS rerank, "
        "CAST(1 AS INTEGER) AS recall_ok"
    ),
)
def emb_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (C5's last classic technique after
    exact/LSH/IVF/SemDeDup/int8): vectors L2-normalized and split into
    m=8 subspaces, each coded against a 32-entry md5-deterministic
    sample codebook; the probe ranks by asymmetric distance (per-row
    lookup-table sum, Arrow-vectorized) and exactly re-ranks the 128
    survivors.  On the unit sphere squared L2 is 2 - 2*cos, so ADC
    order approximates the exact cosine grader's order.

    Like the other implementation-specific ANN operators the portable
    oracle is the RECALL CONTRACT: >= 5 of the exact top-10 recovered
    (measured 9-10/10 at sf0.001/0.01/0.1 — wide margin).  Scale: codes
    are m bytes/vector (32x smaller than the float32 row) computed in
    one map-side pass; the probe scans codes + reranks 128 vectors,
    never the full-vector corpus.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in _emb_q0(emb)["embedding"]]
    cb = _sim.pq_sample_codebook(emb, m=8, n_codes=32)
    approx = _sim.pq_adc_topk(emb, cb, qvec, k=10, rerank=128)
    exact = _sim.cosine_topk(emb, qvec, k=10).select("vec_id")
    return (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count("*").alias("overlap"))
        .select(
            F.lit(10).alias("k"),
            F.lit(8).alias("m"),
            F.lit(32).alias("n_codes"),
            F.lit(128).alias("rerank"),
            (F.col("overlap") >= F.lit(5)).cast("int").alias("recall_ok"),
        )
    )


@query(
    "emb_matryoshka_recall",
    oracle=(
        "SELECT 10 AS k, 64 AS full_dim, 16 AS trunc_dim, 64 AS rerank, "
        "CAST(1 AS INTEGER) AS recall_ok"
    ),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval (Kusupati et al.,
    2022 — the embedding-side cousin of PQ: score with a PREFIX of the
    vector, re-rank the survivors at full dimension): candidates are
    ranked by exact cosine over the first 16 of 64 dims (4x less I/O
    and FLOPs on the scan), the top-64 survivors re-ranked by full-dim
    exact cosine, and the final top-10 graded against the full-dim
    exact top-10 as a recall contract (>= 5/10; the synthetic
    embeddings spread variance evenly across dims — the WORST case for
    prefix truncation, and recall still holds well above the bar).

    Scale: the hot scan touches a 16-float prefix per row — with
    column-chunked vector storage that is a genuine 4x scan-bytes
    reduction, same shape as the int8 and PQ paths; the full-dim
    re-rank reads exactly 64 rows.  Like all implementation-specific
    ANN operators, the portable oracle is the recall CONTRACT row.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in _emb_q0(emb)["embedding"]]
    trunc = emb.select(
        "vec_id", "label", F.slice("embedding", 1, 16).alias("embedding")
    )
    cands = _sim.cosine_topk(trunc, qvec[:16], k=64)
    reranked = (
        _sim.cosine_topk(
            emb.join(cands.select("vec_id"), "vec_id"), qvec, k=10
        )
        .select("vec_id")
    )
    exact = _sim.cosine_topk(emb, qvec, k=10).select("vec_id")
    return (
        reranked.join(exact, "vec_id")
        .agg(F.count("*").alias("overlap"))
        .select(
            F.lit(10).alias("k"),
            F.lit(64).alias("full_dim"),
            F.lit(16).alias("trunc_dim"),
            F.lit(64).alias("rerank"),
            (F.col("overlap") >= F.lit(5)).cast("int").alias("recall_ok"),
        )
    )


@query(
    "emb_binary_hamming_recall",
    oracle=(
        "SELECT 10 AS k, 64 AS dim, 1 AS bits_per_dim, 128 AS rerank, "
        "CAST(1 AS INTEGER) AS recall_ok"
    ),
)
def emb_binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary quantization ANN — the extreme end of the repo's
    quantization spectrum (float32 -> int8 -> PQ bytes -> ONE BIT per
    dimension): each 64-dim vector collapses to a single BIGINT whose
    bit i is the sign of dimension i (mean-centered per dimension so
    the bits split informatively), candidates rank by Hamming distance
    — ``bit_count(xor(code, query_code))``, a single POPCNT-class
    instruction inside whole-stage codegen — and the top-128 survivors
    re-rank by exact cosine.  Recall contract >= 5 of the exact top-10
    (like every implementation-specific ANN operator).

    Scale: 256x compression (64 floats -> 8 bytes) means the candidate
    scan reads ~4 GB per 100 TB of raw vectors — cache-resident at
    cluster scale — and the integer-xor distance never leaves the JVM;
    per-dimension means come from one map-side aggregate.  This is the
    binary-quantization layout vector stores ship as their cheapest
    tier (same shape: code scan -> shortlist -> exact re-rank).
    """
    emb = _t(spark, sf_dir, "embeddings")
    dim = 64
    # per-dimension means probe-memoized (r15, one full-scan action per
    # corpus per session instead of per call), like _emb_n/_emb_q0
    means_row = _memo.shared(
        emb,
        ("emb", "ham_means"),
        lambda: emb.select(
            F.array(
                *[
                    F.avg(F.col("embedding")[i]).alias(f"m{i}")
                    for i in range(dim)
                ]
            ).alias("mu")
        ).head()["mu"],
    )

    def word_col(vec_col: str, lo: int):
        # 32 dims per BIGINT word: bit shifts stay far from the sign bit
        terms = None
        for i in range(lo, lo + 32):
            bit = F.when(
                F.col(vec_col)[i].cast("double") > F.lit(float(means_row[i])),
                F.lit(1).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")) * F.lit(1 << (i - lo)).cast(
                "bigint"
            )
            terms = bit if terms is None else terms + bit
        return terms

    # only the id and the two code words flow into the candidate scan
    # (the query row no longer reads from this frame)
    coded = emb.select(
        "vec_id",
        word_col("embedding", 0).alias("w0"),
        word_col("embedding", 32).alias("w1"),
    )
    # query row from the session probe memo; its binary code is the same
    # per-bit comparison the engine runs (float32 widened to double vs
    # the identical mean literal), computed driver-side — the second
    # per-call full-scan head() action is gone (r15)
    qvec = [float(x) for x in _emb_q0(emb)["embedding"]]
    q0, q1 = (
        sum(
            (1 << (i - lo)) if qvec[i] > float(means_row[i]) else 0
            for i in range(lo, lo + 32)
        )
        for lo in (0, 32)
    )
    cands = (
        coded.select(
            "vec_id",
            (
                F.bit_count(F.expr(f"w0 ^ {q0}"))
                + F.bit_count(F.expr(f"w1 ^ {q1}"))
            ).alias("hd"),
        )
        .orderBy(F.asc("hd"), F.asc("vec_id"))
        .limit(128)
    )
    reranked = (
        _sim.cosine_topk(emb.join(cands.select("vec_id"), "vec_id"), qvec, k=10)
        .select("vec_id")
    )
    exact = _sim.cosine_topk(emb, qvec, k=10).select("vec_id")
    return (
        reranked.join(exact, "vec_id")
        .agg(F.count("*").alias("overlap"))
        .select(
            F.lit(10).alias("k"),
            F.lit(64).alias("dim"),
            F.lit(1).alias("bits_per_dim"),
            F.lit(128).alias("rerank"),
            (F.col("overlap") >= F.lit(5)).cast("int").alias("recall_ok"),
        )
    )


@query("emb_margin_bitext_pairs", oracle=_ot.margin_bitext_sql(0, 1, 64, None, 4))
def emb_margin_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (the CCMatrix / LASER recipe,
    Artetxe & Schwenk ACL 2019): treat two label populations as the two
    sides of a comparable corpus and emit MUTUAL-BEST pairs under the
    ratio-margin criterion — cos(x, y) divided by the mean of the two
    sides' local kNN-average cosines — the standard filter for mining
    aligned training pairs, where raw cosine over-selects hubs and the
    margin normalizes each vector's neighborhood density away.

    Candidates are blocked by the shared md5-IVF cell
    (similarity.ivf_assign_cells, bit-deterministic fold-order argmax),
    NOT an all-pairs join: each side joins on its cell tag, so the
    candidate space is keyed and partition-local — exactly how the real
    recipe shortlists with ANN before scoring margins.  kNN averages use
    the top-4 positive cosines WITHIN the shortlist; the 4 doubles are
    summed over a SORTED array (array_sort + sequential aggregate fold)
    so the float addition order — and therefore every margin bit —
    matches the oracle's list_sort + list_reduce exactly.  Mutual-best =
    row_number() == 1 on both keyed windows (margin DESC, id ASC).

    Scale: cell join is keyed on scaled_n_cells = max(16, ceil(sqrt(n)))
    cells (the oracle rebuilds the same constant from count(*)), so
    per-cell population — and with it the candidate blow-up — stays
    ~sqrt(n) as the corpus grows;
    kNN stats and argmax windows partition by vector id; no global
    exchange before the final display sort.  At 100 TB the same plan
    holds with the IVF index pre-built and bucketed by cell.
    """
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    # One Arrow pass for cell assignment, materialized once: a/b and the
    # three cand references below would otherwise re-run the mapInPandas
    # chain per branch (measured 36.9s standalone at sf0.1; the repeated
    # heavy-codegen fold joins also wedged a 68-query-old session's JVM
    # during the full sf0.1 sweep).
    sides = (
        _sim.ivf_assign_cells(emb, n_cells=_sim.scaled_n_cells(_emb_n(emb)))
        .withColumn("nsq", _sim.dot_fold(F.col("embedding"), F.col("embedding")))
        .localCheckpoint(eager=True)
    )
    a = sides.where(F.col("label") == 0).select(
        F.col("vec_id").alias("a_id"), "cell",
        F.col("embedding").alias("ea"), F.col("nsq").alias("na2"),
    )
    b = sides.where(F.col("label") == 1).select(
        F.col("vec_id").alias("b_id"), "cell",
        F.col("embedding").alias("eb"), F.col("nsq").alias("nb2"),
    )
    # cand feeds ka, kb AND the margin join: materialize the scored
    # shortlist once (narrow: two ids, cell, cos — bounded by the
    # cell-blocked candidate count) instead of re-running the scoring
    # per consumer.  Scoring itself is one Arrow COGROUPED gram kernel
    # per cell (similarity.cell_blocked_cross_cosines: numpy
    # accumulation sequential over dims, bit-identical to the fold) —
    # at 100 TB the O(n^1.5) candidate space is scored in vectorized C,
    # never through an interpreted per-pair HOF fold.
    cand = _sim.cell_blocked_cross_cosines(a, b, dim=64).localCheckpoint(
        eager=True
    )
    knn = 4

    def _knn_stats(df: DataFrame, key: str, other: str, s: str, n: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.desc("cos"), F.asc(other))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= knn)
            .groupBy(key)
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list("cos")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias(s),
                F.count("*").cast("bigint").alias(n),
            )
        )

    ka = _knn_stats(cand, "a_id", "b_id", "sa", "na")
    kb = _knn_stats(cand, "b_id", "a_id", "sb", "nb")
    m = (
        cand.join(ka, "a_id")
        .join(kb, "b_id")
        .withColumn("margin", F.expr("cos * 2 / (sa / na + sb / nb)"))
    )
    r = m.withColumn(
        "ra",
        F.row_number().over(
            Window.partitionBy("a_id").orderBy(F.desc("margin"), F.asc("b_id"))
        ),
    ).withColumn(
        "rb",
        F.row_number().over(
            Window.partitionBy("b_id").orderBy(F.desc("margin"), F.asc("a_id"))
        ),
    )
    return (
        r.where((F.col("ra") == 1) & (F.col("rb") == 1))
        .select(
            "a_id", "b_id", "cell",
            (F.round(F.col("cos") * 1000000) / 1000000).alias("cos_sim"),
            (F.round(F.col("margin") * 1000000) / 1000000).alias("margin"),
        )
        .orderBy("a_id")
    )


@query("emb_mmr_diverse_topk", oracle=_ot.mmr_rerank_sql(0, 40, 8))
def emb_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-ranking (C5 retrieval): MMR-select 8 results from
    the 40-candidate cosine pool of vec_id 0 — the retrieval-quality
    step between ANN candidate generation and a RAG context window.
    The full greedy trajectory (pick, relevance, max-sim-to-selected,
    score) is graded against a recursive-CTE oracle in exact integer
    micros; see operators/similarity.py:mmr_rerank for the O(nk)
    running-max formulation that avoids any pairwise table."""
    return _sim.mmr_rerank(
        _t(spark, sf_dir, "embeddings"), query_vec_id=0, n=40, k=8
    )


@query("emb_kcenter_coreset", oracle=_ot.kcenter_coreset_sql(0, 6))
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset selection (C5 / training-data curation): greedy
    farthest-point k-center over the embedding table from seed
    vec_id 0 — the diversity-first selection that seeds clustering
    and data-pruning pipelines.  The decreasing coverage-radius
    trajectory is graded in exact integer micros against a
    recursive-CTE oracle; see operators/similarity.py:
    kcenter_coreset for the O(Nk) running-min formulation."""
    return _sim.kcenter_coreset(
        _t(spark, sf_dir, "embeddings"), seed_vec_id=0, k=6
    )


@query(
    "emb_label_maxsim_retrieval",
    oracle=(
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
        "scored AS (SELECT label, vec_id, "
        + _ot._fold_cos_micro("embedding", "qv", 64)
        + " AS rel FROM embeddings, q WHERE vec_id <> 0), "
        "agg AS (SELECT label, max(rel) AS maxsim_micro, "
        "CAST(count(*) AS BIGINT) AS n_vecs FROM scored GROUP BY label), "
        "best AS (SELECT s.label, min(s.vec_id) AS best_vec_id "
        "FROM scored s JOIN agg a ON s.label = a.label "
        "AND s.rel = a.maxsim_micro GROUP BY s.label) "
        "SELECT a.label, a.maxsim_micro, b.best_vec_id, a.n_vecs "
        "FROM agg a JOIN best b ON a.label = b.label "
        "ORDER BY a.maxsim_micro DESC, a.label ASC LIMIT 5"
    ),
)
def emb_label_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-pooling grouped retrieval (the single-query-vector core of
    ColBERT-style late interaction / multi-vector search): each label
    group is scored by the MAX cosine of its member vectors to the
    query, and the top-5 groups are returned with their best-matching
    member.  Sims quantize to integer micros before the max/argmax,
    so grading is float-free.

    Scale: one scan computing the fold-cosine per vector, one
    map-side-combining groupBy on the label key (max + count partials),
    an argmax resolved as a broadcast self-join on (label, max), and a
    5-row TakeOrderedAndProject — no all-pairs anything.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in _emb_q0(emb)["embedding"]
    ]
    scored = emb.where(F.col("vec_id") != 0).select(
        "label",
        "vec_id",
        _sim._cos_micro_to(qvec, F.col("embedding")).alias("rel"),
    )
    agg = scored.groupBy("label").agg(
        F.max("rel").alias("maxsim_micro"),
        F.count("*").cast("bigint").alias("n_vecs"),
    )
    best = (
        scored.join(
            F.broadcast(
                agg.select("label", F.col("maxsim_micro").alias("rel"))
            ),
            ["label", "rel"],
        )
        .groupBy("label")
        .agg(F.min("vec_id").alias("best_vec_id"))
    )
    return (
        agg.join(F.broadcast(best), "label")
        .select("label", "maxsim_micro", "best_vec_id", "n_vecs")
        .orderBy(F.desc("maxsim_micro"), F.asc("label"))
        .limit(5)
    )


@query("emb_pca_power_iteration", oracle=_ot.pca_power_iteration_sql(64, 3))
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, leading direction (C5 / embedding analytics):
    one scan reduces the corpus to an exact-integer 64x64 Gram matrix
    (per-row products quantized to micros before the order-independent
    sum), then three integer power-iteration steps extract the top
    principal direction — graded bit-for-bit against the oracle's
    unrolled SQL.  The whitening/drift diagnostic for embedding
    pipelines; see operators/similarity.py:pca_power_iteration for
    the sufficient-statistics scale story."""
    return _sim.pca_power_iteration(_t(spark, sf_dir, "embeddings"))


@query("emb_jl_projection_quality", oracle=_ot.jl_projection_quality_sql())
def emb_jl_projection_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss 4x dimensionality reduction, distortion-
    graded (C5): a deterministic md5-parity +-1 sign matrix projects
    64 -> 16 dims; the top-20 exact neighbors of vec 0 are reported
    with exact AND projected-space cosine micros so the grade pins
    the whole projection machinery, not a summary.  See
    operators/similarity.py:jl_projection_quality.  The query vector
    comes from the session probe memo (r15) — the operator's own
    head() probe was the only per-call full-scan action left in this
    query."""
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.jl_projection_quality(
        emb, qvec=[float(x) for x in _emb_q0(emb)["embedding"]]
    )


@query("emb_kmeans_lloyd_step", oracle=_ot.kmeans_lloyd_step_sql(64, None))
def emb_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exactly-graded Lloyd iteration of distributed k-means
    (complementing emb_ivf_kmeans_recall, whose trained quantizer is
    graded by a recall CONTRACT): vectors assign to the md5-derived
    coarse centroids by the bit-deterministic fold argmax, per-cell
    per-dim sums reduce in exact integer micros, the recomputed mean
    uses a sign-safe truncating division, and the graded output is
    each cell's membership count and integer squared centroid shift —
    the convergence signal a k-means driver loop watches.

    Scale: assignment is one Arrow-vectorized map pass; the update is
    a (cell, dim)-keyed map-side-combining groupBy carrying at most
    n_cells x dim rows per upstream partition — the canonical
    distributed k-means shuffle shape at any corpus size.  The cell
    count is corpus-derived (scaled_n_cells ~ ceil(sqrt(n)), mirrored
    by the oracle), so the k of the step grows with the corpus the way
    a production quantizer's would; the centroid table stays a bounded
    model artifact (sqrt(n) x dim rows, broadcast).
    """
    emb = _t(spark, sf_dir, "embeddings")
    n_cells = _sim.scaled_n_cells(_emb_n(emb))
    assigned = _sim.ivf_assign_cells(emb, dim=64, n_cells=n_cells)
    x = assigned.select(
        "cell", F.posexplode("embedding").alias("d0", "xv")
    ).selectExpr(
        "cell",
        "CAST(d0 + 1 AS INTEGER) AS d",
        "CAST(round(CAST(xv AS DOUBLE) * 1000000) AS BIGINT) AS xm",
    )
    sums = x.groupBy("cell", "d").agg(
        F.sum("xm").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    _half_away = _sim.round_half_away

    cents = _sim.ivf_centroid_weights(64, n_cells)
    cent_rows = [
        (c, d + 1, _half_away(float(cents[c, d]) * 1000000.0))
        for c in range(n_cells)
        for d in range(64)
    ]
    cent_df = spark.createDataFrame(cent_rows, "cell int, d int, wm bigint")
    mean = sums.selectExpr(
        "cell",
        "d",
        "n",
        "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END AS m",
    )
    shift = mean.join(F.broadcast(cent_df), ["cell", "d"]).selectExpr(
        "cell", "n", "m - wm AS diff"
    )
    return (
        shift.groupBy("cell")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.sum(F.expr("diff * diff")).cast("bigint").alias("shift_sq_micro2"),
        )
        .selectExpr(
            "CAST(cell AS INTEGER) AS cell", "n_members", "shift_sq_micro2"
        )
        .orderBy("cell")
    )


@query("emb_ivf_cell_health", oracle=_ot.ivf_cell_health_sql(64, None))
def emb_ivf_cell_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index health report (the ops view an ANN service watches):
    per cell, the member count, the mean exact squared distance to
    the owning centroid (integer micro^2 — quantization error), and
    the squared distance to the nearest OTHER centroid (separation) —
    crowded cells with low separation are where recall dies and
    re-training starts.  Assignment is the shared bit-deterministic
    md5-IVF fold argmax; every distance is an exact integer-micro
    sum, so the report matches the oracle bit-for-bit.  (At corpus
    scales where a cell's d2 sum nears int64, both engines would
    reduce modulo a shared prime at the same final step.)

    Scale: assignment is one Arrow-vectorized map pass; the spread
    aggregate is a (cell, dim)-keyed map-side-combining groupBy (at
    most n_cells x dim rows per upstream partition); centroid
    separation is computed once from the corpus-scaled
    (scaled_n_cells ~ sqrt(n)) x 64 centroid constants — an exact
    int64 numpy gram identity, |wm| <= 1e6 so every product and the
    64-term sums stay far below 2^63 — and broadcast back as an
    n_cells-row table.
    """
    import numpy as np

    _half_away = _sim.round_half_away

    emb = _t(spark, sf_dir, "embeddings")
    n_cells = _sim.scaled_n_cells(_emb_n(emb))
    assigned = _sim.ivf_assign_cells(emb, dim=64, n_cells=n_cells)
    x = assigned.select(
        "cell", F.posexplode("embedding").alias("d0", "xv")
    ).selectExpr(
        "cell",
        "CAST(d0 + 1 AS INTEGER) AS d",
        "CAST(round(CAST(xv AS DOUBLE) * 1000000) AS BIGINT) AS xm",
    )
    cents = _sim.ivf_centroid_weights(64, n_cells)
    wm = np.array(
        [
            [_half_away(float(cents[c, d]) * 1000000.0) for d in range(64)]
            for c in range(n_cells)
        ],
        dtype=np.int64,
    )
    cent_rows = [
        (c, d + 1, int(wm[c, d])) for c in range(n_cells) for d in range(64)
    ]
    cent_df = spark.createDataFrame(cent_rows, "cell int, d int, wm bigint")
    agg = (
        x.join(F.broadcast(cent_df), ["cell", "d"])
        .selectExpr("cell", "xm - wm AS df")
        .groupBy("cell")
        .agg(
            F.expr("CAST(count(*) div 64 AS BIGINT)").alias("n_members"),
            F.sum(F.expr("df * df")).cast("bigint").alias("tot_d2"),
        )
    )
    # ||a-b||^2 = ||a||^2 + ||b||^2 - 2<a,b> over int64 — exact integers,
    # identical to the per-dim difference sum the oracle folds
    g = wm @ wm.T
    nrm = np.diag(g).copy()
    d2 = nrm[:, None] + nrm[None, :] - 2 * g
    np.fill_diagonal(d2, np.iinfo(np.int64).max)
    sep_rows = [(c, int(d2[c].min())) for c in range(n_cells)]
    sep_df = spark.createDataFrame(sep_rows, "cell int, nn_sep bigint")
    return (
        agg.join(F.broadcast(sep_df), "cell")
        .selectExpr(
            "CAST(cell AS INTEGER) AS cell",
            "n_members",
            "CAST(tot_d2 div n_members AS BIGINT) AS mean_d2_micro2",
            "CAST(nn_sep AS BIGINT) AS nn_sep_micro2",
        )
        .orderBy("cell")
    )


@query("emb_hubness_audit", oracle=_ot.hubness_audit_sql(64, None, 5, 10))
def emb_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit (Radovanović et al. JMLR 2010): in high-dimensional
    embedding spaces a few 'hub' vectors appear in a disproportionate
    share of other points' nearest-neighbor lists, silently skewing
    k-NN retrieval, near-dup verdicts, and RAG context selection.
    k-occurrence is counted CELL-LOCALLY — each vector's exact cosine
    top-5 among its md5-IVF cell-mates (the neighbor pool an IVF-probed
    ANN search actually sees) — and the ten most-hit vectors are the
    graded hubs, ties to the lowest vec_id.

    Scale: the only quadratic work is within-cell, and the cell count is
    scaled_n_cells = max(16, ceil(sqrt(n))) — per-cell membership stays
    ~sqrt(n) so total intra-cell pair work is O(n^1.5), not the O(n²) a
    fixed cell count degenerates to (the oracle rebuilds the identical
    constant as GREATEST(16, ceil(sqrt(count(*))))).  The per-cell
    pairwise cosine + top-5 ranking runs as ONE Arrow grouped-map
    kernel (similarity.hubness_k_occurrence: a numpy gram whose
    dimension-sequential accumulation replays the fold's IEEE order
    bit-exactly) — vectorized C math instead of an interpreted HOF
    fold per pair, and the O(n^1.5) pair table never crosses an
    exchange; the hub pick is a 10-row TakeOrdered.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return (
        _sim.hubness_k_occurrence(emb, dim=64, n_cells=None, k=5)
        .select("vec_id", "cell", F.col("k_occurrence").cast("bigint"))
        .orderBy(F.desc("k_occurrence"), F.asc("vec_id"))
        .limit(10)
    )


@query("emb_knn_label_accuracy", oracle=_ot.knn_label_accuracy_sql(5, 29, 1160, 64))
def emb_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-accuracy audit (C5; the embedding-classifier filter
    eval a DCLM-shaped pipeline runs before trusting an
    embedding-space quality gate): every held-out query vector
    (``vec_id % 29 == 0 AND vec_id < 1160`` — a BOUNDED, benchmark-sized
    probe set of <= 40 vectors at any corpus scale) is classified by the
    majority label of its 5 nearest train-side neighbours under exact
    fold-cosine, and the per-query prediction is graded against the true
    label.  Ties are total on both engines: neighbours rank by
    (micro-cosine DESC, vec_id), votes by (count DESC, label).

    Scale: the probe set is collected once (<= 40 rows) and embedded as
    PLAN LITERALS — no broadcast-nested-loop join ever appears; the
    corpus is scanned ONCE, exploding each row against the literal query
    array (40x map-side fan-out).  Top-5 per query is TWO-LEVEL keyed:
    a local window per (query, vec_id % 32 salt bucket) prunes to
    5 x 32 survivor rows per query, then the global window per query
    ranks <= 160 rows — no corpus-sized single-reducer sort at any
    scale.  Cosines quantize to integer micros before ranking, so
    grading is float-free past the fold.
    """
    emb = _t(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % 29 == 0) & (F.col("vec_id") < 1160)
    # probe-memoized like _emb_n/_emb_q0 (r15): the eval set is a
    # BOUNDED <=40-row collect repeated identically per call — under the
    # bench's contention the collect action waited a full FAIR-queue
    # turn per run; scalars/bounded rows only, cleared through
    # clear_shared_cache with the other probes
    evals = _memo.shared(
        emb,
        ("emb", "knn_evals"),
        lambda: emb.where(is_eval)
        .select("vec_id", "label", "embedding")
        .collect(),
    )
    out_schema = (
        "vec_id bigint, label int, pred_label int, "
        "top_votes bigint, correct int"
    )
    if not evals:
        return spark.createDataFrame([], out_schema)
    # Hoist both norms out of the 40x query fan-out (r14): the corpus
    # row's norm is computed ONCE per row before the explode, and each
    # query's norm ships as a literal computed by _norm_sq_py — the
    # established bit-exact Python twin of the engines' sequential fold
    # (same pattern as _cos_micro_to).  The product keeps the original
    # operand order (row norm * query norm), so every cosine bit
    # matches the pre-r14 three-fold form while the per-pair fold work
    # drops from 3 dot products to 1.
    qarr = F.array(
        *[
            F.struct(
                F.lit(int(r["vec_id"])).cast("long").alias("qid"),
                F.lit(int(r["label"])).alias("qlabel"),
                _sim._vec_lit([float(x) for x in r["embedding"]]).alias("qv"),
                F.lit(
                    _sim._norm_sq_py([float(x) for x in r["embedding"]])
                ).alias("qq"),
            )
            for r in evals
        ]
    )
    sc = (
        emb.where(~is_eval)
        .select(
            "vec_id",
            "label",
            "embedding",
            _sim.dot_fold(F.col("embedding"), F.col("embedding")).alias("en"),
        )
        .select("vec_id", "label", "embedding", "en", F.explode(qarr).alias("q"))
        .select(
            F.col("q.qid").alias("qid"),
            F.col("q.qlabel").alias("qlabel"),
            "vec_id",
            "label",
            F.round(
                (
                    _sim.dot_fold(F.col("embedding"), F.col("q.qv"))
                    / F.sqrt(F.col("en") * F.col("q.qq"))
                )
                * 1000000
            )
            .cast("bigint")
            .alias("cm"),
        )
    )
    from pyspark.sql import Window as _W

    order = [F.desc("cm"), F.asc("vec_id")]
    local = _W.partitionBy("qid", F.pmod(F.col("vec_id"), F.lit(32))).orderBy(
        *order
    )
    glob = _W.partitionBy("qid").orderBy(*order)
    top = (
        sc.withColumn("_lrn", F.row_number().over(local))
        .where(F.col("_lrn") <= 5)
        .withColumn("_grn", F.row_number().over(glob))
        .where(F.col("_grn") <= 5)
    )
    votes = top.groupBy("qid", "qlabel", "label").agg(
        F.count("*").cast("bigint").alias("votes")
    )
    pred = (
        votes.withColumn(
            "_vrn",
            F.row_number().over(
                _W.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
            ),
        )
        .where(F.col("_vrn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("qlabel").alias("label"),
            F.col("label").alias("pred_label"),
            F.col("votes").alias("top_votes"),
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
    )
    return pred.orderBy("vec_id")
