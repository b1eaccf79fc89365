"""Embedding similarity search (SURVEY.md §2 Tier C5).

Three tiers, trading exactness for scale:

- ``cosine_topk``       — brute force, native fold expressions.  The dot
  product and norms are sequential left-folds so the DuckDB oracle
  reproduces them bit-for-bit; used by the correctness catalog.
- ``cosine_topk_fast``  — brute force, Arrow-batched numpy matmul.  The
  throughput path: one BLAS GEMV per batch instead of per-element
  expression evaluation.  Same ranking, float64; values may differ from
  the fold in the last bits (numpy sums pairwise), so it is verified by
  rank-overlap tests rather than value hashes.
- ``ann_lsh_topk``      — random-hyperplane LSH with multi-table probing,
  then exact re-rank of candidates only.  At 100 TB the bucket join
  replaces the full scan; recall is tunable via (planes, tables).

All take the query vector as a plain Python list (broadcast as a literal
— no join, no shuffle for the query side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from duckdb_cluster_hash_spark import memo as _memo

__all__ = [
    "dot_fold",
    "cosine_topk",
    "cosine_topk_fast",
    "ann_lsh_topk",
    "embedding_neardup_pairs",
    "embedding_neardup_pairs_lsh",
    "lsh_weights",
    "ivf_centroid_weights",
    "ivf_assign_cells",
    "ivf_probe_cells",
    "ivf_write_index",
    "ivf_probe_topk",
    "ivf_topk",
    "semantic_dedup_pairs",
    "semantic_dedup_summary",
    "scaled_n_cells",
    "hubness_k_occurrence",
    "cell_blocked_cross_cosines",
    "pq_sample_codebook",
    "pq_encode",
    "pq_adc_topk",
]


def dot_fold(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over two array<float/double> cols.

    aggregate(zip_with(a,b,*), 0.0, +) — element order is the array order,
    so DuckDB's list_reduce(list_prepend(0.0, ...)) matches bitwise.
    """
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm_sq_py(vec: list[float]) -> float:
    acc = 0.0
    for x in vec:  # same sequential fold the SQL engines run
        acc = acc + float(x) * float(x)
    return acc


def round_half_away(x: float) -> int:
    """SQL round() semantics (half AWAY FROM ZERO) on a float64, bit-exact.

    floor(x + 0.5) is WRONG at doubles 1 ulp below a .5 boundary (the
    add carries up and the value rounds away when both engines' round()
    keeps it down); rint + trunc with an exact-tie fixup matches
    std::round / DuckDB round() on every double. Scalar twin of the
    vectorized kernel in gram_partials below.
    """
    p = np.float64(x)
    t = np.trunc(p)
    if np.abs(p - t) == np.float64(0.5):  # p - trunc(p) is exact
        return int(t + np.sign(p))
    return int(np.rint(p))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Exact cosine top-k to ``query_vec`` (oracle-exact fold arithmetic).

    ORDER BY + LIMIT -> TakeOrderedAndProject: each partition emits only
    its local top-k; no global sort at any scale.
    """
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    q_norm_sq = _norm_sq_py(query_vec)
    dot = dot_fold(F.col(vec_col), qlit)
    norm_sq = dot_fold(F.col(vec_col), F.col(vec_col))
    cos = dot / F.sqrt(norm_sq * F.lit(q_norm_sq))
    return (
        emb.select(id_col, *extra_cols, (F.round(cos * 1000000) / 1000000).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_fast(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k via vectorized numpy (the 100 TB scan path)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf(DoubleType())
    def _cos(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        dots = m @ q
        norms = np.linalg.norm(m, axis=1) * qn
        return pd.Series(np.where(norms > 0, dots / norms, 0.0))

    return (
        emb.select(id_col, _cos(F.col(vec_col)).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, planes: int, table: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed + 1000 * table)
    return rng.standard_normal((planes, dim))


def _bucket_of(vec: np.ndarray, planes_mat: np.ndarray) -> int:
    bits = (planes_mat @ vec) > 0
    return int(sum(1 << i for i, b in enumerate(bits) if b))


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 12,
    tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket probe + exact re-rank.

    Each table hashes a vector to a ``planes``-bit bucket (sign pattern
    against seeded Gaussian hyperplanes).  Only rows landing in the
    query's bucket in >= 1 table are re-ranked with exact cosine — at
    scale, a partition-pruned fraction ~tables/2^planes of the corpus.
    """
    dim = len(query_vec)
    q = np.asarray(query_vec, dtype=np.float64)
    mats = [_hyperplanes(dim, planes, t) for t in range(tables)]
    q_buckets = [_bucket_of(q, m) for m in mats]
    flat = np.stack(mats)  # (tables, planes, dim)

    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        # (tables, planes, n) sign bits -> per-table bucket ints
        proj = np.einsum("tpd,nd->tpn", flat, m) > 0
        weights = (1 << np.arange(planes)).astype(np.int64)
        buckets = np.tensordot(weights, proj, axes=([0], [1]))  # (tables, n)
        return pd.Series(buckets.T.astype(np.int32).tolist())

    probe = F.array(*[F.lit(b) for b in q_buckets])
    cand = emb.withColumn("_b", _buckets(F.col(vec_col))).where(
        F.exists(
            F.zip_with(F.col("_b"), probe, lambda x, y: x == y),
            lambda matched: matched,
        )
    )
    return cosine_topk_fast(cand.drop("_b"), query_vec, k, vec_col, id_col)


@F.pandas_udf(DoubleType())
def _pair_cos_kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Exact pair cosine: per-position accumulation loop reproduces the
    sequential left-fold bit-for-bit (acc = acc + a_i*b_i in array order —
    the same IEEE operation sequence as the F.aggregate fold and the
    oracle's list_reduce), vectorized ACROSS pairs: ~64 numpy ops per
    batch instead of 64 interpreted lambda evaluations per pair."""
    a = np.array(va.tolist(), dtype=np.float64)
    b = np.array(vb.tolist(), dtype=np.float64)
    acc = np.zeros(len(a))
    na = np.zeros(len(a))
    nb = np.zeros(len(a))
    for i in range(a.shape[1] if a.ndim == 2 else 0):
        acc = acc + a[:, i] * b[:, i]
        na = na + a[:, i] * a[:, i]
        nb = nb + b[:, i] * b[:, i]
    return pd.Series(acc / np.sqrt(na * nb))


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact near-duplicate vector pairs (cosine >= threshold), all-pairs.

    Kept as the exact/audit path; :func:`embedding_neardup_pairs_lsh` is
    the scale path (LSH-bucket equality join instead of the O(n²) ``<``
    self-join) and is what the catalog invokes.
    """
    _pair_cos = _pair_cos_kernel

    # spread the pair generation: the nested-loop join's parallelism is
    # the left side's partition count (1 for a single-file table)
    a = emb.repartition(32, F.col(id_col)).select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va")
    )
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    cos = _pair_cos(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", (F.round(cos * 1000000) / 1000000).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def lsh_weights(dim: int, planes: int, tables: int) -> np.ndarray:
    """Deterministic hyperplane weights both engines can derive from md5.

    w[t, p, i] = md5("t|p|i")[:15 hex] / 2^59 - 1.0  (uniform in [-1, 1)).
    Using md5 instead of a PRNG keeps the DuckDB oracle able to recompute
    the exact same float64 weights in SQL — no literal matrices.  int64 ->
    double conversion then division by 2^59 (exponent shift, exact) then
    subtraction of 1.0 (exact near 1) are all bit-identical across numpy,
    Python and DuckDB.
    """
    import hashlib

    w = np.empty((tables * planes, dim), dtype=np.float64)
    for t in range(tables):
        for p in range(planes):
            for i in range(1, dim + 1):
                h = int(
                    hashlib.md5(f"{t}|{p}|{i}".encode()).hexdigest()[:15], 16
                )
                w[t * planes + p, i - 1] = float(h) / 2**59 - 1.0
    return w


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.45,
    planes: int = 5,
    tables: int = 12,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate vector pairs via hyperplane-LSH banding (the 100 TB
    path — replaces the all-pairs ``<`` self-join).

    Candidates = pairs landing in the same ``planes``-bit sign bucket in
    >= 1 of ``tables`` hash tables; only candidates get the exact cosine
    verify.  The join is a pure (table, bucket) equality — shuffle hash
    join, never a cross product; at n vectors the verified pair count is
    ~n²·p_collide instead of n², and p_collide drops geometrically with
    ``planes``.  Recall for pairs at cosine c is
    1-(1-(1-acos(c)/pi)^planes)^tables — (5, 12) gives ~0.77 at c=0.45
    (this corpus's natural tail; production near-dup thresholds >= 0.9
    give >0.99 recall with far fewer candidates).

    Bucket signs come from a *sequential* per-dimension accumulation (same
    IEEE operation order as the DuckDB oracle's list_reduce fold), so the
    candidate set — and therefore the result — is bit-deterministic across
    engines.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    w = lsh_weights(dim, planes, tables)  # (tables*planes, dim)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _tbl_buckets(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        acc = np.zeros((m.shape[0], w.shape[0]))
        for i in range(m.shape[1]):  # sequential over dims == fold order
            acc = acc + np.outer(m[:, i], w[:, i])
        bits = acc > 0
        weights = (1 << np.arange(planes)).astype(np.int64)
        buckets = bits.reshape(m.shape[0], tables, planes) @ weights
        return pd.Series(buckets.astype(np.int32).tolist())

    banded = (
        emb.repartition(32, F.col(id_col))
        .select(
            F.col(id_col).alias("vid"),
            F.posexplode(_tbl_buckets(F.col(vec_col))).alias("tbl", "bucket"),
        )
        # both self-join sides read the bucket table; hash once, not twice
        .localCheckpoint(eager=True)
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    cos = _pair_cos_kernel(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a", "vec_b", (F.round(cos * 1000000) / 1000000).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= threshold)
    )


def ivf_centroid_weights(dim: int, n_cells: int) -> np.ndarray:
    """Deterministic IVF coarse-quantizer centroids from md5 (see
    :func:`lsh_weights` for why md5 instead of a PRNG: the DuckDB oracle
    recomputes the identical float64 values in SQL).

    c[cell, i] = md5("ivf|cell|i")[:15 hex] / 2^59 - 1.0.
    """
    import hashlib

    c = np.empty((n_cells, dim), dtype=np.float64)
    for cell in range(n_cells):
        for i in range(1, dim + 1):
            h = int(hashlib.md5(f"ivf|{cell}|{i}".encode()).hexdigest()[:15], 16)
            c[cell, i - 1] = float(h) / 2**59 - 1.0
    return c


def ivf_assign_cells(
    emb: DataFrame,
    dim: int = 64,
    n_cells: int = 16,
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag each vector with its IVF cell: argmax dot(v, centroid), ties to
    the lowest cell id.

    The dot products accumulate sequentially over dimensions (one numpy op
    per dim across the whole batch) — the exact IEEE operation order of the
    oracle's list_reduce fold, so cell assignment is bit-deterministic
    across engines.  np.argmax takes the first maximum, matching the
    oracle's ORDER BY dot DESC, cell ASC tie-break.
    """
    from pyspark.sql.types import IntegerType

    cents = ivf_centroid_weights(dim, n_cells)  # (cells, dim)

    @F.pandas_udf(IntegerType())
    def _cell(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        acc = np.zeros((m.shape[0], n_cells))
        for i in range(m.shape[1]):  # sequential over dims == fold order
            acc = acc + np.outer(m[:, i], cents[:, i])
        return pd.Series(np.argmax(acc, axis=1).astype(np.int32))

    return emb.withColumn("cell", _cell(F.col(vec_col)))


def ivf_probe_cells(
    query_vec: list[float], nprobe: int = 4, n_cells: int = 16
) -> list[int]:
    """Cells to scan for a query: top-``nprobe`` centroids by dot product
    (pure-Python sequential fold — deterministic, embeddable as literals
    in both the Spark filter and the oracle SQL)."""
    cents = ivf_centroid_weights(len(query_vec), n_cells)
    dots = []
    for cell in range(n_cells):
        acc = 0.0
        for i, x in enumerate(query_vec):
            acc = acc + float(x) * float(cents[cell, i])
        dots.append(acc)
    return sorted(range(n_cells), key=lambda c: (-dots[c], c))[:nprobe]


def ivf_write_index(
    emb: DataFrame,
    path: str,
    dim: int = 64,
    n_cells: int = 16,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: the corpus re-written as parquet
    partitioned by cell id.  At 100 TB this is the one-off index build;
    every subsequent probe is pure partition pruning (reads
    nprobe/n_cells of the data, no shuffle, no full scan).  The build is
    memoized in the session memo per (input frame, parameters) —
    repeated ANN queries in one session pay the build once, which is the
    amortization the index exists for, while a different corpus aimed at
    the same path always rewrites, and ``clear_shared_cache`` forgets
    the build so the next call writes again."""

    def build() -> None:
        tagged = ivf_assign_cells(emb, dim=dim, n_cells=n_cells, vec_col=vec_col)
        tagged.write.mode("overwrite").partitionBy("cell").parquet(path)

    _memo.shared(emb, ("ivf", path, dim, n_cells, vec_col), build)


def ivf_probe_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Probe an IVF index: scan only the ``nprobe`` nearest cells
    (partition-pruned parquet read — check PartitionFilters in the plan),
    then exact fold-cosine re-rank so the result is oracle-checkable."""
    cells = ivf_probe_cells(query_vec, nprobe=nprobe, n_cells=n_cells)
    pruned = spark.read.parquet(index_path).where(F.col("cell").isin(cells))
    return cosine_topk(
        pruned,
        query_vec,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        extra_cols=tuple(extra_cols) + ("cell",),
    )


def scaled_n_cells(n_rows: int, floor: int = 16) -> int:
    """SemDeDup cell count that scales with the corpus: ceil(sqrt(n)),
    floored at ``floor``.

    With cells ~ sqrt(n), the expected per-cell population is ~sqrt(n), so
    total intra-cell pair work is O(n^1.5) instead of the O(n²) a FIXED
    cell count degenerates to as the corpus grows (the SemDeDup paper uses
    k≈100k clusters on LAION for the same reason).  Uses C-double
    sqrt/ceil so the DuckDB oracle's GREATEST(floor, CAST(ceil(sqrt(
    count(*))) AS BIGINT)) computes the identical value.
    """
    import math

    return max(floor, int(math.ceil(math.sqrt(max(int(n_rows), 0)))))


# average rows-per-cell above which an intra-cell self-join stops being a
# "small local join" — warn the caller to raise n_cells
_SEMANTIC_CELL_ROW_BUDGET = 200_000


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.6,
    dim: int = 64,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style candidate pairs: vectors in the SAME coarse-quantizer
    cell with cosine >= threshold (Abbas et al. 2023 — cluster the corpus,
    then dedup only within clusters).

    The cell tag (deterministic md5 centroids, :func:`ivf_assign_cells`)
    turns the O(n²) corpus self-join into |cells| independent intra-cell
    joins — at 100 TB the cell is a parquet partition column and each
    join reads one partition; cross-cell pairs are never materialized.
    ``n_cells=None`` (default) derives :func:`scaled_n_cells` from the
    corpus row count (a metadata-only count-star) so per-cell population
    stays ~sqrt(n) at any scale; a fixed cell count re-approaches the
    all-pairs join as n grows.  Returns (cell, vec_a, vec_b, cos_sim)
    with vec_a < vec_b.
    """
    if n_cells is None:
        n = emb.count()  # parquet metadata count-star, no data scan
        n_cells = scaled_n_cells(n)
        if n // n_cells > _SEMANTIC_CELL_ROW_BUDGET:
            import warnings

            warnings.warn(
                f"semantic_dedup_pairs: ~{n // n_cells} rows/cell exceeds the "
                f"{_SEMANTIC_CELL_ROW_BUDGET} pair-join budget; raise n_cells",
                stacklevel=2,
            )
    tagged = ivf_assign_cells(emb, dim=dim, n_cells=n_cells, vec_col=vec_col)
    # hash once; both self-join sides read the tagged table
    tagged = tagged.select(
        F.col(id_col).alias("vid"), F.col("cell"), F.col(vec_col).alias("v")
    ).localCheckpoint(eager=True)
    a, b = tagged.alias("a"), tagged.alias("b")
    cos = _pair_cos_kernel(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.cell").alias("cell"),
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            (F.round(cos * 1000000) / 1000000).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_summary(
    emb: DataFrame,
    threshold: float = 0.6,
    dim: int = 64,
    n_cells: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cell SemDeDup report: corpus size, and how many vectors would
    be dropped under keep-lowest-id (a vector is dropped iff some
    lower-id vector in its cell has cosine >= threshold with it).

    ``n_cells=None`` derives :func:`scaled_n_cells` from the corpus count
    (same rule as :func:`semantic_dedup_pairs`, computed once here and
    passed down so both passes agree).  Returns (cell, n_vecs, n_dropped)
    — the shape a curation run reviews before committing a semantic-dedup
    pass.
    """
    if n_cells is None:
        n_cells = scaled_n_cells(emb.count())
    tagged = ivf_assign_cells(emb, dim=dim, n_cells=n_cells, vec_col=vec_col)
    sizes = tagged.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    dropped = (
        semantic_dedup_pairs(emb, threshold, dim, n_cells, vec_col, id_col)
        .select("cell", F.col("vec_b").alias("vid"))
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_dropped"))
    )
    return (
        sizes.join(dropped, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
        .orderBy("cell")
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 8,
    train_permille: int = 1000,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer + nprobe cell search.

    Index phase (once per corpus): MLlib KMeans partitions vectors into
    ``n_clusters`` cells; each row is tagged with its cell id.  Query
    phase: rank centroids by distance to the query, scan only the
    ``nprobe`` nearest cells, exact-re-rank with cosine.  At 100 TB the
    cell tag becomes a parquet partition column and the probe is pure
    partition pruning — the scan reads nprobe/n_clusters of the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = emb.withColumn("_v", array_to_vector(F.col(vec_col).cast("array<double>")))
    # a coarse quantizer does not need converged centroids — recall is set
    # by nprobe/n_clusters, and 8 Lloyd iterations land within a point of
    # converged recall at a fraction of the fit cost.  Likewise it does
    # not need the whole corpus: train_permille < 1000 fits on an
    # md5-deterministic sample (layout-independent, unlike df.sample) —
    # the standard practice for IVF quantizers at corpus scale — and
    # assigns ALL vectors with the sampled centroids.
    train = vecs
    if train_permille < 1000:
        h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        train = vecs.where(h.cast("bigint") % 1000 < train_permille)
    model = KMeans(
        k=n_clusters,
        seed=seed,
        maxIter=max_iter,
        featuresCol="_v",
        predictionCol="_cell",
    ).fit(train)
    tagged = model.transform(vecs)
    centers = [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    q = np.asarray(query_vec, dtype=np.float64)
    dists = [float(np.linalg.norm(c - q)) for c in centers]
    probe_cells = sorted(range(len(dists)), key=lambda i: dists[i])[:nprobe]
    cand = tagged.where(F.col("_cell").isin(probe_cells)).drop("_v", "_cell")
    return cosine_topk_fast(cand, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_sample_codebook(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Deterministic PQ codebook: the ``n_codes`` L2-NORMALIZED corpus
    vectors with the smallest ``md5(id)`` digests, each split into ``m``
    subvectors — ``codebook[j][c]`` is centroid ``c`` of subspace ``j``.

    A sampled codebook (instead of per-subspace KMeans) keeps the whole
    construction md5-deterministic — same reproducibility argument as
    ``lsh_weights``/``ivf_centroid_weights`` — at the cost of looser
    cells, which the ADC rerank absorbs.  Normalizing both the codebook
    and the encoded vectors puts everything on the unit sphere, where
    squared L2 is 2 - 2*cos: ADC ranking then approximates COSINE
    ranking, matching the exact-top-k grader.
    """
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    vecs = []
    for r in rows:
        v = np.asarray([float(x) for x in r[vec_col]], dtype=np.float64)
        n = float(np.linalg.norm(v))
        vecs.append((v / n if n > 0 else v).tolist())
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [[v[j * sub:(j + 1) * sub] for v in vecs] for j in range(m)]


def _unit_col(vec_col: str) -> Column:
    norm = F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x
    ))
    return F.transform(
        F.col(vec_col),
        lambda x: F.when(norm > 0, x / norm).otherwise(x),
    )


def pq_encode(
    emb: DataFrame,
    codebook: list,
    vec_col: str = "embedding",
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """PQ-encode as PURE map-side projections: normalize once, slice the
    m subvectors once, then per subspace the 16 squared distances are
    small literal-codebook folds and the code is the argmin — encoding
    costs one scan, no join and no shuffle anywhere (the 100 TB
    property).  Ties take the first minimum (``array_position``), so
    codes are deterministic.

    Staged ``select``s matter: inlining the normalization into all 128
    distance expressions (a single mega-Column) blows the expression
    tree up ~100x and stalls Catalyst; here each stage's output is a
    named column the next stage references.
    """
    m = len(codebook)
    sub = len(codebook[0][0])
    staged = emb.select(*keep, vec_col, _unit_col(vec_col).alias("_u")).select(
        *keep,
        vec_col,
        *[F.slice("_u", j * sub + 1, sub).alias(f"_s{j}") for j in range(m)],
    )
    codes = []
    for j in range(m):
        dists = F.array(*[
            F.aggregate(
                F.zip_with(
                    F.col(f"_s{j}"),
                    F.array(*[F.lit(float(x)) for x in cent]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for cent in codebook[j]
        ])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return staged.select(*keep, vec_col, F.array(*codes).alias("_codes"))


def pq_adc_topk(
    emb: DataFrame,
    codebook: list,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k by PQ + ADC: rank all vectors by the asymmetric distance
    (sum over subspaces of the query-to-centroid lookup table entry for
    each vector's code), keep the best ``rerank`` candidates via
    TakeOrderedAndProject, then re-rank exactly by cosine.

    The LUT is m x n_codes doubles computed driver-side from the query;
    encode+lookup run in one Arrow-vectorized kernel (einsum-style
    batched distances — the ``cosine_topk_fast`` precedent; the exact
    JVM-expression encoder :func:`pq_encode` is its rank-identical twin,
    pinned by test).  At 100 TB the codes are precomputed once (m
    bytes/vector instead of 4*dim — the compression that lets the index
    fit in memory) and the probe scans codes only, plus an exact pass
    over the ``rerank`` surviving full vectors.
    """
    m = len(codebook)
    n_codes = len(codebook[0])
    sub = len(codebook[0][0])
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))
    qu = q / qn if qn > 0 else q
    lut = []
    for j in range(m):
        qj = qu[j * sub:(j + 1) * sub]
        for cent in codebook[j]:
            d = qj - np.asarray(cent, dtype=np.float64)
            lut.append(float(d @ d))
    cb = np.asarray(codebook, dtype=np.float64)  # (m, n_codes, sub)
    lut_np = np.asarray(lut, dtype=np.float64).reshape(m, n_codes)

    @F.pandas_udf(DoubleType())
    def _adc(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        x = np.divide(x, norms, out=x, where=norms > 0)
        xs = x.reshape(len(x), m, sub)  # (n, m, sub)
        # (n, m, n_codes) squared distances to every centroid
        d = ((xs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
        code = d.argmin(axis=2)  # (n, m); ties -> first index
        return pd.Series(lut_np[np.arange(m)[None, :], code].sum(axis=1))

    cand = (
        emb.select(id_col, vec_col)
        .withColumn("_adc", _adc(F.col(vec_col)))
        .orderBy(F.asc("_adc"), F.asc(id_col))
        .limit(rerank)
        .drop("_adc")
    )
    return cosine_topk(cand, query_vec, k, vec_col, id_col, extra_cols=())


def diff2_fold(a: Column, b: Column) -> Column:
    """Sequential left-fold squared-euclidean distance (oracle-exact:
    mirrors DuckDB's list_reduce over (u[i]-v[i])*(u[i]-v[i]))."""
    sq = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)


def _vec_lit(vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def _cos_micro_to(vec: list[float], col: Column) -> Column:
    """round(cos(col, vec) * 1e6) as BIGINT, fold-exact arithmetic."""
    vlit = _vec_lit(vec)
    nsq = _norm_sq_py(vec)
    cos = dot_fold(col, vlit) / F.sqrt(dot_fold(col, col) * F.lit(nsq))
    return F.round(cos * 1000000).cast("bigint")


def mmr_rerank(
    emb: DataFrame,
    query_vec_id: int = 0,
    n: int = 40,
    k: int = 8,
    lam_num: int = 7,
    lam_rem: int = 3,
) -> DataFrame:
    """Maximal Marginal Relevance diversity re-rank (Carbonell &
    Goldstein 1998): brute-force top-n cosine candidates to the query,
    then greedily select k maximizing lam_num*rel - lam_rem*max_sim_to_
    selected (lambda = 0.7 as an exact integer 7/3 split).  Relevance
    and pairwise sims quantize to integer MICROS before any comparison,
    so the greedy trajectory is pure-integer and bit-identical to the
    recursive-CTE oracle.

    Scale: candidate generation is the distributed part — a
    TakeOrderedAndProject over the full scan on the Spark-fold
    rel_micro key (never a global sort).  The greedy re-rank then runs
    driver-side over the BOUNDED n-row pool (n*k = 320 sims; same
    bounded-collect pattern as the PQ codebook), using the identical
    sequential float64 fold the SQL engines run, so the integer-micro
    trajectory cannot diverge.  One Spark job end-to-end instead of
    2k sequential argmax jobs — under a contended scheduler that is
    the difference between ~1 s and ~25 s.
    """
    spark = emb.sparkSession
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .head()[0]
    ]
    pool = (
        emb.where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "embedding",
            _cos_micro_to(qvec, F.col("embedding")).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(n)
        .collect()
    )

    def fold_dot_py(u: list[float], v: list[float]) -> float:
        acc = 0.0
        for x, y in zip(u, v):  # same sequential fold the engines run
            acc = acc + float(x) * float(y)
        return acc

    import math

    vecs = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in pool}
    rel = {int(r["vec_id"]): int(r["rel"]) for r in pool}
    norm = {vid: fold_dot_py(v, v) for vid, v in vecs.items()}

    def sim_micro(a: int, b: int) -> int:
        c = fold_dot_py(vecs[a], vecs[b]) / math.sqrt(norm[a] * norm[b])
        return round_half_away(c * 1000000)

    first = max(rel, key=lambda v: (rel[v], -v))
    picked = [(1, first, rel[first], 0)]
    maxsim = {v: None for v in rel if v != first}
    for step in range(2, k + 1):
        latest = picked[-1][1]
        for v in maxsim:
            s = sim_micro(v, latest)
            if maxsim[v] is None or s > maxsim[v]:
                maxsim[v] = s
        best = max(
            maxsim,
            key=lambda v: (lam_num * rel[v] - lam_rem * maxsim[v], -v),
        )
        picked.append((step, best, rel[best], maxsim[best]))
        del maxsim[best]
    rows = [
        (s, v, r, m, lam_num * r - lam_rem * m) for s, v, r, m in picked
    ]
    return spark.createDataFrame(
        rows,
        "step int, vec_id bigint, rel_micro bigint, maxsim_micro bigint, "
        "mmr_score bigint",
    )


def hubness_k_occurrence(
    emb: DataFrame,
    dim: int = 64,
    n_cells: int | None = None,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cell-local k-occurrence counts (the hubness statistic of
    Radovanović et al. JMLR 2010): for every vector, its exact-cosine
    top-``k`` among its md5-IVF cell-mates, then how often each vector
    appears in others' top-``k`` lists.  Returns (vec_id, cell,
    k_occurrence) for vectors hit at least once.

    One Arrow grouped-map kernel per cell replaces the exploded
    pair-join + rank-window formulation: the within-cell pairwise
    cosine is a numpy accumulation SEQUENTIAL OVER DIMENSIONS (one
    outer product per dim), which replays the exact IEEE operation
    order of the engines' fold — G after step d equals every scalar
    fold's accumulator after step d — so the rounded-micro cosines,
    and therefore every ranking decision, are bit-identical to the
    DuckDB oracle's list_reduce.  Rounding is half-away-from-zero via
    the rint+trunc tie fixup (same kernel as gram_partials; the scalar
    twin is :func:`round_half_away`).  Rows are sorted by id at kernel
    entry so the result is a pure function of the data, never of the
    Arrow batch order.

    Scale: the only shuffle is the groupBy on the cell tag; with
    ``n_cells=None`` (scaled_n_cells ~ sqrt(n)) each group holds
    ~sqrt(n) vectors, so per-task work is one ~sqrt(n) x sqrt(n) numpy
    gram — vectorized C loops instead of an interpreted 64-element HOF
    fold per pair, and no O(n^1.5)-row exchange at all.
    """
    import numpy as np
    import pandas as pd

    if n_cells is None:
        n_cells = scaled_n_cells(emb.count())
    assigned = ivf_assign_cells(emb, dim=dim, n_cells=n_cells, vec_col=vec_col).select(
        F.col(id_col).alias("vec_id"), "cell", F.col(vec_col).alias("v")
    )

    def kocc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")  # layout-independence
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        n = len(ids)
        empty = pd.DataFrame(
            {
                "vec_id": ids[:0],
                # int32 to match the declared `cell int` schema exactly —
                # int64 only round-trips while Arrow safe-conversion is off
                "cell": ids[:0].astype(np.int32),
                "k_occurrence": ids[:0],
            }
        )
        if n < 2:
            return empty
        cell = int(pdf["cell"].iloc[0])
        m = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
        ).reshape(n, dim)
        g = np.zeros((n, n), dtype=np.float64)
        for d in range(dim):  # sequential over dims == fold order
            col = m[:, d]
            g = g + np.outer(col, col)
        nrm = np.diag(g).copy()
        cos = g / np.sqrt(np.outer(nrm, nrm))
        p = cos * 1e6
        r = np.rint(p)
        t = np.trunc(p)
        halves = np.abs(p - t) == 0.5  # p - trunc(p) is exact
        r[halves] = t[halves] + np.sign(p[halves])
        counts = np.zeros(n, dtype=np.int64)
        for s in range(n):  # src vector: rank its cell-mates
            scores = r[:, s].copy()
            scores[s] = -np.inf  # never its own neighbor
            order = np.lexsort((ids, -scores))
            counts[order[: min(k, n - 1)]] += 1
        hit = counts > 0
        return pd.DataFrame(
            {
                "vec_id": ids[hit],
                "cell": np.full(int(hit.sum()), cell, dtype=np.int32),
                "k_occurrence": counts[hit],
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        kocc, "vec_id bigint, cell int, k_occurrence bigint"
    )


def cell_blocked_cross_cosines(
    a: DataFrame,
    b: DataFrame,
    dim: int = 64,
) -> DataFrame:
    """Positive-cosine candidate pairs between two sides of a comparable
    corpus, blocked by a shared ``cell`` tag — the ANN-shortlist scoring
    step of margin-based bitext mining, as one Arrow COGROUPED kernel
    per cell instead of a cell join through an interpreted fold per
    pair.

    Inputs carry (a_id, cell, ea, na2) / (b_id, cell, eb, nb2) with the
    norms precomputed by the caller's fold.  The kernel's cross gram
    accumulates SEQUENTIALLY over dimensions (one outer product per
    dim), replaying the scalar fold's IEEE operation order bit-exactly
    — G after step d equals dot_fold's accumulator after step d — and
    cos = G / sqrt(outer(na2, nb2)) performs the identical single
    multiply, sqrt, divide, so every emitted double (and the cos > 0
    cut) matches the join+fold formulation bit-for-bit.

    Scale: the only exchange is the groupBy on the cell tag; per-cell
    work is one ~sqrt(n) x sqrt(n) numpy gram in C instead of
    O(n^1.5) interpreted 64-element HOF folds.
    """
    import numpy as np
    import pandas as pd

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "a_id": np.array([], dtype=np.int64),
                "b_id": np.array([], dtype=np.int64),
                "cell": np.array([], dtype=np.int32),
                "cos": np.array([], dtype=np.float64),
            }
        )
        if left.empty or right.empty:
            return empty
        left = left.sort_values("a_id")
        right = right.sort_values("b_id")
        cell = int(left["cell"].iloc[0])
        ma = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in left["ea"]]
        ).reshape(len(left), dim)
        mb = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in right["eb"]]
        ).reshape(len(right), dim)
        g = np.zeros((len(left), len(right)), dtype=np.float64)
        for d in range(dim):  # sequential over dims == fold order
            g = g + np.outer(ma[:, d], mb[:, d])
        na2 = left["na2"].to_numpy(dtype=np.float64)
        nb2 = right["nb2"].to_numpy(dtype=np.float64)
        cos = g / np.sqrt(np.outer(na2, nb2))
        ai, bj = np.nonzero(cos > 0)
        return pd.DataFrame(
            {
                "a_id": left["a_id"].to_numpy(dtype=np.int64)[ai],
                "b_id": right["b_id"].to_numpy(dtype=np.int64)[bj],
                "cell": np.full(len(ai), cell, dtype=np.int32),
                "cos": cos[ai, bj],
            }
        )

    return (
        a.groupBy("cell")
        .cogroup(b.groupBy("cell"))
        .applyInPandas(score, "a_id bigint, b_id bigint, cell int, cos double")
    )


def kcenter_coreset(
    emb: DataFrame, seed_vec_id: int = 0, k: int = 6
) -> DataFrame:
    """Greedy farthest-point k-center coreset selection (Gonzalez 1985;
    the 2-approximation behind diversity-driven training-data
    selection): starting from the seed vector, repeatedly add the
    point FARTHEST (max-min squared euclidean) from the chosen
    centers.  Distances quantize to integer micros before min/argmax,
    so the trajectory is pure-integer cross-engine; the reported
    radius_micro per step is the chosen point's distance to the
    previous centers — the classic decreasing coverage-radius curve.

    Scale: each of the k-1 steps is one full-scan projection updating
    a RUNNING min-distance column against only the newest center
    (O(Nk) distance folds total — the textbook distributed greedy
    k-center) followed by a TakeOrdered argmax; no pairwise table.
    """
    spark = emb.sparkSession

    def vec_of(vid: int) -> list[float]:
        return [
            float(x)
            for x in emb.where(F.col("vec_id") == vid)
            .select("embedding")
            .head()[0]
        ]

    def d2_micro(vec: list[float], col: Column) -> Column:
        return F.round(diff2_fold(col, _vec_lit(vec)) * 1000000).cast("bigint")

    picked = [(1, seed_vec_id, 0)]
    latest_vec = vec_of(seed_vec_id)
    # No per-step checkpoints: the running-min lineage is LINEAR (one
    # added fold per step, k <= 6), so recomputing from the scan is
    # O(N k^2/2) folds total — far cheaper under a contended scheduler
    # than k blocking checkpoint jobs.
    rem = emb.where(F.col("vec_id") != seed_vec_id).select(
        "vec_id",
        "embedding",
        d2_micro(latest_vec, F.col("embedding")).alias("mind"),
    )
    for step in range(2, k + 1):
        top = rem.orderBy(F.desc("mind"), F.asc("vec_id")).head()
        picked.append((step, int(top["vec_id"]), int(top["mind"])))
        if step < k:
            latest_vec = [float(x) for x in top["embedding"]]
            rem = rem.where(F.col("vec_id") != top["vec_id"]).withColumn(
                "mind",
                F.least(
                    F.col("mind"), d2_micro(latest_vec, F.col("embedding"))
                ),
            )
    return spark.createDataFrame(
        picked, "step int, vec_id bigint, radius_micro bigint"
    )


def pca_power_iteration(
    emb: DataFrame,
    dim: int = 64,
    iters: int = 3,
    vscale: int = 16384,
    vec_col: str = "embedding",
) -> DataFrame:
    """Leading principal direction of the (uncentered) Gram matrix by
    power iteration over EXACT integer sufficient statistics — the
    distributed-PCA pattern: one scan reduces the corpus to the
    dim x dim matrix A[i,j] = sum over rows of round(x_i * x_j * 1e6)
    (each per-row product quantizes to micros BEFORE the sum, so the
    matrix is an order-independent exact BIGINT reduction), then the
    O(dim^2) power iteration runs on that bounded statistic in pure
    integer arithmetic (matvec, then rescale to +-vscale by the max
    magnitude with symmetric truncation) — bit-identical to the
    oracle's unrolled SQL by construction.

    Scale: one Arrow-vectorized mapInPandas pass reduces each input
    batch to dim^2 = 4096 (i, j, partial-sum) cells (numpy outer
    products, each per-row product rounded half-away-from-zero —
    std::round semantics, matching both engines' round() on the same
    float64 — BEFORE the exact int64 batch sum), then a
    map-side-combining groupBy merges partials — the shuffle carries
    at most 4096 rows per batch regardless of corpus size; the
    iteration itself touches only the 4096-cell matrix (driver-side,
    the sufficient-statistics pattern).  vscale = 2^14 keeps the
    matvec below 2^63 out to ~10^8 rows x |x| <= 4.
    """
    spark = emb.sparkSession

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        # int32 to match the declared `i int, j int` schema exactly
        ii, jj = np.meshgrid(
            np.arange(1, dim + 1, dtype=np.int32),
            np.arange(1, dim + 1, dtype=np.int32),
            indexing="ij",
        )
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ).reshape(-1, dim)
            acc = np.zeros((dim, dim), dtype=np.int64)
            for lo in range(0, x.shape[0], 2048):  # bound the temporaries
                xc = x[lo : lo + 2048]
                p = xc[:, :, None] * xc[:, None, :] * 1e6
                # round half AWAY FROM ZERO, bit-exact on the float64
                # (the rint+trunc fixup avoids the floor(x+0.5) carry
                # bug): both engines' round() agrees with this on every
                # double.
                r = np.rint(p)
                t = np.trunc(p)
                halves = np.abs(p - t) == 0.5  # p - trunc(p) is exact
                r[halves] = t[halves] + np.sign(p[halves])
                acc += r.astype(np.int64).sum(axis=0)
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "p": acc.ravel()}
            )

    amat = (
        emb.select(vec_col)
        .mapInPandas(gram_partials, "i int, j int, p bigint")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("bigint").alias("a"))
        .collect()
    )
    a = {(int(r["i"]), int(r["j"])): int(r["a"]) for r in amat}
    v = [vscale] * dim
    for _ in range(iters):
        u = [
            sum(a.get((i + 1, j + 1), 0) * v[j] for j in range(dim))
            for i in range(dim)
        ]
        m = max(abs(x) for x in u)
        if m == 0:
            v = u
        else:
            v = [
                (x * vscale) // m if x >= 0 else -(((-x) * vscale) // m)
                for x in u
            ]
    return spark.createDataFrame(
        [(i + 1, v[i]) for i in range(dim)], "pos int, v_scaled bigint"
    )


def _jl_signs(k_dims: int, dim: int) -> list[list[float]]:
    """The +-1 Achlioptas sign matrix, derived from the repo's md5
    convention (parity of the 60-bit 'jl:d|i' digest) so the DuckDB
    oracle recomputes it bit-for-bit in SQL."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"jl:{d}|{i}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1.0
            for i in range(1, dim + 1)
        ]
        for d in range(1, k_dims + 1)
    ]


def jl_projection_quality(
    emb: DataFrame,
    k_dims: int = 16,
    n_cand: int = 20,
    dim: int = 64,
    qvec: "list[float] | None" = None,
) -> DataFrame:
    """Johnson–Lindenstrauss sign-projection quality probe: project the
    64-dim embeddings to ``k_dims`` dims with a deterministic +-1 sign
    matrix (Achlioptas 2003's database-friendly random projection, md5-
    derived so both engines build the same matrix), then report, for
    the top-``n_cand`` exact neighbors of vec_id 0, the exact cosine
    next to the projected-space cosine — the distortion a JL sketch
    would introduce at 4x dimensionality reduction.  All folds are
    sequential (zip_with + aggregate vs the oracle's ordered-list
    list_reduce), so every micro is bit-identical.

    Scale: candidate selection is the distributed TakeOrdered scan;
    the 16 projections are per-row map expressions (at 100 TB the
    projection IS the point — ship 16 doubles per row instead of 64);
    only the bounded candidate pool computes both-space cosines.
    """
    signs = _jl_signs(k_dims, dim)
    if qvec is None:  # caller may pass the memoized probe row (plans/emb)
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == 0)
            .select("embedding")
            .head()[0]
        ]

    def fold_signed_py(vec: list[float], w: list[float]) -> float:
        acc = 0.0
        for x, s in zip(vec, w):  # same sequential fold the engines run
            acc = acc + float(x) * s
        return acc

    pq = [fold_signed_py(qvec, signs[d]) for d in range(k_dims)]
    pq_norm = _norm_sq_py(pq)

    cand = (
        emb.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            _cos_micro_to(qvec, F.col("embedding")).alias("rel_micro"),
        )
        .orderBy(F.desc("rel_micro"), F.asc("vec_id"))
        .limit(n_cand)
    )
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.array(*[F.lit(s) for s in signs[d]]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"p{d}")
        for d in range(k_dims)
    ]
    projected = cand.select("vec_id", "rel_micro", *proj_cols).withColumn(
        "pv", F.array(*[F.col(f"p{d}") for d in range(k_dims)])
    )
    pq_lit = F.array(*[F.lit(x) for x in pq])
    pdot = dot_fold(F.col("pv"), pq_lit)
    pnorm = dot_fold(F.col("pv"), F.col("pv"))
    prel = F.round(
        pdot / F.sqrt(pnorm * F.lit(pq_norm)) * 1000000
    ).cast("bigint")
    return (
        projected.select("vec_id", "rel_micro", prel.alias("proj_rel_micro"))
        .orderBy(F.desc("rel_micro"), F.asc("vec_id"))
    )
