"""Tier C — documents: text analysis, curation/sampling, tokenizer
training, retrieval, PII.

Split out of the original plans/catalog.py; the registry, driver
window, and rotation stay in catalog.py.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from duckdb_cluster_hash_spark import memo as _memo
from duckdb_cluster_hash_spark import oracle_text as _ot
from duckdb_cluster_hash_spark.operators import dedup as _dd
from duckdb_cluster_hash_spark.operators import similarity as _sim
from duckdb_cluster_hash_spark.functions import text as _tx
from duckdb_cluster_hash_spark.operators import multimodal as _mm
from duckdb_cluster_hash_spark.functions.text import bigram_lift_top_sql, bm25_topk_sql
from duckdb_cluster_hash_spark.plans._registry import ORACLES, _t, query


@query(
    "docs_stats_by_lang",
    oracle=(
        "SELECT lang, count(*) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars, "
        "CAST(sum(length(regexp_extract_all(text, '[^ ]+'))) AS BIGINT) AS sum_tokens "
        "FROM documents GROUP BY lang ORDER BY lang"
    ),
)
def docs_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-corpus profile (C6): per-language doc/char/token counts."""
    docs = _t(spark, sf_dir, "documents")
    tokens = F.size(F.expr("regexp_extract_all(text, '[^ ]+', 0)"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(tokens).alias("sum_tokens"),
        )
        .orderBy("lang")
    )


@query("docs_lang_id_counts", oracle=_ot.lang_id_counts_sql())
def docs_lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (C6): script ranges + stopword voting;
    distribution of predicted languages.  The doc-id repartition spreads
    the regex-heavy scoring across the cluster instead of running it on
    the scan's (possibly single-file) task layout."""
    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    return (
        docs.select(_tx.language_id_col(F.col("text")).alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("predicted_lang")
    )


@query("docs_quality_scores", oracle=_ot.quality_scores_sql())
def docs_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + combined [0,1] score (C6)."""
    docs = _t(spark, sf_dir, "documents")
    feats = _tx.quality_features(docs, "text")
    return feats.select(
        "doc_id",
        "n_chars_q",
        "n_tokens",
        "mean_token_len",
        "punct_ratio",
        "digit_ratio",
        "upper_ratio",
        "stop_ratio",
        "repetition_ratio",
        _tx.quality_score_col().alias("quality"),
    )


@query("docs_token_stats_by_source", oracle=_ot.token_stats_by_source_sql())
def docs_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts rolled up by source (C6)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(_tx.ws_token_count(F.col("text"))).alias("ws_tokens"),
            F.sum(_tx.bpe_ish_token_count(F.col("text"))).alias("bpe_tokens"),
        )
        .orderBy("source")
    )


@query(
    "docs_media_metadata",
    oracle=(
        "SELECT doc_id, 'image/fake' AS media_type, "
        "(16 + octet_length(encode(text)))::BIGINT AS byte_len, "
        "(16 + doc_id % 64)::INTEGER AS width, "
        "(16 + (doc_id * 7) % 48)::INTEGER AS height, "
        "(1 + doc_id % 8)::INTEGER AS n_frames, "
        "((16 + doc_id % 64) * 1000) // (16 + (doc_id * 7) % 48) AS aspect_milli "
        "FROM documents"
    ),
)
def docs_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthesize binary media, decode headers via
    Arrow-batched mapInPandas; the oracle recomputes the header math."""
    docs = _t(spark, sf_dir, "documents")
    return _mm.media_metadata(_mm.attach_fake_media(docs))


@query(
    "docs_pnm_decode_stats",
    oracle=(
        "WITH p AS (SELECT doc_id, "
        "CAST(4 + doc_id % 8 AS INTEGER) AS width, "
        "CAST(3 + (doc_id * 3) % 5 AS INTEGER) AS height, "
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) "
        "AS channels FROM documents), "
        "px AS (SELECT doc_id, width, height, channels, "
        "unnest(generate_series(0, CAST(width AS BIGINT) * height "
        "* channels - 1)) AS i FROM p), "
        "v AS (SELECT doc_id, width, height, channels, "
        "(doc_id * 7 + i * 13) % 256 AS v FROM px) "
        "SELECT doc_id, "
        "CASE WHEN channels = 3 THEN 'P6' ELSE 'P5' END AS fmt, "
        "width, height, channels, CAST(255 AS INTEGER) AS maxval, "
        "CAST(sum(v) AS BIGINT) AS px_sum, "
        "CAST(min(v) AS INTEGER) AS px_min, "
        "CAST(max(v) AS INTEGER) AS px_max, "
        "CAST((1000 * sum(v)) // (CAST(width AS BIGINT) * height "
        "* channels) AS BIGINT) AS mean_milli "
        "FROM v GROUP BY doc_id, width, height, channels "
        "ORDER BY doc_id"
    ),
)
def docs_pnm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, dependency-free: spec-compliant netpbm images
    (binary PPM ``P6`` for even doc_ids, PGM ``P5`` for odd, each with a
    header comment line) are synthesized as pure Column expressions,
    then decoded by the actual PNM parser — header grammar, comment
    skipping, raster offset, numpy pixel stats — in one Arrow-batched
    mapInPandas stage (operators/multimodal.py:decode_pnm).  The oracle
    re-derives the pixel statistics from the generator's closed form, so
    a mis-parsed header or off-by-one raster offset hash-mismatches.

    Closes the round-7 scope note: image decode is no longer stubbed for
    the netpbm family; only compressed codecs (JPEG/PNG/audio/video)
    remain import-gated (PIL etc. are not in the container).

    Scale: decode is embarrassingly parallel map work over Arrow
    batches — no shuffle at all until the (absent) downstream
    aggregation; payload bytes never reach the driver.
    """
    docs = _t(spark, sf_dir, "documents")
    return _mm.pnm_decode_stats(_mm.attach_fake_pnm(docs)).orderBy("doc_id")


@query(
    "docs_wav_decode_stats",
    oracle=(
        "WITH p AS (SELECT doc_id, "
        "CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate, "
        "CAST(1 + doc_id % 2 AS INTEGER) AS channels, "
        "CAST(8 + doc_id % 9 AS BIGINT) AS n_frames "
        "FROM documents), "
        "s AS (SELECT doc_id, sample_rate, channels, n_frames, "
        "unnest(generate_series(0, n_frames * channels - 1)) AS k FROM p), "
        "v AS (SELECT doc_id, sample_rate, channels, n_frames, "
        "(doc_id * 31 + k * 17) % 4096 - 2048 AS v FROM s) "
        "SELECT doc_id, sample_rate, channels, "
        "CAST(16 AS INTEGER) AS bits, n_frames, "
        "CAST(sum(v) AS BIGINT) AS sample_sum, "
        "CAST(min(v) AS INTEGER) AS sample_min, "
        "CAST(max(v) AS INTEGER) AS sample_max, "
        "CAST(sum(v * v) AS BIGINT) AS energy "
        "FROM v GROUP BY doc_id, sample_rate, channels, n_frames "
        "ORDER BY doc_id"
    ),
)
def docs_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, dependency-free: spec-compliant RIFF/WAVE
    PCM16 clips (mono/stereo, three sample rates, an odd-sized LIST
    metadata chunk in every file) are synthesized as pure Column
    expressions, then decoded by the actual RIFF chunk-walker —
    container header, unknown-chunk skipping, odd-size even-padding,
    format-tag/bit-depth validation, little-endian int16 raster — in
    one Arrow-batched mapInPandas stage (operators/multimodal.py:
    decode_wav).  The oracle re-derives the sample statistics from the
    generator's closed form, so a mis-walked chunk, wrong raster
    offset, or endianness slip hash-mismatches (sample values span
    negative int16, so byte-order errors cannot cancel).

    With docs_pnm_decode_stats this completes the multimodal scope
    note: image AND audio decode run real parsers natively; only
    compressed codecs (JPEG/PNG/MP3/video) remain import-gated.

    Scale: embarrassingly parallel map work over Arrow batches — no
    shuffle; payload bytes never reach the driver.
    """
    docs = _t(spark, sf_dir, "documents")
    return _mm.wav_decode_stats(_mm.attach_fake_wav(docs)).orderBy("doc_id")


@query(
    "docs_y4m_video_stats",
    oracle=(
        "WITH p AS (SELECT doc_id, "
        "CAST(4 + (doc_id % 3) * 2 AS INTEGER) AS width, "
        "CAST(2 + ((doc_id // 2) % 2) * 2 AS INTEGER) AS height, "
        "CAST(24 + (doc_id % 2) * 6 AS INTEGER) AS fps_num, "
        "CASE WHEN doc_id % 2 = 0 THEN '420jpeg' ELSE 'mono' END AS colorspace, "
        "CAST(2 + doc_id % 4 AS BIGINT) AS n_frames FROM documents), "
        "fr AS (SELECT *, unnest(generate_series(0, n_frames - 1)) AS i FROM p), "
        "sampled AS (SELECT * FROM fr WHERE i % 2 = 0), "
        "px AS (SELECT doc_id, width, height, fps_num, colorspace, n_frames, i, "
        "unnest(generate_series(0, CAST(width AS BIGINT) * height - 1)) AS j "
        "FROM sampled), "
        "v AS (SELECT doc_id, width, height, fps_num, colorspace, n_frames, "
        "(doc_id * 11 + i * 29 + j * 7) % 256 AS y FROM px) "
        "SELECT doc_id, width, height, fps_num, CAST(1 AS INTEGER) AS fps_den, "
        "colorspace, n_frames, "
        "CAST((n_frames + 1) // 2 AS BIGINT) AS n_sampled, "
        "CAST(sum(y) AS BIGINT) AS y_sum, "
        "CAST(min(y) AS INTEGER) AS y_min, CAST(max(y) AS INTEGER) AS y_max "
        "FROM v GROUP BY doc_id, width, height, fps_num, colorspace, n_frames "
        "ORDER BY doc_id"
    ),
)
def docs_y4m_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, dependency-free — the third modality next to
    PNM images and RIFF/WAVE audio: spec-compliant YUV4MPEG2 clips
    (4:2:0 color for even doc_ids, mono for odd; two frame sizes; an
    ``X`` parameter on every odd FRAME line) are synthesized as pure
    Column expressions, then decoded by the actual y4m container
    parser — tagged stream-header grammar, per-frame headers with
    optional parameters, subsampling-dependent raster sizes, truncation
    guards — with every 2nd frame sampled and luma statistics off
    numpy views, in one Arrow-batched mapInPandas stage
    (operators/multimodal.py:decode_y4m / y4m_frame_stats).  The
    oracle re-derives the sampled-luma stats from the generator's
    closed form, so a mis-parsed header, wrong frame stride, or
    chroma-contaminated luma slice hash-mismatches.

    Frame SAMPLING (every_k=2) is graded through the container walk:
    n_sampled = ceil(n_frames / 2) and only sampled planes feed the
    sums — the exact shape a video curation pipeline runs (decode ->
    sample -> per-frame screen) before any model sees a pixel.

    Scale: embarrassingly parallel map work over Arrow batches — no
    shuffle; payload bytes never reach the driver.
    """
    docs = _t(spark, sf_dir, "documents")
    return _mm.y4m_frame_stats(_mm.attach_fake_y4m(docs), every_k=2).orderBy(
        "doc_id"
    )


@query(
    "docs_ilike_filter",
    oracle=(
        "SELECT source, count(*) AS n_docs FROM documents "
        "WHERE source ILIKE 'SRC1%' AND text ILIKE '%the%' "
        "GROUP BY source ORDER BY source"
    ),
)
def docs_ilike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ILIKE pattern predicate (B13, quack.test:21-23 shape)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("source").ilike("SRC1%") & F.col("text").ilike("%the%"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )


@query(
    "docs_token_top20",
    oracle=(
        "WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w "
        "FROM documents) "
        "SELECT w, CAST(count(*) AS BIGINT) AS n FROM w "
        "GROUP BY w ORDER BY n DESC, w LIMIT 20"
    ),
)
def docs_token_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-k (C6): the Zipf head every
    training-data report starts with.  ORDER BY + LIMIT plans as
    TakeOrderedAndProject — per-partition top-k, no global sort."""
    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(20)
    )


@query(
    "docs_lang_top_tokens",
    oracle=(
        "WITH w AS (SELECT lang, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS w FROM documents), "
        "c AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS n FROM w "
        "GROUP BY lang, w), "
        "r AS (SELECT lang, w, n, row_number() OVER "
        "(PARTITION BY lang ORDER BY n DESC, w) AS rk FROM c) "
        "SELECT lang, w, n, rk::INTEGER AS rk FROM r WHERE rk <= 5 "
        "ORDER BY lang, rk"
    ),
)
def docs_lang_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP top-k (C6): the 5 most frequent tokens per language —
    the grouped variant of docs_token_top20 and the pattern every
    per-source/per-language corpus report needs.  Deterministic
    tie-break (count desc, token asc) keeps both engines identical.

    Scale: the rank window partitions by lang over the ALREADY
    AGGREGATED (lang, token) counts — the window input is the distinct
    vocabulary per language, not the corpus, so no global sort and no
    skewed window over raw tokens.
    """
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    counts = (
        docs.select(
            "lang",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count("*").alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("w"))
    )
    return (
        counts.withColumn("rk", rk)
        .where(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


@query(
    "docs_source_quota_sample",
    oracle=(
        "WITH ranked AS (SELECT source, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS tokens, "
        "row_number() OVER (PARTITION BY source "
        "ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM documents) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_total, "
        "CAST(sum(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
        "CAST(sum(CASE WHEN rk <= 100 THEN tokens ELSE 0 END) AS BIGINT) "
        "AS kept_tokens "
        "FROM ranked GROUP BY source ORDER BY source"
    ),
)
def docs_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source QUOTA capping (the mixture-building twin
    of rate-based stratified sampling): each source keeps its first 100
    documents in md5 order — a fixed budget per source regardless of
    source size, the rule used to stop one crawl dump from dominating a
    mixture.  md5 order makes the kept set a uniform, reproducible
    sample; doc_id breaks (impossible) digest ties for total order.

    Scale: one shuffle on source, per-source local sort for the rank
    window, map-side conditional aggregation — the quota never
    materializes a separate kept table or second pass.
    """
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    from duckdb_cluster_hash_spark.functions.text import ws_token_count

    ranked = docs.select(
        "source",
        ws_token_count(F.col("text")).cast("bigint").alias("tokens"),
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        .alias("rk"),
    )
    kept = F.col("rk") <= 100
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum(F.when(kept, F.col("tokens")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
        )
        .orderBy("source")
    )


@query(
    "docs_rag_chunks",
    oracle=(
        "WITH t AS (SELECT source, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS tokens "
        "FROM documents), "
        "c AS (SELECT source, tokens, CASE WHEN tokens <= 128 THEN 1 "
        "ELSE 1 + (tokens - 128 + 95) // 96 END AS n_chunks FROM t) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(tokens) AS BIGINT) AS total_tokens, "
        "CAST(sum(n_chunks) AS BIGINT) AS total_chunks, "
        "CAST(max(n_chunks) AS BIGINT) AS max_chunks "
        "FROM c GROUP BY source ORDER BY source"
    ),
)
def docs_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sliding-window chunking (the RAG-ingestion twin of
    cross-document packing): 128-token chunks with 32-token overlap
    (stride 96), so a T-token document yields 1 chunk if T <= 128, else
    1 + ceil((T-128)/96).  Integer div end-to-end; per-source rollup of
    doc/token/chunk totals and the largest per-doc chunk count.

    Scale: chunk counts are a pure map-side projection (no explode — the
    chunk TEXT itself is only materialized downstream when embedding,
    and then as a map-side explode); the only shuffle is the final
    per-source aggregate.
    """
    from duckdb_cluster_hash_spark.functions.text import ws_token_count

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source", ws_token_count(F.col("text")).cast("bigint").alias("tokens")
    )
    n_chunks = F.when(F.col("tokens") <= 128, F.lit(1)).otherwise(
        F.lit(1) + F.expr("(tokens - 128 + 95) div 96")
    )
    return (
        t.withColumn("n_chunks", n_chunks)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.sum("n_chunks").alias("total_chunks"),
            F.max("n_chunks").alias("max_chunks"),
        )
        .orderBy("source")
    )


@query("docs_corpus_curation", oracle=_ot.corpus_curation_sql(min_quality=0.65))
def docs_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation report (C3+C6 composite):
    exact-dup detection, quality scoring, and language ID fused into one
    keep/drop decision per document, aggregated per (lang, decision).

    Scale: ONE pass over the corpus — the md5-digest window is the only
    shuffle (same key a digest groupBy would use, and only (doc_id,
    digest, small ints) cross the wire conceptually; text-derived
    features are computed scan-side before the exchange).  Quality and
    lang-ID are pure codegen Column chains (no Python); the scored
    table is the :func:`quality_rep_shared` memo, so a suite run pays
    the pass once between this report and the composed pipeline.  The
    decision ladder mirrors a production pipeline: dedup wins over
    quality so re-ingested copies never double-count against quality
    stats.
    """
    docs = _t(spark, sf_dir, "documents")
    scored = quality_rep_shared(docs).select(
        "doc_id", "n_tokens", "quality", "lang_id", "rep"
    )
    decided = scored.select(
        "lang_id",
        "n_tokens",
        F.when(F.col("doc_id") != F.col("rep"), "duplicate")
        .when(F.col("quality") < 0.65, "low_quality")
        .otherwise("kept")
        .alias("decision"),
    )
    return (
        decided.groupBy("lang_id", "decision")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
        )
        .orderBy("lang_id", "decision")
    )


def quality_rep_shared(docs: DataFrame) -> DataFrame:
    """Per-document quality/dedup gate table ``(doc_id, lang, nch,
    n_tokens, rep, quality, lang_id)``, materialized ONCE per corpus
    per session through the session memo
    (operators/dedup._shared_checkpoint) and shared between
    ``docs_corpus_curation`` (keep/drop report) and
    ``docs_curation_pipeline`` (quality gate stage): the regex-heavy
    quality features and the md5-digest exact-dup window are identical
    in both, so a suite run pays the corpus pass once.  The window's
    shuffle key is the 32-byte digest (text-derived features are
    computed scan-side), same as a digest groupBy would use."""
    from pyspark.sql.window import Window

    from duckdb_cluster_hash_spark.functions.text import (
        language_id_col,
        quality_features,
        quality_score_col,
    )

    def build():
        s0 = docs.select(
            "doc_id",
            "text",
            "lang",
            F.length("text").cast("bigint").alias("nch"),
        )
        f = quality_features(
            s0.withColumn(
                "rep",
                F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
            ),
            "text",
        )
        return f.select(
            "doc_id",
            "lang",
            "nch",
            "n_tokens",
            "rep",
            quality_score_col().alias("quality"),
            language_id_col(F.col("text")).alias("lang_id"),
        )

    return _dd._shared_checkpoint(docs, ("quality_rep",), build)


def _curated_artifact_dir(sf_dir: str) -> str:
    """Temp-dir path for the curation pipeline's kept-corpus artifact,
    keyed by corpus-path hash + PID (concurrent harnesses on the same
    corpus must not race the overwrite/read-back), with cleanup owned
    here: an atexit hook removes THIS process's dirs when it exits, and
    each call opportunistically sweeps ``dch_curated_*`` dirs whose
    owning PID no longer exists — a kill -9'd harness never runs its
    atexit, and without the sweep repeated runs accumulate unbounded
    tmp garbage."""
    import atexit as _atexit
    import glob as _glob
    import hashlib as _hl
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    tmp = _tf.gettempdir()
    pid = _os.getpid()
    for stale in _glob.glob(_os.path.join(tmp, "dch_curated_*_*")):
        tail = stale.rsplit("_", 1)[-1]
        if not tail.isdigit() or int(tail) == pid:
            continue
        try:
            _os.kill(int(tail), 0)  # raises if the owner is gone
        except ProcessLookupError:
            _shutil.rmtree(stale, ignore_errors=True)
        except (OSError, PermissionError):
            pass  # owner alive (or unverifiable): leave it alone
    global _CURATED_ATEXIT
    if not _CURATED_ATEXIT:
        _CURATED_ATEXIT = True
        _atexit.register(
            lambda: [
                _shutil.rmtree(p, ignore_errors=True)
                for p in _glob.glob(
                    _os.path.join(tmp, f"dch_curated_*_{pid}")
                )
            ]
        )
    return _os.path.join(
        tmp,
        "dch_curated_{}_{}".format(
            _hl.md5(
                _os.path.abspath(sf_dir.rstrip("/")).encode()
            ).hexdigest()[:8],
            pid,
        ),
    )


_CURATED_ATEXIT = False


def gopher_rep_shared(docs: DataFrame) -> DataFrame:
    """Per-document Gopher top-bigram repetition table ``(doc_id,
    source, rep_bp)`` (docs with >= 2 letter-words only), materialized
    ONCE per corpus per session through the session memo
    (operators/dedup._shared_checkpoint) and shared between
    ``docs_gopher_repetition`` (per-source rollup) and
    ``docs_curation_pipeline`` (per-doc quality gate): the bigram
    explode + two keyed groupBys are the expensive part and are
    identical in both, so a suite run pays them once."""

    def build():
        t = docs.select(
            "doc_id",
            "source",
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0).alias("w"),
        ).where(F.size("w") >= 2)
        b = t.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> element_at(w, i) || ' ' || element_at(w, i + 1))"
                )
            ).alias("bg"),
        )
        c = b.groupBy("doc_id", "source", "bg").agg(
            F.count("*").cast("bigint").alias("c")
        )
        m = c.groupBy("doc_id", "source").agg(
            F.max("c").alias("mx"), F.sum("c").alias("nb")
        )
        return m.selectExpr(
            "doc_id", "source", "CAST((10000 * mx) div nb AS BIGINT) AS rep_bp"
        )

    return _dd._shared_checkpoint(docs, ("gopher_rep_bp",), build)


@query("docs_curation_pipeline", oracle=_ot.curation_pipeline_sql())
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED end-to-end curation pass (C3+C4+C6 north star):
    every signal the suite grades independently, chained into one
    keep/drop ladder per document — exact dedup (md5 group, min-id
    keeper) → quality gate (quality score >= 0.65 AND Gopher top-bigram
    repetition < 2000 bp) → near-dup drop (MinHash/LSH components,
    keeper = min SURVIVING doc_id per corpus-wide cluster) → per-lang
    80% train quota (the stratified-split rank rule) — with the kept
    corpus WRITTEN as a lake artifact and the graded output the
    per-stage attrition bill (stage, n_docs, n_chars); the kept row is
    computed FROM the re-read artifact, so the bill certifies the bytes
    on disk.

    Scale: the per-doc gates (quality, rep_bp) are set-independent, so
    the ladder is ONE corpus pass + the Gopher bigram rollup; the
    MinHash candidate graph and components reuse the family memo
    (shared with docs_neardup_components — same corpus frame, same
    params); the near-dup keeper is a grouped min over CLUSTER MEMBERS
    only (never a window whose null-component partition holds the whole
    corpus) broadcast back; the quota rank is
    ranking.grouped_row_number (literal-cut buckets — a hot language
    never becomes one reducer's sort).
    """
    import os as _os
    import tempfile as _tf

    from duckdb_cluster_hash_spark.operators.ranking import grouped_row_number

    docs = _t(spark, sf_dir, "documents")
    # quality + exact-dup rep: the memoized table shared with
    # docs_corpus_curation (one regex+digest-window corpus pass/session)
    q = quality_rep_shared(docs).select(
        "doc_id", "lang", "nch", "rep", "quality"
    )
    # Gopher top-bigram repetition share, per doc — the SAME memoized
    # table docs_gopher_repetition rolls up (one bigram explode per
    # corpus per session)
    gm = gopher_rep_shared(docs).select("doc_id", "rep_bp")
    comps = _dd.neardup_components_shared(
        docs, "doc_id", "text", n=3, k=16, bands=8, rows=2, threshold=0.2
    )
    lad = (
        q.join(gm, "doc_id", "left")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "nch",
            (F.col("doc_id") != F.col("rep")).alias("d1"),
            (
                (F.col("quality") < 0.65)
                | (F.coalesce("rep_bp", F.lit(0)) >= 2000)
            ).alias("d2"),
            "component",
        )
    )
    keeper = (
        lad.where(F.col("component").isNotNull())
        .groupBy("component")
        .agg(
            F.min(F.when(~F.col("d1") & ~F.col("d2"), F.col("doc_id"))).alias(
                "keep_id"
            )
        )
    )
    from duckdb_cluster_hash_spark.operators.ranking import _pin as _rank_pin

    # the narrow ladder frame feeds five consumers (dropped bill, quota
    # rank, per-lang totals, artifact write, quota bill) — pin it so
    # the quality/Gopher/keeper chain executes once, not per consumer
    # (persist-backed: releasable at family boundaries, recompute-safe)
    staged = _rank_pin(
        lad.join(F.broadcast(keeper), "component", "left").select(
            "doc_id",
            "lang",
            "nch",
            F.when(F.col("d1"), "1_exact_dup")
            .when(F.col("d2"), "2_low_quality")
            .when(
                F.col("component").isNotNull()
                & (F.col("doc_id") != F.col("keep_id")),
                "3_near_dup",
            )
            .alias("drop_stage"),
        )
    )
    pend = staged.where(F.col("drop_stage").isNull()).select(
        "doc_id", "lang", "nch"
    )
    ranked = grouped_row_number(
        pend.withColumn("kq", F.md5(F.col("doc_id").cast("string"))),
        ["lang"],
        [F.col("kq"), F.col("doc_id")],
        out_col="rk",
    )
    totals = pend.groupBy("lang").agg(F.count("*").alias("nl"))
    labeled = (
        ranked.join(F.broadcast(totals), "lang")
        .withColumn(
            "stage",
            F.when(F.col("rk") <= F.expr("(nl * 8) div 10"), "5_kept").otherwise(
                "4_quota_held_out"
            ),
        )
        .select("doc_id", "lang", "nch", "stage")
    )
    # the kept corpus IS the artifact; the bill's kept row reads it back.
    # Keyed by a full-path hash + PID: CLAUDE.md allows correctness
    # sweeps to overlap, and a basename-only key let two harnesses on
    # the same corpus race the overwrite/read-back and corrupt the bill.
    # The PID key means every process leaves a fresh dir, so cleanup is
    # owned here too: _curated_artifact_dir registers an atexit rm for
    # this PID's dirs and opportunistically sweeps dirs whose owning
    # PID is gone (a kill -9'd harness can't run its own atexit).
    path = _curated_artifact_dir(sf_dir)
    labeled.where(F.col("stage") == "5_kept").select("doc_id").join(
        docs.select("doc_id", "lang", "text"), "doc_id"
    ).write.mode("overwrite").parquet(path)
    art = spark.read.parquet(path)
    kept_bill = art.groupBy(F.lit("5_kept").alias("stage")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(F.length("text").cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_chars"),
    )
    dropped_bill = (
        staged.where(F.col("drop_stage").isNotNull())
        .groupBy(F.col("drop_stage").alias("stage"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nch").cast("bigint").alias("n_chars"),
        )
    )
    quota_bill = (
        labeled.where(F.col("stage") == "4_quota_held_out")
        .groupBy("stage")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nch").cast("bigint").alias("n_chars"),
        )
    )
    return (
        dropped_bill.unionByName(quota_bill)
        .unionByName(kept_bill)
        .orderBy("stage")
    )


@query(
    "docs_stratified_sample",
    oracle=(
        "WITH b AS (SELECT lang, "
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 AS bucket, "
        "CASE WHEN lang = 'en' THEN 250 ELSE 600 END AS rate_permille "
        "FROM documents) "
        "SELECT lang, rate_permille, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(*) FILTER (bucket < rate_permille) AS BIGINT) AS n_kept "
        "FROM b GROUP BY lang, rate_permille ORDER BY lang"
    ),
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus rebalancing (downsample the
    dominant language to 25%, keep 60% of the rest) via the md5-permille
    rule — the reproducible sampler a training pipeline needs (same rows
    every run, independent of partitioning; ``df.sample`` is neither).

    Scale: the keep/drop decision is a map-side CASE + hash filter with
    zero shuffles; only this report's tiny per-language rollup
    aggregates.  The kept-count hash pins the exact sampled row set.
    """
    from duckdb_cluster_hash_spark.operators.sampling import (
        sample_bucket_col,
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(250)).otherwise(F.lit(600))
    kept = stratified_sample(docs, "lang", "doc_id", {"en": 250}, 600)
    totals = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    kept_counts = kept.groupBy("lang").agg(F.count("*").alias("n_kept"))
    return (
        totals.join(kept_counts, "lang", "left")
        .select(
            "lang",
            F.when(F.col("lang") == "en", F.lit(250)).otherwise(F.lit(600)).alias(
                "rate_permille"
            ),
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("lang")
    )


@query(
    "docs_token_shards",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS INTEGER) AS n_tokens, "
        "md5(doc_id::VARCHAR) AS h FROM documents), "
        "c AS (SELECT n_tokens, CAST(sum(n_tokens) OVER "
        "(ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "- n_tokens AS BIGINT) AS cum FROM t) "
        "SELECT cum // 5000 AS shard, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS shard_tokens "
        "FROM c GROUP BY shard ORDER BY shard"
    ),
)
def docs_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding: pack the corpus, in deterministic md5
    order, into ~5000-token training shards.

    The oracle computes the running sum with ONE global window — fine at
    sf0.01, a single-partition sort at 100 TB.  The Spark side is the
    scalable two-level prefix sum (256 parallel bucket windows + a
    broadcast 256-row offset table, operators/sampling.py): identical
    shard ids, no global sort of the corpus anywhere.
    """
    from duckdb_cluster_hash_spark.functions.text import ws_token_count
    from duckdb_cluster_hash_spark.operators.sampling import token_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).alias("n_tokens")
    )
    shards = token_shards(docs, "doc_id", "n_tokens", budget=5000)
    return (
        shards.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
        )
        .orderBy("shard")
    )


@query(
    "docs_pack_sequences",
    oracle=(
        "WITH toks AS (SELECT "
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard, "
        "md5(doc_id::VARCHAR) AS okey, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS tokens "
        "FROM documents), "
        "packed AS (SELECT shard, tokens, "
        "COALESCE(sum(tokens) OVER (PARTITION BY shard ORDER BY okey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before "
        "FROM toks) "
        "SELECT shard::INTEGER AS shard, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(tokens) AS BIGINT) AS total_tokens, "
        "CAST((sum(tokens) + 511) // 512 AS BIGINT) AS n_sequences, "
        "CAST(sum(CASE WHEN tokens > 0 AND cum_before // 512 <> "
        "(cum_before + tokens - 1) // 512 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_straddlers "
        "FROM packed GROUP BY shard ORDER BY shard"
    ),
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (the GPT-style concatenate-and-chunk
    step): documents are concatenated in deterministic md5 order within
    8 md5 shards and cut into fixed 512-token sequences; a document
    whose span crosses a cut is a STRADDLER (it will be split across two
    training sequences).  Per shard: doc/token totals, sequence count
    ceil(total/512), and the straddler count.

    The straddler count is a function of the exact packing ORDER (the
    per-shard ordered prefix sum), so equality with the oracle pins the
    whole concatenation layout, not just totals.  Integer div throughout
    — no doubles anywhere.

    Scale: ONE hash shuffle on shard, then per-shard local sort +
    running sum (window partitioned by shard — never a global sort); at
    100 TB shard count is the parallelism knob and each shard packs
    independently, which is exactly how training-data pipelines shard
    their tokenizer output.
    """
    from pyspark.sql.window import Window

    from duckdb_cluster_hash_spark.functions.text import ws_token_count

    seq_len = 512
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("bigint") % 8
        ).cast("int").alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("okey"),
        ws_token_count(F.col("text")).cast("bigint").alias("tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("okey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "cum_before", F.coalesce(F.sum("tokens").over(w), F.lit(0))
    )
    straddles = (F.col("tokens") > 0) & (
        F.expr(f"cum_before div {seq_len}")
        != F.expr(f"(cum_before + tokens - 1) div {seq_len}")
    )
    return (
        packed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.expr(f"(sum(tokens) + {seq_len - 1}) div {seq_len}").alias(
                "n_sequences"
            ),
            F.sum(straddles.cast("bigint")).alias("n_straddlers"),
        )
        .orderBy("shard")
    )


@query(
    "docs_media_byte_features",
    oracle=(
        "WITH cs AS (SELECT doc_id, "
        "[unicode(c) FOR c IN regexp_extract_all(text, '.')] AS b FROM documents) "
        "SELECT doc_id, CAST(len(b) AS BIGINT) AS payload_len, "
        "CAST(len(list_distinct(b)) AS INTEGER) AS distinct_bytes, "
        "CAST(coalesce(list_sum(b), 0) AS BIGINT) AS byte_sum, "
        "CAST(coalesce(list_min(b), -1) AS INTEGER) AS byte_min, "
        "CAST(coalesce(list_max(b), -1) AS INTEGER) AS byte_max "
        "FROM cs ORDER BY doc_id"
    ),
)
def docs_media_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free multimodal feature extraction: byte histograms of each
    media payload via Arrow-batched numpy (operators/multimodal.py
    media_byte_features) — the screen a real pipeline runs before decode.

    The fake payload is the document's UTF-8 text and the corpus is
    ASCII, so the DuckDB oracle reproduces every integer from code
    points.  Scale: pure map-side mapInPandas, no shuffle; metadata-only
    readers never touch the payload column (parquet column pruning).
    """
    from duckdb_cluster_hash_spark.operators.multimodal import (
        attach_fake_media,
        media_byte_features,
    )

    docs = attach_fake_media(_t(spark, sf_dir, "documents"))
    return media_byte_features(docs).orderBy("doc_id")


@query(
    "docs_eval_contamination",
    oracle=(
        f"WITH {_ot.shingles_cte(3)}, "
        "eval_sh AS (SELECT DISTINCT unnest(sh) AS sh FROM shingled "
        "WHERE doc_id % 97 = 0), "
        "corp AS (SELECT doc_id, unnest(sh) AS sh FROM shingled "
        "WHERE doc_id % 97 <> 0), "
        "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles, "
        "CAST(sum(CASE WHEN sh IN (SELECT sh FROM eval_sh) THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_hit FROM corp GROUP BY doc_id) "
        "SELECT doc_id, n_shingles, n_hit, "
        "CAST((10000 * n_hit) // n_shingles AS BIGINT) AS overlap_bp "
        "FROM agg WHERE (10000 * n_hit) // n_shingles >= 500 ORDER BY doc_id"
    ),
)
def docs_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination screen: for every training document, the
    fraction of its word 3-grams that also appear anywhere in a held-out
    eval set (here the deterministic ``doc_id % 97 == 0`` slice) — the
    n-gram-overlap contamination check every serious pretraining pipeline
    runs before training (the reference has no analog; driver Tier C).

    Scale: the eval side is tiny by construction (benchmarks are KBs, the
    corpus is TBs), so its distinct-shingle set is BROADCAST and the
    corpus side is a map-side hash probe — the only shuffle is the per-doc
    count aggregation, which AQE-coalesces.  No corpus-vs-corpus join
    exists anywhere in the plan.  The overlap ratio is integer basis
    points via floor division (cross-engine exact, no float rounding).
    """
    docs = _t(spark, sf_dir, "documents")
    eval_sh = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(_dd.word_ngrams(F.col("text"), 3)).alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corp = (
        docs.where(F.col("doc_id") % 97 != 0)
        .repartition(F.col("doc_id"))
        .select("doc_id", F.explode(_dd.word_ngrams(F.col("text"), 3)).alias("sh"))
    )
    agg = (
        corp.join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        agg.select(
            "doc_id",
            "n_shingles",
            "n_hit",
            F.floor((F.lit(10000) * F.col("n_hit")) / F.col("n_shingles"))
            .cast("long")
            .alias("overlap_bp"),
        )
        .where(F.col("overlap_bp") >= 500)
        .orderBy("doc_id")
    )


@query(
    "docs_train_val_test_split",
    oracle=(
        "WITH d AS (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 "
        "AS bucket FROM documents), "
        "s AS (SELECT CASE WHEN bucket < 98 THEN 'train' WHEN bucket = 98 THEN 'val' "
        "ELSE 'test' END AS split, "
        "len(string_split(text, ' ')) AS n_tokens, n_chars FROM d) "
        "SELECT split, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM s GROUP BY split ORDER BY split"
    ),
)
def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by md5(doc_id)
    bucket — the standard content-addressed split that stays stable as
    the corpus grows (a new document never reshuffles existing
    assignments, unlike ntile/random splits).  md5 is the one hash both
    engines share bit-identically.

    Scale: pure per-row projection + one partial-aggregated groupBy over
    3 groups; no joins, no windows, no skew (md5 is uniform).
    """
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 98, "train").when(bucket == 98, "val").otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "docs_source_length_drift",
    oracle=(
        "WITH counts AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c "
        "FROM documents GROUP BY source, n_chars), "
        "srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src "
        "FROM documents GROUP BY source), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), "
        "xs AS (SELECT DISTINCT n_chars FROM documents), "
        "grid AS (SELECT s.source, x.n_chars FROM xs x "
        "CROSS JOIN (SELECT source FROM srcs) s), "
        "g AS (SELECT grid.source, grid.n_chars, COALESCE(c.c, 0) AS c "
        "FROM grid LEFT JOIN counts c ON c.source = grid.source "
        "AND c.n_chars = grid.n_chars), "
        "cum AS (SELECT source, n_chars, CAST(sum(c) OVER ("
        "PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum_s FROM g), "
        "alltot AS (SELECT n_chars, CAST(sum(cum_s) AS BIGINT) AS cum_all "
        "FROM cum GROUP BY n_chars), "
        "gaps AS (SELECT cum.source, cum.n_chars, "
        "abs((10000 * cum_s) // n_src - "
        "(10000 * (cum_all - cum_s)) // greatest(1, n - n_src)) AS gap "
        "FROM cum JOIN alltot USING (n_chars) JOIN srcs USING (source) "
        "CROSS JOIN tot), "
        "best AS (SELECT source, max(gap) AS ks_bp FROM gaps GROUP BY source), "
        "arg AS (SELECT g.source, CAST(min(g.n_chars) AS BIGINT) AS "
        "n_chars_at_max FROM gaps g JOIN best b ON b.source = g.source "
        "AND g.gap = b.ks_bp GROUP BY g.source) "
        "SELECT s.source, s.n_src AS n_docs, CAST(b.ks_bp AS BIGINT) AS ks_bp, "
        "a.n_chars_at_max FROM srcs s JOIN best b USING (source) "
        "JOIN arg a USING (source) ORDER BY s.source"
    ),
)
def docs_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift screen: the exact two-sample KS
    statistic (max CDF gap, scaled to basis points by floor division —
    a DEFINED integer statistic, bit-stable cross-engine) between each
    source's document-length distribution and the rest of the corpus,
    plus the length where the gap peaks.  This is the drift monitor a
    training pipeline runs per ingestion batch: a source whose length
    CDF walks away from the corpus (truncation bug, boilerplate
    injection, a crawler that started grabbing nav pages) shows up as a
    jumping ks_bp before any model metric moves.

    The gap is evaluated on the (distinct length) x (source) grid —
    jump points of EITHER sample's CDF, which is where the sup of a
    step-function difference lives.  The grid is built by exploding the
    bounded source list over the distinct lengths (|sources| is a
    catalog-bounded dimension and |lengths| is domain-bounded, so the
    grid stays ~10^5 rows at any corpus scale); 10000*count stays in
    BIGINT up to ~10^14 docs per source.

    Scale: two keyed aggregations over (source, length); one keyed
    window per source (never a global sort); cum_all comes from a keyed
    re-aggregation of the per-source cumulative (no second pass over
    the data); the final rollup is |sources| rows.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    counts = docs.groupBy("source", "n_chars").agg(
        F.count("*").cast("bigint").alias("c")
    )
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_src")
    )
    n_total = docs.count()
    # bounded driver collect: the source dimension (~20 values)
    src_names = sorted(r["source"] for r in per_src.select("source").collect())
    grid = (
        docs.select("n_chars")
        .distinct()
        .select(
            "n_chars",
            F.explode(F.array(*[F.lit(s) for s in src_names])).alias("source"),
        )
    )
    g = grid.join(counts, ["source", "n_chars"], "left").na.fill({"c": 0})
    cum = g.withColumn(
        "cum_s",
        F.sum("c")
        .over(Window.partitionBy("source").orderBy("n_chars"))
        .cast("bigint"),
    )
    cum_all = cum.groupBy("n_chars").agg(
        F.sum("cum_s").cast("bigint").alias("cum_all")
    )
    gaps = (
        cum.join(cum_all, "n_chars")
        .join(F.broadcast(per_src), "source")
        .withColumn(
            # greatest(1, n - n_src) guards the degenerate single-source
            # corpus IDENTICALLY on both engines: Spark div would return
            # NULL on /0 while DuckDB // raises — with the guard, the
            # rest-of-corpus term is 0/1 = 0 and both engines agree.
            "gap",
            F.expr(
                "abs((10000 * cum_s) div n_src - "
                f"(10000 * (cum_all - cum_s)) div greatest(1, {n_total} - n_src))"
            ),
        )
    )
    best = gaps.groupBy("source").agg(
        F.max(
            F.struct(F.col("gap"), (F.lit(0) - F.col("n_chars")).alias("negx"))
        ).alias("m")
    )
    return (
        best.join(F.broadcast(per_src), "source")
        .select(
            "source",
            F.col("n_src").alias("n_docs"),
            F.col("m.gap").cast("bigint").alias("ks_bp"),
            (F.lit(0) - F.col("m.negx")).cast("bigint").alias("n_chars_at_max"),
        )
        .orderBy("source")
    )


@query(
    "docs_source_novelty_attribution",
    oracle=(
        f"WITH {_ot.shingles_cte(3)}, "
        "sh AS (SELECT d.source, s.doc_id, md5(unnest(s.sh)) AS dig, "
        "md5(CAST(s.doc_id AS VARCHAR)) AS k FROM shingled s "
        "JOIN documents d ON d.doc_id = s.doc_id), "
        "own AS (SELECT dig, arg_min(source, k) AS first_source "
        "FROM sh GROUP BY dig), "
        "nov AS (SELECT first_source AS source, CAST(count(*) AS BIGINT) AS "
        "n_first FROM own GROUP BY first_source), "
        "dis AS (SELECT source, CAST(count(DISTINCT dig) AS BIGINT) AS "
        "n_distinct FROM sh GROUP BY source), "
        "srcs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs "
        "FROM documents GROUP BY source) "
        "SELECT s.source, s.n_docs, d.n_distinct AS n_distinct_shingles, "
        "COALESCE(n.n_first, 0) AS n_first_shingles, "
        "CAST((1000 * COALESCE(n.n_first, 0)) // d.n_distinct AS BIGINT) AS "
        "novelty_permille FROM srcs s JOIN dis d USING (source) "
        "LEFT JOIN nov n USING (source) ORDER BY s.source"
    ),
)
def docs_source_novelty_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty attribution per source — the greedy
    data-valuation signal a mixture tuner reads before paying for a
    source: replay the corpus in a deterministic content-addressed
    ingestion order (md5(doc_id) — reproducible on any engine and
    stable under re-partitioning) and credit each distinct 3-shingle to
    the source of the document where it FIRST appears.  A source whose
    novelty_permille is near zero duplicates content the corpus already
    has (crawl mirror, syndication); a high one contributes genuinely
    new text.

    Scale: shingles shuffle as 32-byte md5 digests, never text; the
    first-owner resolution is ONE keyed aggregation (min_by over the
    unique md5 order key, so no window and no ties); per-source
    distinct counts are a keyed count-distinct; final rollup is
    |sources| rows.  Integer permille keeps the ratio bit-stable.
    """
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "source",
        F.explode(_dd.word_ngrams(F.col("text"), 3)).alias("shingle"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    ).select("source", F.md5("shingle").alias("dig"), "k")
    own = sh.groupBy("dig").agg(F.min_by("source", "k").alias("first_source"))
    nov = own.groupBy("first_source").agg(
        F.count("*").cast("bigint").alias("n_first")
    )
    dis = sh.groupBy("source").agg(
        F.countDistinct("dig").cast("bigint").alias("n_distinct")
    )
    srcs = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        srcs.join(dis, "source")
        .join(nov.withColumnRenamed("first_source", "source"), "source", "left")
        .na.fill({"n_first": 0})
        .selectExpr(
            "source",
            "n_docs",
            "n_distinct AS n_distinct_shingles",
            "n_first AS n_first_shingles",
            "CAST((1000 * n_first) div n_distinct AS BIGINT) AS novelty_permille",
        )
        .orderBy("source")
    )


@query(
    "docs_stratified_quota_split",
    oracle=(
        "WITH r AS (SELECT doc_id, lang, "
        "row_number() OVER (PARTITION BY lang "
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk, "
        "count(*) OVER (PARTITION BY lang) AS n FROM documents), "
        "s AS (SELECT lang, doc_id, "
        "CASE WHEN rk <= (n * 8) // 10 THEN 'train' "
        "WHEN rk <= (n * 9) // 10 THEN 'val' ELSE 'test' END AS split "
        "FROM r) "
        "SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(doc_id) AS BIGINT) AS sum_doc_id, "
        "CAST(min(doc_id) AS BIGINT) AS min_doc_id, "
        "CAST(max(doc_id) AS BIGINT) AS max_doc_id "
        "FROM s GROUP BY lang, split ORDER BY lang, split"
    ),
)
def docs_stratified_quota_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-QUOTA stratified 80/10/10 split: within every language
    stratum, documents are ordered by md5(doc_id) (content-addressed,
    reproducible shuffle order) and the first floor(0.8n) ranks go to
    train, ranks through floor(0.9n) to val, the rest to test — so each
    stratum's proportions hold to the row, unlike the hash-bucket split
    (docs_train_val_test_split), whose per-stratum proportions are only
    binomially approximate and can starve a rare language's dev set.
    Output grades exact membership per (stratum, split): count, sum,
    min, max of doc_id — a wrong rank anywhere flips sum_doc_id.

    Scale: the per-stratum rank uses ranking.grouped_row_number — the
    two-level range-partition pattern keyed by (lang, md5) — so a hot
    stratum (one language = 60% of a 100 TB corpus) never becomes one
    reducer's sort; per-stratum totals are a broadcast |strata|-row
    table, split assignment is a pure expression, and the final rollup
    is a map-side-combining groupBy over |strata| x 3 groups.
    """
    from duckdb_cluster_hash_spark.operators.ranking import grouped_row_number

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    ranked = grouped_row_number(
        docs.withColumn("k", F.md5(F.col("doc_id").cast("string"))),
        ["lang"],
        [F.col("k"), F.col("doc_id")],
        out_col="rk",
    )
    totals = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"))
    split = (
        F.when(F.col("rk") <= F.expr("(n * 8) div 10"), "train")
        .when(F.col("rk") <= F.expr("(n * 9) div 10"), "val")
        .otherwise("test")
    )
    return (
        ranked.join(F.broadcast(totals), "lang")
        .select("lang", split.alias("split"), "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .orderBy("lang", "split")
    )


@query("docs_repetition_quality", oracle=_ot.repetition_quality_sql())
def docs_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    top-token share and duplicate-2-gram fraction in integer basis
    points — the screens that reject boilerplate/spam before training.

    Scale: two (doc_id, token)-keyed aggregations with map-side combine;
    the doc_id⋈doc_id join of the two aggregate branches is
    co-partitioned by the groupBy shuffles.  No cross-document joins.
    """
    docs = _t(spark, sf_dir, "documents")
    return _tx.repetition_stats(docs, "doc_id", "text").orderBy("doc_id")


@query("docs_tfidf_top_terms", oracle=_ot.tfidf_top_terms_sql(3, "source"))
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most characteristic terms per source by integer TF-IDF
    ((tf * n_docs) // df — exact arithmetic, no log, so both engines
    rank identically; ties break on the term).

    Scale: tf and df are partial-aggregated counts; tf⋈df joins on the
    term key (hash join — vocabulary grows with the corpus, so no
    broadcast); the rank window runs over |groups|·|vocab| aggregated
    rows.  The corpus row count comes from parquet metadata (count-star
    pushdown), not a data scan.
    """
    docs = _t(spark, sf_dir, "documents")
    return _tx.tfidf_top_terms(docs, "doc_id", "text", "source", 3).orderBy(
        "grp", "rank"
    )


@query(
    "docs_mixture_epochs",
    oracle=(
        "WITH rated AS (SELECT doc_id, source, "
        "('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 AS bucket, "
        "CASE WHEN source = 'src0' THEN 2500 WHEN source = 'src1' THEN 1300 "
        "WHEN source = 'src2' THEN 300 ELSE 1000 END AS millis FROM documents), "
        "copies AS (SELECT doc_id, source, millis // 1000 "
        "+ CASE WHEN bucket < millis % 1000 THEN 1 ELSE 0 END AS n_copies "
        "FROM rated), "
        "expanded AS (SELECT doc_id, source, unnest(range(n_copies)) AS copy_idx "
        "FROM copies WHERE n_copies > 0) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "CAST(max(copy_idx) AS BIGINT) AS max_copy_idx "
        "FROM expanded GROUP BY source ORDER BY source"
    ),
)
def docs_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture upsampling (the other half of docs_stratified_sample):
    replicate src0 2.5 epochs, src1 1.3, downweight src2 to 0.3, leave
    the rest at 1.0 — fractional epochs resolved per-document by the
    deterministic md5-permille bucket, so both engines expand the
    identical multiset.

    Scale: pure map-side — rate lookup is a CASE chain, replication is
    explode(sequence()) on the scan; no shuffle, no join.  Only this
    report's per-source rollup aggregates.
    """
    from duckdb_cluster_hash_spark.operators.sampling import mixture_epochs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = mixture_epochs(
        docs, "source", "doc_id", {"src0": 2500, "src1": 1300, "src2": 300}, 1000
    )
    return (
        out.groupBy("source")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("copy_idx").cast("bigint").alias("max_copy_idx"),
        )
        .orderBy("source")
    )


@query(
    "docs_media_frame_sample",
    oracle=(
        "WITH m AS (SELECT doc_id, octet_length(encode(text)) AS L, "
        "(1 + doc_id % 8) AS n FROM documents) "
        "SELECT doc_id, CAST((n + 1) // 2 AS BIGINT) AS n_frames_sampled, "
        "CAST(list_sum([GREATEST((L - i + n - 1) // n, 0) "
        "FOR i IN range(0, n, 2)]) AS BIGINT) AS frame_bytes_total "
        "FROM m ORDER BY doc_id"
    ),
)
def docs_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over (fake) video media: explode every 2nd frame of
    each document's media payload to (doc_id, frame_idx, frame_bytes)
    via vectorized mapInPandas (multimodal.sample_frames), then roll up
    per-doc sampled-frame counts and byte totals.

    The fake container interleaves n_frames round-robin over the payload
    (frame i = payload[i::n]), so the oracle recomputes each sampled
    frame's length as ceil((L - i)/n) from the header arithmetic alone —
    grading both the explode shape and the slicing.  Scale: map-side
    explode (no shuffle until the rollup); a real codec slots into the
    same mapInPandas seam with the identical output contract.
    """
    docs = _t(spark, sf_dir, "documents")
    frames = _mm.sample_frames(_mm.attach_fake_media(docs), every_k=2)
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames_sampled"),
            F.sum(F.length("frame_bytes")).alias("frame_bytes_total"),
        )
        .orderBy("doc_id")
    )


_BM25_TERMS = ("spark", "hash", "window")


@query(
    "docs_bm25_search",
    oracle=None,  # set below — built by the operator's own SQL twin
)
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search over the corpus: integer-BM25 top-10 for the query
    ``spark hash window`` (C6 + the retrieval half of a RAG pipeline).
    See functions.text.bm25_topk for the engine-portable integer scoring.

    Scale: tokens are filtered to the query vocabulary inside the token
    array before explode (per-query hits, not corpus tokens, hit the
    shuffle); the per-term df table is <= |query| rows and broadcast;
    top-k plans as TakeOrderedAndProject.
    """
    from duckdb_cluster_hash_spark.functions.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=10)


ORACLES["docs_bm25_search"] = bm25_topk_sql(
    "documents", "doc_id", "text", _BM25_TERMS, k=10
)


@query("docs_bigram_collocations", oracle=None)
def docs_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word-bigram collocations by integer lift (PMI's argument
    in milli-units) with a min-count floor — the phrase-mining /
    tokenizer-vocabulary signal every corpus report wants (C6).

    Scale: bigram pairs come map-side off each token array (no
    self-join); unigram joins are keyed equi-joins with the
    broadcast-vs-shuffle choice left to Catalyst's size estimate (the
    vocabulary outgrows the threshold at corpus scale); the bigram total
    is a one-pass per-doc length sum, not a second scan of the pair
    table.
    """
    from duckdb_cluster_hash_spark.functions.text import bigram_lift_top

    docs = _t(spark, sf_dir, "documents")
    return bigram_lift_top(docs, "doc_id", "text", k=20, min_count=5)


ORACLES["docs_bigram_collocations"] = bigram_lift_top_sql(
    "documents", "doc_id", "text", k=20, min_count=5
)


@query(
    "docs_token_heavy_hitters",
    oracle=(
        "WITH w AS (SELECT doc_id % 8 AS shard, "
        "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w "
        "FROM documents), "
        "c AS (SELECT shard, w, CAST(count(*) AS BIGINT) AS n FROM w "
        "GROUP BY shard, w), "
        "r AS (SELECT shard, w, n, row_number() OVER "
        "(PARTITION BY shard ORDER BY n DESC, w) AS rk FROM c) "
        "SELECT w, CAST(sum(n) AS BIGINT) AS merged_count, "
        "CAST(count(*) AS BIGINT) AS n_shards_present "
        "FROM r WHERE rk <= 64 GROUP BY w "
        "ORDER BY merged_count DESC, w LIMIT 20"
    ),
)
def docs_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via mergeable per-shard summaries: each of 8
    deterministic shards (doc_id mod 8) keeps only its local top-64
    token counters; the merged sums are LOWER bounds on true counts,
    and any token in every shard's summary has its exact global count —
    the SpaceSaving/Misra-Gries communication pattern, deterministic so
    both engines agree bit-for-bit.

    Scale: this is the shape that survives 100 TB — the merge shuffle
    carries at most shards x 64 counter rows no matter how large the
    corpus or vocabulary gets (vs docs_token_top20's full-vocabulary
    aggregation), the per-shard truncation happens right after the
    shard-local partial aggregation, and the summary size is the knob
    trading recall threshold for bandwidth.
    """
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    counts = (
        docs.select(
            (F.col("doc_id") % 8).alias("shard"),
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w"),
        )
        .groupBy("shard", "w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("shard").orderBy(F.desc("n"), F.asc("w"))
    )
    return (
        counts.withColumn("rk", rk)
        .where(F.col("rk") <= 64)
        .groupBy("w")
        .agg(
            F.sum("n").cast("bigint").alias("merged_count"),
            F.count("*").cast("bigint").alias("n_shards_present"),
        )
        .orderBy(F.desc("merged_count"), F.asc("w"))
        .limit(20)
    )


@query(
    "docs_bpe_first_merges",
    oracle=(
        "WITH w AS (SELECT unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS w FROM documents), "
        "wi AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i "
        "FROM w WHERE len(w) >= 2), "
        "p AS (SELECT substr(w, i, 2) AS pair FROM wi) "
        "SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p "
        "GROUP BY pair ORDER BY n DESC, pair LIMIT 10"
    ),
)
def docs_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training (Sennrich et al.
    2016): the most frequent adjacent symbol pairs over the corpus at
    the character level — the merge candidates a byte-pair-encoding
    vocabulary build starts from.  (Full BPE iterates driver-side,
    re-counting after each merge; the per-iteration count is this exact
    distributed job, so this grades the building block.)

    Scale: pairs come map-side from each word via
    ``transform(sequence(...), i -> substring(w, i, 2))`` — no join, no
    per-character explode (one row per PAIR, same as BPE needs); the
    count is a keyed partial aggregation over a domain bounded by
    |alphabet|^2, and top-10 plans as TakeOrderedAndProject.
    """
    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w")
    ).where(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(10)
    )


def _bpe_training_oracle_sql(k: int = 16) -> str:
    """Unrolled-CTE DuckDB oracle for the full BPE training loop — one
    (pair-count, argmax, merge-apply) CTE triple per iteration, same
    convention as ``_pagerank_oracle_sql``: equality pins the WHOLE
    merge trajectory, not just the final table.  ``MATERIALIZED`` is
    load-bearing: each ``v{i}`` is referenced twice (pair count + next
    merge), and DuckDB's default CTE inlining would otherwise expand
    the chain exponentially (2^k corpus scans).
    """
    sql = (
        "WITH wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f "
        "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) "
        "AS w FROM documents) WHERE len(w) >= 2 GROUP BY w), "
        "v0 AS MATERIALIZED (SELECT '  ' || "
        "regexp_replace(w, '(.)', '\\1  ', 'g') AS s, f FROM wf)"
    )
    for i in range(1, k + 1):
        sql += (
            f", x{i} AS (SELECT t, f, "
            "unnest(generate_series(1, len(t) - 1)) AS i "
            f"FROM (SELECT string_split(trim(s), '  ') AS t, f FROM v{i-1}) "
            "WHERE len(t) >= 2)"
            f", p{i} AS (SELECT t[i] AS lhs, t[i+1] AS rhs, "
            f"CAST(sum(f) AS BIGINT) AS n FROM x{i} GROUP BY lhs, rhs)"
            f", b{i} AS MATERIALIZED (SELECT lhs, rhs, n FROM p{i} "
            "ORDER BY n DESC, lhs, rhs LIMIT 1)"
            f", v{i} AS MATERIALIZED (SELECT "
            "replace(s, ' ' || lhs || '  ' || rhs || ' ', "
            f"' ' || lhs || rhs || ' ') AS s, f FROM v{i-1} CROSS JOIN b{i})"
        )
    sql += " SELECT * FROM (" + " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS it, lhs, rhs, lhs || rhs AS merged, "
        f"n FROM b{i}"
        for i in range(1, k + 1)
    ) + ") ORDER BY it"
    return sql


def bpe_encode_word(w: str) -> str:
    """Double-space symbol encoding of a word (``"hey"`` ->
    ``"  h  e  y  "``) — the Python twin of the SQL
    ``concat('  ', regexp_replace(w, '(.)', '$1  '))`` used by the
    training loop, exported so tests can pin the encoding itself."""
    return "  " + "".join(c + "  " for c in w)


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """One BPE training iteration's weighted pair-count subtree over the
    double-space-encoded vocab ``(s, f)``: split back to symbols,
    explode adjacent pairs map-side (transform over sequence — no join,
    no Python), and partially aggregate ``sum(f)`` per (lhs, rhs).
    Module-level so tests/test_plans.py can gate the per-iteration plan
    (the query's returned DataFrame is a driver-side createDataFrame,
    which hides this subtree from blanket plan sweeps)."""
    toks = vocab.select(
        F.expr("split(trim(s), '  ')").alias("t"), "f"
    ).where(F.size("t") >= 2)
    pairs = toks.select(
        F.expr(
            "explode(transform(sequence(1, size(t) - 1), "
            "i -> struct(element_at(t, i) AS lhs, "
            "element_at(t, i + 1) AS rhs)))"
        ).alias("p"),
        "f",
    )
    return pairs.groupBy(
        F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs")
    ).agg(F.sum("f").cast("bigint").alias("n"))


_BPE_PARTIAL_SCHEMA = "lhs string, rhs string, n long"

# Adaptive trainer cutover (see bpe_train_merges): vocabs that probe at or
# under this many DISTINCT WORDS train on the driver (one limit-capped
# collect, zero per-iteration jobs); above it the distributed Arrow loop
# runs.  8192 encoded words x ~16 symbols x k=16 iterations is ~2M driver
# Counter ops (well under a second) — the cap bounds driver work by
# construction, never by data size.
# Measured (sf0.1, start_session() on local[4], memos cleared before
# each run, warm median of 3, jobs per job group, outputs equal):
# driver side vs cap 0 — docs_bpe_training_loop 1.17 s / 6 jobs vs
# 4.61 s / 22 jobs, docs_bpe_encode 0.87 s / 8 jobs vs 4.66 s / 24 jobs.
# The driver side stays at sf0.1; the 3x / 10x sizes are not measured.
_BPE_DRIVER_CAP = 8192


def bpe_partial_pair_counts(vocab: DataFrame) -> DataFrame:
    """PER-PARTITION (map-side only) weighted pair counts over the
    double-space-encoded vocab ``(s, f)`` — the BPE trainer's
    per-iteration subtree, with NO exchange: each Arrow batch counts
    its own adjacent pairs into at most |active symbols|^2 rows
    (symbols are the 26 letters plus one per learned merge, so <=
    (26+k)^2 = 1764 at k=16 — a domain bound, independent of corpus
    and vocab size), and the driver finishes the sum.

    This replaces the shuffled groupBy+TakeOrdered argmax the trainer
    used through round 13: under AQE that was 2 jobs per iteration
    (shuffle-map stage + result stage), and the trainer's contended
    bench wall tracked the 32 serialized driver round-trips rather
    than any data work (r13 verdict item 4).  A map-only collect is 1
    job per iteration with no exchange at all, and moving the <= 1764
    x n_partitions-row final combine to the driver is the same
    sanctioned shape as the 1-row argmax it replaces — bounded by the
    symbol domain, never by data.
    """
    import pandas as _pd

    def count_batches(batches):
        from collections import Counter

        for pdf in batches:
            c: Counter = Counter()
            for s, f in zip(pdf["s"], pdf["f"]):
                t = s.strip().split("  ")
                if len(t) >= 2:
                    fi = int(f)
                    for pair in zip(t, t[1:]):
                        c[pair] += fi
            if c:
                ks = list(c)
                yield _pd.DataFrame(
                    {
                        "lhs": [p[0] for p in ks],
                        "rhs": [p[1] for p in ks],
                        "n": _pd.Series([c[p] for p in ks], dtype="int64"),
                    }
                )

    return vocab.mapInPandas(count_batches, _BPE_PARTIAL_SCHEMA)


def bpe_merge_apply(vocab: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Apply one merge (lhs, rhs) to the encoded vocab via the
    double-space ``replace`` — map-side, no shuffle.  Symbols are
    ``[a-z]+`` only, so the literal replace needs no escaping."""
    return vocab.select(
        F.replace(
            F.col("s"), F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        ).alias("s"),
        "f",
    )


@query("docs_bpe_training_loop", oracle=_bpe_training_oracle_sql())
def docs_bpe_training_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE tokenizer training loop (Sennrich et al. 2016) —
    16 iterated merges over the corpus word-frequency dictionary, each
    iteration counting weighted adjacent symbol pairs, picking the
    argmax (ties: lexicographic on the pair), and applying the merge
    back to every word before the next count.  Extends
    ``docs_bpe_first_merges`` (the single-iteration building block) to
    the real trainer every tokenizer-bound pipeline runs.

    Greedy merge application is expressed as a plain string
    ``replace``: words are carried as double-space-separated symbol
    strings (``"  h  e  y  "``) and merging (a, b) replaces
    ``" a  b "`` with ``" ab "``.  Because each match consumes only the
    INNER space of each flanking double separator, adjacent
    occurrences keep their boundary space and left-to-right
    non-overlapping ``replace`` is EXACTLY the greedy BPE scan — the
    single-space encoding diverges on runs like ``a a a a`` (merges
    1&3 instead of 1&2, 3&4), which is why the doubled separator is
    load-bearing.  Property-tested against an independent reference
    merger (tests/test_text.py::test_bpe_encoding_is_greedy_merge,
    hypothesis-generated words incl. runs), with the engines'
    ``replace`` pinned to Python ``str.replace`` semantics on both
    Spark and DuckDB (…replace_semantics_match_engines) and the whole
    trainer cross-checked against an independent Python BPE trainer
    (…training_loop_matches_reference_trainer); the oracle pins the
    full 16-step trajectory via unrolled CTEs.

    Scale (how distributed BPE trainers actually work): the corpus is
    touched ONCE — the loop state is the distinct-word frequency table
    (vocab-bounded, millions of rows at 100 TB, never documents); each
    iteration is ONE map-only job — Arrow per-partition pair counts
    over a domain bounded by |symbols|^2, driver-side final combine +
    argmax (``bpe_partial_pair_counts``; no exchange, so no AQE
    two-job split) — and a map-side string replace.  Only the initial
    vocab is localCheckpoint'd; each merge extends the plan by one
    literal replace projection (bounded lineage, k = 16, no
    per-iteration materialization — see ``bpe_train_merges``).
    """
    docs = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    merges = bpe_train_merges(wf, k=16)
    return spark.createDataFrame(
        merges, "it bigint, lhs string, rhs string, merged string, n bigint"
    ).orderBy("it")


def bpe_train_merges(
    wf: DataFrame, k: int = 16
) -> list[tuple[int, str, str, str, int]]:
    """Run the iterated BPE trainer over a word-frequency table
    ``(w, f)`` and return the merge trajectory
    ``[(it, lhs, rhs, merged, n), ...]`` — the loop body shared by
    ``docs_bpe_training_loop`` (full corpus) and ``docs_bpe_encode``
    (train split).  One map-only job per iteration (Arrow partial
    pair counts + driver combine — bpe_partial_pair_counts), k jobs
    total; through round 13 this was 2 jobs/iteration (AQE shuffle
    stage + TakeOrdered result stage) and the trainer's contended
    bench wall was driver-round-trip-bound (r13 verdict item 4).

    Only the INITIAL vocab is localCheckpoint'd (the corpus is scanned
    once); each learned merge extends the plan by one literal
    ``replace`` projection, so iteration i recomputes i chained
    replaces over the vocab-bounded table — O(k^2) cheap map work
    total, bounded lineage (k = 16), and ZERO per-iteration
    materialization jobs or storage blocks.  A per-iteration
    checkpoint variant measured ~2x slower cold (16 extra jobs) and
    leaks 16 blocks per run into executor storage until GC.

    History (round 8 standalone stamp, sf0.1, local[32]): the shuffled
    argmax ran 10.5s cold / 3.5-4.3s warm, and under 8-way FAIR
    contention its wall tracked the 32 serialized round-trips (each
    collect waits on the FAIR queue), not compute — which is what the
    round-14 map-only rewrite halves: k jobs instead of 2k, no
    shuffle, no sort, trajectory bit-identical (pinned by
    tests/test_text.py::test_bpe_training_loop_matches_reference_trainer,
    which drives THIS function).

    Adaptive driver cutover (r14, same pattern as the components
    operator's small-graph path): when the encoded vocab probes at or
    under _BPE_DRIVER_CAP rows (one limit-capped collect over the
    checkpointed table — bounded by the cap, never by data), the k
    iterations run in pure Python on the driver as a LITERAL
    transcription of the distributed loop body — the same
    strip/split-on-double-space pair count (bpe_partial_pair_counts'
    kernel), the same (-n, pair) argmax, the same doubled-separator
    str.replace merge (engine replace semantics are pinned to Python
    str.replace by tests/test_text.py::
    test_bpe_replace_semantics_match_engines) — so the
    trajectory is bit-identical while the 16 per-iteration Python-worker
    jobs (measured ~0.24s apiece of pure task/Arrow spin-up over a
    30-row sf0.1 vocab) collapse to zero.  Above the cap the
    distributed loop below runs unchanged."""
    from collections import Counter

    vocab = wf.select(
        F.expr("concat('  ', regexp_replace(w, '(.)', '$1  '))").alias("s"),
        "f",
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, str, int]] = []
    probe = vocab.limit(_BPE_DRIVER_CAP + 1).collect()
    if len(probe) <= _BPE_DRIVER_CAP:
        vocab_l = [(r.s, int(r.f)) for r in probe]
        for it in range(1, k + 1):
            agg_d: Counter = Counter()
            for s_, f_ in vocab_l:
                t = s_.strip().split("  ")
                if len(t) >= 2:
                    for pair in zip(t, t[1:]):
                        agg_d[pair] += f_
            if not agg_d:
                break
            (lhs, rhs), n = min(agg_d.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((it, lhs, rhs, lhs + rhs, int(n)))
            vocab_l = [
                (s_.replace(f" {lhs}  {rhs} ", f" {lhs}{rhs} "), f_)
                for s_, f_ in vocab_l
            ]
        return merges
    for it in range(1, k + 1):
        # ONE map-only job per iteration (no exchange, so no AQE
        # stage-split into a second job): per-partition Arrow partial
        # counts, final <= (26+k)^2 x n_partitions-row combine on the
        # driver — see bpe_partial_pair_counts for the bound and the
        # round-trip accounting vs the shuffled argmax it replaced
        agg: Counter = Counter()
        for r in bpe_partial_pair_counts(vocab).collect():
            agg[(r.lhs, r.rhs)] += int(r.n)
        if not agg:  # corpus fully merged before k iterations — both
            break  # engines emit the same shorter trajectory
        # argmax, ties lexicographic on (lhs, rhs) — symbols are
        # [a-z]+ only, so Python tuple order == both engines' ASC
        (lhs, rhs), n = min(agg.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((it, lhs, rhs, lhs + rhs, int(n)))
        vocab = bpe_merge_apply(vocab, lhs, rhs)
    return merges


def _bpe_encode_oracle_sql(k: int = 16) -> str:
    """Oracle for train->apply closure: the trainer's unrolled CTE
    chain on the 90% train split (doc_id % 10 != 0), then the learned
    merge table applied IN ORDER to the held-out 10% via the same
    doubled-separator replace, one apply CTE per merge."""
    sql = (
        "WITH wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f "
        "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) "
        "AS w FROM documents WHERE doc_id % 10 != 0) "
        "WHERE len(w) >= 2 GROUP BY w), "
        "v0 AS MATERIALIZED (SELECT '  ' || "
        "regexp_replace(w, '(.)', '\\1  ', 'g') AS s, f FROM wf)"
    )
    for i in range(1, k + 1):
        sql += (
            f", x{i} AS (SELECT t, f, "
            "unnest(generate_series(1, len(t) - 1)) AS i "
            f"FROM (SELECT string_split(trim(s), '  ') AS t, f FROM v{i-1}) "
            "WHERE len(t) >= 2)"
            f", p{i} AS (SELECT t[i] AS lhs, t[i+1] AS rhs, "
            f"CAST(sum(f) AS BIGINT) AS n FROM x{i} GROUP BY lhs, rhs)"
            f", b{i} AS MATERIALIZED (SELECT lhs, rhs FROM p{i} "
            "ORDER BY n DESC, lhs, rhs LIMIT 1)"
            f", v{i} AS MATERIALIZED (SELECT "
            "replace(s, ' ' || lhs || '  ' || rhs || ' ', "
            f"' ' || lhs || rhs || ' ') AS s, f FROM v{i-1} CROSS JOIN b{i})"
        )
    sql += (
        ", h0 AS (SELECT doc_id, source, w, '  ' || "
        "regexp_replace(w, '(.)', '\\1  ', 'g') AS s FROM "
        "(SELECT doc_id, source, "
        "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w "
        "FROM documents WHERE doc_id % 10 = 0))"
    )
    for i in range(1, k + 1):
        # LEFT JOIN ON TRUE, not CROSS JOIN: if training exhausts all
        # pairs before k merges, b{i} is EMPTY from that point on — a
        # cross join would empty the whole apply chain (0 output rows)
        # while the Spark side simply applies the shorter merge list.
        # With the left join an empty b{i} leaves s unchanged, matching
        # the engine's shorter-trajectory behavior exactly.
        sql += (
            f", h{i} AS (SELECT doc_id, source, w, "
            "CASE WHEN lhs IS NULL THEN s ELSE "
            "replace(s, ' ' || lhs || '  ' || rhs || ' ', "
            f"' ' || lhs || rhs || ' ') END AS s "
            f"FROM h{i-1} LEFT JOIN b{i} ON TRUE)"
        )
    sql += (
        f" SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(len(w)) AS BIGINT) AS base_symbols, "
        "CAST(sum(len(string_split(trim(s), '  '))) AS BIGINT) AS bpe_tokens "
        f"FROM h{k} GROUP BY source ORDER BY source"
    )
    return sql


@query("docs_bpe_encode", oracle=_bpe_encode_oracle_sql())
def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round-trip closure (train -> APPLY): train the
    16-merge BPE table on the 90% split (doc_id % 10 != 0) with the
    shared ``bpe_train_merges`` loop, then encode the HELD-OUT 10%
    with the learned table applied in merge order, grading per-source
    word/symbol/token sums.  Completes the tokenizer family: the
    trainer query pins the merge trajectory, this one pins what those
    merges DO to unseen text.

    Scale: the apply side is a single map-side pass — the 16 learned
    merges are driver-collected (1 row each, the sanctioned iterative-
    trainer shape) and compiled into one chained ``replace`` expression
    evaluated inside whole-stage codegen; no join, no shuffle except
    the final per-source aggregation.  The encoding invariant
    (doubled separators) makes each chained replace exactly one greedy
    merge pass, so Spark's nested-replace expression and the oracle's
    16 CTE steps compute identical strings.
    """
    docs = _t(spark, sf_dir, "documents")
    train_wf = (
        docs.where(F.col("doc_id") % 10 != 0)
        .select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    merges = bpe_train_merges(train_wf, k=16)
    held = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    enc = F.expr("concat('  ', regexp_replace(w, '(.)', '$1  '))")
    for _, lhs, rhs, _, _ in merges:
        enc = F.replace(enc, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} "))
    return (
        held.select(
            "doc_id",
            "source",
            F.length("w").cast("bigint").alias("base"),
            F.size(F.split(F.trim(enc), "  ")).cast("bigint").alias("toks"),
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("base").cast("bigint").alias("base_symbols"),
            F.sum("toks").cast("bigint").alias("bpe_tokens"),
        )
        .orderBy("source")
    )


@query(
    "docs_quality_constraints",
    oracle=(
        "WITH a AS (SELECT CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) "
        "AS dup_ids, "
        "CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS null_text, "
        "CAST(sum(CASE WHEN n_chars != strlen(text) THEN 1 ELSE 0 END) AS BIGINT) "
        "AS bad_n_chars, "
        "CAST(sum(CASE WHEN lang IS NULL OR len(lang) != 2 THEN 1 ELSE 0 END) "
        "AS BIGINT) AS bad_lang FROM documents) "
        "SELECT v.name AS check_name, "
        "CASE v.name WHEN 'doc_id_unique' THEN dup_ids "
        "WHEN 'text_not_null' THEN null_text "
        "WHEN 'n_chars_consistent' THEN bad_n_chars "
        "ELSE bad_lang END AS n_violations, "
        "(CASE v.name WHEN 'doc_id_unique' THEN dup_ids "
        "WHEN 'text_not_null' THEN null_text "
        "WHEN 'n_chars_consistent' THEN bad_n_chars "
        "ELSE bad_lang END = 0) AS ok "
        "FROM a CROSS JOIN (VALUES ('doc_id_unique'), ('text_not_null'), "
        "('n_chars_consistent'), ('lang_wellformed')) AS v(name) "
        "ORDER BY check_name"
    ),
)
def docs_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint audit (the dbt-test /
    expectation-suite shape every ingestion gate runs): uniqueness of
    the key, non-null payloads, metadata consistency (n_chars ==
    length(text)), and lang well-formedness — one row per check with
    its violation count and verdict.

    Scale: ALL checks ride one pass over the corpus (a single partial
    aggregation computes every violation counter; the distinct-key
    check is the only expand), then a 4-row stack unpivot of the 1-row
    rollup (waived SinglePartition, same shape as the funnel).
    """
    docs = _t(spark, sf_dir, "documents")
    agg = docs.agg(
        (F.count("*") - F.countDistinct("doc_id"))
        .cast("bigint")
        .alias("dup_ids"),
        F.sum(F.col("text").isNull().cast("bigint"))
        .cast("bigint")
        .alias("null_text"),
        # byte-length on BOTH engines (octet_length == strlen): char
        # semantics diverge three ways (UTF-16 units / graphemes / code
        # points) on exotic text, bytes never do
        F.sum((F.col("n_chars") != F.octet_length("text")).cast("bigint"))
        .cast("bigint")
        .alias("bad_n_chars"),
        F.sum(
            (F.col("lang").isNull() | (F.length("lang") != 2)).cast("bigint")
        )
        .cast("bigint")
        .alias("bad_lang"),
    )
    return (
        agg.select(
            F.expr(
                "stack(4, 'doc_id_unique', dup_ids, 'text_not_null', "
                "null_text, 'n_chars_consistent', bad_n_chars, "
                "'lang_wellformed', bad_lang) AS (check_name, n_violations)"
            )
        )
        .select(
            "check_name",
            "n_violations",
            (F.col("n_violations") == 0).alias("ok"),
        )
        .orderBy("check_name")
    )


@query(
    "docs_vocab_growth_curve",
    oracle=(
        "WITH d AS (SELECT ("
        "CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 2)) AS INTEGER) * 4"
        ") // 256 AS bucket, regexp_extract_all(lower(text), '[a-z]+') AS toks "
        "FROM documents), "
        "tok AS (SELECT bucket, unnest(toks) AS w FROM d), "
        "firstb AS (SELECT w, min(bucket) AS min_bucket FROM tok GROUP BY w), "
        "nv AS (SELECT min_bucket AS bucket, CAST(count(*) AS BIGINT) AS "
        "new_vocab FROM firstb GROUP BY min_bucket), "
        "nt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens "
        "FROM tok GROUP BY bucket), "
        "q AS (SELECT g.b AS bucket FROM (VALUES (0), (1), (2), (3)) g(b)) "
        "SELECT CAST((q.bucket + 1) * 25 AS INTEGER) AS checkpoint_pct, "
        "CAST(sum(CASE WHEN nt.bucket <= q.bucket THEN nt.n_tokens "
        "ELSE 0 END) AS BIGINT) AS total_tokens, "
        "CAST((SELECT sum(nv.new_vocab) FROM nv "
        "WHERE nv.bucket <= q.bucket) AS BIGINT) AS vocab_size "
        "FROM q CROSS JOIN nt GROUP BY q.bucket ORDER BY checkpoint_pct"
    ),
)
def docs_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct-token count and total
    token count at 25/50/75/100% corpus checkpoints (md5-deterministic
    document order, so the curve is reproducible and layout-free) — the
    measurement behind tokenizer sizing and dedup-value estimates.

    Scale: each token carries its doc's 2-bit checkpoint bucket; a
    token's FIRST-SEEN checkpoint is one keyed min-aggregation, and the
    curve is a 4-row cumulative sum over the per-bucket news — the
    whole curve costs one explode pass + two keyed aggs, not four
    prefix re-scans of the corpus.
    """
    docs = _t(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    bucket = F.expr(
        "(cast(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10) "
        "as int) * 4) div 256"
    )
    tok = docs.select(
        bucket.alias("bucket"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("w"),
    )
    firstb = tok.groupBy("w").agg(F.min("bucket").alias("min_bucket"))
    nv = firstb.groupBy(F.col("min_bucket").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("new_vocab")
    )
    nt = tok.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    # cumulative over 4 checkpoints by map-side replication (a bucket-b
    # row contributes to checkpoints b..3), the rolling-active-users
    # trick — no inequality join anywhere
    tot = (
        nt.select(
            F.explode(F.expr("sequence(bucket, 3)")).alias("qb"), "n_tokens"
        )
        .groupBy("qb")
        .agg(F.sum("n_tokens").alias("total_tokens"))
    )
    voc = (
        nv.select(
            F.explode(F.expr("sequence(bucket, 3)")).alias("qb"), "new_vocab"
        )
        .groupBy("qb")
        .agg(F.sum("new_vocab").alias("vocab_size"))
    )
    joined = tot.join(voc, "qb")
    return joined.select(
        ((F.col("qb") + 1) * 25).cast("int").alias("checkpoint_pct"),
        F.col("total_tokens").cast("bigint"),
        F.col("vocab_size").cast("bigint"),
    ).orderBy("checkpoint_pct")


@query(
    "docs_spearman_chars_tokens",
    oracle=(
        "WITH b AS (SELECT doc_id, n_chars, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS toks "
        "FROM documents), "
        "r AS (SELECT doc_id, "
        "row_number() OVER (ORDER BY n_chars, doc_id) AS r1, "
        "row_number() OVER (ORDER BY toks, doc_id) AS r2 FROM b) "
        "SELECT CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2, "
        "1000 - (6000 * CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT)) // "
        "(CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) * "
        "CAST(count(*) AS BIGINT) - 1)) AS rho_milli "
        "FROM r"
    ),
)
def docs_spearman_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between document character and token
    counts, in exact integer milli-units: ``rho_milli = 1000 -
    (6000 * sum(d^2)) div (n * (n^2 - 1))`` over (value, doc_id)
    tie-broken ranks — the monotone-association statistic (feature
    redundancy / quality-signal screening) without a single
    cross-engine double.

    Scale: the two rank assignments are INDEPENDENT two-level range
    rankings (ranking.global_row_number — no customer-wide
    single-partition sort) joined on the doc key; the rollup is the
    waived 1-row scalar.  Ties break on doc_id so both engines rank
    identically; the tie-broken variant equals textbook Spearman
    whenever values are distinct and stays a well-defined deterministic
    statistic when they are not.
    """
    from duckdb_cluster_hash_spark.operators.ranking import global_row_number

    docs = _t(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "n_chars",
        F.regexp_count("text", F.lit("[^ ]+")).cast("bigint").alias("toks"),
    )
    r1 = global_row_number(
        b.select("doc_id", "n_chars"),
        [F.asc("n_chars"), F.asc("doc_id")],
        n_buckets=64,
        out_col="r1",
    ).select("doc_id", "r1")
    r2 = global_row_number(
        b.select("doc_id", "toks"),
        [F.asc("toks"), F.asc("doc_id")],
        n_buckets=64,
        out_col="r2",
    ).select("doc_id", "r2")
    d2 = (F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))
    return r1.join(r2, "doc_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d2).cast("bigint").alias("sum_d2"),
        F.expr(
            "1000 - (6000 * sum((r1 - r2) * (r1 - r2))) div "
            "(count(*) * (count(*) * count(*) - 1))"
        ).alias("rho_milli"),
    )


@query(
    "docs_token_weighted_sample",
    oracle=(
        "WITH t AS (SELECT doc_id, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER "
        "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t), "
        "tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS T FROM t) "
        "SELECT doc_id, n_tokens, cum AS cum_tokens, "
        "CAST(greatest(0, least(500, (1000 * cum + T - 1) // (2 * T))) "
        "- greatest(0, least(500, (1000 * (cum - n_tokens) + T - 1) // (2 * T))) "
        "AS BIGINT) AS n_draws "
        "FROM c, tot "
        "WHERE greatest(0, least(500, (1000 * cum + T - 1) // (2 * T))) "
        "- greatest(0, least(500, (1000 * (cum - n_tokens) + T - 1) // (2 * T))) "
        ">= 1 ORDER BY doc_id"
    ),
)
def docs_token_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: draw k=500
    documents with probability proportional to token count, via k
    equally-spaced probes p_j = ((2j+1)*T) div (2k) into the cumulative
    token axis — the exact-integer way to build a token-weighted training
    mixture (every arithmetic step is bigint, so cross-engine equality is
    bit-exact; no pow/ln, which would diverge in the last ulp).

    A document covering cumulative interval [cum - w, cum) receives
    f(cum) - f(cum - w) draws where f(x) = #{j : p_j < x} =
    clamp((2kx + T - 1) div (2T), 0, k) — a pure map-side expression, so
    after the prefix sum NO probe/interval join exists at all (compare
    the broadcast-probes range join, which would be k x n).

    Scale: the cumulative axis comes from the two-level distributed
    prefix sum (range partition + 256-row broadcast offsets,
    operators/ranking.py) — no global sort of the corpus; the 1-row
    total broadcasts to a map-side expression.
    """
    from duckdb_cluster_hash_spark.functions.text import ws_token_count
    from duckdb_cluster_hash_spark.operators.ranking import ordered_prefix_sum

    k = 500
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", ws_token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    cum = ordered_prefix_sum(docs, [F.col("doc_id")], "n_tokens")
    total = docs.agg(F.sum("n_tokens").cast("bigint").alias("T"))
    withT = cum.join(F.broadcast(total))

    def f(x):
        return F.greatest(
            F.lit(0).cast("bigint"),
            F.least(
                F.lit(k).cast("bigint"),
                F.expr(f"(2 * {k} * ({x}) + T - 1) div (2 * T)"),
            ),
        )

    draws = withT.withColumn(
        "n_draws", (f("cum") - f("cum - n_tokens")).cast("bigint")
    )
    return (
        draws.where(F.col("n_draws") >= 1)
        .select("doc_id", "n_tokens", F.col("cum").alias("cum_tokens"), "n_draws")
        .orderBy("doc_id")
    )


def _rrf_oracle_sql() -> str:
    from duckdb_cluster_hash_spark.functions.text import bm25_topk_sql
    from duckdb_cluster_hash_spark.oracle_text import cosine_topk_sql

    bm = bm25_topk_sql("documents", "doc_id", "text", _BM25_TERMS, k=50)
    cos = cosine_topk_sql(0, 50, 64)
    return (
        f"WITH kwraw AS ({bm}), "
        "kw AS (SELECT doc_id, row_number() OVER "
        "(ORDER BY score DESC, doc_id) AS kr FROM kwraw), "
        f"vraw AS ({cos}), "
        "vr AS (SELECT vec_id AS doc_id, row_number() OVER "
        "(ORDER BY cos_sim DESC, vec_id) AS vk FROM vraw), "
        "f AS (SELECT coalesce(kw.doc_id, vr.doc_id) AS doc_id, "
        "CAST(coalesce(100000 // (60 + kw.kr), 0) "
        "+ coalesce(100000 // (60 + vr.vk), 0) AS BIGINT) AS rrf_x100k, "
        "CAST(CASE WHEN kw.doc_id IS NOT NULL AND vr.doc_id IS NOT NULL "
        "THEN 2 ELSE 1 END AS INTEGER) AS n_sources "
        "FROM kw FULL OUTER JOIN vr ON kw.doc_id = vr.doc_id) "
        "SELECT doc_id, rrf_x100k, n_sources FROM f "
        "ORDER BY rrf_x100k DESC, doc_id LIMIT 10"
    )


@query("docs_hybrid_rrf_search", oracle=None)  # set below (composed SQL twin)
def docs_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (the RAG-stack shape): integer BM25 keyword
    top-50 fused with exact-cosine embedding top-50 by reciprocal rank
    fusion — ``rrf = sum over lists of 100000 div (60 + rank)``, RRF's
    standard k=60 in scaled integer division, so the fusion is
    bit-exact cross-engine (100000 div (60+r) is strictly decreasing
    for r <= 255: every rank in a 50-deep list keeps its own score).
    doc_id and vec_id are the same key space (TESTDATA), so the two
    modalities genuinely rank the same corpus.

    Scale: each leg is its own top-k (TakeOrderedAndProject — never a
    global sort of the corpus); the fusion full-outer-joins two 50-row
    lists and takes top-10 — driver-scale work after corpus-scale
    retrieval.  The rank windows order the 50-row lists only (waived
    SinglePartition).
    """
    from pyspark.sql.window import Window

    from duckdb_cluster_hash_spark.functions.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    kw = (
        bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=50)
        .select("doc_id", "score")
        .withColumn(
            "kr",
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
        )
    )
    vr = (
        _sim.cosine_topk(emb, qvec, k=50, extra_cols=())
        .select(F.col("vec_id").alias("doc_id"), "cos_sim")
        .withColumn(
            "vk",
            F.row_number().over(
                Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
            ),
        )
    )
    k, v = kw.alias("k"), vr.alias("v")
    fused = k.join(v, F.col("k.doc_id") == F.col("v.doc_id"), "full_outer").select(
        F.coalesce(F.col("k.doc_id"), F.col("v.doc_id")).alias("doc_id"),
        (
            F.coalesce(F.expr("100000 div (60 + kr)"), F.lit(0))
            + F.coalesce(F.expr("100000 div (60 + vk)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_x100k"),
        F.when(F.col("kr").isNotNull() & F.col("vk").isNotNull(), 2)
        .otherwise(1)
        .cast("int")
        .alias("n_sources"),
    )
    return fused.orderBy(F.desc("rrf_x100k"), F.asc("doc_id")).limit(10)


ORACLES["docs_hybrid_rrf_search"] = _rrf_oracle_sql()


def _next_token_oracle_sql() -> str:
    return (
        "WITH toks AS (SELECT doc_id, lang, "
        "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10) "
        "AS b, regexp_extract_all(lower(text), '[a-z]+') AS ts FROM documents), "
        "pos AS (SELECT doc_id, lang, b, unnest(ts) AS tok, "
        "generate_subscripts(ts, 1) AS p FROM toks), "
        "bi AS (SELECT a.lang, a.b, a.tok AS w1, c.tok AS w2 FROM pos a "
        "JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 1), "
        "model AS (SELECT w1, w2 AS pred FROM ("
        "SELECT w1, w2, row_number() OVER (PARTITION BY w1 "
        "ORDER BY count(*) DESC, w2 ASC) AS rn FROM bi WHERE b < 9 "
        "GROUP BY w1, w2) WHERE rn = 1) "
        "SELECT t.lang, CAST(count(*) AS BIGINT) AS total_bigrams, "
        "CAST(sum(CASE WHEN m.w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS covered, "
        "CAST(sum(CASE WHEN m.pred = t.w2 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS correct, "
        "CAST((1000 * sum(CASE WHEN m.pred = t.w2 THEN 1 ELSE 0 END)) "
        "// count(*) AS BIGINT) AS acc_milli "
        "FROM bi t LEFT JOIN model m ON m.w1 = t.w1 WHERE t.b = 9 "
        "GROUP BY t.lang ORDER BY t.lang"
    )


@query("docs_next_token_accuracy", oracle=_next_token_oracle_sql())
def docs_next_token_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram next-token prediction accuracy — the count-based language
    model evaluated exactly as a training-data quality signal (high
    top-1 accuracy = templated/repetitive corpus; the integer cousin of
    perplexity, with no floating-point log in sight): a top-1 bigram
    table is trained on the md5-90% doc split (argmax per prefix with a
    deterministic ``count DESC, w2 ASC`` tie-break) and scored on the
    held-out 10%, per language — total bigrams, model coverage,
    correct predictions, and accuracy in exact milli-integer division.

    Scale: bigram generation is map-side (position self-join within
    doc_id partitions); the trained model is one row per distinct
    prefix (vocab-bounded, broadcast into the eval join); train and
    eval each shuffle once on the bigram key.  Every number is an
    integer count — bit-portable across engines by construction.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("bigint") % 10
        ).alias("b"),
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0).alias("ts"),
    )
    pos = docs.select(
        "doc_id", "lang", "b", F.posexplode("ts").alias("p0", "tok")
    ).withColumn("p", F.col("p0") + 1).drop("p0")
    a, c = pos.alias("a"), pos.alias("c")
    bi = a.join(
        c,
        (F.col("c.doc_id") == F.col("a.doc_id")) & (F.col("c.p") == F.col("a.p") + 1),
    ).select(
        F.col("a.lang").alias("lang"), F.col("a.b").alias("b"),
        F.col("a.tok").alias("w1"), F.col("c.tok").alias("w2"),
    )
    model = (
        bi.where(F.col("b") < 9)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("w1").orderBy(F.desc("cnt"), F.asc("w2"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("w1", F.col("w2").alias("pred"))
    )
    return (
        bi.where(F.col("b") == 9)
        .join(F.broadcast(model), "w1", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("total_bigrams"),
            F.sum(F.col("pred").isNotNull().cast("int")).cast("bigint").alias("covered"),
            F.sum((F.col("pred") == F.col("w2")).cast("int"))
            .cast("bigint")
            .alias("correct"),
        )
        .withColumn(
            "acc_milli", F.expr("(1000 * correct) div total_bigrams").cast("bigint")
        )
        .orderBy("lang")
    )


def _mlog2_step_exprs(i: int) -> tuple[str, str]:
    """One square-and-shift iteration of the integer log2: given
    ``m{i-1}`` (mantissa scaled to [2^30, 2^31)) and ``f{i-1}``
    (fraction bits so far), emit the expressions for ``m{i}`` and
    ``f{i}``.  Shared VERBATIM by the Spark plan and the DuckDB
    oracle (both parse the identical CASE/shift snippet), so the two
    engines cannot diverge by transcription; every op is bigint
    arithmetic, so the results are bit-identical by construction.
    """
    sq = f"((m{i - 1} * m{i - 1}) >> 30)"
    m = f"CASE WHEN {sq} >= 2147483648 THEN ({sq} >> 1) ELSE {sq} END AS m{i}"
    f_ = f"f{i - 1} * 2 + CASE WHEN {sq} >= 2147483648 THEN 1 ELSE 0 END AS f{i}"
    return m, f_


_MLOG2_SEED_EXPRS = (
    # e = floor(log2(x)) via the binary digit count (x >= 2^20 here, so
    # bin() is never '0'); m0 = x normalized into [2^30, 2^31).
    "length(bin(x)) - 1 AS e",
    "CASE WHEN length(bin(x)) - 1 >= 30 THEN x >> (length(bin(x)) - 31) "
    "ELSE x << (31 - length(bin(x))) END AS m0",
    "0 AS f0",
)

_MLOG2_STEPS = 10  # 1/1024-bit resolution; max abs error < 2^-10 bits


def _perplexity_oracle_sql() -> str:
    keys = "doc_id, lang, source, k"
    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"s{i} AS (SELECT {keys}, e, {m}, {f_} FROM s{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH toks AS (SELECT doc_id, lang, source, "
        "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10) "
        "AS b, regexp_extract_all(lower(text), '[a-z]+') AS ts FROM documents), "
        "pos AS (SELECT doc_id, lang, source, b, unnest(ts) AS tok, "
        "generate_subscripts(ts, 1) AS p FROM toks), "
        "bi AS (SELECT a.doc_id, a.lang, a.source, a.b, a.tok AS w1, "
        "c.tok AS w2 FROM pos a "
        "JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 1), "
        "c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bi "
        "WHERE b < 9 GROUP BY w1, w2), "
        "c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1), "
        "vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM pos "
        "WHERE b < 9), "
        "ev AS (SELECT t.doc_id, t.lang, t.source, "
        "((COALESCE(c1.c1, 0) + vv.v + 1) << 20) // (COALESCE(c12.c12, 0) + 1) "
        "AS x FROM bi t "
        "LEFT JOIN c12 ON c12.w1 = t.w1 AND c12.w2 = t.w2 "
        "LEFT JOIN c1 ON c1.w1 = t.w1 CROSS JOIN vv WHERE t.b = 9), "
        "g AS (SELECT doc_id, lang, source, x, CAST(count(*) AS BIGINT) AS k "
        "FROM ev GROUP BY doc_id, lang, source, x), "
        f"s0 AS (SELECT doc_id, lang, source, k, {seed} FROM g), "
        + ", ".join(steps)
        + ", per_doc AS (SELECT doc_id, lang, source, "
        "CAST(sum(k) AS BIGINT) AS n, "
        f"CAST(sum(k * (e * 1024 + f{_MLOG2_STEPS})) AS BIGINT) AS t1024 "
        f"FROM s{_MLOG2_STEPS} GROUP BY doc_id, lang, source), "
        "scored AS (SELECT lang, source, n, t1024, "
        "(t1024 * 1000) // (n * 1024) AS score, "
        "(sum(t1024) OVER (PARTITION BY lang, source) * 1000) "
        "// (sum(n) OVER (PARTITION BY lang, source) * 1024) AS gmean "
        "FROM per_doc) "
        "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n) AS BIGINT) AS n_bigrams, "
        "CAST((sum(t1024) * 1000) // (sum(n) * 1024) AS BIGINT) AS mean_mbits, "
        "CAST(sum(CASE WHEN score > gmean + 1024 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS flagged_docs "
        "FROM scored GROUP BY lang, source ORDER BY lang, source"
    )


@query("docs_perplexity_filter", oracle=_perplexity_oracle_sql())
def docs_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filtering (the CCNet recipe, Wenzek et
    al. 2020, with a count-based bigram LM standing in for KenLM): a
    Laplace-smoothed bigram model is trained on the md5-90% doc split
    and every held-out doc is scored by its cross-entropy in
    MILLI-BITS per bigram; docs scoring >= 1 bit above their
    (lang, source) stratum mean are flagged as filter candidates.

    The repo bans floating-point logs (cross-engine bit drift), so
    log2 is computed as a PURE-INTEGER algorithm both engines run
    verbatim: e = floor(log2 x) off the binary digit count, then 10
    unrolled square-and-shift iterations refine the fraction to
    1/1024-bit resolution (the classic radix-2 iteration: square the
    [1,2)-scaled mantissa, emit a bit when it crosses 2).  Smoothing
    is p(w2|w1) = (c12+1)/(c1+V+1) — the +1 on the denominator keeps
    the ratio >= 1 (and >= 2^20 after scaling) even on a degenerate
    empty-train split, so bin() never sees 0.

    Scale: bigrams explode MAP-SIDE from each doc's token array
    (adjacent element_at pairs — r14; the previous shape posexploded
    the token stream and SELF-JOINED it on (doc_id, p+1), shuffling
    the full corpus token stream twice to recover adjacency the array
    already encodes); the model is vocab-bounded (c12/c1 broadcast
    into the eval join); eval bigrams collapse to DISTINCT (doc,
    ratio) rows BEFORE the log chain, so the 10 iterations run on the
    grouped table, not the bigram stream; the stratum mean is a keyed
    window (no global exchange).  The one scalar is V (train vocab
    size), a 1-row broadcast cross join.  At scales where (c1+V+1)
    << 20 nears int64 (prefix counts ~2^42), both sides would drop
    the scale factor to 2^10 in lockstep.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("bigint") % 10
        ).alias("b"),
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0).alias("ts"),
    )
    # guard BEFORE the sequence: Spark's sequence(1, 0) DESCENDS, so a
    # 1-token doc must be filtered out, exactly like the coverage query
    bi = (
        docs.where(F.size("ts") >= 2)
        .select(
            "doc_id", "lang", "source", "b",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) AS w1, "
                    "element_at(ts, i + 1) AS w2))"
                )
            ).alias("pr"),
        )
        .select(
            "doc_id", "lang", "source", "b",
            F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"),
        )
    )
    c12 = (
        bi.where(F.col("b") < 9)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab = (
        docs.where(F.col("b") < 9)
        .select(F.explode("ts").alias("tok"))
        .agg(F.countDistinct("tok").cast("bigint").alias("v"))
    )
    ev = (
        bi.where(F.col("b") == 9)
        .join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .selectExpr(
            "doc_id", "lang", "source",
            "((COALESCE(c1, 0) + v + 1) << 20) div (COALESCE(c12, 0) + 1) AS x",
        )
    )
    g = ev.groupBy("doc_id", "lang", "source", "x").agg(
        F.count("*").cast("bigint").alias("k")
    )
    keys = ["doc_id", "lang", "source", "k"]
    s = g.selectExpr(*keys, *_MLOG2_SEED_EXPRS)
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr(*keys, "e", m, f_)
    per_doc = s.groupBy("doc_id", "lang", "source").agg(
        F.sum("k").cast("bigint").alias("n"),
        F.sum(F.expr(f"k * (e * 1024 + f{_MLOG2_STEPS})"))
        .cast("bigint")
        .alias("t1024"),
    )
    scored = per_doc.selectExpr(
        "lang", "source", "n", "t1024",
        "(t1024 * 1000) div (n * 1024) AS score",
        "(sum(t1024) OVER (PARTITION BY lang, source) * 1000) "
        "div (sum(n) OVER (PARTITION BY lang, source) * 1024) AS gmean",
    )
    return (
        scored.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.expr("CAST((sum(t1024) * 1000) div (sum(n) * 1024) AS BIGINT)")
            .alias("mean_mbits"),
            F.sum((F.col("score") > F.col("gmean") + 1024).cast("int"))
            .cast("bigint")
            .alias("flagged_docs"),
        )
        .orderBy("lang", "source")
    )


def _cm_pos_duck(r: int, tok: str = "tok") -> str:
    return (
        f"(('0x' || substr(md5('r{r}:' || {tok}), 1, 15))::BIGINT % 1024)"
    )


def _countmin_oracle_sql() -> str:
    rows_union = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cm_pos_duck(r)} AS pos, cnt FROM tc" for r in range(3)
    )
    return (
        "WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) "
        "AS tok FROM documents), "
        "tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok), "
        f"cells AS (SELECT r, pos, CAST(sum(cnt) AS BIGINT) AS cell FROM "
        f"({rows_union}) GROUP BY r, pos), "
        "top10 AS (SELECT tok, cnt FROM tc "
        "ORDER BY cnt DESC, tok ASC LIMIT 10), "
        "est AS (SELECT t10.tok, t10.cnt, min(c.cell) AS est FROM top10 t10 "
        "JOIN cells c ON (c.r = 0 AND c.pos = " + _cm_pos_duck(0, "t10.tok") + ") "
        "OR (c.r = 1 AND c.pos = " + _cm_pos_duck(1, "t10.tok") + ") "
        "OR (c.r = 2 AND c.pos = " + _cm_pos_duck(2, "t10.tok") + ") "
        "GROUP BY t10.tok, t10.cnt) "
        "SELECT tok AS token, cnt AS true_cnt, CAST(est AS BIGINT) AS est_cnt, "
        "CAST(est - cnt AS BIGINT) AS overestimate "
        "FROM est ORDER BY true_cnt DESC, token ASC"
    )


@query("docs_countmin_heavy_hitters", oracle=_countmin_oracle_sql())
def docs_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan,
    2005) — the second mergeable sketch next to the HLL family, built
    on the repo's md5 convention so every CELL is cross-engine exact
    (most sketches get contract oracles; this one's d=3 x w=1024
    integer cell matrix is bit-portable by construction, so the grade
    pins the sketch itself): token counts hash into 3 independent rows
    of 1024 counters, the estimate for a token is the MIN over its 3
    cells, and the graded output compares estimate vs truth for the
    top-10 true heavy hitters — ``overestimate`` is structurally >= 0
    (count-min never underestimates) and exactly reproducible.

    Scale: the sketch is a FIXED 3x1024 integer matrix regardless of
    corpus size — per-shard sketches merge by cell-wise sum (the same
    partial-aggregate shape every groupBy already uses), so a 100 TB
    corpus's frequency table ships as 12 KB per shard instead of a
    vocab-sized shuffle; estimates are a broadcast lookup against the
    3072-row cell table.
    """
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )

    def pos(r: int, col="tok"):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"r{r}:"), F.col(col))), 1, 15),
                16, 10,
            ).cast("bigint") % 1024
        )

    exploded = tc.select(
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), pos(r).alias("pos"))
                    for r in range(3)
                ]
            )
        ).alias("rp"),
    ).select(F.col("rp.r").alias("r"), F.col("rp.pos").alias("pos"), "cnt")
    cells = (
        exploded.groupBy("r", "pos")
        .agg(F.sum("cnt").cast("bigint").alias("cell"))
    )
    top10 = tc.orderBy(F.desc("cnt"), F.asc("tok")).limit(10)
    keyed = top10.select(
        "tok", "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), pos(r).alias("pos"))
                    for r in range(3)
                ]
            )
        ).alias("rp"),
    ).select("tok", "cnt", F.col("rp.r").alias("r"), F.col("rp.pos").alias("pos"))
    return (
        keyed.join(F.broadcast(cells), ["r", "pos"])
        .groupBy("tok", "cnt")
        .agg(F.min("cell").cast("bigint").alias("est_cnt"))
        .select(
            F.col("tok").alias("token"),
            F.col("cnt").alias("true_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("cnt")).cast("bigint").alias("overestimate"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("token"))
    )


@query(
    "docs_string_functions_probe",
    oracle=(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(length(text)) AS BIGINT) AS sum_chars, "
        "CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes, "
        "CAST(sum(position('e' IN text)) AS BIGINT) AS sum_first_e, "
        "CAST(sum(length(replace(text, ' ', ''))) AS BIGINT) "
        "AS sum_nonspace_chars, "
        "CAST(sum(('0x' || substr(md5(substr(text, 5, 20)), 1, 12))::BIGINT "
        "% 1000000007) AS BIGINT) AS substr_digest_sum, "
        "CAST(sum(('0x' || substr(md5(reverse(substr(text, 1, 16))), 1, 12))"
        "::BIGINT % 1000000007) AS BIGINT) AS reverse_digest_sum "
        "FROM documents GROUP BY lang ORDER BY lang"
    ),
)
def docs_string_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function parity probe over the multilingual corpus — the
    character-semantics corners where engines diverge, graded per
    language: ``length`` must count CODEPOINTS (multibyte text makes
    chars != bytes — sum_bytes vs sum_chars pins both), ``substr`` must
    be 1-based and codepoint-indexed (digest sums catch any off-by-one
    or byte-indexed slicing), ``position``/``instr`` 1-based with 0 for
    absent, ``replace`` literal, and ``reverse`` codepoint-wise (its
    digest would scramble under byte-wise reversal of multibyte text).
    Case functions are deliberately ABSENT: JVM uppercases 'straße' to
    'STRASSE' while DuckDB yields 'STRAẞE' — a documented engine
    divergence this catalog avoids rather than grades.

    Scale: one map-side pass — every probe is a scalar expression
    inside whole-stage codegen feeding a per-language partial
    aggregate; only 5 rows of counters shuffle.
    """
    d = _t(spark, sf_dir, "documents")
    digest = lambda col: (
        F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")
        % 1000000007
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            F.sum(F.octet_length("text")).cast("bigint").alias("sum_bytes"),
            F.sum(F.expr("instr(text, 'e')")).cast("bigint").alias("sum_first_e"),
            F.sum(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("bigint")
            .alias("sum_nonspace_chars"),
            F.sum(digest(F.substring("text", 5, 20)))
            .cast("bigint")
            .alias("substr_digest_sum"),
            F.sum(digest(F.reverse(F.substring("text", 1, 16))))
            .cast("bigint")
            .alias("reverse_digest_sum"),
        )
        .orderBy("lang")
    )


@query(
    "docs_ngram_novelty",
    oracle=(
        "WITH d AS (SELECT doc_id, source, "
        "regexp_extract_all(lower(text), '[a-z]+') AS ts FROM documents), "
        "tri0 AS (SELECT doc_id, source, "
        "unnest([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] "
        "FOR i IN range(1, len(ts) - 1)]) AS tri "
        "FROM d WHERE len(ts) >= 3), "
        "tri AS (SELECT DISTINCT doc_id, source, tri FROM tri0), "
        "firstseen AS (SELECT tri, min(doc_id) AS fd FROM tri GROUP BY tri) "
        "SELECT t.doc_id, t.source, CAST(count(*) AS BIGINT) AS n_tri, "
        "CAST(sum(CASE WHEN f.fd = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_novel, "
        "(CAST(sum(CASE WHEN f.fd = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) "
        "* 10000) // CAST(count(*) AS BIGINT) AS novel_bp "
        "FROM tri t JOIN firstseen f USING (tri) "
        "GROUP BY t.doc_id, t.source "
        "ORDER BY novel_bp ASC, t.doc_id ASC LIMIT 15"
    ),
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring for incremental corpus curation (the
    "what does this document add" signal behind contribution-aware
    data selection): every document is scored by the fraction of its
    DISTINCT trigrams whose first occurrence in the corpus (min
    doc_id over an ingestion-ordered stream) is the document itself.
    The graded output is the 15 LEAST novel documents — the redundant
    tail a curation pass would drop first — in basis points.

    Scale: trigram -> min(doc_id) is one map-side-combining groupBy
    on the trigram key (the heavy shuffle, but keyed on a high-
    cardinality key so it spreads); the join back is trigram-keyed
    and the per-doc rollup re-shuffles only (doc, flag) pairs; the
    final top-15 is TakeOrderedAndProject.  Integer basis points keep
    the grade float-free.
    """
    # n_chars >= 5 is a parquet-pushable superset of the exact
    # size(ts) >= 3 filter (three [a-z]+ tokens need >= 5 chars), so
    # sub-trigram docs are pruned at the scan instead of post-explode.
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 5)
        .select(
            "doc_id",
            "source",
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0).alias("ts"),
        )
    )
    tri = (
        d.where(F.size("ts") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 2), "
                    "i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))"
                )
            ).alias("tri"),
        )
        .distinct()
    )
    firstseen = tri.groupBy("tri").agg(F.min("doc_id").alias("fd"))
    return (
        tri.join(firstseen, "tri")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_tri"),
            F.sum((F.col("fd") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "source",
            "n_tri",
            "n_novel",
            F.expr("(n_novel * 10000) div n_tri").alias("novel_bp"),
        )
        .orderBy(F.asc("novel_bp"), F.asc("doc_id"))
        .limit(15)
    )


# Zipf-fit OLS, shared formula strings over exact-integer milli-bit sums:
# A/B and A^2/(B*C) are the only double ops, each a single correctly-
# rounded step on identical inputs, so both engines agree bit-for-bit.
_ZF_A = "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
_ZF_B = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
_ZF_C = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
_ZF_OUT = (
    "lang",
    "CAST(n AS BIGINT) AS n_ranks",
    f"CAST(CASE WHEN {_ZF_B} = 0.0 THEN NULL ELSE "
    f"round(({_ZF_A} / {_ZF_B}) * 1000000) END AS BIGINT) AS slope_micro",
    f"CAST(CASE WHEN {_ZF_B} = 0.0 OR {_ZF_C} = 0.0 THEN NULL ELSE "
    f"round((({_ZF_A} * {_ZF_A}) / ({_ZF_B} * {_ZF_C})) * 1000000) END "
    "AS BIGINT) AS r2_micro",
)
_ZF_SUMS = (
    "CAST(count(*) AS BIGINT) AS n",
    "CAST(sum(xr) AS BIGINT) AS sx",
    "CAST(sum(yf) AS BIGINT) AS sy",
    "CAST(sum(xr * yf) AS BIGINT) AS sxy",
    "CAST(sum(xr * xr) AS BIGINT) AS sxx",
    "CAST(sum(yf * yf) AS BIGINT) AS syy",
)


def _zipf_oracle_sql(top: int = 64) -> str:
    keys = "lang, rnk, w"
    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"s{i} AS (SELECT {keys}, e, {m}, {f_} FROM s{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH t AS (SELECT lang, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS tok FROM documents), "
        "tc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS freq "
        "FROM t GROUP BY lang, tok), "
        "rk AS (SELECT lang, freq, row_number() OVER "
        "(PARTITION BY lang ORDER BY freq DESC, tok ASC) AS rnk FROM tc "
        f"QUALIFY rnk <= {top}), "
        "tall AS (SELECT lang, rnk, 'xr' AS w, rnk << 20 AS x FROM rk "
        "UNION ALL SELECT lang, rnk, 'yf' AS w, freq << 20 AS x FROM rk), "
        f"s0 AS (SELECT {keys}, {seed} FROM tall), "
        + ", ".join(steps)
        + ", piv AS (SELECT lang, rnk, "
        f"max(CASE WHEN w = 'xr' THEN e * 1024 + f{_MLOG2_STEPS} END) AS xr, "
        f"max(CASE WHEN w = 'yf' THEN e * 1024 + f{_MLOG2_STEPS} END) AS yf "
        f"FROM s{_MLOG2_STEPS} GROUP BY lang, rnk), "
        "sums AS (SELECT lang, " + ", ".join(_ZF_SUMS) + " FROM piv GROUP BY lang) "
        "SELECT " + ", ".join(_ZF_OUT) + " FROM sums ORDER BY lang"
    )


@query("docs_zipf_fit", oracle=_zipf_oracle_sql())
def docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope (and r^2) of log2(freq)
    against log2(rank) over each language's top-64 token ranks — the
    corpus-health diagnostic (natural text sits near slope -1; a
    synthetic or deduplicated corpus drifts).  Both logs run the
    repo's PURE-INTEGER milli-bit log2 chain (floating logs are
    banned for cross-engine bit drift), so every OLS moment is an
    exact BIGINT and only the final slope/r^2 divisions touch
    doubles — single correctly-rounded IEEE steps over identical
    formula strings in both engines.

    Scale: token counting is one map-side-combining groupBy; the
    per-language rank window tops out at 64 rows per language via
    row_number + filter (TakeOrdered-shaped, never a global sort);
    the log chain runs on the 128 surviving (lang, rank) rows x 2
    series, i.e. constant work regardless of corpus size.
    """
    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "lang",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            ).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("tok"))
    rk = (
        tc.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 64)
        .select("lang", "freq", "rnk")
    )
    tall = rk.selectExpr(
        "lang", "rnk", "'xr' AS w", "rnk << 20 AS x"
    ).unionAll(rk.selectExpr("lang", "rnk", "'yf' AS w", "freq << 20 AS x"))
    keys = ["lang", "rnk", "w"]
    s = tall.selectExpr(*keys, *_MLOG2_SEED_EXPRS)
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr(*keys, "e", m, f_)
    piv = s.groupBy("lang", "rnk").agg(
        F.expr(
            f"max(CASE WHEN w = 'xr' THEN e * 1024 + f{_MLOG2_STEPS} END)"
        ).alias("xr"),
        F.expr(
            f"max(CASE WHEN w = 'yf' THEN e * 1024 + f{_MLOG2_STEPS} END)"
        ).alias("yf"),
    )
    sums = piv.groupBy("lang").agg(
        *[
            F.expr(e.rsplit(" AS ", 1)[0]).alias(e.rsplit(" AS ", 1)[1])
            for e in _ZF_SUMS
        ]
    )
    return sums.selectExpr(*_ZF_OUT).orderBy("lang")


def _dsir_oracle_sql(top: int = 15) -> str:
    keys = "tok, w"
    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"t{i} AS (SELECT {keys}, e, {m}, {f_} FROM t{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH toks AS (SELECT doc_id, source, unnest(regexp_extract_all("
        "lower(text), '[a-z]+')) AS tok FROM documents), "
        "cr AS (SELECT tok, CAST(count(*) AS BIGINT) AS cr FROM toks GROUP BY tok), "
        "ct AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM toks "
        "WHERE source = 'src0' GROUP BY tok), "
        "consts AS (SELECT CAST(count(*) AS BIGINT) AS nr, "
        "CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nt, "
        "CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks), "
        "tt AS (SELECT cr.tok AS tok, 'a' AS w, "
        "(COALESCE(ct.ct, 0) + 1) << 20 AS x FROM cr LEFT JOIN ct USING (tok) "
        "UNION ALL SELECT cr.tok AS tok, 'b' AS w, (cr.cr + 1) << 20 AS x FROM cr "
        "UNION ALL SELECT '' AS tok, 'a' AS w, (nt + v) << 20 AS x FROM consts "
        "UNION ALL SELECT '' AS tok, 'b' AS w, (nr + v) << 20 AS x FROM consts), "
        f"t0 AS (SELECT {keys}, {seed} FROM tt), "
        + ", ".join(steps)
        + ", piv AS (SELECT tok, "
        f"max(CASE WHEN w = 'a' THEN e * 1024 + f{_MLOG2_STEPS} END) AS la, "
        f"max(CASE WHEN w = 'b' THEN e * 1024 + f{_MLOG2_STEPS} END) AS lb "
        f"FROM t{_MLOG2_STEPS} GROUP BY tok), "
        "delta AS (SELECT tok, la - lb AS d FROM piv WHERE tok <> ''), "
        "cdelta AS (SELECT la - lb AS cd FROM piv WHERE tok = ''), "
        "perdoc AS (SELECT t.doc_id, t.source, "
        "CAST(count(*) AS BIGINT) AS n_toks, "
        "CAST(sum(d.d) AS BIGINT) AS s FROM toks t JOIN delta d USING (tok) "
        "GROUP BY t.doc_id, t.source) "
        "SELECT doc_id, source, n_toks, "
        "CAST(s - n_toks * cd AS BIGINT) AS score1024 "
        "FROM perdoc, cdelta "
        f"ORDER BY score1024 DESC, doc_id ASC LIMIT {top}"
    )


@query("docs_dsir_importance", oracle=_dsir_oracle_sql())
def docs_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023) over unigram features: every document is scored by its
    log-likelihood ratio between a Laplace-smoothed target-domain
    unigram LM (source = 'src0') and the raw-corpus LM — the signal
    DSIR resamples by to tilt a 100 TB crawl toward a target domain.
    Logs run the repo's pure-integer milli-bit log2 chain, so each
    doc's score is an exact BIGINT: score1024 = sum over token
    occurrences of [L(ct+1) - L(cr+1)] - n_toks * [L(Nt+V) - L(Nr+V)]
    in 1/1024-bit units.  Graded output: the 15 most target-like docs.

    Scale: both LMs are vocab-bounded tables built by one map-side-
    combining groupBy each; the log chain runs once per DISTINCT
    vocab entry (not per token occurrence) plus one 2-row constant
    chain; scoring is a broadcast join of the per-token deltas onto
    the token stream followed by a per-doc partial aggregate; top-15
    is TakeOrderedAndProject.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    cr = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("cr"))
    ct = (
        toks.where(F.col("source") == "src0")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    consts = toks.selectExpr(
        "CAST(count(*) AS BIGINT) AS nr",
        "CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nt",
        "CAST(count(DISTINCT tok) AS BIGINT) AS v",
    )
    base = cr.join(ct, "tok", "left")
    tall = (
        base.selectExpr("tok", "'a' AS w", "(COALESCE(ct, 0) + 1) << 20 AS x")
        .unionAll(base.selectExpr("tok", "'b' AS w", "(cr + 1) << 20 AS x"))
        .unionAll(consts.selectExpr("'' AS tok", "'a' AS w", "(nt + v) << 20 AS x"))
        .unionAll(consts.selectExpr("'' AS tok", "'b' AS w", "(nr + v) << 20 AS x"))
        # Lineage barrier: without it Catalyst pushes the 10 chained
        # log2 projections through the 4-way union, and the per-branch
        # alias substitution (each step references its mantissa 3x)
        # blows the expression tree up ~3^10 — the optimizer itself
        # hangs.  The table is vocab-bounded (2|V| + 2 rows).
        .localCheckpoint(eager=True)
    )
    keys = ["tok", "w"]
    s = tall.selectExpr(*keys, *_MLOG2_SEED_EXPRS)
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr(*keys, "e", m, f_)
    piv = s.groupBy("tok").agg(
        F.expr(
            f"max(CASE WHEN w = 'a' THEN e * 1024 + f{_MLOG2_STEPS} END)"
        ).alias("la"),
        F.expr(
            f"max(CASE WHEN w = 'b' THEN e * 1024 + f{_MLOG2_STEPS} END)"
        ).alias("lb"),
    )
    delta = piv.where(F.col("tok") != "").selectExpr("tok", "la - lb AS d")
    cdelta = piv.where(F.col("tok") == "").selectExpr("la - lb AS cd")
    perdoc = (
        toks.join(F.broadcast(delta), "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum("d").cast("bigint").alias("s"),
        )
    )
    return (
        perdoc.crossJoin(F.broadcast(cdelta))
        .selectExpr(
            "doc_id", "source", "n_toks",
            "CAST(s - n_toks * cd AS BIGINT) AS score1024",
        )
        .orderBy(F.desc("score1024"), F.asc("doc_id"))
        .limit(15)
    )


# Burstiness (index of dispersion), shared formula strings over exact
# integer moments: mean and VMR are the only double ops, identical
# expression shape in both engines.
_BU_MEAN = "(CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))"
_BU_VMR = (
    f"(((CAST(k2 AS DOUBLE) / CAST(nd AS DOUBLE)) - {_BU_MEAN} * {_BU_MEAN})"
    f" / {_BU_MEAN})"
)
_BU_OUT = (
    "token",
    "CAST(s AS BIGINT) AS total_count",
    "CAST(df AS BIGINT) AS doc_freq",
    f"CAST(round({_BU_VMR} * 1000000) AS BIGINT) AS vmr_micro",
)


@query(
    "docs_token_burstiness",
    oracle=(
        "WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS token FROM documents), "
        "dc AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c "
        "FROM t GROUP BY token, doc_id), "
        "tc AS (SELECT token, CAST(sum(c) AS BIGINT) AS s, "
        "CAST(sum(c * c) AS BIGINT) AS k2, CAST(count(*) AS BIGINT) AS df "
        "FROM dc GROUP BY token ORDER BY s DESC, token ASC LIMIT 32), "
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents) "
        "SELECT " + ", ".join(_BU_OUT) + " FROM tc, nd "
        "ORDER BY total_count DESC, token ASC"
    ),
)
def docs_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale 1995's index of dispersion,
    VMR = variance/mean of per-document counts with absent docs
    counting zero): function words sit near the Poisson VMR of 1
    while topical/bursty words exceed it — a corpus-health and
    keyword-ness diagnostic that complements the Zipf fit.  Moments
    are exact integers; the two-step mean/VMR division is a shared
    double formula string, so both engines agree bit-for-bit.

    Scale: two map-side-combining groupBys ((token, doc) then token)
    and a 32-row TakeOrderedAndProject; the doc-count scalar is a
    1-row broadcast.  Zero-count docs never materialize — the VMR
    expands E[c^2]-E[c]^2 over the implicit zeros algebraically.
    """
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("token"),
    )
    dc = t.groupBy("token", "doc_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tc = (
        dc.groupBy("token")
        .agg(
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.expr("c * c")).cast("bigint").alias("k2"),
            F.count("*").cast("bigint").alias("df"),
        )
        .orderBy(F.desc("s"), F.asc("token"))
        .limit(32)
    )
    nd = docs.agg(F.count("*").cast("bigint").alias("nd"))
    return (
        tc.crossJoin(F.broadcast(nd))
        .selectExpr(*_BU_OUT)
        .orderBy(F.desc("total_count"), F.asc("token"))
    )


def _keyword_oracle_sql(top: int = 15) -> str:
    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"k{i} AS (SELECT df, e, {m}, {f_} FROM k{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS tok FROM documents), "
        "tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf "
        "FROM t GROUP BY doc_id, tok), "
        "dfv AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df "
        "FROM t GROUP BY tok), "
        "nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents), "
        "dx AS (SELECT DISTINCT df, (nd.n << 20) // df AS x FROM dfv, nd), "
        f"k0 AS (SELECT df, {seed} FROM dx), "
        + ", ".join(steps)
        + f", idf AS (SELECT df, e * 1024 + f{_MLOG2_STEPS} AS idf1024 "
        f"FROM k{_MLOG2_STEPS}), "
        "scored AS (SELECT tf.doc_id, tf.tok, tf.tf, "
        "CAST(tf.tf * idf.idf1024 AS BIGINT) AS score1024, "
        "row_number() OVER (PARTITION BY tf.doc_id "
        "ORDER BY tf.tf * idf.idf1024 DESC, tf.tok ASC) AS rn "
        "FROM tf JOIN dfv ON tf.tok = dfv.tok JOIN idf ON dfv.df = idf.df) "
        "SELECT doc_id, tok AS keyword, tf, score1024 FROM scored "
        f"WHERE rn = 1 ORDER BY score1024 DESC, doc_id ASC LIMIT {top}"
    )


@query("docs_keyword_extraction", oracle=_keyword_oracle_sql())
def docs_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: each document's top TF-IDF
    term (the tagging/routing primitive; complements the corpus-level
    docs_tfidf_top_terms), graded on the 15 strongest keywords
    corpus-wide.  IDF = log2(N/df) through the pure-integer milli-bit
    chain, run once per DISTINCT document frequency (not per token,
    not per posting), so the score tf * idf1024 is an exact BIGINT
    and the per-doc argmax is integer-deterministic.

    Scale: two map-side-combining groupBys build the postings (tf)
    and vocabulary (df) tables; the log chain runs on the <=|distinct
    df| values table; scoring is a broadcast join of the vocab onto
    the postings; the per-doc argmax is a keyed window and the final
    top-15 a TakeOrderedAndProject.
    """
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf"))
    dfv = t.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    nd = docs.agg(F.count("*").cast("bigint").alias("n"))
    dx = (
        dfv.select("df")
        .distinct()
        .crossJoin(F.broadcast(nd))
        .selectExpr("df", "(n << 20) div df AS x")
    )
    s = dx.selectExpr("df", *_MLOG2_SEED_EXPRS)
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr("df", "e", m, f_)
    idf = s.selectExpr("df", f"e * 1024 + f{_MLOG2_STEPS} AS idf1024")
    scored = (
        tf.join(F.broadcast(dfv), "tok")
        .join(F.broadcast(idf), "df")
        .selectExpr(
            "doc_id",
            "tok",
            "tf",
            "CAST(tf * idf1024 AS BIGINT) AS score1024",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score1024"), F.asc("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("keyword"), "tf", "score1024")
        .orderBy(F.desc("score1024"), F.asc("doc_id"))
        .limit(15)
    )


@query(
    "docs_gopher_repetition",
    oracle=(
        "WITH t AS (SELECT doc_id, source, "
        "regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents), "
        "b AS (SELECT doc_id, source, "
        "unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg "
        "FROM t WHERE len(w) >= 2), "
        "c AS (SELECT doc_id, source, bg, CAST(count(*) AS BIGINT) AS c "
        "FROM b GROUP BY doc_id, source, bg), "
        "m AS (SELECT doc_id, source, max(c) AS mx, sum(c) AS nb "
        "FROM c GROUP BY doc_id, source), "
        "r AS (SELECT doc_id, source, "
        "CAST((10000 * mx) // nb AS BIGINT) AS rep_bp FROM m) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN rep_bp >= 2000 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_flagged, CAST(max(rep_bp) AS BIGINT) AS max_rep_bp, "
        "CAST(sum(rep_bp) // count(*) AS BIGINT) AS avg_rep_bp "
        "FROM r GROUP BY source ORDER BY source"
    ),
)
def docs_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate (Rae et al. 2021 §A1.1):
    per document, the fraction of word-bigrams taken by the single
    most frequent bigram, in basis points — the degenerate-/looped-
    text signal; a doc whose top bigram exceeds 20% of all bigrams is
    flagged.  Rolled up per source: doc count, flagged count, max and
    integer-mean rep_bp, so the grade pins every per-doc fraction.

    Scale: bigrams materialize map-side off each token array (no
    self-join), the per-doc histogram and its argmax are two keyed
    map-side-combining groupBys on doc_id, and only the
    source-bounded rollup crosses the final exchange.  The per-doc
    table is the session memo shared with docs_curation_pipeline
    (:func:`gopher_rep_shared`) — one bigram explode per corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    r = gopher_rep_shared(docs)
    return (
        r.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("rep_bp") >= 2000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.max("rep_bp").cast("bigint").alias("max_rep_bp"),
            F.expr("CAST(sum(rep_bp) div count(*) AS BIGINT)").alias(
                "avg_rep_bp"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus-health statistics wave: unigram entropy, filter AUC, labeler
# agreement — the three numbers a curation pipeline reads before trusting
# its own heuristics.  All pure-integer (the shared mlog2 chain where a
# log is needed), so every column is value-hashed bit-for-bit.


def _token_entropy_oracle_sql() -> str:
    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"s{i} AS (SELECT d, e, {m}, {f_} FROM s{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        "WITH tok AS (SELECT lang, "
        "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok "
        "FROM documents), "
        "cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c "
        "FROM tok GROUP BY lang, tok), "
        "tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n, "
        "CAST(count(*) AS BIGINT) AS v FROM cnt GROUP BY lang), "
        "vals AS (SELECT DISTINCT c AS d FROM cnt "
        "UNION SELECT n FROM tot UNION SELECT v FROM tot), "
        "dx AS (SELECT d, d << 20 AS x FROM vals), "
        f"s0 AS (SELECT d, {seed} FROM dx), "
        + ", ".join(steps)
        + f", lg AS (SELECT d, (e * 1024 + f{_MLOG2_STEPS}) - 20480 AS l "
        f"FROM s{_MLOG2_STEPS}), "
        "sw AS (SELECT cnt.lang, CAST(sum(cnt.c * lg.l) AS BIGINT) AS s "
        "FROM cnt JOIN lg ON cnt.c = lg.d GROUP BY cnt.lang) "
        "SELECT tot.lang, tot.n AS n_tokens, tot.v AS vocab, "
        "CAST(ln.l - sw.s // tot.n AS BIGINT) AS entropy_1024, "
        "CAST(CASE WHEN lv.l = 0 THEN 1000 "
        "ELSE (1000 * (ln.l - sw.s // tot.n)) // lv.l END AS BIGINT) "
        "AS efficiency_permille "
        "FROM tot JOIN sw ON sw.lang = tot.lang "
        "JOIN lg ln ON ln.d = tot.n JOIN lg lv ON lv.d = tot.v "
        "ORDER BY tot.lang"
    )


@query("docs_token_entropy", oracle=_token_entropy_oracle_sql())
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Shannon entropy of the unigram distribution in
    1/1024-bit units (H = log2 N - (1/N) sum c_t log2 c_t), plus
    entropy efficiency H / log2(V) in permille — the corpus-diversity
    dial curation watches across mixture changes (a collapsing
    efficiency means a few tokens are taking over).  Logs run the
    shared integer mlog2 chain (plans/docs.py:_mlog2_step_exprs),
    identical text in both engines, so entropy is an exact BIGINT.

    Scale: token counting is one map-side-combining groupBy (lang,
    tok); the log chain runs on the DISTINCT count values (bounded
    far below vocab: count multiplicities collapse) and broadcast-
    joins back — the same distinct-value-log pattern as
    parts_link_prediction; per-language rollups carry one row per
    (lang, count-value), never per token.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("tok"),
    )
    cnt = toks.groupBy("lang", "tok").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = cnt.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("v"),
    )
    vals = (
        cnt.select(F.col("c").alias("d"))
        .unionByName(tot.select(F.col("n").alias("d")))
        .unionByName(tot.select(F.col("v").alias("d")))
        .distinct()
    )
    s = vals.selectExpr("d", "d << 20 AS x").selectExpr(
        "d", *_MLOG2_SEED_EXPRS
    )
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        s = s.selectExpr("d", "e", m, f_)
    lg = s.selectExpr("d", f"(e * 1024 + f{_MLOG2_STEPS}) - 20480 AS l")
    sw = (
        cnt.join(F.broadcast(lg), cnt.c == lg.d)
        .selectExpr("lang", "c * l AS cl")
        .groupBy("lang")
        .agg(F.sum("cl").cast("bigint").alias("s"))
    )
    ln_ = lg.selectExpr("d AS n", "l AS ln_l")
    lv_ = lg.selectExpr("d AS v", "l AS lv_l")
    return (
        tot.join(sw, "lang")
        .join(F.broadcast(ln_), "n")
        .join(F.broadcast(lv_), "v")
        .selectExpr(
            "lang",
            "n AS n_tokens",
            "v AS vocab",
            "CAST(ln_l - s div n AS BIGINT) AS entropy_1024",
            "CAST(CASE WHEN lv_l = 0 THEN 1000 "
            "ELSE (1000 * (ln_l - s div n)) div lv_l END AS BIGINT) "
            "AS efficiency_permille",
        )
        .orderBy("lang")
    )


_AUC_ORACLE = (
    "WITH h AS (SELECT n_chars AS sc, md5(substr(text, 1, 100)) AS dig FROM documents), "
    "dd AS (SELECT dig FROM h GROUP BY dig HAVING count(*) > 1), "
    "l AS (SELECT h.sc, CASE WHEN dd.dig IS NULL THEN 0 ELSE 1 END AS y "
    "FROM h LEFT JOIN dd ON h.dig = dd.dig), "
    "g AS (SELECT sc, CAST(count(*) AS BIGINT) AS cnt, "
    "CAST(sum(y) AS BIGINT) AS pos FROM l GROUP BY sc), "
    "o AS (SELECT sc, cnt, pos, sum(cnt) OVER (ORDER BY sc) AS cum FROM g), "
    "r AS (SELECT CAST(sum(pos) AS BIGINT) AS p, "
    "CAST(sum(cnt) AS BIGINT) AS nt, "
    "CAST(sum(pos * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS r2 FROM o) "
    "SELECT p AS n_pos, CAST(nt - p AS BIGINT) AS n_neg, "
    "CAST(CASE WHEN p = 0 OR nt = p THEN 500000 "
    "ELSE (1000000 * (r2 - p * (p + 1))) // (2 * p * (nt - p)) END "
    "AS BIGINT) AS auc_micro FROM r"
)


@query("docs_quality_auc", oracle=_AUC_ORACLE)
def docs_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (Mann–Whitney rank-sum with midrank tie
    handling) of document length as a duplicate detector: positives
    share a duplicated 100-char boilerplate prefix (md5 prefix digest
    seen more than once — this corpus has template-prefix duplicates
    but no full-body ones, so the prefix IS the duplication signal),
    the score is n_chars, and AUC answers 'does this cheap feature
    separate dups from uniques?' — the calibration readout a pipeline
    computes before trusting any filter threshold.  AUC in exact
    integer micros via 2x-scaled midrank sums (every quantity stays
    a BIGINT; AUC = (R2 - P(P+1)) / (2 P N)).

    Scale: ranking never sorts documents — scores collapse to a
    per-distinct-score (cnt, pos) table first (map-side combine),
    and the cumulative rank offset runs ordered_prefix_sum's
    range-partition + broadcast-offsets pattern (only the <=256-row
    per-bucket totals table is ever globally ordered).
    """
    from duckdb_cluster_hash_spark.operators.ranking import (
        ordered_prefix_sum,
    )

    docs = _t(spark, sf_dir, "documents")
    h = docs.selectExpr(
        "n_chars AS sc", "md5(substring(text, 1, 100)) AS dig"
    )
    dd = (
        h.groupBy("dig")
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") > 1)
        .select("dig")
    )
    lab = h.join(dd.withColumn("y1", F.lit(1)), "dig", "left").selectExpr(
        "sc", "coalesce(y1, 0) AS y"
    )
    g = lab.groupBy("sc").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    o = ordered_prefix_sum(g, [F.col("sc")], "cnt", out_col="cum")
    r = o.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("cnt").cast("bigint").alias("nt"),
        F.sum(F.expr("pos * (2 * (cum - cnt) + cnt + 1)"))
        .cast("bigint")
        .alias("r2"),
    )
    return r.selectExpr(
        "p AS n_pos",
        "CAST(nt - p AS BIGINT) AS n_neg",
        "CAST(CASE WHEN p = 0 OR nt = p THEN 500000 "
        "ELSE (1000000 * (r2 - p * (p + 1))) div (2 * p * (nt - p)) END "
        "AS BIGINT) AS auc_micro",
    )


_KAPPA_LA = "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END"
_KAPPA_TOKS = "regexp_extract_all(lower(text), '[a-z]+')"
_KAPPA_ORACLE = (
    "WITH lab AS (SELECT "
    f"{_KAPPA_LA} AS la, "
    f"CASE WHEN 2 * length(list_distinct({_KAPPA_TOKS})) >= "
    f"length({_KAPPA_TOKS}) THEN 1 ELSE 0 END AS lb FROM documents), "
    "ct AS (SELECT CAST(sum(la * lb) AS BIGINT) AS both_pos, "
    "CAST(sum(la * (1 - lb)) AS BIGINT) AS a_only, "
    "CAST(sum((1 - la) * lb) AS BIGINT) AS b_only, "
    "CAST(sum((1 - la) * (1 - lb)) AS BIGINT) AS both_neg, "
    "CAST(count(*) AS BIGINT) AS n FROM lab), "
    "k AS (SELECT *, "
    "(both_pos + a_only) * (both_pos + b_only) "
    "+ (b_only + both_neg) * (a_only + both_neg) AS pe_num FROM ct) "
    "SELECT n AS n_docs, both_pos, a_only, b_only, both_neg, "
    "CAST(CASE WHEN n * n = pe_num THEN 1000 "
    "WHEN n * (both_pos + both_neg) >= pe_num THEN "
    "(1000 * (n * (both_pos + both_neg) - pe_num)) // (n * n - pe_num) "
    "ELSE -((1000 * (pe_num - n * (both_pos + both_neg))) "
    "// (n * n - pe_num)) END AS BIGINT) AS kappa_permille FROM k"
)


@query("docs_labeler_agreement_kappa", oracle=_KAPPA_ORACLE)
def docs_labeler_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two independent cheap
    quality labelers — length (n_chars >= 300) and lexical diversity
    (type-token ratio >= 1/2) — the chance-corrected agreement a
    pipeline reads before trusting weak labels as filter ground
    truth (raw agreement flatters imbalanced labelers; kappa does
    not).  Pure-integer permille with the sign-safe truncating
    division (Spark div truncates toward zero, DuckDB // floors —
    they agree only on non-negative operands, so the negative branch
    negates explicitly; README 'Correctness model').

    Scale: one map-side-combining aggregate over documents to a
    four-cell contingency table; everything after is 1-row
    arithmetic.
    """
    docs = _t(spark, sf_dir, "documents")
    lab = docs.selectExpr(
        f"{_KAPPA_LA} AS la",
        f"CASE WHEN 2 * size(array_distinct({_KAPPA_TOKS[:-1]}, 0))) >= "
        f"size({_KAPPA_TOKS[:-1]}, 0)) THEN 1 ELSE 0 END AS lb",
    )
    ct = lab.agg(
        F.sum(F.expr("la * lb")).cast("bigint").alias("both_pos"),
        F.sum(F.expr("la * (1 - lb)")).cast("bigint").alias("a_only"),
        F.sum(F.expr("(1 - la) * lb")).cast("bigint").alias("b_only"),
        F.sum(F.expr("(1 - la) * (1 - lb)")).cast("bigint").alias("both_neg"),
        F.count("*").cast("bigint").alias("n"),
    )
    k = ct.selectExpr(
        "*",
        "(both_pos + a_only) * (both_pos + b_only) "
        "+ (b_only + both_neg) * (a_only + both_neg) AS pe_num",
    )
    return k.selectExpr(
        "n AS n_docs",
        "both_pos",
        "a_only",
        "b_only",
        "both_neg",
        "CAST(CASE WHEN n * n = pe_num THEN 1000 "
        "WHEN n * (both_pos + both_neg) >= pe_num THEN "
        "(1000 * (n * (both_pos + both_neg) - pe_num)) div (n * n - pe_num) "
        "ELSE -((1000 * (pe_num - n * (both_pos + both_neg))) "
        "div (n * n - pe_num)) END AS BIGINT) AS kappa_permille",
    )


@query(
    "docs_tokenizer_fertility",
    oracle=(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(len(regexp_extract_all(text, '[^ ]+'))) AS BIGINT) "
        "AS ws_tokens, "
        "CAST(sum(len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens, "
        "CAST((1000 * sum(len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')))) "
        "// sum(len(regexp_extract_all(text, '[^ ]+'))) AS BIGINT) "
        "AS fertility_permille, "
        "CAST((1000 * sum(n_chars)) // sum(len(regexp_extract_all(text, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) "
        "AS chars_per_token_milli "
        "FROM documents GROUP BY lang ORDER BY lang"
    ),
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: subword (BPE-ish) tokens per
    whitespace word in permille, plus chars-per-subword-token — the
    number multilingual pipeline reports lead with, because a language
    whose fertility balloons pays proportionally more context budget
    per sentence and trains on proportionally less text per token.
    Pure counting, exact integers.

    Scale: one map-side-combining groupBy over documents; both token
    counts are codegen regexp counts in the same projection, so the
    corpus is scanned once.
    """
    docs = _t(spark, sf_dir, "documents")
    ws = "size(regexp_extract_all(text, '[^ ]+', 0))"
    bpe = "size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))"
    return (
        docs.selectExpr(
            "lang", f"{ws} AS wsn", f"{bpe} AS bpn", "n_chars"
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("wsn").cast("bigint").alias("ws_tokens"),
            F.sum("bpn").cast("bigint").alias("bpe_tokens"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "CAST((1000 * bpe_tokens) div ws_tokens AS BIGINT) "
            "AS fertility_permille",
            "CAST((1000 * sum_chars) div bpe_tokens AS BIGINT) "
            "AS chars_per_token_milli",
        )
        .orderBy("lang")
    )


@query(
    "docs_dedup_impact_by_source",
    oracle=(
        "WITH h AS (SELECT doc_id, source, md5(substr(text, 1, 100)) AS dig, "
        "CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS toks "
        "FROM documents), "
        "rep AS (SELECT dig, min(doc_id) AS rep_id FROM h GROUP BY dig), "
        "m AS (SELECT h.source, h.toks, "
        "CASE WHEN h.doc_id = r.rep_id THEN 1 ELSE 0 END AS keep "
        "FROM h JOIN rep r ON h.dig = r.dig) "
        "SELECT source, CAST(count(*) AS BIGINT) AS docs_before, "
        "CAST(sum(keep) AS BIGINT) AS docs_after, "
        "CAST(sum(toks) AS BIGINT) AS tokens_before, "
        "CAST(sum(keep * toks) AS BIGINT) AS tokens_after, "
        "CAST(CASE WHEN sum(toks) = 0 THEN 0 ELSE "
        "(1000 * (sum(toks) - sum(keep * toks))) // sum(toks) END "
        "AS BIGINT) AS saved_permille "
        "FROM m GROUP BY source ORDER BY source"
    ),
)
def docs_dedup_impact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup bill, itemized: per source, document and token counts
    before and after boilerplate-prefix dedup (md5 of the first 100
    chars, lowest doc_id kept — the template-dedup first pass for
    web-shaped data; this corpus duplicates prefixes, never whole
    bodies) and the permille of tokens it removes — the report a
    pipeline owner reads to see WHERE the duplication lives before
    paying for near-dup passes on sources that are already clean.

    Scale: one digest groupBy (32-byte digests on the wire, never
    bodies — the exact-dedup convention), one digest-keyed join back,
    one map-side-combining rollup per source.
    """
    docs = _t(spark, sf_dir, "documents")
    h = docs.selectExpr(
        "doc_id",
        "source",
        "md5(substring(text, 1, 100)) AS dig",
        "CAST(size(regexp_extract_all(text, '[^ ]+', 0)) AS BIGINT) AS toks",
    )
    rep = h.groupBy("dig").agg(F.min("doc_id").alias("rep_id"))
    m = h.join(rep, "dig").selectExpr(
        "source",
        "toks",
        "CASE WHEN doc_id = rep_id THEN 1 ELSE 0 END AS keep",
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs_before"),
            F.sum("keep").cast("bigint").alias("docs_after"),
            F.sum("toks").cast("bigint").alias("tokens_before"),
            F.sum(F.expr("keep * toks")).cast("bigint").alias("tokens_after"),
        )
        .selectExpr(
            "source",
            "docs_before",
            "docs_after",
            "tokens_before",
            "tokens_after",
            "CAST(CASE WHEN tokens_before = 0 THEN 0 ELSE "
            "(1000 * (tokens_before - tokens_after)) div tokens_before END "
            "AS BIGINT) AS saved_permille",
        )
        .orderBy("source")
    )


@query(
    "docs_cross_lang_duplicates",
    oracle=(
        "WITH h AS (SELECT lang, md5(substr(text, 1, 100)) AS dig, "
        "CAST(count(*) AS BIGINT) AS n_docs FROM documents "
        "GROUP BY lang, md5(substr(text, 1, 100))), "
        "p AS (SELECT DISTINCT a.lang AS lang_a, b.lang AS lang_b, a.dig "
        "FROM h a JOIN h b ON a.dig = b.dig AND a.lang <= b.lang "
        "WHERE a.lang < b.lang OR (a.lang = b.lang AND a.n_docs > 1)) "
        "SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_shared_texts "
        "FROM p GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b"
    ),
)
def docs_cross_lang_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate audit: identical 100-char boilerplate
    prefixes (md5 prefix digest) filed under DIFFERENT language
    labels, counted per
    language pair — each off-diagonal hit is either a lang-ID error
    or boilerplate leaking across splits (both silently corrupt
    per-language token budgets and language-stratified sampling);
    the diagonal counts within-language duplicated bodies, so the
    matrix grades non-trivially even on a corpus whose duplicates
    never cross languages.

    Scale: one digest+lang dedup then a digest-keyed self-join
    restricted to lang-discordant rows — digests on the wire, never
    bodies; the pair matrix is bounded by n_langs^2.
    """
    docs = _t(spark, sf_dir, "documents")
    h = (
        docs.where("text IS NOT NULL")
        .selectExpr("lang", "md5(substring(text, 1, 100)) AS dig")
        .groupBy("lang", "dig")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    a = h.selectExpr("lang AS lang_a", "dig", "n_docs AS na")
    b = h.selectExpr("lang AS lang_b", "dig AS dig_b")
    p = (
        a.join(
            b,
            F.expr(
                "dig = dig_b AND "
                "(lang_a < lang_b OR (lang_a = lang_b AND na > 1))"
            ),
        )
        .select("lang_a", "lang_b", "dig")
        .distinct()
    )
    return (
        p.groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_texts"))
        .orderBy("lang_a", "lang_b")
    )


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH SQL
    engines implement (Spark ``div``, DuckDB ``//``; verified in the
    registry header).  Python's ``//`` floors instead, which diverges on
    negative numerators (-7 // 2 == -4 vs SQL -3), so the driver-side
    weight update must not use it."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def perceptron_train_trajectory(
    feats: DataFrame, iters: int = 8
) -> list[tuple[int, int, int, int, int, int, int, int]]:
    """Run ``iters`` batch-perceptron steps over an integer feature
    frame ``(y, x0..x4)`` (y in {-1, +1}, x0 the bias 1) and return the
    trajectory ``[(it, n_mistakes, acc_bp, w0..w4), ...]``.

    The update is the mistake-averaged batch rule
    ``w += (sum_{y*(w.x) <= 0} y*x) div max(1, n_mistakes)`` — all
    BIGINT, division truncating toward zero on both engines (see
    :func:`_trunc_div`).  Averaging (vs the classic lr=1 sum) is
    load-bearing at scale: it keeps weights O(feature magnitude) so the
    per-row margin ``y*(w.x)`` stays far inside int64 at any corpus
    size, where the raw-sum rule's weights grow with corpus rows and
    would overflow the margin around 10^12 docs.

    Gradient-sum bound (the one term that DOES grow with corpus mass):
    the per-iteration aggregate ``sum(y * x_j)`` over mistaken rows is
    bounded by rows x max|x_j| ~ rows x n_chars; at ~2 KB/doc it stays
    inside int64 up to ~10^12 docs (≈ petabyte corpora), same order as
    the margin bound above.  Past that the failure mode is ASYMMETRIC:
    Spark's non-ANSI long sum wraps silently while the DuckDB oracle
    widens to HUGEINT and errors on its BIGINT cast — so an overflow
    surfaces as an oracle mismatch/error, never a silently-agreed wrong
    answer, but a >10^12-doc deployment should pre-aggregate per shard
    or enable ANSI mode to turn the wrap into an error on the Spark
    side too.

    One map-side-combined scalar aggregate + one 1-row collect per
    iteration (the BPE-trainer shape, docs.py:bpe_train_merges): the
    corpus is projected once to six BIGINTs per doc, persist()-ed
    (CacheManager-tracked, genuinely released in the finally), and each
    pass reduces it to a single 7-counter row.  Nothing corpus-sized
    ever reaches the driver.
    """
    from pyspark import StorageLevel

    rows: list[tuple[int, int, int, int, int, int, int, int]] = []
    w = [0, 0, 0, 0, 0]
    feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for t in range(1, iters + 1):
            margin = F.col("y") * sum(
                F.lit(w[j]).cast("long") * F.col(f"x{j}") for j in range(5)
            )
            mis = margin <= 0
            r = feats.agg(
                F.count("*").alias("n"),
                # coalesce: over an EMPTY corpus sum() is NULL while the
                # oracle's coalesce(...) yields a zero trajectory — the
                # engine must degrade identically, not crash on int(None)
                F.coalesce(F.sum(F.when(mis, 1).otherwise(0)), F.lit(0))
                .cast("long")
                .alias("nm"),
                *[
                    F.coalesce(
                        F.sum(F.when(mis, F.col("y") * F.col(f"x{j}"))),
                        F.lit(0),
                    )
                    .cast("long")
                    .alias(f"g{j}")
                    for j in range(5)
                ],
            ).collect()[0]
            n, nm = int(r["n"]), int(r["nm"])
            d = max(nm, 1)
            w = [w[j] + _trunc_div(int(r[f"g{j}"]), d) for j in range(5)]
            acc_bp = (10000 * (n - nm)) // max(n, 1)
            rows.append((t, nm, acc_bp, w[0], w[1], w[2], w[3], w[4]))
    finally:
        feats.unpersist(False)
    return rows


def perceptron_features(
    docs: DataFrame, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Integer feature projection for the quality perceptron: bias,
    token count, distinct-token count, n_chars, stopword ('the')
    occurrences; label +1 for lang = 'en' else -1.  Pure per-row
    map work — the only corpus pass the trainer's aggregates scan.

    ``carry_cols`` rides extra columns (e.g. ``source`` for the filter
    view's bill) through the SAME projection, so training and scoring
    can never drift onto different feature definitions."""
    toks = F.expr("regexp_extract_all(text, '[^ ]+', 0)")
    return docs.select(
        *carry_cols,
        F.when(F.col("lang") == "en", 1).otherwise(-1).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.size(toks).cast("long").alias("x1"),
        F.size(F.array_distinct(toks)).cast("long").alias("x2"),
        F.col("n_chars").cast("long").alias("x3"),
        F.size(F.filter(toks, lambda tk: tk == F.lit("the")))
        .cast("long")
        .alias("x4"),
    )


def perceptron_trajectory_shared(docs: DataFrame, iters: int = 8):
    """Memoized :func:`perceptron_train_trajectory` keyed on the corpus
    frame (plan-memoized by sources/tables, so every catalog query sees
    the same object): the 8 training aggregates run once per corpus per
    session, shared by ``docs_quality_perceptron`` (trajectory view) and
    ``docs_quality_perceptron_filter`` (apply view), however the two are
    interleaved.  The memo holds 8 tuples of 8 ints — driver-side,
    bounded — in the session memo, so ``clear_shared_cache`` retrains."""
    return _memo.shared(
        docs,
        ("perceptron", iters),
        lambda: perceptron_train_trajectory(perceptron_features(docs), iters),
    )


@query("docs_quality_perceptron", oracle=_ot.quality_perceptron_sql(8))
def docs_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier, distributed (the fastText-style
    filter model every FineWeb/DCLM-shaped pipeline fits before
    filtering; the reference has no analog — driver Tier C): an
    8-iteration batch perceptron over integer text features (token
    count, distinct tokens, chars, stopword hits) with metadata-derived
    labels (lang = 'en'), reporting the full trajectory — pre-update
    mistake count, accuracy in basis points, and the post-update weight
    vector per iteration.

    Grading is float-free: features, margins, gradients, and the
    mistake-averaged weight update are all BIGINT (division truncates
    toward zero on both engines), so the 8-step trajectory — an
    iterative distributed TRAINING loop, not just a scoring pass — is
    reproduced bit-for-bit by the oracle's unrolled CTEs.

    Scale: see :func:`perceptron_train_trajectory` — per iteration, one
    map-side-combined 7-counter aggregate over a six-BIGINT projection
    of the corpus; 8 scans of a cached narrow frame, 8 single-row
    collects, weights bounded by the averaged update.  The
    iterative-algorithm floor (like BPE/k-means), not a shuffle
    problem.
    """
    rows = perceptron_trajectory_shared(_t(spark, sf_dir, "documents"), 8)
    return spark.createDataFrame(
        rows,
        "it int, n_mistakes bigint, acc_bp bigint, "
        "w0 bigint, w1 bigint, w2 bigint, w3 bigint, w4 bigint",
    ).orderBy("it")


@query(
    "docs_quality_perceptron_filter",
    oracle=_ot.quality_perceptron_filter_sql(8),
)
def docs_quality_perceptron_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPLY the trained quality classifier (the other half of the
    fastText-filter story: train, then score and bill the corpus): the
    final weight vector from the shared 8-iteration perceptron run
    scores every document (positive = margin > 0), rolled up per source
    as doc count, predicted-positive count, true-label count, and
    true-positive count — the confusion mass a pipeline reads before
    trusting the filter on unlabeled data.

    Scale: training is the SESSION MEMO (one 8-aggregate run per corpus
    — :func:`perceptron_trajectory_shared`); scoring is one map-side
    projection with the weights as literals plus one per-source
    aggregate.  All BIGINT, so the bill is bit-graded against the
    oracle's unrolled training chain + scoring CTE.
    """
    docs = _t(spark, sf_dir, "documents")
    w = list(perceptron_trajectory_shared(docs, 8)[-1][3:])
    # score through the SAME feature projection the trainer used (one
    # source of truth — a drift between train and apply features would
    # silently misprice the bill)
    feats = perceptron_features(docs, carry_cols=("source",))
    scored = feats.select(
        "source",
        "y",
        sum(
            F.lit(w[j]).cast("long") * F.col(f"x{j}") for j in range(5)
        ).alias("m"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pred_pos"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when((F.col("y") == 1) & (F.col("m") > 0), 1).otherwise(0))
            .cast("long")
            .alias("n_true_pos"),
        )
        .orderBy("source")
    )


# The sweep's operating points: fixed literals spanning the integer
# margin's dynamic range (features are token/char counts, so margins
# span ~±10^6 at real document sizes; on tiny fuzz corpora the extreme
# thresholds simply degenerate to all-kept / all-dropped rows, which
# the oracle reproduces bit-for-bit).  Data-independent by design —
# a quantile-derived grid would make the bill depend on the corpus
# sample and break replay determinism.
_SWEEP_THRESHOLDS = (-1000000, -10000, -100, 0, 100, 10000, 1000000)


@query(
    "docs_quality_perceptron_sweep",
    oracle=_ot.quality_perceptron_sweep_sql(8, thresholds=_SWEEP_THRESHOLDS),
)
def docs_quality_perceptron_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Operating-point sweep for the trained quality classifier: the
    precision / recall / attrition bill at k margin thresholds — what a
    real quality-gate decision reads BEFORE picking the one threshold
    the filter applies (the attrition a corpus can afford vs the
    precision it needs).  Predicted positive = margin > threshold.

    Scale: training is the session memo
    (:func:`perceptron_trajectory_shared`); the sweep itself is ONE
    map-side-combined aggregate over the same scoring projection the
    filter uses (2 + 2k counters), unpivoted driver-free with ``stack``
    into one row per threshold — no join, no second corpus pass, no
    per-threshold scan.  All BIGINT; bp ratios are trunc-div on
    non-negative operands, so the bill is bit-graded against the
    oracle's unrolled training chain + grouped CASE rollup.
    """
    docs = _t(spark, sf_dir, "documents")
    w = list(perceptron_trajectory_shared(docs, 8)[-1][3:])
    feats = perceptron_features(docs)
    scored = feats.select(
        "y",
        sum(
            F.lit(w[j]).cast("long") * F.col(f"x{j}") for j in range(5)
        ).alias("m"),
    )
    aggs = [
        F.count("m").cast("long").alias("n"),
        F.coalesce(F.sum(F.when(F.col("y") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("npos"),
    ]
    for i, th in enumerate(_SWEEP_THRESHOLDS):
        aggs.append(
            F.coalesce(F.sum(F.when(F.col("m") > th, 1)), F.lit(0))
            .cast("long")
            .alias(f"pp{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when((F.col("y") == 1) & (F.col("m") > th), 1)),
                F.lit(0),
            )
            .cast("long")
            .alias(f"tp{i}")
        )
    stacked = scored.agg(*aggs).select(
        "n",
        "npos",
        F.expr(
            "stack({}, {}) AS (threshold, n_pred_pos, n_true_pos)".format(
                len(_SWEEP_THRESHOLDS),
                ", ".join(
                    f"CAST({th} AS BIGINT), pp{i}, tp{i}"
                    for i, th in enumerate(_SWEEP_THRESHOLDS)
                ),
            )
        ),
    )
    return stacked.select(
        "threshold",
        "n_pred_pos",
        "n_true_pos",
        F.expr("(10000 * n_true_pos) div greatest(n_pred_pos, 1)")
        .cast("long")
        .alias("precision_bp"),
        F.expr("(10000 * n_true_pos) div greatest(npos, 1)")
        .cast("long")
        .alias("recall_bp"),
        F.expr("(10000 * (n - n_pred_pos)) div greatest(n, 1)")
        .cast("long")
        .alias("attrition_bp"),
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer trainer — the second
# canonical trainer next to BPE (Kudo 2018, "Subword Regularization"):
# seed a piece inventory from frequent substrings, iterate (encode the
# corpus with the current inventory -> count piece usage -> PRUNE the
# least-used multi-char pieces), and score the corpus in exact integer
# milli-bits through the shared mlog2 chain.  The E-step encoder is the
# deterministic greedy longest-match segmenter (the WordPiece-inference
# rule — the hard-EM variant of Kudo's Viterbi E-step, chosen because
# it is closed-form reproducible bit-for-bit by an unrolled-CTE oracle;
# ties cannot arise since candidate lengths are distinct).
# ---------------------------------------------------------------------------

UNIGRAM_MAX_WORD = 16  # words longer than this are excluded (both engines)
UNIGRAM_MAX_PIECE = 4  # seed substrings of length 2..4; singles always kept
UNIGRAM_SEED = 256  # multi-char seed inventory size (top by weighted freq)
UNIGRAM_ITERS = 3  # prune iterations; trajectory rows it = 0..3

# Adaptive driver cutover (see unigram_train; the BPE trainer's cap
# pattern): word-frequency tables that probe at or under this many
# DISTINCT WORDS train entirely on the driver — one limit-capped collect
# replaces 2 seed collects + (k+1) multi-stage E-step jobs.  8192 words
# x <=16 chars is ~2M dict operations across seed + 4 segmentations
# (well under a second); the cap bounds driver work by construction,
# never by data size.  Above it the distributed loop runs unchanged.
# Measured (sf0.1, start_session() on local[4], memos cleared before
# each run, warm median of 3, jobs per job group, outputs equal):
# docs_unigram_lm_train 0.87 s / 6 jobs on the driver side vs 6.94 s /
# 30 jobs at cap 0.  The driver side stays at sf0.1; the 3x / 10x sizes
# are not measured.
_UNIGRAM_DRIVER_CAP = 8192


def mlog2_1024_py(x: int) -> int:
    """Pure-Python twin of the shared integer log2 snippet
    (``_MLOG2_SEED_EXPRS`` + ``_mlog2_step_exprs``): log2(x) in 1/1024
    bits for x >= 1, bit-identical to what both engines compute from
    the same expressions (pinned by
    tests/test_training.py::test_mlog2_python_twin_matches_engines).
    The unigram trainer's driver-side M-step uses this so the
    trajectory it emits as literals equals the oracle's SQL-side
    arithmetic exactly."""
    e = x.bit_length() - 1
    m = (x >> (e - 30)) if e >= 30 else (x << (30 - e))
    f = 0
    for _ in range(10):
        sq = (m * m) >> 30
        if sq >= 2**31:
            m = sq >> 1
            f = f * 2 + 1
        else:
            m = sq
            f = f * 2
    return e * 1024 + f


def unigram_greedy_tokens(
    wf: DataFrame, pieces_df: DataFrame, keys: tuple = ()
) -> DataFrame:
    """Greedy longest-match segmentation of a word-frequency table
    ``(*keys, w, f)`` under a piece inventory, returning one row per
    emitted token per distinct word: ``(*keys, f, tok)``.

    The walk is pure whole-stage-codegen column arithmetic: candidate
    substrings (<= UNIGRAM_MAX_PIECE chars per start) broadcast-join
    the piece inventory, the best (longest) match per position folds
    into ONE small map per word, and UNIGRAM_MAX_WORD chained
    projections advance the cursor — no Python, no per-position
    shuffle, no join in the walk itself.  Unknown characters (possible
    on held-out text) fall back to single-char tokens via
    ``coalesce(try_element_at(...), 1)`` — the byte-fallback rule,
    identical in the oracle.

    Scale: the explode is a bounded constant factor (<= 16*4 candidate
    rows per DISTINCT word — vocab-bounded, never corpus-bounded), the
    piece inventory is broadcast (<= UNIGRAM_SEED + alphabet rows),
    and the two keyed aggregations shuffle vocab-sized tables only.
    """
    mp, mw = UNIGRAM_MAX_PIECE, UNIGRAM_MAX_WORD
    cand = wf.select(
        *keys,
        "w",
        "f",
        F.expr(
            "explode(flatten(transform(sequence(1, length(w)), st -> "
            f"transform(sequence(1, least({mp}, length(w) - st + 1)), "
            "l -> struct(CAST(st AS INT) AS st, "
            "substring(w, st, l) AS cand)))))"
        ).alias("c"),
    ).select(*keys, "w", "f", F.col("c.st").alias("st"), F.col("c.cand").alias("cand"))
    spans = (
        cand.join(
            F.broadcast(pieces_df), F.col("cand") == F.col("piece"), "left"
        )
        .groupBy(*keys, "w", "f", "st")
        .agg(
            F.max(
                F.when(F.col("piece").isNotNull(), F.length("cand"))
            ).alias("bl")
        )
    )
    perw = spans.groupBy(*keys, "w", "f").agg(
        F.map_from_entries(F.collect_list(F.struct("st", "bl"))).alias("bl")
    )
    cur = perw.withColumn("p0", F.lit(1).cast("int"))
    tok_cols = []
    for s in range(1, mw + 1):
        ln = F.when(
            F.col(f"p{s - 1}") <= F.length("w"),
            F.coalesce(
                F.try_element_at("bl", F.col(f"p{s - 1}")), F.lit(1)
            ),
        ).otherwise(F.lit(0))
        cur = cur.withColumn(f"l{s}", ln.cast("int"))
        cur = cur.withColumn(
            f"t{s}",
            F.when(
                F.col(f"l{s}") > 0,
                F.expr(f"substring(w, p{s - 1}, l{s})"),
            ),
        )
        cur = cur.withColumn(
            f"p{s}",
            (F.col(f"p{s - 1}") + F.greatest(F.col(f"l{s}"), F.lit(1))).cast(
                "int"
            ),
        )
        tok_cols.append(f"t{s}")
    return cur.select(
        *keys,
        "f",
        F.explode(F.array_compact(F.array(*tok_cols))).alias("tok"),
    )


def _unigram_wordfreq(docs: DataFrame, where=None) -> DataFrame:
    w = docs if where is None else docs.where(where)
    return (
        w.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .where(F.length("w").between(2, UNIGRAM_MAX_WORD))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )


def _unigram_train_driver(
    vocab: list[tuple[str, int]], k: int
) -> tuple[list[tuple[int, int, int, int]], list[str]]:
    """Driver-side LITERAL transcription of the distributed unigram
    trainer (the ≤ _UNIGRAM_DRIVER_CAP path of :func:`unigram_train`):
    same seed rule (singles + top-UNIGRAM_SEED weighted substrings of
    length 2..UNIGRAM_MAX_PIECE, ties lexicographic — [a-z]+ pieces, so
    Python str order == both engines' ASC), same greedy longest-match
    E-step (position-wise max matched length, single-char fallback,
    cursor advance — unigram_greedy_tokens' walk), same mlog2 M-step and
    count-ranked prune.  Trajectory bit-identical by construction;
    pinned against the distributed loop by
    tests/test_training.py::test_unigram_distributed_loop_matches_driver_cutover."""
    mp = UNIGRAM_MAX_PIECE
    wcnt: dict = {}
    chars: set = set()
    for w, f in vocab:
        chars.update(w)
        n = len(w)
        for st0 in range(0, n - 1):
            for ln in range(2, min(mp, n - st0) + 1):
                piece = w[st0 : st0 + ln]
                wcnt[piece] = wcnt.get(piece, 0) + f
    top = sorted(wcnt.items(), key=lambda kv: (-kv[1], kv[0]))[:UNIGRAM_SEED]
    pieces = sorted(chars) + sorted(p for p, _ in top)
    rows: list[tuple[int, int, int, int]] = []
    for it in range(0, k + 1):
        piece_set = set(pieces)
        counts = {p: 0 for p in pieces}
        for w, f in vocab:
            n = len(w)
            p0 = 0
            while p0 < n:
                bl = 0
                for ln in range(min(mp, n - p0), 1, -1):
                    if w[p0 : p0 + ln] in piece_set:
                        bl = ln
                        break
                adv = bl if bl > 0 else 1
                tok = w[p0 : p0 + adv]
                if tok in counts:
                    counts[tok] += f
                p0 += adv
        total = sum(counts.values())
        lt = mlog2_1024_py(total) if total > 0 else 0
        bits = sum(
            c * (lt - mlog2_1024_py(c)) for c in counts.values() if c > 0
        )
        rows.append((it, len(pieces), total, bits))
        if it < k:
            keep_k = UNIGRAM_SEED >> (it + 1)
            multi = sorted((-counts[p], p) for p in pieces if len(p) > 1)
            kept = {p for _, p in multi[:keep_k]}
            pieces = [p for p in pieces if len(p) == 1 or p in kept]
    return rows, pieces


def unigram_train(
    spark: SparkSession, wf: DataFrame, k: int = UNIGRAM_ITERS
) -> tuple[list[tuple[int, int, int, int]], list[str]]:
    """Run the unigram-LM prune trainer over a word-frequency table and
    return ``(trajectory, final_pieces)`` where trajectory rows are
    ``(it, n_pieces, n_tokens, bits_1024)`` for it = 0..k.

    Per iteration: ONE distributed E-step job (greedy segmentation +
    weighted piece counts — unigram_greedy_tokens), a driver-side
    combine bounded by the piece inventory (<= UNIGRAM_SEED + alphabet
    rows — the sanctioned iterative-trainer collect shape, like the
    BPE argmax and the perceptron gradient), then integer M-step
    bookkeeping: corpus bits = sum over used pieces of
    cnt * (mlog2(T) - mlog2(cnt)) in 1/1024-bit units (the unigram-LM
    negative log-likelihood, exact integers via mlog2_1024_py == the
    oracle's shared SQL chain), and the prune keeps the TOP
    ``UNIGRAM_SEED >> (it+1)`` multi-char pieces by (cnt desc,
    piece asc) — the 128/64/32 shrinking schedule — while
    single-char pieces are the byte-fallback floor and never pruned.

    The corpus is touched only through the vocab-bounded wf table
    (localCheckpoint'd once); at 100 TB the loop state is the
    inventory (hundreds of rows) and the E-step is the only
    distributed work — the same shape real SentencePiece trainers
    distribute.
    """
    wf = wf.localCheckpoint(eager=True)
    probe = wf.limit(_UNIGRAM_DRIVER_CAP + 1).collect()
    if len(probe) <= _UNIGRAM_DRIVER_CAP:
        return _unigram_train_driver([(r["w"], int(r["f"])) for r in probe], k)
    subs = (
        # st caps at length(w) - 1 so the inner bound least(4, len-st+1)
        # stays >= 2: Spark's sequence(2, 1) DESCENDS ([2, 1]) where
        # DuckDB's generate_series(2, 1) is empty, and the descending
        # branch smuggled truncated 1-char "multis" into the seed
        wf.select(
            F.expr(
                "explode(flatten(transform(sequence(1, length(w) - 1), "
                f"st -> transform(sequence(2, least({UNIGRAM_MAX_PIECE}, "
                "length(w) - st + 1)), "
                "l -> substring(w, st, l)))))"
            ).alias("piece"),
            "f",
        )
        .groupBy("piece")
        .agg(F.sum("f").alias("wcnt"))
        .orderBy(F.desc("wcnt"), F.asc("piece"))
        .limit(UNIGRAM_SEED)
        .collect()
    )
    singles = (
        wf.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w)), "
                    "st -> substring(w, st, 1))"
                )
            ).alias("piece")
        )
        .distinct()
        .collect()
    )
    pieces = sorted(r["piece"] for r in singles) + sorted(
        r["piece"] for r in subs
    )
    rows: list[tuple[int, int, int, int]] = []
    for it in range(0, k + 1):
        pieces_df = spark.createDataFrame(
            [(p,) for p in pieces] or [("",)], "piece string"
        )
        counts = {p: 0 for p in pieces}
        for r in (
            unigram_greedy_tokens(wf, pieces_df)
            .groupBy("tok")
            .agg(F.sum("f").alias("n"))
            .collect()
        ):
            if r["tok"] in counts:
                counts[r["tok"]] = int(r["n"])
        total = sum(counts.values())
        lt = mlog2_1024_py(total) if total > 0 else 0
        bits = sum(
            c * (lt - mlog2_1024_py(c)) for c in counts.values() if c > 0
        )
        rows.append((it, len(pieces), total, bits))
        if it < k:
            # SentencePiece-style shrinking schedule: keep the TOP
            # K = UNIGRAM_SEED >> (it+1) multi-char pieces by (usage
            # desc, piece asc) — 128/64/32 against the 256 seed, so by
            # the later rounds USED pieces are pruned and the encoder
            # genuinely re-segments (a fraction-of-inventory prune only
            # ever cleared never-used seeds: greedy longest-match usage
            # is sparse, ~36/204 multis used at sf0.001)
            keep_k = UNIGRAM_SEED >> (it + 1)
            multi = sorted(
                (-counts[p], p) for p in pieces if len(p) > 1
            )
            kept = {p for _, p in multi[:keep_k]}
            pieces = [p for p in pieces if len(p) == 1 or p in kept]
    return rows, pieces


def _unigram_seed_ctes(where: str) -> str:
    """Seed CTE chain: wrds (filtered word freq), pc0 (singles + top
    UNIGRAM_SEED substrings by weighted frequency, ties lexicographic)."""
    mw, mp, ns = UNIGRAM_MAX_WORD, UNIGRAM_MAX_PIECE, UNIGRAM_SEED
    return (
        "wrds AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f "
        "FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) "
        f"AS w FROM documents {where}) "
        f"WHERE len(w) BETWEEN 2 AND {mw} GROUP BY w), "
        "sub AS (SELECT substr(w, st, l) AS piece, "
        "CAST(sum(f) AS BIGINT) AS wcnt FROM "
        "(SELECT w, f, unnest(generate_series(1, len(w))) AS st FROM wrds) "
        f"CROSS JOIN (SELECT unnest(generate_series(2, {mp})) AS l) "
        "WHERE st + l - 1 <= len(w) GROUP BY piece), "
        "sg AS (SELECT DISTINCT substr(w, st, 1) AS piece FROM "
        "(SELECT w, unnest(generate_series(1, len(w))) AS st FROM wrds)), "
        "pc0 AS MATERIALIZED (SELECT piece FROM sg UNION ALL SELECT piece "
        f"FROM (SELECT piece FROM sub ORDER BY wcnt DESC, piece LIMIT {ns}))"
    )


def _unigram_walk_ctes(
    i: str, pieces: str, words: str, keys: str = ""
) -> str:
    """Greedy-walk CTE chain for one inventory: spans (best match per
    position), UNIGRAM_MAX_WORD chained cursor steps, and the token
    union ``tk{i}`` — MATERIALIZED throughout (each step is referenced
    by the next step AND the union; default inlining would expand the
    chain exponentially)."""
    mw, mp = UNIGRAM_MAX_WORD, UNIGRAM_MAX_PIECE
    klist = [k.strip() for k in keys.split(",") if k.strip()]
    kcols = "".join(k + ", " for k in klist)
    akcols = "".join("a." + k + ", " for k in klist)
    out = (
        f"sp{i} AS MATERIALIZED (SELECT q.w, q.st, max(len(q.cand)) AS bl "
        "FROM (SELECT w, st, substr(w, st, l) AS cand FROM "
        "(SELECT w, unnest(generate_series(1, len(w))) AS st FROM "
        f"(SELECT DISTINCT w FROM {words})) "
        f"CROSS JOIN (SELECT unnest(generate_series(1, {mp})) AS l) "
        "WHERE st + l - 1 <= len(w)) q "
        f"JOIN {pieces} p ON p.piece = q.cand GROUP BY q.w, q.st), "
        f"k{i}_0 AS (SELECT {kcols}w, f, 1 AS pos FROM {words})"
    )
    for s in range(1, mw + 1):
        out += (
            f", k{i}_{s} AS MATERIALIZED (SELECT {akcols}"
            "a.w, a.f, a.pos + coalesce(sp.bl, 1) AS pos, "
            "substr(a.w, a.pos, coalesce(sp.bl, 1)) AS tok "
            f"FROM k{i}_{s - 1} a LEFT JOIN sp{i} sp "
            "ON sp.w = a.w AND sp.st = a.pos WHERE a.pos <= len(a.w))"
        )
    union = " UNION ALL ".join(
        f"SELECT {kcols}f, tok FROM k{i}_{s}" for s in range(1, mw + 1)
    )
    out += f", tk{i} AS MATERIALIZED ({union})"
    return out


def _unigram_iter_ctes(i: int) -> str:
    """One trainer iteration: walk + counts over pc{i}, the mlog2
    milli-bit loss row st{i}, and the pruned inventory pc{i+1}."""
    steps = []
    for j in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(j)
        steps.append(
            f"mx{i}_{j} AS (SELECT kk, c, e, {m}, {f_} FROM mx{i}_{j - 1})"
        )
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    return (
        _unigram_walk_ctes(str(i), f"pc{i}", "wrds")
        + f", ct{i} AS MATERIALIZED (SELECT p.piece, "
        "CAST(coalesce(sum(t.f), 0) AS BIGINT) AS cnt "
        f"FROM pc{i} p LEFT JOIN tk{i} t ON t.tok = p.piece "
        "GROUP BY p.piece), "
        f"mx{i}_0 AS (SELECT kk, c, {seed} FROM "
        f"(SELECT piece AS kk, cnt AS c, cnt AS x FROM ct{i} WHERE cnt > 0 "
        "UNION ALL SELECT '#T', 0, "
        f"(SELECT coalesce(sum(cnt), 0) FROM ct{i}))), "
        + ", ".join(steps)
        + f", lg{i} AS MATERIALIZED (SELECT kk, c, "
        f"e * 1024 + f{_MLOG2_STEPS} AS lv FROM mx{i}_{_MLOG2_STEPS}), "
        f"st{i} AS (SELECT CAST({i} AS BIGINT) AS it, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM pc{i}) AS n_pieces, "
        f"(SELECT CAST(coalesce(sum(f), 0) AS BIGINT) FROM tk{i}) "
        "AS n_tokens, "
        "CAST(coalesce((SELECT sum(c * ((SELECT lv FROM "
        f"lg{i} WHERE kk = '#T') - lv)) FROM lg{i} WHERE kk != '#T'), 0) "
        "AS BIGINT) AS bits_1024), "
        f"rk{i} AS (SELECT piece, row_number() OVER "
        "(ORDER BY cnt DESC, piece) "
        f"AS rn FROM ct{i} WHERE len(piece) > 1), "
        f"pc{i + 1} AS MATERIALIZED (SELECT piece FROM ct{i} "
        "WHERE len(piece) = 1 UNION ALL SELECT piece FROM "
        f"rk{i} WHERE rn <= {UNIGRAM_SEED >> (i + 1)})"
    )


def unigram_train_shared(
    spark: SparkSession,
    docs: DataFrame,
    split: "str | None",
    k: int = UNIGRAM_ITERS,
):
    """Memoized :func:`unigram_train` keyed on (corpus frame, split, k)
    — ``split`` is None for the full corpus (the trajectory query) or
    ``'train90'`` for the doc_id % 10 != 0 split (the encode query's
    training side).  The trainer's E-step jobs and seed collects run
    once per corpus per split per session, however the two queries are
    interleaved; ``clear_shared_cache`` retrains."""
    where = None if split is None else F.col("doc_id") % 10 != 0
    return _memo.shared(
        docs,
        ("unigram", split, k),
        lambda: unigram_train(spark, _unigram_wordfreq(docs, where), k),
    )


def _unigram_train_oracle_sql(k: int = UNIGRAM_ITERS) -> str:
    sql = "WITH " + _unigram_seed_ctes("")
    for i in range(0, k + 1):
        sql += ", " + _unigram_iter_ctes(i)
    sql += " SELECT it, n_pieces, n_tokens, bits_1024 FROM (" + (
        " UNION ALL ".join(
            f"SELECT * FROM st{i}" for i in range(0, k + 1)
        )
    ) + ") ORDER BY it"
    return sql


@query("docs_unigram_lm_train", oracle=_unigram_train_oracle_sql())
def docs_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM (SentencePiece-style) tokenizer trainer (Kudo
    2018) — the second canonical trainer next to docs_bpe_training_loop:
    seed singles + the top-256 weighted substrings (length 2..4),
    then 3 hard-EM prune iterations (greedy longest-match E-step over
    the corpus word-frequency table, count-ranked shrink of the
    multi-char inventory to 128/64/32), emitting the bit-graded
    trajectory
    ``(it, n_pieces, n_tokens, bits_1024)`` where bits_1024 is the
    corpus's unigram negative log-likelihood in exact integer
    1/1024-bit units through the shared mlog2 chain.

    The oracle unrolls the ENTIRE trainer — seed, 4 greedy walks (16
    cursor-step CTEs each), counts, mlog2 loss, 3 prunes — so equality
    pins every iteration's inventory, token count, and loss bit, like
    the perceptron trajectory (docs.py:3676); an independent Python
    reference trainer pins the same trajectory in
    tests/test_training.py.

    Scale: see unigram_train / unigram_greedy_tokens — vocab-bounded
    state, broadcast inventory, one distributed E-step job per
    iteration, driver collects only the <= 282-row piece-count table;
    training runs once per corpus per session through the
    :func:`unigram_train_shared` memo (the perceptron's train-once
    design, shared with any future consumer of the trained inventory).
    """
    rows, _pieces = unigram_train_shared(
        spark, _t(spark, sf_dir, "documents"), None
    )
    return spark.createDataFrame(
        rows, "it bigint, n_pieces bigint, n_tokens bigint, bits_1024 bigint"
    ).orderBy("it")


def _unigram_encode_oracle_sql(k: int = UNIGRAM_ITERS) -> str:
    sql = "WITH " + _unigram_seed_ctes("WHERE doc_id % 10 != 0")
    for i in range(0, k + 1):
        sql += ", " + _unigram_iter_ctes(i)
    mw = UNIGRAM_MAX_WORD
    sql += (
        ", hw AS MATERIALIZED (SELECT source, w, "
        "CAST(count(*) AS BIGINT) AS f FROM "
        "(SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) "
        "AS w FROM documents WHERE doc_id % 10 = 0) "
        f"WHERE len(w) BETWEEN 2 AND {mw} GROUP BY source, w), "
        # the FINAL trained inventory is pc{k} (k prunes happen, at
        # it = 0..k-1); iteration k's CTE block also defines an unused
        # pc{k+1}, which must NOT be the one the held-out walk uses
        + _unigram_walk_ctes("h", f"pc{k}", "hw", keys="source")
        + " SELECT a.source, a.n_words, a.base_symbols, "
        "CAST(coalesce(b.toks, 0) AS BIGINT) AS unigram_tokens FROM "
        "(SELECT source, CAST(sum(f) AS BIGINT) AS n_words, "
        "CAST(sum(f * len(w)) AS BIGINT) AS base_symbols "
        "FROM hw GROUP BY source) a LEFT JOIN "
        "(SELECT source, sum(f) AS toks FROM tkh GROUP BY source) b "
        "ON a.source = b.source ORDER BY a.source"
    )
    return sql


@query("docs_unigram_lm_encode", oracle=_unigram_encode_oracle_sql())
def docs_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM round-trip closure (train -> APPLY), the tokenizer
    family's held-out grade for the second trainer: train the pruned
    inventory on the 90% split (doc_id % 10 != 0) with the shared
    unigram_train loop, then greedy-encode the HELD-OUT 10% with the
    FINAL inventory (including the single-char fallback for unseen
    characters), grading per-source word/symbol/token sums — the
    exact complement of docs_bpe_encode.

    Scale: the apply side is the same broadcast-inventory walk as the
    E-step (one bounded explode + two vocab-keyed aggregations + pure
    codegen cursor chain); only the final per-source rollup shuffles.
    """
    docs = _t(spark, sf_dir, "documents")
    _rows, pieces = unigram_train_shared(spark, docs, "train90")
    pieces_df = spark.createDataFrame(
        [(p,) for p in pieces] or [("",)], "piece string"
    )
    held = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select(
            "source",
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
            ).alias("w"),
        )
        .where(F.length("w").between(2, UNIGRAM_MAX_WORD))
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    toks = unigram_greedy_tokens(held, pieces_df, keys=("source",))
    stats_w = held.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n_words"),
        F.sum(F.col("f") * F.length("w")).cast("bigint").alias("base_symbols"),
    )
    stats_t = toks.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("toks")
    )
    return (
        stats_w.join(stats_t, "source", "left")
        .select(
            "source",
            "n_words",
            "base_symbols",
            F.coalesce("toks", F.lit(0)).cast("bigint").alias("unigram_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage data selection (the lazy-greedy/facility-location
# family used for training-subset selection): iteratively pick the doc
# whose distinct tokens add the most NOT-YET-COVERED vocabulary.  The
# classic submodular-maximization greedy carries the (1 - 1/e)
# approximation guarantee, and its trajectory is fully deterministic
# under (gain DESC, doc_id ASC) tie-breaking — so it is bit-gradable
# by an unrolled-CTE oracle like the other iterative trainers.
# ---------------------------------------------------------------------------

COVERAGE_GREEDY_K = 8

# Adaptive driver cutover (see docs_coverage_greedy_selection): corpora
# whose distinct (doc_id, token) table probes at or under this many rows
# run the greedy on the driver (one limit-capped collect, ~tens of MB at
# the cap); above it the distributed per-iteration loop runs.  The cap
# bounds driver memory by construction, never by data size.
# Measured (sf0.1, start_session() on local[4], memos cleared before
# each run, warm median of 3, jobs per job group, outputs equal):
# docs_coverage_greedy_selection 2.26 s / 8 jobs on the driver side vs
# 3.36 s / 37 jobs at cap 0.  The driver side stays at sf0.1; the 3x /
# 10x sizes are not measured.
_COVERAGE_DRIVER_CAP = 1_000_000


def _coverage_greedy_oracle_sql(k: int = COVERAGE_GREEDY_K) -> str:
    sql = (
        # coverage units are word BIGRAMS: the synthetic corpus's
        # unigram vocabulary is ~31 tokens (one doc covers it all and
        # the greedy would terminate after a single pick); the bigram
        # universe is ~1k units at sf0.01 and composition-diverse, so
        # all 8 iterations carry signal
        "WITH w AS (SELECT doc_id, "
        "regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents), "
        "dt AS MATERIALIZED (SELECT DISTINCT doc_id, "
        "ws[i] || ' ' || ws[i + 1] AS tok FROM "
        "(SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i "
        "FROM w)), "
        "cov0 AS (SELECT tok FROM dt WHERE 1 = 0)"
    )
    for i in range(1, k + 1):
        sql += (
            f", g{i} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain "
            f"FROM dt WHERE tok NOT IN (SELECT tok FROM cov{i - 1}) "
            "GROUP BY doc_id), "
            f"p{i} AS MATERIALIZED (SELECT doc_id, gain FROM g{i} "
            "ORDER BY gain DESC, doc_id LIMIT 1), "
            f"cov{i} AS MATERIALIZED (SELECT tok FROM cov{i - 1} "
            "UNION SELECT tok FROM dt "
            f"WHERE doc_id IN (SELECT doc_id FROM p{i})), "
            f"st{i} AS (SELECT CAST({i} AS BIGINT) AS it, "
            f"CAST(doc_id AS BIGINT) AS doc_id, gain, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM cov{i}) AS covered_total "
            f"FROM p{i})"
        )
    sql += (
        " SELECT it, doc_id, gain, covered_total FROM ("
        + " UNION ALL ".join(f"SELECT * FROM st{i}" for i in range(1, k + 1))
        + ") ORDER BY it"
    )
    return sql


@query("docs_coverage_greedy_selection", oracle=_coverage_greedy_oracle_sql())
def docs_coverage_greedy_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy max-coverage subset selection over the corpus vocabulary
    — the submodular data-selection primitive (select the k docs that
    together cover the most distinct word BIGRAMS; each step takes the
    doc with the largest MARGINAL gain, ties to the smallest doc_id).
    Emits the selection trajectory ``(it, doc_id, gain,
    covered_total)`` for it = 1..8, where covered_total is the
    covered-vocabulary size after the pick — the greedy invariant
    covered_total = sum of gains is pinned because the oracle computes
    the count from its materialized covered set, not the running sum.

    Scale: the distinct (doc_id, token) table is localCheckpoint'd
    once (one corpus pass); each iteration is ONE distributed job — a
    broadcast LEFT ANTI join against the covered-token set (bounded by
    the vocabulary of the <= 8 winners, built IN-PLAN from the winner
    ids, never collected) feeding a partial-aggregated per-doc count
    and a 1-row TakeOrdered argmax (the only collect, the sanctioned
    iterative-trainer shape).  The unrolled-CTE oracle re-runs the
    whole selection declaratively, so every pick, gain, and coverage
    count is bit-graded.

    Adaptive single-task cutover (r14, the components/BPE-trainer
    cap pattern): when the checkpointed (doc_id, token) table counts
    at or under _COVERAGE_DRIVER_CAP rows, the 8 picks run inside ONE
    Arrow task (coalesce(1) + mapInPandas over the memoized dt — rows
    ship to the worker as Arrow batches, only the <= 8 trajectory rows
    come back) with an inverted-index incremental greedy: each (doc,
    token) pair is decremented from its doc's gain AT MOST ONCE across
    all iterations (O(|dt|) total work), argmax ties break (gain DESC,
    doc_id ASC) exactly like the TakeOrdered — the same trajectory,
    one job instead of 8 serialized agg+argmax round trips.  Above the
    cap the distributed loop below runs unchanged (at 100 TB dt is
    corpus-sized and the coalesce never happens).
    """
    docs = _t(spark, sf_dir, "documents")

    def build_dt() -> DataFrame:
        return (
            docs.select(
                "doc_id",
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z]+"), 0
                ).alias("ws"),
            )
            # guard BEFORE the sequence: Spark's sequence(0, -1) DESCENDS
            # where DuckDB's generate_series(1, 0) is empty
            .where(F.size("ws") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(ws) - 2), "
                        "i -> concat(ws[i], ' ', ws[i + 1]))"
                    )
                ).alias("tok"),
            )
            .distinct()
        )

    # corpus-derived, parameterless -> session memo (r14; the per-call
    # checkpoint meant every bench run re-tokenized and re-distinct'd
    # the corpus, which dominated the wall once the greedy itself moved
    # to the capped driver path)
    dt = _dd._shared_checkpoint(docs, ("coverage_bigram_dt",), build_dt)
    winners: list[int] = []
    rows: list[tuple[int, int, int, int]] = []
    covered_total = 0
    if dt.count() <= _COVERAGE_DRIVER_CAP:
        k_picks = COVERAGE_GREEDY_K

        def greedy_kernel(batches):
            import pandas as _pd
            from collections import defaultdict

            doc_toks: dict = defaultdict(list)
            tok_docs: dict = defaultdict(list)
            gain: dict = defaultdict(int)
            for pdf in batches:
                for d_, t_ in zip(pdf["doc_id"], pdf["tok"]):
                    d_ = int(d_)
                    doc_toks[d_].append(t_)
                    tok_docs[t_].append(d_)
                    gain[d_] += 1
            out = []
            covered: set = set()
            total = 0
            for it_ in range(1, k_picks + 1):
                cands = [(g_, d_) for d_, g_ in gain.items() if g_ >= 1]
                if not cands:  # vocabulary exhausted: same shorter
                    break  # trajectory as the distributed loop
                g_, d_ = min(cands, key=lambda gd: (-gd[0], gd[1]))
                total += g_
                out.append((it_, d_, g_, total))
                for t_ in doc_toks[d_]:
                    if t_ not in covered:
                        covered.add(t_)
                        for od in tok_docs[t_]:
                            gain[od] -= 1
            if out:
                yield _pd.DataFrame(
                    {
                        "it": _pd.Series([o[0] for o in out], dtype="int64"),
                        "doc_id": _pd.Series(
                            [o[1] for o in out], dtype="int64"
                        ),
                        "gain": _pd.Series([o[2] for o in out], dtype="int64"),
                        "covered_total": _pd.Series(
                            [o[3] for o in out], dtype="int64"
                        ),
                    }
                )

        rows = [
            (int(r.it), int(r.doc_id), int(r.gain), int(r.covered_total))
            for r in dt.coalesce(1)
            .mapInPandas(
                greedy_kernel,
                "it bigint, doc_id bigint, gain bigint, covered_total bigint",
            )
            .collect()
        ]
        return spark.createDataFrame(
            rows, "it bigint, doc_id bigint, gain bigint, covered_total bigint"
        ).orderBy("it")
    for it in range(1, COVERAGE_GREEDY_K + 1):
        if winners:
            cov = (
                dt.where(F.col("doc_id").isin(winners))
                .select("tok")
                .distinct()
            )
            remaining = dt.join(F.broadcast(cov), "tok", "left_anti")
        else:
            remaining = dt
        best = (
            remaining.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary exhausted: both engines emit the
            break  # same shorter trajectory
        d, g = int(best[0]["doc_id"]), int(best[0]["gain"])
        winners.append(d)
        covered_total += g
        rows.append((it, d, g, covered_total))
    return spark.createDataFrame(
        rows, "it bigint, doc_id bigint, gain bigint, covered_total bigint"
    ).orderBy("it")
