"""Text-analysis functions for training-data pipelines (SURVEY.md §2 C6).

Everything here is native Column expressions — no Python in the hot path,
so a 100 TB corpus pass stays inside whole-stage codegen.  Semantics are
deliberately expressible in portable SQL (same regexes, same CASE chains)
so every operator has a bit-exact DuckDB oracle.

Operators:
- token counting: whitespace tokens and a BPE-ish regex segmentation
  (letter runs / digit runs / single punctuation marks — the shape GPT-2's
  pre-tokenizer produces, minus lookahead, which RE2 lacks);
- language ID: script detection by codepoint range (CJK, kana, hangul,
  cyrillic, arabic, greek) with stopword voting among latin languages;
- quality scoring: length/punctuation/stopword/repetition features
  combined into a [0,1] score (the C4-style heuristic filter stack);
- fingerprinting: polynomial rolling hash over UTF-8 bytes (mod 2^61-1
  free since values stay < 2^63 via mod 2^31-1 each step).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

__all__ = [
    "ws_token_count",
    "bpe_ish_token_count",
    "language_id_col",
    "quality_features",
    "quality_score_col",
    "repetition_stats",
    "tfidf_top_terms",
    "bm25_topk",
    "bigram_lift_top",
    "STOPWORDS",
]

# BPE-ish pre-tokenization: letter runs, digit runs, single non-alnum marks.
BPE_ISH_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Small, deterministic stopword lists for latin-script voting.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "las", "un", "una"),
    "fr": ("le", "la", "les", "des", "et", "un", "une", "du", "est", "dans"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"),
}

# Codepoint ranges by script (literal ranges work identically in Java
# regex and RE2 — no \p{script=...} syntax divergence).
_SCRIPT_RANGES = {
    "zh": "一-鿿",
    "ja": "぀-ヿ",
    "ko": "가-힯",
    "ru": "Ѐ-ӿ",
    "ar": "؀-ۿ",
    "el": "Ͱ-Ͽ",
}


def ws_token_count(text: Column) -> Column:
    """Number of whitespace-separated tokens (runs of non-space)."""
    return F.size(F.regexp_extract_all(text, F.lit("[^ ]+"), 0))


def bpe_ish_token_count(text: Column) -> Column:
    """Number of BPE-ish pre-tokens (letter/digit runs + punct marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_REGEX), 0))


def _script_count(text: Column, ranges: str) -> Column:
    """How many characters of ``text`` fall in the codepoint ranges."""
    return F.length(text) - F.length(
        F.regexp_replace(text, f"[{ranges}]", "")
    )


def _stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Occurrences (with multiplicity) of the stopwords among lowercase
    whitespace tokens."""
    toks = F.split(F.lower(text), " ")
    return F.size(F.filter(toks, lambda w: w.isin(*words)))


def language_id_col(text: Column) -> Column:
    """Heuristic language ID: script ranges first, stopword vote within
    latin scripts, 'und' (undetermined) when nothing fires.

    The CASE chain is strictly ordered so the same expression in DuckDB
    SQL (oracle_text.language_id_sql) decides identically.
    """
    n = F.greatest(F.length(text), F.lit(1))
    script_ratio = {
        lang: _script_count(text, r) / n for lang, r in _SCRIPT_RANGES.items()
    }
    votes = {lang: _stopword_hits(text, ws) for lang, ws in STOPWORDS.items()}
    best_latin = (
        F.when(
            (votes["es"] > votes["en"])
            & (votes["es"] >= votes["fr"])
            & (votes["es"] >= votes["de"]),
            "es",
        )
        .when(
            (votes["fr"] > votes["en"]) & (votes["fr"] >= votes["de"]),
            "fr",
        )
        .when(votes["de"] > votes["en"], "de")
        .when(votes["en"] > 0, "en")
        .otherwise("und")
    )
    expr = F.when(script_ratio["zh"] > 0.3, "zh")
    for lang in ("ja", "ko", "ru", "ar", "el"):
        expr = expr.when(script_ratio[lang] > 0.3, lang)
    return expr.otherwise(best_latin)


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-row quality feature columns (all exact-integer-derived ratios).

    Adds: n_chars_q, n_tokens, mean_token_len, punct_ratio, digit_ratio,
    upper_ratio, stop_ratio, repetition_ratio.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = F.size(F.regexp_extract_all(text, F.lit("[^ ]+"), 0))
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, r"[^\p{L}\p{N} ]", "")
    )
    n_digit = F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))
    n_upper = F.length(text) - F.length(F.regexp_replace(text, "[A-Z]", ""))
    n_stop = _stopword_hits(text, STOPWORDS["en"])
    n_distinct = F.size(F.array_distinct(F.regexp_extract_all(text, F.lit("[^ ]+"), 0)))
    # round via integer scaling: cross-engine safe (see plans/catalog.py)
    safe = lambda num, den: F.round((num / F.greatest(den, F.lit(1))) * 10000) / 10000
    return df.withColumns(
        {
            "n_chars_q": n_chars,
            "n_tokens": n_tokens,
            "mean_token_len": safe(n_chars - (n_tokens - 1), n_tokens),
            "punct_ratio": safe(n_punct, n_chars),
            "digit_ratio": safe(n_digit, n_chars),
            "upper_ratio": safe(n_upper, n_chars),
            "stop_ratio": safe(n_stop, n_tokens),
            "repetition_ratio": safe(n_tokens - n_distinct, n_tokens),
        }
    )


def quality_score_col() -> Column:
    """Combine quality_features columns into a [0,1] score.

    score = 0.25*len_ok + 0.25*(1-repetition) + 0.25*stop_presence
          + 0.25*(1-punct_excess); each term already in [0,1] from exact
    ratios, so the weighted sum is reproducible in SQL verbatim.
    """
    len_ok = F.when(
        (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    rep_ok = F.lit(1.0) - F.col("repetition_ratio")
    stop_presence = F.least(F.col("stop_ratio") * 5, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(F.col("punct_ratio") * 4, F.lit(1.0))
    score = 0.25 * len_ok + 0.25 * rep_ok + 0.25 * stop_presence + 0.25 * punct_ok
    return F.round(score * 10000) / 10000


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality metrics per document.

    For each doc: token count, distinct-token count, the most frequent
    token's share, and the duplicate-2-gram fraction — the repetition
    filters (Rae et al. 2021 §A1.1) every pretraining pipeline applies
    before training.  Ratios are integer basis points (floor division),
    cross-engine exact.

    Scale: both aggregations are keyed by (doc_id, token) then doc_id —
    partial aggregation combines map-side, the shuffle carries counts
    (not text), and no join crosses documents.  The two per-doc aggregate
    branches join on doc_id (co-partitioned by the groupBy shuffle).
    """
    from duckdb_cluster_hash_spark.operators.dedup import word_ngrams_seq

    spread = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    toks = spread.select(
        "doc_id", F.explode(F.split(F.col("_text"), " ")).alias("tok")
    )
    tok_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").cast("long").alias("max_tok"),
        )
    )
    grams = spread.select(
        "doc_id", F.explode(word_ngrams_seq(F.col("_text"), 2)).alias("gram")
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.count("*").alias("n_distinct_grams"),
        )
    )
    joined = tok_stats.join(gram_stats, "doc_id")
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.floor((F.lit(10000) * F.col("max_tok")) / F.col("n_tokens"))
        .cast("long")
        .alias("top_token_bp"),
        F.floor(
            (F.lit(10000) * (F.col("n_grams") - F.col("n_distinct_grams")))
            / F.col("n_grams")
        )
        .cast("long")
        .alias("dup_2gram_bp"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` most characteristic terms per group by an integer TF-IDF.

    score = (tf_in_group * n_docs_total) // df_term — a rarity-weighted
    term frequency kept in exact integer arithmetic (no log, no float)
    so both engines rank identically; ties break on the term string.

    Scale: tf is a (group, term) partial-aggregated count; df is a
    distinct (doc, term) count keyed by term; the tf⋈df join is keyed on
    the term (hash join, never broadcast — vocabulary grows with the
    corpus); the final window ranks within groups over |groups|·|vocab|
    aggregated rows, a tiny fraction of the input tokens.
    """
    from pyspark.sql.window import Window as W

    base = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    n_docs = df.count()
    tf = base.groupBy("grp", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        base.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = tf.join(dfreq, "term").select(
        "grp",
        "term",
        F.floor((F.col("tf") * F.lit(n_docs)) / F.col("df"))
        .cast("long")
        .alias("score"),
    )
    w = W.partitionBy("grp").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("grp"),
            F.col("rank").cast("int").alias("rank"),
            "term",
            "score",
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents for a keyword query by an integer BM25.

    Classic BM25 (k1=1.2, b=0.75) with two engine-portability changes,
    both monotone in the same direction as the original:

    - idf is the log's ARGUMENT kept in milli-units,
      ``idf_x1000 = ((N - df + 1) * 1000) div (df + 1)`` — rarity-ordered
      exactly like ``log((N-df+0.5)/(df+0.5))`` without a cross-engine
      transcendental;
    - the tf saturation / length normalization runs entirely in scaled
      integer division (milli-units), so Spark ``div`` and DuckDB ``//``
      produce bit-identical scores (doubles never appear).

    score(doc) = sum over query terms of
      ``(idf_x1000 * tf * 2200) div (tf*1000 + (1200 * (250 + (750 *
      dl_ratio_x1000) div 1000)) div 1000)``
    where ``dl_ratio_x1000 = (dl * 1000000) div avgdl_x1000``.

    Scale: tokens are filtered to the query vocabulary INSIDE the token
    array (higher-order ``filter`` before ``explode``), so the exploded
    row count is per-query hits, not the corpus token count; the df table
    is <= |query| rows (broadcast); tf joins doc lengths on the id key.
    Magnitudes stay < 2^63 while N*1000*max_tf*2200 does (N up to ~1e12
    at realistic tf) — far beyond any single corpus shard.
    """
    terms = sorted(set(query_terms))
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
    base = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    )
    lengths = base.select(
        "doc_id", F.size("toks").cast("bigint").alias("dl")
    )
    tot_dl, n_docs = lengths.agg(
        F.sum("dl").cast("bigint"), F.count("*").cast("bigint")
    ).head()
    # exact integer milli-average; Python // == SQL div for positives
    avgdl_x1000 = max(1, (int(tot_dl) * 1000) // int(n_docs))

    term_set = F.array(*[F.lit(t) for t in terms])
    hits = base.select(
        "doc_id",
        F.explode(
            F.filter("toks", lambda x: F.array_contains(term_set, x))
        ).alias("term"),
    )
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    dfreq = (
        hits.distinct()
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    from pyspark.sql.functions import broadcast

    scored = (
        tf.join(broadcast(dfreq), "term")
        .join(lengths, "doc_id")
        .withColumn(
            "s",
            F.expr(
                f"((({n_docs} - df + 1) * 1000) div (df + 1)) * tf * 2200 div "
                f"(tf * 1000 + (1200 * (250 + (750 * "
                f"((dl * 1000000) div {avgdl_x1000})) div 1000)) div 1000)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("s").cast("bigint").alias("score"),
            F.count("*").cast("bigint").alias("n_hit_terms"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
) -> str:
    """DuckDB oracle for :func:`bm25_topk` — same integer recurrence."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (
        f"WITH t AS (SELECT {id_col} AS doc_id, "
        f"regexp_extract_all(lower({text_col}), '[a-z]+') AS toks "
        f"FROM {table}), "
        "l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t), "
        "g AS (SELECT greatest(1, (CAST(sum(dl) AS BIGINT) * 1000) // "
        "count(*)) AS avgdl_x1000, CAST(count(*) AS BIGINT) AS n FROM l), "
        "h AS (SELECT doc_id, unnest(list_filter(toks, "
        f"x -> x IN ({in_list}))) AS term FROM t), "
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
        "FROM h GROUP BY doc_id, term), "
        "df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df "
        "FROM h GROUP BY term), "
        "s AS (SELECT tf.doc_id, "
        "(((g.n - df.df + 1) * 1000) // (df.df + 1)) * tf.tf * 2200 // "
        "(tf.tf * 1000 + (1200 * (250 + (750 * "
        "((l.dl * 1000000) // g.avgdl_x1000)) // 1000)) // 1000) AS s "
        "FROM tf JOIN df USING (term) JOIN l USING (doc_id) CROSS JOIN g) "
        "SELECT doc_id, CAST(sum(s) AS BIGINT) AS score, "
        "CAST(count(*) AS BIGINT) AS n_hit_terms FROM s GROUP BY doc_id "
        f"ORDER BY score DESC, doc_id LIMIT {k}"
    )


def bigram_lift_top(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Top-``k`` word-bigram collocations by integer lift.

    lift_x1000 = ``(c_xy * B * 1000) div (c_x * c_y)`` — PMI's argument
    (P(xy)/(P(x)P(y))) in milli-units; ranking by lift is ranking by PMI
    (log is monotone) without a cross-engine transcendental.  ``B`` is
    the corpus bigram total, ``c_x``/``c_y`` unigram counts, and a
    ``min_count`` floor drops the unstable singleton tail.

    Scale: bigrams materialize as (w1, w2) pairs straight off each token
    array (map-side ``transform`` over the array, no self-join); the two
    unigram joins key on the word with NO forced broadcast — Catalyst
    broadcasts while the vocabulary fits the threshold and falls back to
    a shuffle join once it outgrows it (Heaps' law: vocab grows
    sublinearly but unboundedly).  B comes from a separate one-pass sum
    of per-doc (len-1), not a second scan of the pair table.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
    base = df.repartition(F.col(id_col)).select(toks.alias("t"))
    btot = int(
        base.agg(
            F.sum(
                F.when(F.size("t") >= 2, F.size("t") - 1).otherwise(F.lit(0))
            ).cast("bigint")
        ).head()[0]
    )
    pairs = (
        base.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1), "
                    "(x, i) -> struct(x AS w1, t[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cb = pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c_xy")
    )
    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    scored = (
        cb.where(F.col("c_xy") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .withColumn(
            "lift_x1000", F.expr(f"(c_xy * {btot} * 1000) div (c1 * c2)")
        )
    )
    return (
        scored.select("w1", "w2", "c_xy", "lift_x1000")
        .orderBy(F.desc("lift_x1000"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def bigram_lift_top_sql(
    table: str, id_col: str, text_col: str, k: int = 20, min_count: int = 5
) -> str:
    """DuckDB oracle for :func:`bigram_lift_top` — same integer lift."""
    return (
        f"WITH t AS (SELECT regexp_extract_all(lower({text_col}), "
        f"'[a-z]+') AS t FROM {table}), "
        "bt AS (SELECT CAST(sum(CASE WHEN len(t) >= 2 THEN len(t) - 1 "
        "ELSE 0 END) AS BIGINT) AS btot FROM t), "
        "bi AS (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i "
        "FROM t WHERE len(t) >= 2), "
        "b AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM bi), "
        "cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM b "
        "GROUP BY w1, w2), "
        "u AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM "
        "(SELECT unnest(t) AS w FROM t) GROUP BY w) "
        "SELECT cb.w1, cb.w2, cb.c_xy, "
        "(cb.c_xy * bt.btot * 1000) // (u1.c * u2.c) AS lift_x1000 "
        "FROM cb JOIN u u1 ON cb.w1 = u1.w JOIN u u2 ON cb.w2 = u2.w "
        f"CROSS JOIN bt WHERE cb.c_xy >= {min_count} "
        f"ORDER BY lift_x1000 DESC, w1, w2 LIMIT {k}"
    )


def rolling_hash_pudf(base: int = 31, mod: int = 2147483647):
    """Polynomial rolling hash over the UTF-8 bytes of a text column.

    h_{i+1} = (h_i * base + byte_i) mod ``mod`` — a classic Rabin-Karp
    document fingerprint (0 for the empty string, NULL for NULL),
    computed positionally in numpy: one vectorized update per byte
    position across the Arrow batch.  Intermediate h*base + b < 2^36,
    safely inside int64.  ``oracle_text.rolling_hash_sql`` is the DuckDB
    twin.
    """
    @F.pandas_udf(LongType())
    def _rh(texts: pd.Series) -> pd.Series:
        valid = texts.notna()
        out = pd.Series(np.zeros(len(texts), dtype=np.int64), index=texts.index)
        if valid.any():
            encoded = [t.encode("utf-8") for t in texts[valid]]
            n = len(encoded)
            lens = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=n)
            flat = np.frombuffer(b"".join(encoded), dtype=np.uint8)
            offs = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            h = np.zeros(n, dtype=np.int64)
            for pos in range(int(lens.max()) if n else 0):
                active = lens > pos
                h[active] = (
                    h[active] * base + flat[offs[active] + pos]
                ) % mod
            out[valid] = h
        out[~valid] = None
        return out

    return _rh
