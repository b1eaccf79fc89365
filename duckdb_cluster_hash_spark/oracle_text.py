"""Generated DuckDB oracle SQL for the text/dedup/similarity operators.

Each builder mirrors, in pure DuckDB SQL, the exact algorithm of the
corresponding Spark operator in operators/dedup.py / operators/similarity.py
— same shingling, same md5-derived 60-bit hashes, same LSH banding, same
majority-vote SimHash — so the driver's value-hash comparison checks the
*algorithm*, not just row counts.
"""

from __future__ import annotations


def shingles_cte(n: int = 3, table: str = "documents") -> str:
    """CTEs producing ``shingled(doc_id, sh)``: distinct word n-gram lists.

    Matches operators.dedup.word_ngrams: texts shorter than n words fall
    back to a single whole-text shingle.
    """
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return (
        f"words AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM {table}), "
        f"shingled AS (SELECT doc_id, CASE WHEN len(ws) >= {n} THEN "
        f"list_distinct([{gram} FOR i IN range(1, len(ws) - {n - 2})]) "
        f"ELSE [text] END AS sh FROM words)"
    )


_JACC = "(round((CAST(inter AS DOUBLE) / (size_a + size_b - inter)) * 10000) / 10000)"


def ngram_jaccard_pairs_sql(n: int = 3, threshold: float = 0.2) -> str:
    """All-pairs word-n-gram Jaccard >= threshold (cross-join oracle)."""
    return (
        f"WITH {shingles_cte(n)}, "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "len(list_intersect(a.sh, b.sh)) AS inter, "
        "len(a.sh) AS size_a, len(b.sh) AS size_b "
        "FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, {_JACC} AS jacc "
        f"FROM pairs WHERE {_JACC} >= {threshold}"
    )


def minhash_bands_cte(n: int = 3, k: int = 16, bands: int = 8, rows: int = 2) -> str:
    """CTE chain ending in ``bands(doc_id, band_hash)``: shingles ->
    Kirsch-Mitzenmacher double-hashed MinHash signatures -> LSH band
    digests, mirroring the Spark operator bit-for-bit (one md5 per
    shingle, g_i = h1 + i*h2 with h2 truncated to 58 bits, band digest
    md5('j|mh_a,mh_b'))."""
    mh_aggs = ", ".join(f"min(h1 + {i} * h2) AS mh{i}" for i in range(k))
    band_list = ", ".join(
        f"md5('{j}|' || "
        + " || ',' || ".join(f"mh{j * rows + r}::VARCHAR" for r in range(rows))
        + ")"
        for j in range(bands)
    )
    return (
        f"{shingles_cte(n)}, "
        "sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled), "
        "hashed AS (SELECT doc_id, "
        "('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1, "
        f"('0x' || substr(md5(shingle), 17, 15))::BIGINT % {1 << 58} AS h2 "
        "FROM sh), "
        f"mh AS (SELECT doc_id, {mh_aggs} FROM hashed GROUP BY doc_id), "
        f"bands AS (SELECT doc_id, unnest([{band_list}]) AS band_hash FROM mh)"
    )


def minhash_neardup_pairs_sql(
    n: int = 3, k: int = 16, bands: int = 8, rows: int = 2, threshold: float = 0.2
) -> str:
    """MinHash signatures -> LSH band collisions -> exact-Jaccard verify.

    Mirrors the Spark operator's Kirsch-Mitzenmacher double hashing:
    one md5 per shingle, g_i = h1 + i*h2 with h2 truncated to 58 bits.
    """
    return (
        f"WITH {minhash_bands_cte(n, k, bands, rows)}, "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band_hash = b.band_hash AND a.doc_id < b.doc_id), "
        "verified AS (SELECT doc_a, doc_b, "
        "len(list_intersect(sa.sh, sb.sh)) AS inter, "
        "len(sa.sh) AS size_a, len(sb.sh) AS size_b "
        "FROM cand JOIN shingled sa ON cand.doc_a = sa.doc_id "
        "JOIN shingled sb ON cand.doc_b = sb.doc_id) "
        f"SELECT doc_a, doc_b, {_JACC} AS jacc "
        f"FROM verified WHERE {_JACC} >= {threshold}"
    )


def minhash_incremental_neardup_sql(
    n: int = 3, k: int = 16, bands: int = 8, rows: int = 2, threshold: float = 0.2
) -> str:
    """Incremental near-dup accounting: the odd-doc_id batch against
    the even-doc_id base, NEVER base-vs-base.  Shares the exact
    signature/banding arithmetic with :func:`minhash_neardup_pairs_sql`;
    candidates are band collisions where the pair involves at least one
    incoming doc (inc-vs-base keeps the inc side as ``inc_id``;
    inc-vs-inc keeps the LARGER id as ``inc_id`` — the later arrival is
    the duplicate under first-wins), each verified with exact Jaccard.
    Per-source bill over ALL incoming docs: already-near-base /
    near-dup-of-an-earlier-incoming / genuinely new."""
    jacc = "(round((CAST(inter AS DOUBLE) / (sa + sb - inter)) * 10000) / 10000)"
    return (
        f"WITH {minhash_bands_cte(n, k, bands, rows)}, "
        "cvb AS (SELECT DISTINCT i.doc_id AS inc_id, b.doc_id AS other_id, "
        "1 AS is_base FROM bands i JOIN bands b ON i.band_hash = b.band_hash "
        "WHERE i.doc_id % 2 = 1 AND b.doc_id % 2 = 0), "
        "cwi AS (SELECT DISTINCT l.doc_id AS inc_id, e.doc_id AS other_id, "
        "0 AS is_base FROM bands e JOIN bands l ON e.band_hash = l.band_hash "
        "AND e.doc_id < l.doc_id "
        "WHERE e.doc_id % 2 = 1 AND l.doc_id % 2 = 1), "
        "cand AS (SELECT * FROM cvb UNION ALL SELECT * FROM cwi), "
        "ver AS (SELECT c.inc_id, c.is_base, "
        "len(list_intersect(si.sh, so.sh)) AS inter, "
        "len(si.sh) AS sa, len(so.sh) AS sb "
        "FROM cand c JOIN shingled si ON si.doc_id = c.inc_id "
        "JOIN shingled so ON so.doc_id = c.other_id), "
        "hits AS (SELECT inc_id, max(is_base) AS vs_base, "
        "max(1 - is_base) AS within FROM ver "
        f"WHERE {jacc} >= {threshold} GROUP BY inc_id) "
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_incoming, "
        "CAST(sum(CASE WHEN h.vs_base = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_neardup_vs_base, "
        "CAST(sum(CASE WHEN coalesce(h.vs_base, 0) = 0 "
        "AND h.within = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_within, "
        "CAST(sum(CASE WHEN coalesce(h.vs_base, 0) = 0 "
        "AND coalesce(h.within, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_new FROM (SELECT doc_id, source FROM documents "
        "WHERE doc_id % 2 = 1) d LEFT JOIN hits h ON h.inc_id = d.doc_id "
        "GROUP BY d.source ORDER BY d.source"
    )


def simhash_signatures_cte(table: str = "documents") -> str:
    """CTEs producing ``simhash(doc_id, simhash_lo, simhash_hi)``."""
    sums = ", ".join(
        f"sum((hlo >> {b}) & 1) AS lo{b}, sum((hhi >> {b}) & 1) AS hi{b}"
        for b in range(32)
    )
    lo = " + ".join(
        f"((CASE WHEN 2 * lo{b} > n_tok THEN 1 ELSE 0 END)::BIGINT << {b})"
        for b in range(32)
    )
    hi = " + ".join(
        f"((CASE WHEN 2 * hi{b} > n_tok THEN 1 ELSE 0 END)::BIGINT << {b})"
        for b in range(32)
    )
    return (
        f"tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM {table}), "
        "h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hlo, "
        "('0x' || substr(md5(w), 9, 8))::BIGINT AS hhi FROM tok), "
        f"hagg AS (SELECT doc_id, count(*) AS n_tok, {sums} FROM h GROUP BY doc_id), "
        f"simhash AS (SELECT doc_id, {lo} AS simhash_lo, {hi} AS simhash_hi FROM hagg)"
    )


def simhash_signatures_sql(table: str = "documents") -> str:
    return f"WITH {simhash_signatures_cte(table)} SELECT * FROM simhash"


def simhash_neardup_pairs_sql(max_hamming: int = 6, table: str = "documents") -> str:
    """All pairs with SimHash Hamming distance <= max_hamming."""
    return (
        f"WITH {simhash_signatures_cte(table)} "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "(bit_count(xor(a.simhash_lo, b.simhash_lo)) + "
        "bit_count(xor(a.simhash_hi, b.simhash_hi)))::INTEGER AS hamming "
        "FROM simhash a JOIN simhash b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash_lo, b.simhash_lo)) + "
        f"bit_count(xor(a.simhash_hi, b.simhash_hi)) <= {max_hamming}"
    )


def dedup_representatives_sql(table: str = "documents") -> str:
    return (
        f"SELECT md5(text) AS dup_hash, min(doc_id) AS keep_id, "
        f"count(*) AS n_copies FROM {table} GROUP BY md5(text)"
    )


def cosine_topk_sql(query_vec_id: int = 0, k: int = 10, dim: int = 64) -> str:
    """Brute-force cosine top-k against one stored vector.

    Dot/norm are sequential left-folds (list_reduce) over float->double
    casts, matching Spark's F.aggregate fold order bit-for-bit.
    """
    def dot(u: str, v: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    return (
        f"WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}) "
        "SELECT vec_id, label, "
        f"(round(({dot('embedding', 'qv')} / "
        f"sqrt({dot('embedding', 'embedding')} * {dot('qv', 'qv')})) * 1000000) / 1000000) AS cos_sim "
        "FROM embeddings, q "
        f"ORDER BY cos_sim DESC, vec_id LIMIT {k}"
    )


def emb_lsh_neardup_sql(
    threshold: float = 0.45,
    planes: int = 5,
    tables: int = 12,
    dim: int = 64,
) -> str:
    """Oracle for operators.similarity.embedding_neardup_pairs_lsh.

    Recomputes the md5-derived hyperplane weights (h60/2^59 - 1), the
    sequential-fold projections, the (table, bucket) candidate join and
    the exact-cosine verify — entirely in SQL, bit-identical to Spark.
    """
    w_expr = (
        "('0x' || substr(md5(t::VARCHAR || '|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15))::BIGINT"
        f" / {2**59}.0 - 1.0"
    )
    proj = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"[e.embedding[i]::DOUBLE * p.w[i] FOR i IN range(1, {dim + 1})]), "
        "(acc, x) -> acc + x)"
    )

    def dot(u: str, v: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}.embedding[i]::DOUBLE * {v}.embedding[i]::DOUBLE "
            f"FOR i IN range(1, {dim + 1})]), (acc, x) -> acc + x)"
        )

    cos = (
        f"(round(({dot('va', 'vb')} / "
        f"sqrt({dot('va', 'va')} * {dot('vb', 'vb')})) * 1000000) / 1000000)"
    )
    return (
        "WITH planes AS (SELECT t, p, "
        f"[{w_expr} FOR i IN range(1, {dim + 1})] AS w "
        f"FROM range({tables}) tt(t), range({planes}) pp(p)), "
        "b AS (SELECT e.vec_id, p.t, "
        f"CAST(sum(CASE WHEN {proj} > 0 THEN (1::BIGINT << p.p) ELSE 0 END) AS INTEGER) AS bucket "
        "FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, p.t), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b "
        "FROM b a JOIN b b2 ON a.t = b2.t AND a.bucket = b2.bucket "
        "AND a.vec_id < b2.vec_id) "
        f"SELECT * FROM (SELECT cand.vec_a, cand.vec_b, {cos} AS cos_sim "
        "FROM cand JOIN embeddings va ON cand.vec_a = va.vec_id "
        "JOIN embeddings vb ON cand.vec_b = vb.vec_id) "
        f"WHERE cos_sim >= {threshold}"
    )


def ivf_topk_sql(
    query_vec_id: int = 0,
    k: int = 10,
    dim: int = 64,
    n_cells: int | None = 16,
    nprobe: int = 4,
) -> str:
    """Oracle for operators.similarity.ivf_probe_topk.

    Recomputes the md5-derived centroids, the sequential-fold cell
    assignment (argmax dot, ties to lowest cell — the shared
    :func:`_ivf_assign_ctes` machinery), the nprobe probe-cell ranking,
    and the exact cosine top-k over the probed cells — entirely in SQL,
    bit-identical to the Spark index + partition-pruned scan.
    ``n_cells=None`` = the scaled sqrt(n) cell count (see
    _ivf_assign_ctes / similarity.scaled_n_cells).
    """
    probe_dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"[q.qv[i]::DOUBLE * c.w[i] FOR i IN range(1, {dim + 1})]), "
        "(acc, x) -> acc + x)"
    )

    def dot(u: str, v: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    cos = (
        f"(round(({dot('cand.embedding', 'q.qv')} / "
        f"sqrt({dot('cand.embedding', 'cand.embedding')} * {dot('q.qv', 'q.qv')})) "
        "* 1000000) / 1000000)"
    )
    return (
        f"WITH {_ivf_assign_ctes(dim, n_cells)}, "
        f"q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}), "
        f"probe AS (SELECT c.c::INTEGER AS cell FROM cents c, q "
        f"ORDER BY {probe_dot} DESC, c.c LIMIT {nprobe}), "
        "cand AS (SELECT e.vec_id, e.label, e.embedding, a.cell "
        "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id "
        "WHERE a.cell IN (SELECT cell FROM probe)) "
        f"SELECT cand.vec_id, cand.label, cand.cell, {cos} AS cos_sim "
        "FROM cand, q "
        f"ORDER BY cos_sim DESC, cand.vec_id LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# Text-analysis oracles (functions/text.py mirrors)
# ---------------------------------------------------------------------------

# Keep in sync with functions.text.STOPWORDS / _SCRIPT_RANGES / BPE_ISH_REGEX.
from duckdb_cluster_hash_spark.functions.text import (  # noqa: E402
    BPE_ISH_REGEX,
    STOPWORDS,
)

_SCRIPT_RANGES_SQL = {
    "zh": "一-鿿",
    "ja": "぀-ヿ",
    "ko": "가-힯",
    "ru": "Ѐ-ӿ",
    "ar": "؀-ۿ",
    "el": "Ͱ-Ͽ",
}


def _stop_hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(string_split(lower(text), ' '), "
        f"w -> w IN ({inlist})))"
    )


def _script_ratio_sql(ranges: str) -> str:
    return (
        f"(length(text) - length(regexp_replace(text, '[{ranges}]', '', 'g')))"
        " * 1.0 / greatest(length(text), 1)"
    )


def language_id_case_sql() -> str:
    """The exact CASE chain of functions.text.language_id_col."""
    script_cases = " ".join(
        f"WHEN {_script_ratio_sql(r)} > 0.3 THEN '{lang}'"
        for lang, r in _SCRIPT_RANGES_SQL.items()
    )
    v = {lang: _stop_hits_sql(ws) for lang, ws in STOPWORDS.items()}
    latin = (
        f"CASE WHEN {v['es']} > {v['en']} AND {v['es']} >= {v['fr']} "
        f"AND {v['es']} >= {v['de']} THEN 'es' "
        f"WHEN {v['fr']} > {v['en']} AND {v['fr']} >= {v['de']} THEN 'fr' "
        f"WHEN {v['de']} > {v['en']} THEN 'de' "
        f"WHEN {v['en']} > 0 THEN 'en' ELSE 'und' END"
    )
    return f"CASE {script_cases} ELSE {latin} END"


def lang_id_counts_sql(table: str = "documents") -> str:
    return (
        f"SELECT {language_id_case_sql()} AS predicted_lang, count(*) AS n_docs "
        f"FROM {table} GROUP BY predicted_lang ORDER BY predicted_lang"
    )


_QUALITY_FEATURES_SQL = {
    # CASTs: DuckDB length/len return BIGINT, Spark length/size return INT —
    # keep declared types identical (the driver's value hash is type-aware).
    "n_chars_q": "CAST(length(text) AS INTEGER)",
    "n_tokens": "CAST(len(regexp_extract_all(text, '[^ ]+')) AS INTEGER)",
    "mean_token_len": (
        "round((length(text) - (len(regexp_extract_all(text, '[^ ]+')) - 1)) * 1.0"
        " / greatest(len(regexp_extract_all(text, '[^ ]+')), 1), 4)"
    ),
    "punct_ratio": (
        r"(round(((length(text) - length(regexp_replace(text, '[^\p{L}\p{N} ]', '', 'g')))"
        " * 1.0 / greatest(length(text), 1)) * 10000) / 10000)"
    ),
    "digit_ratio": (
        "(round(((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))"
        " * 1.0 / greatest(length(text), 1)) * 10000) / 10000)"
    ),
    "upper_ratio": (
        "(round(((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))"
        " * 1.0 / greatest(length(text), 1)) * 10000) / 10000)"
    ),
    "stop_ratio": None,  # filled below (needs STOPWORDS)
    "repetition_ratio": (
        "(round(((len(regexp_extract_all(text, '[^ ]+')) - "
        "len(list_distinct(regexp_extract_all(text, '[^ ]+')))) * 1.0"
        " / greatest(len(regexp_extract_all(text, '[^ ]+')), 1)) * 10000) / 10000)"
    ),
}
_QUALITY_FEATURES_SQL["stop_ratio"] = (
    f"(round(({_stop_hits_sql(STOPWORDS['en'])} * 1.0"
    " / greatest(len(regexp_extract_all(text, '[^ ]+')), 1)) * 10000) / 10000)"
)


def quality_scores_sql(table: str = "documents") -> str:
    feats = ", ".join(f"{sql} AS {name}" for name, sql in _QUALITY_FEATURES_SQL.items())
    score = (
        "(round((0.25 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 "
        "THEN 1.0 ELSE 0.0 END) + 0.25 * (1.0 - repetition_ratio) "
        "+ 0.25 * least(stop_ratio * 5, 1.0) "
        "+ 0.25 * (1.0 - least(punct_ratio * 4, 1.0))) * 10000) / 10000)"
    )
    return (
        f"WITH feats AS (SELECT doc_id, {feats} FROM {table}) "
        f"SELECT doc_id, n_chars_q, n_tokens, mean_token_len, punct_ratio, "
        f"digit_ratio, upper_ratio, stop_ratio, repetition_ratio, "
        f"{score} AS quality FROM feats"
    )


def token_stats_by_source_sql(table: str = "documents") -> str:
    return (
        f"SELECT source, count(*) AS n_docs, "
        "CAST(sum(len(regexp_extract_all(text, '[^ ]+'))) AS BIGINT) AS ws_tokens, "
        f"CAST(sum(len(regexp_extract_all(text, '{BPE_ISH_REGEX}'))) AS BIGINT) AS bpe_tokens "
        f"FROM {table} GROUP BY source ORDER BY source"
    )


def rolling_hash_sql(table: str = "documents", base: int = 31, mod: int = 2147483647) -> str:
    byte_expr = (
        "(strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*i-1, 1)) * 16 "
        "+ strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*i, 1)) - 17)::BIGINT"
    )
    return (
        f"SELECT doc_id, list_reduce(list_prepend(0::BIGINT, "
        f"[{byte_expr} FOR i IN range(1, octet_length(encode(text)) + 1)]), "
        f"(acc, b) -> (acc * {base} + b) % {mod}) AS fingerprint "
        f"FROM {table}"
    )


def winnow_fingerprints_sql(
    n: int = 3, window: int = 4, table: str = "documents"
) -> str:
    """Oracle for operators.dedup.winnow_fingerprints (same grams, same
    h60 hashes, same w-window minima with tail frames dropped)."""
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return (
        f"WITH words AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM {table}), "
        f"grams AS (SELECT doc_id, CASE WHEN len(ws) >= {n} THEN "
        f"[{gram} FOR i IN range(1, len(ws) - {n - 2})] ELSE [text] END AS gs FROM words), "
        "hs AS (SELECT doc_id, "
        "[('0x' || substr(md5(g), 1, 15))::BIGINT FOR g IN gs] AS h FROM grams), "
        "mins AS (SELECT doc_id, "
        f"[list_aggregate(h[j : j + {window - 1}], 'min') "
        f"FOR j IN range(1, greatest(len(h) - {window - 1}, 1) + 1)] AS m FROM hs) "
        "SELECT DISTINCT doc_id, unnest(m) AS fp FROM mins"
    )


def neardup_components_sql(
    n: int = 3, k: int = 16, bands: int = 8, rows: int = 2, threshold: float = 0.2
) -> str:
    """Oracle for minhash pairs -> connected components: transitive
    closure by recursive CTE, component = min reachable doc id."""
    inner = minhash_neardup_pairs_sql(n, k, bands, rows, threshold)
    ctes = inner[len("WITH "):inner.rindex("SELECT doc_a, doc_b,")]
    final_pairs = inner[inner.rindex("SELECT doc_a, doc_b,"):]
    return (
        "WITH RECURSIVE " + ctes.rstrip() + ", "
        + f"base AS ({final_pairs}), "
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM base "
        "UNION SELECT doc_b, doc_a FROM base), "
        "reach(src, dst) AS ("
        "SELECT a, a FROM edges "
        "UNION "
        "SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a) "
        "SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src"
    )


def corpus_curation_sql(table: str = "documents", min_quality: float = 0.5) -> str:
    """Oracle for the end-to-end curation pipeline report.

    Decision ladder per document (first match wins):
    ``duplicate`` (not the min-doc_id holder of its md5(text) digest) →
    ``low_quality`` (quality score < min_quality) → ``kept``.
    """
    feats = ", ".join(
        f"{sql} AS {name}" for name, sql in _QUALITY_FEATURES_SQL.items()
    )
    score = (
        "(round((0.25 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 "
        "THEN 1.0 ELSE 0.0 END) + 0.25 * (1.0 - repetition_ratio) "
        "+ 0.25 * least(stop_ratio * 5, 1.0) "
        "+ 0.25 * (1.0 - least(punct_ratio * 4, 1.0))) * 10000) / 10000)"
    )
    return (
        f"WITH feats AS (SELECT doc_id, text, {feats} FROM {table}), "
        f"scored AS (SELECT doc_id, n_tokens, {score} AS quality, "
        f"{language_id_case_sql()} AS lang_id, "
        "min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM feats), "
        "decided AS (SELECT lang_id, n_tokens, CASE "
        "WHEN doc_id <> rep THEN 'duplicate' "
        f"WHEN quality < {min_quality} THEN 'low_quality' "
        "ELSE 'kept' END AS decision FROM scored) "
        "SELECT lang_id, decision, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total "
        "FROM decided GROUP BY lang_id, decision ORDER BY lang_id, decision"
    )


def repetition_quality_sql(table: str = "documents") -> str:
    """Oracle for functions.text.repetition_stats: per-doc token counts,
    most-frequent-token share and duplicate-2-gram fraction, all integer
    basis points via floor division (Gopher repetition filters)."""
    return (
        f"WITH words AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM {table}), "
        "tok AS (SELECT doc_id, unnest(ws) AS tok FROM words), "
        "tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok), "
        "ta AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, "
        "CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS max_tok "
        "FROM tc GROUP BY doc_id), "
        "grams AS (SELECT doc_id, CASE WHEN len(ws) >= 2 THEN "
        "[ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] ELSE [text] END AS gs "
        "FROM words), "
        "g AS (SELECT doc_id, unnest(gs) AS gram FROM grams), "
        "gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram), "
        "ga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, "
        "CAST(count(*) AS BIGINT) AS n_distinct_grams FROM gc GROUP BY doc_id) "
        "SELECT ta.doc_id, ta.n_tokens, ta.n_distinct, "
        "CAST((10000 * max_tok) // n_tokens AS BIGINT) AS top_token_bp, "
        "CAST((10000 * (n_grams - n_distinct_grams)) // n_grams AS BIGINT) AS dup_2gram_bp "
        "FROM ta JOIN ga ON ta.doc_id = ga.doc_id ORDER BY ta.doc_id"
    )


def chunk_dedup_histogram_sql(chunk_words: int = 8, table: str = "documents") -> str:
    """Oracle for operators.dedup.chunk_dedup_histogram: md5 digests of
    non-overlapping word chunks (trailing partial dropped), distinct per
    doc, sharing-count histogram."""
    cw = chunk_words
    return (
        f"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {table}), "
        f"c AS (SELECT doc_id, CAST(len(ws) // {cw} AS INT) AS nc, ws FROM w), "
        "ch AS (SELECT DISTINCT doc_id, "
        f"unnest([md5(array_to_string(ws[i*{cw}+1 : i*{cw}+{cw}], ' ')) "
        "FOR i IN range(0, nc)]) AS chunk_hash FROM c WHERE nc > 0), "
        "per AS (SELECT chunk_hash, CAST(count(*) AS BIGINT) AS docs_sharing "
        "FROM ch GROUP BY chunk_hash) "
        "SELECT docs_sharing, CAST(count(*) AS BIGINT) AS n_chunks "
        "FROM per GROUP BY docs_sharing ORDER BY docs_sharing"
    )


def tfidf_top_terms_sql(
    k: int = 3, group_col: str = "source", table: str = "documents"
) -> str:
    """Oracle for functions.text.tfidf_top_terms: integer TF-IDF
    score = (tf_in_group * n_docs) // df, row_number ties on term.
    n_docs comes from a subquery so the oracle holds at any sf."""
    return (
        f"WITH tok AS (SELECT doc_id, {group_col} AS grp, unnest(string_split(text, ' ')) AS term "
        f"FROM {table}), "
        "tf AS (SELECT grp, term, count(*) AS tf FROM tok GROUP BY grp, term), "
        "dfreq AS (SELECT term, count(*) AS df FROM "
        "(SELECT DISTINCT doc_id, term FROM tok) GROUP BY term), "
        "scored AS (SELECT grp, term, "
        f"CAST((tf * (SELECT count(*) FROM {table})) // df AS BIGINT) AS score "
        "FROM tf JOIN dfreq USING (term)), "
        "ranked AS (SELECT grp, term, score, "
        "CAST(row_number() OVER (PARTITION BY grp ORDER BY score DESC, term) AS INT) AS rank "
        "FROM scored) "
        f"SELECT grp, rank, term, score FROM ranked WHERE rank <= {k} "
        "ORDER BY grp, rank"
    )


def _ivf_assign_ctes(dim: int = 64, n_cells: int | None = 16) -> str:
    """CTE fragment ``cents, assign``: the deterministic md5 IVF centroids
    and sequential-fold argmax cell assignment (shared by ivf_topk_sql and
    semantic_dedup_summary_sql — must mirror similarity.ivf_assign_cells).

    ``n_cells=None`` mirrors similarity.scaled_n_cells: GREATEST(16,
    ceil(sqrt(count(*)))) computed from the embeddings table itself (the
    scalar range() accepts a subquery where the table function does not).
    """
    w_expr = (
        "('0x' || substr(md5('ivf|' || c::VARCHAR || '|' || i::VARCHAR), 1, 15))::BIGINT"
        f" / {2**59}.0 - 1.0"
    )
    cell_dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"[e.embedding[i]::DOUBLE * c.w[i] FOR i IN range(1, {dim + 1})]), "
        "(acc, x) -> acc + x)"
    )
    cells_src = (
        f"range({n_cells})"
        if n_cells is not None
        else (
            "(SELECT unnest(range((SELECT GREATEST(16, CAST(ceil(sqrt(count(*))) "
            "AS BIGINT)) FROM embeddings))) AS c)"
        )
    )
    return (
        f"cents AS (SELECT c, [{w_expr} FOR i IN range(1, {dim + 1})] AS w "
        f"FROM {cells_src} t(c)), "
        "assign AS (SELECT vec_id, cell FROM ("
        f"SELECT e.vec_id, c.c::INTEGER AS cell, "
        f"row_number() OVER (PARTITION BY e.vec_id ORDER BY {cell_dot} DESC, c.c) AS rn "
        "FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)"
    )


def semantic_dedup_summary_sql(
    threshold: float = 0.6, dim: int = 64, n_cells: int | None = None
) -> str:
    """Oracle for operators.similarity.semantic_dedup_summary: intra-cell
    pair cosine (sequential fold, bit-identical to the Spark kernel),
    keep-lowest-id drop counts per cell.  ``n_cells=None`` = the scaled
    sqrt(n) cell count (see _ivf_assign_ctes / similarity.scaled_n_cells)."""

    def dot(u: str, v: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    cos = (
        f"(round(({dot('a.embedding', 'b.embedding')} / "
        f"sqrt({dot('a.embedding', 'a.embedding')} * {dot('b.embedding', 'b.embedding')})) "
        "* 1000000) / 1000000)"
    )
    return (
        f"WITH {_ivf_assign_ctes(dim, n_cells)}, "
        "v AS (SELECT a.vec_id, a.cell, e.embedding FROM assign a "
        "JOIN embeddings e ON a.vec_id = e.vec_id), "
        f"pairs AS (SELECT a.cell, a.vec_id AS va, b.vec_id AS vb, {cos} AS cos_sim "
        "FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id), "
        f"dropped AS (SELECT cell, vb FROM pairs WHERE cos_sim >= {threshold} GROUP BY cell, vb), "
        "dcount AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dropped FROM dropped GROUP BY cell), "
        "sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM assign GROUP BY cell) "
        "SELECT s.cell, s.n_vecs, COALESCE(d.n_dropped, 0) AS n_dropped "
        "FROM sizes s LEFT JOIN dcount d ON s.cell = d.cell ORDER BY s.cell"
    )


def duplicated_span_coverage_sql(n: int = 8, table: str = "documents") -> str:
    """Oracle for operators.dedup.duplicated_span_coverage: same
    sequential grams as winnow_fingerprints_sql, md5 digests, cross-doc
    membership (count(DISTINCT doc_id) >= 2), integer basis points."""
    gram = " || ' ' || ".join(f"ws[i+{j}]" if j else "ws[i]" for j in range(n))
    return (
        f"WITH words AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM {table}), "
        f"grams AS (SELECT doc_id, CASE WHEN len(ws) >= {n} THEN "
        f"[{gram} FOR i IN range(1, len(ws) - {n - 2})] ELSE [text] END AS gs FROM words), "
        "pos AS (SELECT doc_id, md5(unnest(gs)) AS g FROM grams), "
        "shared AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2), "
        "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM pos GROUP BY doc_id), "
        "dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM pos "
        "JOIN shared USING (g) GROUP BY doc_id) "
        "SELECT t.doc_id, t.n_spans, COALESCE(d.n_dup, 0) AS n_dup_spans, "
        "CAST((10000 * COALESCE(d.n_dup, 0)) // t.n_spans AS BIGINT) AS dup_bp "
        "FROM tot t LEFT JOIN dup d USING (doc_id) ORDER BY t.doc_id"
    )


def exact_substring_spans_sql(
    k: int = 40, cap: int = 64, min_span: int = 60, table: str = "documents"
) -> str:
    """Oracle for operators.dedup.exact_substring_span_pairs: per-position
    k-char suffix-prefix anchors (md5 here; the Spark side uses the
    engine-internal xxhash64 — digest equality coincides with gram
    equality on both engines, and every graded column is a hash-free
    integer position/length), the same >= 2-docs / <= cap digest gate,
    diagonal gaps-and-islands runs, per-pair longest/total spans."""
    return (
        "WITH occ AS (SELECT doc_id, p, "
        f"md5(substr(text, p, {k})) AS dig "
        f"FROM {table}, LATERAL unnest(range(1, length(text) - {k} + 2)) AS t(p) "
        f"WHERE length(text) >= {k}), "
        "keep AS (SELECT dig FROM occ GROUP BY dig "
        f"HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= {cap}), "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, "
        "a.p - b.p AS diag "
        "FROM occ a JOIN keep USING (dig) JOIN occ b USING (dig) "
        "WHERE a.doc_id < b.doc_id), "
        "runs AS (SELECT doc_a, doc_b, diag, pa - row_number() OVER ("
        "PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island FROM pairs), "
        f"spans AS (SELECT doc_a, doc_b, CAST(count(*) + {k} - 1 AS BIGINT) "
        "AS span_chars FROM runs GROUP BY doc_a, doc_b, diag, island) "
        "SELECT doc_a, doc_b, "
        "CAST(max(span_chars) AS BIGINT) AS longest_span_chars, "
        "CAST(count(*) AS BIGINT) AS n_spans, "
        "CAST(sum(span_chars) AS BIGINT) AS dup_chars_bound "
        "FROM spans GROUP BY doc_a, doc_b "
        f"HAVING max(span_chars) >= {min_span} ORDER BY doc_a, doc_b"
    )


def substring_dup_bill_sql(
    k: int = 40, cap: int = 64, table: str = "documents"
) -> str:
    """Oracle for operators.dedup.substring_dup_bill: the same matched
    runs as exact_substring_spans_sql (md5 anchors; every graded column
    is a hash-free integer), each run projected to an interval on both
    endpoint docs, per-doc interval union via the running-max sweep,
    integer basis points over length(text)."""
    wd = "PARTITION BY doc_id ORDER BY s, e"
    prev_max = f"max(e) OVER ({wd} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    return (
        "WITH occ AS (SELECT doc_id, p, "
        f"md5(substr(text, p, {k})) AS dig "
        f"FROM {table}, LATERAL unnest(range(1, length(text) - {k} + 2)) AS t(p) "
        f"WHERE length(text) >= {k}), "
        "keep AS (SELECT dig FROM occ GROUP BY dig "
        f"HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= {cap}), "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, "
        "a.p - b.p AS diag "
        "FROM occ a JOIN keep USING (dig) JOIN occ b USING (dig) "
        "WHERE a.doc_id < b.doc_id), "
        "runs AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER ("
        "PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island FROM pairs), "
        "spans AS (SELECT doc_a, doc_b, diag, CAST(min(pa) AS BIGINT) AS "
        f"start_a, CAST(count(*) + {k} - 1 AS BIGINT) AS span_chars "
        "FROM runs GROUP BY doc_a, doc_b, diag, island), "
        "ivals AS (SELECT DISTINCT doc_id, s, e FROM ("
        "SELECT doc_a AS doc_id, start_a AS s, start_a + span_chars - 1 AS e "
        "FROM spans UNION ALL "
        "SELECT doc_b, start_a - diag, start_a - diag + span_chars - 1 "
        "FROM spans)), "
        "swept AS (SELECT doc_id, s, e, "
        f"CASE WHEN {prev_max} IS NULL OR s > {prev_max} THEN 1 ELSE 0 END "
        "AS new_reg FROM ivals), "
        f"reg AS (SELECT doc_id, s, e, sum(new_reg) OVER ({wd} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reg_id "
        "FROM swept), "
        "cov AS (SELECT doc_id, CAST(sum(rlen) AS BIGINT) AS dup_chars FROM ("
        "SELECT doc_id, reg_id, max(e) - min(s) + 1 AS rlen FROM reg "
        "GROUP BY doc_id, reg_id) GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, "
        "COALESCE(c.dup_chars, 0) AS dup_chars, "
        "CAST((10000 * COALESCE(c.dup_chars, 0)) // "
        "greatest(1, length(d.text)) AS BIGINT) AS dup_bp "
        f"FROM {table} d LEFT JOIN cov c USING (doc_id) ORDER BY d.doc_id"
    )


def curation_pipeline_sql(
    min_quality: float = 0.65,
    rep_bp_max: int = 2000,
    n: int = 3,
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
    threshold: float = 0.2,
    table: str = "documents",
) -> str:
    """Oracle for docs_curation_pipeline: the end-to-end keep/drop
    ladder — exact dedup, quality + Gopher-repetition gate, near-dup
    component drop (MinHash/LSH closure reused verbatim from
    neardup_components_sql), train-quota split — each document labeled
    with the FIRST stage that drops it, rolled up to the per-stage
    attrition bill (stage, n_docs, n_chars).

    Every gate is a pure per-doc function (quality score and rep_bp
    don't depend on which other docs survive), so the ladder is
    single-pass; the only set-dependent stages are the near-dup keeper
    (min surviving doc_id per corpus-wide component, a grouped min over
    cluster members only — never a window over the null-component
    mass) and the per-lang 80% train quota over pending docs (the
    stratified-split rank rule verbatim)."""
    comp = neardup_components_sql(n, k, bands, rows, threshold)
    comp_ctes = comp[
        len("WITH RECURSIVE "):comp.rindex("SELECT src AS doc_id")
    ].rstrip()
    feats = ", ".join(
        f"{sql} AS {name}" for name, sql in _QUALITY_FEATURES_SQL.items()
    )
    score = (
        "(round((0.25 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 "
        "THEN 1.0 ELSE 0.0 END) + 0.25 * (1.0 - repetition_ratio) "
        "+ 0.25 * least(stop_ratio * 5, 1.0) "
        "+ 0.25 * (1.0 - least(punct_ratio * 4, 1.0))) * 10000) / 10000)"
    )
    return (
        "WITH RECURSIVE " + comp_ctes + ", "
        "comps AS (SELECT src AS doc_id, min(dst) AS component "
        "FROM reach GROUP BY src), "
        "s0 AS (SELECT doc_id, text, lang, "
        f"CAST(length(text) AS BIGINT) AS nch FROM {table}), "
        "r1 AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS rep "
        "FROM s0), "
        f"fe AS (SELECT doc_id, lang, nch, rep, {feats} FROM r1), "
        f"q AS (SELECT doc_id, lang, nch, rep, {score} AS quality FROM fe), "
        "gw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w "
        "FROM s0), "
        "gb AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] "
        "FOR i IN range(1, len(w))]) AS bg FROM gw WHERE len(w) >= 2), "
        "gc AS (SELECT doc_id, bg, count(*) AS c FROM gb GROUP BY doc_id, bg), "
        "gm AS (SELECT doc_id, CAST((10000 * max(c)) // sum(c) AS BIGINT) "
        "AS rep_bp FROM gc GROUP BY doc_id), "
        "lad AS (SELECT q.doc_id, q.lang, q.nch, (q.doc_id <> q.rep) AS d1, "
        f"(q.quality < {min_quality} OR COALESCE(g.rep_bp, 0) >= {rep_bp_max}) "
        "AS d2, c.component "
        "FROM q LEFT JOIN gm g USING (doc_id) LEFT JOIN comps c USING (doc_id)), "
        "keeper AS (SELECT component, "
        "min(CASE WHEN NOT d1 AND NOT d2 THEN doc_id END) AS keep_id "
        "FROM lad WHERE component IS NOT NULL GROUP BY component), "
        "staged AS (SELECT l.doc_id, l.lang, l.nch, CASE "
        "WHEN l.d1 THEN '1_exact_dup' "
        "WHEN l.d2 THEN '2_low_quality' "
        "WHEN l.component IS NOT NULL AND l.doc_id <> kk.keep_id "
        "THEN '3_near_dup' ELSE NULL END AS drop_stage "
        "FROM lad l LEFT JOIN keeper kk USING (component)), "
        "pend AS (SELECT doc_id, lang, nch, row_number() OVER ("
        "PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk, "
        "count(*) OVER (PARTITION BY lang) AS nl "
        "FROM staged WHERE drop_stage IS NULL), "
        "final AS (SELECT doc_id, lang, nch, "
        "CASE WHEN rk <= (nl * 8) // 10 THEN '5_kept' "
        "ELSE '4_quota_held_out' END AS stage FROM pend "
        "UNION ALL SELECT doc_id, lang, nch, drop_stage FROM staged "
        "WHERE drop_stage IS NOT NULL) "
        "SELECT stage, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(COALESCE(sum(nch), 0) AS BIGINT) AS n_chars "
        "FROM final GROUP BY stage ORDER BY stage"
    )


def exact_substring_rewrite_sql(
    k: int = 40, cap: int = 64, table: str = "documents"
) -> str:
    """Oracle for operators.dedup.exact_substring_rewrite (and the
    docs_exact_substring_rewrite audit): same matched runs and merged
    covered regions as substring_dup_bill_sql, then the deletion itself
    — per doc, the kept text is the ordered concatenation of the gap
    before each deleted region (lag(e) window) plus the tail after the
    last region; docs with no regions keep their text verbatim.  Graded
    columns are the post-deletion char counts AND md5 over the
    rewritten text (md5 = the one cross-engine hash), so a single
    off-by-one in any engine's splice breaks the value hash."""
    wd = "PARTITION BY doc_id ORDER BY s, e"
    prev_max = f"max(e) OVER ({wd} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    return (
        "WITH occ AS (SELECT doc_id, p, "
        f"md5(substr(text, p, {k})) AS dig "
        f"FROM {table}, LATERAL unnest(range(1, length(text) - {k} + 2)) AS t(p) "
        f"WHERE length(text) >= {k}), "
        "keep AS (SELECT dig FROM occ GROUP BY dig "
        f"HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= {cap}), "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, "
        "a.p - b.p AS diag "
        "FROM occ a JOIN keep USING (dig) JOIN occ b USING (dig) "
        "WHERE a.doc_id < b.doc_id), "
        "runs AS (SELECT doc_a, doc_b, diag, pa, pa - row_number() OVER ("
        "PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS island FROM pairs), "
        "spans AS (SELECT doc_a, doc_b, diag, CAST(min(pa) AS BIGINT) AS "
        f"start_a, CAST(count(*) + {k} - 1 AS BIGINT) AS span_chars "
        "FROM runs GROUP BY doc_a, doc_b, diag, island), "
        "ivals AS (SELECT DISTINCT doc_id, s, e FROM ("
        "SELECT doc_a AS doc_id, start_a AS s, start_a + span_chars - 1 AS e "
        "FROM spans UNION ALL "
        "SELECT doc_b, start_a - diag, start_a - diag + span_chars - 1 "
        "FROM spans)), "
        "swept AS (SELECT doc_id, s, e, "
        f"CASE WHEN {prev_max} IS NULL OR s > {prev_max} THEN 1 ELSE 0 END "
        "AS new_reg FROM ivals), "
        f"reg AS (SELECT doc_id, s, e, sum(new_reg) OVER ({wd} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reg_id "
        "FROM swept), "
        "regions AS (SELECT doc_id, CAST(min(s) AS BIGINT) AS s, "
        "CAST(max(e) AS BIGINT) AS e FROM reg GROUP BY doc_id, reg_id), "
        "pieces AS (SELECT doc_id, s, e, "
        f"lag(e) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e FROM regions), "
        "frag AS ("
        "SELECT p.doc_id, p.s AS ord, substr(d.text, "
        "CAST(COALESCE(p.prev_e + 1, 1) AS INT), "
        "CAST(p.s - COALESCE(p.prev_e + 1, 1) AS INT)) AS piece "
        f"FROM pieces p JOIN {table} d USING (doc_id) "
        "UNION ALL "
        "SELECT m.doc_id, CAST(9223372036854775807 AS BIGINT) AS ord, "
        "substr(d.text, CAST(m.me + 1 AS INT)) AS piece "
        "FROM (SELECT doc_id, max(e) AS me FROM regions GROUP BY doc_id) m "
        f"JOIN {table} d USING (doc_id)), "
        "rebuilt AS (SELECT doc_id, coalesce(string_agg(piece, '' ORDER BY ord), '') "
        "AS txt FROM frag GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, "
        "CAST(length(COALESCE(r.txt, d.text)) AS BIGINT) AS kept_chars, "
        "CAST(length(d.text) - length(COALESCE(r.txt, d.text)) AS BIGINT) "
        "AS removed_chars, "
        "md5(COALESCE(r.txt, d.text)) AS rewritten_md5 "
        f"FROM {table} d LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id"
    )


def margin_bitext_sql(
    label_a: int = 0,
    label_b: int = 1,
    dim: int = 64,
    n_cells: int | None = 16,
    knn: int = 4,
) -> str:
    """Oracle for plans.emb.emb_margin_bitext_pairs: margin-criterion
    mutual-best pair mining (Artetxe & Schwenk, ACL 2019) between two
    label populations, candidates blocked by the shared md5-IVF cell.

    Recomputes the deterministic centroids + fold-order cell assignment
    (:func:`_ivf_assign_ctes`), the per-pair fold-exact cosine, the
    kNN-average margin denominators (top-``knn`` cosines summed over a
    SORTED list so the float addition order matches Spark's
    array_sort + aggregate fold), the ratio margin, and the mutual
    argmax — entirely in SQL, bit-identical to the Spark plan.
    """

    def dot(u: str, v: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    return (
        f"WITH {_ivf_assign_ctes(dim, n_cells)}, "
        "t AS (SELECT e.vec_id, e.label, e.embedding, "
        f"{dot('e.embedding', 'e.embedding')} AS nsq, a.cell "
        "FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id), "
        f"aa AS (SELECT * FROM t WHERE label = {label_a}), "
        f"bb AS (SELECT * FROM t WHERE label = {label_b}), "
        "cand AS (SELECT * FROM (SELECT aa.vec_id AS a_id, bb.vec_id AS b_id, "
        f"aa.cell AS cell, {dot('aa.embedding', 'bb.embedding')} / "
        "sqrt(aa.nsq * bb.nsq) AS cos "
        "FROM aa JOIN bb ON aa.cell = bb.cell) WHERE cos > 0), "
        "ka AS (SELECT a_id, list_reduce(list_prepend(0.0::DOUBLE, "
        "list_sort(list(cos))), (acc, x) -> acc + x) AS sa, "
        "CAST(count(*) AS BIGINT) AS na FROM ("
        "SELECT a_id, cos, row_number() OVER (PARTITION BY a_id "
        f"ORDER BY cos DESC, b_id) AS rn FROM cand) WHERE rn <= {knn} "
        "GROUP BY a_id), "
        "kb AS (SELECT b_id, list_reduce(list_prepend(0.0::DOUBLE, "
        "list_sort(list(cos))), (acc, x) -> acc + x) AS sb, "
        "CAST(count(*) AS BIGINT) AS nb FROM ("
        "SELECT b_id, cos, row_number() OVER (PARTITION BY b_id "
        f"ORDER BY cos DESC, a_id) AS rn FROM cand) WHERE rn <= {knn} "
        "GROUP BY b_id), "
        "m AS (SELECT c.a_id, c.b_id, c.cell, c.cos, "
        "c.cos * 2 / (ka.sa / ka.na + kb.sb / kb.nb) AS margin "
        "FROM cand c JOIN ka ON ka.a_id = c.a_id JOIN kb ON kb.b_id = c.b_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY a_id "
        "ORDER BY margin DESC, b_id) AS ra, "
        "row_number() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id) AS rb "
        "FROM m) "
        "SELECT a_id, b_id, cell, round(cos * 1000000) / 1000000 AS cos_sim, "
        "round(margin * 1000000) / 1000000 AS margin "
        "FROM r WHERE ra = 1 AND rb = 1 ORDER BY a_id"
    )


def _fold_cos_micro(u: str, v: str, dim: int = 64) -> str:
    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{a}[i]::DOUBLE * {b}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    return (
        f"CAST(round(({dot(u, v)} / "
        f"sqrt({dot(u, u)} * {dot(v, v)})) * 1000000) AS BIGINT)"
    )


def mmr_rerank_sql(
    query_vec_id: int = 0,
    n: int = 40,
    k: int = 8,
    lam_num: int = 7,
    lam_rem: int = 3,
    dim: int = 64,
) -> str:
    """Oracle for operators.similarity.mmr_rerank: the same integer-
    micro greedy MMR trajectory as a recursive CTE — each step's
    LATERAL argmax recomputes max-sim-to-selected from the carried
    id list, which equals Spark's running-max column exactly."""
    cos = _fold_cos_micro("e.embedding", "g.embedding", dim)
    return (
        "WITH RECURSIVE q AS "
        f"(SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}), "
        "cand AS (SELECT vec_id, embedding, "
        + _fold_cos_micro("embedding", "qv", dim)
        + " AS rel "
        f"FROM embeddings, q WHERE vec_id <> {query_vec_id} "
        f"ORDER BY rel DESC, vec_id LIMIT {n}), "
        "sel AS ((SELECT 1 AS step, vec_id, rel, CAST(0 AS BIGINT) AS maxsim, "
        "[vec_id] AS ids FROM cand ORDER BY rel DESC, vec_id LIMIT 1) "
        "UNION ALL "
        "SELECT s.step + 1, c.vec_id, c.rel, c.maxsim, "
        "list_append(s.ids, c.vec_id) "
        "FROM sel s, LATERAL ("
        f"SELECT e.vec_id, e.rel, max({cos}) AS maxsim, "
        f"{lam_num} * e.rel - {lam_rem} * max({cos}) AS score "
        "FROM cand e JOIN cand g ON list_contains(s.ids, g.vec_id) "
        "WHERE NOT list_contains(s.ids, e.vec_id) "
        "GROUP BY e.vec_id, e.rel "
        "ORDER BY score DESC, e.vec_id ASC LIMIT 1) c "
        f"WHERE s.step < {k}) "
        "SELECT CAST(step AS INTEGER) AS step, vec_id, rel AS rel_micro, "
        "maxsim AS maxsim_micro, "
        f"{lam_num} * rel - {lam_rem} * maxsim AS mmr_score "
        "FROM sel ORDER BY step"
    )


def kcenter_coreset_sql(seed_vec_id: int = 0, k: int = 6, dim: int = 64) -> str:
    """Oracle for operators.similarity.kcenter_coreset: greedy
    farthest-point traversal as a recursive CTE over the carried
    center-id list, min-distance recomputed per step (equals Spark's
    running-min column exactly — both quantize each pairwise squared
    distance to micros BEFORE the min)."""
    d2 = (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"[(e.embedding[i]::DOUBLE - g.embedding[i]::DOUBLE) * "
        f"(e.embedding[i]::DOUBLE - g.embedding[i]::DOUBLE) "
        f"FOR i IN range(1, {dim + 1})]), (acc, x) -> acc + x)"
    )
    return (
        "WITH RECURSIVE sel AS ("
        f"(SELECT 1 AS step, CAST({seed_vec_id} AS BIGINT) AS vec_id, "
        f"CAST(0 AS BIGINT) AS radius_micro, "
        f"[CAST({seed_vec_id} AS BIGINT)] AS ids) "
        "UNION ALL "
        "SELECT s.step + 1, c.vec_id, c.mind, list_append(s.ids, c.vec_id) "
        "FROM sel s, LATERAL ("
        f"SELECT e.vec_id, min(CAST(round({d2} * 1000000) AS BIGINT)) AS mind "
        "FROM embeddings e JOIN embeddings g ON list_contains(s.ids, g.vec_id) "
        "WHERE NOT list_contains(s.ids, e.vec_id) "
        "GROUP BY e.vec_id "
        "ORDER BY mind DESC, e.vec_id ASC LIMIT 1) c "
        f"WHERE s.step < {k}) "
        "SELECT CAST(step AS INTEGER) AS step, vec_id, radius_micro "
        "FROM sel ORDER BY step"
    )


def containment_neardup_pairs_sql(n: int = 3, threshold: float = 0.5) -> str:
    """All-pairs containment oracle for
    operators.dedup.containment_neardup_pairs (cross-join baseline —
    the Spark side must reach identical pairs via the inverted index)."""
    cab = "(round((CAST(inter AS DOUBLE) / size_a) * 10000) / 10000)"
    cba = "(round((CAST(inter AS DOUBLE) / size_b) * 10000) / 10000)"
    return (
        f"WITH {shingles_cte(n)}, "
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter, "
        "CAST(len(a.sh) AS BIGINT) AS size_a, "
        "CAST(len(b.sh) AS BIGINT) AS size_b "
        "FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, inter, size_a, size_b, "
        f"{cab} AS cont_a_in_b, {cba} AS cont_b_in_a "
        f"FROM pairs WHERE {cab} >= {threshold} OR {cba} >= {threshold} "
        "ORDER BY doc_a, doc_b"
    )


def pca_power_iteration_sql(
    dim: int = 64, iters: int = 3, vscale: int = 16384
) -> str:
    """Oracle for operators.similarity.pca_power_iteration: the same
    exact-integer Gram reduction and unrolled integer power iteration
    (symmetric-truncation rescale, so negative components divide
    identically in both engines)."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(
            f"u{t} AS (SELECT a.i AS j, CAST(sum(a.a * v{t - 1}.v) AS BIGINT) "
            f"AS u FROM a JOIN v{t - 1} ON a.j = v{t - 1}.j GROUP BY a.i), "
            f"m{t} AS (SELECT max(abs(u)) AS m FROM u{t}), "
            f"v{t} AS (SELECT j, CASE WHEN m{t}.m = 0 THEN u ELSE "
            f"(CASE WHEN u >= 0 THEN (u * {vscale}) // m{t}.m "
            f"ELSE -(((-u) * {vscale}) // m{t}.m) END) END AS v "
            f"FROM u{t}, m{t})"
        )
    return (
        "WITH a AS (SELECT ii.i AS i, jj.j AS j, "
        "CAST(sum(CAST(round(e.embedding[ii.i]::DOUBLE * "
        "e.embedding[jj.j]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS a "
        f"FROM embeddings e, range(1, {dim + 1}) ii(i), "
        f"range(1, {dim + 1}) jj(j) GROUP BY ii.i, jj.j), "
        f"v0 AS (SELECT CAST(j AS BIGINT) AS j, CAST({vscale} AS BIGINT) AS v "
        f"FROM range(1, {dim + 1}) t(j)), "
        + ", ".join(steps)
        + f" SELECT CAST(j AS INTEGER) AS pos, CAST(v AS BIGINT) AS v_scaled "
        f"FROM v{iters} ORDER BY pos"
    )


def jl_projection_quality_sql(
    k_dims: int = 16, n_cand: int = 20, dim: int = 64
) -> str:
    """Oracle for operators.similarity.jl_projection_quality: the same
    md5-parity sign matrix, the same sequential folds (ordered-list
    list_reduce), the same micro quantization."""
    def dot(u: str, v: str, d: int) -> str:
        return (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {d + 1})]), "
            "(acc, x) -> acc + x)"
        )

    return (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
        "cand AS (SELECT vec_id, embedding, "
        f"CAST(round(({dot('embedding', 'qv', dim)} / "
        f"sqrt({dot('embedding', 'embedding', dim)} * {dot('qv', 'qv', dim)}))"
        " * 1000000) AS BIGINT) AS rel "
        "FROM embeddings, q WHERE vec_id <> 0 "
        f"ORDER BY rel DESC, vec_id LIMIT {n_cand}), "
        "pool AS (SELECT vec_id, embedding FROM cand "
        "UNION ALL SELECT 0, qv FROM q), "
        "signs AS (SELECT d.d AS d, i.i AS i, "
        "CASE WHEN ('0x' || substr(md5('jl:' || d.d || '|' || i.i), 1, 15))"
        "::BIGINT % 2 = 0 THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS w "
        f"FROM range(1, {k_dims + 1}) d(d), range(1, {dim + 1}) i(i)), "
        "proj AS (SELECT p.vec_id, s.d, "
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list(p.embedding[s.i]::DOUBLE * s.w ORDER BY s.i)), "
        "(acc, x) -> acc + x) AS pr "
        "FROM pool p, signs s GROUP BY p.vec_id, s.d), "
        "pvec AS (SELECT vec_id, list(pr ORDER BY d) AS pv "
        "FROM proj GROUP BY vec_id), "
        "qp AS (SELECT pv AS pq FROM pvec WHERE vec_id = 0) "
        "SELECT c.vec_id, c.rel AS rel_micro, "
        f"CAST(round(({dot('pv', 'pq', k_dims)} / "
        f"sqrt({dot('pv', 'pv', k_dims)} * {dot('pq', 'pq', k_dims)})) "
        "* 1000000) AS BIGINT) AS proj_rel_micro "
        "FROM cand c JOIN pvec ON c.vec_id = pvec.vec_id, qp "
        "ORDER BY rel_micro DESC, c.vec_id"
    )


def kmeans_lloyd_step_sql(dim: int = 64, n_cells: int | None = 16) -> str:
    """Oracle for plans.emb.emb_kmeans_lloyd_step: md5-IVF assignment
    (shared _ivf_assign_ctes machinery), exact-integer per-cell dim
    sums, sign-safe truncating mean, and the integer squared centroid
    shift.  ``n_cells=None`` = the scaled sqrt(n) cell count."""
    return (
        "WITH " + _ivf_assign_ctes(dim, n_cells) + ", "
        "x AS (SELECT a.cell, CAST(generate_subscripts(e.embedding, 1) "
        "AS INTEGER) AS d, "
        "CAST(round(unnest(e.embedding)::DOUBLE * 1000000) AS BIGINT) AS xm "
        "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id), "
        "sums AS (SELECT cell, d, CAST(sum(xm) AS BIGINT) AS s, "
        "CAST(count(*) AS BIGINT) AS n FROM x GROUP BY cell, d), "
        "mean AS (SELECT cell, d, n, CASE WHEN s >= 0 THEN s // n "
        "ELSE -((-s) // n) END AS m FROM sums), "
        "shift AS (SELECT mean.cell, mean.n, "
        "mean.m - CAST(round(c.w[mean.d] * 1000000) AS BIGINT) AS diff "
        "FROM mean JOIN cents c ON mean.cell = c.c) "
        "SELECT CAST(cell AS INTEGER) AS cell, "
        "CAST(max(n) AS BIGINT) AS n_members, "
        "CAST(sum(diff * diff) AS BIGINT) AS shift_sq_micro2 "
        "FROM shift GROUP BY cell ORDER BY cell"
    )


def ivf_cell_health_sql(dim: int = 64, n_cells: int | None = 16) -> str:
    """Oracle for plans.emb.emb_ivf_cell_health: md5-IVF assignment
    (shared _ivf_assign_ctes), exact integer-micro squared distances
    to the owning centroid, and each centroid's squared distance to
    its nearest other centroid.  ``n_cells=None`` = the scaled sqrt(n)
    cell count."""
    wm1 = "CAST(round(c1.w[i] * 1000000) AS BIGINT)"
    wm2 = "CAST(round(c2.w[i] * 1000000) AS BIGINT)"
    return (
        "WITH " + _ivf_assign_ctes(dim, n_cells) + ", "
        "x AS (SELECT a.cell, CAST(generate_subscripts(e.embedding, 1) "
        "AS INTEGER) AS d, "
        "CAST(round(unnest(e.embedding)::DOUBLE * 1000000) AS BIGINT) AS xm "
        "FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id), "
        "cm AS (SELECT c, CAST(generate_subscripts(w, 1) AS INTEGER) AS d, "
        "CAST(round(unnest(w) * 1000000) AS BIGINT) AS wm FROM cents), "
        "dif AS (SELECT x.cell, x.xm - cm.wm AS df "
        "FROM x JOIN cm ON x.cell = cm.c AND x.d = cm.d), "
        f"agg AS (SELECT cell, CAST(count(*) // {dim} AS BIGINT) AS n_members, "
        "CAST(sum(df * df) AS BIGINT) AS tot_d2 FROM dif GROUP BY cell), "
        "sep AS (SELECT c1.c AS cell, min(list_reduce(list_prepend("
        "CAST(0 AS BIGINT), "
        f"[({wm1} - {wm2}) * ({wm1} - {wm2}) FOR i IN range(1, {dim + 1})]), "
        "(acc, v) -> acc + v)) AS nn_sep FROM cents c1 JOIN cents c2 "
        "ON c1.c <> c2.c GROUP BY c1.c) "
        "SELECT CAST(agg.cell AS INTEGER) AS cell, agg.n_members, "
        "CAST(agg.tot_d2 // agg.n_members AS BIGINT) AS mean_d2_micro2, "
        "CAST(sep.nn_sep AS BIGINT) AS nn_sep_micro2 "
        "FROM agg JOIN sep ON agg.cell = sep.cell ORDER BY cell"
    )


def hubness_audit_sql(
    dim: int = 64, n_cells: int | None = 16, k: int = 5, top: int = 10
) -> str:
    """Oracle for the cell-local hubness audit: md5-derived IVF cells
    (identical to ivf_topk_sql's assignment), per-source exact cosine
    top-k over cell-mates, then k-occurrence counts — the hubs.
    ``n_cells=None`` = the scaled sqrt(n) cell count (see
    _ivf_assign_ctes / similarity.scaled_n_cells)."""

    def dot(u: str, v: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    cos = (
        f"(round(({dot('a.embedding', 'b.embedding')} / "
        f"sqrt({dot('a.embedding', 'a.embedding')} * "
        f"{dot('b.embedding', 'b.embedding')})) * 1000000) / 1000000)"
    )
    return (
        f"WITH {_ivf_assign_ctes(dim, n_cells)}, "
        "v AS (SELECT a.vec_id, a.cell, e.embedding FROM assign a "
        "JOIN embeddings e ON e.vec_id = a.vec_id), "
        "pr AS (SELECT b.vec_id AS src, a.vec_id AS nbr, a.cell, "
        f"row_number() OVER (PARTITION BY b.vec_id ORDER BY {cos} DESC, "
        "a.vec_id) AS rn "
        "FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id <> b.vec_id), "
        f"sel AS (SELECT nbr, cell FROM pr WHERE rn <= {k}), "
        "occ AS (SELECT nbr AS vec_id, cell, CAST(count(*) AS BIGINT) AS "
        "k_occurrence FROM sel GROUP BY nbr, cell) "
        "SELECT vec_id, cell, k_occurrence FROM occ "
        f"ORDER BY k_occurrence DESC, vec_id LIMIT {top}"
    )


def quality_perceptron_sql(iters: int = 8, table: str = "documents") -> str:
    """Oracle for the batch-perceptron quality-classifier trainer: the
    full ``iters``-step trajectory as unrolled CTEs — one mistake-gated
    gradient aggregate and one integer weight update per iteration,
    matching plans/docs.py:docs_quality_perceptron step for step.

    All arithmetic is BIGINT: features are integer by construction, the
    update divides the summed gradient by the mistake count with ``//``
    (DuckDB truncates toward zero, mirrored by the Spark side's explicit
    trunc-div — Python's ``//`` floors and would diverge on negative
    gradients), and DuckDB's HUGEINT sum widening is cast back down.
    """
    sql = _perceptron_ctes(iters, table)
    union = " UNION ALL ".join(f"SELECT * FROM r{t}" for t in range(1, iters + 1))
    return f"{sql} SELECT * FROM ({union}) ORDER BY it"


def _perceptron_ctes(iters: int, table: str) -> str:
    """The shared unrolled training chain: feature CTE ``f`` (with
    ``source`` carried through for the filter view), weight CTEs
    ``it0..it{iters}``, per-iteration report CTEs ``r1..r{iters}``."""
    toks = "regexp_extract_all(text, '[^ ]+')"
    sql = (
        "WITH f AS MATERIALIZED (SELECT source, "
        "CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y, "
        "CAST(1 AS BIGINT) AS x0, "
        f"CAST(len({toks}) AS BIGINT) AS x1, "
        f"CAST(len(list_distinct({toks})) AS BIGINT) AS x2, "
        "CAST(n_chars AS BIGINT) AS x3, "
        f"CAST(len(list_filter({toks}, t -> t = 'the')) AS BIGINT) AS x4 "
        f"FROM {table}), "
        "it0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, "
        "CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3, "
        "CAST(0 AS BIGINT) AS w4)"
    )
    for t in range(1, iters + 1):
        sql += (
            f", m{t} AS (SELECT f.*, "
            "(y * (w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4) <= 0) AS mis "
            f"FROM f CROSS JOIN it{t - 1})"
            f", a{t} AS (SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(coalesce(sum(CASE WHEN mis THEN 1 ELSE 0 END), 0) AS BIGINT) AS nm, "
            + ", ".join(
                f"CAST(coalesce(sum(y * x{j}) FILTER (WHERE mis), 0) "
                f"AS BIGINT) AS g{j}"
                for j in range(5)
            )
            + f" FROM m{t})"
            f", it{t} AS (SELECT "
            + ", ".join(
                f"w{j} + g{j} // GREATEST(nm, 1) AS w{j}" for j in range(5)
            )
            + f" FROM it{t - 1} CROSS JOIN a{t})"
            f", r{t} AS (SELECT CAST({t} AS INTEGER) AS it, "
            "nm AS n_mistakes, "
            "(10000 * (n - nm)) // GREATEST(n, 1) AS acc_bp, "
            f"w0, w1, w2, w3, w4 FROM a{t} CROSS JOIN it{t})"
        )
    return sql


def quality_perceptron_filter_sql(
    iters: int = 8, table: str = "documents"
) -> str:
    """Oracle for the apply-the-classifier view: the SAME unrolled
    training chain, then one scoring pass with the final weights —
    per-source doc / predicted-positive / true-label / true-positive
    counts (margin > 0 = predicted positive), all BIGINT."""
    sql = _perceptron_ctes(iters, table)
    return (
        f"{sql} SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4 > 0 "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos, "
        "CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, "
        "CAST(sum(CASE WHEN y = 1 AND "
        "w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4 > 0 "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos "
        f"FROM f CROSS JOIN it{iters} GROUP BY source ORDER BY source"
    )


def quality_perceptron_sweep_sql(
    iters: int = 8,
    table: str = "documents",
    thresholds: tuple = (-1000000, -10000, -100, 0, 100, 10000, 1000000),
) -> str:
    """Oracle for the operating-point sweep: the SAME unrolled training
    chain, one scoring pass, then a per-threshold confusion rollup —
    predicted positive = margin > threshold.  The thresholds table is
    LEFT JOINed onto the scored rows so an empty corpus still yields
    one all-zero row per threshold (matching the Spark side's 1-row
    aggregate + stack).  All BIGINT; ``//`` on the non-negative bp
    ratios is exact on both engines."""
    sql = _perceptron_ctes(iters, table)
    vals = ", ".join(f"({t})" for t in thresholds)
    return (
        f"{sql}, s AS (SELECT y, "
        f"(w0*x0 + w1*x1 + w2*x2 + w3*x3 + w4*x4) AS m "
        f"FROM f CROSS JOIN it{iters}), "
        f"g AS (SELECT CAST(t.th AS BIGINT) AS threshold, "
        "CAST(count(s.m) AS BIGINT) AS n_docs, "
        "CAST(coalesce(sum(CASE WHEN s.y = 1 THEN 1 END), 0) AS BIGINT) "
        "AS n_pos, "
        "CAST(coalesce(sum(CASE WHEN s.m > t.th THEN 1 END), 0) AS BIGINT) "
        "AS n_pred_pos, "
        "CAST(coalesce(sum(CASE WHEN s.y = 1 AND s.m > t.th THEN 1 END), 0) "
        "AS BIGINT) AS n_true_pos "
        f"FROM (VALUES {vals}) t(th) LEFT JOIN s ON TRUE GROUP BY t.th) "
        "SELECT threshold, n_pred_pos, n_true_pos, "
        "CAST((10000 * n_true_pos) // GREATEST(n_pred_pos, 1) AS BIGINT) "
        "AS precision_bp, "
        "CAST((10000 * n_true_pos) // GREATEST(n_pos, 1) AS BIGINT) "
        "AS recall_bp, "
        "CAST((10000 * (n_docs - n_pred_pos)) // GREATEST(n_docs, 1) "
        "AS BIGINT) AS attrition_bp "
        "FROM g ORDER BY threshold"
    )


def knn_label_accuracy_sql(
    k: int = 5, step: int = 29, cap: int = 1160, dim: int = 64
) -> str:
    """Oracle for the leave-out k-NN label-accuracy audit: brute-force
    fold-exact cosine of every held-out query vector against the whole
    train side, top-k by (micro-cosine DESC, vec_id), majority label
    vote with min-label tie-break — the all-pairs formulation the Spark
    side's two-level keyed top-k must reproduce exactly."""

    def dot(u: str, v: str) -> str:
        return (
            "list_reduce(list_prepend(0.0::DOUBLE, "
            f"[{u}[i]::DOUBLE * {v}[i]::DOUBLE FOR i IN range(1, {dim + 1})]), "
            "(acc, x) -> acc + x)"
        )

    return (
        "WITH ev AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv "
        f"FROM embeddings WHERE vec_id % {step} = 0 AND vec_id < {cap}), "
        "tr AS (SELECT vec_id, label, embedding AS tv FROM embeddings "
        f"WHERE NOT (vec_id % {step} = 0 AND vec_id < {cap})), "
        "sc AS (SELECT qid, qlabel, vec_id, label, "
        f"CAST(round(({dot('tv', 'qv')} / "
        f"sqrt({dot('tv', 'tv')} * {dot('qv', 'qv')})) * 1000000) AS BIGINT) "
        "AS cm FROM tr CROSS JOIN ev), "
        "top AS (SELECT * FROM sc QUALIFY "
        f"row_number() OVER (PARTITION BY qid ORDER BY cm DESC, vec_id) <= {k}), "
        "v AS (SELECT qid, qlabel, label, CAST(count(*) AS BIGINT) AS votes "
        "FROM top GROUP BY qid, qlabel, label), "
        "p AS (SELECT qid, qlabel, label AS pred_label, votes FROM v QUALIFY "
        "row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) = 1) "
        "SELECT qid AS vec_id, qlabel AS label, pred_label, "
        "votes AS top_votes, "
        "CAST(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END AS INTEGER) "
        "AS correct FROM p ORDER BY vec_id"
    )
