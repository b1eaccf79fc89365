"""Text-analysis function semantics, including scripts the corpus lacks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_cluster_hash_spark.functions import text as tx


@pytest.fixture(scope="module")
def lang_samples(spark):
    rows = [
        ("en", "the cat sat on the mat and it was happy"),
        ("es", "el perro corre en la casa de la abuela y los gatos"),
        ("fr", "le chien est dans la maison et les chats du village"),
        ("de", "der hund ist nicht in das haus und die katze"),
        ("zh", "这是一个中文句子用来测试语言识别"),
        ("ja", "これはにほんごのぶんしょうです"),
        ("ko", "이것은 한국어 문장입니다"),
        ("ru", "это русское предложение для проверки"),
        ("ar", "هذه جملة عربية للاختبار"),
        ("el", "αυτή είναι μια ελληνική πρόταση"),
        ("und", "zzz qqq xxx yyy www"),
    ]
    return spark.createDataFrame(rows, "expected string, text string")


def test_language_id_scripts_and_stopwords(lang_samples):
    out = lang_samples.select(
        "expected", tx.language_id_col(F.col("text")).alias("got")
    ).collect()
    for r in out:
        assert r["got"] == r["expected"], (r["expected"], r["got"])


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world, it's 42 degrees!",), ("",), ("one",)], "text string"
    )
    rows = df.select(
        tx.ws_token_count(F.col("text")).alias("ws"),
        tx.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()
    # "hello world, it's 42 degrees!" -> ws: 5 tokens
    # bpe-ish: hello|world|,|it|'|s|42|degrees|! = 9
    assert (rows[0]["ws"], rows[0]["bpe"]) == (5, 9)
    assert (rows[1]["ws"], rows[1]["bpe"]) == (0, 0)
    assert (rows[2]["ws"], rows[2]["bpe"]) == (1, 1)


def test_quality_score_ranges(spark, sf_medium):
    from duckdb_cluster_hash_spark.sources import load_table

    docs = load_table(spark, sf_medium, "documents")
    feats = tx.quality_features(docs, "text")
    scored = feats.select(tx.quality_score_col().alias("q"))
    bad = scored.where((F.col("q") < 0) | (F.col("q") > 1)).count()
    assert bad == 0


def test_quality_features_known_text(spark):
    df = spark.createDataFrame(
        [("the the the the the",)], "text string"
    )
    r = tx.quality_features(df, "text").head()
    assert r["n_tokens"] == 5
    assert r["repetition_ratio"] == 0.8  # 5 tokens, 1 distinct
    assert r["stop_ratio"] == 1.0
    assert r["punct_ratio"] == 0.0


def test_rolling_hash_deterministic_and_prefix_sensitive(spark):
    df = spark.createDataFrame(
        [("abc",), ("abd",), ("abc",), ("",)], "text string"
    )
    rows = df.select(tx.rolling_hash_pudf()(F.col("text")).alias("h")).collect()
    assert rows[0]["h"] == rows[2]["h"]
    assert rows[0]["h"] != rows[1]["h"]
    assert rows[3]["h"] == 0
    # reference value: ((0*31+97)*31+98)*31+99 = 97*961 + 98*31 + 99
    assert rows[0]["h"] == 97 * 31 * 31 + 98 * 31 + 99


def test_media_pipeline_roundtrip(spark, sf_medium):
    from duckdb_cluster_hash_spark.operators import multimodal as mm
    from duckdb_cluster_hash_spark.sources import load_table

    docs = load_table(spark, sf_medium, "documents").limit(50)
    meta = mm.media_metadata(mm.attach_fake_media(docs))
    rows = meta.collect()
    assert len(rows) == 50
    for r in rows:
        assert r["width"] == 16 + r["doc_id"] % 64
        assert r["height"] == 16 + (r["doc_id"] * 7) % 48
        assert r["byte_len"] >= 16
        assert r["aspect_milli"] == r["width"] * 1000 // r["height"]


def test_frame_sampling(spark):
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame([(9, "some payload text")], "doc_id long, text string")
    media = mm.attach_fake_media(df)
    frames = mm.sample_frames(media, every_k=2).collect()
    # doc_id 9 -> n_frames = 1 + 9 % 8 = 2 -> sampled idx {0}
    assert [f["frame_idx"] for f in frames] == [0]


def test_pnm_dhash_matches_python_reference(spark):
    """The Arrow dHash kernel must reproduce a pure-Python rendering of
    the recipe (decode -> Rec.601 integer luma -> nearest-neighbor 9x8
    grid -> horizontal-gradient bits) on both channel layouts, and two
    identical rasters must hash identically (Hamming 0)."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(2, "x"), (9, "y"), (1282, "z")], "doc_id long, text string"
    )  # 1282 = 2 + lcm(40, 256): same (w, h, parity) AND same 7d%256 shift
    got = {
        r["doc_id"]: [r[f"b{i}"] for i in range(8)]
        for r in mm.pnm_dhash(mm.attach_fake_pnm(df)).collect()
    }

    def ref_bands(d):
        w, h = 4 + d % 8, 3 + (d * 3) % 5
        c = 3 if d % 2 == 0 else 1
        px = [(d * 7 + i * 13) % 256 for i in range(w * h * c)]
        if c == 3:
            gray = [
                (299 * px[3 * i] + 587 * px[3 * i + 1] + 114 * px[3 * i + 2])
                // 1000
                for i in range(w * h)
            ]
        else:
            gray = px
        grid = [
            [gray[((h * gy) // 8) * w + (w * gx) // 9] for gx in range(9)]
            for gy in range(8)
        ]
        return [
            sum(
                (1 << gx)
                for gx in range(8)
                if grid[gy][gx + 1] > grid[gy][gx]
            )
            for gy in range(8)
        ]

    for d in (2, 9, 1282):
        assert got[d] == ref_bands(d), d
    # doc 1282's raster is bit-identical to doc 2's (same dims via
    # mod 40, same 7d%256 shift) -> identical hash -> a distance-0 pair
    assert got[2] == got[1282]


def test_image_neardup_banding_exact_vs_bruteforce(spark, tmp_path):
    """The signature-grouped banded join must account EXACTLY the
    brute-force DOC-pair mass at tau=6 (pigeonhole recall + exact
    multiplicity weighting proof on real data), and the pair-class
    rows must carry consistent representatives.  The 1400-id range
    guarantees exact-duplicate rasters (period 1280), exercising the
    distance-0 cluster path."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    sf = str(tmp_path)
    docs = spark.range(0, 1400).selectExpr(
        "id AS doc_id", "'t' AS text", "'en' AS lang", "'s' AS source",
        "CAST(1 AS BIGINT) AS n_chars"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    bill = {
        r["hamming"]: r["n_pairs"]
        for r in QUERIES["docs_image_neardup_bill"](spark, sf).collect()
    }
    # brute force at DOC level over the collected hashes
    sig = {
        r["doc_id"]: tuple(r[f"b{i}"] for i in range(8))
        for r in mm.pnm_dhash(
            mm.attach_fake_pnm(
                spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
            )
        ).collect()
    }
    want = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(
                bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b])
            )
            if ham <= 6:
                want[ham] = want.get(ham, 0) + 1
    assert bill == want
    assert 0 in bill  # the duplicate-cluster path really ran
    classes = QUERIES["docs_image_neardup_pairs"](spark, sf).collect()
    assert 0 < len(classes) <= 100
    for p in classes:
        assert p["hamming"] <= 6 and p["doc_a"] < p["doc_b"]
        assert p["n_pairs"] >= 1
        # representatives hash at exactly the claimed distance
        got_ham = sum(
            bin(x ^ y).count("1")
            for x, y in zip(sig[p["doc_a"]], sig[p["doc_b"]])
        )
        assert got_ham == p["hamming"], p


def _audio_ref_bands(d, n_base=240):
    """Independent pure-Python rendering of the audio energy-dHash
    recipe (closed-form samples -> 72 nearest-neighbor energy segments
    -> 8x9 grid -> sign-of-delta bits)."""
    n = (n_base + d % 9) * (1 + d % 2)
    s = [(d * 31 + k * 17) % 4096 - 2048 for k in range(n)]
    seg = []
    for g in range(72):
        lo, hi = n * g // 72, n * (g + 1) // 72
        seg.append(sum(v * v for v in s[lo:hi]))
    return [
        sum(
            (1 << gx)
            for gx in range(8)
            if seg[9 * gy + gx + 1] > seg[9 * gy + gx]
        )
        for gy in range(8)
    ]


def test_wav_energy_dhash_matches_python_reference(spark):
    """The Arrow energy-dHash kernel must reproduce a pure-Python
    rendering of the recipe through the REAL RIFF decode on both
    channel layouts, and the segment-inverse map the oracle uses
    (g = (72k+71)//n) must agree with the boundary map the kernel
    uses (lo_g = n*g//72)."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(0, "a"), (7, "b"), (100, "c")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: [r[f"b{i}"] for i in range(8)]
        for r in mm.wav_energy_dhash(
            mm.attach_fake_wav(df, n_base=240)
        ).collect()
    }
    for d in (0, 7, 100):
        assert got[d] == _audio_ref_bands(d), d
    # boundary map vs inverse map: every sample lands in the segment
    # whose [lo, hi) range contains it, for every clip length in play
    for n in [(240 + r) * c for r in range(9) for c in (1, 2)]:
        for k in range(n):
            g = (72 * k + 71) // n
            assert n * g // 72 <= k < n * (g + 1) // 72, (n, k, g)


def test_audio_neardup_banding_exact_vs_bruteforce(spark, tmp_path):
    """The audio banded join must account EXACTLY the brute-force
    DOC-pair mass at tau=6 (pigeonhole recall + multiplicity proof on
    real decoded bytes), including the distance-0 cluster path (the
    500-id range carries ~71 identical-signature pairs, measured)."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    sf = str(tmp_path)
    docs = spark.range(0, 500).selectExpr(
        "id AS doc_id", "'t' AS text", "'en' AS lang", "'s' AS source",
        "CAST(1 AS BIGINT) AS n_chars"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    bill = {
        r["hamming"]: r["n_pairs"]
        for r in QUERIES["docs_audio_neardup_bill"](spark, sf).collect()
    }
    sig = {
        r["doc_id"]: tuple(r[f"b{i}"] for i in range(8))
        for r in mm.wav_energy_dhash(
            mm.attach_fake_wav(
                spark.read.parquet(f"{sf}/documents.parquet").select("doc_id"),
                n_base=240,
            )
        ).collect()
    }
    want = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b]))
            if ham <= 6:
                want[ham] = want.get(ham, 0) + 1
    assert bill == want
    assert 0 in bill  # the duplicate-cluster path really ran
    classes = QUERIES["docs_audio_neardup_pairs"](spark, sf).collect()
    assert 0 < len(classes) <= 100
    for p in classes:
        assert p["hamming"] <= 6 and p["doc_a"] < p["doc_b"]
        got_ham = sum(
            bin(x ^ y).count("1")
            for x, y in zip(sig[p["doc_a"]], sig[p["doc_b"]])
        )
        assert got_ham == p["hamming"], p


def _capped_bruteforce_classes(sig_by_doc, tau, cap):
    """Reference implementation of the pair-CLASS semantics including
    the band cap: distinct-signature groups, cluster rows, and cross
    rows kept iff some shared band's bucket holds <= cap distinct
    signatures."""
    from collections import Counter, defaultdict

    groups = defaultdict(list)
    for d, s in sig_by_doc.items():
        groups[s].append(d)
    dist = sorted(groups, key=lambda s: min(groups[s]))
    freq = [Counter(s[i] for s in dist) for i in range(8)]
    out = []
    for s, ds in groups.items():
        if len(ds) > 1:
            out.append((min(ds), max(ds), 0, len(ds) * (len(ds) - 1) // 2))
    for i, a in enumerate(dist):
        for b in dist[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
            if ham <= tau and any(
                a[t] == b[t] and freq[t][a[t]] <= cap for t in range(8)
            ):
                ra, rb = min(groups[a]), min(groups[b])
                if ra > rb:
                    ra, rb = rb, ra
                out.append((ra, rb, ham, len(groups[a]) * len(groups[b])))
    return sorted(out)


def test_band_cap_semantics_match_bruteforce(spark):
    """DHASH_BAND_CAP's recall rule must be REAL and engine-exact: with
    the cap forced low enough to trigger (cap=4 on a 300-doc corpus),
    the Spark banded join's class rows must equal a brute-force
    reference applying the identical rule (pair kept iff hamming <=
    tau and >= 1 shared band in a bucket of <= cap signatures), and
    must be a strict subset of the uncapped output."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm
    from duckdb_cluster_hash_spark.plans import dedup_text as dt

    docs = spark.range(0, 300).selectExpr("id AS doc_id")
    sig_df = mm.pnm_dhash(mm.attach_fake_pnm(docs))
    sig = {
        r["doc_id"]: tuple(r[f"b{i}"] for i in range(8))
        for r in sig_df.collect()
    }
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"], r["n_pairs"])
        for r in dt._sig_pair_classes(sig_df, 6, cap=4).collect()
    )
    want = _capped_bruteforce_classes(sig, 6, 4)
    assert got == want
    uncapped = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"], r["n_pairs"])
        for r in dt._sig_pair_classes(sig_df, 6, cap=10**9).collect()
    )
    assert set(got) < set(uncapped)  # the cap really dropped hot pairs


def test_pair_class_expansion_matches_doc_level(spark):
    """Class rows are CLASSES, not doc pairs (the API seam a consumer
    could misread): expanding each cluster row to its cnt-choose-2
    member pairs and each cross row to its ca*cb member cross product
    must reproduce the doc-level brute-force enumeration exactly —
    same pairs, same distances, same total mass."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm
    from duckdb_cluster_hash_spark.plans import dedup_text as dt
    from collections import defaultdict

    docs = spark.range(0, 1400).selectExpr("id AS doc_id")
    sig_df = mm.pnm_dhash(mm.attach_fake_pnm(docs))
    sig = {
        r["doc_id"]: tuple(r[f"b{i}"] for i in range(8))
        for r in sig_df.collect()
    }
    members = defaultdict(list)  # signature group keyed by its rep
    groups = defaultdict(list)
    for d, s in sig.items():
        groups[s].append(d)
    for s, ds in groups.items():
        members[min(ds)] = sorted(ds)
    expanded = set()
    for r in dt._sig_pair_classes(sig_df, 6).collect():
        if r["hamming"] == 0:
            ds = members[r["doc_a"]]
            assert r["doc_b"] == max(ds) and r["n_pairs"] == len(ds) * (
                len(ds) - 1
            ) // 2
            pairs = {
                (a, b, 0)
                for i, a in enumerate(ds)
                for b in ds[i + 1 :]
            }
        else:
            pairs = {
                (min(a, b), max(a, b), r["hamming"])
                for a in members[r["doc_a"]]
                for b in members[r["doc_b"]]
            }
            assert len(pairs) == r["n_pairs"]
        assert not (expanded & pairs)  # classes partition the pairs
        expanded |= pairs
    want = set()
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b]))
            if ham <= 6:
                want.add((a, b, ham))
    assert expanded == want


def test_decode_image_is_stubbed_for_non_pnm():
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG\r\n")


def test_decode_pnm_handcrafted_images():
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    # 2x2 PGM, comment between tokens, multi-space separators
    pgm = b"P5 # c1\n# full comment line\n 2\t2 # c2\n255\n" + bytes(
        [10, 20, 30, 40]
    )
    w, h, ch, mv, px = mm.decode_pnm(pgm)
    assert (w, h, ch, mv) == (2, 2, 1, 255)
    assert px.tolist() == [10, 20, 30, 40]
    # 2x1 PPM: raster bytes may look like whitespace/# and must NOT be
    # re-tokenized (0x0A and 0x23 appear as pixel values)
    ppm = b"P6\n2 1\n255\n" + bytes([0x0A, 0x23, 0x0A, 255, 0, 128])
    w, h, ch, mv, px = mm.decode_pnm(ppm)
    assert (w, h, ch, mv) == (2, 1, 3, 255)
    assert px.tolist() == [0x0A, 0x23, 0x0A, 255, 0, 128]
    # decode_image routes PNM natively (no codec import)
    assert mm.decode_image(ppm) == (2, 1, "RGB")
    assert mm.decode_image(pgm) == (2, 2, "L")


def test_decode_pnm_rejects_malformed():
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    with pytest.raises(ValueError):  # ASCII PNM not supported
        mm.decode_pnm(b"P3\n1 1\n255\n1 2 3\n")
    with pytest.raises(ValueError):  # truncated raster
        mm.decode_pnm(b"P5\n2 2\n255\n\x00\x01")
    with pytest.raises(ValueError):  # 2-byte samples
        mm.decode_pnm(b"P5\n1 1\n65535\n\x00\x00")
    with pytest.raises(ValueError):  # header cut off mid-token
        mm.decode_pnm(b"P6\n4 ")


def _wav_bytes(
    samples, channels=1, rate=8000, extra_chunk=True, fmt_tag=1, bits=16
):
    import struct

    raw = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, channels, rate, rate * channels * 2,
        channels * 2, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # odd body size exercises the RIFF padding rule
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx\x00"
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_handcrafted_clips():
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    sr, ch, bits, nf, s = mm.decode_wav(
        _wav_bytes([-2048, 2047, 0, -1], channels=2, rate=12000)
    )
    assert (sr, ch, bits, nf) == (12000, 2, 16, 2)
    assert s.tolist() == [-2048, 2047, 0, -1]
    # no metadata chunk: plain fmt+data still decodes
    sr, ch, bits, nf, s = mm.decode_wav(
        _wav_bytes([5], extra_chunk=False)
    )
    assert (nf, s.tolist()) == (1, [5])


def test_decode_wav_rejects_malformed():
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    with pytest.raises(ValueError):  # not RIFF
        mm.decode_wav(b"OggS" + b"\x00" * 40)
    with pytest.raises(ValueError):  # float PCM rejected, not misread
        mm.decode_wav(_wav_bytes([1], fmt_tag=3))
    with pytest.raises(ValueError):  # 8-bit rejected
        mm.decode_wav(_wav_bytes([1], bits=8))
    with pytest.raises(ValueError):  # truncated data chunk
        mm.decode_wav(_wav_bytes([1, 2, 3])[:-3])


def test_wav_pipeline_roundtrip(spark):
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(4, "x"), (7, "y")], "doc_id long, text string"
    )
    stats = {
        r["doc_id"]: r.asDict()
        for r in mm.wav_decode_stats(mm.attach_fake_wav(df)).collect()
    }
    # doc 4: rate 8000+1*4000, mono, 12 frames of (124+17k)%4096-2048
    four = stats[4]
    exp = [(4 * 31 + k * 17) % 4096 - 2048 for k in range(12)]
    assert (four["sample_rate"], four["channels"], four["n_frames"]) == (
        12000, 1, 12,
    )
    assert four["sample_sum"] == sum(exp)
    assert (four["sample_min"], four["sample_max"]) == (min(exp), max(exp))
    assert four["energy"] == sum(v * v for v in exp)
    # doc 7: stereo -> 15 frames, 30 interleaved samples
    seven = stats[7]
    exp7 = [(7 * 31 + k * 17) % 4096 - 2048 for k in range(30)]
    assert (seven["channels"], seven["n_frames"]) == (2, 15)
    assert seven["sample_sum"] == sum(exp7)


def test_pnm_pipeline_roundtrip(spark):
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(2, "x"), (9, "y")], "doc_id long, text string"
    )
    stats = {
        r["doc_id"]: r.asDict()
        for r in mm.pnm_decode_stats(mm.attach_fake_pnm(df)).collect()
    }
    # doc 2: P6, w=4+2=6, h=3+6%5=4, 6*4*3=72 px of (14+13i)%256
    two = stats[2]
    expected = [(2 * 7 + i * 13) % 256 for i in range(72)]
    assert (two["fmt"], two["width"], two["height"], two["channels"]) == (
        "P6", 6, 4, 3,
    )
    assert two["px_sum"] == sum(expected)
    assert (two["px_min"], two["px_max"]) == (min(expected), max(expected))
    assert two["mean_milli"] == 1000 * sum(expected) // 72
    # doc 9: P5, w=4+1=5, h=3+27%5=5, 25 px
    nine = stats[9]
    expected9 = [(9 * 7 + i * 13) % 256 for i in range(25)]
    assert (nine["fmt"], nine["channels"]) == ("P5", 1)
    assert nine["px_sum"] == sum(expected9)


def test_media_byte_features_values_and_edges(spark):
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "abca"), (2, "")], "doc_id long, text string"
    )
    feats = {
        r["doc_id"]: r.asDict()
        for r in mm.media_byte_features(mm.attach_fake_media(df)).collect()
    }
    a = feats[1]
    assert a["payload_len"] == 4
    assert a["distinct_bytes"] == 3  # a, b, c
    assert a["byte_sum"] == ord("a") * 2 + ord("b") + ord("c")
    assert (a["byte_min"], a["byte_max"]) == (ord("a"), ord("c"))
    empty = feats[2]
    assert empty["payload_len"] == 0
    assert (empty["distinct_bytes"], empty["byte_sum"]) == (0, 0)
    assert (empty["byte_min"], empty["byte_max"]) == (-1, -1)


# per-blob media kernel -> (media synthesizer, declared output schema)
_MEDIA_KERNELS = {
    "pnm_decode_stats": ("attach_fake_pnm", "PNM_STATS_SCHEMA"),
    "wav_decode_stats": ("attach_fake_wav", "WAV_STATS_SCHEMA"),
    "y4m_frame_stats": ("attach_fake_y4m", "Y4M_STATS_SCHEMA"),
    "pnm_dhash": ("attach_fake_pnm", "DHASH_SCHEMA"),
    "wav_energy_dhash": ("attach_fake_wav", "DHASH_SCHEMA"),
    "y4m_luma_dhash": ("attach_fake_y4m", "DHASH_SCHEMA"),
    "media_byte_features": ("attach_fake_media", "BYTE_FEATURES_SCHEMA"),
}


@pytest.mark.parametrize("kernel", list(_MEDIA_KERNELS))
def test_media_kernels_on_empty_inputs(spark, kernel):
    """A zero-row frame gives zero rows, and a 3-row frame spread over 8
    partitions (most of them empty) gives the rows of its one-partition
    twin — both with exactly the kernel's declared schema."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    attach, schema = (getattr(mm, n) for n in _MEDIA_KERNELS[kernel])

    def run(df):
        return getattr(mm, kernel)(attach(df))

    cols = "doc_id long, text string"
    empty = run(spark.createDataFrame([], cols))
    assert empty.schema == schema
    assert empty.collect() == []
    df = spark.createDataFrame([(2, "x"), (9, "y"), (1282, "z")], cols)
    spread = run(df.repartition(8))
    assert spread.schema == schema
    got = sorted(spread.collect())
    assert len(got) == 3
    assert got == sorted(run(df.coalesce(1)).collect())


def test_pnm_dhash_carry_on_empty_partitions(spark):
    """The carried event-time column stays aligned with its row when most
    partitions are empty, and a zero-row frame keeps the carried field."""
    from pyspark.sql.types import StructType

    from duckdb_cluster_hash_spark.operators import multimodal as mm

    cols = "doc_id long, text string, ts timestamp"
    df = spark.createDataFrame(
        [(2, "x", None), (9, "y", None), (1282, "z", None)], cols
    ).withColumn("ts", F.timestamp_seconds(F.col("doc_id")))
    schema = StructType(mm.DHASH_SCHEMA.fields + [df.schema["ts"]])

    def run(frame):
        return mm.pnm_dhash(mm.attach_fake_pnm(frame), carry=("ts",))

    empty = run(spark.createDataFrame([], cols))
    assert empty.schema == schema
    assert empty.collect() == []
    spread = run(df.repartition(8))
    assert spread.schema == schema
    want_ts = {r["doc_id"]: r["ts"] for r in df.collect()}
    rows = spread.collect()
    assert {r["doc_id"]: r["ts"] for r in rows} == want_ts
    assert sorted(rows) == sorted(run(df.coalesce(1)).collect())


def test_repetition_stats_values(spark):
    from duckdb_cluster_hash_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in repetition_stats(df, "doc_id", "text").collect()}
    # doc 1: tokens [a,a,a,b] -> top share 3/4; 2-grams [a a, a a, a b] -> 1 dup of 3
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_distinct"] == 2
    assert rows[1]["top_token_bp"] == 7500
    assert rows[1]["dup_2gram_bp"] == 3333
    # doc 2: no repetition at all
    assert rows[2]["top_token_bp"] == 5000 and rows[2]["dup_2gram_bp"] == 0
    # doc 3: single word -> whole-text fallback gram, zero dup
    assert rows[3]["n_tokens"] == 1 and rows[3]["dup_2gram_bp"] == 0


def test_tfidf_top_terms_ranking(spark):
    from duckdb_cluster_hash_spark.functions.text import tfidf_top_terms

    # 'rare' appears only in src A (df=1), 'common' in every doc (df=4)
    df = spark.createDataFrame(
        [
            (1, "A", "common rare rare"),
            (2, "A", "common filler"),
            (3, "B", "common other"),
            (4, "B", "common other"),
        ],
        "doc_id long, source string, text string",
    )
    top = tfidf_top_terms(df, "doc_id", "text", "source", 1).collect()
    by_grp = {r["grp"]: r for r in top}
    assert by_grp["A"]["term"] == "rare"  # tf=2, df=1 -> score 8
    assert by_grp["A"]["score"] == 8
    assert by_grp["B"]["term"] == "other"  # tf=2, df=2 -> score 4 beats common (2*4//4=2)


def test_bm25_ranking_and_hand_values(spark):
    # 4 docs: d0 matches both terms, d1 one term twice, d2 one term in a
    # long doc (length-normalized DOWN), d3 no match at all.
    rows = [
        (0, "spark hash join"),
        (1, "hash hash table"),
        (2, "hash " + "pad " * 37),  # dl=38, one hit, long doc
        (3, "sort merge only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.bm25_topk(df, "doc_id", "text", ("spark", "hash"), k=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # no-hit docs never appear
    assert ids[0] == 0  # both-terms doc wins
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].n_hit_terms == 2
    assert by_id[1].n_hit_terms == 1
    # same term, same tf=1 — the longer doc must score strictly lower
    d1_single = [
        r for r in tx.bm25_topk(
            df, "doc_id", "text", ("hash",), k=10
        ).collect()
    ]
    scores = {r.doc_id: r.score for r in d1_single}
    assert scores[0] > scores[2]  # dl=3 beats dl=38 at tf=1
    # exact integer recurrence, hand-computed for doc 0, term set
    # {'hash'}: N=4, df=3, avgdl_x1000 = (3+3+38+3)*1000//4 = 11750
    # idf = (4-3+1)*1000 // (3+1) = 500
    # dlr = 3_000_000 // 11750 = 255; inner = 250 + (750*255)//1000 = 441
    # denom = 1000 + (1200*441)//1000 = 1529
    # s = 500*1*2200 // 1529 = 719
    assert scores[0] == 719


def test_bm25_multispace_and_empty_docs(spark):
    rows = [(0, "  spark   spark  "), (1, ""), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.bm25_topk(df, "doc_id", "text", ("spark",), k=5).collect()
    assert [r.doc_id for r in out] == [0]
    assert out[0].score > 0


def test_bigram_lift_hand_values_and_edges(spark):
    # "a b" appears in every doc (5x); "c d" once; singleton docs and an
    # empty doc contribute no bigrams but their tokens still count.
    rows = [(i, "a b") for i in range(5)] + [(5, "c d"), (6, "e"), (7, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.bigram_lift_top(df, "doc_id", "text", k=10, min_count=5).collect()
    assert [(r.w1, r.w2) for r in out] == [("a", "b")]
    # B = 6 bigrams total; c_ab=5, c_a=5, c_b=5 →
    # lift = (5*6*1000)//(5*5) = 1200
    assert out[0].lift_x1000 == 1200
    assert out[0].c_xy == 5
    # min_count=1 surfaces the (c, d) pair too
    out2 = tx.bigram_lift_top(df, "doc_id", "text", k=10, min_count=1).collect()
    pairs = {(r.w1, r.w2): r.lift_x1000 for r in out2}
    # c_cd=1, c_c=1, c_d=1 → lift = (1*6*1000)//1 = 6000 — rare-pair
    # lift dominates, exactly PMI's behavior
    assert pairs[("c", "d")] == 6000


def test_pii_regexes_cross_engine_semantics(spark):
    """The catalog's PII regexes must match identically in Spark (Java
    regex) and DuckDB (RE2) on the structures they claim to handle."""
    import duckdb

    from duckdb_cluster_hash_spark.plans.catalog import (
        _PII_EMAIL_RE,
        _PII_IP_RE,
    )

    samples = [
        "plain text no pii",
        "mail a.b-c_d%x+1@sub.domain.org end",
        "ip 10.0.255.97 and 1.2.3.4 twice",
        "not-an-ip 1.2.3 and half@nodot",
        "u77@example.com at 10.1.2.3",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = df.select(
        F.regexp_count("s", F.lit(_PII_EMAIL_RE)).alias("e"),
        F.regexp_count("s", F.lit(_PII_IP_RE)).alias("i"),
        F.regexp_replace(
            F.regexp_replace("s", _PII_EMAIL_RE, "<EMAIL>"),
            _PII_IP_RE,
            "<IP>",
        ).alias("r"),
    ).collect()
    con = duckdb.connect()
    for row, s in zip(got, samples):
        e, i, r = con.execute(
            "SELECT len(regexp_extract_all(?, ?)), "
            "len(regexp_extract_all(?, ?)), "
            "regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'), ?, "
            "'<IP>', 'g')",
            [s, _PII_EMAIL_RE, s, _PII_IP_RE, s, _PII_EMAIL_RE, _PII_IP_RE],
        ).fetchone()
        assert (row.e, row.i, row.r) == (e, i, r), s
    # and no PII survives redaction on the hit rows
    assert "<EMAIL>" in got[4].r and "<IP>" in got[4].r
    assert "@" not in got[4].r


# ---------------------------------------------------------------------------
# BPE training loop — the doubled-separator replace encoding
# (docs_bpe_training_loop's correctness core; see its docstring)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

from duckdb_cluster_hash_spark.plans.catalog import (  # noqa: E402
    bpe_encode_word,
    bpe_merge_apply,
    bpe_pair_counts,
)


def _greedy_merge(syms: list[str], lhs: str, rhs: str) -> list[str]:
    """Independent reference merger: one greedy left-to-right,
    non-overlapping merge pass over a symbol list — the textbook BPE
    merge step (Sennrich et al. 2016), written with none of the
    engine's string-encoding machinery."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _decode(s: str) -> list[str]:
    return s.strip().split("  ") if s.strip() else []


_words = st.lists(
    # tiny alphabet on purpose: maximizes runs like "aaaa"/"abab", the
    # exact cases where a single-space encoding diverges from greedy
    st.text(alphabet="ab", min_size=1, max_size=12),
    min_size=1,
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(_words, st.integers(min_value=1, max_value=6))
def test_bpe_encoding_is_greedy_merge(words, n_merges):
    """Property: encode -> chained str.replace -> decode is EXACTLY the
    greedy merger, for any word set and any merge sequence drawn from
    the pairs actually present (merged symbols included, so multi-char
    merges-of-merges are exercised too)."""
    enc = {w: bpe_encode_word(w) for w in words}
    ref = {w: list(w) for w in words}
    for _ in range(n_merges):
        # deterministically pick the lexicographically-largest adjacent
        # pair still present (any rule works for the property; this one
        # needs no randomness source beyond hypothesis' inputs)
        pairs = sorted(
            {
                (s[i], s[i + 1])
                for s in ref.values()
                for i in range(len(s) - 1)
            }
        )
        if not pairs:
            break
        lhs, rhs = pairs[-1]
        for w in words:
            enc[w] = enc[w].replace(f" {lhs}  {rhs} ", f" {lhs}{rhs} ")
            ref[w] = _greedy_merge(ref[w], lhs, rhs)
    for w in words:
        assert _decode(enc[w]) == ref[w], (w, enc[w], ref[w])


def test_bpe_replace_semantics_match_engines(spark):
    """The property test above runs on Python str.replace; this pins
    Spark F.replace and DuckDB replace() to the same left-to-right
    non-overlapping semantics on the adversarial cases (runs, merged
    symbols, adjacent occurrences)."""
    import duckdb

    cases = [
        ("aaaa", "a", "a"),
        ("aaa", "a", "a"),
        ("abab", "a", "b"),
        ("aab", "a", "a"),
        ("aaaaaa", "aa", "a"),  # merge of an already-merged symbol
        ("abaab", "ab", "a"),
        ("baaab", "a", "a"),
    ]
    rows = []
    for word, lhs, rhs in cases:
        s = bpe_encode_word(word)
        pat, rep = f" {lhs}  {rhs} ", f" {lhs}{rhs} "
        rows.append((s, pat, rep, s.replace(pat, rep)))
    df = spark.createDataFrame(rows, "s string, pat string, rep string, want string")
    got = df.select(
        "want", F.replace("s", "pat", "rep").alias("spark_got"), "s", "pat", "rep"
    ).collect()
    con = duckdb.connect()
    for r in got:
        assert r.spark_got == r.want, (r.s, r.pat, r.spark_got, r.want)
        duck = con.execute("SELECT replace(?, ?, ?)", [r.s, r.pat, r.rep]).fetchone()[0]
        assert duck == r.want, (r.s, r.pat, duck, r.want)


def test_bpe_training_loop_matches_reference_trainer(spark):
    """Full-trajectory cross-check of the engine's iterated trainer —
    bpe_train_merges itself, the loop body of docs_bpe_training_loop —
    against an independent pure-Python BPE trainer over a corpus
    engineered with runs and ties.  At this vocab size (≤ _BPE_DRIVER_CAP)
    the trainer takes the DRIVER cutover path; the distributed Arrow
    loop is forced and pinned to the same trajectory by
    test_bpe_distributed_loop_matches_driver_cutover below."""
    corpus = {
        # word -> frequency; runs + shared prefixes force interesting merges
        "aaaa": 3,
        "aaab": 2,
        "abab": 4,
        "banana": 2,
        "bandana": 1,
        "aa": 5,
    }

    def ref_trainer(wf, k):
        syms = {w: list(w) for w in wf}
        out = []
        for it in range(1, k + 1):
            counts: dict[tuple[str, str], int] = {}
            for w, f in wf.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            # argmax, ties lexicographic on (lhs, rhs) — same rule as the query
            (lhs, rhs), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((it, lhs, rhs, n))
            for w in wf:
                syms[w] = _greedy_merge(syms[w], lhs, rhs)
        return out

    from duckdb_cluster_hash_spark.plans.docs import bpe_train_merges

    k = 8
    expected = ref_trainer(corpus, k)
    wf = spark.createDataFrame(
        list(corpus.items()), "w string, f bigint"
    )
    got = [
        (it, lhs, rhs, n) for it, lhs, rhs, _m, n in bpe_train_merges(wf, k)
    ]
    assert got == expected
    # the shuffled single-iteration subtree (docs_bpe_first_merges'
    # shape) must agree with the map-only production path on step 1
    vocab = spark.createDataFrame(
        [(bpe_encode_word(w), f) for w, f in corpus.items()], "s string, f bigint"
    )
    best = (
        bpe_pair_counts(vocab)
        .orderBy(F.desc("n"), F.asc("lhs"), F.asc("rhs"))
        .limit(1)
        .collect()
    )
    assert (best[0].lhs, best[0].rhs, int(best[0].n)) == expected[0][1:]
    # and one applied merge must keep the two paths aligned on step 2
    nxt = bpe_merge_apply(vocab, expected[0][1], expected[0][2])
    best2 = (
        bpe_pair_counts(nxt)
        .orderBy(F.desc("n"), F.asc("lhs"), F.asc("rhs"))
        .limit(1)
        .collect()
    )
    assert (best2[0].lhs, best2[0].rhs, int(best2[0].n)) == expected[1][1:]


def test_bpe_distributed_loop_matches_driver_cutover(spark, monkeypatch):
    """The above-cap DISTRIBUTED Arrow loop — the actual 100 TB code —
    is dead at every tested scale because sf0.001–0.1 vocabs all probe
    under _BPE_DRIVER_CAP (VERDICT r14 item 5).  Force it by pinning the
    cap to 0 and assert its merge trajectory is bit-identical to the
    driver cutover's on the same runs-and-ties vocab, including
    non-ASCII-adjacent ordering hazards (the driver path compares Python
    str tuples where the distributed argmax compares the collected
    UTF8String values — identical on [a-z]+ symbols, which is the only
    symbol space the tokenizer emits)."""
    from duckdb_cluster_hash_spark.plans import docs as docs_mod

    corpus = {
        "aaaa": 3,
        "aaab": 2,
        "abab": 4,
        "banana": 2,
        "bandana": 1,
        "aa": 5,
        "zzz": 7,  # high-frequency run competing with the a-merges
    }
    wf = spark.createDataFrame(list(corpus.items()), "w string, f bigint")
    driver_traj = docs_mod.bpe_train_merges(wf, k=8)
    assert driver_traj, "driver path produced no merges"
    monkeypatch.setattr(docs_mod, "_BPE_DRIVER_CAP", 0)
    dist_traj = docs_mod.bpe_train_merges(wf, k=8)
    assert dist_traj == driver_traj


def test_bpe_encode_short_trajectory_matches_oracle(spark, tmp_path):
    """When the train split exhausts all pairs before 16 merges, the
    Spark side applies the shorter merge list; the oracle's apply chain
    must NOT collapse to 0 rows (regression: CROSS JOIN against an
    empty b{i} emptied every later CTE).  Tiny corpus: the 90% split
    fully merges in a handful of iterations."""
    import duckdb

    from duckdb_cluster_hash_spark.plans.catalog import ORACLES, QUERIES

    rows = [
        # doc_id % 10 != 0 -> train split; tiny so pairs run dry fast
        (1, "aa ab", "en", "s1", 5),
        (2, "aa", "en", "s1", 2),
        # held-out (doc_id % 10 == 0)
        (10, "aa ab ba", "en", "s1", 8),
        (20, "zz aa", "en", "s2", 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        tuple(r) for r in QUERIES["docs_bpe_encode"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = sorted(con.sql(ORACLES["docs_bpe_encode"]).fetchall())
    assert got == want
    assert len(got) > 0  # the 0-row collapse this test pins against


def test_integer_mlog2_chain_matches_log2():
    """The shared square-and-shift log2 snippets (plans/docs.py) must
    agree with a pure-python mirror bit-for-bit AND stay within one
    1/1024-bit ulp of the true log2 — evaluated through DuckDB so the
    exact SQL the oracle runs is what is being graded (the Spark side
    parses the identical strings; cross-engine equality is covered by
    the oracle gate and the differential fuzz corpora)."""
    import math

    import duckdb

    from duckdb_cluster_hash_spark.plans.docs import (
        _MLOG2_SEED_EXPRS,
        _MLOG2_STEPS,
        _mlog2_step_exprs,
    )

    def py_mirror(x: int) -> int:
        e = x.bit_length() - 1
        m = (x >> (e - 30)) if e >= 30 else (x << (30 - e))
        f = 0
        for _ in range(_MLOG2_STEPS):
            m = (m * m) >> 30
            if m >= 1 << 31:
                f = f * 2 + 1
                m >>= 1
            else:
                f = f * 2
        return e * 1024 + f

    # boundary values + a deterministic pseudo-random grid
    xs = [1 << 20, (1 << 20) + 1, (1 << 31) - 1, 1 << 31, (1 << 45) - 7]
    xs += [(1 << 20) + (i * 2654435761) % ((1 << 45) - (1 << 20)) for i in range(200)]

    steps = []
    for i in range(1, _MLOG2_STEPS + 1):
        m, f_ = _mlog2_step_exprs(i)
        steps.append(f"s{i} AS (SELECT x, e, {m}, {f_} FROM s{i - 1})")
    seed = ", ".join(_MLOG2_SEED_EXPRS)
    values = ", ".join(f"({x}::BIGINT)" for x in xs)
    sql = (
        f"WITH g(x) AS (VALUES {values}), "
        f"s0 AS (SELECT x, {seed} FROM g), " + ", ".join(steps) +
        f" SELECT x, e * 1024 + f{_MLOG2_STEPS} AS l1024 FROM s{_MLOG2_STEPS}"
    )
    con = duckdb.connect()
    for x, l1024 in con.sql(sql).fetchall():
        assert l1024 == py_mirror(x), f"sql/python mismatch at x={x}"
        true_bits = math.log2(x)
        assert abs(l1024 / 1024 - true_bits) <= 1.0 / 1024, f"ulp breach at x={x}"


def test_decode_y4m_handcrafted_clips():
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    # 2x2 mono, 2 frames, param on the second FRAME line, extra X tag
    # in the stream header (must be skipped, not rejected)
    clip = (
        b"YUV4MPEG2 W2 H2 F30:1 Ip A1:1 Cmono Xcomment\n"
        b"FRAME\n" + bytes([1, 2, 3, 4]) +
        b"FRAME Xq1\n" + bytes([5, 6, 7, 8])
    )
    w, h, fn, fd, cs, y = mm.decode_y4m(clip)
    assert (w, h, fn, fd, cs) == (2, 2, 30, 1, "mono")
    assert y.shape == (2, 4)
    assert y.tolist() == [[1, 2, 3, 4], [5, 6, 7, 8]]
    # 2x2 4:2:0 (default colorspace when C is absent): frame = 6 bytes,
    # luma = first 4; chroma bytes must NOT leak into the Y plane
    clip420 = (
        b"YUV4MPEG2 W2 H2 F24:1\n"
        b"FRAME\n" + bytes([10, 20, 30, 40, 99, 98])
    )
    w, h, fn, fd, cs, y = mm.decode_y4m(clip420)
    assert (w, h, cs) == (2, 2, "420jpeg")
    assert y.tolist() == [[10, 20, 30, 40]]


def test_decode_y4m_rejects_malformed():
    import pytest as _pytest

    from duckdb_cluster_hash_spark.operators import multimodal as mm

    with _pytest.raises(ValueError):  # bad magic
        mm.decode_y4m(b"RIFF....")
    with _pytest.raises(ValueError):  # odd width under 4:2:0
        mm.decode_y4m(b"YUV4MPEG2 W3 H2 F24:1\nFRAME\n" + bytes(9))
    with _pytest.raises(ValueError):  # truncated raster
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 F24:1 Cmono\nFRAME\n" + bytes(3))
    with _pytest.raises(ValueError):  # garbage between frames
        mm.decode_y4m(
            b"YUV4MPEG2 W2 H2 F24:1 Cmono\nFRAME\n" + bytes(4) + b"JUNK\n"
        )
    with _pytest.raises(ValueError):  # unknown colorspace
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 F24:1 C999\nFRAME\n" + bytes(12))
    with _pytest.raises(ValueError):  # unknown stream parameter
        mm.decode_y4m(b"YUV4MPEG2 W2 H2 F24:1 Q9\nFRAME\n" + bytes(6))


def _video_ref_bands(d, nf_base=48):
    """Independent pure-Python rendering of the video luma-dHash recipe
    (closed-form frame bytes -> concatenated luma stream -> 72
    nearest-neighbor luma-sum segments -> 8x9 grid -> sign-of-delta
    bits)."""
    w = 4 + (d % 3) * 2
    h = 2 + ((d // 2) % 2) * 2
    nf = nf_base + d % 4
    wh = w * h
    n = nf * wh
    s = [(d * 11 + (k // wh) * 29 + (k % wh) * 7) % 256 for k in range(n)]
    seg = []
    for g in range(72):
        lo, hi = n * g // 72, n * (g + 1) // 72
        seg.append(sum(s[lo:hi]))
    return [
        sum(
            (1 << gx)
            for gx in range(8)
            if seg[9 * gy + gx + 1] > seg[9 * gy + gx]
        )
        for gy in range(8)
    ]


def test_y4m_luma_dhash_matches_python_reference(spark):
    """The Arrow luma-dHash kernel must reproduce a pure-Python
    rendering of the recipe through the REAL y4m decode on both
    colorspace layouts (420jpeg luma extraction skips chroma; mono is
    all-luma), and the segment-inverse map the oracle uses
    (g = (72k+71)//n) must agree with the boundary map the kernel
    uses (lo_g = n*g//72)."""
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(0, "a"), (7, "b"), (100, "c")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: [r[f"b{i}"] for i in range(8)]
        for r in mm.y4m_luma_dhash(
            mm.attach_fake_y4m(df, nf_base=48)
        ).collect()
    }
    for d in (0, 7, 100):
        assert got[d] == _video_ref_bands(d), d
    # boundary map vs inverse map, over a spread of clip lengths in
    # play (n = (48 + d%4) * w*h for the six shape combinations)
    for n in {(48 + r) * wh for r in range(4) for wh in (8, 12, 16, 24, 32)}:
        for k in range(n):
            g = (72 * k + 71) // n
            assert n * g // 72 <= k < n * (g + 1) // 72, (n, k, g)


def test_video_neardup_banding_exact_vs_bruteforce(spark, tmp_path):
    """The video banded join must account EXACTLY the brute-force
    DOC-pair mass at tau=6 (pigeonhole recall + multiplicity proof on
    real decoded bytes), including the distance-0 cluster path: the
    signature class period is lcm(shape 12, offset 256) = 768 in
    doc_id, so a 1600-id range carries exact-duplicate clusters by
    construction (d and d+768 decode to identical luma streams)."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES
    from duckdb_cluster_hash_spark.operators import multimodal as mm

    sf = str(tmp_path)
    docs = spark.range(0, 1600).selectExpr(
        "id AS doc_id", "'t' AS text", "'en' AS lang", "'s' AS source",
        "CAST(1 AS BIGINT) AS n_chars"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    bill = {
        r["hamming"]: r["n_pairs"]
        for r in QUERIES["docs_video_neardup_bill"](spark, sf).collect()
    }
    sig = {
        r["doc_id"]: tuple(r[f"b{i}"] for i in range(8))
        for r in mm.y4m_luma_dhash(
            mm.attach_fake_y4m(
                spark.read.parquet(f"{sf}/documents.parquet").select("doc_id"),
                nf_base=48,
            )
        ).collect()
    }
    # the generator's class structure really is 768-periodic
    for d in range(0, 832):
        assert sig[d] == sig[d + 768], d
    want = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sig[a], sig[b]))
            if ham <= 6:
                want[ham] = want.get(ham, 0) + 1
    assert bill == want
    assert 0 in bill  # the duplicate-cluster path really ran
    classes = QUERIES["docs_video_neardup_pairs"](spark, sf).collect()
    assert 0 < len(classes) <= 100
    for p in classes:
        assert p["hamming"] <= 6 and p["doc_a"] < p["doc_b"]
        got_ham = sum(
            bin(x ^ y).count("1")
            for x, y in zip(sig[p["doc_a"]], sig[p["doc_b"]])
        )
        assert got_ham == p["hamming"], p


def test_incremental_neardup_consistent_with_full_pairs(spark):
    """The asymmetric (batch-vs-base) banding must find EXACTLY the
    odd-involving subset of the symmetric near-dup pair list — derive
    the per-source accounting from docs_minhash_neardup_pairs and it
    must equal docs_incremental_neardup row for row."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["docs_minhash_neardup_pairs"](spark, sf).collect()
    ]
    docs = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    vs_base, within = set(), set()
    for a, b in pairs:
        for inc, other in ((a, b), (b, a)):
            if inc % 2 == 1 and other % 2 == 0:
                vs_base.add(inc)
        if a % 2 == 1 and b % 2 == 1:
            within.add(max(a, b))
    want = {}
    for d, src in docs.items():
        if d % 2 == 0:
            continue
        n, vb, wi, new = want.get(src, (0, 0, 0, 0))
        if d in vs_base:
            vb += 1
        elif d in within:
            wi += 1
        else:
            new += 1
        want[src] = (n + 1, vb, wi, new)
    got = {
        r["source"]: (
            r["n_incoming"],
            r["n_neardup_vs_base"],
            r["n_neardup_within"],
            r["n_new"],
        )
        for r in QUERIES["docs_incremental_neardup"](spark, sf).collect()
    }
    assert got == want
    # the near-dup mass is real on this corpus (not all-new)
    assert any(v[1] or v[2] for v in got.values())


def test_coverage_greedy_matches_python_reference(spark):
    """The distributed greedy max-coverage trajectory must equal an
    independent Python simulation of the same greedy (bigram units,
    gain DESC / doc_id ASC tie-break, covered set carried forward)."""
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    import re

    dt = {}
    for r in (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ):
        ws = re.findall("[a-z]+", r["text"].lower())
        dt[r["doc_id"]] = {
            f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)
        }
    covered: set = set()
    want = []
    for it in range(1, 9):
        best_doc, best_gain = None, -1
        for d in sorted(dt):
            g = len(dt[d] - covered)
            if g > best_gain:
                best_doc, best_gain = d, g
        if best_gain <= 0 and not any(dt[d] - covered for d in dt):
            break
        covered |= dt[best_doc]
        want.append((it, best_doc, best_gain, len(covered)))
    got = [
        (r["it"], r["doc_id"], r["gain"], r["covered_total"])
        for r in QUERIES["docs_coverage_greedy_selection"](spark, sf).collect()
    ]
    assert got == want


def test_coverage_distributed_loop_matches_single_task_cutover(
    spark, monkeypatch
):
    """The above-cap DISTRIBUTED per-iteration greedy — the actual
    100 TB code — is dead at every tested scale because sf0.001–0.1
    (doc, bigram) tables all count under _COVERAGE_DRIVER_CAP (VERDICT
    r14 item 5).  Force it by pinning the cap to 0 and assert the full
    8-pick trajectory (doc choices, gains, covered totals, tie-breaks)
    is bit-identical to the single-Arrow-task cutover's on the same
    corpus."""
    from duckdb_cluster_hash_spark.plans import docs as docs_mod
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    q = QUERIES["docs_coverage_greedy_selection"]
    base = [tuple(r) for r in q(spark, sf).collect()]
    assert base, "single-task cutover produced no trajectory"
    monkeypatch.setattr(docs_mod, "_COVERAGE_DRIVER_CAP", 0)
    forced = [tuple(r) for r in q(spark, sf).collect()]
    assert forced == base
