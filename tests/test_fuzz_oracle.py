"""Differential fuzz gate: Spark vs DuckDB on seeded RANDOM corpora.

The oracle gate (scripts/check_oracle.py, mirrored from the driver) only
ever runs on the fixed testdata; a data-dependent divergence — tie-breaks,
duplicate collapse, empty strings, boundary counts — can hide behind one
lucky dataset.  ``FAMILIES`` is the one table of fuzz families: each
regenerates small seeded tables engineered for those edges and runs its
catalog queries against their DuckDB oracles through check_oracle's
``compare`` (columns, declared types, row count, normalized values).
scripts/fuzz_soak.py sweeps the same table over many more seeds.

Kept in-distribution on purpose: ASCII text, valid 2-char langs, non-null
columns — the contract is the driver's testdata shape, and fuzzing
outside it would only manufacture out-of-contract noise.  Every catalog
query is in exactly one family or in ``UNFUZZED`` with its reason.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import re
import sys
from dataclasses import dataclass
from typing import Callable

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from check_oracle import compare, create_views, run_oracle, run_spark  # noqa: E402

from duckdb_cluster_hash_spark.operators import dedup  # noqa: E402
from duckdb_cluster_hash_spark.operators.ranking import release_rank_pins  # noqa: E402
from duckdb_cluster_hash_spark.plans.catalog import ORACLES, QUERIES  # noqa: E402

_TABLE_FREE = "reads no table: data-independent, so a random corpus adds nothing"
_TRAINER = (
    "iterated trainer (16 BPE merges / the 140-CTE unrolled unigram oracle): "
    "dedicated tiny-corpus + independent-reference tests; too slow per seed"
)
_DOCS_STREAM = (
    "micro-batch replay of documents: dedicated tests in test_streaming.py; "
    "too slow to replay per seed"
)
_RECALL = (
    "recall-floor contract tuned to the testdata's Gaussian vectors: random "
    "vectors can miss the floor without an engine bug"
)
UNFUZZED = {
    "cluster_resharding_plan": _TABLE_FREE,
    "cluster_shard_ranges": _TABLE_FREE,
    "cluster_user_keys_histogram": _TABLE_FREE,
    "ddl_ctas_distribution": _TABLE_FREE,
    "ddl_readme_flow": _TABLE_FREE,
    "sql_error_probe": _TABLE_FREE,
    "docs_bpe_training_loop": _TRAINER,
    "docs_bpe_encode": _TRAINER,
    "docs_unigram_lm_train": _TRAINER,
    "docs_unigram_lm_encode": _TRAINER,
    "docs_streaming_media_dedup": _DOCS_STREAM,
    "docs_streaming_neardup_ingest": _DOCS_STREAM,
    "emb_ivf_kmeans_recall": _RECALL,
    "emb_lsh_ann_recall": _RECALL,
    "emb_pq_adc_recall": _RECALL,
    "emb_matryoshka_recall": _RECALL,
    "emb_binary_hamming_recall": _RECALL,
}

# Cross-family joins and file-format round-trips: every table at once.
MIXED_QUERIES = [
    "cluster_node_arity_sweep",      # events
    "events_enriched_by_segment",    # customer x events
    "docs_hybrid_rrf_search",        # documents x embeddings
    "formats_csv_roundtrip",
    "formats_json_roundtrip",
    "formats_orc_roundtrip",
    "formats_text_roundtrip",
    "formats_schema_evolution",
    "formats_partitioned_overwrite",
    "formats_compaction",
    "formats_merge_on_read",
]

_TABLE_RE = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events|documents|embeddings)\b",
    re.I,
)
_STAR = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}


def _queries(rule: Callable[[str, set[str]], bool]) -> list[str]:
    """Catalog queries whose name and oracle tables satisfy ``rule``."""
    return sorted(
        n
        for n, sql in ORACLES.items()
        if n not in UNFUZZED
        and n not in MIXED_QUERIES
        and rule(n, {t.lower() for t in _TABLE_RE.findall(sql)})
    )


_VOCAB = (
    "aa ab abab banana band data dataset deep deduplication learning "
    "model near pipeline quality spark test text the token training "
    "zz qqq"
).split()


def _documents(seed: int, n_files: int = 2):
    rng = random.Random(seed)
    rows = []
    texts = []
    for i in range(80):
        n_words = rng.randint(0, 40)
        words = [rng.choice(_VOCAB) for _ in range(n_words)]
        text = " ".join(words)
        if i % 11 == 3 and texts:
            text = rng.choice(texts)  # exact duplicate
        elif i % 13 == 5 and texts:
            base = rng.choice(texts).split()
            if base:
                base[rng.randrange(len(base))] = rng.choice(_VOCAB)
            text = " ".join(base)  # near duplicate
        texts.append(text)
        lang = rng.choice(["en", "de", "fr"])
        source = rng.choice(["web", "books", "code"])
        n_chars = len(text)
        if i == 17:
            n_chars += 3  # one deliberate constraint violation
        rows.append((i, text, lang, source, n_chars))
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    return {"documents": (rows, schema, n_files)}


def _events(seed: int):
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    types = ["click", "view", "purchase", "error", "signup"]
    for i in range(1200):
        ts = t0 + dt.timedelta(
            seconds=rng.randint(0, 30 * 86400 - 1), microseconds=rng.randint(0, 999999)
        )
        user = rng.randint(0, 39)  # user 0 exists (similarity anchor)
        etype = rng.choice(types)
        value = round(rng.uniform(0.01, 500.0), 2)
        props = '{"k": %d}' % rng.randint(0, 99)
        rows.append((i, ts, user, etype, value, props))
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    return {"events": (rows, schema, 2)}


def _star(seed: int):
    """Mini star schema mirroring the testdata's synthetic conventions:
    NATION_n names, Customer#%09d keys, Brand#1..25, cent-grid discounts,
    integer-valued double quantities, midnight TIMESTAMP dates — plus
    deliberate edge salt: FK orphans (the audit must COUNT them
    identically), childless orders, and heavy key ties."""
    rng = random.Random(seed)
    day = lambda y, m, d: dt.datetime(y, m, d)  # noqa: E731
    region = [(i, n) for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    nation = [(i, f"NATION_{i}", i % 5) for i in range(25)]
    customer = [
        (i, f"Customer#{i:09d}", rng.randrange(25),
         round(rng.uniform(0.0, 9999.0), 2),
         rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]))
        for i in range(80)
    ]
    supplier = [
        (i, f"Supplier#{i:09d}", rng.randrange(25),
         round(rng.uniform(0.0, 9999.0), 2))
        for i in range(12)
    ]
    adjectives = ["red", "blue", "green", "small", "large", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "cog"]
    part = [
        (i, f"{rng.choice(adjectives)} {rng.choice(nouns)}",
         f"Brand#{rng.randrange(1, 26)}",
         rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
         rng.randrange(1, 51), round(900 + i * 0.1, 2))
        for i in range(60)
    ]
    base = day(1995, 1, 1)
    orders, lineitem = [], []
    for ok in range(400):
        custkey = 900 if ok in (398, 399) else rng.randrange(80)  # 2 FK orphans
        odate = base + dt.timedelta(days=rng.randrange(2400))
        orders.append(
            (ok, custkey, rng.choice(["P", "O", "F"]),
             round(rng.uniform(1000.0, 500000.0), 2), odate,
             rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))
        )
        if ok % 17 == 11:
            continue  # childless order
        for ln in range(1, rng.randint(1, 7) + 1):
            rf, ls = rng.choice(
                [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
            )
            qty = float(rng.randrange(1, 51))
            lineitem.append(
                (ok, rng.randrange(60), rng.randrange(12), ln, qty,
                 round(qty * rng.uniform(900.0, 2100.0), 2),
                 rng.randrange(0, 11) / 100.0, rng.randrange(0, 9) / 100.0,
                 rf, ls, odate + dt.timedelta(days=rng.randrange(1, 96)))
            )
    # 3 lineitem orphans: dangling order/part/supplier keys
    lineitem += [
        (900, 0, 0, 1, 5.0, 4900.11, 0.05, 0.02, "N", "O", day(1999, 6, 1)),
        (10, 900, 0, 99, 4.0, 3900.22, 0.0, 0.0, "A", "F", day(1999, 6, 2)),
        (11, 0, 900, 99, 3.0, 2900.33, 0.1, 0.08, "R", "F", day(1999, 6, 3)),
    ]
    return {
        "region": (region, "r_regionkey int, r_name string", 1),
        "nation": (nation, "n_nationkey int, n_name string, n_regionkey int", 1),
        "customer": (customer,
                     "c_custkey bigint, c_name string, c_nationkey int, "
                     "c_acctbal double, c_mktsegment string", 1),
        "supplier": (supplier,
                     "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
                     1),
        "part": (part,
                 "p_partkey bigint, p_name string, p_brand string, p_type string, "
                 "p_size int, p_retailprice double", 1),
        "orders": (orders,
                   "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                   "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
                   1),
        "lineitem": (lineitem,
                     "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                     "l_linenumber int, l_quantity double, l_extendedprice double, "
                     "l_discount double, l_tax double, l_returnflag string, "
                     "l_linestatus string, l_shipdate timestamp", 1),
    }


def _embeddings(seed: int):
    rng = random.Random(seed)
    rows = []
    prev = None
    for i in range(120):
        if i % 19 == 7 and prev is not None:
            emb = list(prev)  # exact duplicate vector (dedup edge)
        else:
            # multiples of 1/1024: exactly float32-representable, so the
            # parquet round-trip is bit-identical on both engines
            emb = [rng.randrange(-512, 513) / 1024 for _ in range(64)]
            if not any(emb):
                emb[0] = 1 / 1024  # keep norms nonzero (in-distribution)
        prev = emb
        rows.append((i, emb, rng.randrange(10)))
    return {"embeddings": (rows, "vec_id bigint, embedding array<float>, label int", 1)}


def _mixed(seed: int):
    return {**_documents(seed, n_files=1), **_events(seed), **_embeddings(seed), **_star(seed)}


@dataclass(frozen=True)
class Family:
    seeds: tuple[int, ...]  # the pytest seeds; the soak sweeps its own
    tables: Callable[[int], dict]  # seed -> {table: (rows, schema, n_files)}
    queries: list[str]


FAMILIES = {
    "docs": Family((11, 29), _documents, _queries(
        lambda n, t: n.startswith("docs_") and t <= {"documents"})),
    "events": Family((7,), _events, _queries(
        lambda n, t: n.startswith("events_") and not n.startswith("events_streaming_")
        and t <= {"events"})),
    # the DECIMAL money path and the rank/tie machinery
    "star": Family((13,), _star, _queries(lambda n, t: bool(t) and t <= _STAR)),
    "emb": Family((17,), _embeddings, _queries(
        lambda n, t: n.startswith("emb_") and t <= {"embeddings"})),
    # TRUE streaming: the whole micro-batch replay (staging, watermarks,
    # stateful operators) against the batch-equivalent oracles, which
    # encode Spark's eviction semantics (one-batch-behind watermark,
    # per-leg watermark minimum, trailing no-data batch)
    "streaming": Family((23,), _events, _queries(
        lambda n, t: n.startswith("events_streaming_"))),
    "mixed": Family((31,), _mixed, MIXED_QUERIES),
}


@contextlib.contextmanager
def fuzz_corpus(spark, sf_dir: str, family: str, seed: int):
    """Write ``family``'s tables for ``seed`` under ``sf_dir`` and yield a
    DuckDB connection with views over exactly those tables; per-corpus
    memos and rank pins die with the corpus."""
    tables = FAMILIES[family].tables(seed)
    for t, (rows, schema, n_files) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(n_files).write.mode(
            "overwrite"
        ).parquet(f"{sf_dir}/{t}.parquet")
    con = duckdb.connect()
    try:
        create_views(con, sf_dir, tables)
        yield con
    finally:
        con.close()
        dedup.clear_shared_cache()
        release_rank_pins()


def divergences(spark, sf_dir: str, con, name: str) -> list[str]:
    """``compare`` of one catalog query on a fuzz corpus with its oracle."""
    return compare(run_spark(QUERIES[name](spark, sf_dir)), run_oracle(con, ORACLES[name]))


@pytest.fixture(scope="module")
def corpus(request, spark, tmp_path_factory):
    family, seed = request.param
    sf_dir = str(tmp_path_factory.mktemp(f"fuzz_{family}{seed}"))
    with fuzz_corpus(spark, sf_dir, family, seed) as con:
        yield sf_dir, con


def _family_test(family: str):
    spec = FAMILIES[family]

    @pytest.mark.parametrize("name", spec.queries)
    @pytest.mark.parametrize(
        "corpus", [(family, s) for s in spec.seeds], ids=lambda p: str(p[1]), indirect=True
    )
    def test(spark, corpus, name):
        problems = divergences(spark, *corpus, name)
        assert not problems, f"{name}: " + "; ".join(problems)

    return test


# one test per family, so each case keeps its per-family ID:
# test_<family>_query_matches_oracle_on_fuzz_corpus[<seed>-<query>]
for _family in FAMILIES:
    globals()[f"test_{_family}_query_matches_oracle_on_fuzz_corpus"] = _family_test(_family)


def test_every_query_is_fuzzed_or_has_a_reason():
    """Each catalog query is in exactly one family or in ``UNFUZZED``,
    so a new query cannot skip the fuzz gate silently."""
    homes = [n for spec in FAMILIES.values() for n in spec.queries] + list(UNFUZZED)
    assert sorted(homes) == sorted(ORACLES)
