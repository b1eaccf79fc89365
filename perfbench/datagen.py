"""Seeded input generator for the benchmark.

Writes the ten corpus tables the query catalog reads (one parquet file per
table, with the schemas and value conventions of the repository's synthetic
testdata in TESTDATA.md: TPC-H-ish star schema, an event log, a word-salad
document corpus and unit-norm embeddings) and the routing keys.  The same
seed always gives byte-identical inputs; nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.38, 0.155, 0.155, 0.155, 0.155]

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_stamps(days: np.ndarray) -> pa.Array:
    micros = days.astype(np.int64) * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables at scale ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = n_emb = 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
        ),
    })
    lo_day, hi_day = _days(dt.datetime(1995, 1, 1)), _days(dt.datetime(2001, 8, 1))
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(STATUSES, n_orders)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _day_stamps(rng.integers(lo_day, hi_day + 1, n_orders)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    flags = rng.integers(0, len(FLAGS), n_line)
    ship_lo, ship_hi = _days(dt.datetime(1995, 1, 2)), _days(dt.datetime(2001, 11, 4))
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([FLAGS[f][0] for f in flags]),
        "l_linestatus": pa.array([FLAGS[f][1] for f in flags]),
        "l_shipdate": _day_stamps(rng.integers(ship_lo, ship_hi + 1, n_line)),
    })
    t0 = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)) + t0
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = []
    for _ in range(n_docs):
        words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        if rng.random() < 0.05:  # the rare token the near-dup filters key on
            words[int(rng.integers(len(words)))] = "dup"
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {"customer": n_cust, "orders": n_orders, "lineitem": n_line,
            "events": n_events, "documents": n_docs, "embeddings": n_emb}


# The routing-key mix.  These shares are assumptions: neither the paper nor
# the repository gives a key distribution.  KEY_FILES files, so every core
# gets a split.
KEY_FILES = 8
LONG_SHARE = 0.5  # ~40-byte composite keys; the rest are short user:N keys
TAG_SHARE = 0.3  # keys with a non-empty {tag}
ZIPF_EXPONENT = 0.8  # skew of the hot half
COLD_SHARE = 0.5  # rows whose key occurs once in the whole input


def write_keys(path: str, seed: int, n_rows: int, n_distinct: int) -> dict[str, float]:
    """Write ``n_rows`` routing keys as ``KEY_FILES`` parquet files under the
    directory ``path``: a hot half that repeats and a cold half that does not.

    Keys mix short ``user:N`` keys with ~40-byte composite keys, and a
    share carries a non-empty ``{tag}`` so the hash-tag rule hashes a
    substring.  The first half of the files holds the hot rows, drawn with
    Zipf-like skew (a few hot keys, a long tail) from ``n_distinct`` keys;
    the other half holds ``COLD_SHARE`` of the rows, each a key that occurs
    once in the whole input.  Returns the realised mix, with the repeat
    share of each half.
    """
    rng = np.random.default_rng([seed, 2])
    n_cold = int(n_rows * COLD_SHARE)
    n_hot = n_rows - n_cold
    ids = rng.choice(1 << 40, n_distinct + n_cold, replace=False)

    def digits(values: np.ndarray, width: int = 0) -> pa.Array:
        out = pa.array(values).cast(pa.string())
        return pc.utf8_lpad(out, width, "0") if width else out

    join = lambda *parts: pc.binary_join_element_wise(*parts, "")  # noqa: E731
    short = join("user:", digits(ids))
    long_ = join("tenant:", digits(ids % 9973, 4), ":session:",
                 digits(ids, 13), ":events")
    body = pc.if_else(pa.array(rng.random(len(ids)) < LONG_SHARE), long_, short)
    is_tag = rng.random(len(ids)) < TAG_SHARE
    distinct = pc.if_else(
        pa.array(is_tag), join("{acct:", digits(ids % 5000), "}:", body), body
    )
    weights = 1.0 / np.arange(1, n_distinct + 1) ** ZIPF_EXPONENT
    pick = np.concatenate([
        rng.choice(n_distinct, n_hot, p=weights / weights.sum()),
        np.arange(n_distinct, n_distinct + n_cold),
    ])
    keys = distinct.take(pa.array(pick))
    hot, cold = keys.slice(0, n_hot), keys.slice(n_hot)
    os.makedirs(path, exist_ok=True)
    half = KEY_FILES // 2
    for i, (part, n_files) in enumerate([(hot, half), (cold, KEY_FILES - half)]):
        step = -(-len(part) // n_files)
        for j in range(n_files):
            pq.write_table(pa.table({"k": part.slice(j * step, step)}),
                           os.path.join(path, f"part-{i}{j:02d}.parquet"))

    def repeat_share(a: pa.Array) -> float:
        return round(1.0 - pc.count_distinct(a).as_py() / len(a), 4)

    return {
        "keys": n_rows,
        "mean_key_bytes": round(pc.mean(pc.binary_length(keys)).as_py(), 2),
        "tag_share": round(float(is_tag[pick].mean()), 4),
        "repeat_share": repeat_share(keys),
        "hot_repeat_share": repeat_share(hot),
        "cold_repeat_share": repeat_share(cold),
    }
