"""Spark surface of the cluster-hash core.

Two bit-exact implementations of ``cluster_slot`` / ``cluster_node``
(reference: src/clusterhash_extension.cpp:93-124, README.md:61-120):

1. **Vectorized pandas UDF** (Arrow-batched, numpy table-driven CRC16 —
   one lookup per byte, mirroring the reference's kernel cost model,
   cpp:46-48).  The numpy kernel is positional: one vectorized update per
   byte *position* across the whole batch, so a batch of 10k short keys
   costs ~len(key) numpy ops total, not 10k Python loops.

2. **Native Column expression** (pure Spark SQL built-ins — regexp tag
   extraction + a higher-order ``aggregate`` fold over the key's UTF-8
   bytes with the 256-entry table as an array literal).  No Python worker,
   usable inside Structured Streaming and SQL UDFs; Catalyst sees an
   ordinary deterministic expression (foldable, pushdown-friendly).

``cluster_node`` needs no table at all: the reference's hardcoded 6-shard
ranges (cpp:71-84) equal the closed form ``ceil(n*(2*slot+1)/32768)`` for
all 16384 slots, which also yields the canonical Redis 3-master ranges for
the README's documented two-argument form (README.md:84,115-117).

``register_all(spark)`` mirrors the extension's catalog registration
(cpp:114-124): after it, both ``spark.sql`` and the DataFrame API can call
``cluster_slot(key)`` / ``cluster_node(key[, n])``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from duckdb_cluster_hash_spark.core import CRC16_TABLE, TOTAL_SLOTS, DEFAULT_NODES

__all__ = [
    "TAG_REGEX",
    "cluster_slot_col",
    "cluster_node_col",
    "node_of_slot_col",
    "cluster_slot_pudf",
    "cluster_node_pudf",
    "register_all",
]

# First '{', first '}' after it, capture the (possibly empty) tag between.
# Same RE works in Java regex (Spark) and RE2 (DuckDB oracle); both engines'
# regexp_extract return '' on no-match, and the empty-tag fallback is handled
# by the caller (cpp:57 `end != start + 1`).
TAG_REGEX = r"^[^{]*\{([^}]*)\}"

_NP_TABLE = np.array(CRC16_TABLE, dtype=np.uint16)


# ---------------------------------------------------------------------------
# Vectorized numpy kernel (pandas-UDF path)
# ---------------------------------------------------------------------------

def _effective_keys(keys: pd.Series) -> pd.Series:
    """Apply the hash-tag rule vectorized (cpp:52-61 semantics)."""
    tag = keys.str.extract(TAG_REGEX, expand=False)
    use_tag = tag.notna() & (tag != "")
    return keys.mask(use_tag, tag)


def _crc16_positional(encoded: list[bytes]) -> np.ndarray:
    """CRC16/XMODEM of each byte string, vectorized by byte position."""
    n = len(encoded)
    lens = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=n)
    if n == 0:
        return np.zeros(0, dtype=np.uint16)
    flat = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    crc = np.zeros(n, dtype=np.uint16)
    max_len = int(lens.max()) if n else 0
    for pos in range(max_len):
        active = lens > pos
        c = crc[active]
        byte = flat[offsets[active] + pos]
        crc[active] = ((c << np.uint16(8)) & np.uint16(0xFF00)) ^ _NP_TABLE[
            ((c >> np.uint16(8)).astype(np.uint16) ^ byte) & np.uint16(0xFF)
        ]
    return crc


def slot_batch(keys: pd.Series) -> pd.Series:
    """Slot of each key; NULL -> NULL (int32, matching cpp:116-118)."""
    valid = keys.notna()
    out = pd.Series(np.zeros(len(keys), dtype=np.int32), index=keys.index, dtype="Int32")
    out[~valid] = pd.NA
    if valid.any():
        eff = _effective_keys(keys[valid].astype(str))
        encoded = [k.encode("utf-8") for k in eff]
        crc = _crc16_positional(encoded)
        out[valid] = (crc % TOTAL_SLOTS).astype(np.int32)
    return out


def _node_from_slot_np(slot, n_nodes):
    # ceil(n*(2*slot+1)/32768) in integer arithmetic
    return (n_nodes * (2 * slot.astype(np.int64) + 1) + 2 * TOTAL_SLOTS - 1) // (
        2 * TOTAL_SLOTS
    )


def cluster_slot_pudf() -> F.pandas_udf:
    """Arrow-batched ``cluster_slot(key) -> int32`` (cpp:93-101,116-118)."""

    @F.pandas_udf(IntegerType())
    def cluster_slot(keys: pd.Series) -> pd.Series:
        return slot_batch(keys)

    return cluster_slot


def cluster_node_pudf(n_nodes: int = DEFAULT_NODES) -> F.pandas_udf:
    """Arrow-batched ``cluster_node(key) -> int32`` (cpp:103-111,119-121)."""

    @F.pandas_udf(IntegerType())
    def cluster_node(keys: pd.Series) -> pd.Series:
        slots = slot_batch(keys)
        valid = slots.notna()
        out = pd.Series(
            np.zeros(len(slots), dtype=np.int32), index=slots.index, dtype="Int32"
        )
        out[~valid] = pd.NA
        if valid.any():
            out[valid] = _node_from_slot_np(
                slots[valid].to_numpy(dtype=np.int64), n_nodes
            ).astype(np.int32)
        return out

    return cluster_node


# Default hot-path implementation: the Arrow-batched UDF, measured 3.7x
# the interpreted higher-order-function fold's rows/s (0.90 vs 0.24
# Mrows/s, local[4], 2M keys with 50k distinct hash tags, best of 3; a
# one-off measurement, not yet a committed artifact).  The fold pays
# per-byte element_at dispatch; the UDF is one numpy pass per byte
# position.  Keep the native expression for Python-less contexts.
_DEFAULT_SLOT_UDF = None


def slot_udf_col(key) -> Column:
    """``cluster_slot`` via the default (pandas-UDF) implementation."""
    global _DEFAULT_SLOT_UDF
    if _DEFAULT_SLOT_UDF is None:
        _DEFAULT_SLOT_UDF = cluster_slot_pudf()
    return _DEFAULT_SLOT_UDF(_as_col(key))


def node_udf_col(key, n_nodes: int = DEFAULT_NODES) -> Column:
    """``cluster_node`` = integer arithmetic over the slot UDF (stays JVM
    side after the one Arrow exchange; no second Python round-trip)."""
    return node_of_slot_col(slot_udf_col(key), n_nodes)


# ---------------------------------------------------------------------------
# Native Column expressions (pure JVM, no Python worker)
# ---------------------------------------------------------------------------

def _as_col(key) -> Column:
    return key if isinstance(key, Column) else F.col(key)


def effective_key_col(key) -> Column:
    """Hash-tag rule as a native expression (cpp:52-61)."""
    key = _as_col(key)
    tag = F.regexp_extract(key, TAG_REGEX, 1)
    return F.when(tag != F.lit(""), tag).otherwise(key)


def _crc16_fold(eff: Column) -> Column:
    """CRC16/XMODEM over UTF-8 bytes as a higher-order aggregate fold.

    byte extraction: hex(encode(k,'utf-8')) -> 2-hex-digit slices ->
    conv(.,16,10); fold: crc = ((crc<<8)&0xff00) ^ table[((crc>>8)&0xff)^b]
    (cpp:44-50), table as a 256-element array literal (cpp:18-41 regenerated
    bitwise in core.py, not copied).
    """
    table = F.array(*[F.lit(int(v)) for v in CRC16_TABLE])
    raw = F.encode(eff, "UTF-8")
    hexed = F.hex(raw)
    nbytes = F.octet_length(raw)
    byte_at = lambda i: F.conv(F.substring(hexed, (i * 2) - 1, 2), 16, 10).cast("int")
    fold = F.aggregate(
        F.sequence(F.lit(1), nbytes),
        F.lit(0),
        lambda acc, i: F.shiftleft(acc, 8)
        .bitwiseAND(F.lit(0xFF00))
        .bitwiseXOR(
            F.element_at(
                table,
                F.shiftright(acc, 8)
                .bitwiseAND(F.lit(0xFF))
                .bitwiseXOR(byte_at(i))
                + F.lit(1),
            )
        ),
    )
    # sequence(1, 0) would be a descending range, so guard the empty string.
    return F.when(nbytes == 0, F.lit(0)).otherwise(fold)


def cluster_slot_col(key) -> Column:
    """Native ``cluster_slot``: slot in [0,16383], NULL-safe, int32."""
    key = _as_col(key)
    slot = F.pmod(_crc16_fold(effective_key_col(key)), F.lit(TOTAL_SLOTS))
    return F.when(key.isNull(), F.lit(None)).otherwise(slot).cast("int")


def node_of_slot_col(slot, n_nodes=DEFAULT_NODES) -> Column:
    """slot -> shard, closed form of the reference ranges (cpp:71-84)."""
    if isinstance(n_nodes, int) and n_nodes < 1:
        raise ValueError(f"n_nodes must be >= 1, got {n_nodes}")
    slot = _as_col(slot) if not isinstance(slot, Column) else slot
    n = n_nodes if isinstance(n_nodes, Column) else F.lit(int(n_nodes))
    numer = n * (F.lit(2) * slot + F.lit(1)) + F.lit(2 * TOTAL_SLOTS - 1)
    return F.floor(numer / F.lit(2 * TOTAL_SLOTS)).cast("int")


def cluster_node_col(key, n_nodes=DEFAULT_NODES) -> Column:
    """Native ``cluster_node(key[, n])`` (cpp:65-89 + README.md:84)."""
    return node_of_slot_col(cluster_slot_col(key), n_nodes)


# ---------------------------------------------------------------------------
# Catalog registration (the Spark analogue of cpp:114-124)
# ---------------------------------------------------------------------------

def register_all(spark: SparkSession, n_nodes: int = DEFAULT_NODES) -> None:
    """Register ``cluster_slot`` / ``cluster_node`` for SQL + DataFrame use.

    Idempotent.  ``cluster_node`` supports BOTH arities of the reference
    README verbatim — ``cluster_node(key)`` and ``cluster_node(key, 3)``
    (README.md:84,115-117) — via a Spark SQL UDF with a ``DEFAULT``
    parameter that inlines into the Arrow-vectorized two-argument kernel
    ``cluster_node_n`` (a Python UDF alone cannot be arity-overloaded).
    """
    spark.udf.register("cluster_slot", cluster_slot_pudf())
    spark.udtf.register("shard_ranges", shard_ranges_udtf())

    @F.pandas_udf(IntegerType())
    def _node_n(keys: pd.Series, n: pd.Series) -> pd.Series:
        slots = slot_batch(keys)
        # invalid shard counts (n < 1) yield NULL, not a bogus shard 0
        valid = slots.notna() & n.notna() & (n >= 1)
        out = pd.Series(
            np.zeros(len(slots), dtype=np.int32), index=slots.index, dtype="Int32"
        )
        out[~valid] = pd.NA
        if valid.any():
            out[valid] = _node_from_slot_np(
                slots[valid].to_numpy(dtype=np.int64),
                n[valid].to_numpy(dtype=np.int64),
            ).astype(np.int32)
        return out

    spark.udf.register("cluster_node_n", _node_n)
    # SQL surface: one name, both arities, default shard count baked in.
    # Catalyst inlines the SQL-UDF body, so cluster_node(key) is exactly
    # cluster_node_n(key, 6) — same Arrow batch path, no extra dispatch.
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cluster_node("
        f"key STRING, n INT DEFAULT {int(n_nodes)}) "
        "RETURNS INT RETURN cluster_node_n(key, n)"
    )


# ---------------------------------------------------------------------------
# Table function: shard -> slot-range map (SQL UDTF surface)
# ---------------------------------------------------------------------------

def shard_ranges_udtf():
    """Python UDTF emitting each shard's inclusive slot range for n nodes.

    ``SELECT * FROM shard_ranges(6)`` reproduces the reference's hardcoded
    range table (cpp:71-84) and generalizes to any n via node_of_slot —
    derived by scanning the slot space, so it is correct by construction
    against the closed form.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="node_id int, slot_lo int, slot_hi int")
    class ShardRanges:
        def eval(self, n_nodes: int):
            from duckdb_cluster_hash_spark.core import TOTAL_SLOTS, node_of_slot

            lo = 0
            current = node_of_slot(0, n_nodes)
            for slot in range(1, TOTAL_SLOTS):
                node = node_of_slot(slot, n_nodes)
                if node != current:
                    yield (current, lo, slot - 1)
                    lo, current = slot, node
            yield (current, lo, TOTAL_SLOTS - 1)

    return ShardRanges
