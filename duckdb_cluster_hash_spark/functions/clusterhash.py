"""Spark surface of the cluster-hash core.

One implementation of ``cluster_slot`` / ``cluster_node`` (reference:
src/clusterhash_extension.cpp:93-124, README.md:61-120): an Arrow-batched
pandas UDF over a numpy table-driven CRC16, one lookup per byte as in the
reference kernel (cpp:46-48).  The kernel is positional: one vectorized
update per byte *position* across the whole batch, so a batch of 10k short
keys costs ~len(key) numpy ops, not 10k Python loops.

``cluster_node`` needs no table and no second Python round-trip: it is JVM
integer arithmetic over the slot.  The reference's hardcoded 6-shard ranges
(cpp:71-84) equal the closed form ``ceil(n*(2*slot+1)/32768)`` for all
16384 slots, which also yields the canonical Redis 3-master ranges for the
README's documented two-argument form (README.md:84,115-117).

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
    "slot_batch",
    "cluster_slot_col",
    "cluster_node_col",
    "node_of_slot_col",
    "register_all",
]

# First '{', first '}' after it, capture the (possibly empty) tag between.
# The empty-tag fallback is handled by the caller (cpp:57 `end != start + 1`).
TAG_REGEX = r"^[^{]*\{([^}]*)\}"

_NP_TABLE = np.array(CRC16_TABLE, dtype=np.uint16)


# ---------------------------------------------------------------------------
# Vectorized numpy kernel
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


# The one Spark slot path: ``slot_batch`` run per Arrow batch.
_SLOT_UDF = F.pandas_udf(slot_batch, IntegerType())


def _as_col(key) -> Column:
    return key if isinstance(key, Column) else F.col(key)


def cluster_slot_col(key) -> Column:
    """``cluster_slot(key)``: slot in [0,16383], NULL-safe, int32."""
    return _SLOT_UDF(_as_col(key))


def node_of_slot_col(slot, n_nodes=DEFAULT_NODES) -> Column:
    """slot -> shard, closed form of the reference ranges (cpp:71-84)."""
    if isinstance(n_nodes, int) and n_nodes < 1:
        raise ValueError(f"n_nodes must be >= 1, got {n_nodes}")
    slot = _as_col(slot)
    n = n_nodes if isinstance(n_nodes, Column) else F.lit(int(n_nodes))
    # BIGINT before the multiply, as SQL cluster_node: n * (2*slot + 1)
    # overflows INT (ANSI error) for n above ~65k
    numer = n.cast("bigint") * (F.lit(2) * slot + F.lit(1)) + F.lit(
        2 * TOTAL_SLOTS - 1
    )
    return F.floor(numer / F.lit(2 * TOTAL_SLOTS)).cast("int")


def cluster_node_col(key, n_nodes=DEFAULT_NODES) -> Column:
    """``cluster_node(key[, n])`` (cpp:65-89 + README.md:84)."""
    return node_of_slot_col(cluster_slot_col(key), n_nodes)


# ---------------------------------------------------------------------------
# Catalog registration (the Spark analogue of cpp:114-124)
# ---------------------------------------------------------------------------

def register_all(spark: SparkSession) -> None:
    """Register ``cluster_slot`` / ``cluster_node`` for SQL + DataFrame use.

    Idempotent.  ``cluster_node`` supports BOTH arities of the reference
    README verbatim — ``cluster_node(key)`` and ``cluster_node(key, 3)``
    (README.md:84,115-117) — as a SQL function with a ``DEFAULT``
    parameter whose body is ``node_of_slot_col``'s closed form over
    ``cluster_slot(key)``; a shard count that is NULL or below 1 yields
    NULL, not a bogus shard 0.
    """
    spark.udf.register("cluster_slot", _SLOT_UDF)
    spark.udtf.register("shard_ranges", shard_ranges_udtf())
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cluster_node("
        f"key STRING, n INT DEFAULT {DEFAULT_NODES}) RETURNS INT RETURN "
        "CASE WHEN n >= 1 THEN CAST(floor((CAST(n AS BIGINT) * "
        f"(2 * cluster_slot(key) + 1) + {2 * TOTAL_SLOTS - 1}) "
        f"/ {2 * TOTAL_SLOTS}) AS INT) END"
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
