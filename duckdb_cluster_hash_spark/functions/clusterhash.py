"""Spark surface of the cluster-hash core.

One implementation of ``cluster_slot`` / ``cluster_node`` (reference:
src/clusterhash_extension.cpp:93-124, README.md:61-120): an Arrow UDF
(``F.arrow_udf``) over ``slot_arrow``, a table-driven CRC16 with one lookup
per byte as in the reference kernel (cpp:46-48).  Each distinct key of a
batch is hashed once (dictionary encoding), and the CRC runs over the raw
Arrow offset and data buffers one byte *position* at a time: with the keys
sorted by length, the keys still active at a position are a prefix slice,
so a batch costs ~max key length numpy ops, not one Python loop per key.

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
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from duckdb_cluster_hash_spark.core import CRC16_TABLE, TOTAL_SLOTS, DEFAULT_NODES

__all__ = [
    "TAG_REGEX",
    "slot_arrow",
    "slot_batch",
    "cluster_slot_col",
    "cluster_node_col",
    "node_of_slot_col",
    "register_all",
]

# First '{', first '}' after it, capture the (possibly empty) tag between.
# An empty or missing tag hashes the whole key (cpp:57 `end != start + 1`).
TAG_REGEX = r"^[^{]*\{(?P<tag>[^}]*)\}"

_NP_TABLE = np.array(CRC16_TABLE, dtype=np.uint16)


def slot_arrow(keys: pa.Array) -> pa.Array:
    """Slot of each key; NULL -> NULL (int32, matching cpp:116-118).

    Non-string input is cast to string first (an integer hashes as its
    decimal text)."""
    if isinstance(keys, pa.ChunkedArray):
        keys = keys.combine_chunks()
    encoded = pc.dictionary_encode(keys.cast(pa.large_string()))
    whole = encoded.dictionary
    tag = pc.struct_field(pc.extract_regex(whole, TAG_REGEX), "tag")
    has_tag = pc.fill_null(pc.greater(pc.binary_length(tag), 0), False)
    eff = pc.if_else(has_tag, tag, whole)

    n = len(eff)
    _, offsets, data = eff.buffers()
    offsets = np.frombuffer(offsets, np.int64)[eff.offset : eff.offset + n + 1]
    data = np.frombuffer(data or b"", np.uint8)
    lens = np.diff(offsets)
    order = np.argsort(-lens, kind="stable")
    starts = offsets[:-1][order]
    # keys longer than each byte position: a prefix of the length order
    active = np.searchsorted(-lens[order], -np.arange(lens.max(initial=0)))
    crc = np.zeros(n, np.uint16)
    for pos, k in enumerate(active):
        c = crc[:k]
        crc[:k] = (c << np.uint16(8)) ^ _NP_TABLE[(c >> np.uint16(8)) ^ data[starts[:k] + pos]]
    slots = np.empty(n, np.int32)
    slots[order] = crc % TOTAL_SLOTS
    return pa.array(slots).take(encoded.indices)


def slot_batch(keys: pd.Series) -> pd.Series:
    """``slot_arrow`` over a pandas Series: nullable Int32, same index."""
    slots = slot_arrow(pa.array(keys, from_pandas=True))
    return slots.to_pandas(types_mapper={pa.int32(): pd.Int32Dtype()}.get).set_axis(keys.index)


# The one Spark slot path: ``slot_arrow`` run per Arrow batch.
_SLOT_UDF = F.arrow_udf(slot_arrow, IntegerType())


def _as_col(key) -> Column:
    return key if isinstance(key, Column) else F.col(key)


def cluster_slot_col(key) -> Column:
    """``cluster_slot(key)``: slot in [0,16383], NULL-safe, int32; a
    non-string key hashes as its Spark STRING cast."""
    return _SLOT_UDF(_as_col(key).cast("string"))


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
