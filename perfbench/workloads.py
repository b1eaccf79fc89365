"""The benchmark's workloads: what one pass runs, by how many clients.

Every workload is a closed loop: each client starts its next operation
only when its previous one has returned.  An operation is one catalog
query (or, for ``route_keys``, the README routing query): building its
DataFrame (``QUERIES[name](spark, sf_dir)``, which runs any eager driver
actions and memo builds) and then one sink action on it.
"""

from __future__ import annotations

from dataclasses import dataclass

# The README routing query over the staged keys, through the SQL surface
# that ``register_all`` installs.
ROUTE_SQL = (
    "SELECT cluster_node(k) AS node, count(*) AS n, "
    "sum(cluster_slot(k)) AS slot_sum FROM keys GROUP BY cluster_node(k)"
)


@dataclass(frozen=True)
class Workload:
    name: str
    clients: int
    ops: tuple[str, ...]
    # sink for timed passes: "noop" (write to the noop sink) or "collect"
    sink: str
    # untimed passes before the timed region, the first one included
    warmups: int


# Memo-sharing docs and emb queries, longest first.  The MinHash and SimHash
# families each share session memos, so each pass pays every memo build once
# and the clients wait on each other's builds; the quota split pins ranking
# inputs and memoizes its cut points; the cosine top-k query memoizes its
# probe row.  The three hooks run_pass calls clear all of these memos.
# Beside them, one ingest stream routes events to shard directories through
# the native cluster_node_col and writes partitioned parquet; its replay
# source is staged once per process (no hook clears that).
PIPELINE = (
    "docs_simhash_neardup_pairs",
    "docs_simhash_signatures",
    "docs_minhash_neardup_pairs",
    "docs_minhash_jaccard_calibration",
    "docs_stratified_quota_split",
    "events_streaming_routed_sink",
    "emb_cosine_topk",
)


def workloads(cpus: int) -> dict[str, Workload]:
    return {
        # the only workload where the clusterhash kernel does most of the work;
        # its ~1 s passes keep getting faster for about eight passes, so it
        # warms up longer than the pipeline, whose passes take ~4 s
        "route_keys": Workload("route_keys", 1, ("route",), "collect", warmups=6),
        # memo builds, serialized driver actions and FAIR contention do most
        # of their work here
        "pipeline_concurrent": Workload("pipeline_concurrent", cpus, PIPELINE, "noop",
                                        warmups=3),
    }
