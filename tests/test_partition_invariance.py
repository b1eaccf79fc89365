"""Physical-layout invariance — the distributed-correctness gate.

Every catalog result must be a pure function of the DATA, never of the
physical layout it happens to arrive in: scan split sizes, shuffle
partition counts, and task scheduling all change between a laptop and a
1000-executor cluster, and any query whose answer moves with them is
wrong at scale even if it passes the oracle locally.

The queries picked here are exactly the ones that internally use
layout-sensitive primitives and must have engineered that sensitivity
away: salted aggregation (monotonically_increasing_id in the salt),
distributed ranking (spark_partition_id), token sharding (two-level
prefix sum), LSH dedup (shared materialized shingles), and mixture
replication.  Each runs under the session's normal config and again
with tiny scan splits + a different shuffle width; sorted results must
be identical.
"""

from __future__ import annotations

import pytest

from duckdb_cluster_hash_spark.plans.catalog import QUERIES

INVARIANCE_QUERIES = [
    "events_hot_type_salted_counts",
    "customer_spend_deciles",
    "docs_token_shards",
    "docs_minhash_neardup_pairs",
    "docs_mixture_epochs",
    "docs_train_val_test_split",
    "cluster_skew_report",
    # memoized position-gram table (localCheckpoint) + 3-subtree reuse
    "docs_dup_span_coverage",
    # per-shard HLL sketches merged centrally: estimate must not depend
    # on how rows split across tasks (sketch merge is order-insensitive)
    "events_hll_shard_distinct",
    # per-shard ordered prefix sum (packing layout must be a pure
    # function of the md5 order, never of scan/shuffle splits)
    "docs_pack_sequences",
    # rank-window dedup accounting: the keep/dup split must follow the
    # doc_id order inside each digest group, never task arrival order
    "docs_incremental_dedup",
    # lag-window gaps tie-broken on (date, orderkey): per-customer sums
    # must not move with scan splits
    "orders_reorder_intervals",
    # two-level prefix sum over spark_partition_id: the ABC split must be
    # a pure function of the (cents, suppkey) order, never the layout
    "supplier_pareto_abc",
    # three ntile_exact rankings (spark_partition_id x3): the 125-cell
    # census must be a pure function of the tie-broken orders data
    "customer_rfm_segments",
    # two-level prefix sum drives the PPS draw allocation: every draw
    # must land on the same document whatever the scan/shuffle layout
    "docs_token_weighted_sample",
    # run compression + interval stitching over three window layers: the
    # (ts, event_id) total order must fully determine every interval
    "events_segment_scd2",
    # three marginal window sums over the census: the truncated-integer
    # chi-square contributions are a pure function of the counts
    "events_chi2_type_dow",
    # dup-collapse + prefix self-join + checkpointed distinct-set table:
    # the pair aggregates must be a pure function of the token sets
    # (F.first("ts") is safe only because h determines ts exactly)
    "docs_set_similarity_join",
    # per-set row_number over the (df, tok) tuple: a total order, so the
    # prefix choice must not move with scan splits
    "docs_countmin_heavy_hitters",
    # bloom bit positions are md5-determined; candidate and
    # false-positive counts must be layout-independent
    "events_bloom_prefilter_join",
    # max-version reconciliation window tie-broken by distinct versions
    "formats_merge_on_read",
    # global_row_number (spark_partition_id + range partition) decides
    # the trim boundary: the kept mass must be a pure function of the
    # (cents, orderkey, linenumber) total order
    "lineitem_trimmed_price_stats",
    # full-outer digest diff: op classes must not move with scan splits
    "orders_snapshot_diff",
    # per-user first-8 window on the (ts, event_id) total order
    "events_sequence_edit_distance",
    # 16 sequential argmax collects, each over a shuffled pair count:
    # the whole merge trajectory (incl. lexicographic tie-breaks) must
    # be a pure function of the corpus, never of scan/shuffle layout
    "docs_bpe_training_loop",
    # train->apply closure: the learned table (argmax tie-breaks) and
    # the chained-replace encoding must both be layout-pure
    "docs_bpe_encode",
    # grouped_row_number (spark_partition_id + range partition per
    # stratum) decides every quota boundary: the per-(lang, split)
    # membership digests must be a pure function of the md5 order
    "docs_stratified_quota_split",
    # connected-components closure over the memoized MinHash graph:
    # the fixpoint must not depend on layout
    "docs_neardup_component_census",
    # per-source cumulative windows + keyed re-aggregation: the KS gap
    # and its argmax length must be a pure function of the counts
    "docs_source_length_drift",
    # min_by first-owner resolution over the md5 order key: novelty
    # credit must never follow task arrival order
    "docs_source_novelty_attribution",
    # Arrow grouped-map gram kernel: rows arrive in arbitrary batch
    # order, so the kernel's id-sort + lexsort ranking must make the
    # k-occurrence counts layout-pure
    "emb_hubness_audit",
    # cogrouped cross-gram kernel + raw-double kNN margin sums: every
    # emitted cosine bit must be a pure function of the two sides
    "emb_margin_bitext_pairs",
    # position anchors + diagonal row_number islands: maximal-run
    # reconstruction must follow the (doc_a, doc_b, diag, pa) order,
    # never scan-split or shuffle-width arrival order
    "docs_exact_substring_dedup",
    # the same runs projected to per-doc intervals and swept with a
    # running-max window: the merged coverage must be layout-pure
    "docs_substring_dup_bill",
    # 8 mistake-gated gradient aggregates, each collected to the driver
    # and fed back as literal weights: integer sums are order-free, so
    # the whole trajectory must be layout-pure (memo cleared between
    # runs via the shared hook, so the alt layout genuinely retrains)
    "docs_quality_perceptron",
    # final-weight scoring over the same projection: the per-source
    # confusion bill must follow the trained weights, not the layout
    "docs_quality_perceptron_filter",
    # k-threshold confusion sweep from one 2+2k-counter aggregate +
    # stack unpivot: every counter is an order-free integer sum over
    # the trained margins, so the whole bill must be layout-pure
    "docs_quality_perceptron_sweep",
    # perceptual dHash via an Arrow mapInPandas decode kernel + banded
    # Hamming self-join: every hash bit is per-row pure, so the full
    # pair-mass bill must survive any scan split or shuffle width
    # (memo cleared between runs so the alt layout genuinely re-hashes)
    "docs_image_neardup_bill",
    # the audio twin: energy-dHash via the Arrow RIFF-decode kernel +
    # the same banded class machine — per-clip pure bits, layout-pure
    # bill (memo cleared between runs so the alt layout re-decodes)
    "docs_audio_neardup_bill",
    # the video twin: luma-dHash via the Arrow y4m-decode kernel
    "docs_video_neardup_bill",
    # two-level keyed top-5 (vec_id%32 salt windows, then per-query) +
    # majority vote: every rank and tie-break is on (micro-cos, vec_id),
    # so no scan split or shuffle width may move a neighbour
    "emb_knn_label_accuracy",
    # digest-keyed duplicate groups -> 10000 div cnt weights: the
    # effective-mass bill is keyed aggregation only, trivially pure —
    # enrolled because the digest join is the classic place layout
    # sensitivity sneaks in via partial-agg order
    "docs_softdedup_reweight",
    # the composed ladder end-to-end: exact-dup window, quality gates,
    # memoized LSH components, keeper broadcast, grouped_row_number
    # quota, artifact write + read-back — the full-stage bill must be
    # a pure function of the corpus under any layout
    "docs_curation_pipeline",
]

ALT_CONFS = {
    # force many tiny scan splits and a different shuffle width
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.files.openCostInBytes": "0",
}


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def _drop_shared_memos():
    # the dedup shingle/signature memo would otherwise serve the alt run
    # a checkpoint materialized under the baseline layout, hiding any
    # layout sensitivity in the shingle stage itself; the public hook
    # also unpersists the checkpoint blocks (plain .clear() would leak
    # them until GC across this suite's many runs)
    from duckdb_cluster_hash_spark.operators import dedup

    dedup.clear_shared_cache()


@pytest.mark.parametrize("name", INVARIANCE_QUERIES)
def test_result_independent_of_physical_layout(spark, sf_small, name):
    _drop_shared_memos()
    baseline = _rows(QUERIES[name](spark, sf_small))
    saved = {k: spark.conf.get(k, None) for k in ALT_CONFS}
    try:
        for k, v in ALT_CONFS.items():
            spark.conf.set(k, v)
        _drop_shared_memos()
        alt = _rows(QUERIES[name](spark, sf_small))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert alt == baseline
