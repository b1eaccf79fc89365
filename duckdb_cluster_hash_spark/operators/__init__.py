from duckdb_cluster_hash_spark.operators.dedup import (  # noqa: F401
    dedup_representatives,
    word_ngrams,
    shingle_table,
    ngram_jaccard_pairs,
    minhash_signatures,
    lsh_candidate_pairs,
    minhash_neardup_pairs,
    simhash64,
    simhash_neardup_pairs,
    word_ngrams_seq,
    winnow_fingerprints,
    neardup_components,
    dedup_decisions,
    clear_shared_cache,
)
from duckdb_cluster_hash_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    cosine_topk_fast,
    ann_lsh_topk,
    ivf_topk,
    embedding_neardup_pairs,
)
from duckdb_cluster_hash_spark.operators.skew import (  # noqa: F401
    with_salt,
    salted_count,
    salted_agg,
    replicate_for_salted_join,
)
from duckdb_cluster_hash_spark.operators.distribution import (  # noqa: F401
    repartition_by_slot,
    write_partitioned_by_node,
)
