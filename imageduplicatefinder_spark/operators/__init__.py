from imageduplicatefinder_spark.operators.signatures import compute_signatures
from imageduplicatefinder_spark.operators.lsh import band_table, candidate_pairs
from imageduplicatefinder_spark.operators.verify import verify_pairs
from imageduplicatefinder_spark.operators.components import (
    connected_components,
    refresh_clusters,
)
from imageduplicatefinder_spark.operators.hamming_lsh import hamming_pairs
from imageduplicatefinder_spark.operators.plan import clusters_table, keeper_plan
from imageduplicatefinder_spark.operators.similarity import (
    blocked_cosine_pairs,
    hyperplane_lsh_pairs,
    hyperplane_tables,
    ivf_topk,
)

__all__ = [
    "compute_signatures",
    "band_table",
    "candidate_pairs",
    "verify_pairs",
    "connected_components",
    "refresh_clusters",
    "hamming_pairs",
    "clusters_table",
    "keeper_plan",
    "blocked_cosine_pairs",
    "hyperplane_lsh_pairs",
    "hyperplane_tables",
    "ivf_topk",
]
