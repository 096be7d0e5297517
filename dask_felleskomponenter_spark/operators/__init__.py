from dask_felleskomponenter_spark.operators.joins import (
    anti_join,
    broadcast_dim_join,
    equi_join,
    semi_join,
)
from dask_felleskomponenter_spark.operators.windows import (
    keep_first,
    lag_sessionize,
    rank_topn_per_group,
    running_total,
)
from dask_felleskomponenter_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
)
from dask_felleskomponenter_spark.operators.shuffle import (
    pinned_repartition,
)
from dask_felleskomponenter_spark.operators.similarity import (
    cosine_topk,
    with_vector_norm,
)

__all__ = [
    "anti_join",
    "broadcast_dim_join",
    "equi_join",
    "semi_join",
    "keep_first",
    "lag_sessionize",
    "rank_topn_per_group",
    "running_total",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "pinned_repartition",
    "cosine_topk",
    "with_vector_norm",
]
