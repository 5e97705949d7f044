from datapipeline_spark.similarity.ann import (
    brute_force_knn,
    cosine_similarity_np,
    embedding_similar_pairs,
    fit_ivf_centroids,
    ivf_assign,
    ivf_knn,
    lsh_knn,
    lsh_similar_pairs,
    random_hyperplane_signature,
)
from datapipeline_spark.similarity.gram import int_gram_matrix

__all__ = [
    "int_gram_matrix",
    "brute_force_knn",
    "cosine_similarity_np",
    "embedding_similar_pairs",
    "fit_ivf_centroids",
    "ivf_assign",
    "ivf_knn",
    "lsh_knn",
    "lsh_similar_pairs",
    "random_hyperplane_signature",
]
