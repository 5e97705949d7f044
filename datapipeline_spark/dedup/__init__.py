from datapipeline_spark.dedup.exact import exact_dedup, text_fingerprints
from datapipeline_spark.dedup.minhash import (
    MinHashParams,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    row_minhash,
    word_shingles,
)
from datapipeline_spark.dedup.ppjoin import ppjoin_pairs, prefix_filter_candidates
from datapipeline_spark.dedup.simhash import simhash
from datapipeline_spark.dedup.symdelete import deletion_join, deletion_variants

__all__ = [
    "exact_dedup",
    "text_fingerprints",
    "MinHashParams",
    "word_shingles",
    "minhash_signatures",
    "row_minhash",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "minhash_dedup_pairs",
    "deletion_join",
    "deletion_variants",
    "ppjoin_pairs",
    "prefix_filter_candidates",
    "simhash",
]
