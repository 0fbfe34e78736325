"""Column-expression helpers: time, text analysis, dedup, similarity.

Everything here is a *function of Columns returning Columns* — it stays in
whole-stage codegen. Python/pandas appears only in multimodal decode stubs.
"""

from proxima_platform_spark.functions.core import (
    epoch_ms,
    from_epoch_ms,
    window_start_ms,
)
from proxima_platform_spark.functions.text import (
    chunk_documents,
    language_id,
    quality_lang_arrow,
    quality_score,
    token_count,
)
from proxima_platform_spark.functions.bpe import (
    bpe_encode_docs,
    bpe_learn,
    bpe_word_encode_expr,
)
from proxima_platform_spark.functions.dedup import (
    exact_dup_key,
    fuzzy_contaminated_doc_ids,
    ngram_shingles,
    plan_bands,
    simhash64,
)
from proxima_platform_spark.functions.similarity import (
    cosine_similarity,
    dot,
    l2_norm,
)
from proxima_platform_spark.functions.timeseries import (
    cohort_retention,
    distinct_ladder,
    funnel,
    funnel_stream,
    gapfill_locf,
    hll_ladder,
)
from proxima_platform_spark.functions.sketch import (
    bloom_build,
    bloom_prefilter,
    bloom_semi_join,
)
from proxima_platform_spark.functions.cluster import (
    kmeans_assign,
    kmeans_lloyd,
)
from proxima_platform_spark.functions.sampling import (
    hash_sample,
    hash_sample_exact_k,
    hash_split,
    quota_sample,
    stratified_sample,
    weighted_sample,
)

__all__ = [
    "bloom_build",
    "bloom_prefilter",
    "bloom_semi_join",
    "bpe_encode_docs",
    "bpe_learn",
    "bpe_word_encode_expr",
    "fuzzy_contaminated_doc_ids",
    "plan_bands",
    "chunk_documents",
    "cohort_retention",
    "cosine_similarity",
    "distinct_ladder",
    "dot",
    "epoch_ms",
    "exact_dup_key",
    "from_epoch_ms",
    "funnel",
    "funnel_stream",
    "gapfill_locf",
    "hash_sample",
    "hash_sample_exact_k",
    "hash_split",
    "hll_ladder",
    "kmeans_assign",
    "kmeans_lloyd",
    "l2_norm",
    "language_id",
    "ngram_shingles",
    "quality_lang_arrow",
    "quality_score",
    "quota_sample",
    "simhash64",
    "stratified_sample",
    "token_count",
    "weighted_sample",
    "window_start_ms",
]
