"""Column-expression function library.

Every function returns a pyspark ``Column``. The vector distances
against a constant query (``functions.vector.distance_expr_lit``) and
between two vector columns (``distance_arrow``) are Arrow ``pandas_udf``
kernels; the distances exported here are their higher-order-function
Catalyst folds, and the text functions are built-in expressions.
"""

from pydata_vector_search_spark.functions.vector import (
    dot_product,
    l2_norm,
    l2_distance,
    cosine_similarity,
    cosine_distance,
)
from pydata_vector_search_spark.functions.text import (
    token_count,
    normalized_text,
    fingerprint_md5,
    rolling_hash,
    quality_score,
    lang_id,
)

__all__ = [
    "dot_product", "l2_norm", "l2_distance", "cosine_similarity",
    "cosine_distance", "token_count", "normalized_text", "fingerprint_md5",
    "rolling_hash", "quality_score", "lang_id",
]
