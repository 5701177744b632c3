"""Scalar/array function helpers: text analysis, similarity, hashing.

Cross-engine kernels are defined once in :mod:`.kernels` and rendered
to Spark SQL or DuckDB SQL; ``h60``/``tokens``/... are their Spark
Column wrappers.
"""

from columnar_analytics_engine_spark.functions.hashing import h60
from columnar_analytics_engine_spark.functions.kernels import quote_ident, render
from columnar_analytics_engine_spark.functions.text import distinct_tokens, tokens

__all__ = ["h60", "render", "quote_ident", "tokens", "distinct_tokens"]
