"""Cross-engine deterministic hashing (Spark side).

MinHash/SimHash need a keyed hash that is (a) deterministic, (b) cheap,
and (c) reproducible in the DuckDB oracle.  Spark's native ``xxhash64``
has no DuckDB twin, so the hashes derive from md5.  Each kernel is
defined once in :mod:`functions.kernels`; these wrappers parse its
Spark rendering into a Column, so a plan pays one parse instead of a
py4j round trip per operator.  Arguments are Spark SQL expression text
(quote arbitrary column names with ``kernels.quote_ident``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.kernels import (  # noqa: F401
    MINHASH_A,
    MINHASH_B,
    P31,
    ROLL_B1,
    ROLL_B2,
    render,
)


def h60(prefix: str, expr: str) -> Column:
    """60-bit keyed hash of a string expression (seeded by ``prefix``)."""
    return F.expr(render("h60", "spark", prefix, expr))


def affine_hash_array(expr: str, k: int) -> Column:
    """The k-member affine hash family of a string expression as ONE
    array<long>: a single array-valued expression is one codegen unit,
    so the two md5 digests are shared across all k members (2 digests
    per term instead of 2·k)."""
    return F.expr(render("affine", "spark", expr, k))


def token_hash_structs(expr: str) -> Column:
    """array<struct<a,b>> of per-token 31-bit hash pairs (one md5 each)
    of a string-array expression."""
    return F.expr(render("token_hashes", "spark", expr))


def gram_hash_array(expr: str, n: int) -> Column:
    """62-bit rolling hash per n-gram position of a token-hash array
    expression (see :func:`token_hash_structs`)."""
    return F.expr(render("gram_hashes", "spark", expr, n))
