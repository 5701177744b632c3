"""The affine MinHash family's constants are part of the operator
definition (tests/test_kernels.py checks every kernel in both engines)."""

from __future__ import annotations

from columnar_analytics_engine_spark.functions.hashing import MINHASH_A, MINHASH_B


def test_affine_constants_are_fixed():
    # the a/b constants are part of the operator definition: any change
    # silently changes every MinHash signature — pin the first few
    assert MINHASH_A[:3] == [2058367755, 1250378732, 1328920189]
    assert MINHASH_B[:3] == [556613361, 488839215, 862986759]
