"""Property-based tests (hypothesis): the Query builder must agree with
DuckDB on arbitrary small tables — not just the curated fixtures.

Strategy: generate random (id, value, category) rows with nulls, unicode
categories, and extreme ints; run random filter/agg/group-by configs
through both engines on the exact same data; compare.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.ops import AggFunc, CompareOp, Query

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        st.one_of(st.none(), st.integers(min_value=-(10**6), max_value=10**6)),
        st.one_of(st.none(), st.sampled_from(["a", "b", "κ", "日本", "", "z z"])),
    ),
    min_size=0,
    max_size=25,
)

OPS = st.sampled_from(list(CompareOp))
THRESHOLDS = st.integers(min_value=-(10**6) - 5, max_value=10**6 + 5)

_SQL_OP = {
    CompareOp.EQ: "=",
    CompareOp.NE: "!=",
    CompareOp.LT: "<",
    CompareOp.LE: "<=",
    CompareOp.GT: ">",
    CompareOp.GE: ">=",
}

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _mk(spark, rows):
    pdf = pd.DataFrame(rows, columns=["id", "value", "category"]).astype(
        {"id": "int64", "value": "Int64", "category": "object"}
    )
    sdf = spark.createDataFrame(
        [(int(i), None if pd.isna(v) else int(v), c) for i, v, c in rows],
        "id long, value long, category string",
    )
    con = duckdb.connect()
    con.register("tbl", pdf)
    return sdf, con


@given(rows=ROWS, op=OPS, threshold=THRESHOLDS)
@SETTINGS
def test_filter_matches_duckdb(spark, rows, op, threshold):
    sdf, con = _mk(spark, rows)
    got = sorted(
        r["id"]
        for r in Query(sdf).add_filter("value", op, threshold).execute().collect()
    )
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT id FROM tbl WHERE value {_SQL_OP[op]} {threshold}"
        ).fetchall()
    )
    assert got == want


@given(rows=ROWS)
@SETTINGS
def test_global_agg_matches_duckdb(spark, rows):
    sdf, con = _mk(spark, rows)
    got = Query(sdf).set_aggregation(AggFunc.SUM, "value").execute().first()
    want = con.execute(
        "SELECT COUNT(*), CAST(SUM(value) AS BIGINT), MIN(value), MAX(value) FROM tbl"
    ).fetchone()
    assert got["count"] == want[0]
    assert got["sum"] == want[1]
    assert got["min"] == want[2]
    assert got["max"] == want[3]


@given(rows=ROWS)
@SETTINGS
def test_group_by_matches_duckdb(spark, rows):
    sdf, con = _mk(spark, rows)
    got = {
        (r["category"], r["count"])
        for r in Query(sdf).set_group_by("category").execute().collect()
    }
    want = set(
        con.execute("SELECT category, COUNT(*) FROM tbl GROUP BY category").fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# joins and windows: null keys and ties are where engines diverge
# ---------------------------------------------------------------------------

JOIN_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=8)),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=20,
)
JOIN_HOW = st.sampled_from(["inner", "left", "full", "semi", "anti"])

_DUCK_JOIN = {
    "inner": "SELECT a.v, b.w FROM ta a JOIN tb b ON a.k = b.k",
    "left": "SELECT a.v, b.w FROM ta a LEFT JOIN tb b ON a.k = b.k",
    "full": "SELECT a.v, b.w FROM ta a FULL JOIN tb b ON a.k = b.k",
    "semi": "SELECT a.v, NULL FROM ta a WHERE EXISTS "
            "(SELECT 1 FROM tb b WHERE b.k = a.k)",
    "anti": "SELECT a.v, NULL FROM ta a WHERE NOT EXISTS "
            "(SELECT 1 FROM tb b WHERE b.k = a.k)",
}


@given(left=JOIN_ROWS, right=JOIN_ROWS, how=JOIN_HOW)
@SETTINGS
def test_join_matches_duckdb(spark, left, right, how):
    """All five join types on arbitrary tables with NULL keys: SQL null
    never matches (including null=null), semi/anti are existence tests —
    Spark and DuckDB must agree row-for-row (as multisets)."""
    import collections

    la = spark.createDataFrame(left if left else [], "k long, v long")
    rb = spark.createDataFrame(right if right else [], "k long, w long")

    if how in ("semi", "anti"):
        out = la.join(rb, la.k == rb.k, f"left_{how}").select("v")
        got = collections.Counter(r["v"] for r in out.collect())
    else:
        out = la.join(rb, la.k == rb.k, how).select(la.v, rb.w)
        got = collections.Counter((r["v"], r["w"]) for r in out.collect())

    con = duckdb.connect()
    con.register("ta", pd.DataFrame(left, columns=["k", "v"]).astype({"k": "Int64", "v": "int64"}))
    con.register("tb", pd.DataFrame(right, columns=["k", "w"]).astype({"k": "Int64", "w": "int64"}))
    rows = con.execute(_DUCK_JOIN[how]).fetchall()
    con.close()
    if how in ("semi", "anti"):
        want = collections.Counter(r[0] for r in rows)
    else:
        want = collections.Counter((r[0], r[1]) for r in rows)
    assert got == want


@given(rows=JOIN_ROWS)
@SETTINGS
def test_window_running_sum_matches_duckdb(spark, rows):
    """Per-key running sum ordered by (v, rowpos-free tie-break): window
    frames + null keys + duplicate order values must agree."""
    sdf = (
        spark.createDataFrame([(k, v) for k, v in rows], "k long, v long")
        if rows
        else spark.createDataFrame([], "k long, v long")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("k").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    # ties on v make rowsBetween nondeterministic; aggregate per (k, v)
    # first so the running sum is over a deterministic sequence
    base = sdf.groupBy("k", "v").agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    out = base.withColumn("run", F.sum("s").over(w))
    got = {(r["k"], r["v"], r["run"]) for r in out.collect()}

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "v"]).astype({"k": "Int64", "v": "int64"}))
    want = set(
        con.execute(
            """
            WITH base AS (
              SELECT k, v, COUNT(*) AS n, SUM(v) AS s FROM t GROUP BY k, v
            )
            SELECT k, v, CAST(SUM(s) OVER (PARTITION BY k ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            FROM base
            """
        ).fetchall()
    )
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# CDC chunking properties (vs a pure-Python reference implementation)
# ---------------------------------------------------------------------------

_CDC_DOCS = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "ray", "x1", "y2"]),
        min_size=0,
        max_size=30,
    ),
    min_size=1,
    max_size=6,
)


def _py_cdc(texts, bits):
    """Reference CDC: same tokenizer contract (split of trimmed text —
    empty text yields the one-element [''] list, exactly like the
    engine's split()) and same boundary rule, pure Python."""
    import hashlib
    import re

    mod = 1 << bits
    out = []  # (doc_id, chunk_tokens)
    for doc_id, text in enumerate(texts):
        toks = re.split(r"\s+", text.strip())
        chunk = []
        for tk in toks:
            chunk.append(tk)
            h = int(hashlib.md5(f"cdc:{tk}".encode()).hexdigest()[:15], 16)
            if h % mod == 0:
                out.append((doc_id, tuple(chunk)))
                chunk = []
        if chunk:
            out.append((doc_id, tuple(chunk)))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_CDC_DOCS)
def test_cdc_matches_python_reference(spark, docs):
    from columnar_analytics_engine_spark.operators.cdc import cdc_chunks

    texts = [" ".join(toks) for toks in docs]
    rows = [(i, text) for i, text in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_id"], r["start_pos"], r["n_tokens"])
        for r in cdc_chunks(df, boundary_bits=2).collect()
    }
    ref = _py_cdc(texts, 2)
    expected = set()
    for doc_id in range(len(texts)):
        pos = 0
        for cid, (d, chunk) in enumerate(c for c in ref if c[0] == doc_id):
            expected.add((doc_id, cid, pos, len(chunk)))
            pos += len(chunk)
    assert got == expected


TOKEN = st.sampled_from(["a", "b", "c", "dd", "ee", "ff", "gg", "hh"])
DOC_TEXTS = st.lists(
    st.lists(TOKEN, min_size=0, max_size=12).map(" ".join),
    min_size=2,
    max_size=6,
)


@given(texts=DOC_TEXTS)
@SETTINGS
def test_containment_matches_python_reference(spark, texts):
    """containment_pairs agrees with a brute-force Python reference on
    arbitrary tiny corpora (shingle sets, both directions, exact 0.5
    threshold boundary, min_shingles gate)."""
    from columnar_analytics_engine_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(i, t_) for i, t_ in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["src"], r["dst"]): r["containment"]
        for r in containment_pairs(
            docs, threshold=0.5, min_shingles=1, n=3
        ).collect()
    }

    def shingles(text):
        toks = text.split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    want = {}
    sh = {i: shingles(t_) for i, t_ in enumerate(texts)}
    for i in sh:
        for j in sh:
            if i == j or not sh[i]:
                continue
            inter = len(sh[i] & sh[j])
            # exact rational predicate: 2*common >= 1*|A| (threshold 1/2)
            if inter and 2 * inter >= len(sh[i]):
                want[(i, j)] = inter / len(sh[i])
    assert {k: round(v, 9) for k, v in got.items()} == {
        k: round(v, 9) for k, v in want.items()
    }
