"""Every cross-engine kernel, rendered from its one template, evaluated
in Spark and in DuckDB on random inputs (NULL, '', unicode, 500-char
strings, token arrays shorter than the n-gram width): both engines must
agree, and the hashing kernels must also match pure-Python ``hashlib``
references written independently of the templates."""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    P31,
    ROLL_B1,
    ROLL_B2,
)
from columnar_analytics_engine_spark.functions.kernels import (
    LANG_PRIORITY,
    double_lit,
    quote_ident,
    render,
)

# Spark column names that need quoting; the DuckDB side always uses x
NAMES = st.sampled_from(["x", "a b", "x-y", "we`ird"])

# lower() differs between the engines on 72 code points: Java's
# context-sensitive and multi-char mappings (final sigma, dotted capital
# I) and letters newer than DuckDB's Unicode tables.  Only the
# fingerprint kernel lowercases; its draws skip these, and
# test_fingerprint_lowercase_differs_between_engines pins the gap.
CASE_GAP = "\u0130\u03a3\u1c89\u2c2f" + "".join(
    map(chr, [*range(0xA7C0, 0xA7F6), *range(0x10570, 0x10596), *range(0x10D50, 0x10D66)])
)


def _strings(exclude: str = ""):
    chars = st.characters(blacklist_categories=("Cs",), blacklist_characters=exclude)
    return st.one_of(
        st.just(""),
        st.text(chars, max_size=40),
        st.text(chars, min_size=500, max_size=500),
        st.lists(
            st.sampled_from(["the", "a", "de", "la", "der", "的", "是", "x", "Ü", "日本"])
            | st.sampled_from([" ", "  ", "\t", "\n", "\x0b", "\xa0", "\u3000"]),
            max_size=20,
        ).map("".join),
    )


STRINGS = _strings()
TEXT = st.none() | STRINGS
TOKEN_LISTS = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from(["the", "fox", "κ", "日本", "", "a b", "z", "123", "Ω"])
        | st.text(max_size=6),
        max_size=12,
    ),
)
DOUBLES = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)


def _py_h60(prefix, s):
    return int(hashlib.md5((prefix + s).encode()).hexdigest()[:15], 16)


def _py_halves(s):
    d = hashlib.md5(s.encode()).hexdigest()
    return int(d[:15], 16) % P31, int(d[15:30], 16) % P31


def _py_affine(s, k):
    x1, x2 = _py_halves(s)
    return [((MINHASH_A[i] * x1) % P31 + (MINHASH_B[i] * x2) % P31 + i) % P31 for i in range(k)]


def _py_grams(toks, n):
    if toks is None:
        return None
    pairs = [_py_halves(t) for t in toks]
    out = []
    for i in range(len(toks) - n + 1):
        a, b = pairs[i]
        for j in range(1, n):
            a = (a * ROLL_B1 + pairs[i + j][0]) % P31
            b = (b * ROLL_B2 + pairs[i + j][1]) % P31
        out.append(a * 2147483648 + b)
    return out


def _py_morton(bins, bits):
    return sum(((b >> bit) & 1) << (bit * len(bins) + i) for bit in range(bits) for i, b in enumerate(bins))


# kernel -> draw(data) -> (spark type, duck type, values, expr(col, dialect), reference or None)
# NULL inputs of the md5-hex kernels: see test_md5_hex_kernels_on_null
def _case_h60(data):
    prefix = data.draw(st.sampled_from(["px:", "", "it's:", "back\\slash:"]))
    vals = data.draw(st.lists(STRINGS, min_size=1, max_size=8))
    return "string", "VARCHAR", vals, lambda c, d: render("h60", d, prefix, c), [_py_h60(prefix, v) for v in vals]


def _case_affine(data):
    k = data.draw(st.integers(1, 64))
    vals = data.draw(st.lists(STRINGS, min_size=1, max_size=8))
    return "string", "VARCHAR", vals, lambda c, d: render("affine", d, c, k), [_py_affine(v, k) for v in vals]


def _case_affine_member(data):
    i = data.draw(st.integers(0, 63))
    vals = data.draw(st.lists(STRINGS, min_size=1, max_size=8))
    ref = [_py_affine(v, i + 1)[i] for v in vals]
    return "string", "VARCHAR", vals, lambda c, d: render("affine_member", d, c, i), ref


def _case_gram_hashes(data):
    n = data.draw(st.integers(1, 8))
    vals = data.draw(st.lists(TOKEN_LISTS, min_size=1, max_size=8))

    def expr(c, d):
        return render("gram_hashes", d, f"({render('token_hashes', d, c)})", n)

    return "array<string>", "VARCHAR[]", vals, expr, [_py_grams(v, n) for v in vals]


def _case_text(kernel, text=TEXT):
    def case(data):
        extra = ()
        if kernel == "stopword_hits":
            extra = (data.draw(st.sampled_from(LANG_PRIORITY)),)
        vals = data.draw(st.lists(text, min_size=1, max_size=8))
        return "string", "VARCHAR", vals, lambda c, d: render(kernel, d, c, *extra), None

    return case


def _case_langid(data):
    vals = data.draw(st.lists(TEXT, min_size=1, max_size=8))

    def expr(c, d):
        scores = {lang: f"({render('stopword_hits', d, c, lang)})" for lang in LANG_PRIORITY}
        return render("langid", d, scores)

    return "string", "VARCHAR", vals, expr, None


def _case_range_bin(data):
    vals = data.draw(st.lists(st.none() | DOUBLES, min_size=1, max_size=8))
    levels = data.draw(st.integers(1, 1 << 16))
    present = [v for v in vals if v is not None] or [0.0]
    mn, mx = double_lit(min(present)), double_lit(max(present))

    def expr(c, d):
        return render("range_bin", d, c, mn, mx, levels)

    return "double", "DOUBLE", vals, expr, None


def _case_rank_bin(data):
    vals = data.draw(st.lists(st.none() | DOUBLES, min_size=1, max_size=8))
    cuts = sorted(data.draw(st.lists(DOUBLES, min_size=1, max_size=16)))
    ref = [sum(v >= x for x in cuts) if v is not None else 0 for v in vals]
    return "double", "DOUBLE", vals, lambda c, d: render("rank_bin", d, c, cuts), ref


def _case_morton(data):
    bits = data.draw(st.integers(1, 20))
    width = data.draw(st.integers(1, 3))
    vals = data.draw(
        st.lists(st.lists(st.integers(0, (1 << bits) - 1), min_size=width, max_size=width), min_size=1, max_size=8)
    )

    def expr(c, d):
        at = (lambda i: f"{c}[{i}]") if d == "duckdb" else (lambda i: f"element_at({c}, {i})")
        return render("morton", d, [at(i + 1) for i in range(width)], bits)

    return "array<bigint>", "BIGINT[]", vals, expr, [_py_morton(v, bits) for v in vals]


CASES = {
    "h60": _case_h60,
    "affine": _case_affine,
    "affine_member": _case_affine_member,
    "gram_hashes": _case_gram_hashes,
    "tokens": _case_text("tokens"),
    "non_ws_chars": _case_text("non_ws_chars"),
    "fingerprint": _case_text("fingerprint", st.none() | _strings(exclude=CASE_GAP)),
    "stopword_hits": _case_text("stopword_hits"),
    "langid": _case_langid,
    "range_bin": _case_range_bin,
    "rank_bin": _case_rank_bin,
    "morton": _case_morton,
}


def _eval_both(spark, name, stype, dtype, vals, expr):
    sdf = spark.createDataFrame(list(enumerate(vals)), f"i int, `{name.replace('`', '``')}` {stype}")
    got = [
        r["v"]
        for r in sdf.select("i", F.expr(expr(quote_ident(name), "spark")).alias("v")).orderBy("i").collect()
    ]
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INTEGER, x {dtype})")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    want = [r[0] for r in con.execute(f"SELECT {expr('x', 'duckdb')} FROM t ORDER BY i").fetchall()]
    con.close()
    return [list(v) if isinstance(v, (list, tuple)) else v for v in got], want


@pytest.mark.parametrize("kernel", sorted(CASES))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_kernel_agrees_across_engines(spark, kernel, data):
    name = data.draw(NAMES)
    stype, dtype, vals, expr, ref = CASES[kernel](data)
    got, want = _eval_both(spark, name, stype, dtype, vals, expr)
    assert got == want, (vals, got, want)
    if ref is not None:
        assert want == ref, (vals, want, ref)


def test_every_kernel_is_covered():
    from columnar_analytics_engine_spark.functions import kernels

    # token_hashes runs inside every gram_hashes case
    assert set(kernels._KERNELS) - {"token_hashes"} == set(CASES)


@pytest.mark.xfail(strict=True, reason="lower() case mappings differ between the engines")
@pytest.mark.parametrize("text", ["İstanbul", "ΟΔΟΣ", "\U00010570"])
def test_fingerprint_lowercase_differs_between_engines(spark, text):
    vals = [text]
    got, want = _eval_both(spark, "x", "string", "VARCHAR", vals, lambda c, d: render("fingerprint", d, c))
    assert got == want


NULL_CASES = {
    "h60": lambda c, d: render("h60", d, "px:", c),
    "affine": lambda c, d: render("affine", d, c, 2),
    "affine_member": lambda c, d: render("affine_member", d, c, 1),
}


@pytest.mark.parametrize("kernel", sorted(NULL_CASES))
def test_md5_hex_kernels_on_null(spark, kernel):
    """Spark yields NULL; DuckDB's CONCAT reads the NULL digest as '' and
    the hex cast raises, so a NULL can never hash silently in an oracle."""
    expr = NULL_CASES[kernel]
    got = spark.createDataFrame([(None,)], "x string").select(F.expr(expr("x", "spark")).alias("v"))
    assert got.first()["v"] in (None, [None, None])
    with pytest.raises(duckdb.ConversionException):
        duckdb.connect().execute(f"SELECT {expr('NULL::VARCHAR', 'duckdb')}").fetchall()


def test_wrappers_quote_column_names(spark):
    """Column names are interpolated as quoted identifiers: names that
    need backticks give the same answers as plain ones."""
    from columnar_analytics_engine_spark.functions import text as X
    from columnar_analytics_engine_spark.layout import (
        with_linear_bucket,
        with_zorder_bucket,
        zorder_frame,
    )
    from columnar_analytics_engine_spark.operators.dedup import minhash_signatures

    rows = [(i, i * 7 % 11, f"the cat {i} de la") for i in range(16)]
    odd = spark.createDataFrame(rows, "`a b` long, `x-y` long, `my text` string")
    plain = spark.createDataFrame(rows, "a long, b long, t string")

    def buckets(df, c1, c2):
        return sorted(
            tuple(r)
            for r in with_linear_bucket(df, c1, 4).select(c1, "_bucket").collect()
            + with_zorder_bucket(df, [c1, c2], 4).select(c1, "_bucket").collect()
        )

    assert buckets(odd, "a b", "x-y") == buckets(plain, "a", "b")
    assert sorted(map(tuple, zorder_frame(odd, ["a b", "x-y"], 2).collect())) == sorted(rows)

    def text_feats(df, c):
        return [
            tuple(r)
            for r in df.select(
                X.stopword_hits(c, "en"), X.predict_language(c), X.fingerprint(c), X.token_count(c)
            ).collect()
        ]

    assert text_feats(odd, "my text") == text_feats(plain, "t")
    sigs = [
        sorted(map(tuple, minhash_signatures(df, id_col=i, text_col=c).collect()))
        for df, i, c in ((odd, "a b", "my text"), (plain, "a", "t"))
    ]
    assert sigs[0] == sigs[1]
