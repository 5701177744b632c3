"""One definition per kernel, lowered to Spark SQL or DuckDB SQL.

Every hashing, text and layout kernel the engine shares with its DuckDB
oracle is written ONCE below, as a template over a handful of
primitives, and :func:`render` lowers it to either dialect::

    F.expr(render("h60", "spark", "px:", "token"))    # Spark Column
    render("h60", "duckdb", "px:", "token")           # oracle SQL text

Template arguments are SQL expression TEXT in the target dialect (a
column name such as ``token`` is an expression; quote arbitrary names
with :func:`quote_ident` on the Spark side).  The two renderings agree
bit-for-bit; ``tests/test_kernels.py`` checks every kernel in both
engines against independent Python references.

The two dialect namespaces are the only code that knows where Spark SQL and
DuckDB differ:

* hex-to-int: ``conv(.., 16, 10)`` vs ``CAST(CONCAT('0x', ..))``, and
  string concatenation: DuckDB's ``CONCAT`` reads NULL as '' (so a NULL
  input to an md5-hex kernel raises in DuckDB where Spark yields NULL);
* string literals: Spark unescapes backslashes, DuckDB does not;
* ``transform``/``filter``/``array(..)`` vs
  ``list_transform``/``list_filter``/``[..]``, and struct construction
  and field access;
* ``sequence(1, n)`` DESCENDS when ``n < 1`` while DuckDB's ``range`` is
  empty, so Spark's window positions need an explicit empty branch;
* shifts: Spark's ``shiftright``/``shiftleft`` vs ``>>``/``<<``;
* ``regexp_replace`` replaces every match in Spark, only the first in
  DuckDB unless given ``'g'``;
* Java's ``\\s`` also matches U+000B, RE2's does not, so Spark spells
  the whitespace class out; DuckDB's ``trim`` strips all Unicode space
  separators, Spark's only U+0020, so Spark names the set.

To add a kernel: write ``_name(d, *args)`` using only ``d.<primitive>``
for anything dialect-specific, register it in ``_KERNELS``, give it a
Spark wrapper (``F.expr(render(name, "spark", ...))``) where Spark code
needs one, and add it to the kernel test.
"""

from __future__ import annotations

import random as _random
from types import SimpleNamespace
from typing import Mapping, Sequence

# -- constants that are part of the kernel definitions ------------------------

P31 = 2_147_483_647  # 2^31 − 1 (Mersenne prime)

# affine k-family constants: fixed pseudorandom ints (see _affine_member)
_rng = _random.Random(0xC0FFEE)
MINHASH_A = [_rng.randrange(1, P31) for _ in range(64)]
MINHASH_B = [_rng.randrange(1, P31) for _ in range(64)]
del _rng

# rolling-hash bases of the n-gram kernel (see _gram_hashes)
ROLL_B1 = 1_000_003
ROLL_B2 = 999_999_937

# Tiny deterministic stopword lists per language for the language-ID
# heuristic and stopword-ratio quality signal.  Intentionally small: the
# point is the operator shape (argmax over per-language evidence counts),
# not lexicon quality.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "es": ("el", "la", "de", "y", "los", "que", "un"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}

# Deterministic tie-break priority for the language argmax.
LANG_PRIORITY: tuple[str, ...] = ("en", "fr", "es", "de", "zh")


def quote_ident(name: str) -> str:
    """A Spark SQL identifier for column ``name``: backticks, with
    embedded backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def double_lit(x: float) -> str:
    """An exact DOUBLE literal in both dialects (17 significant digits
    round-trip; an exponent makes both parsers read DOUBLE, not
    DECIMAL)."""
    return f"{float(x):.17e}"


# -- the dialect gap ----------------------------------------------------------


def _spark_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# DuckDB's trim() strips every Unicode space separator (category Zs);
# Spark's strips U+0020 only unless given the set
_ZS = " \u00a0\u1680" + "".join(map(chr, range(0x2000, 0x200B))) + "\u202f\u205f\u3000"

_SPARK = SimpleNamespace(
    ws=r"[\t\n\f\r ]+",
    lit=_spark_lit,
    trim=lambda x: f"trim(BOTH {_spark_lit(_ZS)} FROM {x})",
    hex_int=lambda x: f"CAST(conv({x}, 16, 10) AS BIGINT)",
    concat=lambda a, b: f"CONCAT({a}, {b})",
    split=lambda s, p: f"split({s}, {p})",
    replace_all=lambda s, p, r: f"regexp_replace({s}, {p}, {r})",
    array=lambda items: f"array({', '.join(items)})",
    transform=lambda lst, v, body: f"transform({lst}, {v} -> {body})",
    filter=lambda lst, v, body: f"filter({lst}, {v} -> {body})",
    contains=lambda lst, x: f"array_contains({lst}, {x})",
    # array_size, not size: size(NULL) is -1 with ANSI mode off
    size=lambda lst: f"array_size({lst})",
    pair=lambda a, b: f"named_struct('a', {a}, 'b', {b})",
    field=lambda s, name: f"{s}.{name}",
    at=lambda lst, i: f"element_at({lst}, {i})",
    # the functions, not >>/<<: Spark's parser rejects a shift operator
    # after an expression that contains a lambda
    shr=lambda x, n: f"shiftright({x}, {n})",
    shl=lambda x, n: f"shiftleft({x}, {n})",
    starts=lambda lst, n: (
        f"CASE WHEN array_size({lst}) < {n} THEN CAST(array() AS array<int>) "
        f"ELSE sequence(1, array_size({lst}) - {n - 1}) END"
    ),
)

_DUCKDB = SimpleNamespace(
    ws=r"\s+",
    lit=lambda s: "'" + s.replace("'", "''") + "'",
    trim=lambda x: f"trim({x})",
    # CONCAT reads NULL as '', so a NULL digest raises a conversion error
    # here instead of yielding NULL; the form stays because the pipeline
    # oracle's text (and the answers stored under it) is pinned, and no
    # oracle hashes NULL
    hex_int=lambda x: f"CAST(CONCAT('0x', {x}) AS BIGINT)",
    # ||, not CONCAT: NULL in, NULL out, as in Spark
    concat=lambda a, b: f"{a} || {b}",
    split=lambda s, p: f"regexp_split_to_array({s}, {p})",
    replace_all=lambda s, p, r: f"regexp_replace({s}, {p}, {r}, 'g')",
    array=lambda items: f"[{', '.join(items)}]",
    transform=lambda lst, v, body: f"list_transform({lst}, {v} -> {body})",
    filter=lambda lst, v, body: f"list_filter({lst}, {v} -> {body})",
    contains=lambda lst, x: f"list_contains({lst}, {x})",
    size=lambda lst: f"len({lst})",
    pair=lambda a, b: f"{{'a': {a}, 'b': {b}}}",
    field=lambda s, name: f"struct_extract({s}, '{name}')",
    at=lambda lst, i: f"{lst}[{i}]",
    shr=lambda x, n: f"({x} >> {n})",
    shl=lambda x, n: f"({x} << {n})",
    starts=lambda lst, n: f"range(1, len({lst}) - {n - 2})",
)


# -- kernel templates ----------------------------------------------------------
#
# Hashing: md5 is identical everywhere, and 15 hex chars (60 bits) fit a
# signed int64, so a keyed md5 prefix is the cross-engine hash.  The
# ``prefix`` acts as the hash-family seed.


def _h60(d, prefix: str, x: str) -> str:
    """60-bit keyed hash of string ``x`` (seeded by ``prefix``)."""
    return d.hex_int(f"SUBSTR(md5({d.concat(d.lit(prefix), x)}), 1, 15)")


def _half(d, x: str, start: int) -> str:
    """One 60-bit half of md5(x), reduced mod p."""
    return f"{d.hex_int(f'SUBSTR(md5({x}), {start}, 15)')} % {P31}"


# MinHash needs k ≈ 32 independent hashes per term.  One md5, split into
# two independent 60-bit halves x1/x2, then k affine maps
#
#     h_i = ((a_i·x1) mod p + (b_i·x2) mod p + i) mod p,   p = 2^31 − 1
#
# (a two-point universal family).  All intermediates stay < 2^62, so the
# arithmetic is exact int64 in both engines.


def _affine_member(d, x: str, i: int) -> str:
    """Member ``i`` of the affine hash family of string ``x``."""
    x1, x2 = f"({_half(d, x, 1)})", f"({_half(d, x, 16)})"
    return (
        f"((({MINHASH_A[i]} * {x1}) % {P31}) + (({MINHASH_B[i]} * {x2}) % {P31})"
        f" + {i}) % {P31}"
    )


def _affine(d, x: str, k: int) -> str:
    """The first ``k`` family members as one array (one codegen unit, so
    the two digests are shared across members)."""
    return d.array([_affine_member(d, x, i) for i in range(k)])


# Shingle hashing: md5 each token ONCE into two 31-bit values, then
# combine n-token windows with two polynomial rolling hashes (bases
# ROLL_B1/ROLL_B2 over GF(p)) packed into one 62-bit int.  A gram
# collision needs BOTH polynomials to collide (~2^-62); intermediates
# stay < 2^63, exact int64 in both engines.


def _token_hashes(d, lst: str) -> str:
    """array<struct<a,b>>: the 31-bit hash pair of each token of ``lst``."""
    return d.transform(lst, "t", d.pair(_half(d, "t", 1), _half(d, "t", 16)))


def _gram_hashes(d, hl: str, n: int) -> str:
    """62-bit rolling hash of every n-token window of a token-hash array
    (empty when the array is shorter than ``n``)."""

    def roll(name: str, base: int) -> str:
        acc = d.field(d.at(hl, "_g"), name)
        for j in range(1, n):
            acc = f"(({acc}) * {base} + {d.field(d.at(hl, f'_g + {j}'), name)}) % {P31}"
        return acc

    gram = f"({roll('a', ROLL_B1)}) * 2147483648 + ({roll('b', ROLL_B2)})"
    return d.transform(d.starts(hl, n), "_g", gram)


# Text: whitespace split of the trimmed text is the tokenizer contract.


def _tokens(d, x: str) -> str:
    return d.split(d.trim(x), d.lit(d.ws))


def _non_ws_chars(d, x: str) -> str:
    """Character count of ``x`` excluding whitespace runs."""
    return f"length({d.replace_all(d.trim(x), d.lit(d.ws), d.lit(''))})"


def _fingerprint(d, x: str) -> str:
    """md5 of the lowercased, whitespace-collapsed text."""
    return f"md5({d.replace_all(f'lower({d.trim(x)})', d.lit(d.ws), d.lit(' '))})"


def _stopword_hits(d, x: str, lang: str) -> str:
    """Occurrences (not distinct) of ``lang`` stopwords among tokens."""
    words = d.array([d.lit(w) for w in STOPWORDS[lang]])
    hits = d.filter(_tokens(d, x), "tk", d.contains(words, "tk"))
    return f"CAST({d.size(hits)} AS BIGINT)"


def _langid(d, scores: Mapping[str, str]) -> str:
    """Argmax of per-language scores (``{lang: expr}``) with the fixed
    LANG_PRIORITY tie-break."""
    langs = list(LANG_PRIORITY)
    arms = [
        "WHEN "
        + " AND ".join(f"{scores[lang]} >= {scores[o]}" for o in langs[i + 1 :])
        + f" THEN {d.lit(lang)}"
        for i, lang in enumerate(langs[:-1])
    ]
    return "CASE " + " ".join(arms) + f" ELSE {d.lit(langs[-1])} END"


# Layout: every operation is a single IEEE-754 double op or integer
# shift/mask, so bucket ids are bit-identical across engines.


def _range_bin(d, c: str, mn: str, mx: str, levels: int) -> str:
    """Range-bin ``c`` into ``0..levels`` given exact [mn, mx] bounds:
    floor((c - mn) / (mx - mn) * levels), clamped."""
    return (
        f"LEAST({levels}, GREATEST(0, CAST(FLOOR((CAST({c} AS DOUBLE) - {mn})"
        f" / GREATEST({mx} - {mn}, 1e-300) * {double_lit(levels)}) AS BIGINT)))"
    )


def _rank_bin(d, c: str, cuts: Sequence[float]) -> str:
    """The number of ``cuts`` at or below ``c`` (0..len(cuts))."""
    arr = d.array([double_lit(x) for x in cuts])
    return f"CAST({d.size(d.filter(arr, '_cut', f'CAST({c} AS DOUBLE) >= _cut'))} AS BIGINT)"


def _morton(d, bins: Sequence[str], bits: int) -> str:
    """Interleave the low ``bits`` bits of each BIGINT bin (bin i owns
    output bit positions ``bit*len(bins) + i``) into one Morton value."""
    return "(" + " + ".join(
        d.shl(f"({d.shr(b, bit)} & 1)", bit * len(bins) + i)
        for bit in range(bits)
        for i, b in enumerate(bins)
    ) + ")"


_KERNELS = {
    "h60": _h60,
    "affine": _affine,
    "affine_member": _affine_member,
    "token_hashes": _token_hashes,
    "gram_hashes": _gram_hashes,
    "tokens": _tokens,
    "non_ws_chars": _non_ws_chars,
    "fingerprint": _fingerprint,
    "stopword_hits": _stopword_hits,
    "langid": _langid,
    "range_bin": _range_bin,
    "rank_bin": _rank_bin,
    "morton": _morton,
}
_DIALECTS = {"spark": _SPARK, "duckdb": _DUCKDB}


def render(kernel: str, dialect: str, *args) -> str:
    """SQL text of ``kernel`` applied to ``args`` in ``dialect``
    (``"spark"`` or ``"duckdb"``)."""
    return _KERNELS[kernel](_DIALECTS[dialect], *args)
