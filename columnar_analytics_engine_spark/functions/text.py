"""Text-analysis primitives for large-scale training-data pipelines.

All functions are JVM-side SQL expressions — whole-stage-codegen'd, no
Python UDFs — so they run at full scan speed on 100 TB of documents.
Tokenization is the shared contract: whitespace split of the trimmed
text.  The tokenizer, fingerprint, stopword and language-ID kernels are
defined once in :mod:`functions.kernels` and take the text column's
NAME (quoted for you); the DuckDB oracles render the same kernels.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.kernels import (  # noqa: F401
    LANG_PRIORITY,
    STOPWORDS,
    quote_ident,
    render,
)


def _kernel(kernel: str, col: str, *args) -> Column:
    return F.expr(render(kernel, "spark", quote_ident(col), *args))


def tokens(col: str) -> Column:
    """Whitespace tokens of the trimmed text (the tokenizer contract)."""
    return _kernel("tokens", col)


def distinct_tokens(col: str) -> Column:
    return F.array_distinct(tokens(col))


def token_count(col: str) -> Column:
    return F.size(tokens(col)).cast("long")


def distinct_token_count(col: str) -> Column:
    return F.size(distinct_tokens(col)).cast("long")


# GPT-2-style pretokenizer pattern, restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): contractions,
# optionally space-prefixed letter runs / digit runs / symbol runs.
# ASCII classes only — both engines treat \s and the negated class the
# same on any UTF-8 input.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-style token count via the GPT-2-ish pretokenizer regex —
    the cheap LLM-token estimator a corpus budget runs at scan speed
    (real BPE merges only shorten runs, so this upper-bounds and tracks
    the true token count)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(F.trim(text)).cast("long")


def non_ws_char_count(col: str) -> Column:
    """Characters excluding all whitespace (numerator for avg token len)."""
    return _kernel("non_ws_chars", col).cast("long")


def stopword_hits(col: str, lang: str) -> Column:
    """Occurrences (not distinct) of ``lang`` stopwords among tokens."""
    return _kernel("stopword_hits", col, lang)


def punct_count(text: Column) -> Column:
    """Count of sentence-punctuation characters."""
    return F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("long")


def language_scores(col: str) -> dict[str, Column]:
    return {lang: stopword_hits(col, lang) for lang in LANG_PRIORITY}


def predict_language(col: str) -> Column:
    """Argmax of per-language stopword evidence with the fixed
    LANG_PRIORITY tie-break — a deterministic n-gram-style language-ID
    heuristic (lexicon-based).  The CASE chain repeats each score
    expression per comparison; whole-stage codegen's subexpression
    elimination evaluates each once."""
    q = quote_ident(col)
    scores = {
        lang: f"({render('stopword_hits', 'spark', q, lang)})" for lang in LANG_PRIORITY
    }
    return F.expr(render("langid", "spark", scores))


def fingerprint(col: str) -> Column:
    """Canonical document fingerprint: md5 of the lowercased,
    whitespace-collapsed text.  Identical duplicates (modulo case and
    spacing) collide; stable across engines for oracle checks."""
    return _kernel("fingerprint", col)
