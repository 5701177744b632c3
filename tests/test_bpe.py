"""BPE merge induction vs a pure-Python reference implementation.

The operator is iterative (argmax + merge per round) and not
SQL-expressible, so — like the exact NB classifier — its correctness
gate is a from-scratch reference replay on the same word counts."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F


def _reference_bpe(word_counts: dict[str, int], k: int) -> list[tuple]:
    vocab = [(list(w), n) for w, n in word_counts.items()]
    rules = []
    for r in range(1, k + 1):
        c: Counter = Counter()
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                c[(syms[i], syms[i + 1])] += n
        if not c:
            break
        (bl, br), bc = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((r, bl, br, bc))
        new_vocab = []
        for syms, n in vocab:
            out, carry = [], None
            for s in syms:
                if carry is None:
                    carry = s
                elif carry == bl and s == br:
                    out.append(carry + s)
                    carry = None
                else:
                    out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            new_vocab.append((out, n))
        vocab = new_vocab
    return rules


def test_bpe_merges_match_python_reference(spark, sf_small):
    from columnar_analytics_engine_spark.operators.bpe import learn_bpe_merges
    from columnar_analytics_engine_spark.functions import text as X
    from columnar_analytics_engine_spark.queries._util import t

    docs = t(spark, sf_small, "documents")
    words = (
        docs.select(F.explode(X.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    counts = {r["word"]: r["n"] for r in words.collect()}
    expected = _reference_bpe(counts, 12)
    got = learn_bpe_merges(words, n_merges=12)
    assert got == expected
    # rules must be strictly rank-ordered and counts non-increasing is
    # NOT guaranteed by BPE (a merge can create a more frequent pair),
    # but ranks are 1..k and every count is positive
    assert [g[0] for g in got] == list(range(1, len(got) + 1))
    assert all(g[3] > 0 for g in got)


def _reference_encode(word: str, rules: list[tuple]) -> list[str]:
    syms = list(word)
    for _, bl, br, *_ in rules:
        out, carry = [], None
        for s in syms:
            if carry is None:
                carry = s
            elif carry == bl and s == br:
                out.append(carry + s)
                carry = None
            else:
                out.append(carry)
                carry = s
        if carry is not None:
            out.append(carry)
        syms = out
    return syms


def test_bpe_encode_matches_python_reference_and_invariants(spark, sf_small):
    from columnar_analytics_engine_spark.functions import text as X
    from columnar_analytics_engine_spark.operators.bpe import (
        bpe_encode_words,
        learn_bpe_merges,
    )
    from columnar_analytics_engine_spark.queries._util import t

    docs = t(spark, sf_small, "documents")
    words = (
        docs.select(F.explode(X.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    rules = learn_bpe_merges(words, n_merges=12)
    got = {
        r["word"]: list(r["subwords"])
        for r in bpe_encode_words(words.select("word"), rules).collect()
    }
    for w, subs in got.items():
        assert "".join(subs) == w  # segmentation tiles the word exactly
        assert 1 <= len(subs) <= len(w)
        assert subs == _reference_encode(w, rules)


def test_training_bpe_encode_fertility_accounting(spark, sf_small):
    from columnar_analytics_engine_spark.functions import text as X
    from columnar_analytics_engine_spark.queries._util import t
    from columnar_analytics_engine_spark.queries.training import (
        training_bpe_encode,
    )

    rows = training_bpe_encode(spark, sf_small).collect()
    docs = t(spark, sf_small, "documents")
    n_tok = docs.select(
        F.sum(F.size(X.tokens("text"))).alias("n")
    ).collect()[0]["n"]
    assert sum(r["n_tokens"] for r in rows) == n_tok
    for r in rows:
        # fertility ∈ [1/max_word_len, 1]⁻¹-ish: at least one subword
        # per token, at most one per character
        assert r["n_tokens"] <= r["n_subwords"] <= r["n_chars"]
        assert abs(r["fertility"] - r["n_subwords"] / r["n_tokens"]) < 1e-12


def test_bpe_greedy_merge_is_left_to_right_non_overlapping(spark):
    from columnar_analytics_engine_spark.operators.bpe import learn_bpe_merges

    # 'aaaa'x5: round 1 merges (a,a) -> [aa, aa] greedily (3 overlapping
    # occurrences collapse to 2 non-overlapping), so round 2 sees (aa,aa)
    words = spark.createDataFrame([("aaaa", 5)], "word string, n long")
    rules = learn_bpe_merges(words, n_merges=2)
    assert rules == [(1, "a", "a", 15), (2, "aa", "aa", 5)]
