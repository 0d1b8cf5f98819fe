"""Vocabulary semantics pinned to the reference's test suite."""

from __future__ import annotations

from collections import Counter

from aroma_spark.operators.vocab import (
    build_vocab,
    encode_tokens,
    top_k_tokens,
    vocab_add,
    vocab_sub,
)
from tests.oracle_pandas import vocab_most_common, vocab_sort_by_count


def _vocab_df(spark, counts: Counter):
    rows = [(t, c) for t, c in counts.items()]
    df = spark.createDataFrame(rows, "token string, count long")
    from aroma_spark.operators.vocab import _reindex

    return _reindex(df, "count")


def _tokens_df(spark, tokens):
    return spark.createDataFrame([(t,) for t in tokens], "tok string")


def test_sort_by_count_tie_breaks_token_desc(spark):
    """Reference: equal counts sort token-DESC (tests/unit/utils/
    test_vocab.py:142-148: {b:1,a:1,c:1} -> (c,b,a))."""
    v = build_vocab(_tokens_df(spark, ["b", "a", "c"]), "tok").toPandas()
    order = v.sort_values("index").token.tolist()
    assert order == ["c", "b", "a"]
    assert order == vocab_sort_by_count(Counter({"b": 1, "a": 1, "c": 1}))


def test_sort_by_count_basic(spark):
    """Reference docstring: {b:3,a:1,c:2} -> (b,c,a)."""
    toks = ["b"] * 3 + ["a"] + ["c"] * 2
    v = build_vocab(_tokens_df(spark, toks), "tok").toPandas()
    assert v.sort_values("index").token.tolist() == ["b", "c", "a"]


def test_sort_by_token(spark):
    v = build_vocab(_tokens_df(spark, ["b", "a", "c"]), "tok", order="token").toPandas()
    assert v.sort_values("index").token.tolist() == ["a", "b", "c"]


def test_most_common_k(spark):
    toks = ["b"] * 3 + ["a"] + ["c"] * 2 + ["d"] * 2
    v = build_vocab(_tokens_df(spark, toks), "tok")
    got = top_k_tokens(v, 2).toPandas().token.tolist()
    assert got == vocab_most_common(Counter(toks), 2) == ["b", "d"]


def test_vocab_add(spark):
    a = _vocab_df(spark, Counter({"a": 1, "b": 3}))
    b = _vocab_df(spark, Counter({"b": 1, "c": 2}))
    out = {r.token: r["count"] for r in vocab_add(a, b).collect()}
    assert out == {"a": 1, "b": 4, "c": 2}


def test_vocab_sub_drops_nonpositive(spark):
    """Reference: Counter.__sub__ drops tokens with count <= 0
    (src/aroma/utils/vocab.py:236-287 docstring: {a:1,b:3,c:2} - {b:3,d:7}
    -> {a:1,c:2})."""
    a = _vocab_df(spark, Counter({"a": 1, "b": 3, "c": 2}))
    b = _vocab_df(spark, Counter({"b": 3, "d": 7}))
    out = {r.token: r["count"] for r in vocab_sub(a, b).collect()}
    assert out == {"a": 1, "c": 2}


def test_encode_with_missing_index(spark, tiny_transcripts):
    """Unseen tokens -> -1 (reference MISSING_ACTION_INDEX,
    src/aroma/datasets/breakfast.py:64)."""
    vocab = _vocab_df(spark, Counter({"user": 5}))
    out = encode_tokens(tiny_transcripts, vocab, "role").toPandas()
    assert (out[out.role == "user"].role_index == 0).all()
    assert (out[out.role != "user"].role_index == -1).all()


def test_encode_strict_raises_on_unseen(spark, tiny_transcripts):
    """Reference strict contract: KeyError on unseen tokens
    (src/aroma/utils/vocab.py:75-98, pinned by tests/unit/utils/
    test_vocab.py). on_unseen='error' reproduces it distributed."""
    import pytest

    vocab = _vocab_df(spark, Counter({"user": 5}))
    with pytest.raises(KeyError, match="not in vocabulary"):
        encode_tokens(tiny_transcripts, vocab, "role", on_unseen="error")
    # a covering vocab must NOT raise
    roles = [r[0] for r in tiny_transcripts.select("role").distinct().collect()]
    full = _vocab_df(spark, Counter({r: 1 for r in roles}))
    out = encode_tokens(tiny_transcripts, full, "role", on_unseen="error")
    assert out.where("role_index < 0").count() == 0
    with pytest.raises(ValueError, match="on_unseen"):
        encode_tokens(tiny_transcripts, vocab, "role", on_unseen="bogus")
