"""Gopher-style repetition statistics and the quality gate."""

from __future__ import annotations

import numpy as np

from sed_spark.ext.text import repetition_stats


def test_repetition_stats_known_values(spark):
    # "a b a b a": words=5, distinct=2, bigrams: "a b"x2, "b a"x2 ->
    # tie broken by gram ASC -> "a b", char_frac = 2*3/9
    rows = [(0, "a b a b a"), (1, "x y z"), (2, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    r0 = got[0]
    assert (r0["n_words"], r0["n_distinct_words"]) == (5, 2)
    np.testing.assert_allclose(r0["dup_word_frac"], 0.6)
    assert (r0["top_ngram"], r0["top_ngram_count"]) == ("a b", 2)
    np.testing.assert_allclose(r0["top_ngram_char_frac"], round(6 / 9, 6))
    r1 = got[1]
    assert (r1["n_words"], r1["n_distinct_words"]) == (3, 3)
    assert r1["dup_word_frac"] == 0.0
    assert r1["top_ngram_count"] == 1
    # single-word doc: no bigram, coalesced defaults
    r2 = got[2]
    assert (r2["top_ngram"], r2["top_ngram_count"], r2["top_ngram_char_frac"]) == (
        "", 0, 0.0,
    )


def test_repetition_matches_pure_python(spark):
    import collections

    rng = np.random.default_rng(3)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab, rng.integers(2, 12))))
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    for i, text in rows:
        ws = text.split(" ")
        grams = [" ".join(ws[k:k + 2]) for k in range(len(ws) - 1)]
        cnt = collections.Counter(grams)
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        r = got[i]
        assert r["n_words"] == len(ws)
        assert r["n_distinct_words"] == len(set(ws))
        assert (r["top_ngram"], r["top_ngram_count"]) == top
        np.testing.assert_allclose(
            r["top_ngram_char_frac"],
            round(top[1] * len(top[0]) / len(text), 6),
        )


def test_quality_gate_first_fail_attribution(spark):
    from pyspark.sql import functions as F

    from sed_spark.ext.text import gate_stats, quality_gate

    df = spark.createDataFrame(
        [(0, 10, 0.1), (1, 2, 0.1), (2, 2, 0.9), (3, 10, 0.9),
         (4, None, 0.1)],
        "doc_id int, n_words int, dup_frac double",
    )
    rules = [
        ("too_short", F.col("n_words") >= 5),
        ("too_repetitive", F.col("dup_frac") <= 0.5),
    ]
    out = {r["doc_id"]: r for r in quality_gate(df, rules).collect()}
    assert out[0]["keep"] == 1 and out[0]["reject_reason"] == ""
    assert out[1]["keep"] == 0 and out[1]["reject_reason"] == "too_short"
    # both rules fail -> FIRST rule in order wins the attribution
    assert out[2]["reject_reason"] == "too_short"
    assert out[3]["reject_reason"] == "too_repetitive"
    # NULL signal fails closed under that rule's name
    assert out[4]["keep"] == 0 and out[4]["reject_reason"] == "too_short"

    stats = {
        r["reject_reason"]: r["n_docs"]
        for r in gate_stats(quality_gate(df, rules)).collect()
    }
    assert stats == {"": 1, "too_short": 3, "too_repetitive": 1}

    kept = quality_gate(df, rules, mode="filter")
    assert kept.columns == df.columns
    assert [r["doc_id"] for r in kept.collect()] == [0]


def test_quality_gate_guards(spark):
    import pytest as pt
    from pyspark.sql import functions as F

    from sed_spark.ext.text import quality_gate

    df = spark.createDataFrame([(0,)], "doc_id int")
    with pt.raises(ValueError, match="non-empty"):
        quality_gate(df, [])
    with pt.raises(ValueError, match="duplicate rule names"):
        quality_gate(df, [("r", F.lit(True)), ("r", F.lit(False))])
    with pt.raises(ValueError, match="mode must be"):
        quality_gate(df, [("r", F.lit(True))], mode="x")
