"""Text kernels that build per-row arrays of word windows: content
parity of ``word_shingles`` with a pure-Python reference, and a plan
guard that ``word_shingles``, ``ngram_stats``, ``chunk_documents`` and
``passage_dedup`` split each row's text once, outside every
higher-order-function lambda (splitting inside the lambda re-splits the
whole document per window: quadratic per row).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

#: Edge rows: empty text, NULL, n < k, n == k, double and edge spaces
#: (empty tokens), repeated shingles, non-ASCII and astral characters,
#: a tab (not a separator).
TEXTS = [
    "",
    None,
    "a",
    "a b",
    "a b c",
    "a b c d e",
    "a  b  c  d",
    " lead and trail ",
    "x y x y x y x y x",
    "the cat the cat the cat sat",
    "zhé 的 是 ü ñ 🎉 ü ñ 🎉 end",
    "tab\tinside one token here",
]


def _ref_shingles(text: str | None, k: int) -> list[str]:
    """Distinct k-shingles of the single-space split, first-occurrence
    order; [] for NULL text or fewer than k tokens."""
    if text is None:
        return []
    w = text.split(" ")
    out: list[str] = []
    for i in range(len(w) - k + 1):
        s = " ".join(w[i : i + k])
        if s not in out:
            out.append(s)
    return out


@pytest.mark.parametrize("k", [1, 2, 3, 4, 5])
def test_word_shingles_matches_pure_python(spark, k):
    from go_fish_spark.functions.text import word_shingles

    df = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id int, text string")
    got = {
        r.doc_id: r.s
        for r in df.select("doc_id", word_shingles("text", k).alias("s")).collect()
    }
    assert got == {i: _ref_shingles(t, k) for i, t in enumerate(TEXTS)}


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` substring of a plan string, found by
    paren matching (nested lambdas are reported on their own too)."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
            if depth == 0:
                break
        out.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return out


def _splits_text_in_lambda(df) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "lambdafunction(" in plan and "split(text#" in plan
    return any("split(text#" in body for body in _lambda_bodies(plan))


def test_text_kernels_split_once_outside_lambdas(spark):
    from go_fish_spark.functions.text import tokens, word_shingles
    from go_fish_spark.operators.chunking import chunk_documents
    from go_fish_spark.operators.dedup import passage_dedup
    from go_fish_spark.operators.ngrams import ngram_stats

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    # Control: the quadratic form (split inside the window lambda) is seen.
    w = tokens("text")
    quadratic = F.transform(
        F.sequence(F.lit(1), F.size(w)), lambda i: F.slice(w, i, 2)
    )
    assert _splits_text_in_lambda(df.select(quadratic.alias("s")))

    for k in (1, 3):
        assert not _splits_text_in_lambda(
            df.select(word_shingles("text", k).alias("s"))
        )
    assert not _splits_text_in_lambda(ngram_stats(df, "doc_id", "text", n=2))
    assert not _splits_text_in_lambda(chunk_documents(df, "doc_id", "text", 2, 1))
    assert not _splits_text_in_lambda(passage_dedup(df, "doc_id", "text", 2))
