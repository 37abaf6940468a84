"""The driver-side BPE trainer (operators/bpe.py ``bpe_train``, with its
incremental pair statistics) against a naive pure-Python reference that
recounts every adjacent pair each round."""

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

pytestmark = pytest.mark.prodconf


def _greedy(symbols, left, right):
    """Scan left to right; merge each (left, right) occurrence and skip
    past it, so overlapping runs merge from the left ("aaa" → [aa, a])."""
    out, i = [], 0
    while i < len(symbols):
        if (i + 1 < len(symbols) and symbols[i] == left
                and symbols[i + 1] == right):
            out.append(left + right)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def naive_bpe(counts: dict[str, int], num_merges: int):
    """(merges, {word: (cnt, symbols)}): each round recounts every
    adjacent pair (weighted by word count, overlapping positions both
    count), takes the argmax by count desc, l asc, r asc, and folds it
    into every word."""
    syms = {w: list(w) for w in counts}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for w, s in syms.items():
            for p in zip(s, s[1:]):
                pairs[p] += counts[w]
        if not pairs:
            break
        (left, right), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((left, right, c))
        syms = {w: _greedy(s, left, right) for w, s in syms.items()}
    return merges, {w: (counts[w], tuple(s)) for w, s in syms.items()}


def _word_map(df):
    return {r["word"]: (r["cnt"], tuple(r["symbols"])) for r in df.collect()}


def _words(spark, counts):
    return spark.createDataFrame(
        sorted(counts.items()), "word string, cnt long"
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """The documents' word counts, tokenized in Python, and the same
    table through bpe_word_table (checkpointed once for the K sweep)."""
    from neurondb_spark.operators.bpe import bpe_word_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = Counter(
        tok for (text,) in docs.select("text").collect() if text
        for tok in re.findall("[a-z0-9]+", text.lower())
    )
    words = bpe_word_table(docs, "text").localCheckpoint(eager=True)
    assert {r["word"]: r["cnt"] for r in words.collect()} == counts
    return dict(counts), words


def test_hybrid_equals_naive_reference(spark, corpus):
    """Same merges (order, pairs, counts) and same final word symbols as
    the naive reference for K = 1…12 over the documents corpus."""
    from neurondb_spark.operators.bpe import bpe_train

    counts, words = corpus
    for k in range(1, 13):
        merges, final = bpe_train(words, k)
        want_merges, want_words = naive_bpe(counts, k)
        assert merges == want_merges, k
        assert _word_map(final) == want_words, k


def test_hybrid_token_counts_compose(spark, corpus):
    """bpe_token_counts over bpe_train's final_words equals the naive
    reference's count-weighted symbols — the tokenize-counts gate row's
    shape."""
    from neurondb_spark.operators.bpe import bpe_token_counts, bpe_train

    counts, words = corpus
    _, final = bpe_train(words, 5)
    want = Counter()
    for cnt, syms in naive_bpe(counts, 5)[1].values():
        for s in syms:
            want[s] += cnt
    got = {r["token"]: r["occurrences"]
           for r in bpe_token_counts(final).collect()}
    assert got == want


def test_hybrid_early_stop_and_contracts(spark):
    """Merging past exhaustion stops early (every word one symbol), and
    num_merges < 1 raises."""
    from neurondb_spark.operators.bpe import bpe_train, bpe_train_summary

    words = _words(spark, {"ab": 3, "b": 5})
    merges, final = bpe_train(words, 50)
    assert merges == naive_bpe({"ab": 3, "b": 5}, 50)[0] == [("a", "b", 3)]
    assert _word_map(final) == {"ab": (3, ("ab",)), "b": (5, ("b",))}
    for bad in (0, -1):
        with pytest.raises(ValueError, match="num_merges"):
            bpe_train(words, bad)
        with pytest.raises(ValueError, match="num_merges"):
            bpe_train_summary(words, bad)


def test_hybrid_summary_equals_dataframe_aggregate(spark, corpus):
    """bpe_train_summary (the vocabulary summary computed over the
    driver-side table) returns exactly the values of the count()/sum()
    aggregate over bpe_token_counts(final_words) — the
    bpe_hybrid_train_k2000 row's contract."""
    from pyspark.sql import functions as F

    from neurondb_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        bpe_train_summary,
    )

    _, words = corpus
    tricky = _words(spark, {"aaaa": 2, "aab": 4})
    for table, k in ((words, 7), (tricky, 3)):
        merges, final = bpe_train(table, k)
        old = bpe_token_counts(final).agg(
            F.count(F.lit(1)).alias("n"), F.sum("occurrences").alias("t")
        ).collect()[0]
        assert bpe_train_summary(table, k) == (len(merges), old["n"], old["t"])


def test_hybrid_overlapping_and_stale_index(spark):
    """The incremental statistics survive the tricky cases: overlapping
    pair counting ("aaaa"), repeated merges of self-pairs, and words
    whose indexed pair disappeared before the merge reached it."""
    from neurondb_spark.operators.bpe import bpe_train

    counts = {"aaaa": 2, "aab": 4, "baaa": 1, "abab": 3}
    words = _words(spark, counts)
    for k in (1, 2, 3, 6, 12):
        merges, final = bpe_train(words, k)
        want_merges, want_words = naive_bpe(counts, k)
        assert merges == want_merges, k
        assert _word_map(final) == want_words, k
