"""BPE tokenizer training (operators/bpe.py) and the deterministic
epoch shuffle (operators/corpus.epoch_shuffle)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR, jobs_run  # noqa: E402

# Jobs of one bpe_train call on a parquet-scanned corpus: the word-table
# collect (plus, under AQE, its shuffle map stage). A merge round that
# goes back to the cluster goes over budget.
BPE_TRAIN_JOB_BUDGET = {"false": 1, "true": 2}


def test_bpe_train_hand_computed_merges(spark):
    """Pair counting (overlapping positions both count), deterministic
    argmax tie-break, and greedy left-to-right application, checked
    against a hand-computed two-round run."""
    from neurondb_spark.operators.bpe import bpe_train

    # corpus: 'aaab' x3, 'ab' x2  ->  round 1 pairs:
    #   (a,a): 2 per 'aaab' x3 = 6;  (a,b): 3 + 2 = 5  -> merge (a,a)
    # after: 'aaab' -> [aa, a, b]; 'ab' -> [a, b]
    # round 2 pairs: (aa,a): 3; (a,b): 3 + 2 = 5 -> merge (a,b)
    words = spark.createDataFrame(
        [("aaab", 3), ("ab", 2)], "word string, cnt long"
    )
    merges, final = bpe_train(words, 2)
    assert merges == [("a", "a", 6), ("a", "b", 5)]
    got = {r["word"]: r["symbols"] for r in final.collect()}
    assert got == {"aaab": ["aa", "ab"], "ab": ["ab"]}


def test_bpe_greedy_overlap_and_tiebreak(spark):
    """Overlapping runs merge greedily left-to-right ('aaaa' -> [aa,aa],
    'aaa' -> [aa,a]), and equal-count pairs break lexicographically."""
    from neurondb_spark.operators.bpe import bpe_train

    words = spark.createDataFrame(
        [("aaaa", 1), ("aaa", 1)], "word string, cnt long"
    )
    # pairs: (a,a) = 3 + 2 = 5 -> merge (a,a)
    merges, final = bpe_train(words, 1)
    assert merges == [("a", "a", 5)]
    got = {r["word"]: r["symbols"] for r in final.collect()}
    assert got == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"]}

    # tie-break: 'xy' and 'xz' both count 1 -> lexicographic picks (x,y)
    words2 = spark.createDataFrame(
        [("xy", 1), ("xz", 1)], "word string, cnt long"
    )
    merges2, _ = bpe_train(words2, 1)
    assert merges2 == [("x", "y", 1)]


def test_bpe_train_stops_when_exhausted(spark):
    """Asking for more merges than exist stops early once every word is
    a single symbol."""
    from neurondb_spark.operators.bpe import bpe_train

    words = spark.createDataFrame(
        [("ab", 1)], "word string, cnt long"
    )
    merges, final = bpe_train(words, 10)
    assert merges == [("a", "b", 1)]
    assert final.collect()[0]["symbols"] == ["ab"]
    with pytest.raises(ValueError, match="num_merges"):
        bpe_train(words, 0)


@pytest.mark.slow  # e2e duplicate of driver-gated coverage; extended lane (r16)
def test_bpe_tokenize_roundtrip_and_count_consistency(spark):
    """Round trip on real corpus text: (1) concatenating a word's
    subword tokens reproduces the word for every corpus word; (2)
    re-tokenizing the corpus with bpe_tokenize yields exactly the
    word-table path's bpe_token_counts."""
    from neurondb_spark.operators.bpe import (
        bpe_token_counts,
        bpe_tokenize,
        bpe_train,
        bpe_word_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    words = bpe_word_table(docs, "text")
    merges, final = bpe_train(words, 6)
    assert len(merges) == 6

    # (1) per-word round trip: join('', final symbols) == word
    bad = final.where(
        F.concat_ws("", F.col("symbols")) != F.col("word")
    ).count()
    assert bad == 0

    # (2) corpus re-tokenization == cnt-weighted word-table explode
    direct = (
        docs.select(F.explode(bpe_tokenize("text", merges)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    via_words = bpe_token_counts(final)
    a = {(r["token"], r["occurrences"]) for r in direct.collect()}
    b = {(r["token"], int(r["occurrences"])) for r in via_words.collect()}
    assert a == b


def test_bpe_word_table_cap_is_deterministic(spark):
    """max_words keeps the most frequent words with (cnt desc, word asc)
    ties — the frequency-truncated training vocabulary."""
    from neurondb_spark.operators.bpe import bpe_word_table

    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c")], "id long, text string"
    )
    capped = bpe_word_table(docs, "text", max_words=2)
    got = {(r["word"], int(r["cnt"])) for r in capped.collect()}
    assert got == {("a", 3), ("b", 3)}  # tie at 3 -> word order; c dropped


def test_epoch_shuffle_replayable_and_epoch_distinct(spark):
    """Per-shard positions are a permutation of 1..n, identical across
    re-runs, different across epochs, and stable under repartitioning."""
    from neurondb_spark.operators.corpus import epoch_shuffle

    df = spark.createDataFrame(
        [(f"s{i % 3}", i) for i in range(300)], "shard string, id long"
    )
    e0a = epoch_shuffle(df, "id", "shard", epoch=0).collect()
    e0b = epoch_shuffle(df.repartition(7), "id", "shard", epoch=0).collect()
    e1 = epoch_shuffle(df, "id", "shard", epoch=1).collect()

    key = lambda rows: sorted((r["shard"], r["id"], r["position"]) for r in rows)
    assert key(e0a) == key(e0b)  # replayable under any partitioning
    assert key(e0a) != key(e1)  # epochs permute differently

    by_shard: dict[str, list[int]] = {}
    for r in e0a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard


def test_bpe_train_empty_word_yields_no_empty_symbol(spark):
    """An empty word splits into no symbols, as in the tokenizer: it
    trains, contributes no pair and no '' token."""
    from neurondb_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        bpe_train_summary,
    )

    words = spark.createDataFrame(
        [("", 2), ("ab", 1)], "word string, cnt long"
    )
    merges, final = bpe_train(words, 3)
    assert merges == [("a", "b", 1)]
    got = {r["word"]: r["symbols"] for r in final.collect()}
    assert got == {"": [], "ab": ["ab"]}
    tokens = {r["token"] for r in bpe_token_counts(final).collect()}
    assert tokens == {"ab"}
    assert bpe_train_summary(words, 3) == (1, 1, 1)


@pytest.mark.prodconf
def test_bpe_train_job_budget(spark):
    """bpe_train runs its merge rounds on the driver: the jobs of a call
    do not grow with the number of merges."""
    from neurondb_spark.operators.bpe import bpe_train, bpe_word_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    for k in (1, 10):
        (merges, _), jobs = jobs_run(
            spark, lambda: bpe_train(bpe_word_table(docs, "text"), k)
        )
        assert len(merges) == k
        assert jobs <= BPE_TRAIN_JOB_BUDGET[aqe], (k, jobs)
