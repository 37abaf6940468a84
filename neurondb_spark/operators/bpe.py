"""BPE tokenizer training over a corpus word-frequency table, and
tokenization with the learned merge table.

Reference analog: the HF tokenizer surface (neurondb--1.0.sql:5117-5157,
NeuronDB/src/onnx/neurondb_tokenizer.c) APPLIES a pretrained tokenizer;
the north-star pipeline brief needs the TRAINING side too — the
vocabulary count stage already exists (registry vocab_top_tokens), and
this module adds the merge loop on top of it.

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — the public BPE formulation, also how HF
tokenizers train):

1. word table: distinct word → corpus count. One corpus-scale explode
   + combiner groupBy; the table is Heaps-law-bounded (millions of rows
   at 100 TB, never corpus-sized), so it is collected to the driver.
2. K merge rounds on the driver, each word split into its characters:
   pick the adjacent symbol pair with the largest corpus-weighted count
   (ties to the lexicographically smallest (left, right)) and apply it
   to every word as a greedy left-to-right fold (:func:`_merge_word`).
   Pair counts are kept incrementally (see :func:`_train_table`), so a
   round costs the words that contain its pair, not the whole table.
3. tokenization: the same character split and K folds over each word
   of a text, in one Arrow-batched UDF (:func:`bpe_tokenize`).

Determinism: every step is integer counts, string compares and argmax
with total-order tie-breaks — no floats, no RNG — so the merge table and
the re-tokenized counts sit under the driver's value-hash gate exactly
like kmeans_fixed_lloyd, and a chained-CTE DuckDB oracle replays the
whole loop (registry/tokenizer_queries._bpe_ctes). Word-final markers
are omitted: words here are the engine's alnum-run tokens, so merges
never cross a whitespace boundary by construction.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bpe_word_table(
    df: DataFrame, text_col: str, max_words: int | None = None
) -> DataFrame:
    """(word, cnt) — the frequency table the merge loop trains on.
    ``max_words`` caps it to the most frequent words (ties to word
    order), the standard frequency-truncated training vocabulary; None
    trains on every distinct word. The corpus-scale work is exactly the
    vocab_top_tokens aggregate."""
    from neurondb_spark.functions.text import tokenize

    words = (
        df.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if max_words is not None:
        words = words.orderBy(
            F.col("cnt").desc(), F.col("word").asc()
        ).limit(int(max_words))
    return words


def _merge_word(symbols: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right merge of adjacent (left, right) symbols into
    one — e.g. (a,a) turns [a,a,a,a] into [aa,aa], the classic BPE
    replacement scan: seed with the first symbol, then per symbol either
    extend the merged tail or append. ``symbols`` is non-empty: callers
    fold only words that contain the pair."""
    acc = [symbols[0]]
    merged = left + right
    for s in symbols[1:]:
        if acc[-1] == left and s == right:
            acc[-1] = merged
        else:
            acc.append(s)
    return acc


def _train_table(
    words: DataFrame, num_merges: int
) -> tuple[list[tuple[str, str, int]], list[list]]:
    """The merge loop: returns (merges, driver-side table of [word, cnt,
    post-merge symbols]). Collects the word table once (one job), then
    runs the rounds driver-side with incrementally maintained pair
    statistics:

    - ``stats``: pair -> corpus-weighted adjacent count (overlapping
      positions both count: "aaa" counts (a,a) twice);
    - a lazy-invalidation heap keyed (-count, l, r), the argmax order
      (count desc, l asc, r asc); every count change pushes a fresh
      entry, and stale entries are dropped when popped against ``stats``;
    - an inverted index pair -> word ids, so each merge touches only the
      words that contain it (membership re-checked on use: entries go
      stale as words evolve).

    Driver work is O(sum over merges of words touched × word length),
    independent of corpus size and of Spark job latency."""
    if num_merges < 1:
        raise ValueError(
            f"neurondb: bpe num_merges must be >= 1, got {num_merges}"
        )
    table: list[list] = [
        [r["word"], int(r["cnt"]), list(r["word"])]
        for r in words.select("word", "cnt").collect()
    ]

    stats: dict[tuple[str, str], int] = defaultdict(int)
    index: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wid, (_w, cnt, syms) in enumerate(table):
        for p in zip(syms, syms[1:]):
            stats[p] += cnt
            index[p].add(wid)
    heap: list[tuple[int, str, str]] = [
        (-c, l, r) for (l, r), c in stats.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    for _ in range(int(num_merges)):
        top = None
        while heap:
            negc, l, r = heapq.heappop(heap)
            if stats.get((l, r)) == -negc:
                top = (l, r, -negc)
                break
        if top is None:
            break  # every word is one symbol
        left, right, pc = top
        merges.append((left, right, pc))
        merged = left + right
        delta: dict[tuple[str, str], int] = defaultdict(int)
        for wid in sorted(index.get((left, right), ())):
            _w, cnt, syms = table[wid]
            old_pairs = list(zip(syms, syms[1:]))
            if (left, right) not in old_pairs:
                continue  # stale index entry: the word evolved past it
            for p in old_pairs:
                delta[p] -= cnt
            new_syms = _merge_word(syms, left, right)
            for p in zip(new_syms, new_syms[1:]):
                delta[p] += cnt
                # only pairs touching the merged symbol can be new
                # adjacencies; wid is already indexed under the others
                if p[0] == merged or p[1] == merged:
                    index[p].add(wid)
            table[wid][2] = new_syms
        for p, d in delta.items():
            if d == 0:
                continue
            c = stats[p] + d
            if c <= 0:
                stats.pop(p, None)
                index.pop(p, None)
            else:
                stats[p] = c
                heapq.heappush(heap, (-c, *p))

    return merges, table


def bpe_train(
    words: DataFrame, num_merges: int
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Run up to ``num_merges`` merge rounds over a :func:`bpe_word_table`
    frame. Returns (merges, final_words): merges is the ordered list of
    (left, right, pair_count) — the tokenizer's merge table — and
    final_words is (word, cnt, symbols) with the post-merge symbols (its
    exploded, cnt-weighted symbols ARE the re-tokenized corpus counts,
    :func:`bpe_token_counts`). final_words is built from the driver-side
    table, vocabulary-sized.

    Stops early if no adjacent pair remains (every word is one symbol)."""
    merges, table = _train_table(words, num_merges)
    final = words.sparkSession.createDataFrame(
        table, "word string, cnt long, symbols array<string>"
    )
    return merges, final


def bpe_train_summary(
    words: DataFrame, num_merges: int
) -> tuple[int, int, int | None]:
    """Train exactly like :func:`bpe_train` but return only the scalar
    vocabulary summary ``(n_merges, n_tokens, total_occurrences)`` —
    n_tokens = distinct post-merge symbols, total_occurrences =
    Σ cnt·len(symbols), i.e. the two aggregates of
    ``bpe_token_counts(final_words)``, computed over the driver-side
    table instead of shipping it back to the cluster.
    ``total_occurrences`` is None on an empty table, mirroring SQL
    SUM-over-empty."""
    merges, table = _train_table(words, num_merges)
    tokens: set[str] = set()
    total = 0
    for _w, cnt, syms in table:
        tokens.update(syms)
        total += cnt * len(syms)
    return len(merges), len(tokens), (total if table else None)


def bpe_tokenize(
    text: Column | str, merges: list[tuple[str, str, int]]
) -> Column:
    """Tokenize text with a learned BPE table: alnum-run word split
    (``functions.text.tokenize``), each word char-split then merged in
    table order, flattened to one subword-token array. Null, empty and
    token-less text give ``[]``.

    One Arrow-batched pandas UDF: each distinct word of a batch is
    folded once (a dict memo; Zipf makes that a small share of the
    words), and a merge runs on a word only when its merged string
    occurs in the word — a merge keeps the symbols' concatenation equal
    to the word, so no other merge can apply. No join, no row id and no
    limit on the table size."""
    from neurondb_spark.functions.text import tokenize

    pairs = [(left, right, left + right) for left, right, _ in merges]

    def _fold(word: str) -> list[str]:
        syms = list(word)
        for left, right, merged in pairs:
            if merged in word:
                syms = _merge_word(syms, left, right)
        return syms

    @F.pandas_udf("array<string>")
    def _apply(docs: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}
        out = []
        for doc in docs:
            toks: list[str] = []
            for w in () if doc is None else doc:
                sub = memo.get(w)
                if sub is None:
                    sub = memo[w] = _fold(w)
                toks.extend(sub)
            out.append(toks)
        return pd.Series(out)

    c = F.col(text) if isinstance(text, str) else text
    return _apply(tokenize(c))


def bpe_token_counts(final_words: DataFrame) -> DataFrame:
    """Corpus subword-token counts after training: explode the final
    word table's symbols weighted by word count. Equivalent to
    re-tokenizing the corpus with the merge table, at word-table cost."""
    return (
        final_words.select(
            "cnt", F.explode("symbols").alias("token")
        )
        .groupBy("token")
        .agg(F.sum("cnt").alias("occurrences"))
    )
