"""Distributed BPE tokenizer training — the fixed-K-merges byte-pair
-encoding loop over a corpus word-frequency table, plus re-tokenization
with the learned merge table.

Reference analog: the HF tokenizer surface (neurondb--1.0.sql:5117-5157,
NeuronDB/src/onnx/neurondb_tokenizer.c) APPLIES a pretrained tokenizer;
the north-star pipeline brief needs the TRAINING side too — the
vocabulary count stage already exists (registry vocab_top_tokens), and
this module adds the merge loop on top of it.

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units" — the public BPE formulation):

1. word table: distinct word → corpus count, word split into character
   symbols. One corpus-scale explode + combiner groupBy; the table is
   Heaps-law-bounded (millions of rows at 100 TB, never corpus-sized).
2. K times: count adjacent symbol pairs weighted by word count (one
   groupBy over the WORD table, not the corpus), pick the argmax pair
   with a deterministic tie-break (max count, then lexicographic), and
   apply the merge to every word as a greedy left-to-right fold.
3. tokenization with the learned table = the same char-split + K folds
   as a pure Column expression over any text.

Determinism: every step is integer counts, string compares and argmax
with total-order tie-breaks — no floats, no RNG — so the merge table and
the re-tokenized counts sit under the driver's value-hash gate exactly
like kmeans_fixed_lloyd, and a chained-CTE DuckDB oracle replays the
whole loop (registry/text_pipeline.py builds it).

Scale: each merge round is one small shuffle (pair counts over the word
table), one 1-row argmax to the driver, and one pure-map fold — K rounds
total, independent of corpus size after the initial count. The word
table is localCheckpoint'd per round so round N's job does not replay
rounds 1..N-1's folds (the connected-components playbook). Word-final
markers are omitted: words here are the engine's alnum-run tokens, so
merges never cross a whitespace boundary by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_symbols(word: Column | str) -> Column:
    """Split a word into single-character symbols (expression-only; the
    oracle replays it as list_transform(range(...), substr))."""
    c = F.col(word) if isinstance(word, str) else word
    return F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.substr(c, i, F.lit(1)),
    )


def bpe_word_table(
    df: DataFrame, text_col: str, max_words: int | None = None
) -> DataFrame:
    """(word, cnt, symbols) — the frequency table the merge loop trains
    on. ``max_words`` caps it to the most frequent words (ties to word
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
    return words.withColumn("symbols", char_symbols("word"))


def merge_pair_expr(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbols into
    one — e.g. (a,a) turns [a,a,a,a] into [aa,aa], matching the classic
    BPE replacement scan. Pure fold: seed with the first symbol, then
    per symbol either extend the merged tail or append."""
    merged = F.lit(left + right)
    init = F.slice(symbols, 1, 1)
    rest = F.slice(
        symbols, 2, F.greatest(F.size(symbols) - 1, F.lit(0))
    )
    return F.aggregate(
        rest,
        init,
        lambda acc, s: F.when(
            (F.element_at(acc, -1) == F.lit(left)) & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, pair_count): adjacent-position pair counts weighted by word
    count. Overlapping positions both count ("aaa" counts (a,a) twice) —
    the classic Sennrich counting. Single-symbol words contribute none."""
    multi = words.where(F.size("symbols") >= 2)
    pairs = multi.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("symbols") - 1),
                lambda i: F.struct(
                    F.element_at("symbols", i).alias("l"),
                    F.element_at("symbols", i + 1).alias("r"),
                ),
            )
        ).alias("z"),
    )
    return pairs.groupBy(F.col("z.l").alias("l"), F.col("z.r").alias("r")).agg(
        F.sum("cnt").alias("pair_count")
    )


def bpe_train(
    words: DataFrame, num_merges: int
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Run ``num_merges`` merge rounds over a :func:`bpe_word_table`
    frame. Returns (merges, final_words): merges is the ordered list of
    (left, right, pair_count) — the tokenizer's merge table — and
    final_words is the word table with post-merge ``symbols`` (its
    exploded, cnt-weighted symbols ARE the re-tokenized corpus counts).

    Stops early if no adjacent pair remains (every word is one symbol).

    Each round: one word-table groupBy + a ONE-ROW argmax collect + a
    pure-map fold, materialized via localCheckpoint so the next round's
    pair count does not replay the fold chain (and so the K-deep
    expression never outgrows codegen).

    Job structure (optimization round 15, guide §1.2): the input word
    table is checkpointed BEFORE the loop, so the corpus-scale word
    count runs exactly ONCE — the previous shape re-derived it twice
    (once for round 1's argmax, once again inside round 1's fold
    checkpoint). Round checkpoints stay EAGER: the loop interleaves
    driver-side argmax collects, where lazy checkpoints were measured
    to race between consumer stages and spam dead-accumulator errors
    (see OPTIMIZATION_r15.md)."""
    if num_merges < 1:
        raise ValueError(
            f"neurondb: bpe num_merges must be >= 1, got {num_merges}"
        )
    merges: list[tuple[str, str, int]] = []
    cur = words.localCheckpoint()
    for _ in range(int(num_merges)):
        top = (
            _pair_counts(cur)
            .orderBy(
                F.col("pair_count").desc(),
                F.col("l").asc(),
                F.col("r").asc(),
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, pc = top[0]["l"], top[0]["r"], int(top[0]["pair_count"])
        merges.append((left, right, pc))
        cur = cur.withColumn(
            "symbols", merge_pair_expr(F.col("symbols"), left, right)
        ).localCheckpoint(eager=True)
    return merges, cur


# Largest merge table the pure-expression tokenizer compiles. The limit
# was set when each nested fold inlined its input ~3 times and the
# expression grew exponentially in K (plan analysis hung around K≈10,
# see PLANS.md); apply_merges now binds each fold's input once, so the
# expression is linear in K and the limit awaits a re-measurement.
MAX_EXPR_MERGES = 8


def apply_merges(symbols: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Apply a learned merge table (in training order) to a symbol
    array — the tokenizer's encode step as one Column expression.

    Each fold's input is bound once (``functions.text.let``):
    :func:`merge_pair_expr` reads its input three times, so inlining
    the previous fold would triple the expression per merge. Bound, the
    expression grows linearly in K. The folds still run per word
    OCCURRENCE; corpus-wide, ``bpe_local.bpe_tokenize_via_vocab`` folds
    each distinct word once (``bpe_local.word_symbols_udf`` is the
    bit-equal Arrow-batched fold)."""
    from neurondb_spark.functions.text import let

    def _fold(left: str, right: str):
        # one-argument closure: pyspark reads the lambda's arity
        return lambda s: merge_pair_expr(s, left, right)

    out = symbols
    for left, right, _ in merges:
        out = let(out, _fold(left, right))
    return out


def bpe_tokenize(
    text: Column | str, merges: list[tuple[str, str, int]]
) -> Column:
    """Tokenize text with a learned BPE table: alnum-run word split, each
    word char-split then merged, flattened to one subword-token array.
    Expression-only — usable in any pipeline stage, no UDF. Merge
    tables longer than :data:`MAX_EXPR_MERGES` are REFUSED: the limit
    dates from an expression that grew exponentially in K and hung
    plan analysis past it (the expression is linear in K now, see
    :func:`apply_merges`; the limit has not been re-measured). Larger K
    routes through
    ``bpe_local.bpe_tokenize_via_vocab`` (each DISTINCT word folds once
    in an Arrow UDF; ``engine.tokenize_with`` does this automatically)."""
    from neurondb_spark.functions.text import tokenize

    if len(merges) > MAX_EXPR_MERGES:
        raise ValueError(
            f"neurondb: bpe_tokenize compiles one nested fold per merge "
            f"and accepts at most K={MAX_EXPR_MERGES} "
            f"(got {len(merges)} merges). Use "
            "bpe_local.bpe_tokenize_via_vocab (or "
            "engine.tokenize_with, which routes there) for trained-size "
            "merge tables."
        )
    c = F.col(text) if isinstance(text, str) else text
    return F.flatten(
        F.transform(
            tokenize(c), lambda w: apply_merges(char_symbols(w), merges)
        )
    )


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
