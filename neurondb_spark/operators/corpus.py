"""Corpus-level training-data operators: deterministic sampling / data
mixing and statistical (n-gram LM) quality scoring.

These extend the reference surface the way the dedup family does (the
BASELINE north star treats large-scale pipeline ops as first-class; the
reference's closest machinery is its sampling-capped trainers,
NeuronDB/src/ml/neurondb_ml.c, and the text-quality helpers around
src/ml/nlp.c). Everything here is pure Column expressions + one or two
relational aggregations — no Python in the hot path, no RNG state:

- **hash sampling**: selection = md5-derived uniform in [0,1) per row id.
  Reproducible under any partitioning/retry (a `rand()` sample is not),
  and a SQL oracle replays it bit-for-bit. This is how a 100 TB pipeline
  samples: the decision is a pure function of the row, so re-runs,
  backfills and per-shard workers all agree without coordination.
- **stratified mixing**: given target corpus shares per stratum (the
  "data mixture" of an LLM training run), compute per-stratum keep-rates
  from one tiny count aggregate and apply the hash filter — one shuffle
  (the counts), then a broadcast-joined pure map over the corpus.
- **trigram LM scoring**: a character-trigram language model fit on the
  corpus itself (counts → add-0.5-smoothed conditional probabilities)
  scores each document by its mean in-model trigram probability — the
  classic perplexity-style quality filter, kept transcendental-free
  (probabilities are ratios of integers; the mean is decimal-exact) so
  it sits under the value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neurondb_spark.functions.aggregates import davg, dsum
from neurondb_spark.operators.dedup import _md5_long

# Smoothing vocabulary: 26 letters + space over the [a-z ] normalization.
LM_VOCAB = 27
_HASH_DENOM = float(2**60)  # _md5_long yields 60-bit non-negative ints


def hash_uniform(id_col: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform in [0,1): md5 of (id, seed) → 60-bit int /
    2^60. Pure function of the row — reproducible across retries,
    partitionings and engines (the oracle computes the same md5)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return _md5_long(F.concat(c.cast("string"), F.lit(f"#{seed}"))) / F.lit(
        _HASH_DENOM
    )


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample keyed by row id."""
    return df.where(hash_uniform(id_col, seed) < F.lit(float(fraction)))


def stratified_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    targets: dict[str, float],
    total: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic data-mixture sample: keep-rate per stratum s is
    min(1, targets[s]·total / count_s), applied via the hash filter.

    Strata absent from ``targets`` get rate 0 (dropped) — an explicit
    mixture spec, not a passthrough. Expected sampled sizes follow the
    target shares except where a stratum is exhausted (rate capped at 1,
    the standard up-capped mixture semantics).

    Scale: one count aggregate over the corpus (combiner-heavy, tiny
    result), broadcast-joined back; selection itself is a pure map —
    no per-row shuffle, no RNG, resumable."""
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        schema=f"{strata_col} string, _share double",
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    rates = counts.join(tgt, strata_col, "inner").select(
        strata_col,
        F.least(
            F.lit(1.0),
            (F.col("_share") * F.lit(float(total))) / F.col("_n").cast("double"),
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col, "inner")
        .where(hash_uniform(id_col, seed) < F.col("_rate"))
        .drop("_rate")
    )


def token_budget_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    text_col: str,
    targets: dict[str, float],
    token_budget: int,
    seed: int = 0,
) -> DataFrame:
    """Data mixing by TOKEN budget rather than document count — the form
    an LLM training run actually specifies ("x billion tokens of web, y
    of code"): keep-rate per stratum s is
    min(1, targets[s]·token_budget / tokens_s), selection by the same
    hash filter as :func:`stratified_mix`. Sampling is per-document, so
    expected sampled token mass per stratum meets the target (documents
    are exchangeable within a stratum under a hash-uniform filter).

    Scale: one token-count aggregate (map-side combined sums of a pure
    expression) broadcast back; selection is a pure map."""
    from neurondb_spark.functions.text import token_count

    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        schema=f"{strata_col} string, _share double",
    )
    toks = df.groupBy(strata_col).agg(
        F.sum(token_count(text_col).cast("long")).alias("_tok")
    )
    rates = toks.join(tgt, strata_col, "inner").select(
        strata_col,
        F.least(
            F.lit(1.0),
            (F.col("_share") * F.lit(float(token_budget)))
            / F.col("_tok").cast("double"),
        ).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col, "inner")
        .where(hash_uniform(id_col, seed) < F.col("_rate"))
        .drop("_rate")
    )


def neardup_resolve(
    df: DataFrame, id_col: str, pairs: DataFrame,
    rank_col: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate RESOLUTION: candidate pairs (from any of
    the dedup family's pair operators) → connected components → keep the
    lowest id of each duplicate cluster, drop the rest. This is the
    decision table a dedup pipeline actually applies — pair detection
    alone leaves "which copy survives" unanswered (and pairs are not
    transitive: A~B, B~C must collapse to ONE survivor even if A~C was
    never emitted).

    Returns (id, cluster_rep, keep) for EVERY input row: singletons are
    their own rep and kept.

    ``rank_col`` selects the SURVIVOR POLICY: None keeps each cluster's
    lowest id (cheap, arbitrary); a column name keeps the cluster row
    with the HIGHEST rank value (ties to the lower id) — the policy a
    curation pipeline actually wants ("keep the longest / best-quality
    copy"), one extra window over cluster-cardinality rows. cluster_rep
    stays the min-id label either way (it is a cluster NAME, not the
    survivor).

    Scale: components of a near-dup graph are small and numerous, and
    :func:`~neurondb_spark.operators.graph.connected_components` finds
    them with one union-find pass per partition of the pair graph
    (hash-partitioned by node). A component that crosses partitions adds
    min-propagation rounds, O(its diameter), each one shuffle keyed by
    node; under AQE the coalesced read of a curation-sized pair graph
    leaves one partition and no rounds. The labels then meet the rows in
    one left join (plus one window for ``rank_col``)."""
    from neurondb_spark.operators.graph import connected_components

    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "node", id_col
    )
    cols = [id_col] if rank_col is None else [id_col, rank_col]
    labeled = (
        df.select(*cols)
        .join(comp, id_col, "left")
        .withColumn("cluster_rep", F.coalesce("comp", F.col(id_col)))
    )
    if rank_col is None:
        return labeled.select(
            id_col, "cluster_rep",
            (F.col("cluster_rep") == F.col(id_col)).alias("keep"),
        )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_rep").orderBy(
        F.col(rank_col).desc(), F.col(id_col).asc()
    )
    return labeled.select(
        id_col, "cluster_rep",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bench_df: DataFrame,
    bench_text_col: str,
    ngram_n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    ``ngram_n``-gram with a benchmark/eval set (the standard
    eval-contamination filter for LLM training corpora — long n-gram
    collision ≈ verbatim inclusion).

    Returns (id, n_contaminated_ngrams, contaminated) for EVERY corpus
    row — n_contaminated_ngrams = distinct benchmark n-grams the doc
    contains.

    Scale: the benchmark shingle set is small by definition (eval sets
    are thousands of docs, not billions) → broadcast; the corpus side is
    one explode + semi-style join + groupBy(id) — no corpus self-join
    anywhere. Shingles reuse the dedup family's word-n-gram machinery.
    """
    from neurondb_spark.operators.dedup import shingles

    doc_sh = df.select(
        F.col(id_col), F.explode(shingles(text_col, ngram_n)).alias("_sh")
    ).distinct()
    bench_sh = (
        bench_df.select(F.explode(shingles(bench_text_col, ngram_n)).alias("_sh"))
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "_sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
                "n_contaminated_ngrams"
            ),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


# PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB)
# treat identically: explicit classes, no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-category PII match counts (pure regexp expressions)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column | str, token: str = "[PII]") -> Column:
    """Replace every PII match with ``token`` (chained regexp_replace —
    category order is fixed dict order, identical in the SQL replay)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, token)
    return c


def _norm_text(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(c), "[^a-z ]", "")


def char_trigrams(text: Column | str) -> Column:
    """All character trigrams of the [a-z ]-normalized text (positions
    beyond length-2 clamp to shorter strings for texts under 3 chars —
    identical clamping in SQL engines)."""
    norm = _norm_text(text)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - 2, F.lit(1)))
    return F.transform(idx, lambda i: F.substr(norm, i, F.lit(3)))


def trigram_lm_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Fit a char-trigram LM on the corpus and score every document.

    Model: P(tri) = (count(tri) + 0.5) / (count(prefix2) + 0.5·V) with
    V=27 — add-half smoothing over the [a-z ] alphabet. Score =
    decimal-exact mean of P over the document's trigram instances
    (higher = more statistically typical text; the transcendental-free
    stand-in for perplexity, exactly replayable cross-engine because
    every P is one IEEE division of integer-derived doubles).

    Scale: two count aggregations (trigram, prefix — both map-side
    combined; model size is bounded by 27³ ≈ 20k rows) broadcast back
    onto the exploded corpus, then one groupBy(id). The explode is
    n_chars rows — the same order of work as tokenization."""
    tris = df.select(
        F.col(id_col), F.explode(char_trigrams(text_col)).alias("tri")
    ).localCheckpoint(eager=False)  # (r15) two consumers — the model-fit
    # aggregate (inside the broadcast subtree, which executes first) and
    # the scoring join probe — one explode+regexp pass instead of two
    tri_counts = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("_tc"))
    ctx_counts = (
        tri_counts.groupBy(F.substring("tri", 1, 2).alias("_ctx"))
        .agg(F.sum("_tc").alias("_cc"))
    )
    model = tri_counts.join(
        ctx_counts, F.substring(tri_counts["tri"], 1, 2) == F.col("_ctx")
    ).select(
        "tri",
        (
            (F.col("_tc").cast("double") + F.lit(0.5))
            / (F.col("_cc").cast("double") + F.lit(0.5 * LM_VOCAB))
        ).alias("_p"),
    )
    return (
        tris.join(F.broadcast(model), "tri")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            davg("_p").alias("mean_tri_prob"),
        )
    )


def pack_sequences(
    df: DataFrame,
    token_count_col: Column | str,
    shard_col: str,
    id_col: str,
    seq_len: int,
) -> DataFrame:
    """Concat-and-slice sequence packing — the step that turns a cleaned
    document corpus into fixed-length training examples: within each
    shard, documents are laid end to end in ``id_col`` order and the
    token stream is cut into ``seq_len``-token bins (the GPT-style
    packing used by LLM pretraining pipelines; a document may span
    several bins, a bin holds slices of several documents). Returns one
    row per (document, bin) slice:

    ``shard, bin_id, id, doc_offset, bin_offset, take_tokens``

    i.e. tokens ``[doc_offset, doc_offset+take_tokens)`` of the document
    land in bin ``bin_id`` at position ``bin_offset``. Zero-token
    documents are dropped (they occupy no stream positions). Caller
    contract: ids must be unique within a shard (duplicates have no
    well-defined stream position).

    Everything is integer arithmetic on a per-shard running sum — the
    layout is a pure function of (shard, id order, token counts), so
    re-runs, backfills and the SQL oracle agree bit-for-bit.

    Scale: packing is PER-SHARD by design — a single global document
    order would be a full sort of the corpus, and no trainer needs one
    (shards map to data-parallel workers). The only shuffle is the
    per-shard window; the explode emits ≤ 1 extra row per bin boundary
    (≈ total_tokens / seq_len rows corpus-wide)."""
    if seq_len < 1:
        raise ValueError("neurondb: pack_sequences seq_len must be >= 1")
    from pyspark.sql import Window as W

    tc = (
        F.col(token_count_col) if isinstance(token_count_col, str)
        else token_count_col
    ).cast("long")
    # ROWS frame, not the default RANGE: RANGE gives ORDER-BY peers the
    # SAME running sum, so duplicate ids would produce overlapping
    # slices. Caller contract: ids must be unique within a shard (as
    # with the streaming twin, where a duplicate's placement would
    # depend on arrival order).
    w = (
        W.partitionBy("shard").orderBy("id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    spans = (
        df.select(
            F.col(shard_col).alias("shard"),
            F.col(id_col).alias("id"),
            tc.alias("_n"),
        )
        .where(F.col("_n") > 0)
        .select(
            "shard", "id", "_n", F.sum("_n").over(w).alias("_end"),
        )
        .withColumn("_start", F.col("_end") - F.col("_n"))
    )
    return _slice_spans(spans, seq_len)


def _slice_spans(spans: DataFrame, seq_len: int) -> DataFrame:
    """Shared tail of the packing operators: (shard, id, _start, _end)
    running-sum spans → exploded (document, bin) slice rows."""
    L = F.lit(int(seq_len))
    exploded = spans.select(
        "shard", "id", "_start", "_end",
        F.explode(
            F.sequence(
                F.floor(F.col("_start") / L),
                F.floor((F.col("_end") - 1) / L),
            )
        ).alias("bin_id"),
    )
    lo = F.greatest(F.col("_start"), F.col("bin_id") * L)
    hi = F.least(F.col("_end"), (F.col("bin_id") + 1) * L)
    return exploded.select(
        "shard",
        F.col("bin_id").cast("long").alias("bin_id"),
        "id",
        (lo - F.col("_start")).cast("long").alias("doc_offset"),
        (lo - F.col("bin_id") * L).cast("long").alias("bin_offset"),
        (hi - lo).cast("long").alias("take_tokens"),
    )


def pack_sequences_balanced(
    df: DataFrame,
    token_count_col: Column | str,
    shard_col: str,
    id_col: str,
    seq_len: int,
    num_splits: int = 64,
) -> DataFrame:
    """Skew-hardened :func:`pack_sequences` — bit-identical output,
    computed as a distributed prefix sum so one pathological shard never
    serializes into a single window task (r11 verdict #3: per-shard
    packing is the right semantics, but with USER-supplied skewed shards
    the per-shard window is one task).

    Two-level offset stitching:

    1. range-repartition (shard, id) into ``num_splits`` sampled-balanced
       splits and materialize once (the split id must be identical in
       both passes, and range sampling is not replay-stable) — the
       materialized projection is the narrow (shard, id, n) triple, not
       the corpus;
    2. per-(split, shard) token totals → driver (bounded: ≤ #shards +
       num_splits groups, the same contract as the #strata tables),
       prefix-summed in split order into each group's base offset;
    3. per-(split, shard) running-sum window + broadcast base offset —
       every window task is ~1/num_splits of a shard, whatever the shard
       distribution.

    The layout is a pure function of (shard, id order, token counts), so
    this equals pack_sequences row-for-row; use it when shard sizes are
    user-controlled, the plain window when shards are hash-balanced."""
    if seq_len < 1:
        raise ValueError("neurondb: pack_sequences seq_len must be >= 1")
    if num_splits < 1:
        raise ValueError("neurondb: pack num_splits must be >= 1")
    from pyspark.sql import Window as W

    tc = (
        F.col(token_count_col) if isinstance(token_count_col, str)
        else token_count_col
    ).cast("long")
    base = (
        df.select(
            F.col(shard_col).alias("shard"),
            F.col(id_col).alias("id"),
            tc.alias("_n"),
        )
        .where(F.col("_n") > 0)
        .repartitionByRange(int(num_splits), "shard", "id")
        .sortWithinPartitions("shard", "id")
        .withColumn("_split", F.spark_partition_id())
        .localCheckpoint(eager=False)  # lazy (r15): the totals collect
        # right below materializes it; the window pass reuses the pinned
        # partition ids from the same single materialization
    )
    totals = (
        base.groupBy("_split", "shard")
        .agg(F.sum("_n").alias("_tot"))
        .collect()
    )
    # split ids ascend with the range order, so a shard's base offset is
    # the sum of its totals over all smaller splits
    acc: dict[str, int] = {}
    offsets = []
    for r in sorted(totals, key=lambda r: (r["shard"], r["_split"])):
        offsets.append((r["shard"], r["_split"], acc.get(r["shard"], 0)))
        acc[r["shard"]] = acc.get(r["shard"], 0) + int(r["_tot"])
    odf = df.sparkSession.createDataFrame(
        offsets,
        T.StructType([
            T.StructField("shard", base.schema["shard"].dataType),
            T.StructField("_split", T.IntegerType()),
            T.StructField("_base", T.LongType()),
        ]),
    )
    w = (
        W.partitionBy("_split", "shard").orderBy("id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    spans = (
        base.join(F.broadcast(odf), ["shard", "_split"], "inner")
        .select(
            "shard", "id", "_n",
            (F.sum("_n").over(w) + F.col("_base")).alias("_end"),
        )
        .withColumn("_start", F.col("_end") - F.col("_n"))
    )
    return _slice_spans(spans, seq_len)


def packing_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-shard packing summary over :func:`pack_sequences` output:
    bins, documents, document slices, total tokens and fill ratio
    (tokens / bins·seq_len — only the final bin of a shard can be
    partial, so fill approaches 1 as shards grow). One aggregate."""
    return (
        packed.groupBy("shard")
        .agg(
            (F.max("bin_id") + 1).cast("long").alias("n_bins"),
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_slices"),
            F.sum("take_tokens").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "fill_ratio",
            F.col("total_tokens").cast("double")
            / (F.col("n_bins") * F.lit(int(seq_len))).cast("double"),
        )
    )


def split_corpus(
    df: DataFrame, id_col: str, weights: dict[str, float], seed: int = 0,
) -> DataFrame:
    """Deterministic train/val/test splitting: each row gets the split
    label whose cumulative-weight interval contains its
    :func:`hash_uniform` draw. Pure function of (id, seed) — rows keep
    their split across re-runs, backfills, partitionings and engines
    (``randomSplit`` keeps none of that: it is partition-order
    dependent), and disjointness/coverage hold by construction. Weights
    must sum to 1 (±1e-9); labels are assigned in sorted(label) order so
    the interval layout is itself deterministic.

    Scale: a pure map — no shuffle, no state, nothing on the driver."""
    if not weights:
        raise ValueError("neurondb: split weights must be non-empty")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"neurondb: split weights must sum to 1, got {total}"
        )
    u = hash_uniform(id_col, seed)
    expr = None
    acc = 0.0
    labels = sorted(weights)
    for name in labels[:-1]:
        acc += float(weights[name])
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    shard_col: str,
    epoch: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic epoch shuffle — the loader-side order that completes
    the packing story: within each shard, rows are ordered by
    md5(id, epoch, seed) (ties by id), giving every epoch a different
    but REPLAYABLE permutation. A re-run, a backfill, or a resumed
    training job recomputes the identical order with no stored
    permutation table (``orderBy(rand())`` keeps none of that); epochs
    differ because the epoch number is folded into the hash key.

    Returns the input's (shard, id) plus ``epoch`` and ``position``
    (1-based rank within the shard for that epoch).

    Scale: one per-shard window — the same shuffle pack_sequences
    already pays, and shards map to data-parallel loader workers, so no
    global sort exists anywhere."""
    from pyspark.sql import Window as W

    key = _md5_long(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(f"#e{int(epoch)}#{int(seed)}"),
        )
    )
    w = W.partitionBy(shard_col).orderBy(key.asc(), F.col(id_col).asc())
    return df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("id"),
        F.lit(int(epoch)).cast("int").alias("epoch"),
        F.row_number().over(w).cast("long").alias("position"),
    )


def corpus_datacard(
    df: DataFrame, text_col: str, id_col: str, lang_col: str,
    source_col: str, short_tokens: int = 20,
) -> DataFrame:
    """Per-language corpus data card — the summary table a curation
    pipeline publishes with a training set: document/source counts,
    token and character mass, exact-duplicate count (docs whose
    normalized-token fingerprint appears ≥2× within the language), short
    -document count and mean tokens/doc. Composes the existing exact
    primitives (token_count, doc_fingerprint, davg), so every cell is
    deterministic and oracle-checkable.

    Scale: two aggregates — one fingerprint groupBy (the exact-dedup
    shuffle) and one per-language rollup; both map-side combined."""
    from neurondb_spark.functions.text import doc_fingerprint, token_count

    base = df.select(
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("_src"),
        F.col(id_col).alias("_id"),
        token_count(text_col).cast("long").alias("_tok"),
        F.length(F.col(text_col)).cast("long").alias("_chars"),
        doc_fingerprint(text_col).alias("_fp"),
    )
    dup_fp = (
        base.groupBy("lang", "_fp")
        .agg(F.count(F.lit(1)).alias("_nfp"))
        .where(F.col("_nfp") >= 2)
    )
    dups = dup_fp.groupBy("lang").agg(
        F.sum("_nfp").cast("long").alias("exact_dup_docs")
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_src").alias("n_sources"),
            F.sum("_tok").cast("long").alias("total_tokens"),
            F.sum("_chars").cast("long").alias("total_chars"),
            F.sum(
                F.when(F.col("_tok") < short_tokens, 1).otherwise(0)
            ).cast("long").alias("short_docs"),
            davg(F.col("_tok").cast("double")).alias("avg_tokens"),
        )
        .join(dups, "lang", "left")
        .withColumn(
            "exact_dup_docs", F.coalesce("exact_dup_docs", F.lit(0))
        )
    )


def exact_group_quantiles(
    df: DataFrame, val_col: str, by_col: str, qs: list[float],
) -> DataFrame:
    """EXACT nearest-rank quantiles per group, computed scalably: a
    value histogram (groupBy count), one cumulative-count window per
    group, then quantile q = the smallest value whose cumulative count
    reaches ceil(q·n). No global sort, no per-group collect — the
    shuffle is keyed by (group, value) and the window by group, so this
    holds at any scale where the DISTINCT-value space per group is
    bounded (token counts, lengths, scores — exactly the distribution
    columns a data card reports). approx_percentile trades exactness
    for a sketch; for integer-grained columns this is exact AND as
    cheap.

    Output: one row per group with a ``p{q}`` column per requested
    quantile (q as percent, trailing zeros trimmed: 0.25 → p25,
    0.999 → p99_9). Nearest-rank (no interpolation), matching the
    vector percentile semantics (§2.2)."""
    from pyspark.sql import Window as W

    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(
            f"neurondb: quantiles must be in (0, 1], got {qs}"
        )
    # The %g rendering keeps 6 significant digits — two distinct qs that
    # render identically (or literal duplicates) would alias two agg
    # columns to the same name and yield an ambiguous frame with no error
    # at call time. Refuse at the API boundary instead.
    names = [f"p{q * 100:g}".replace(".", "_") for q in qs]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"neurondb: quantile list {qs} produces colliding column "
            f"names {dupes} — deduplicate or space the requested quantiles"
        )
    hist = df.groupBy(by_col, val_col).agg(F.count(F.lit(1)).alias("_c"))
    wcum = (
        W.partitionBy(by_col).orderBy(val_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy(by_col)
    enriched = hist.select(
        by_col, val_col,
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wall).alias("_n"),
    )
    aggs = []
    for q, name in zip(qs, names):
        rank = F.ceil(F.lit(float(q)) * F.col("_n").cast("double"))
        aggs.append(
            F.min(
                F.when(F.col("_cum") >= rank, F.col(val_col))
            ).alias(name)
        )
    return enriched.groupBy(by_col).agg(*aggs)


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    tau: float,
    total: int,
    seed: int = 0,
) -> DataFrame:
    """Temperature-scaled mixture sampling — the multilingual/multi-domain
    rebalancing knob (mT5/XLM-R style; the measured-domain-weights idea
    behind DoReMi): target share of stratum s is p_s^tau / Σ_t p_t^tau
    where p_s is its corpus share. tau=1 keeps natural proportions,
    tau→0 approaches uniform — low-resource strata are upsampled toward
    ``total`` expected rows without an explicit per-stratum target list
    (contrast :func:`stratified_mix`, which takes one). Selection is the
    same md5-uniform hash filter, so the sample is replayable.

    Determinism: stratum shares, tau-powers and the normalizing sum are
    computed driver-side over the (bounded, ≤ #strata) count table in
    SORTED stratum order — the oracle replays the identical left-assoc
    float fold. tau=0.5 routes through sqrt (correctly rounded in IEEE,
    so bit-equal across engines); other taus use pow, whose last-ulp
    behavior is libm-specific (fine for production, not for a
    value-hash gate).

    Scale: one count aggregate (combiner-heavy, #strata rows to the
    driver — same contract as the KMeans centroid table), a broadcast
    rate join, then a pure-map filter."""
    import math

    if tau <= 0.0:
        raise ValueError(f"neurondb: temperature tau must be > 0, got {tau}")
    spark = df.sparkSession
    count_rows = (
        df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    # NULL strata have no defined corpus share (p^tau of what?) and would
    # otherwise vanish silently in the inner rate join — refuse loudly.
    if any(r[strata_col] is None for r in count_rows):
        raise ValueError(
            f"neurondb: temperature_mix strata column {strata_col!r} "
            "contains NULLs — filter or impute them first"
        )
    counts = {r[strata_col]: int(r["_n"]) for r in count_rows}
    if not counts:
        return df.where(F.lit(False))
    n_total = float(sum(counts.values()))
    weights = {}
    for s in sorted(counts):
        p = counts[s] / n_total
        weights[s] = math.sqrt(p) if tau == 0.5 else math.pow(p, tau)
    denom = 0.0
    for s in sorted(weights):  # fixed fold order — oracle replays it
        denom = denom + weights[s]
    rows = []
    for s in sorted(counts):
        share = weights[s] / denom
        rate = min(1.0, (share * float(total)) / float(counts[s]))
        rows.append((s, rate))
    # Keep the strata column's REAL DataType (an int domain id must not
    # come back as string — it would mis-join or error).
    strata_type = df.schema[strata_col].dataType
    rates = spark.createDataFrame(
        rows,
        schema=T.StructType([
            T.StructField(strata_col, strata_type),
            T.StructField("_rate", T.DoubleType()),
        ]),
    )
    return (
        df.join(F.broadcast(rates), strata_col, "inner")
        .where(hash_uniform(id_col, seed) < F.col("_rate"))
        .drop("_rate")
    )


def trigram_lm_scores_grouped(
    df: DataFrame, text_col: str, id_col: str, group_col: str,
) -> DataFrame:
    """Per-GROUP char-trigram LM scoring — :func:`trigram_lm_scores`
    with one model per group (the CCNet recipe fits one LM per language,
    Wenzek et al. 2020; the reference's single-model analog is the nlp.c
    quality scorer). Counts are keyed (group, trigram) so each group's
    probabilities are conditioned only on its own text; everything else
    — add-0.5 smoothing over the 27-char alphabet, decimal-exact mean —
    is identical to the corpus-wide scorer.

    Scale: same two map-side-combined count aggregations as the
    corpus-wide scorer, now with the group in the key (model size ≤ 27³
    rows PER GROUP — broadcast holds for a bounded language set), then
    one broadcast join back onto the exploded corpus and one
    groupBy(group, id). The explode is evaluated once per consuming
    aggregate; BOTH aggregates combine map-side to tiny outputs
    (per-group trigram space / one row per doc), so the shuffles are
    negligible — a per-doc pre-aggregation variant was measured 20×
    SLOWER at sf0.1 because its (group, doc, trigram) exchange has
    ~instance cardinality and destroys the combiner."""
    tris = df.select(
        F.col(group_col), F.col(id_col),
        F.explode(char_trigrams(text_col)).alias("tri"),
    ).localCheckpoint(eager=False)  # (r15) same one-pass treatment as
    # trigram_lm_scores: model fit + scoring probe share the explode
    tri_counts = tris.groupBy(group_col, "tri").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    ctx_counts = (
        tri_counts
        .groupBy(group_col, F.substring("tri", 1, 2).alias("_ctx"))
        .agg(F.sum("_tc").alias("_cc"))
    )
    model = tri_counts.alias("t").join(
        ctx_counts.alias("c"),
        (F.col(f"t.{group_col}") == F.col(f"c.{group_col}"))
        & (F.substring(F.col("t.tri"), 1, 2) == F.col("c._ctx")),
    ).select(
        F.col(f"t.{group_col}").alias(group_col),
        F.col("t.tri").alias("tri"),
        (
            (F.col("t._tc").cast("double") + F.lit(0.5))
            / (F.col("c._cc").cast("double") + F.lit(0.5 * LM_VOCAB))
        ).alias("_p"),
    )
    return (
        tris.join(F.broadcast(model), [group_col, "tri"])
        .groupBy(group_col, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            davg("_p").alias("mean_tri_prob"),
        )
    )


# Tercile cut points for head/middle/tail bucketing. 1/3 and 2/3 as IEEE
# doubles — the oracle renders the identical literals, so ceil(q·n) agrees
# across engines at every group size.
PPL_BUCKET_CUTS = (1.0 / 3.0, 2.0 / 3.0)


def ppl_bucket_assign(
    df: DataFrame, text_col: str, id_col: str, lang_col: str,
    threshold_sample_frac: float | None = None,
    threshold_sample_seed: int = 0,
) -> DataFrame:
    """CCNet-style statistical-quality bucketing (Wenzek et al. 2020):
    score every document with its language's trigram LM, then split each
    language into head/middle/tail at the exact nearest-rank terciles of
    the score distribution. CCNet keeps `head` (most LM-typical text)
    for pretraining and drops or downweights `tail`.

    Orientation: our score is the mean in-model trigram probability
    (HIGHER = more typical), the transcendental-free stand-in for
    (negated) perplexity — so `head` is the top-scoring third.
    Boundary rule is deterministic: score ≤ t_33 → tail,
    ≤ t_66 → middle, else head (nearest-rank thresholds are actual data
    values, so boundary docs land on the lower bucket in both engines).

    Scale: the thresholds are an :func:`exact_group_quantiles` pass (the
    heavy leg), then a #langs-row broadcast join and a pure-map CASE.
    ``threshold_sample_frac`` fits the cutoffs on a deterministic
    :func:`hash_sample` of the SCORED frame instead of all of it —
    CCNet's own recipe (it computes cutoffs once on a corpus sample);
    every document is still scored and assigned, only the quantile fit
    is sampled. Default None = exact fit (the hash-gated path). Returns
    one row per document: (lang, id, n_trigrams, mean_tri_prob,
    bucket)."""
    if threshold_sample_frac is not None and not (
        0.0 < float(threshold_sample_frac) <= 1.0
    ):
        raise ValueError(
            "neurondb: threshold_sample_frac must be in (0, 1], got "
            f"{threshold_sample_frac!r}"
        )
    # One row per document — materialize ONCE (eager): the threshold pass
    # (histogram + two windows) and the assignment join both consume it,
    # and without the checkpoint each re-runs the full LM fit + explode
    # (measured 17s → ~4s at sf0.1).
    scored = trigram_lm_scores_grouped(
        df, text_col, id_col, lang_col
    ).localCheckpoint(eager=True)
    fit = scored
    if threshold_sample_frac is not None and float(threshold_sample_frac) < 1.0:
        fit = hash_sample(
            scored, id_col, float(threshold_sample_frac),
            seed=threshold_sample_seed,
        )
        # a language the sample missed entirely would silently drop all
        # its documents at the assignment join — refuse instead (one
        # #langs-bounded check, only on the sampled path)
        missing = (
            scored.select(lang_col).distinct()
            .join(fit.select(lang_col).distinct(), lang_col, "left_anti")
            .limit(1).count()
        )
        if missing:
            raise ValueError(
                "neurondb: threshold_sample_frac "
                f"{threshold_sample_frac} left at least one language "
                "with zero sampled documents — raise the fraction"
            )
    th = exact_group_quantiles(
        fit, "mean_tri_prob", lang_col, list(PPL_BUCKET_CUTS)
    )
    lo, hi = th.columns[1], th.columns[2]
    return (
        scored.join(F.broadcast(th), lang_col)
        .select(
            lang_col, id_col, "n_trigrams", "mean_tri_prob",
            F.when(F.col("mean_tri_prob") <= F.col(lo), F.lit("tail"))
            .when(F.col("mean_tri_prob") <= F.col(hi), F.lit("middle"))
            .otherwise(F.lit("head"))
            .alias("bucket"),
        )
    )


def score_weighted_sample(
    df: DataFrame,
    score: Column | str,
    id_col: str,
    target: int,
    seed: int = 0,
) -> DataFrame:
    """Soft quality filtering: keep each row with probability
    PROPORTIONAL to its score, scaled so the expected kept count is
    ``target`` (per-row rate capped at 1): rate = min(1, score·target/S)
    with S the decimal-exact corpus score sum. The middle ground between
    a hard quality threshold (drops everything below the line) and
    uniform sampling (ignores quality) — the "sample good documents more
    often" recipe quality-scored curation pipelines apply.

    Determinism: selection is the same md5-uniform pure row function as
    :func:`hash_sample`, and S is an exact decimal sum, so the sample is
    bit-replayable across retries, partitionings and engines.

    Scale: ONE map-side-combined aggregate (S — a single row) broadcast
    back onto the corpus; the filter itself is a pure map. Scores must
    be non-negative; rows with score 0 are never kept."""
    w = F.col(score) if isinstance(score, str) else score
    base = df.withColumn("_w", w)
    totals = base.agg(dsum("_w").alias("_s"))
    return (
        base.crossJoin(F.broadcast(totals))
        .where(
            hash_uniform(id_col, seed)
            < F.least(F.lit(1.0), F.col("_w") * F.lit(float(target)) / F.col("_s"))
        )
        .drop("_w", "_s")
    )
