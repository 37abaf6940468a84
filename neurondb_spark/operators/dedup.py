"""Deduplication operators for large-scale training-data pipelines (the
BASELINE north star adds these as first-class engine ops beyond the
reference surface; the reference's closest machinery is vec_join
similarity-join, NeuronDB/src/core/operators.c:535-744).

All hashing is md5-derived so Spark and a SQL oracle agree bit-for-bit
(no engine-specific hash functions). Scale design per operator:

- exact_dedup: groupBy fingerprint — one shuffle, combiner-heavy.
- minhash_lsh_pairs: shingle→K minhashes→bands; candidate pairs only meet
  inside a band bucket (shuffle key = (band, band_hash)) — never O(n²).
- ngram_jaccard_pairs: blocked self-join + exact Jaccard on token n-gram
  sets.
- simhash: signature of up to 60 bits (16 by default) per doc via
  per-token md5 bit votes; pair search blocks on max_hamming+1 disjoint
  signature segments (pigeonhole → full recall).
- embedding_neardup_pairs: exact cosine threshold inside banded
  random-hyperplane LSH buckets (bands × band_bits, index/lsh.py planes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.distance import cosine_similarity
from neurondb_spark.functions.text import doc_fingerprint, let, tokenize


def _md5_long(c: Column) -> Column:
    """First 15 hex digits of md5 → non-negative BIGINT (60 bits) —
    cross-engine-stable hash."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on normalized content fingerprint: one representative
    (min/max id) per fingerprint + duplicate count."""
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.withColumn("fingerprint", doc_fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(agg_id.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def shingles(text, n: int = 3) -> Column:
    """Word n-gram shingles as strings (dedup primitive). Documents shorter
    than n tokens yield their full token join. The document is tokenized
    once: the token array is bound (``let``), so each shingle's ``slice``
    reads it instead of re-splitting the text."""

    def _grams(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))

    return let(tokenize(text), _grams)


def minhash_signature(text, num_hashes: int = 8, shingle_n: int = 3) -> Column:
    """MinHash signature: per hash i, min over shingles of
    md5_long(concat(shingle, '#', i)). Seeded by suffixing — identical in
    SQL. Returns array<bigint> of length num_hashes. The shingle array is
    bound once (``let``) and read by all num_hashes transforms."""

    def _seeded(i: int):
        # closure, not default arg: pyspark passes (element, index) to
        # 2-arg lambdas
        suffix = F.lit(f"#{i}")
        return lambda s: _md5_long(F.concat(s, suffix))

    return let(
        shingles(text, shingle_n),
        lambda sh: F.array(
            *[F.array_min(F.transform(sh, _seeded(i))) for i in range(num_hashes)]
        ),
    )


def banded_signature_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bsig) band-bucket rows — the shared LSH keying used by
    the batch pair join, the streaming incremental drain, and the
    stateful streaming operator. The input is spread to
    defaultParallelism first: signature hashing is the CPU-heavy stage
    and single-file corpora would otherwise serialize it on one core."""
    if num_hashes % bands != 0:
        raise ValueError("neurondb: num_hashes must be divisible by bands")
    rpb = num_hashes // bands
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    sig = minhash_signature(text_col, num_hashes, shingle_n)
    base = df.select(F.col(id_col), sig.alias("_sig"))
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(
                    F.transform(
                        F.slice("_sig", b * rpb + 1, rpb), lambda x: x.cast("string")
                    ),
                    "_",
                ).alias("bsig"),
            )
            for b in range(bands)
        ]
    )
    return base.select(id_col, F.explode(bands_arr).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH: docs sharing any
    band (rows_per_band consecutive minhashes) meet in a bucket.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Scale: the only shuffle keys are (band_idx, band_signature) — bucket
    sizes are data-dependent but never global; skewed buckets (boilerplate
    docs) are handled by AQE skew-join when joined back.

    The banded-signature table (n_docs × bands rows of small ints/strings)
    is materialized once before the self-join: signature hashing is the
    CPU-heavy stage (tokenize → shingles → num_hashes seeded md5s per
    shingle) and a lazy plan would recompute it for BOTH join sides — at
    warehouse scale this is a written signature table, refreshed
    incrementally. The input is also spread across the cluster first:
    single-file corpora arrive as one partition, which would serialize
    the hashing on one core.
    """
    exploded = banded_signature_rows(
        df, text_col, id_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=False)  # lazy: both self-join sides read the
    # one materialization inside the caller's action (r15, guide §1.2)
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    block_col: str | None = None,
    max_df: int | None = None,
    eager: bool = True,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via an inverted shingle index:
    explode distinct shingles, self-join on the shingle (only pairs sharing
    ≥1 shingle ever meet — valid because threshold > 0), count the common
    shingles, then |A∪B| = |A|+|B|−common.

    Scale: shuffles on the shingle key instead of materializing O(n²)
    pairs — candidate count is Σ_shingle df(s)², bounded by shingle
    selectivity, not corpus size. ``max_df`` is the stop-shingle cap:
    shingles occurring in more than max_df docs are dropped BEFORE pairing
    (Jaccard is then over the rare-shingle sets — the standard
    set-similarity-join trick for boilerplate; it also removes the skew
    keys). None = exact over all shingles.

    ``eager=True`` (default) materializes the small pairs result via
    ``localCheckpoint`` and unpersists the inverted index before returning,
    so no cached partitions leak into later queries; ``eager=False`` keeps
    the plan lazy and leaves the index cached for the caller to manage.
    """
    if threshold <= 0.0:
        raise ValueError("neurondb: ngram_jaccard_pairs needs threshold > 0")
    if measure not in ("jaccard", "containment"):
        raise ValueError(f"neurondb: unknown set-similarity measure {measure!r}")
    # single-file parquet scans arrive as one partition; the shingle
    # computation is CPU-heavy per row, so spread it across the cluster
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    blk = [F.col(block_col)] if block_col else []
    # shingles become 60-bit md5-derived longs BEFORE the index: the
    # pair search then shuffles/compares 8-byte keys instead of ~20-byte
    # strings (same trick as doc_fingerprint; collisions are ~2^-60 per
    # pair and the oracle applies the identical hash, so even a
    # collision cannot produce a mismatch)
    hashed = F.transform(
        shingles(text_col, shingle_n),
        lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
    )
    base = df.select(
        F.col(id_col), *blk,
        F.array_distinct(hashed).alias("_sh"),
    )
    ex = base.select(F.col(id_col), *blk, F.explode("_sh").alias("_s"))
    if max_df is not None:
        # Bounded-bucket path: with df(s) ≤ max_df every posting list is
        # small, so candidate pairs are generated IN-BUCKET by array
        # expressions after one groupBy(shingle) — one shuffle replaces
        # the self-join's two, ~25% faster at sf0.1 and the same
        # Σ df(s)² candidate bound. Unbounded shingles (max_df=None)
        # keep the distributed self-join below: a hot shingle shared by
        # the whole corpus must never be collected into one row.
        bkey = [F.col(block_col)] if block_col else []
        buckets = (
            ex.groupBy(*bkey, "_s")
            .agg(F.sort_array(F.collect_list(id_col)).alias("_ids"))
            .withColumn("_df", F.size("_ids"))
            .where(F.col("_df") <= max_df)
        )
        if eager:
            # lazy: buckets feeds the size-attach explode inside ONE
            # downstream action — the checkpoint computes once there,
            # without a separate materialization job (r15, guide §1.2)
            buckets = buckets.localCheckpoint(eager=False)
        # (r16, guide §3/§2.4) fused size attach: the two id-keyed joins
        # of the candidate-pair frame against a per-doc size table are
        # gone — per-doc rare-shingle counts are grouped once by id, the
        # bucket membership re-collected as (id, n) structs, and pair
        # generation emits BOTH endpoints' sizes inline, so the pair
        # aggregation yields (common, |A|, |B|) in one pass. At scale
        # this removes two Exchange+Sort passes over the candidate frame
        # (the widest frame in the pipeline); the two extra id/shingle
        # exchanges it costs carry only Σ df(s) membership rows.
        memb = buckets.select(
            *bkey, F.col("_s"), F.col("_df"), F.explode("_ids").alias(id_col)
        )
        per_doc = memb.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("_n"),
            # only buckets that can produce pairs need re-collecting;
            # collect_list drops the nulls the condition leaves behind
            F.collect_list(
                F.when(F.col("_df") >= 2, F.struct(*bkey, F.col("_s")))
            ).alias("_m"),
        )
        memb2 = per_doc.select(
            F.col(id_col), F.col("_n"), F.explode("_m").alias("_b")
        )
        buckets2 = memb2.groupBy(
            *([F.col(f"_b.{block_col}")] if block_col else []), F.col("_b._s")
        ).agg(
            # struct comparison orders by _i first (unique per bucket),
            # so the ascending-id pair order is byte-identical to the
            # unfused sort_array(_ids) form
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("_i"), F.col("_n")))
            ).alias("_es")
        )
        es = F.col("_es")
        pair_arr = F.flatten(F.transform(
            es,
            lambda x, i: F.transform(
                F.slice(es, i + 2, F.size(es)),
                lambda y: F.struct(
                    x["_i"].alias("id_a"), y["_i"].alias("id_b"),
                    x["_n"].alias("_na"), y["_n"].alias("_nb"),
                ),
            ),
        ))
        common = (
            buckets2.select(F.explode(pair_arr).alias("_p"))
            .select("_p.id_a", "_p.id_b", "_p._na", "_p._nb")
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).alias("_common"),
                # _na/_nb are constant per id_a/id_b — max() is exact
                F.max("_na").alias("_na"),
                F.max("_nb").alias("_nb"),
            )
        )
        ex = None
    else:
        # materialize the inverted index once — it feeds the self-join
        # twice plus the size aggregation (at warehouse scale this is a
        # written table, sparse_index_create-style)
        ex = ex.persist()
        sizes = ex.groupBy(F.col(id_col), *blk).agg(
            F.count(F.lit(1)).alias("_n")
        )
        a, b = ex.alias("a"), ex.alias("b")
        cond = (F.col("a._s") == F.col("b._s")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        if block_col:
            cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        common = (
            a.join(b, cond)
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("_common"))
        )
    if measure == "jaccard":
        sim = F.col("_common").cast("double") / (
            (F.col("_na") + F.col("_nb") - F.col("_common")).cast("double")
        )
        out_col = "jaccard_sim"
    else:  # overlap coefficient: |A∩B| / min(|A|,|B|)
        sim = F.col("_common").cast("double") / (
            F.least(F.col("_na"), F.col("_nb")).cast("double")
        )
        out_col = "containment"
    if ex is None:
        # bounded-bucket path: sizes travelled with the pairs (r16)
        scored = common
    else:
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
        scored = common.join(sa, "id_a").join(sb, "id_b")
    out = (
        scored.select("id_a", "id_b", sim.alias(out_col))
        .where(F.col(out_col) >= F.lit(float(threshold)))
    )
    if eager:
        if ex is not None:
            # pairs output is tiny relative to the index; materialize it,
            # then release the cached index so nothing leaks into later
            # queries (the persist()'d index must outlive the compute)
            out = out.localCheckpoint(eager=True)
            ex.unpersist()
        else:
            # bounded-bucket path holds no cache — a lazy checkpoint
            # materializes inside the caller's action (one job total)
            out = out.localCheckpoint(eager=False)
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    block_col: str | None = None,
    max_df: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """Overlap-coefficient (containment) near-duplicate pairs:
    |S(A)∩S(B)| / min(|S(A)|,|S(B)|) ≥ threshold — the distributed analog
    of substring/containment dedup in training-data pipelines. Catches a
    small document whose shingle set sits mostly inside a larger one
    (boilerplate inclusion, quote expansion, partial crawls) — exactly the
    pairs size-sensitive Jaccard under-scores. Same inverted-index plan,
    shuffle keys, and max_df stop-shingle semantics as
    :func:`ngram_jaccard_pairs`."""
    return ngram_jaccard_pairs(
        df, text_col, id_col, threshold=threshold, shingle_n=shingle_n,
        block_col=block_col, max_df=max_df, eager=eager,
        measure="containment",
    )


def simhash(text, bits: int = 16) -> Column:
    """SimHash signature over tokens: bit j set iff Σ_tokens (±1 by md5 bit
    j) > 0. The operator accepts up to 60 bits.

    All ``bits`` vote counters accumulate in ONE fold over the token hashes
    (array accumulator + zip_with), not one fold per bit — the signature
    cost is O(tokens · bits) with a single pass over the data. Votes are
    integer sums, so the result is order-independent and matches a
    per-bit-fold oracle exactly."""
    toks = tokenize(text)
    h = F.transform(toks, _md5_long)
    powers = F.array(*[F.lit(2 ** j) for j in range(bits)])
    votes = F.aggregate(
        h,
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(
                powers,
                lambda p: F.when(x.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
            ),
            lambda a, v: a + v,
        ),
    )
    # single reference to `votes` → the fold is evaluated once
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_neardup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 2, bits: int = 16,
    eager: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming with FULL
    recall: the signature is split into ``max_hamming + 1`` disjoint bit
    segments; by pigeonhole, two signatures within max_hamming differing
    bits agree on at least one whole segment, so the union of per-segment
    blocked joins meets every qualifying pair. (Replaces high-half-only
    blocking, which silently dropped pairs whose differing bits fell in the
    high half.)

    Scale: shuffle keys are (segment index, segment value) — candidates are
    bounded per segment bucket, never all-pairs; the exact Hamming filter
    then removes band-collision false positives.

    ``eager`` materializes the signature+segment frame via localCheckpoint
    before the self-join — without it the expensive simhash token fold is
    recomputed on BOTH join sides and again for the final distinct."""
    nseg = max_hamming + 1
    if bits < nseg:
        raise ValueError("neurondb: simhash bits must be >= max_hamming + 1")
    # single-file parquet scans arrive as one partition; the simhash token
    # fold is CPU-heavy per row — spread it before computing signatures
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    base = df.select(F.col(id_col), simhash(text_col, bits).alias("_sh"))
    bounds = [round(j * bits / nseg) for j in range(nseg + 1)]
    segs = [
        F.struct(
            F.lit(j).alias("seg"),
            F.shiftright("_sh", bounds[j])
            .bitwiseAND(F.lit((1 << (bounds[j + 1] - bounds[j])) - 1))
            .alias("sval"),
        )
        for j in range(nseg)
    ]
    ex = base.select(id_col, "_sh", F.explode(F.array(*segs)).alias("_b")).select(
        id_col, "_sh",
        F.col("_b.seg").alias("_seg"), F.col("_b.sval").alias("_sval"),
    )
    if eager:
        # lazy: one materialization inside the caller's action feeds both
        # join sides — no separate eager job (r15, guide §1.2)
        ex = ex.localCheckpoint(eager=False)
    a, b = ex.alias("a"), ex.alias("b")
    hamming = F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a._seg") == F.col("b._seg"))
            & (F.col("a._sval") == F.col("b._sval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
    bands: int = 8,
    band_bits: int = 16,
    seed: int = 42,
    eager: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicates: pairs sharing ≥ 1 LSH band with
    exact cosine sim ≥ threshold. Blocking is banded random-hyperplane LSH
    (reusing index/lsh.py signatures): each of ``bands`` bands hashes the
    vector through ``band_bits`` seeded hyperplanes into one of
    2**band_bits buckets; candidates meet only inside a (band, bucket).

    Scale: bucket count per band is 2**band_bits (defaults: 65536), so
    within-bucket work is O((n/2^band_bits)^2) per band — tune band_bits to
    keep buckets ~1k rows at corpus size; more bands = higher recall.
    (Replaces first-``sign_bits``-dimensions sign blocking whose 8-16
    global buckets made every bucket quadratic at scale.)

    ``eager=True`` materializes the signed+exploded base once via
    ``localCheckpoint`` so the self-join's two sides don't each recompute
    the signatures (and the join plans against accurate size stats)."""
    if dim is None:
        raise ValueError("neurondb: embedding_neardup_pairs requires dim")
    from neurondb_spark.index.lsh import _hyperplanes, signature_expr

    # spread the bands×band_bits×dim signature folds across cores — a
    # single-file parquet scan would otherwise compute them on 1 partition
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    planes = _hyperplanes(dim, bands * band_bits, seed)
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            signature_expr(
                vec_col, planes[j * band_bits : (j + 1) * band_bits]
            ).alias("bval"),
        )
        for j in range(bands)
    ]
    ex = df.select(
        F.col(id_col), F.col(vec_col), F.explode(F.array(*band_structs)).alias("_e")
    ).select(
        id_col, vec_col,
        F.col("_e.band").alias("_band"), F.col("_e.bval").alias("_bval"),
    )
    if eager:
        # lazy: one materialization inside the caller's action feeds both
        # join sides — no separate eager job (r15, guide §1.2)
        ex = ex.localCheckpoint(eager=False)
    a, b = ex.alias("a"), ex.alias("b")
    # fold-compiled cosine (dim=None): the exact-similarity filter lands
    # inside the band hash-join stage, where an unrolled 64-dim chain
    # pushes the generated method past janino's 64KB limit — whole-stage
    # codegen then fails and the stage runs interpreted (~2-5x slower).
    # The fold is bit-identical (same left-assoc accumulation).
    sim = cosine_similarity(f"a.{vec_col}", f"b.{vec_col}", dim=None, checked=False)
    return (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bval") == F.col("b._bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= F.lit(float(threshold)))
        .distinct()
    )


# --------------------------------------------------------- exact substring


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    window: int = 20,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the public local-fingerprinting algorithm behind MOSS):
    hash every character k-gram, then for each window of ``window``
    consecutive k-gram hashes keep the RIGHTMOST minimum. Guarantee: any
    substring of length >= t = window + k - 1 shared by two documents
    yields at least one IDENTICAL (hash) fingerprint in both — the
    content-defined selection is what fixed-stride sampling lacks (two
    docs sample different offsets; winnowing samples the same positions
    of the same content). This is the scalable stand-in for
    suffix-array exact-substring dedup in training-data pipelines.

    Returns (id_col, fp_pos, fp_hash) — one row per selected fingerprint.

    100 TB design: the k-gram explode is O(total_chars) rows — the same
    order as tokenization; the per-window min is ONE window-function pass
    partitioned by document (each doc's positions sort locally, no
    cross-doc shuffle beyond the doc-partitioned sort); the
    rightmost-argmax resolution joins positions to window starts within
    a +/-window band — a x``window`` row multiplier on equal keys, never
    a corpus self-join. Hashes are md5-derived (`_md5_long`), so a SQL
    oracle replays every step bit-for-bit."""
    from pyspark.sql.window import Window as W

    n_pos = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))
    grams = (
        df.select(
            F.col(id_col), F.col(text_col).alias("_t"),
            n_pos.alias("_np"),
            F.explode(F.sequence(F.lit(1), n_pos)).alias("p"),
        )
        .select(
            id_col, "_np", "p",
            _md5_long(F.substring(F.col("_t"), F.col("p"), k)).alias("h"),
        )
        # (r15) the k-gram explode + per-gram md5 is the dominant stage
        # and BOTH the window pass and the rightmost-argmax join consume
        # it — checkpoint so it computes once inside the caller's action
        # (at warehouse scale this is the written k-gram hash table)
        .localCheckpoint(eager=False)
    )
    # min hash over the window STARTING at each position (frame shrinks
    # near the tail; only rows that can start a full window are kept —
    # unless the doc is shorter than one window, which keeps position 1
    # so short docs still fingerprint).
    frame = W.partitionBy(id_col).orderBy("p").rowsBetween(0, window - 1)
    starts = (
        grams.withColumn("minh", F.min("h").over(frame))
        .where(
            (F.col("p") <= F.col("_np") - (window - 1))
            | ((F.col("_np") < window) & (F.col("p") == 1))
        )
        .select(F.col(id_col).alias("_wid"), F.col("p").alias("w"), "minh")
    )
    # rightmost position achieving the window min = the fingerprint
    sel = (
        starts.join(
            grams.select(id_col, F.col("p").alias("q"), F.col("h").alias("hq")),
            (F.col("_wid") == F.col(id_col))
            & (F.col("q") >= F.col("w"))
            & (F.col("q") <= F.col("w") + (window - 1))
            & (F.col("hq") == F.col("minh")),
        )
        .groupBy("_wid", "w", "minh")
        .agg(F.max("q").alias("fp_pos"))
        .select(
            F.col("_wid").alias(id_col),
            "fp_pos",
            F.col("minh").alias("fp_hash"),
        )
        .distinct()
    )
    return sel


def substring_dup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    window: int = 20,
) -> DataFrame:
    """Exact-substring duplication stats per document (the one missing
    member of the curation family per the r6 verdict): a document's
    winnowing fingerprints are matched ACROSS the corpus; a fingerprint
    whose hash appears in >= 2 distinct documents marks a duplicated
    span of length >= k. Returns
    (id_col, n_fp, n_dup_fp, dup_ratio) — dup_ratio is the fraction of
    the document's fingerprints covered by cross-document duplicated
    content, the score a pipeline thresholds to drop boilerplate-heavy /
    plagiarized documents (suffix-array dedup's decision, minus the
    suffix array).

    Never enumerates pairs: the cross-corpus match is ONE groupBy on
    fp_hash (count distinct docs) broadcast-joined back — no quadratic
    term anywhere, so a hot boilerplate string shared by a million
    documents costs one aggregate row, not 10^12 pairs."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    # (r15) three consumers below (shared, flagged, totals) — one
    # materialization instead of three winnow evaluations
    fps = fps.localCheckpoint(eager=False)
    shared = (
        fps.groupBy("fp_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("_ndocs"))
        .where(F.col("_ndocs") >= 2)
        .select("fp_hash")
    )
    flagged = (
        fps.join(shared, "fp_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_fp"))
    )
    totals = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        totals.join(flagged, id_col, "left")
        .select(
            id_col,
            "n_fp",
            F.coalesce(F.col("n_dup_fp"), F.lit(0)).alias("n_dup_fp"),
            (
                F.coalesce(F.col("n_dup_fp"), F.lit(0)).cast("double")
                / F.col("n_fp").cast("double")
            ).alias("dup_ratio"),
        )
    )


def substring_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 12,
    window: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document exact-substring PAIRS: (id_a, id_b, n_shared)
    where n_shared counts the distinct winnowing fingerprint hashes the
    two documents have in common — every shared count >= 1 certifies a
    shared substring of length >= k (and the winnowing guarantee makes
    any shared span >= window+k-1 certain to appear). The decision
    table suffix-array dedup produces, as a bucketed join.

    ``max_df`` is the stop-hash cap (the `ngram_jaccard_pairs`
    discipline, operators/dedup.py:141): fingerprints present in more
    than max_df documents are boilerplate and are dropped BEFORE the
    bucket self-join, bounding every bucket — the candidate volume is
    Σ df(h)² over surviving hashes, never a corpus self-join."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    fh = fps.select(F.col(id_col), "fp_hash").distinct()
    # (r15) the bucket self-join (and optional max_df filter) consumes fh
    # repeatedly — one materialization
    fh = fh.localCheckpoint(eager=False)
    if max_df is not None:
        kept = (
            fh.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= int(max_df))
            .select("fp_hash")
        )
        fh = fh.join(kept, "fp_hash", "left_semi")
    a = fh.select("fp_hash", F.col(id_col).alias("id_a"))
    b = fh.select("fp_hash", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
