"""Recall/correctness tests for the pair-producing dedup operators.

The blocking schemes (banded SimHash segments, banded hyperplane LSH) are
recall-critical: a blocked pair that never meets is silently dropped. These
tests compare each operator against a brute-force all-pairs computation.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from neurondb_spark.functions.text import _py_tokenize
from neurondb_spark.operators.dedup import (
    embedding_neardup_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_neardup_pairs,
)

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split()


def _docs(spark, n=80, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = [rng.choice(WORDS) for _ in range(12)]
        rows.append((i, " ".join(base)))
        # a close variant: one token swapped -> small simhash hamming
        if i % 3 == 0:
            var = list(base)
            var[rng.randrange(len(var))] = rng.choice(WORDS)
            rows.append((1000 + i, " ".join(var)))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_simhash_pairs_match_bruteforce_full_recall(spark):
    """Banded blocking must equal all-pairs filtering (pigeonhole recall)."""
    docs = _docs(spark)
    max_h, bits = 3, 16
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_neardup_pairs(
            docs, "text", "doc_id", max_hamming=max_h, bits=bits
        ).collect()
    }
    sigs = docs.select("doc_id", simhash("text", bits).alias("sh")).collect()
    expect = set()
    high_half_diff = 0
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            a, b = sigs[i], sigs[j]
            lo, hi = (a, b) if a.doc_id < b.doc_id else (b, a)
            ham = bin(a.sh ^ b.sh).count("1")
            if ham <= max_h:
                expect.add((lo.doc_id, hi.doc_id, ham))
                if (a.sh ^ b.sh) >> (bits // 2):
                    high_half_diff += 1
    assert got == expect
    assert expect, "corpus produced no qualifying pairs — test is vacuous"
    # regression guard for the old high-half-only blocking: at least one
    # qualifying pair differs in the high half and would have been dropped
    assert high_half_diff > 0


def test_simhash_pairs_rejects_tiny_bits(spark):
    docs = _docs(spark, n=4)
    with pytest.raises(ValueError):
        simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3, bits=3)


def _vecs(spark, dim=8, n=60, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
    # planted near-duplicate of row 0 (cosine ~ 1)
    rows.append((9000, [x * 1.0001 + 1e-7 for x in rows[0][1]]))
    return rows, spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_embedding_pairs_match_bruteforce_band_semantics(spark):
    """Operator result == brute-force 'share >= 1 band AND cosine >= t'."""
    from neurondb_spark.index.lsh import _hyperplanes

    dim, bands, band_bits, seed, thr = 8, 4, 5, 42, 0.6
    rows, df = _vecs(spark, dim=dim)
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            df, "embedding", "vec_id", threshold=thr, dim=dim,
            bands=bands, band_bits=band_bits, seed=seed,
        ).collect()
    }
    planes = _hyperplanes(dim, bands * band_bits, seed)

    def band_vals(v):
        out = []
        for j in range(bands):
            val = 0
            for b, plane in enumerate(planes[j * band_bits : (j + 1) * band_bits]):
                dot = 0.0
                for x, w in zip(v, plane):
                    dot += x * w
                if dot >= 0:
                    val |= 1 << b
            out.append(val)
        return out

    def cos(u, v):
        du = sum(a * b for a, b in zip(u, v))
        nu = sum(a * a for a in u) ** 0.5
        nv = sum(a * a for a in v) ** 0.5
        return du / (nu * nv)

    sigs = {i: band_vals(v) for i, v in rows}
    expect = set()
    for i, u in rows:
        for j, v in rows:
            if i < j and any(a == b for a, b in zip(sigs[i], sigs[j])):
                if cos(u, v) >= thr:
                    expect.add((i, j))
    assert got == expect
    assert (0, 9000) in got, "planted near-duplicate not found"


def test_embedding_pairs_requires_dim(spark):
    _, df = _vecs(spark, n=4)
    with pytest.raises(ValueError):
        embedding_neardup_pairs(df, "embedding", "vec_id", threshold=0.9)


def test_ngram_jaccard_eager_releases_cache(spark):
    docs = _docs(spark, n=30)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    out = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2, shingle_n=2)
    n = out.count()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    # the inverted index must not stay cached; only the checkpointed
    # (small) pairs result may remain while `out` is referenced
    assert after <= before + 1
    assert n >= 0


def test_ngram_containment_finds_subset_doc(spark):
    """A document fully contained in a larger one must score 1.0 on
    containment while its Jaccard stays below a 0.8 bar."""
    big = " ".join(WORDS)            # 22 tokens -> 20 trigram shingles
    small = " ".join(WORDS[:8])      # prefix -> every shingle inside big
    other = " ".join(reversed(WORDS))
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, other)], "doc_id int, text string"
    )
    from neurondb_spark.operators.dedup import ngram_containment_pairs

    got = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(
            docs, "text", "doc_id", threshold=0.9, shingle_n=3
        ).collect()
    }
    assert got.get((1, 2)) == 1.0, got
    jac = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.01, shingle_n=3
        ).collect()
    }
    assert jac[(1, 2)] < 0.8  # Jaccard under-scores the contained doc


def test_ngram_bounded_path_matches_join_path(spark):
    """The bounded-bucket path (max_df set, fused size-attach) must be
    value-identical to the unbounded inverted-index join path when the
    stop-shingle cap is a no-op — cross-checks the fused (common, |A|,
    |B|) emission against the explicit size joins, exact doubles."""
    docs = _docs(spark, n=40).withColumn(
        "blk", (F.col("doc_id") % 2).cast("int")
    )
    for measure, thr in (("jaccard", 0.05), ("containment", 0.2)):
        fused = ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=thr, shingle_n=2,
            block_col="blk", max_df=10_000, measure=measure,
        ).collect()
        joined = ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=thr, shingle_n=2,
            block_col="blk", measure=measure,
        ).collect()
        assert sorted(map(tuple, fused)) == sorted(map(tuple, joined))


def test_ngram_bounded_path_drops_stop_shingles(spark):
    """max_df must drop boilerplate shingles BEFORE pairing and size the
    rare-shingle sets accordingly (hand-computed tiny example)."""
    # 3 docs share shingle (x,y) -> df=3 > max_df=2, dropped; docs 1/2
    # then share only (y,a): sizes become |1|={y a, a b}=2, |2|={y a, a c}=2
    # -> jaccard = 1/(2+2-1) = 1/3
    docs = spark.createDataFrame(
        [(1, "x y a b"), (2, "x y a c"), (3, "x y d e")],
        "doc_id int, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard_sim
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.01, shingle_n=2, max_df=2
        ).collect()
    }
    assert got == {(1, 2): pytest.approx(1.0 / 3.0, abs=0)}


def test_ngram_pairs_rejects_unknown_measure(spark):
    docs = _docs(spark, n=4)
    with pytest.raises(ValueError):
        ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, measure="dice"
        )


# null, empty, punctuation-only, fewer than n, exactly n and repeated tokens
EDGE_TEXTS = [
    None, "", "!!! ,,, ...", "one", "One two", "one, two; THREE",
    "x x x x x", "  a b a b a b  ", " ".join(WORDS),
]


def _py_shingles(text, n):
    if text is None:
        return [None]
    toks = _py_tokenize(text)
    return [" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))]


def _py_minhash(text, num_hashes, n):
    def md5_long(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sh = _py_shingles(text, n)
    if sh == [None]:
        return [None] * num_hashes
    return [min(md5_long(f"{s}#{i}") for s in sh) for i in range(num_hashes)]


@pytest.mark.prodconf
def test_shingles_and_minhash_match_python_reference(spark):
    docs = spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id int, text string"
    )
    for n in (1, 2, 3, 8):
        got = dict(docs.select("doc_id", shingles("text", n)).collect())
        assert got == {i: _py_shingles(t, n) for i, t in enumerate(EDGE_TEXTS)}, n
    for num_hashes, n in ((8, 3), (4, 2)):
        got = dict(
            docs.select("doc_id", minhash_signature("text", num_hashes, n)).collect()
        )
        want = {i: _py_minhash(t, num_hashes, n) for i, t in enumerate(EDGE_TEXTS)}
        assert got == want, (num_hashes, n)


@pytest.mark.prodconf
def test_minhash_signature_tokenizes_once(spark):
    """The token and shingle arrays are bound once per row: an inlined
    tokenizer inside a lambda would be re-run per shingle and per hash,
    and would show up as one ``split(`` per reference in the plan."""
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    plan = (
        docs.select(minhash_signature("text").alias("sig"))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan
