"""Training-data-pipeline text/dedup queries (BASELINE north star):
token counting, quality scoring, language ID, fingerprinting, chunking,
exact dedup, MinHash signatures, SimHash, n-gram Jaccard pairs,
embedding-cosine near-dup pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark import oracle as O
from neurondb_spark.functions.text import (
    chunk_text,
    detect_language,
    quality_score,
    sql_doc_fingerprint,
    sql_tokenize,
    token_count,
    tokenize,
)
from neurondb_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_neardup_pairs,
    substring_dup_stats,
)
from neurondb_spark.registry.common import EMB_DIM, t, tp
from neurondb_spark.registry.fixtures import fixture

NUM_MINHASHES = 8


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_obs"),
        quality_score("text").alias("quality"),
    )


def _sql_text_stats() -> str:
    toks = sql_tokenize("text")
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = "CAST(length(text) AS DOUBLE)"
    alpha = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    stop = f"CAST(len(list_filter({toks}, x -> x IN ('the','and','of','to','in','a','is'))) AS DOUBLE)"
    uniq = f"CAST(len(list_distinct({toks})) AS DOUBLE)"
    len_score = f"least({n_tok} / 100.0, 1.0)"
    alpha_ratio = f"(CASE WHEN {n_chars} = 0.0 THEN 0.0 ELSE {alpha} / {n_chars} END)"
    stop_score = f"least({stop} / greatest({n_tok} * 0.05, 1.0), 1.0)"
    rep_score = f"(CASE WHEN {n_tok} = 0.0 THEN 0.0 ELSE {uniq} / {n_tok} END)"
    return f"""SELECT doc_id,
  CAST(len({toks}) AS INTEGER) AS n_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_obs,
  (({len_score}) + ({alpha_ratio}) + ({stop_score}) + ({rep_score})) / 4.0 AS quality
FROM documents"""


def _q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row tokenize+filter is CPU-bound: parallelize the single-file
    # scan (2.3s → 0.7s at sf0.1, shuffle included)
    docs = tp(spark, sf_dir, "documents")
    return (
        docs.select(detect_language("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_LANG_WORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es": ("el", "la", "de", "que", "los", "se", "las", "por", "un", "una"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ein", "ich", "mit", "sie"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que", "pour", "qui"),
}


def _sql_lang_detect() -> str:
    toks = sql_tokenize("text")
    cnts = {
        lang: "len(list_filter(%s, x -> x IN (%s)))"
        % (toks, ", ".join(f"'{x}'" for x in w))
        for lang, w in _LANG_WORDS.items()
    }
    # same argmax with fixed priority order en,es,de,fr; strictly-greater wins
    expr = "'en'"
    best = cnts["en"]
    for lang in ("es", "de", "fr"):
        expr = f"(CASE WHEN {cnts[lang]} > ({best}) THEN '{lang}' ELSE {expr} END)"
        best = f"greatest({best}, {cnts[lang]})"
    return f"""SELECT lang_pred, COUNT(*) AS n_docs FROM (
  SELECT (CASE WHEN ({best}) > 0 THEN {expr} ELSE 'unknown' END) AS lang_pred
  FROM documents)
GROUP BY lang_pred"""


def _q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def _sql_fingerprint_dedup() -> str:
    fp = sql_doc_fingerprint("text")
    return f"""SELECT {fp} AS fingerprint, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1"""


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sig = minhash_signature("text", NUM_MINHASHES, 3)
    cols = [F.element_at(sig, i + 1).alias(f"mh{i}") for i in range(NUM_MINHASHES)]
    return docs.select("doc_id", *cols)


def _sql_minhash_signatures() -> str:
    toks = sql_tokenize("text")
    sh = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 1)), "
        f"i -> array_to_string({toks}[i:i+2], ' '))"
    )
    cols = []
    for i in range(NUM_MINHASHES):
        hashed = (
            f"list_transform({sh}, s -> CAST(('0x' || substr(md5(s || '#{i}'), 1, 15)) AS BIGINT))"
        )
        cols.append(f"list_min({hashed}) AS mh{i}")
    return f"SELECT doc_id, {', '.join(cols)} FROM documents"


def _q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (operators/dedup.py:76 — the
    scale-path near-dup join: shuffle keys are (band, band_signature)
    buckets, never all-pairs). Banding is a DETERMINISTIC function of the
    signatures, so the oracle recomputes the same md5 minhashes and the
    same band join — exact, not rows-only."""
    docs = t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=NUM_MINHASHES, bands=4, shingle_n=3
    )


def _sql_minhash_lsh_pairs(bands: int = 4) -> str:
    toks = sql_tokenize("text")
    sh = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 1)), "
        f"i -> array_to_string({toks}[i:i+2], ' '))"
    )
    mh_cols = []
    for i in range(NUM_MINHASHES):
        hashed = (
            f"list_transform({sh}, s -> CAST(('0x' || substr(md5(s || '#{i}'), 1, 15)) AS BIGINT))"
        )
        mh_cols.append(f"list_min({hashed}) AS mh{i}")
    rpb = NUM_MINHASHES // bands
    band_rows = []
    for b in range(bands):
        bsig = " || '_' || ".join(
            f"CAST(mh{b * rpb + j} AS VARCHAR)" for j in range(rpb)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, {bsig} AS bsig FROM sig"
        )
    return f"""WITH sig AS MATERIALIZED (
  SELECT doc_id, {', '.join(mh_cols)} FROM documents),
bandsig AS ({' UNION ALL '.join(band_rows)})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bandsig a JOIN bandsig b
  ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id"""


_MIX_TARGETS = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}
_MIX_TOTAL, _MIX_SEED = 400, 42


def _q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture sampling (operators/corpus.py
    stratified_mix): per-language keep-rates from target corpus shares,
    selection by md5-hash uniform — the LLM data-mixing primitive, fully
    replayable (no RNG state). At sf0.01 the de/es strata hit the rate
    cap (count < target), exercising the up-capped mixture branch."""
    from neurondb_spark.operators.corpus import stratified_mix

    docs = t(spark, sf_dir, "documents")
    return stratified_mix(
        docs, "lang", "doc_id", _MIX_TARGETS, _MIX_TOTAL, seed=_MIX_SEED
    ).select("doc_id", "lang")


def _sql_corpus_mix() -> str:
    vals = ", ".join(
        f"('{k}', {O.dlit(float(v))})" for k, v in sorted(_MIX_TARGETS.items())
    )
    u = (
        f"(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || "
        f"'#{_MIX_SEED}'), 1, 15)) AS BIGINT) / 1152921504606846976.0)"
    )
    return f"""WITH tgt(lang, share) AS (VALUES {vals}),
counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
rates AS (
  SELECT c.lang,
         least(1.0, (t.share * {O.dlit(float(_MIX_TOTAL))}) / CAST(c.n AS DOUBLE)) AS rate
  FROM counts c JOIN tgt t ON c.lang = t.lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {u} < r.rate"""


def _q_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM quality scoring (operators/corpus.py
    trigram_lm_scores): fit on the corpus, score each doc by its
    decimal-exact mean in-model trigram probability — the
    perplexity-style statistical quality filter, transcendental-free so
    it sits under the hash gate."""
    from neurondb_spark.operators.corpus import trigram_lm_scores

    docs = tp(spark, sf_dir, "documents")
    return trigram_lm_scores(docs, "text", "doc_id")


def _sql_trigram_lm() -> str:
    from neurondb_spark.operators.corpus import LM_VOCAB

    half_v = O.dlit(0.5 * LM_VOCAB)
    return f"""WITH norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS nt
  FROM documents),
tris AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(length(nt) - 2, 1)),
           i -> substr(nt, i, 3))) AS tri
  FROM norm),
tc AS (SELECT tri, COUNT(*) AS c FROM tris GROUP BY tri),
cc AS (SELECT substr(tri, 1, 2) AS ctx, SUM(c) AS n FROM tc GROUP BY 1),
model AS (
  SELECT tc.tri,
         (CAST(c AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + {half_v}) AS p
  FROM tc JOIN cc ON substr(tc.tri, 1, 2) = cc.ctx)
SELECT t.doc_id, COUNT(*) AS n_trigrams, {O.davg('m.p')} AS mean_tri_prob
FROM tris t JOIN model m ON t.tri = m.tri
GROUP BY t.doc_id"""


_TBM_BUDGET = 25_000  # tokens


def _q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing (operators/corpus.token_budget_mix —
    the form a training run actually specifies: "x tokens of web, y of
    code"): per-language keep-rate = min(1, share·budget / stratum
    tokens), selection by the same md5-uniform filter as
    corpus_mix_sample; output = the selected docs plus their token
    counts so the oracle checks both membership AND the token
    accounting. One map-side-combined token aggregate broadcast back;
    selection is a pure map."""
    from neurondb_spark.functions.text import token_count
    from neurondb_spark.operators.corpus import token_budget_mix

    docs = t(spark, sf_dir, "documents")
    out = token_budget_mix(
        docs, "lang", "doc_id", "text", _MIX_TARGETS, _TBM_BUDGET,
        seed=_MIX_SEED,
    )
    return out.select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )


def _sql_token_budget_mix() -> str:
    toks = sql_tokenize("text")
    vals = ", ".join(
        f"('{k}', {O.dlit(float(v))})" for k, v in sorted(_MIX_TARGETS.items())
    )
    u = (
        f"(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || "
        f"'#{_MIX_SEED}'), 1, 15)) AS BIGINT) / 1152921504606846976.0)"
    )
    return f"""WITH tgt(lang, share) AS (VALUES {vals}),
tk AS (SELECT lang, SUM(CAST(len({toks}) AS BIGINT)) AS tok
       FROM documents GROUP BY lang),
rates AS (
  SELECT tk.lang,
         least(1.0, (t.share * {O.dlit(float(_TBM_BUDGET))})
               / CAST(tok AS DOUBLE)) AS rate
  FROM tk JOIN tgt t ON t.lang = tk.lang)
SELECT d.doc_id, d.lang, CAST(len({toks}) AS INTEGER) AS n_tokens
FROM documents d JOIN rates r ON r.lang = d.lang
WHERE {u} < r.rate"""


def _q_neardup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate RESOLUTION under the hash gate (graduated from
    pytest-only per the r6 coverage table): MinHash-LSH candidate pairs
    (the oracle-proven minhash_lsh_pairs edges) → connected components →
    min-id survivor per duplicate cluster, keep/drop for EVERY doc —
    the decision table a dedup pipeline applies (pairs are not
    transitive; A~B, B~C must collapse to one survivor). The oracle
    replays the pairs then closes them with a recursive transitive
    closure + GROUP BY MIN (the graph_connected_components recipe)."""
    from neurondb_spark.operators.corpus import neardup_resolve
    from neurondb_spark.operators.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id")
    out = neardup_resolve(docs, "doc_id", pairs)
    return out.select(
        "doc_id",
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        F.col("keep").cast("int").alias("keep"),
    )


def _sql_neardup_resolve() -> str:
    return f"""WITH RECURSIVE pairs AS ({_sql_minhash_lsh_pairs()}),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node),
comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(c.comp, d.doc_id) AS BIGINT) AS cluster_rep,
       CAST((COALESCE(c.comp, d.doc_id) = d.doc_id) AS INT) AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id"""


def _q_neardup_resolve_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup resolution with the QUALITY survivor policy: same
    MinHash-LSH pairs → components, but each cluster keeps its LONGEST
    document (n_chars desc, ties to the lower id) instead of the min id
    — the policy a curation pipeline actually applies (the shortest
    copy is usually the truncated one). One extra window over
    cluster-cardinality rows; cluster_rep stays the min-id label."""
    from neurondb_spark.operators.corpus import neardup_resolve
    from neurondb_spark.operators.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc_id")
    out = neardup_resolve(docs, "doc_id", pairs, rank_col="n_chars")
    return out.select(
        "doc_id",
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        F.col("keep").cast("int").alias("keep"),
    )


def _sql_neardup_resolve_quality() -> str:
    return f"""WITH RECURSIVE pairs AS ({_sql_minhash_lsh_pairs()}),
und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node),
comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
labeled AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(c.comp, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(cluster_rep AS BIGINT) AS cluster_rep,
       CAST((ROW_NUMBER() OVER (PARTITION BY cluster_rep
             ORDER BY n_chars DESC, doc_id ASC) = 1) AS INT) AS keep
FROM labeled"""


_QUANTILES = [0.25, 0.5, 0.9, 0.99]


def _q_token_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language token-length quantiles via the histogram +
    cumulative-rank operator (operators/corpus.py exact_group_quantiles)
    — no global sort, no per-group collect, no sketch: the 100 TB way
    to put exact percentiles on a data card. Nearest-rank semantics."""
    from neurondb_spark.operators.corpus import exact_group_quantiles

    docs = t(spark, sf_dir, "documents").select(
        "lang", token_count("text").cast("long").alias("tok")
    )
    return exact_group_quantiles(docs, "tok", "lang", _QUANTILES)


def _sql_token_length_quantiles() -> str:
    toks = sql_tokenize("text")
    cols = []
    for q in _QUANTILES:
        name = f"p{q * 100:g}".replace(".", "_")
        cols.append(
            f"MIN(CASE WHEN cum >= CEIL({O.dlit(float(q))} * "
            f"CAST(n AS DOUBLE)) THEN v END) AS {name}"
        )
    return f"""WITH hist AS (
  SELECT lang, CAST(len({toks}) AS BIGINT) AS v, COUNT(*) AS c
  FROM documents GROUP BY lang, v),
enr AS (
  SELECT lang, v,
    SUM(c) OVER (PARTITION BY lang ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist)
SELECT lang, {', '.join(cols)}
FROM enr GROUP BY lang"""


_TEMP_TAU, _TEMP_TOTAL, _TEMP_SEED = 0.5, 400, 11


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sample (operators/corpus.py
    temperature_mix, tau=0.5): low-resource languages upsampled toward
    p^tau-proportional shares — the mT5/XLM-R rebalancing knob. tau=0.5
    routes through IEEE-exact sqrt and the normalizing sum is an
    ordered fold, so membership is hash-exact against the oracle."""
    from neurondb_spark.operators.corpus import temperature_mix

    docs = t(spark, sf_dir, "documents")
    return temperature_mix(
        docs, "lang", "doc_id", _TEMP_TAU, _TEMP_TOTAL, seed=_TEMP_SEED
    ).select("doc_id", "lang")


def _sql_temperature_mix() -> str:
    u = (
        f"(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || "
        f"'#{_TEMP_SEED}'), 1, 15)) AS BIGINT) / 1152921504606846976.0)"
    )
    return f"""WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nt FROM counts),
w AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE) / nt) AS w
      FROM counts CROSS JOIN tot),
den AS (SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS dn
        FROM w),
rates AS (
  SELECT lang,
         least(1.0, ((w / dn) * {O.dlit(float(_TEMP_TOTAL))})
               / CAST(n AS DOUBLE)) AS rate
  FROM w CROSS JOIN den)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE {u} < r.rate"""


_VOCAB_TOP = 200


def _q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table (tokenizer-training primitive): token →
    total occurrences and document frequency, top-K by count (ties to
    token order) — the input a BPE/unigram tokenizer trainer starts
    from. One explode + one combiner-heavy groupBy; at 100 TB the token
    key-space is Heaps-law-bounded, far below the row count, so the
    map-side combine does almost all the work."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(tokenize("text")).alias("token")
        )
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("token").asc())
        .limit(_VOCAB_TOP)
    )


def _sql_vocab_top_tokens() -> str:
    toks = sql_tokenize("text")
    return f"""SELECT token, COUNT(*) AS occurrences,
  COUNT(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest({toks}) AS token FROM documents)
GROUP BY token
ORDER BY occurrences DESC, token ASC
LIMIT {_VOCAB_TOP}"""


_DATACARD_SHORT = 20


def _q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus data card (operators/corpus.py
    corpus_datacard): doc/source counts, token/char mass, exact-dup and
    short-doc counts, mean tokens — the summary table published with a
    training set, composed from the oracle-proven primitives."""
    from neurondb_spark.operators.corpus import corpus_datacard

    docs = t(spark, sf_dir, "documents")
    return corpus_datacard(
        docs, "text", "doc_id", "lang", "source",
        short_tokens=_DATACARD_SHORT,
    )


def _sql_corpus_datacard() -> str:
    toks = sql_tokenize("text")
    fp = sql_doc_fingerprint("text")
    return f"""WITH base AS (
  SELECT lang, source AS src,
         CAST(len({toks}) AS BIGINT) AS tok,
         CAST(length(text) AS BIGINT) AS chars,
         {fp} AS fp
  FROM documents),
dups AS (
  SELECT lang, CAST(SUM(nfp) AS BIGINT) AS exact_dup_docs FROM (
    SELECT lang, fp, COUNT(*) AS nfp FROM base GROUP BY lang, fp
    HAVING COUNT(*) >= 2)
  GROUP BY lang)
SELECT b.lang, COUNT(*) AS n_docs,
  COUNT(DISTINCT b.src) AS n_sources,
  CAST(SUM(b.tok) AS BIGINT) AS total_tokens,
  CAST(SUM(b.chars) AS BIGINT) AS total_chars,
  CAST(SUM(CASE WHEN b.tok < {_DATACARD_SHORT} THEN 1 ELSE 0 END)
    AS BIGINT) AS short_docs,
  {O.davg('b.tok')} AS avg_tokens,
  COALESCE(ANY_VALUE(d.exact_dup_docs), 0) AS exact_dup_docs
FROM base b LEFT JOIN dups d ON b.lang = d.lang
GROUP BY b.lang"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SEED = 7


def _q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/corpus.py
    split_corpus): the split label is a pure function of (doc_id, seed)
    — re-runs, backfills and engines agree row-by-row (randomSplit is
    partition-order dependent and cannot be oracle-checked). Gate output
    is the per-(split, lang) count table."""
    from neurondb_spark.operators.corpus import split_corpus

    docs = t(spark, sf_dir, "documents")
    return (
        split_corpus(docs, "doc_id", _SPLIT_WEIGHTS, seed=_SPLIT_SEED)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_corpus_split() -> str:
    u = (
        f"(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
        f"'#{_SPLIT_SEED}'), 1, 15)) AS BIGINT) / 1152921504606846976.0)"
    )
    # identical float accumulation as split_corpus: thresholds are the
    # exact doubles the Spark side compares against
    labels = sorted(_SPLIT_WEIGHTS)
    acc = 0.0
    branches = []
    for name in labels[:-1]:
        acc += float(_SPLIT_WEIGHTS[name])
        branches.append(f"WHEN {u} < {O.dlit(acc)} THEN '{name}'")
    case = f"CASE {' '.join(branches)} ELSE '{labels[-1]}' END"
    return f"""SELECT {case} AS split, lang, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, lang"""


_DECON_N = 8  # 8-gram collision ≈ verbatim benchmark inclusion
_DECON_BENCH_MAX = 20


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.decontaminate): flag
    corpus docs sharing any word 8-gram with the 'benchmark' slice
    (doc_id ≤ 20 stands in for an eval set) — the standard
    eval-contamination filter; benchmark shingles broadcast, corpus side
    is one explode + join + groupBy."""
    from neurondb_spark.operators.corpus import decontaminate

    docs = t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") <= _DECON_BENCH_MAX)
    return decontaminate(
        docs, "text", "doc_id", bench, "text", ngram_n=_DECON_N
    )


def _sql_decontaminate() -> str:
    toks = sql_tokenize("text")
    sh = (
        f"list_transform(generate_series(1, greatest(len(tk) - {_DECON_N - 1}, 1)), "
        f"i -> array_to_string(tk[i:i+{_DECON_N - 1}], ' '))"
    )
    return f"""WITH toks AS (SELECT doc_id, {toks} AS tk FROM documents),
sh AS (SELECT doc_id, unnest({sh}) AS s FROM toks),
dsh AS (SELECT DISTINCT doc_id, s FROM sh),
bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id <= {_DECON_BENCH_MAX}),
hits AS (SELECT d.doc_id, COUNT(*) AS n
         FROM dsh d JOIN bsh ON d.s = bsh.s GROUP BY d.doc_id)
SELECT t.doc_id,
       COALESCE(h.n, 0) AS n_contaminated_ngrams,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM documents t LEFT JOIN hits h ON t.doc_id = h.doc_id"""


def _q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/corpus.pii_counts /
    redact_pii): plant synthetic emails/phones/IPs in 1-in-7 docs (the
    raw corpus has none), count matches per category, and hash the
    redacted text — pure regexp expressions kept to the Java-regex ∩ RE2
    subset so the oracle replays them."""
    from neurondb_spark.operators.corpus import pii_counts, redact_pii

    docs = t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "_t2",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 (555) 010-"),
                F.lpad(F.col("doc_id").cast("string"), 4, "0"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 255).cast("string"), F.lit(".1"),
            ),
        ).otherwise(F.col("text")),
    )
    cnts = pii_counts("_t2")
    return aug.select(
        "doc_id",
        cnts["email"].alias("n_email"),
        cnts["phone"].alias("n_phone"),
        cnts["ipv4"].alias("n_ipv4"),
        F.md5(redact_pii("_t2")).alias("redacted_md5"),
    )


def _sql_pii_stats() -> str:
    from neurondb_spark.operators.corpus import PII_PATTERNS

    t2 = (
        "(CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || "
        "CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-' || "
        "lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' from 10.0.' || "
        "CAST(doc_id % 255 AS VARCHAR) || '.1' ELSE text END)"
    )
    red = "t2"
    for pat in PII_PATTERNS.values():
        esc = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '[PII]', 'g')"
    cnt = {
        name: f"len(regexp_extract_all(t2, '{pat}'))"
        for name, pat in PII_PATTERNS.items()
    }
    return f"""WITH aug AS (SELECT doc_id, {t2} AS t2 FROM documents)
SELECT doc_id,
       CAST({cnt['email']} AS INTEGER) AS n_email,
       CAST({cnt['phone']} AS INTEGER) AS n_phone,
       CAST({cnt['ipv4']} AS INTEGER) AS n_ipv4,
       md5({red}) AS redacted_md5
FROM aug"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash("text", 16).alias("simhash16"))


def _sql_simhash_expr(bits: int = 16) -> str:
    """DuckDB expression for the ``bits``-bit simhash of ``text``."""
    toks = sql_tokenize("text")
    h = f"list_transform({toks}, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))"
    out = []
    for j in range(bits):
        vote = (
            f"list_aggregate(list_transform({h}, x -> CASE WHEN (x >> {j}) & 1 = 1 "
            f"THEN 1 ELSE -1 END), 'sum')"
        )
        out.append(f"(CASE WHEN ({vote}) > 0 THEN {2 ** j} ELSE 0 END)")
    return f"CAST({' + '.join(out)} AS BIGINT)"


def _sql_simhash() -> str:
    return f"SELECT doc_id, {_sql_simhash_expr(16)} AS simhash16 FROM documents"


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=2, bits=32)


def _sql_simhash_pairs() -> str:
    # oracle is the SEMANTIC contract (all pairs with Hamming <= 2);
    # banded blocking has full recall by pigeonhole, so they must agree
    return f"""WITH s AS (SELECT doc_id, {_sql_simhash_expr(32)} AS sh FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 2"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.03, shingle_n=3, block_col="lang",
        max_df=20,
    )


def _sql_ngram_jaccard() -> str:
    toks = sql_tokenize("text")
    sh = (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks}) - 2, 1)), "
        f"i -> CAST(('0x' || substr(md5(array_to_string({toks}[i:i+2], ' ')), 1, 15)) AS BIGINT)))"
    )
    return f"""WITH s AS (SELECT doc_id, lang, {sh} AS sh FROM documents),
ex0 AS (SELECT doc_id, lang, unnest(sh) AS sing FROM s),
keep AS (SELECT sing FROM ex0 GROUP BY sing HAVING COUNT(*) <= 20),
ex AS (SELECT ex0.* FROM ex0 JOIN keep ON ex0.sing = keep.sing),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM ex a JOIN ex b
    ON a.sing = b.sing AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard_sim
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.03"""


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (overlap-coefficient) dedup pairs — the substring-dedup
    analog for training pipelines (operators/dedup.py:
    ngram_containment_pairs): same inverted shingle index as the Jaccard
    row, final score |A∩B|/min(|A|,|B|) so boilerplate-inclusion pairs
    that Jaccard under-scores cross the bar."""
    from neurondb_spark.operators.dedup import ngram_containment_pairs

    docs = t(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, "text", "doc_id", threshold=0.12, shingle_n=3,
        block_col="lang", max_df=20,
    )


def _sql_ngram_containment() -> str:
    toks = sql_tokenize("text")
    sh = (
        f"list_distinct(list_transform(generate_series(1, greatest(len({toks}) - 2, 1)), "
        f"i -> CAST(('0x' || substr(md5(array_to_string({toks}[i:i+2], ' ')), 1, 15)) AS BIGINT)))"
    )
    c = "CAST(c AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)"
    return f"""WITH s AS (SELECT doc_id, lang, {sh} AS sh FROM documents),
ex0 AS (SELECT doc_id, lang, unnest(sh) AS sing FROM s),
keep AS (SELECT sing FROM ex0 GROUP BY sing HAVING COUNT(*) <= 20),
ex AS (SELECT ex0.* FROM ex0 JOIN keep ON ex0.sing = keep.sing),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM ex a JOIN ex b
    ON a.sing = b.sing AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, {c} AS containment
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE {c} >= 0.12"""


# gate LSH blocking config: 4 bands x 8 bits = 256 buckets/band (oracle SQL
# stays tractable; production defaults in dedup.py are 8 x 16)
_ND_BANDS, _ND_BITS, _ND_SEED = 4, 8, 42


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.25, dim=EMB_DIM,
        bands=_ND_BANDS, band_bits=_ND_BITS, seed=_ND_SEED,
    )


def _sql_lsh_band(planes: list[list[float]]) -> str:
    """DuckDB expression for one hyperplane-LSH band value of ``embedding``
    — identical arithmetic to index/lsh.py signature_expr (left-assoc dot
    of DOUBLE-cast elements with string-cast double literals)."""
    bits = []
    for b, plane in enumerate(planes):
        dot = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * CAST('{w!r}' AS DOUBLE)"
            for i, w in enumerate(plane)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {2 ** b} ELSE 0 END)")
    return f"CAST({' + '.join(bits)} AS BIGINT)"


def _sql_embedding_neardup() -> str:
    from neurondb_spark.index.lsh import _hyperplanes

    planes = _hyperplanes(EMB_DIM, _ND_BANDS * _ND_BITS, _ND_SEED)
    band_cols = ", ".join(
        f"{_sql_lsh_band(planes[j * _ND_BITS:(j + 1) * _ND_BITS])} AS b{j}"
        for j in range(_ND_BANDS)
    )
    any_band = " OR ".join(f"a.b{j} = b.b{j}" for j in range(_ND_BANDS))
    sim = O.sql_cosine_similarity("a.embedding", "b.embedding", EMB_DIM)
    return f"""WITH s AS (SELECT vec_id, embedding, {band_cols} FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {sim} AS cosine_sim
FROM s a JOIN s b ON ({any_band}) AND a.vec_id < b.vec_id
WHERE {sim} >= 0.25"""


def _q_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") <= 50)
    ch = chunk_text("text", 120, 20)
    return docs.select(
        "doc_id", F.posexplode(ch).alias("chunk_idx0", "chunk")
    ).select("doc_id", (F.col("chunk_idx0") + 1).cast("int").alias("chunk_idx"), "chunk")


def _sql_chunks() -> str:
    return """WITH starts AS (
  SELECT doc_id, text, unnest(generate_series(1, greatest(length(text), 1), 100)) AS s
  FROM documents WHERE doc_id <= 50)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS INTEGER) AS chunk_idx,
       substr(text, s, 120) AS chunk
FROM starts"""


_NLP_CATS = {
    "db": ["query", "index", "join", "table", "sql"],
    "ml": ["model", "training", "vector", "embedding", "learning"],
    "ops": ["deploy", "monitor", "alert", "cluster", "server"],
}


def _q_nlp_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic NLP tier (ml_nlp_production.c:40-379): sentiment lexicon
    score, keyword-argmax classification (declaration-order tie-break),
    capitalized-entity count — per document, all expressions."""
    from neurondb_spark.functions.nlp import (
        classify_text,
        extract_entities,
        sentiment_score,
    )

    docs = tp(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        sentiment_score("text").alias("sentiment"),
        classify_text("text", _NLP_CATS).alias("category"),
        F.size(extract_entities("text")).alias("n_entities"),
    )


def _sql_nlp_classify() -> str:
    from neurondb_spark.functions.nlp import _NEG, _POS

    toks = sql_tokenize("text")
    def hits(words):
        lst = ", ".join(f"'{w}'" for w in words)
        return f"CAST(len(list_filter({toks}, t -> t IN ({lst}))) AS DOUBLE)"

    pos, neg = hits(_POS), hits(_NEG)
    n = f"CAST(len({toks}) AS DOUBLE)"
    sent = f"(CASE WHEN {n} = 0.0 THEN 0.0 ELSE ({pos} - {neg}) / {n} END)"
    # sequential argmax with declaration-order tie-break — unrolled to the
    # same comparison chain classify_text builds
    cats = list(_NLP_CATS.items())
    b, c = f"'{cats[0][0]}'", hits(cats[0][1])
    for label, words in cats[1:]:
        ci = hits(words)
        b = f"(CASE WHEN {ci} > {c} THEN '{label}' ELSE {b} END)"
        c = f"(CASE WHEN {ci} > {c} THEN {ci} ELSE {c} END)"
    category = f"(CASE WHEN {c} > 0 THEN {b} ELSE 'other' END)"
    tail = "list_slice(regexp_split_to_array(text, '\\s+'), 2, 1000000)"
    ents = (
        f"len(list_distinct(list_filter({tail}, "
        f"w -> regexp_full_match(w, '[A-Z][a-z]+'))))"
    )
    return f"""SELECT doc_id, {sent} AS sentiment, {category} AS category,
  CAST({ents} AS INTEGER) AS n_entities
FROM documents"""


_ZS_LABELS = ["spark query engine", "stream window batch", "table scan filter"]
_QA_QUESTION = "where does the hash join merge the sort table"
# Documents are unpunctuated token streams; both sides synthesize
# identical sentence boundaries (a period after every 5th word) so the
# extractive-QA sentence scan has real structure to select over.
_QA_SENT_RE = r"((?:\w+ ){4}\w+) "


def _q_zero_shot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neurondb.zero_shot_classify heuristic tier (functions/nlp.py:115,
    task wrappers neurondb--1.0.sql:5471-5774): argmax label-word overlap
    with declaration-order tie-break, no hit → 'other'."""
    from neurondb_spark.functions.nlp import zero_shot_classify

    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", zero_shot_classify("text", _ZS_LABELS).alias("zs_label")
    )


def _sql_zero_shot() -> str:
    from neurondb_spark.functions.nlp import _py_label_words

    toks = sql_tokenize("text")

    def hits(words):
        lst = ", ".join(f"'{w}'" for w in words)
        return f"CAST(len(list_filter({toks}, t -> t IN ({lst}))) AS BIGINT)"

    cats = [(lab, _py_label_words(lab)) for lab in _ZS_LABELS]
    b, c = f"'{cats[0][0]}'", hits(cats[0][1])
    for label, words in cats[1:]:
        ci = hits(words)
        b = f"(CASE WHEN {ci} > {c} THEN '{label}' ELSE {b} END)"
        c = f"(CASE WHEN {ci} > {c} THEN {ci} ELSE {c} END)"
    return (
        f"SELECT doc_id, (CASE WHEN {c} > 0 THEN {b} ELSE 'other' END) "
        f"AS zs_label FROM documents"
    )


def _q_answer_question(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neurondb.answer_question heuristic tier (functions/nlp.py:129,
    ml_nlp_production.c): extractive QA — the context sentence with the
    highest distinct-question-token overlap, first sentence on ties."""
    from neurondb_spark.functions.nlp import answer_question

    docs = t(spark, sf_dir, "documents")
    ctx = F.regexp_replace(F.col("text"), _QA_SENT_RE, "$1. ")
    return docs.select(
        "doc_id", answer_question(_QA_QUESTION, ctx).alias("answer")
    )


def _sql_answer_question() -> str:
    from neurondb_spark.functions.text import _py_tokenize

    qtok = []
    for tok in _py_tokenize(_QA_QUESTION):
        if tok not in qtok:
            qtok.append(tok)
    stoks = sql_tokenize("sent")
    score = " + ".join(
        f"(CASE WHEN list_contains({stoks}, '{w}') THEN 1 ELSE 0 END)"
        for w in qtok
    )
    # Spark splits on (?<=[.!?])\s+ (lookbehind); RE2 has no lookbehind,
    # so re-emit the punctuation and split on a control char — identical
    # sentences for this context shape (single-space separators).
    return rf"""WITH ctx AS (
  SELECT doc_id, string_split(
    regexp_replace(
      regexp_replace(text, '{_QA_SENT_RE}', '\1. ', 'g'),
      '([.!?]) ', '\1' || chr(1), 'g'),
    chr(1)) AS sents
  FROM documents),
s1 AS (SELECT doc_id, sents,
              unnest(generate_series(1, len(sents))) AS idx FROM ctx),
s2 AS (SELECT doc_id, idx, sents[idx] AS sent FROM s1),
ranked AS (
  SELECT doc_id, sent,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY ({score}) DESC, idx ASC) AS rnk
  FROM s2)
SELECT doc_id, sent AS answer FROM ranked WHERE rnk = 1"""


def _q_fill_mask_t2t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """neurondb.fill_mask + text2text task router heuristic tiers
    (functions/nlp.py:161,169; task wrappers neurondb--1.0.sql:5471-5774):
    mask a deterministic token, fill it back, and route summarize (first-2
    sentences over synthesized boundaries) + uppercase through the
    text2text dispatcher — all string-exact."""
    from neurondb_spark.functions.nlp import fill_mask, text2text

    docs = t(spark, sf_dir, "documents")
    masked = F.regexp_replace(F.col("text"), r"\bdata\b", "[MASK]")
    sent_ctx = F.regexp_replace(F.col("text"), _QA_SENT_RE, "$1. ")
    return docs.select(
        "doc_id",
        fill_mask(masked).alias("filled"),
        text2text(sent_ctx, "summarize").alias("summary"),
        text2text(F.substring(F.col("text"), 1, 40), "uppercase").alias("upper_head"),
    )


def _sql_fill_mask_t2t() -> str:
    # Same lookbehind workaround as _sql_answer_question: re-emit the
    # punctuation and split on a control char.
    return rf"""WITH s AS (
  SELECT doc_id, text,
    string_split(regexp_replace(
        regexp_replace(text, '{_QA_SENT_RE}', '\1. ', 'g'),
        '([.!?]) ', '\1' || chr(1), 'g'), chr(1)) AS sents
  FROM documents)
SELECT doc_id,
  replace(regexp_replace(text, '\bdata\b', '[MASK]', 'g'), '[MASK]', 'the')
    AS filled,
  array_to_string(list_slice(sents, 1, 2), ' ') AS summary,
  upper(substr(text, 1, 40)) AS upper_head
FROM s"""


def _q_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition quality filters (functions/repetition.py):
    top-bigram / top-trigram / duplicate-token fractions + keep verdict,
    all exact count ratios. Pure map-stage expressions — codegens into
    the scan, zero shuffle at any scale."""
    from neurondb_spark.functions.repetition import repetition_filters

    docs = tp(spark, sf_dir, "documents")
    return repetition_filters(docs, "text", "doc_id")


def _sql_repetition_filters() -> str:
    from neurondb_spark.functions.repetition import sql_repetition_filters

    return sql_repetition_filters("documents", "text", "doc_id")


def _q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup stats via winnowing fingerprints
    (operators/dedup.substring_dup_stats; Schleimer et al. SIGMOD'03 —
    the scalable stand-in for suffix-array substring dedup, the one
    curation-family member the r6 verdict flagged missing). k=8-char
    grams, window=10 → any >= 17-char span shared across two documents
    is guaranteed flagged in both. Every step (md5 gram hashes, windowed
    min, rightmost-argmax, cross-doc fingerprint match) is replayed by
    the DuckDB oracle bit-for-bit."""
    docs = tp(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return substring_dup_stats(docs, "text", "doc_id", k=8, window=10)


def _sql_winnow_ctes() -> str:
    """The winnowing-fingerprint oracle as reusable CTEs ending at
    ``fps (doc_id, fp_pos, fp_hash)`` — shared by the stats and pairs
    gate rows (k=8, window=10)."""
    h = "CAST(('0x' || substr(md5(substr(text, CAST(p AS INT), 8)), 1, 15)) AS BIGINT)"
    return f"""pos AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.text,
         GREATEST(length(d.text) - 7, 1) AS np,
         unnest(generate_series(1, GREATEST(length(d.text) - 7, 1))) AS p
  FROM documents d
), grams AS (
  SELECT doc_id, np, CAST(p AS BIGINT) AS p, {h} AS h FROM pos
), wmin AS (
  SELECT doc_id, np, p,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS minh
  FROM grams
), starts AS (
  SELECT doc_id, p AS w, minh FROM wmin
  WHERE p <= np - 9 OR (np < 10 AND p = 1)
), sel0 AS (
  SELECT s.doc_id, s.w, s.minh, MAX(g.p) AS fp_pos
  FROM starts s JOIN grams g
    ON g.doc_id = s.doc_id AND g.p >= s.w AND g.p <= s.w + 9
   AND g.h = s.minh
  GROUP BY s.doc_id, s.w, s.minh
), fps AS (
  SELECT DISTINCT doc_id, fp_pos, minh AS fp_hash FROM sel0
)"""


def _sql_substring_dup() -> str:
    return f"""WITH {_sql_winnow_ctes()}, shared AS (
  SELECT fp_hash FROM fps GROUP BY fp_hash
  HAVING COUNT(DISTINCT doc_id) >= 2
), dup AS (
  SELECT f.doc_id, COUNT(*) AS n_dup_fp FROM fps f
  WHERE f.fp_hash IN (SELECT fp_hash FROM shared) GROUP BY f.doc_id
), tot AS (
  SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
)
SELECT t.doc_id, CAST(t.n_fp AS BIGINT) AS n_fp,
       CAST(COALESCE(d.n_dup_fp, 0) AS BIGINT) AS n_dup_fp,
       CAST(COALESCE(d.n_dup_fp, 0) AS DOUBLE) / CAST(t.n_fp AS DOUBLE)
         AS dup_ratio
FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id"""


_SSP_MAX_DF = 20


def _q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate PAIRS (operators/dedup.
    substring_dup_pairs): documents sharing >= 1 winnowing fingerprint,
    with the shared-hash count — the pair decision table of
    suffix-array dedup, as a max_df-bounded bucket join (hashes in more
    than 20 docs are boilerplate, dropped before pairing)."""
    from neurondb_spark.operators.dedup import substring_dup_pairs

    docs = tp(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return substring_dup_pairs(
        docs, "text", "doc_id", k=8, window=10, max_df=_SSP_MAX_DF
    )


def _sql_substring_pairs() -> str:
    return f"""WITH {_sql_winnow_ctes()},
fh AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
kept AS (SELECT fp_hash FROM fh GROUP BY fp_hash
         HAVING COUNT(*) <= {_SSP_MAX_DF})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fh a JOIN fh b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
WHERE a.fp_hash IN (SELECT fp_hash FROM kept)
GROUP BY a.doc_id, b.doc_id"""


@fixture("quality_classifier",
         load=lambda spark, sf_dir, path: spark.read.parquet(path))
def _q_quality_classifier(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Trainable quality classifier (r6 verdict "Next round #5"): the
    curated-vs-crawl filter of training-data practice, trained with the
    oracle-exact fixed-GD logistic trainer (ml/stats.logreg_gd_exact —
    zero init, 2 iterations, rational sigmoid) and emitting the quality
    probability per doc that a pipeline thresholds. The clean synthetic
    corpus has no crawl side, so the gate plants one deterministically:
    odd doc_ids get their vowels stripped (wrecking trigram-LM score and
    stopword signal while leaving length alone) and are labeled 0;
    even doc_ids stay curated (label 1). Features: bias, length score,
    alpha ratio, top-2/3-gram fractions, duplicate-token fraction, and
    the trigram-LM score over the MIXED corpus — every feature AND the
    GD loop are SQL-replayable, so the trained model sits under the
    hash gate; pytest asserts it actually separates the classes.
    100 TB: feature build is pure expressions + the bounded trigram
    model broadcast; each GD iteration is one map-side-combined
    gradient reduction over 7 positions. A fixture: trained once per
    input set, so the curation pipeline's classifier stage reads the
    same scores instead of re-fitting."""
    from neurondb_spark.functions.repetition import repetition_filters
    from neurondb_spark.ml.stats import logreg_gd_exact
    from neurondb_spark.operators.corpus import trigram_lm_scores

    docs = tp(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.regexp_replace(F.col("text"), "[aeiou]", ""),
        ).otherwise(F.col("text")).alias("text"),
        (1.0 - (F.col("doc_id") % 2)).cast("double").alias("y"),
    ).localCheckpoint(eager=True)
    # ^ materialize the mixed text once: substituting the CASE/regexp
    # expression into every nested lambda of the n-gram features pushes
    # the generated code past the 64 KB codegen limit (interpreted mode,
    # 25s at sf0.1); against the plain materialized column the same
    # features cost ~0.3s.
    from neurondb_spark.functions.aggregates import davg

    tri = trigram_lm_scores(docs, "text", "doc_id").select(
        "doc_id", "mean_tri_prob"
    )
    rep = repetition_filters(docs, "text", "doc_id")
    t_ = F.col("text")
    toks = tokenize(t_)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(t_).cast("double")
    alpha = F.length(F.regexp_replace(t_, "[^A-Za-z]", "")).cast("double")
    base = docs.select(
        "doc_id", "y",
        F.least(n_tok / F.lit(100.0), F.lit(1.0)).alias("f_len"),
        F.when(n_chars == 0.0, F.lit(0.0)).otherwise(alpha / n_chars)
        .alias("f_alpha"),
    )
    fx = (
        base.join(rep, "doc_id").join(tri, "doc_id")
        .select("doc_id", "y", "f_len", "f_alpha", "top2_frac",
                "top3_frac", "dup_tok_frac", "mean_tri_prob")
        # materialize: the GD loop references the feature frame ~6 times
        # across iterations, and without truncating the lineage every
        # reference re-executes the trigram-LM explode + feature build
        # (110s at sf0.1 vs ~4s with the one-time materialization; the
        # frame is one slim row per doc)
        .localCheckpoint(eager=True)
    )
    # Standardize the features (decimal-exact corpus means/variances,
    # IEEE-exact sqrt — identical in both engines): batch GD from zero
    # init needs centered inputs for the first gradient to be the
    # class-mean-difference direction, and equal scales so a
    # high-variance nuisance feature (raw length) can't swamp the
    # strongly-separating low-variance ones (trigram-LM score).
    names = ["f_len", "f_alpha", "top2_frac", "top3_frac",
             "dup_tok_frac", "mean_tri_prob"]
    means = fx.agg(*[davg(c).alias(f"m_{c}") for c in names])
    cx = fx.crossJoin(F.broadcast(means))
    sds = cx.agg(*[
        davg((F.col(c) - F.col(f"m_{c}")) * (F.col(c) - F.col(f"m_{c}")))
        .alias(f"v_{c}")
        for c in names
    ])
    cx = cx.crossJoin(F.broadcast(sds))

    def _std(c):
        sd = F.when(F.col(f"v_{c}") == 0.0, F.lit(1.0)).otherwise(
            F.sqrt(F.col(f"v_{c}"))
        )
        return (F.col(c) - F.col(f"m_{c}")) / sd

    feats = cx.select(
        "doc_id",
        F.array(F.lit(1.0), *[_std(c) for c in names]).alias("f"),
        F.col("y"),
    ).localCheckpoint(eager=False)  # same: one slim row per doc
    logreg_gd_exact(
        feats, "f", "y", "doc_id", iters=2, lr=1.0, return_score=True
    ).select(
        "doc_id", F.col("score").alias("quality_prob"), "prediction"
    ).write.parquet(path)


def _sql_qc_ctes() -> str:
    """The quality-classifier oracle as a reusable CTE chain (ends at
    ``z2`` with per-doc logit ``z``) — composed standalone by
    ``_sql_quality_classifier`` and as a stage inside the
    corpus-curation-pipeline oracle."""
    from neurondb_spark.functions.repetition import _sql_top_ngram_frac
    from neurondb_spark.functions.text import sql_tokenize
    from neurondb_spark.operators.corpus import LM_VOCAB

    half_v = O.dlit(0.5 * LM_VOCAB)
    toks = sql_tokenize("text")
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = "CAST(length(text) AS DOUBLE)"
    alpha = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    dup = f"""CASE WHEN len({toks}) = 0 THEN 1.0
      ELSE 1.0 - CAST(len(list_distinct({toks})) AS DOUBLE)
                 / CAST(len({toks}) AS DOUBLE) END"""
    n = "(SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)"
    g1 = O.bsum("val * (y - 0.5)")
    gz = O.bsum("ex.val * b1.b")
    g2 = O.bsum("ex.val * r2.resid")
    z2 = O.bsum("ex.val * b2.b")
    return f"""mixed AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1
              THEN regexp_replace(text, '[aeiou]', '', 'g')
              ELSE text END AS text,
         CAST(1 - (doc_id % 2) AS DOUBLE) AS y
  FROM documents),
norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS nt
  FROM mixed),
tris AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(length(nt) - 2, 1)),
           i -> substr(nt, i, 3))) AS tri
  FROM norm),
tc AS (SELECT tri, COUNT(*) AS c FROM tris GROUP BY tri),
cc AS (SELECT substr(tri, 1, 2) AS ctx, SUM(c) AS n FROM tc GROUP BY 1),
model AS (
  SELECT tc.tri,
         (CAST(c AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + {half_v}) AS p
  FROM tc JOIN cc ON substr(tc.tri, 1, 2) = cc.ctx),
tri_score AS (
  SELECT t.doc_id, {O.davg('m.p')} AS mp
  FROM tris t JOIN model m ON t.tri = m.tri GROUP BY t.doc_id),
fr AS (
  SELECT doc_id, y,
         least({n_tok} / 100.0, 1.0) AS f_len,
         (CASE WHEN {n_chars} = 0.0 THEN 0.0
               ELSE {alpha} / {n_chars} END) AS f_alpha,
         {_sql_top_ngram_frac(toks, 2)} AS top2_frac,
         {_sql_top_ngram_frac(toks, 3)} AS top3_frac,
         {dup} AS dup_tok_frac
  FROM mixed),
fx AS (
  SELECT fr.doc_id, fr.y, fr.f_len, fr.f_alpha, fr.top2_frac,
         fr.top3_frac, fr.dup_tok_frac, ts.mp AS mean_tri_prob
  FROM fr JOIN tri_score ts ON fr.doc_id = ts.doc_id),
means AS (
  SELECT {O.davg('f_len')} AS m_f_len, {O.davg('f_alpha')} AS m_f_alpha,
         {O.davg('top2_frac')} AS m_top2, {O.davg('top3_frac')} AS m_top3,
         {O.davg('dup_tok_frac')} AS m_dup,
         {O.davg('mean_tri_prob')} AS m_tri
  FROM fx),
cx AS (SELECT fx.*, m.* FROM fx CROSS JOIN means m),
vars AS (
  SELECT {O.davg('(f_len - m_f_len) * (f_len - m_f_len)')} AS v_f_len,
         {O.davg('(f_alpha - m_f_alpha) * (f_alpha - m_f_alpha)')} AS v_f_alpha,
         {O.davg('(top2_frac - m_top2) * (top2_frac - m_top2)')} AS v_top2,
         {O.davg('(top3_frac - m_top3) * (top3_frac - m_top3)')} AS v_top3,
         {O.davg('(dup_tok_frac - m_dup) * (dup_tok_frac - m_dup)')} AS v_dup,
         {O.davg('(mean_tri_prob - m_tri) * (mean_tri_prob - m_tri)')} AS v_tri
  FROM cx),
feats AS (
  SELECT cx.doc_id,
         [CAST(1.0 AS DOUBLE),
          (cx.f_len - cx.m_f_len)
            / (CASE WHEN v.v_f_len = 0.0 THEN 1.0 ELSE sqrt(v.v_f_len) END),
          (cx.f_alpha - cx.m_f_alpha)
            / (CASE WHEN v.v_f_alpha = 0.0 THEN 1.0 ELSE sqrt(v.v_f_alpha) END),
          (cx.top2_frac - cx.m_top2)
            / (CASE WHEN v.v_top2 = 0.0 THEN 1.0 ELSE sqrt(v.v_top2) END),
          (cx.top3_frac - cx.m_top3)
            / (CASE WHEN v.v_top3 = 0.0 THEN 1.0 ELSE sqrt(v.v_top3) END),
          (cx.dup_tok_frac - cx.m_dup)
            / (CASE WHEN v.v_dup = 0.0 THEN 1.0 ELSE sqrt(v.v_dup) END),
          (cx.mean_tri_prob - cx.m_tri)
            / (CASE WHEN v.v_tri = 0.0 THEN 1.0 ELSE sqrt(v.v_tri) END)] AS f,
         cx.y
  FROM cx CROSS JOIN vars v),
ex AS MATERIALIZED (
  SELECT doc_id, y,
         CAST(generate_subscripts(f, 1) AS INTEGER) AS pos,
         CAST(unnest(f) AS DOUBLE) AS val
  FROM feats),
g1 AS (SELECT pos, {g1} / {n} AS g FROM ex GROUP BY pos),
b1 AS (SELECT pos, 1.0 * g AS b FROM g1),
z1 AS (SELECT ex.doc_id, {gz} AS z
       FROM ex JOIN b1 ON ex.pos = b1.pos GROUP BY ex.doc_id),
r2 AS (SELECT fe.doc_id,
              fe.y - (0.5 + 0.5 * z1.z / (1.0 + abs(z1.z))) AS resid
       FROM feats fe JOIN z1 ON fe.doc_id = z1.doc_id),
g2 AS (SELECT ex.pos, {g2} / {n} AS g
       FROM ex JOIN r2 ON ex.doc_id = r2.doc_id GROUP BY ex.pos),
b2 AS (SELECT b1.pos, b1.b + 1.0 * g2.g AS b
       FROM b1 JOIN g2 ON b1.pos = g2.pos),
z2 AS (SELECT ex.doc_id, {z2} AS z
       FROM ex JOIN b2 ON ex.pos = b2.pos GROUP BY ex.doc_id)"""


def _sql_quality_classifier() -> str:
    return f"""WITH {_sql_qc_ctes()}
SELECT doc_id, 0.5 + 0.5 * z / (1.0 + abs(z)) AS quality_prob,
       CASE WHEN z > 0 THEN 1 ELSE 0 END AS prediction
FROM z2"""


_PACK_SEQ_LEN = 512


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-slice sequence packing
    (operators/corpus.py pack_sequences): per-lang shards, doc_id
    order, 512-token bins — one (document, bin) slice row per overlap.
    Pure integer window arithmetic, so the oracle replays the layout
    bit-for-bit."""
    from neurondb_spark.operators.corpus import pack_sequences

    docs = t(spark, sf_dir, "documents")
    return pack_sequences(
        docs, token_count("text"), "lang", "doc_id", _PACK_SEQ_LEN
    )


def _sql_pack_sequences() -> str:
    L = _PACK_SEQ_LEN
    toks = sql_tokenize("text")
    return f"""WITH toks AS (
  SELECT lang AS shard, doc_id AS id,
         CAST(len({toks}) AS BIGINT) AS n
  FROM documents),
pos AS (
  SELECT shard, id, n,
         CAST(SUM(n) OVER (PARTITION BY shard ORDER BY id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS e
  FROM toks WHERE n > 0),
spans AS (SELECT shard, id, e - n AS s, e FROM pos),
ex AS (
  SELECT shard, id, s, e,
         unnest(generate_series(s // {L}, (e - 1) // {L})) AS bin_id
  FROM spans)
SELECT shard, CAST(bin_id AS BIGINT) AS bin_id, id,
  CAST(greatest(s, bin_id * {L}) - s AS BIGINT) AS doc_offset,
  CAST(greatest(s, bin_id * {L}) - bin_id * {L} AS BIGINT) AS bin_offset,
  CAST(least(e, (bin_id + 1) * {L}) - greatest(s, bin_id * {L}) AS BIGINT)
    AS take_tokens
FROM ex"""


def _q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing summary (bins, docs, slices, tokens, fill
    ratio) over the same 512-token packing — the number a pipeline
    operator actually monitors (fill < 1 only from each shard's final
    partial bin)."""
    from neurondb_spark.operators.corpus import pack_sequences, packing_stats

    docs = t(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, token_count("text"), "lang", "doc_id", _PACK_SEQ_LEN
    )
    return packing_stats(packed, _PACK_SEQ_LEN)


def _sql_packing_stats() -> str:
    L = _PACK_SEQ_LEN
    return f"""WITH packed AS ({_sql_pack_sequences()})
SELECT shard,
  CAST(MAX(bin_id) + 1 AS BIGINT) AS n_bins,
  CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_slices,
  CAST(SUM(take_tokens) AS BIGINT) AS total_tokens,
  CAST(SUM(take_tokens) AS DOUBLE)
    / CAST((MAX(bin_id) + 1) * {L} AS DOUBLE) AS fill_ratio
FROM packed
GROUP BY shard"""


def _pack_counts(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("lang").alias("shard"),
        F.col("doc_id").alias("id"),
        token_count("text").cast("long").alias("n"),
    ).where(F.col("n") > 0)


@fixture("pack_src")
def _pack_src(spark: SparkSession, sf_dir: str, path: str) -> None:
    # ONE sorted file = one id-ordered micro-batch: streaming output
    # is then bit-identical to the batch operator (and the oracle)
    _pack_counts(t(spark, sf_dir, "documents")).orderBy(
        "shard", "id"
    ).coalesce(1).write.parquet(path)


def _q_stream_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sequence packing (applyInPandasWithState,
    per-shard next-offset carry): for id-ordered arrival the emitted
    slices are EXACTLY the batch pack_sequences layout, so this
    streaming query shares the batch ORACLE. Streams a pre-counted
    (shard, id, n) copy of documents (AvailableNow, memory sink); falls
    back to the identical batch twin if streaming infra wobbles under
    gate load (strict mode re-raises instead — sims verify the
    STREAMING path)."""
    import os

    from neurondb_spark.operators.corpus import pack_sequences
    from neurondb_spark.streaming import memory_drain, stream_or_batch
    from neurondb_spark.streaming.packing import pack_stream

    docs = t(spark, sf_dir, "documents")
    src = _pack_src(spark, sf_dir)
    out = stream_or_batch(
        "stream_pack_spans",
        lambda: memory_drain(
            pack_stream(
                spark.readStream.schema(_pack_counts(docs).schema).parquet(src),
                _PACK_SEQ_LEN,
            ),
            f"neurondb_pack_{os.path.basename(src)[:16]}", "append",
        ),
        lambda: pack_sequences(
            docs, token_count("text"), "lang", "doc_id", _PACK_SEQ_LEN
        ),
    )
    return out.select(
        "shard", "bin_id", "id", "doc_offset", "bin_offset", "take_tokens"
    )


_QWS_TARGET, _QWS_SEED = 200, 7


def _q_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filtering (operators/corpus.py score_weighted_sample):
    keep probability proportional to the quality score, scaled to an
    expected kept count — the middle ground between a hard threshold and
    uniform sampling. Selection is md5-uniform and the normalizer is a
    decimal-exact sum, so the sample is bit-replayable. Output keeps the
    score so the oracle checks the weighting arithmetic, not just
    membership."""
    from neurondb_spark.operators.corpus import score_weighted_sample

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score("text").alias("quality")
    )
    return score_weighted_sample(
        docs, "quality", "doc_id", _QWS_TARGET, seed=_QWS_SEED
    )


def _sql_quality_weighted() -> str:
    toks = sql_tokenize("text")
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = "CAST(length(text) AS DOUBLE)"
    alpha = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
    stop = f"CAST(len(list_filter({toks}, x -> x IN ('the','and','of','to','in','a','is'))) AS DOUBLE)"
    uniq = f"CAST(len(list_distinct({toks})) AS DOUBLE)"
    len_score = f"least({n_tok} / 100.0, 1.0)"
    alpha_ratio = f"(CASE WHEN {n_chars} = 0.0 THEN 0.0 ELSE {alpha} / {n_chars} END)"
    stop_score = f"least({stop} / greatest({n_tok} * 0.05, 1.0), 1.0)"
    rep_score = f"(CASE WHEN {n_tok} = 0.0 THEN 0.0 ELSE {uniq} / {n_tok} END)"
    u = (
        f"(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
        f"'#{_QWS_SEED}'), 1, 15)) AS BIGINT) / 1152921504606846976.0)"
    )
    return f"""WITH scored AS (
  SELECT doc_id, lang,
         (({len_score}) + ({alpha_ratio}) + ({stop_score}) + ({rep_score})) / 4.0 AS quality
  FROM documents),
tot AS (SELECT {O.dsum('quality')} AS s FROM scored)
SELECT doc_id, lang, quality
FROM scored, tot
WHERE {u} < least(1.0, quality * {O.dlit(float(_QWS_TARGET))} / s)"""


def _q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality bucketing (operators/corpus.py
    ppl_bucket_assign, Wenzek et al. 2020): one trigram LM per language
    scores its own documents; exact nearest-rank terciles split each
    language into head/middle/tail. Output = the bucket accounting a
    curation run reports (doc and trigram totals per (lang, bucket)) —
    integer-exact, so it sits under the hash gate with no float
    rounding in the aggregate."""
    from neurondb_spark.operators.corpus import ppl_bucket_assign

    docs = tp(spark, sf_dir, "documents")
    b = ppl_bucket_assign(docs, "text", "doc_id", "lang")
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_trigrams").alias("sum_trigrams"),
    )


def _sql_ppl_buckets() -> str:
    from neurondb_spark.operators.corpus import LM_VOCAB, PPL_BUCKET_CUTS

    half_v = O.dlit(0.5 * LM_VOCAB)
    q_lo, q_hi = (O.dlit(q) for q in PPL_BUCKET_CUTS)
    return f"""WITH norm AS (
  SELECT doc_id, lang, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS nt
  FROM documents),
tris AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           generate_series(1, greatest(length(nt) - 2, 1)),
           i -> substr(nt, i, 3))) AS tri
  FROM norm),
tc AS (SELECT lang, tri, COUNT(*) AS c FROM tris GROUP BY lang, tri),
cc AS (SELECT lang, substr(tri, 1, 2) AS ctx, SUM(c) AS n
       FROM tc GROUP BY lang, substr(tri, 1, 2)),
model AS (
  SELECT tc.lang, tc.tri,
         (CAST(c AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + {half_v}) AS p
  FROM tc JOIN cc ON tc.lang = cc.lang AND substr(tc.tri, 1, 2) = cc.ctx),
scored AS (
  SELECT t.lang, t.doc_id, COUNT(*) AS n_trigrams,
         {O.davg('m.p')} AS mean_tri_prob
  FROM tris t JOIN model m ON t.lang = m.lang AND t.tri = m.tri
  GROUP BY t.lang, t.doc_id),
hist AS (SELECT lang, mean_tri_prob AS v, COUNT(*) AS c
         FROM scored GROUP BY lang, mean_tri_prob),
enr AS (
  SELECT lang, v,
         SUM(c) OVER (PARTITION BY lang ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist),
th AS (
  SELECT lang,
         MIN(CASE WHEN cum >= ceil({q_lo} * CAST(n AS DOUBLE)) THEN v END) AS t_lo,
         MIN(CASE WHEN cum >= ceil({q_hi} * CAST(n AS DOUBLE)) THEN v END) AS t_hi
  FROM enr GROUP BY lang)
SELECT s.lang AS lang,
       CASE WHEN s.mean_tri_prob <= th.t_lo THEN 'tail'
            WHEN s.mean_tri_prob <= th.t_hi THEN 'middle'
            ELSE 'head' END AS bucket,
       COUNT(*) AS n_docs, CAST(SUM(n_trigrams) AS BIGINT) AS sum_trigrams
FROM scored s JOIN th ON s.lang = th.lang
GROUP BY s.lang, bucket"""


QUERIES = {
    "text_stats": (_q_text_stats, _sql_text_stats()),
    "pack_sequences_spans": (_q_pack_sequences, _sql_pack_sequences()),
    "pack_sequences_stats": (_q_packing_stats, _sql_packing_stats()),
    "stream_pack_spans": (_q_stream_pack, _sql_pack_sequences()),
    "substring_dup_stats": (_q_substring_dup, _sql_substring_dup()),
    "substring_dup_pairs": (_q_substring_pairs, _sql_substring_pairs()),
    "quality_classifier_scores": (_q_quality_classifier,
                                  _sql_quality_classifier()),
    "nlp_sentiment_classify": (_q_nlp_classify, _sql_nlp_classify()),
    "lang_detect_counts": (_q_lang_detect, _sql_lang_detect()),
    "fingerprint_dedup": (_q_fingerprint_dedup, _sql_fingerprint_dedup()),
    "minhash_signatures": (_q_minhash_signatures, _sql_minhash_signatures()),
    "minhash_lsh_pairs": (_q_minhash_lsh_pairs, _sql_minhash_lsh_pairs()),
    "simhash_signatures": (_q_simhash, _sql_simhash()),
    "simhash_neardup_pairs": (_q_simhash_pairs, _sql_simhash_pairs()),
    "ngram_jaccard_pairs": (_q_ngram_jaccard, _sql_ngram_jaccard()),
    "ngram_containment_pairs": (_q_ngram_containment, _sql_ngram_containment()),
    "embedding_neardup_pairs": (_q_embedding_neardup, _sql_embedding_neardup()),
    "chunk_documents": (_q_chunks, _sql_chunks()),
    "zero_shot_classify": (_q_zero_shot, _sql_zero_shot()),
    "answer_question": (_q_answer_question, _sql_answer_question()),
    "fill_mask_text2text": (_q_fill_mask_t2t, _sql_fill_mask_t2t()),
    "repetition_quality_filters": (_q_repetition_filters,
                                   _sql_repetition_filters()),
    "corpus_mix_sample": (_q_corpus_mix, _sql_corpus_mix()),
    "temperature_mix_sample": (_q_temperature_mix, _sql_temperature_mix()),
    "corpus_split_counts": (_q_corpus_split, _sql_corpus_split()),
    "corpus_datacard": (_q_corpus_datacard, _sql_corpus_datacard()),
    "vocab_top_tokens": (_q_vocab_top_tokens, _sql_vocab_top_tokens()),
    "token_length_quantiles": (_q_token_length_quantiles,
                               _sql_token_length_quantiles()),
    "token_budget_mix": (_q_token_budget_mix, _sql_token_budget_mix()),
    "neardup_resolve_survivors": (_q_neardup_resolve, _sql_neardup_resolve()),
    "neardup_resolve_quality": (_q_neardup_resolve_quality,
                                _sql_neardup_resolve_quality()),
    "trigram_lm_quality": (_q_trigram_lm, _sql_trigram_lm()),
    "ppl_bucket_counts": (_q_ppl_buckets, _sql_ppl_buckets()),
    "quality_weighted_sample": (_q_quality_weighted, _sql_quality_weighted()),
    "benchmark_decontaminate": (_q_decontaminate, _sql_decontaminate()),
    "pii_redaction_stats": (_q_pii_stats, _sql_pii_stats()),
}
