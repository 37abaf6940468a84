"""Text functions (SURVEY §2.5 sparse/BM25, §2.7 NLP, plus the 100 TB
training-data-pipeline text analysis the BASELINE north star requires).

Reference: bm25_score tokenization + scoring
(NeuronDB/src/search/sparse_search.c:449-585 — alnum-run lowercase tokens;
FIXED corpus stats N=1000, n_qi=N*0.1, avgdl=100, k1=1.2, b=0.75);
neurondb.chunk fixed-window chunking (neurondb--1.0.sql:6032-6062);
heuristic NLP (src/ml/ml_text.c:38-41, ml_nlp_production.c:40-379).

Everything is a pure Column expression (JVM-side). Tokenization is the
reference's: runs of [a-z0-9] after lowercasing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _c(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokenize(text) -> Column:
    """Lowercased alnum-run tokens (bm25_tokenize, sparse_search.c:449-478).
    Empty tokens from leading/trailing separators are removed."""
    toks = F.split(F.lower(_c(text)), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: t != "")


def let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row. A lambda body
    re-evaluates every expression it inlines once per element (Catalyst's
    common-subexpression elimination does not reach into lambdas), while
    a lambda variable is bound once: pass a per-row array through here
    before reading it inside a ``transform``."""
    return F.transform(F.array(value), body)[0]


def token_count(text) -> Column:
    """Whitespace/punct token count — pipeline op (north star)."""
    return F.size(tokenize(text))


def term_frequency(text, term: str) -> Column:
    """Occurrences of an exact token in the text."""
    return F.size(F.filter(tokenize(text), lambda t: t == F.lit(term)))


def bm25_idf_constant(n_total: float = 1000.0) -> float:
    """The reference's fixed idf: n_qi = N*0.1 (>=1), idf = ln((N-n+0.5)/(n+0.5))
    (sparse_search.c:570-578). Precomputed in Python so Spark and any SQL
    oracle use the same double literal — no cross-engine log()."""
    n_qi = max(int(n_total * 0.1), 1)
    return math.log((n_total - n_qi + 0.5) / (n_qi + 0.5))


def bm25_score(
    query: str,
    doc,
    k1: float = 1.2,
    b: float = 0.75,
    n_total: float = 1000.0,
    avgdl: float = 100.0,
) -> Column:
    """Pair BM25 with the reference's fixed corpus stats
    (sparse_search.c:508-585): for each UNIQUE query token qi,
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)); dl = doc token count.
    Empty query or empty doc → 0.0.

    ``query`` is a Python literal (known at plan time) so the per-term tf
    counts unroll into static JVM expressions — no UDF, no explode.
    """
    doc_toks = tokenize(doc)
    dl = F.size(doc_toks).cast("double")
    idf = bm25_idf_constant(n_total)
    qtokens: list[str] = []
    for t in _py_tokenize(query):
        if t not in qtokens:
            qtokens.append(t)
    if not qtokens:
        return F.lit(0.0)
    score = None
    denom_len = F.lit(k1) * (1.0 - b + F.lit(b) * dl / F.lit(avgdl))

    def _eq(term: str):
        # NB: pyspark passes (element, index) to 2-arg lambdas — capture via
        # closure, never via default args.
        lit = F.lit(term)
        return lambda x: x == lit

    for t in qtokens:
        tf = F.size(F.filter(doc_toks, _eq(t))).cast("double")
        term = F.lit(idf) * (tf * (k1 + 1.0)) / (tf + denom_len)
        score = term if score is None else score + term
    return F.when(dl == 0.0, F.lit(0.0)).otherwise(score)


def _py_tokenize(s: str) -> list[str]:
    import re

    return [t for t in re.split(TOKEN_SPLIT_RE, s.lower()) if t]


def sql_bm25_score(
    query: str,
    doc: str,
    k1: float = 1.2,
    b: float = 0.75,
    n_total: float = 1000.0,
    avgdl: float = 100.0,
) -> str:
    """DuckDB SQL mirroring :func:`bm25_score` term-for-term."""
    idf = bm25_idf_constant(n_total)
    qtokens: list[str] = []
    for t in _py_tokenize(query):
        if t not in qtokens:
            qtokens.append(t)
    if not qtokens:
        return "0.0"
    toks = f"list_filter(regexp_split_to_array(lower({doc}), '{TOKEN_SPLIT_RE}'), x -> x <> '')"
    dl = f"CAST(len({toks}) AS DOUBLE)"
    denom_len = f"({k1!r} * (1.0 - {b!r} + {b!r} * {dl} / {avgdl!r}))"
    terms = []
    for t in qtokens:
        tf = f"CAST(len(list_filter({toks}, x -> x = '{t}')) AS DOUBLE)"
        terms.append(f"({idf!r} * ({tf} * ({k1!r} + 1.0)) / ({tf} + {denom_len}))")
    s = " + ".join(terms)
    return f"(CASE WHEN {dl} = 0.0 THEN 0.0 ELSE {s} END)"


# ------------------------------------------------------- pipeline text ops

def chunk_text(text, size: int, overlap: int = 0) -> Column:
    """Fixed-window character chunking with overlap → array<string>
    (neurondb.chunk method='fixed', neurondb--1.0.sql:6032-6062).
    Stride = size - overlap; chunks start at 1, 1+stride, ... up to length."""
    if size <= 0 or overlap >= size:
        raise ValueError("neurondb: chunk size must be > overlap >= 0")
    t = _c(text)
    stride = size - overlap
    n = F.length(t)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    return F.transform(starts, lambda s: F.substring(t, s, size))


def detect_language(text) -> Column:
    """Stopword-vote language ID (heuristic analog of detect_language,
    ml_nlp_production.c:40-379): counts hits from tiny per-language stopword
    sets; returns the argmax of (en, es, de, fr) or 'unknown'.
    Deterministic, SQL-expressible."""
    toks = tokenize(text)
    langs = {
        "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
        "es": ["el", "la", "de", "que", "los", "se", "las", "por", "un", "una"],
        "de": ["der", "die", "und", "das", "nicht", "ist", "ein", "ich", "mit", "sie"],
        "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour", "qui"],
    }
    def _in(words: list[str]):
        ws = tuple(words)
        return lambda t: t.isin(*ws)

    counts = {lang: F.size(F.filter(toks, _in(words))) for lang, words in langs.items()}
    best_lang, best_cnt = None, None
    for lang in ("en", "es", "de", "fr"):  # fixed priority order breaks ties
        c = counts[lang]
        if best_lang is None:
            best_lang, best_cnt = F.lit(lang), c
        else:
            cond = c > best_cnt
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best_cnt = F.when(cond, c).otherwise(best_cnt)
    return F.when(best_cnt > 0, best_lang).otherwise(F.lit("unknown"))


def quality_score(text) -> Column:
    """Document quality heuristic for training-data filtering (north star):
    mean of [length score, alpha ratio, stopword presence, not-too-repetitive].
    All exact double arithmetic."""
    t = _c(text)
    toks = tokenize(t)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(t).cast("double")
    alpha_chars = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin("the", "and", "of", "to", "in", "a", "is"))
    ).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars == 0.0, F.lit(0.0)).otherwise(alpha_chars / n_chars)
    stop_score = F.least(stop_hits / F.greatest(n_tok * 0.05, F.lit(1.0)), F.lit(1.0))
    rep_score = F.when(n_tok == 0.0, F.lit(0.0)).otherwise(uniq / n_tok)
    return (len_score + alpha_ratio + stop_score + rep_score) / 4.0


def doc_fingerprint(text) -> Column:
    """Deterministic 64-bit-ish content fingerprint: first 15 hex digits of
    md5 of the normalized token stream → BIGINT. Used for exact-dup grouping
    at scale (north star dedup)."""
    norm = F.array_join(tokenize(text), " ")
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")


def sql_tokenize(doc: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({doc}), '{TOKEN_SPLIT_RE}'), x -> x <> '')"


def sql_doc_fingerprint(doc: str) -> str:
    return f"CAST(('0x' || substr(md5(array_to_string({sql_tokenize(doc)}, ' ')), 1, 15)) AS BIGINT)"
