"""Heuristic NLP functions (SURVEY §2.7; reference src/ml/ml_text.c:38-41,
ml_nlp_production.c:40-379) + learned-sparse stubs (§2.5
sparse_search.c:155,273) + the preprocess dispatcher (§2.2,
neurondb--1.0.sql:6091-6118).

The reference's production NLP functions are lexicon/heuristic-based when
no model is configured — these mirror that tier as pure expressions.
Model-backed variants plug in as pandas UDFs without plan changes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from neurondb_spark.functions.text import tokenize

_POS = ("good", "great", "fast", "excellent", "best", "love", "win", "happy")
_NEG = ("bad", "slow", "worst", "error", "fail", "broken", "hate", "poor")


def sentiment_score(text) -> Column:
    """analyze_sentiment heuristic tier: (pos − neg) / tokens ∈ [−1, 1]."""
    toks = tokenize(text)
    pos = F.size(F.filter(toks, lambda t: t.isin(*_POS))).cast("double")
    neg = F.size(F.filter(toks, lambda t: t.isin(*_NEG))).cast("double")
    n = F.size(toks).cast("double")
    return F.when(n == 0.0, F.lit(0.0)).otherwise((pos - neg) / n)


def classify_text(text, categories: dict[str, list[str]]) -> Column:
    """classify_text_production heuristic: argmax of keyword hits with
    declaration-order tie-break; no hits → 'other'."""
    toks = tokenize(text)
    best_label, best_cnt = None, None
    for label, words in categories.items():
        ws = tuple(words)
        c = F.size(F.filter(toks, lambda t, w=None: t.isin(*ws)))
        if best_label is None:
            best_label, best_cnt = F.lit(label), c
        else:
            cond = c > best_cnt
            best_label = F.when(cond, F.lit(label)).otherwise(best_label)
            best_cnt = F.when(cond, c).otherwise(best_cnt)
    return F.when(best_cnt > 0, best_label).otherwise(F.lit("other"))


def extract_entities(text) -> Column:
    """extract_entities heuristic tier: capitalized alphabetic tokens that
    are not sentence-initial → array<string> (NER stand-in)."""
    words = F.split(text, r"\s+")
    tail = F.slice(words, 2, 1_000_000)
    caps = F.filter(tail, lambda w: w.rlike(r"^[A-Z][a-z]+$"))
    return F.array_distinct(caps)


def summarize_text(text, max_sentences: int = 2) -> Column:
    """summarize_text heuristic tier: first N sentences."""
    sents = F.split(text, r"(?<=[.!?])\s+")
    return F.array_join(F.slice(sents, 1, max_sentences), " ")


def splade_embed_stub(text, dim: int = 64, top_k: int = 16) -> Column:
    """splade_embed / colbertv2_embed fallback (sparse_search.c:155,273
    raise without ONNX; the deterministic stand-in hashes tokens into a
    sparse tf-weighted bucket map): map<int,double> of bucket → tf."""
    toks = tokenize(text)
    buckets = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 6), 16, 10).cast("long") % dim
    )
    # tf per bucket via aggregate into a map
    return F.map_from_entries(
        F.transform(
            F.array_distinct(buckets),
            lambda b: F.struct(
                b.cast("int").alias("key"),
                F.size(F.filter(buckets, lambda x: x == b)).cast("double").alias("value"),
            ),
        )
    )


def preprocess(v, method: str = "standardize") -> Column:
    """neurondb.preprocess dispatcher (neurondb--1.0.sql:6091-6118)."""
    from neurondb_spark.functions.vector import (
        vector_clip,
        vector_minmax_normalize,
        vector_normalize,
        vector_standardize,
    )

    m = method.lower()
    if m == "standardize":
        return vector_standardize(v)
    if m in ("minmax", "minmax_normalize"):
        return vector_minmax_normalize(v)
    if m in ("l2", "normalize"):
        return vector_normalize(v)
    if m == "clip":
        return vector_clip(v, -1.0, 1.0)
    raise ValueError(f"neurondb: unknown preprocess method {method!r}")


def text_similarity_semantic(a, b, dim: int = 32) -> Column:
    """text_similarity_semantic (ml_nlp_production.c): cosine of the
    deterministic hash embeddings of the two texts. The embeddings are
    computed Columns, which the SQL-rendered distance kernels do not take
    as operands, so the cosine is folded here in the kernels' fold order
    (left-assoc from 0.0; zero vector → error)."""
    from neurondb_spark.functions.embed import hash_embed_expr

    ea, eb = hash_embed_expr(a, dim), hash_embed_expr(b, dim)

    def fold(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0.0), lambda s, t: s + t)

    ip = fold(F.zip_with(ea, eb, lambda x, y: x * y))
    na = F.sqrt(fold(F.transform(ea, lambda x: x * x)))
    nb = F.sqrt(fold(F.transform(eb, lambda x: x * x)))
    return F.when(
        (na == 0.0) | (nb == 0.0),
        F.raise_error("neurondb: cosine distance of zero vector is undefined"),
    ).otherwise(ip / (na * nb))


def zero_shot_classify(text, labels: list[str]) -> Column:
    """neurondb.zero_shot_classify (neurondb--1.0.sql:5471-5774 task
    wrappers): heuristic tier = argmax token overlap between the document
    and each label's words, declaration-order tie-break, no hit →
    'other'. The model-backed tier plugs in via llm.llm_complete."""
    return classify_text(text, {lab: _py_label_words(lab) for lab in labels})


def _py_label_words(label: str) -> list[str]:
    import re

    return [w for w in re.split(r"[^a-z0-9]+", label.lower()) if w]


def answer_question(question: str, context) -> Column:
    """neurondb.answer_question heuristic tier (ml_nlp_production.c):
    extractive QA — return the context sentence with the highest unique-
    question-token overlap (first sentence wins ties, like the
    reference's first-best scan). Pure expressions."""
    from neurondb_spark.functions.text import _py_tokenize

    qtok = []
    for tok in _py_tokenize(question):
        if tok not in qtok:
            qtok.append(tok)
    c = F.col(context) if isinstance(context, str) else context
    sents = F.split(c, r"(?<=[.!?])\s+")
    if not qtok:
        return F.element_at(sents, 1)

    def score(s):
        hits = None
        stoks = tokenize(s)
        for tok in qtok:
            h = F.when(F.array_contains(stoks, tok), F.lit(1)).otherwise(F.lit(0))
            hits = h if hits is None else hits + h
        return hits

    pairs = F.transform(
        sents, lambda s, i: F.struct(
            (-score(s)).alias("neg"), i.alias("idx"), s.alias("sent")
        )
    )
    return F.array_min(pairs)["sent"]


def fill_mask(text, mask_token: str = "[MASK]", filler: str = "the") -> Column:
    """neurondb.fill_mask heuristic tier: replace the mask token with the
    deterministic filler (the reference without a model falls back to a
    trivial completion; model tier via llm.llm_complete)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.replace(t, F.lit(mask_token), F.lit(filler))


def text2text(text, task: str = "summarize") -> Column:
    """neurondb.text2text / transform task router (neurondb--1.0.sql:
    5471-5774): heuristic tiers per task; unknown task raises."""
    if task == "summarize":
        return summarize_text(text)
    if task == "uppercase":
        return F.upper(F.col(text) if isinstance(text, str) else text)
    if task == "lowercase":
        return F.lower(F.col(text) if isinstance(text, str) else text)
    raise ValueError(f"neurondb: unknown text2text task {task!r}")
