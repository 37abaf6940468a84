"""Repetition-based quality filters for training-data curation — the
standard "Gopher rules" family (Rae et al. 2021, §A1.1: drop documents
dominated by repeated n-grams). A first-class LLM-pipeline operator per
the north star; the reference's nearest surface is its text-quality
scoring (NeuronDB/src/ml/ml_nlp_production.c quality paths).

All metrics are exact integer-count ratios (IEEE division of exact
ints), so a SQL oracle matches bit-for-bit. No UDF: built-in
expressions plus (doc, gram) and (doc, token) aggregations with
map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.text import sql_tokenize, tokenize
from neurondb_spark.operators.dedup import shingles


def repetition_filters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_top2: float = 0.20,
    max_top3: float = 0.18,
    max_dup_tok: float = 0.80,
) -> DataFrame:
    """Gopher-style repetition filter verdicts per document: top-bigram
    fraction, top-trigram fraction, duplicate-token fraction, and the
    keep decision (ALL thresholds strictly respected).

    Shape: explode + groupBy aggregations, not a per-row
    higher-order-function form. Counting each distinct gram with a
    ``filter`` over the gram array is O(grams x distinct_grams) per
    document and materializes a filtered array per distinct gram (25s
    at sf0.1, unbounded for a long document). The aggregation form is
    linear in total grams (the same order as tokenization), shuffles on
    (doc, gram) with map-side combine, and produces the values the SQL
    oracle's list form does, bit for bit: max(count) / sum(count) is the
    same exact-integer division, and the degenerate empty-doc cases
    coalesce to the same 1.0. Grams come from ``dedup.shingles``, which
    tokenizes each document once."""
    base = df.select(F.col(id_col).alias("_rid"), F.col(text_col).alias("_t"))

    def _top(n: int, out: str) -> DataFrame:
        g = base.select(
            "_rid", F.explode(shingles(F.col("_t"), n)).alias("_g")
        )
        c = g.groupBy("_rid", "_g").agg(F.count(F.lit(1)).alias("_c"))
        return c.groupBy("_rid").agg(
            (F.max("_c").cast("double") / F.sum("_c").cast("double"))
            .alias(out)
        )

    toks = base.select(
        "_rid", F.explode(tokenize(F.col("_t"))).alias("_tok")
    )
    dup = toks.groupBy("_rid").agg(
        (
            1.0
            - F.count_distinct(F.col("_tok")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_tok_frac")
    )
    out = (
        base.select("_rid")
        .join(_top(2, "top2_frac"), "_rid", "left")
        .join(_top(3, "top3_frac"), "_rid", "left")
        .join(dup, "_rid", "left")
        .select(
            F.col("_rid").alias(id_col),
            F.coalesce("top2_frac", F.lit(1.0)).alias("top2_frac"),
            F.coalesce("top3_frac", F.lit(1.0)).alias("top3_frac"),
            # empty docs have zero token rows -> 1.0 (maximally
            # repetitive), matching the oracle's WHEN len(toks) = 0 branch
            F.coalesce("dup_tok_frac", F.lit(1.0)).alias("dup_tok_frac"),
        )
    )
    keep = (
        (F.col("top2_frac") < F.lit(float(max_top2)))
        & (F.col("top3_frac") < F.lit(float(max_top3)))
        & (F.col("dup_tok_frac") < F.lit(float(max_dup_tok)))
    )
    return out.select("*", keep.cast("int").alias("keep"))


def _sql_top_ngram_frac(toks: str, n: int) -> str:
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return f"""CASE WHEN len({toks}) = 0 THEN 1.0
      ELSE CAST(list_max(list_transform(list_distinct({grams}),
                 y -> len(list_filter({grams}, x -> x = y)))) AS DOUBLE)
           / CAST(len({grams}) AS DOUBLE) END"""


def sql_repetition_filters(
    table: str,
    text: str,
    id_col: str,
    max_top2: float = 0.20,
    max_top3: float = 0.18,
    max_dup_tok: float = 0.80,
) -> str:
    """DuckDB oracle replaying :func:`repetition_filters` exactly.

    Thresholds are string-cast double literals (DuckDB's bare decimals
    are DECIMAL)."""
    toks = sql_tokenize(text)
    dup = f"""CASE WHEN len({toks}) = 0 THEN 1.0
      ELSE 1.0 - CAST(len(list_distinct({toks})) AS DOUBLE)
                 / CAST(len({toks}) AS DOUBLE) END"""
    t2 = f"CAST('{float(max_top2)!r}' AS DOUBLE)"
    t3 = f"CAST('{float(max_top3)!r}' AS DOUBLE)"
    td = f"CAST('{float(max_dup_tok)!r}' AS DOUBLE)"
    return f"""WITH fr AS (
  SELECT {id_col},
         {_sql_top_ngram_frac(toks, 2)} AS top2_frac,
         {_sql_top_ngram_frac(toks, 3)} AS top3_frac,
         {dup} AS dup_tok_frac
  FROM {table})
SELECT {id_col}, top2_frac, top3_frac, dup_tok_frac,
       CAST(top2_frac < {t2} AND top3_frac < {t3} AND dup_tok_frac < {td}
            AS INT) AS keep
FROM fr"""
