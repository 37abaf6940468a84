"""Query registry: every implemented operator from SURVEY §2 declares a
(spark_fn, oracle_sql) pair here; __spark_entry__ aggregates them for the
driver's correctness gate.

Each submodule exposes ``QUERIES: dict[str, tuple[callable, str | None]]``
where callable(spark, sf_dir) -> DataFrame and the str is DuckDB SQL
(None → non-SQL-expressible op, rows-only check).

Rotation. The driver's gate checks the first 50 rows ``collect`` returns
and writes each round's results to ``CORRECTNESS_r<N>.json`` beside
``__spark_entry__.py``. ``collect`` reads those records and returns the
rows least recently passed first: rows no record passes, then the oldest
pass. A record passes when its hash matched, or when it is the rows-only
record of a row without an oracle (``err == "no_oracle"``). An error or a
hash mismatch is not a pass, so a failing row comes back to the front by
itself. Ties keep declaration order.

Adding a rewrite. When a row's implementation, or a path it consumes,
changes after its last pass, add ``name: round`` to ``REWRITTEN``, where
round is the driver round the change ships in: 1 + the highest ``N``
among the record files. The row then sorts with the never-checked rows
until a record of that round passes it; from then on the entry has no
effect and may stay.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_RECORDS_DIR = Path(__file__).resolve().parents[2]
_RECORD_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")

REWRITTEN: dict[str, int] = {
    # Fixture layer: the PQ codebook, GBT model, ratings matrix and
    # classifier scores round-trip through disk on every call; the CDC
    # drain moved into its fixture build; the rebalance scenario is one
    # build.
    "pq_adc_topk": 17, "gbt_fixed_stumps": 17, "gbt_shap_attributions": 17,
    "recommend_content_based": 17, "recommend_hybrid": 17,
    "quality_classifier_scores": 17, "stream_ivf_cdc_knn": 17,
    "merge_rebalance_rows": 17,
    # connected_components as one union-find pass per partition (the
    # propagation loop only for components that cross partitions);
    # DBSCAN as one grouped kernel pass.
    "graph_connected_components": 17, "dbscan_clusters": 17,
    "neardup_resolve_survivors": 17, "neardup_resolve_quality": 17,
    # Distance kernels, centroid routes and LSH signatures rendered as one
    # SQL expression each, at rows whose own call site changed.
    "knn_canberra": 17, "knn_braycurtis": 17, "knn_minkowski3": 17,
    "knn_jaccard_sign": 17, "knn_dice_sign": 17, "binary_metrics4": 17,
    "quantize_compare_distances": 17, "graph_knn": 17,
    "rerank_ensemble_weighted": 17, "rerank_ensemble_borda": 17,
    "knn_mahalanobis": 17, "hnsw_knn_full_ef": 17,
    "hnsw_insert_delete_knn": 17, "davies_bouldin": 17,
    "similarity_histogram": 17, "rrf_fusion": 17, "vec_route_counts": 17,
    "text_similarity_semantic": 17, "lsh_recall_report": 17,
    # Streaming drains and their batch twins behind
    # streaming.stream_or_batch / memory_drain.
    "stream_exact_dedup": 17, "stream_lsh_neardup": 17,
    "stream_monitor_window": 17, "stream_sessionize": 17,
    "stream_pack_spans": 17, "stream_merge_upsert": 17,
    "merge_on_read_rows": 17, "merge_point_lookup": 17,
    "merge_multi_lookup": 17, "merge_time_travel": 17,
    "merge_vacuum_rows": 17,
    # Index tombstones read with a known schema, HNSW insert planned by one
    # collect with the tombstone rewrite only on overlap, row counts read
    # from parquet footers (hnsw_insert_delete_knn and stream_ivf_cdc_knn
    # are listed above for the same round).
    "ivf_insert_delete_probe": 17, "lsh_insert_delete_knn": 17,
    # Token and shingle arrays bound once per document in shingles and
    # minhash_signature (stream_lsh_neardup and the neardup_resolve rows
    # are listed above for the same round).
    "minhash_signatures": 17, "minhash_lsh_pairs": 17,
    "ngram_jaccard_pairs": 17, "ngram_containment_pairs": 17,
    "benchmark_decontaminate": 17,
    # IVF rebalance commits through data_management.dml_commit. Rows whose
    # change leaves their values as they were (kmeans_fixed_lloyd,
    # ivf_knn_probe and ivf_batch_knn: an eager trainer checkpoint;
    # repetition_quality_filters and corpus_curation_pipeline: grams from
    # dedup.shingles) are not listed: live entries must fit the 50-row
    # sample, and this entry takes its last slot.
    "ivf_rebalance_probe": 17,
}


def _last_passed(records_dir: Path = _RECORDS_DIR) -> dict[str, int]:
    """Each row's last passing round among ``records_dir``'s records."""
    last: dict[str, int] = {}
    for path in records_dir.glob("CORRECTNESS_r*.json"):
        m = _RECORD_FILE.fullmatch(path.name)
        if m is None:
            continue
        try:
            records = json.loads(path.read_text())
        except ValueError as e:
            raise ValueError(f"unreadable correctness record {path}: {e}") from e
        rnd = int(m.group(1))
        for name, rec in records.items():
            if rec.get("hash_match") is True or rec.get("err") == "no_oracle":
                last[name] = max(last.get(name, 0), rnd)
    return last


def _rotate(
    names: Iterable[str], passed: Mapping[str, int],
    rewritten: Mapping[str, int] = REWRITTEN,
) -> list[str]:
    """``names`` least recently passed first; 0 = never passed, or
    rewritten after the last pass. The sort is stable."""

    def key(name: str) -> int:
        last = passed.get(name, 0)
        return 0 if rewritten.get(name, 0) > last else last

    return sorted(names, key=key)


def collect() -> dict[str, tuple[QueryFn, str | None]]:
    from neurondb_spark.registry import (
        composite_queries,
        core,
        embed_rerank,
        events,
        index_queries,
        metrics_extra,
        misc_queries,
        ml_queries,
        ops_queries,
        quality_queries,
        quant_graph,
        search,
        text_pipeline,
        timeseries_rel,
        tokenizer_queries,
        vector_ops_queries,
    )

    out: dict[str, tuple[QueryFn, str | None]] = {}
    for mod in (
        core, search, text_pipeline, events, index_queries, ml_queries,
        embed_rerank, quant_graph, timeseries_rel, vector_ops_queries,
        metrics_extra, misc_queries, composite_queries, quality_queries,
        ops_queries, tokenizer_queries,
    ):
        for name, pair in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = pair
    # read here, not at import: executors import registry modules too
    return {name: out[name] for name in _rotate(out, _last_passed())}
