"""The declared metrics: end-to-end names and the per-layer name table.

Per-layer names are ``<module>.<function>.<counter>``. A traced run
reports every name below; an op the workload never runs reads 0.
``BENCHMARK.json`` lists exactly these names (``tests`` checks it).
"""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("success_rate", "ratio", "higher", 0.01),
    ("call_ms", "ms", "lower", 0.25),
    ("cycle_s", "s", "lower", 0.25),
    ("quality", "ratio", "higher", 0.05),
)

_SEARCH = ("ms", "construct_ms", "jobs", "driver_ms", "executor_cpu_ms", "input_bytes")
# construct_ms is dropped on the batch routes, which fire no job while
# constructing: with it the table would exceed 128 names.
_BATCH = ("ms", "jobs", "driver_ms", "executor_cpu_ms", "input_bytes")
_WRITE = ("ms", "jobs", "driver_ms")
_CURATION = ("ms", "jobs", "driver_ms", "executor_cpu_ms", "shuffle_write_bytes")
# curation ops that run Spark jobs while constructing their DataFrame
_CURATION_EAGER = ("construct_ms",)

OPS = {
    "session.get_spark": ("ms",),
    "index.ivf.build": _WRITE,
    "index.hnsw.build": _WRITE + ("python_ms",),
    "index.lsh.build": _WRITE,
    "operators.knn.knn": _SEARCH,
    "index.ivf.search": _SEARCH,
    "index.ivf.search_full": _SEARCH,
    "index.hnsw.search": _SEARCH + ("python_ms",),
    "index.lsh.search": _SEARCH,
    "index.ivf.search_batch": _BATCH,
    "index.hnsw.search_batch": _BATCH + ("python_ms",),
    "streaming.index_ingest.apply_cdc_batch": _WRITE,
    "index.hnsw.insert": _WRITE + ("python_ms",),
    "index.hnsw.delete": _WRITE,
    "index.lsh.insert": _WRITE,
    "index.lsh.delete": _WRITE,
    "index.ivf.vacuum": _WRITE,
    "index.hnsw.vacuum": _WRITE + ("python_ms",),
    "index.lsh.vacuum": _WRITE,
    "operators.dedup.minhash_lsh_pairs": _CURATION,
    "operators.dedup.ngram_jaccard_pairs": _CURATION + _CURATION_EAGER,
    "operators.dedup.simhash_neardup_pairs": _CURATION,
    "operators.corpus.neardup_resolve": _CURATION + _CURATION_EAGER,
    "operators.graph.connected_components": _CURATION + _CURATION_EAGER,
    "ml.dbscan.dbscan": _CURATION + _CURATION_EAGER,
    # bpe_train runs no Python UDF today, so this reads 0; it moves if a
    # Python path (e.g. the hybrid trainer's) is routed in. dbscan's
    # pandas eps-join runs inside a lazily checkpointed plan, which the SQL
    # store attributes to no execution, so it has no python_ms.
    "operators.bpe.bpe_train": _CURATION + ("python_ms",),
}

# end state of each index directory (after the run)
INDEX_STATE = tuple(f"index.{k}.{c}" for k in ("ivf", "hnsw", "lsh")
                    for c in ("files", "bytes", "tombstones"))

_UNITS = {"jobs": "count", "files": "count", "tombstones": "count",
          "input_bytes": "bytes", "shuffle_write_bytes": "bytes", "bytes": "bytes"}


def unit(counter: str) -> str:
    return _UNITS.get(counter, "ms")


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in declaration order."""
    out = [(f"{op}.{c}", unit(c)) for op, cs in OPS.items() for c in cs]
    out += [(n, unit(n.rsplit(".", 1)[1])) for n in INDEX_STATE]
    return out
