"""NeuronSparkEngine — the user-facing facade tying the surface together.

A user of the reference talks to SQL functions (neurondb.train, hybrid_search,
CREATE INDEX … USING ivf, embed_text, …). This facade is the 1:1 entry
point for that workflow on Spark: one object holding the session, catalog,
config namespace, metrics, and the operator modules.

It also implements the SURVEY §4 "cost-based ANN routing" as an API-level
rule: ``knn()`` consults the catalog for an index on the table and rewrites
the query into the probe plan (IVF partition-pruned scan / LSH bucket
probe) when one exists and the estimated probe cost — nprobe/ef_search
factored in — undercuts the exact scan; otherwise exact
TakeOrderedAndProject. ``explain_route`` shows the decision — an honest
per-AM cost model (hnsw_am.c:735-783 / ivf_am.c costestimate) replacing
the reference's string-matching heuristic (auto_route_query,
src/planner/planner.c:49-91).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession

from neurondb_spark.catalog import Catalog
from neurondb_spark.ops import Metrics
from neurondb_spark.session import get_conf, get_spark, set_conf

# Routing floor: below this many rows, one exact TakeOrderedAndProject
# scan beats any probe's fixed setup (index open + task scheduling), so
# the cost comparison is skipped entirely.
EXACT_SCAN_THRESHOLD = 100_000


def _probe_cost(method: str, imeta: dict, rows: int, k: int,
                probe_params: dict | None) -> float:
    """Estimated probe cost in DISTANCE EVALUATIONS, the unit in which
    the exact scan costs exactly ``rows`` (dim scales both sides equally
    and cancels). Mirrors the reference's per-AM costestimate shape
    (hnsw_am.c:735-783 ~ ef·log(N)·M; ivf_am.c ~ nlists + N·nprobe/nlists)
    with the caller's actual nprobe/ef_search factored in — a full probe
    (nprobe = nlists, or an ef that walks the whole graph) honestly costs
    MORE than the scan and routes exact (SURVEY §4)."""
    pp = probe_params or {}
    if method == "ivf":
        nlists = max(int(imeta.get("nlists", 100)), 1)
        nprobe = max(1, min(int(pp.get("nprobe") or 10), nlists))
        return nlists + rows * nprobe / nlists
    if method == "hnsw":
        shards = max(int(imeta.get("num_shards", 4)), 1)
        m = max(int(imeta.get("m", 16)), 2)
        ef = max(int(pp.get("ef_search") or 64), int(k))
        per_shard = max(rows / shards, 2.0)
        # every shard runs its own beam: ef frontier × M neighbor
        # expansions × greedy-descent depth ~ log(shard size)
        return shards * ef * m * math.log2(per_shard)
    if method == "lsh":
        nbits = max(int(imeta.get("nbits", 16)), 1)
        radius = max(int(pp.get("probe_hamming") or 1), 0)
        buckets = sum(math.comb(nbits, r) for r in range(min(radius, nbits) + 1))
        return rows * min(buckets / (2 ** nbits), 1.0) + 2 ** nbits
    return math.inf


def _snapshot_source_files(df: DataFrame) -> list[str]:
    """Input files of ``df`` IF its analyzed plan is a single leaf scan
    under pass-through wrappers only — SubqueryAlias, and Projects of
    BARE attribute references; ``[]`` otherwise. A Filter/Join/Sample/
    Limit in between means the index holds a row SUBSET, and a
    value-computing Project (withColumn replacing/normalizing the vector
    column before indexing) means the index holds DIFFERENT VALUES than
    the scan — either way the snapshot-equality guard in
    plans/knn_rewrite.py must never match this index against a raw-scan
    orderBy/limit, so recording is refused. The walk is the SAME
    ``_descend_passthrough`` the rewrite's match side uses — recorder
    and matcher accept exactly the same plan shapes by construction.
    Files come from the ANALYZED leaf (cache-proof — df.inputFiles()
    reports nothing for a cached frame), falling back to
    df.inputFiles() for leaf types without the file accessor."""
    from neurondb_spark.plans.knn_rewrite import (
        _descend_passthrough,
        _leaf_input_files,
    )

    try:
        node = _descend_passthrough(df._jdf.queryExecution().analyzed())
        if node.children().size() != 0:
            return []
        files = _leaf_input_files(node)
        return files if files is not None else sorted(df.inputFiles())
    except Exception:
        return []


class NeuronSparkEngine:
    def __init__(self, spark: SparkSession | None = None, catalog_dir: str | None = None):
        self.spark = spark or get_spark()
        if catalog_dir is None:
            # per-user default: a world-shared /tmp path invites symlink /
            # cross-user clobbering; production deployments pass a shared-
            # storage path explicitly
            import getpass
            import tempfile

            catalog_dir = os.path.join(
                tempfile.gettempdir(), f"neurondb_catalog_{getpass.getuser()}"
            )
        self.catalog = Catalog(catalog_dir)
        self.metrics = Metrics()

    # ------------------------------------------------------------ config

    def get_config(self, key: str, default: str | None = None) -> str:
        return get_conf(self.spark, key, default)

    def set_config(self, key: str, value: str) -> None:
        set_conf(self.spark, key, value)

    # ------------------------------------------------------------- index

    def create_index(
        self, name: str, df: DataFrame, vec_col: str, method: str = "ivf",
        metric: str = "l2", dim: int | None = None, **params,
    ):
        """CREATE INDEX … USING {ivf|lsh} analog (neurondb--1.0.sql:2709-2713)."""
        path = self.catalog.artifact_dir("indexes", name)
        if method == "ivf":
            from neurondb_spark.index.ivf import IVFIndex

            nlists = params.pop("nlists", int(self.get_config("ivf.nlists", "100")))
            idx = IVFIndex.build(df, vec_col, path, nlists=nlists, metric=metric, dim=dim, **params)
        elif method == "hnsw":
            # real sharded HNSW graphs (hnsw_am.c semantics; index/hnsw.py)
            from neurondb_spark.index.hnsw import HNSWIndex

            id_col = params.pop("id_col", None)
            if id_col is None:
                raise ValueError("neurondb: hnsw index needs id_col=<column>")
            idx = HNSWIndex.build(df, vec_col, id_col, path, dim=dim,
                                  metric=metric, **params)
        elif method == "lsh":
            from neurondb_spark.index.lsh import LSHIndex

            if dim is None:
                raise ValueError("neurondb: lsh index needs dim")
            idx = LSHIndex.build(df, vec_col, path, dim=dim, metric=metric, **params)
        else:
            raise ValueError(f"neurondb: unknown index method {method!r}")
        # File set the index snapshot covers — the optimize() plan rewrite
        # only fires when a candidate scan reads exactly these files.
        # Recorded ONLY when the build frame is a row-preserving view of
        # the scan (bare leaf, optionally under Project/SubqueryAlias —
        # nodes that cannot drop or add rows): an index built over
        # df.where(...) covers a SUBSET of the files' rows, so letting the
        # rewrite match a full-table orderBy/limit over those files would
        # silently lose rows beyond the ANN approximation contract. Empty
        # for filtered/joined builds and in-memory sources → the rewrite
        # never matches them; engine.knn(index=...) still probes them
        # explicitly under the documented snapshot semantics.
        source_files = _snapshot_source_files(df)
        self.catalog.register(
            "indexes", name,
            {"method": method, "vec_col": vec_col, "metric": metric,
             "dim": dim, "path": path, "rows": idx.meta.get("total_rows"),
             "source_files": source_files},
        )
        return idx

    def cdc_ingest(
        self, index_name: str, src_dir: str, schema,
        work_dir: str | None = None, op_col: str = "op",
        id_col: str | None = None,
    ):
        """Streaming CDC drain into a registered index (the reference's
        WAL-replay / background-aminsert workers, vector_wal.c +
        worker/*; streaming/index_ingest.py): parquet rows shaped like
        the index data plus ``op_col`` ('i' insert / 'd' delete) are
        applied through the index's own journaled DML, exactly-once per
        micro-batch. Run-once semantics (AvailableNow); re-invoking
        after new files land continues from the checkpoint. Returns the
        refreshed index handle and updates the catalog row count."""
        from neurondb_spark.streaming.index_ingest import index_cdc_drain

        meta = self.catalog.get("indexes", index_name)
        if meta is None:
            raise ValueError(f"neurondb: unknown index {index_name!r}")
        method = meta["method"]
        if method == "ivf":
            from neurondb_spark.index.ivf import IVFIndex

            idx = IVFIndex.load(meta["path"])
        elif method == "lsh":
            from neurondb_spark.index.lsh import LSHIndex

            idx = LSHIndex.load(meta["path"])
        elif method == "hnsw":
            from neurondb_spark.index.hnsw import HNSWIndex

            idx = HNSWIndex.load(meta["path"], spark=self.spark)
            if id_col is None:
                id_col = idx.meta["id_col"]
        else:
            raise ValueError(
                f"neurondb: index method {method!r} has no CDC ingest"
            )
        index_cdc_drain(
            self.spark, src_dir, schema, idx,
            work_dir or os.path.join(meta["path"], "ingest_work"),
            op_col=op_col, id_col=id_col or "vec_id",
            append_only=(method != "hnsw"),
        )
        self.catalog.register(
            "indexes", index_name,
            dict(meta, rows=idx.meta.get("total_rows")),
        )
        return idx

    # ------------------------------------------------- merge tables (CDC)

    def create_merge_table(
        self, name: str, df: DataFrame, key_cols: list[str],
        n_buckets: int = 16,
    ) -> str:
        """Seed a bucketed copy-on-write table (streaming/table_merge.py)
        and register it — the relational twin of ``create_index`` +
        ``cdc_ingest`` for plain tables."""
        from neurondb_spark.streaming.table_merge import init_merge_table

        path = self.catalog.artifact_dir("tables", name)
        init_merge_table(self.spark, df, path, key_cols, n_buckets=n_buckets)
        self.catalog.register(
            "tables", name,
            {"path": path, "key_cols": list(key_cols), "n_buckets": n_buckets},
        )
        return path

    def merge_cdc(self, name: str, src_dir: str, schema, **kw) -> DataFrame:
        """Drain change files (i/u/d + seq) into a registered merge table
        (AvailableNow run-once; idempotent last-writer-wins apply) and
        return the resulting table state."""
        from neurondb_spark.streaming.table_merge import (
            merge_stream_drain,
            read_merge_table,
        )

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        if "n_buckets" in kw:
            raise ValueError(
                "neurondb: bucket count is fixed at create_merge_table "
                f"(this table uses n_buckets={meta['n_buckets']}); "
                "re-bucketing is a rebuild, not a drain parameter"
            )
        merge_stream_drain(
            self.spark, src_dir, schema, meta["path"], meta["key_cols"],
            n_buckets=meta["n_buckets"], **kw,
        )
        return read_merge_table(self.spark, meta["path"])

    def read_table(self, name: str, at_commit: int | None = None) -> DataFrame:
        """Table state — current, or time-travelled to a recorded commit
        (readable while its files survive the one-commit-back retention
        window)."""
        from neurondb_spark.streaming.table_merge import read_merge_table

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        return read_merge_table(self.spark, meta["path"], at_commit=at_commit)

    def table_history(self, name: str) -> list:
        """Recorded manifest commits, oldest first (merge_table_history)
        — pair with read_table(name, at_commit=...) for time travel."""
        from neurondb_spark.streaming.table_merge import merge_table_history

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        return merge_table_history(meta["path"])

    def vacuum_table(self, name: str) -> dict:
        """Remove orphan files no manifest holder can reach (crashed
        commits' version dirs, dangling log batches) — offline
        maintenance, same single-writer contract as a drain."""
        from neurondb_spark.streaming.table_merge import vacuum_merge_table

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        return vacuum_merge_table(meta["path"])

    def compact_table(self, name: str) -> int:
        """Fold a merge-on-read table's change log into its base buckets
        (compact_merge_table); no-op (0) for copy-on-write tables."""
        from neurondb_spark.streaming.table_merge import compact_merge_table

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        return compact_merge_table(self.spark, meta["path"])

    def lookup_table(self, name: str, key: dict,
                     at_commit: int | None = None) -> DataFrame:
        """Bucket-pruned point read of one key (lookup_merge_table):
        scans 1/n_buckets of the base plus that bucket's log slices;
        ``at_commit`` answers against a recorded historical commit (same
        retention contract as read_table)."""
        from neurondb_spark.streaming.table_merge import lookup_merge_table

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        return lookup_merge_table(self.spark, meta["path"], key,
                                  at_commit=at_commit)

    def lookup_table_many(self, name: str, keys: list[dict],
                          at_commit: int | None = None) -> DataFrame:
        """Batched point read (lookup_merge_table_many): ONE bucket-hash
        job for all keys, then one pruned scan per touched bucket — a
        point-lookup service should batch instead of looping
        lookup_table (which pays job-scheduling latency per key).
        ``at_commit`` time-travels the whole batch."""
        from neurondb_spark.streaming.table_merge import (
            lookup_merge_table_many,
        )

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        return lookup_merge_table_many(self.spark, meta["path"], keys,
                                       at_commit=at_commit)

    def rebalance_table(self, name: str, n_buckets: int) -> None:
        """Re-bucket a merge table (offline full-table rewrite,
        rebalance_merge_table) and update the catalog's recorded
        bucketing so subsequent merge_cdc drains use the new layout."""
        from neurondb_spark.streaming.table_merge import rebalance_merge_table

        meta = self.catalog.get("tables", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown merge table {name!r}")
        rebalance_merge_table(self.spark, meta["path"], int(n_buckets))
        self.catalog.register(
            "tables", name, dict(meta, n_buckets=int(n_buckets))
        )

    def _index_build_meta(self, meta: dict) -> dict:
        """The index's OWN meta.json (nlists / num_shards / m / nbits —
        the build parameters the cost model needs, which the catalog row
        doesn't carry). One small local-file read, no Spark job; missing
        or unreadable meta degrades to the cost model's defaults."""
        try:
            with open(os.path.join(meta["path"], "meta.json")) as f:
                d = json.load(f)
            return d.get("meta", d)  # ivf nests under "meta"
        except (OSError, ValueError, KeyError):
            return {}

    def _route(self, index_name: str | None, n_rows: int | None,
               k: int = 10, probe_params: dict | None = None) -> dict:
        """SURVEY §4 cost-based routing (auto_route_query analog done
        honestly, planner.c:49-91): exact without an index or below the
        row floor, otherwise whichever of {exact scan, indexed probe}
        the cost model prices cheaper — with the caller's nprobe /
        ef_search / probe_hamming factored in, so a full probe routes
        exact instead of pretending to be an index win. The
        ``route.mode`` setting (auto | index | exact — PG's
        enable_seqscan / enable_indexscan analog) overrides the model
        for benchmarking and tests."""
        mode = self.get_config("route.mode", "auto")
        if mode == "exact":
            return {"route": "exact", "reason": "route.mode=exact"}
        if index_name is None:
            return {"route": "exact", "reason": "no index registered"}
        meta = self.catalog.get("indexes", index_name)
        if meta is None:
            return {"route": "exact", "reason": f"unknown index {index_name!r}"}
        if mode == "index":
            return {"route": meta["method"],
                    "reason": "route.mode=index", "meta": meta}
        rows = n_rows if n_rows is not None else meta.get("rows")
        if rows is None:
            # catalogs written before row counts were recorded: backfill
            # once from the index artifact (parquet metadata count — no
            # data scan) instead of silently skipping the threshold rule
            rows = self.spark.read.parquet(
                os.path.join(meta["path"], "data")
            ).count()
            meta = dict(meta, rows=rows)
            self.catalog.register("indexes", index_name, meta)
        if rows and rows < EXACT_SCAN_THRESHOLD:
            return {
                "route": "exact",
                "reason": f"{rows} rows < {EXACT_SCAN_THRESHOLD}: scan beats probe",
            }
        cost = _probe_cost(
            meta["method"], self._index_build_meta(meta), int(rows or 0),
            k, probe_params,
        )
        if rows and cost >= rows:
            return {
                "route": "exact",
                "reason": (
                    f"probe cost ~{cost:.0f} >= exact scan {rows} "
                    f"distance evals (full or near-full probe)"
                ),
            }
        return {
            "route": meta["method"],
            "reason": f"indexed probe: ~{cost:.0f} vs exact {rows} distance evals",
            "meta": meta,
        }

    def explain_route(self, index_name: str | None = None, n_rows: int | None = None,
                      k: int = 10, **probe_params) -> dict:
        return self._route(index_name, n_rows, k=k, probe_params=probe_params)

    # --------------------------------------------------- learned tuning

    def log_query_feedback(self, index_name: str, params: dict,
                           recall: float, latency_s: float) -> None:
        """Record one observed (probe params, recall, latency) for the
        SURVEY §4 recall-aware param pick (learn_from_query analog)."""
        from neurondb_spark.index.tuning import log_query_feedback

        log_query_feedback(self.catalog, index_name, params, recall, latency_s)

    def learned_params(self, index_name: str,
                       target_recall: float = 0.9) -> dict:
        """Cheapest logged probe params that met the recall target, or an
        escalated suggestion when nothing has; {} without history."""
        from neurondb_spark.index.tuning import learn_query_params

        return learn_query_params(self.catalog, index_name, target_recall)

    def _maybe_learned(self, index: str | None, probe_params: dict) -> dict:
        """Fill MISSING probe params from the learned history when
        ``tuning.auto`` is on (off by default — learned params change
        probe selectivity, so opting in is explicit, like the
        reference's neurondb_tuner GUCs). Caller-passed params always
        win."""
        if index is None or self.get_config("tuning.auto", "false") != "true":
            return probe_params
        learned = self.learned_params(
            index, float(self.get_config("tuning.target_recall", "0.9"))
        ).get("params", {})
        out = dict(learned)
        out.update({k: v for k, v in probe_params.items() if v is not None})
        return out

    # ------------------------------------------------------- plan rewrite

    def optimize(self, df: DataFrame) -> DataFrame:
        """SURVEY §4 plan-level rule: rewrite ``orderBy(dist).limit(k)``
        over an indexed scan into the ANN probe (planner.c:49-91
        auto_route_query analog; plans/knn_rewrite.py documents the exact
        match conditions and why this is a DataFrame-boundary call rather
        than an injected Catalyst rule in a pure-Python package). No
        match → the input plan unchanged."""
        from neurondb_spark.plans import rewrite_knn

        return rewrite_knn(self, df)

    def explain_rewrite(self, df: DataFrame) -> dict:
        """Decision record for :meth:`optimize` — rewrite/no-rewrite,
        which index matched, and the routing reason."""
        from neurondb_spark.plans import explain_knn_rewrite

        return explain_knn_rewrite(self, df)

    def knn(
        self, df: DataFrame, vec_col: str, query, k: int = 10,
        metric: str = "l2", dim: int | None = None, index: str | None = None,
        tiebreak: list[str] | None = None, **probe_params,
    ) -> DataFrame:
        """ORDER BY distance LIMIT k with index-aware routing.

        Routing uses the row count recorded in the catalog at build time —
        no count job per query (the reference likewise costs from stored
        reltuples stats, hnsw_am.c:735-783).

        Snapshot semantics: an indexed probe searches the data as of
        ``create_index`` (the partitioned parquet artifact), like a
        database index that is only as fresh as its last build/rebuild —
        rows appended to ``df`` afterwards are NOT visible until the index
        is rebuilt. The exact path always scans ``df`` itself.

        The indexed path requires a concrete query vector (list/tuple/
        1-D array of numbers); a Column query is only meaningful for the
        exact path (per-row queries can't use a prebuilt probe).
        """
        with self.metrics.time("knn"):
            probe_params = self._maybe_learned(index, probe_params)
            decision = self._route(index, None, k=k, probe_params=probe_params)
            if decision["route"] in ("ivf", "lsh", "hnsw"):
                from pyspark.sql import Column

                if isinstance(query, (Column, str)):
                    raise ValueError(
                        "neurondb: indexed knn needs a literal query vector; "
                        "per-row Column queries only route to the exact path"
                    )
                qvec = [float(x) for x in query]
                meta = decision["meta"]
                if meta.get("dim") is not None and len(qvec) != meta["dim"]:
                    raise ValueError(
                        f"neurondb: query dim {len(qvec)} != index dim {meta['dim']}"
                    )
            if decision["route"] == "ivf":
                from neurondb_spark.index.ivf import IVFIndex

                idx = IVFIndex.load(decision["meta"]["path"])
                return idx.search(self.spark, qvec, k=k,
                                  nprobe=probe_params.get("nprobe"), tiebreak=tiebreak)
            if decision["route"] == "hnsw":
                from neurondb_spark.index.hnsw import HNSWIndex

                idx = HNSWIndex.load(decision["meta"]["path"], self.spark)
                return idx.search(self.spark, qvec, k=k,
                                  ef_search=probe_params.get("ef_search", 64))
            if decision["route"] == "lsh":
                from neurondb_spark.index.lsh import LSHIndex

                idx = LSHIndex.load(decision["meta"]["path"])
                return idx.search(self.spark, qvec, k=k,
                                  probe_hamming=probe_params.get("probe_hamming", 1),
                                  tiebreak=tiebreak)
            from neurondb_spark.operators.knn import knn as exact_knn

            return exact_knn(df, vec_col, query, k=k, metric=metric, dim=dim,
                             tiebreak=tiebreak or [])

    def knn_batch(
        self, df: DataFrame, vec_col: str, queries, k: int = 10,
        metric: str = "l2", dim: int | None = None, index: str | None = None,
        tiebreak: list[str] | None = None, **probe_params,
    ) -> DataFrame:
        """Batch form of :meth:`knn` — top-k for every (qid, vector) of a
        small query batch in ONE plan per route: IVF and LSH join the
        batch's probe pairs (cluster ids / multi-probe buckets) against
        their partitioned layouts (all queries share one pruned scan),
        HNSW answers the whole batch in one graph pass per shard, and
        the exact route is the broadcast kNN join."""
        with self.metrics.time("knn_batch"):
            probe_params = self._maybe_learned(index, probe_params)
            decision = self._route(index, None, k=k, probe_params=probe_params)
            if decision["route"] == "ivf":
                from neurondb_spark.index.ivf import IVFIndex

                idx = IVFIndex.load(decision["meta"]["path"])
                return idx.search_batch(
                    self.spark, queries, k=k,
                    nprobe=probe_params.get("nprobe"), tiebreak=tiebreak,
                )
            if decision["route"] == "hnsw":
                from neurondb_spark.index.hnsw import HNSWIndex

                idx = HNSWIndex.load(decision["meta"]["path"], self.spark)
                return idx.search_batch(
                    self.spark, queries, k=k,
                    ef_search=probe_params.get("ef_search", 64),
                )
            if decision["route"] == "lsh":
                from neurondb_spark.index.lsh import LSHIndex

                idx = LSHIndex.load(decision["meta"]["path"])
                return idx.search_batch(
                    self.spark, queries, k=k,
                    probe_hamming=probe_params.get("probe_hamming", 1),
                    tiebreak=tiebreak,
                )
            from neurondb_spark.operators.knn import knn_batch as exact_batch

            return exact_batch(df, vec_col, queries, k=k, metric=metric,
                               dim=dim, tiebreak=tiebreak)

    # ------------------------------------------------------------ search

    def hybrid_search(self, df, vec_col, text_col, query_vec, query_text, **kw):
        from neurondb_spark.operators.hybrid import hybrid_search

        with self.metrics.time("hybrid_search"):
            return hybrid_search(df, vec_col, text_col, query_vec, query_text, **kw)

    def rag_query(self, df, vec_col, text_cols, query_text, **kw):
        from neurondb_spark.functions.embed import rag_query

        return rag_query(df, vec_col, text_cols, query_text, **kw)

    def embed(self, df, text_col, **kw):
        """embed_text routing (embeddings.c:332-438): HTTP provider when
        ``spark.neurondb.llm.*`` is configured, hash fallback otherwise."""
        from neurondb_spark.llm import embed_text_auto

        return embed_text_auto(df, text_col, **kw)

    def llm_complete(self, df, prompt_col, **kw):
        from neurondb_spark.llm import llm_complete

        return llm_complete(df, prompt_col, **kw)

    def rerank(self, df, text_col, query, **kw):
        """Provider rerank with the deterministic lexical fallback tier
        (reranking.c:92-751)."""
        from neurondb_spark.llm import rerank_llm

        return rerank_llm(df, text_col, query, **kw)

    # -------------------------------------------------------- tokenizers

    def train_tokenizer(
        self, name: str, df: DataFrame, text_col: str, num_merges: int,
        max_words: int | None = None,
    ) -> list[tuple[str, str, int]]:
        """Train a BPE tokenizer on a corpus and persist it as a catalog
        artifact: distributed word count (bpe_word_table) + the
        driver-side merge loop (bpe_train), saved via
        operators/tokenizer_io — the training-side counterpart
        of the reference's pretrained-tokenizer loading surface
        (neurondb--1.0.sql:5117-5157). Returns the learned merge table
        (may be shorter than ``num_merges`` if pairs exhaust)."""
        from neurondb_spark.operators.bpe import bpe_train, bpe_word_table
        from neurondb_spark.operators.tokenizer_io import save_tokenizer

        words = bpe_word_table(df, text_col, max_words=max_words)
        merges, _final = bpe_train(words, num_merges)
        path = os.path.join(
            self.catalog.artifact_dir("tokenizers", name), "tokenizer.json"
        )
        save_tokenizer(path, merges,
                       {"text_col": text_col, "max_words": max_words})
        self.catalog.register(
            "tokenizers", name,
            {"path": path, "num_merges": len(merges)},
        )
        return merges

    def tokenize_with(
        self, name: str, df: DataFrame, text_col: str,
        out_col: str = "tokens",
    ) -> DataFrame:
        """Apply a saved tokenizer: ``df`` with ``out_col`` holding each
        row's subword tokens (``bpe.bpe_tokenize``, one Arrow-batched UDF
        that folds each distinct word of a batch once; ``[]`` for null or
        token-less text). Adds no shuffle and no job of its own (the
        reference's tokenizer surface is a per-row function,
        neurondb--1.0.sql:5117-5157)."""
        from neurondb_spark.operators.bpe import bpe_tokenize
        from neurondb_spark.operators.tokenizer_io import load_tokenizer

        meta = self.catalog.get("tokenizers", name)
        if meta is None:
            raise ValueError(f"neurondb: unknown tokenizer {name!r}")
        merges, _ = load_tokenizer(meta["path"])
        return df.withColumn(out_col, bpe_tokenize(text_col, merges))

    def user_similarity(self, ratings, target_user, **kw):
        from neurondb_spark.ml.recommender import user_similarity

        return user_similarity(ratings, target_user, **kw)

    def recommend_hybrid(self, ratings, item_vectors, target_user, **kw):
        from neurondb_spark.ml.recommender import recommend_hybrid

        return recommend_hybrid(ratings, item_vectors, target_user, **kw)

    # ---------------------------------------------------------------- ML

    @property
    def ml(self):
        from neurondb_spark.ml.api import MLEngine

        if not hasattr(self, "_ml"):
            self._ml = MLEngine(self.catalog)
        return self._ml

    def train(self, df, algorithm, features, target=None, **kw):
        """neurondb.train analog."""
        return self.ml.train(df, algorithm, features, target=target, **kw)

    def predict(self, df, model_id):
        return self.ml.predict(df, model_id)

    def evaluate(self, df, model_id):
        return self.ml.evaluate(df, model_id)

    def list_algorithms(self):
        from neurondb_spark.ml.api import list_algorithms

        return list_algorithms()

    # ----------------------------------------------------------- ops

    def health(self) -> dict:
        from neurondb_spark.ops import health

        return health(self.spark)

    def version(self) -> str:
        from neurondb_spark import __version__

        return __version__
