"""Random-hyperplane LSH index — the scan-friendly stand-in for the
reference's HNSW niche (sub-linear approximate kNN over cosine-like
similarity; HNSW itself is pointer-chasing and anti-scan, see
index/__init__.py).

Design: ``nbits`` seeded random hyperplanes → one integer bucket signature
per row (a pure Column expression — the hyperplanes are literals, so
signature computation is codegen'd and needs no shuffle). Search probes the
query's bucket plus all buckets within ``probe_hamming`` bit flips
(multi-probe LSH), then scores exactly. With a bucket-partitioned layout
the probe is partition pruning, same as IVF.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark.functions.distance import distance, double_sql, inner_product


def _bucket_manifest(data_path: str) -> dict:
    """One driver-side walk of the bucket-partitioned layout →
    {bucket_id(str): [relative parquet file paths]}. JSON-serializable
    (string keys), stored in meta so probes skip directory listing."""
    out: dict[str, list[str]] = {}
    if not os.path.isdir(data_path):
        return out
    for entry in sorted(os.listdir(data_path)):
        if not entry.startswith("bucket="):
            continue
        sub = os.path.join(data_path, entry)
        if not os.path.isdir(sub):
            continue
        files = sorted(
            os.path.join(entry, f)
            for f in os.listdir(sub)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if files:
            out[entry.split("=", 1)[1]] = files
    return out


def _hyperplanes(dim: int, nbits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(nbits)]


def signature_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Bucket signature: bit b = sign(<v, plane_b>), rendered as one SQL
    expression: a fold over a plane-matrix array literal, so each weight
    appears once and analysis and codegen stay small. Each dot is the
    inner-product kernel's fold (left-assoc from 0.0), the order
    ``LSHIndex._query_buckets`` uses in Python, so the two agree."""
    mat = ", ".join(f"array({', '.join(double_sql(w) for w in p)})" for p in planes)
    powers = ", ".join(str(2 ** b) for b in range(len(planes)))
    dot = inner_product.sql(vec_col, "plane", checked=False)
    bits = (
        f"zip_with(transform(array({mat}), plane -> {dot}), array({powers}), "
        "(d, pw) -> CASE WHEN d >= 0 THEN pw ELSE 0 END)"
    )
    return F.expr(f"aggregate({bits}, CAST(0 AS BIGINT), (a, x) -> a + x)")


class LSHIndex:
    def __init__(self, path: str, meta: dict):
        self.path = path
        self.meta = meta

    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        path: str,
        dim: int,
        nbits: int = 8,
        seed: int = 42,
        metric: str = "cosine",
    ) -> "LSHIndex":
        from neurondb_spark.data_management import (
            atomic_write_json,
            footer_rows,
            layout_schema,
        )

        planes = _hyperplanes(dim, nbits, seed)
        sig = signature_expr(vec_col, planes)
        df.withColumn("bucket", sig).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(path, "data"))
        meta = {
            "version": 1,
            "method": "lsh",
            "vec_col": vec_col,
            "metric": metric,
            "dim": dim,
            "nbits": nbits,
            "seed": seed,
            "planes": planes,
            # row count and layout schema read from the just-written
            # footers: the build runs no count or inference job, and
            # search reads with an explicit schema (IVF discipline)
            "total_rows": footer_rows(os.path.join(path, "data")),
            "built_at": int(time.time()),
            "data_schema": layout_schema(os.path.join(path, "data"), "bucket"),
            # bucket -> data-file manifest: probes read only the named
            # files of their probed buckets (no per-query listing)
            "bucket_files": _bucket_manifest(os.path.join(path, "data")),
        }
        atomic_write_json(os.path.join(path, "meta.json"), meta)
        return LSHIndex(path, meta)

    @staticmethod
    def load(path: str) -> "LSHIndex":
        # Crash recovery: a journaled commit (vacuum, compact) that died
        # mid-commit is rolled forward here (idempotent renames, no
        # Spark — the shared protocol, data_management.apply_dml_commit).
        from neurondb_spark.data_management import apply_dml_commit

        apply_dml_commit(path)
        with open(os.path.join(path, "meta.json")) as f:
            idx = LSHIndex(path, json.load(f))
        if "bucket_files" not in idx.meta:
            # meta predates the manifest: one walk seeds it and persists
            # for later processes
            from neurondb_spark.data_management import atomic_write_json

            idx._refresh_manifest()
            atomic_write_json(os.path.join(path, "meta.json"), idx.meta)
        return idx

    def _query_buckets(self, query: list[float], probe_hamming: int) -> list[int]:
        base = 0
        for b, plane in enumerate(self.meta["planes"]):
            if sum(q * w for q, w in zip(query, plane)) >= 0:
                base |= 1 << b
        nbits = self.meta["nbits"]
        buckets = {base}
        for r in range(1, probe_hamming + 1):
            for flips in itertools.combinations(range(nbits), r):
                m = base
                for f_ in flips:
                    m ^= 1 << f_
                buckets.add(m)
        return sorted(buckets)

    def _refresh_manifest(self) -> None:
        """Re-scan the layout directory ONCE (driver-side, no Spark job)
        and record the bucket → data-file map in meta. Probes then read
        exactly the named files of their probed buckets — no directory
        listing of the other 2^nbits buckets per query (the Iceberg-style
        manifest argument, guide §6: table formats with manifest metadata
        avoid directory listing altogether). Called by insert and by
        load() for a meta without a manifest; build, compact and vacuum
        stage the manifest of the layout they write. On a remote FS swap
        os.walk for the FileSystem listing API."""
        self.meta["bucket_files"] = _bucket_manifest(
            os.path.join(self.path, "data")
        )

    def _read_data(
        self, spark: SparkSession, buckets=None
    ) -> DataFrame:
        """Read the bucket-partitioned layout with the schema cached at
        build time when available — no schema-inference job on the
        search hot path (same discipline as IVF/HNSW).

        With ``buckets`` (an iterable of probe bucket ids) and a
        build-time manifest in meta, ONLY the probed buckets' named
        files are read: construction is free of the directory-listing
        job a layout wider than ``spark.sql.sources.
        parallelPartitionDiscovery.threshold`` (default 32) pays, and
        the scan's file set is exactly the probed partitions (buckets
        with no file — empty — contribute nothing, same as the pruned
        full read). Falls back to the full-layout read when the meta
        predates the manifest."""
        from pyspark.sql import types as T

        p = os.path.join(self.path, "data")
        sj = self.meta.get("data_schema")
        st = T.StructType.fromJson(json.loads(sj)) if sj else None
        manifest = self.meta.get("bucket_files")
        if buckets is not None and manifest is not None and st is not None:
            files = [
                os.path.join(p, rel)
                for b in buckets
                for rel in manifest.get(str(int(b)), ())
            ]
            if not files:
                return spark.createDataFrame([], st)
            return (
                spark.read.option("basePath", p).schema(st).parquet(*files)
            )
        if st is not None:
            return spark.read.schema(st).parquet(p)
        return spark.read.parquet(p)

    def search(
        self,
        spark: SparkSession,
        query: list[float],
        k: int = 10,
        probe_hamming: int = 1,
        dist_col: str = "distance",
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        buckets = self._query_buckets(query, probe_hamming)
        df = self._read_data(spark, buckets=buckets)
        pruned = df.where(F.col("bucket").isin(buckets))
        pruned = self._apply_tombstones(spark, pruned)
        d = distance(
            self.meta["vec_col"], query, self.meta["metric"],
            dim=self.meta["dim"], checked=False,
        )
        out = pruned.withColumn(dist_col, d)
        order = [F.col(dist_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
        return out.orderBy(*order).limit(k)

    def search_batch(
        self,
        spark: SparkSession,
        queries,
        k: int = 10,
        probe_hamming: int = 1,
        dist_col: str = "distance",
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        """Batch multi-probe: every query's probe buckets become
        (qid, bucket) pairs broadcast-joined against the
        bucket-partitioned layout, so the whole batch shares ONE pruned
        scan (the IVFIndex.search_batch shape; `lsh_batch_knn` is the
        oracle-checked registry twin). ``queries`` is a list of
        (qid, vector) pairs or a small DataFrame with (qid, vector)
        columns — small by contract, broadcast. Returns per-query exact
        top-k within each query's probed buckets:
        (qid, <data columns>, dist_col)."""
        from pyspark.sql import types as T
        from pyspark.sql.window import Window

        if isinstance(queries, DataFrame):
            qrows = [(int(r[0]), r[1]) for r in queries.collect()]
        else:
            qrows = [(int(a), v) for a, v in queries]
        qs = [(qid, [float(x) for x in vec]) for qid, vec in qrows]
        probes = [
            (qid, int(b))
            for qid, q in qs for b in self._query_buckets(q, probe_hamming)
        ]
        pschema = T.StructType([
            T.StructField("qid", T.LongType()),
            T.StructField("bucket", T.LongType()),
        ])
        qschema = T.StructType([
            T.StructField("qid", T.LongType()),
            T.StructField("_qvec", T.ArrayType(T.DoubleType())),
        ])
        pdf = spark.createDataFrame(probes, schema=pschema)
        qdf = spark.createDataFrame(qs, schema=qschema)
        df = self._read_data(
            spark, buckets=sorted({b for _, b in probes})
        )
        cands = df.join(F.broadcast(pdf), "bucket").join(
            F.broadcast(qdf), "qid"
        )
        d = distance(
            self.meta["vec_col"], "_qvec", self.meta["metric"],
            dim=self.meta["dim"], checked=False,
        )
        w = Window.partitionBy("qid").orderBy(
            F.col(dist_col).asc(), *[F.col(c).asc() for c in (tiebreak or [])]
        )
        cands = self._apply_tombstones(spark, cands)
        out = cands.withColumn(dist_col, d).drop("_qvec")
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(k))
            .drop("_rn")
        )

    # --------------------------------------------------------------- DML

    def insert(self, df_new: DataFrame, n_new: int | None = None) -> "LSHIndex":
        """Incremental insert: new rows get their bucket signature from
        the SAME hyperplane expression the build used and are appended
        to their bucket partitions — append-only, no existing file
        rewritten, one partitioned write of just the new rows (the IVF
        aminsert shape). The hyperplanes are fixed at build time, so
        bucket routing never drifts. Schema must match the indexed data
        exactly (mixed-schema parquet reads silently drop columns) and
        is validated against the meta-cached layout schema.
        ``total_rows`` (cost-model input only) is maintained
        INCREMENTALLY (r9 verdict #3 — no recount job over the layout
        per micro-batch) and reconciled exactly by ``vacuum()`` /
        ``compact()``. Pass ``n_new`` when the caller already knows the
        batch size (the CDC drain does) and the insert plans exactly
        ONE job — the routed append; otherwise one extra O(batch) count
        job runs, never touching the layout. (Not an Observation on the
        write: a registered Observation lingers in the session's
        ObservationManager and poisons later MLlib closure
        serialization — see IVFIndex.insert.)"""
        from pyspark.sql import types as T

        from neurondb_spark.data_management import atomic_write_json, footer_rows

        spark = df_new.sparkSession
        sj = self.meta.get("data_schema")
        if sj:
            st = T.StructType.fromJson(json.loads(sj))
        else:
            st = self._read_data(spark).schema
        want = {f.name: f.dataType for f in st.fields if f.name != "bucket"}
        have = {f.name: f.dataType for f in df_new.schema.fields}
        if have != want:
            raise ValueError(
                "neurondb: lsh insert schema mismatch — index data has "
                f"{sorted((n, d.simpleString()) for n, d in want.items())} "
                f"but df_new has "
                f"{sorted((n, d.simpleString()) for n, d in have.items())}"
            )
        if n_new is None:
            n_new = df_new.count()  # O(batch), never the layout
        sig = signature_expr(self.meta["vec_col"], self.meta["planes"])
        df_new.withColumn("bucket", sig).write.mode("append").partitionBy(
            "bucket"
        ).parquet(os.path.join(self.path, "data"))
        prior = self.meta.get("total_rows")
        if prior is None:  # legacy meta without the counter: seed it once
            self.meta["total_rows"] = footer_rows(os.path.join(self.path, "data"))
        else:
            self.meta["total_rows"] = int(prior) + int(n_new)
        self._refresh_manifest()  # append added files to some buckets
        atomic_write_json(os.path.join(self.path, "meta.json"), self.meta)
        return self

    def delete(self, spark: SparkSession, ids,
               id_col: str = "vec_id") -> None:
        """Soft delete: tombstone ids; search anti-joins them out. The
        tombstone key column is persisted in meta on the first delete;
        later deletes with a DIFFERENT id_col raise rather than
        producing a mixed-key tombstone set (the IVF contract).
        ``ids`` is a Python sequence OR a DataFrame of ids — the
        DataFrame form stays distributed end to end (mass-delete CDC
        batches never serialize ids through the driver)."""
        from neurondb_spark.data_management import (
            as_tombstone_frame,
            atomic_write_json,
        )

        recorded = self.meta.get("tombstone_id_col")
        if recorded is not None and recorded != id_col:
            raise ValueError(
                f"neurondb: lsh index at {self.path!r} already has "
                f"tombstones keyed by {recorded!r}; cannot delete by "
                f"{id_col!r} (vacuum first, or use the recorded column)"
            )
        as_tombstone_frame(spark, ids, id_col).write.mode(
            "append"
        ).parquet(os.path.join(self.path, "tombstones"))
        if recorded is None:
            self.meta["tombstone_id_col"] = id_col
            atomic_write_json(os.path.join(self.path, "meta.json"), self.meta)

    def _tombstones(self, spark: SparkSession) -> DataFrame | None:
        from neurondb_spark.data_management import read_tombstones

        return read_tombstones(
            spark, os.path.join(self.path, "tombstones"),
            self.meta.get("tombstone_id_col", "vec_id"), "lsh",
        )

    def _apply_tombstones(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        tomb = self._tombstones(spark)
        if tomb is None:
            return df
        tomb_col = tomb.columns[0]
        if tomb_col not in df.columns:
            # Never silently return soft-deleted rows (the IVF guard).
            raise ValueError(
                f"neurondb: lsh index at {self.path!r} has tombstones "
                f"keyed by {tomb_col!r} but the data has no such column "
                f"(data columns: {df.columns})"
            )
        return df.join(tomb, tomb_col, "left_anti")

    def compact(self, spark: SparkSession) -> "LSHIndex":
        """Merge each bucket's small files into one (the IVF compact
        analog for the hyperplane layout — see IVFIndex.compact): the
        layout is rewritten repartitioned by ``bucket`` into ``data_tmp``
        and committed through the shared journal with the staged meta,
        which carries the compacted layout's exact footer ``total_rows``
        and its bucket manifest, so a crash mid-commit can never leave
        meta naming files the swap deleted."""
        from neurondb_spark.data_management import dml_commit, footer_rows

        tmp = os.path.join(self.path, "data_tmp")
        self._read_data(spark).repartition(F.col("bucket")).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(tmp)
        staged = dict(self.meta)
        staged["total_rows"] = footer_rows(tmp)
        # relative file names survive the data_tmp -> data swap rename
        staged["bucket_files"] = _bucket_manifest(tmp)
        dml_commit(self.path, staged, tombstones="keep")
        self.meta = staged
        return self

    def vacuum(self, spark: SparkSession) -> "LSHIndex":
        """VACUUM analog: rewrite the bucket partitions without
        tombstoned rows (layout and hyperplanes unchanged); then clear
        tombstones. Committed through the SHARED journaled protocol
        (data_management.dml_commit): the live rows and fully-computed meta (exact ``total_rows``
        reconcile) are staged, then ONE atomic journal rename swaps them
        in and clears tombstones; a crash at any point is repaired by
        ``load()``."""
        from neurondb_spark.data_management import dml_commit, footer_rows

        tomb = self._tombstones(spark)
        if tomb is None:
            return self
        live = self._read_data(spark).join(
            tomb, self.meta.get("tombstone_id_col", "vec_id"), "left_anti"
        )
        tmp = os.path.join(self.path, "data_tmp")
        live.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        staged = dict(self.meta)
        staged.pop("tombstone_id_col", None)
        staged["total_rows"] = footer_rows(tmp)
        # relative file names survive the data_tmp -> data swap rename
        staged["bucket_files"] = _bucket_manifest(tmp)
        dml_commit(self.path, staged, tombstones="clear")
        self.meta = staged
        return self
