"""DBSCAN over vector columns (SURVEY §2.8; reference
NeuronDB/src/ml/ml_dbscan.c:184 — one in-memory pass on a single node).

With a block key, no eps-pair crosses a block, so DBSCAN is the
reference's single-node pass run once per block: one
``groupBy(*on).applyInPandas`` over :func:`_block_labels`, one shuffle,
no driver loop. Per block:

1. candidate pairs from one GEMM (``joins.gemm_candidates``) at
   eps + ``EPS_MARGIN``; the GEMM differs from the elementwise distance by
   about 1e-15 relative, so no true pair is dropped;
2. every candidate rechecked exactly: float64, left-associative
   Σ (x − y)², then sqrt, then ≤ eps — the distance fold's IEEE op order
   (functions/distance.py), so a pair right at eps is decided as the
   Spark kernel and the DuckDB oracle decide it;
3. degree counts the self-pair; a core point has degree ≥ min_samples;
4. union-find over the core–core pairs; a cluster is labelled by its
   minimum core id (an isolated core is a cluster of its own);
5. a border point (non-core with a core neighbour) takes the minimum
   label among its core neighbours; every other point is noise, −1.

Rows with a null id, a null vector or a null block key are noise: they
meet no other row. ``on=None`` (with ``allow_cross=True``) makes the whole
frame one block, as the reference does. Peak memory per task is one
block's n² distance matrix, the bound the GEMM similarity join in
``operators/joins.py`` has too, so at scale the block key must be
selective (a label, an LSH band, an IVF list).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.operators.graph import union_find
from neurondb_spark.operators.joins import gemm_candidates, require_block_key

# GEMM prefilter slack on eps; the exact recheck decides every survivor
EPS_MARGIN = 1e-6

_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _block_labels(ids, X, eps: float, min_samples: int) -> np.ndarray:
    """DBSCAN labels for one block: ``ids`` (n,) integers, ``X`` (n, d)
    float64 rows. Returns (n,) int64: the minimum core id of the point's
    cluster, or −1 for noise."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    labels = np.full(n, -1, dtype=np.int64)
    if n == 0:
        return labels
    X = np.asarray(X, dtype=np.float64)
    ii, jj = gemm_candidates(X, X, float(eps) + EPS_MARGIN)
    s = np.zeros(len(ii))
    for col in X.T:  # left-associative, one dimension at a time
        t = col[ii] - col[jj]
        s = s + t * t
    keep = np.sqrt(s) <= eps
    ii, jj = ii[keep], jj[keep]
    core = np.bincount(ii, minlength=n) >= min_samples

    # clusters: union-find over the core-core pairs
    cc = core[ii] & core[jj]
    parent = union_find(n, ii[cc], jj[cc])
    none = np.iinfo(np.int64).max
    cid = np.full(n, none)
    np.minimum.at(cid, parent[core], ids[core])
    labels[core] = cid[parent[core]]

    # a non-core point takes the min label among its core neighbours
    to_core = core[jj]
    near = np.full(n, none)
    np.minimum.at(near, ii[to_core], labels[jj[to_core]])
    border = ~core & (near != none)
    labels[border] = near[border]
    return labels


def dbscan(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    eps: float,
    min_samples: int = 5,
    on: list[str] | None = None,
    dim: int | None = None,
    allow_cross: bool = False,
) -> DataFrame:
    """Returns (id, cluster), both of ``id_col``'s integer type, with
    cluster = min core-point id of the cluster, or −1 for noise. ``on``
    is the block key; ``dim``, when given, must equal every vector's
    length."""
    require_block_key(on, allow_cross)
    id_t = dict(df.dtypes)[id_col]
    if id_t not in _INT_TYPES:
        raise TypeError(f"neurondb: dbscan needs an integer id column, got {id_t}")
    keys = [F.col(c) for c in on] if on else [F.lit(0)]
    ok = F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    for c in on or []:
        ok = ok & F.col(c).isNotNull()
    # ids go to pandas null-free (an integer column with a null arrives
    # as float64, which rounds ids past 2**53); _nid restores the nulls
    rows = df.select(
        *[k.alias(f"_k{i}") for i, k in enumerate(keys)],
        F.coalesce(F.col(id_col), F.lit(0)).alias("_id"),
        F.col(id_col).isNull().alias("_nid"),
        F.col(vec_col).alias("_vec"),
        ok.alias("_ok"),
    )

    def _labels(pdf):
        import pandas as pd

        okm = pdf["_ok"].to_numpy(dtype=bool)
        vecs = pdf["_vec"][okm].tolist()
        lens = {len(v) for v in vecs}
        if len(lens) > 1 or (dim is not None and lens - {dim}):
            raise ValueError(
                f"neurondb: vector dimension mismatch (lengths {sorted(lens)}, dim={dim})"
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        cluster = np.full(len(pdf), -1, dtype=np.int64)
        cluster[okm] = _block_labels(
            ids[okm], np.array(vecs, dtype=np.float64), float(eps), int(min_samples)
        )
        out_id = pd.Series(ids, dtype="Int64").mask(pdf["_nid"].to_numpy(dtype=bool))
        return pd.DataFrame({"id": out_id, "cluster": cluster})

    return rows.groupBy(*[f"_k{i}" for i in range(len(keys))]).applyInPandas(
        _labels, f"id {id_t}, cluster {id_t}"
    )
