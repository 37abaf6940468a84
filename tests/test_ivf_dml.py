"""IVF index DML lifecycle: append-insert, tombstone delete, vacuum
(index/ivf.py; reference ivf_am.c aminsert + dead-tuple VACUUM)."""

import json
import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR, crash_at_commit  # noqa: E402

NLISTS = 8


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def qv(emb):
    row = emb.where(F.col("vec_id") == 3).head()
    return [float(x) for x in row["embedding"]]


def _skewed_index(emb, prefix):
    """Two lists holding half the corpus each (cluster = vec_id % 2)."""
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix=prefix), "idx")
    layout = emb.withColumn("cluster_id", (F.col("vec_id") % 2).cast("int"))
    c0 = [float(x) for x in emb.where(F.col("vec_id") == 1).head()["embedding"]]
    c1 = [float(x) for x in emb.where(F.col("vec_id") == 2).head()["embedding"]]
    return IVFIndex.from_assignment(layout, "embedding", path, [c0, c1])


def _brute_ids(emb, qv, k, exclude=()):
    from neurondb_spark.functions.distance import l2_distance

    df = emb
    if exclude:
        df = df.where(~F.col("vec_id").isin(list(exclude)))
    rows = (
        df.select("vec_id", l2_distance("embedding", qv, checked=False).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    )
    return [r["vec_id"] for r in rows]


@pytest.fixture(scope="module")
def dml_index(spark, emb):
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_dml_"), "idx")
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding", path, nlists=NLISTS
    )
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    return idx


def test_insert_appends_to_nearest_list(spark, emb, qv, dml_index):
    assert dml_index.meta["total_rows"] == emb.count()
    got = [
        r["vec_id"]
        for r in dml_index.search(
            spark, qv, k=10, nprobe=NLISTS, tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)
    # inserted rows landed in their NEAREST list: probe-1 recall on an
    # inserted row's own vector must find that row first
    row = emb.where(F.col("vec_id") % 2 == 1).orderBy("vec_id").head()
    probe1 = dml_index.search(
        spark, [float(x) for x in row["embedding"]], k=1, nprobe=1,
        tiebreak=["vec_id"],
    ).head()
    assert probe1["vec_id"] == row["vec_id"]


def test_delete_and_vacuum(spark, emb, qv, dml_index):
    top = _brute_ids(emb, qv, 2)
    dml_index.delete(spark, top)
    got = [
        r["vec_id"]
        for r in dml_index.search(
            spark, qv, k=10, nprobe=NLISTS, tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10, exclude=top)

    n_before = dml_index.meta["total_rows"]
    dml_index.vacuum(spark)
    assert dml_index._tombstones(spark) is None
    assert dml_index.meta["total_rows"] == n_before - len(top)
    got2 = [
        r["vec_id"]
        for r in dml_index.search(
            spark, qv, k=10, nprobe=NLISTS, tiebreak=["vec_id"]
        ).collect()
    ]
    assert got2 == got


def test_delete_id_col_recorded_and_enforced(spark, emb):
    """ADVICE r5: tombstone key is persisted at delete time; a later
    delete/vacuum with a different id_col raises instead of silently
    producing an unapplyable tombstone set."""
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_idcol_"), "idx")
    idx = IVFIndex.build(emb, "embedding", path, nlists=4)
    idx.delete(spark, [1, 2])
    assert idx.meta["tombstone_id_col"] == "vec_id"
    with pytest.raises(ValueError, match="already has"):
        idx.delete(spark, [3], id_col="other_id")
    with pytest.raises(ValueError, match="disagrees"):
        idx.vacuum(spark, id_col="other_id")
    # meta round-trips through load()
    assert IVFIndex.load(path).meta["tombstone_id_col"] == "vec_id"
    idx.vacuum(spark)
    assert "tombstone_id_col" not in idx.meta


def test_search_raises_when_tombstones_unapplyable(spark, emb, qv):
    """Tombstones keyed by a column the data lacks must fail loudly, not
    silently return soft-deleted rows."""
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_badtomb_"), "idx")
    idx = IVFIndex.build(emb, "embedding", path, nlists=4)
    idx.delete(spark, [1], id_col="doc_id")  # data has vec_id, not doc_id
    with pytest.raises(ValueError, match="no such"):
        idx.search(spark, qv, k=5, nprobe=4).collect()


def test_insert_schema_mismatch_raises(spark, emb):
    """ADVICE r5: appending a differently-shaped frame would write
    mixed-schema parquet — insert() must refuse."""
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_schema_"), "idx")
    idx = IVFIndex.build(emb.where(F.col("vec_id") < 30), "embedding", path, nlists=4)
    bad = emb.where(F.col("vec_id") >= 30).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        idx.insert(bad)
    bad2 = emb.where(F.col("vec_id") >= 30).withColumn(
        "vec_id", F.col("vec_id").cast("int")
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        idx.insert(bad2)


def test_from_assignment_layout_and_probe_override(spark, emb, qv):
    """IVFIndex.from_assignment + probe_clusters: a caller-provided
    Lloyd-exact layout is searchable, full probe is exact, and an
    explicit probe list returns exactly the rows routed to it."""
    from neurondb_spark.index.ivf import IVFIndex
    from neurondb_spark.ml.stats import kmeans_lloyd_exact

    assign, cent = kmeans_lloyd_exact(
        emb, "embedding", "vec_id", k=4, iters=2, return_centroids=True
    )
    dim = len(qv)
    centroids = [[0.0] * dim for _ in range(4)]
    for r in cent.collect():
        centroids[r["cluster"]][r["pos"] - 1] = float(r["cval"])
    layout = emb.join(assign, "vec_id").select(
        "vec_id", "embedding", F.col("cluster").alias("cluster_id")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="ivf_lloyd_"), "idx")
    idx = IVFIndex.from_assignment(layout, "embedding", path, centroids)
    assert idx.meta["nlists"] == 4
    got = [
        r["vec_id"]
        for r in idx.search(spark, qv, k=10, nprobe=4, tiebreak=["vec_id"]).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)
    # explicit probe list == scan restricted to those clusters
    only = [r["vec_id"] for r in idx.search(
        spark, qv, k=1000, probe_clusters=[0], tiebreak=["vec_id"]).collect()]
    routed = {r["vec_id"] for r in layout.where(F.col("cluster_id") == 0).collect()}
    assert set(only) == routed


@pytest.mark.prodconf
def test_rebalance_splits_oversized_lists(spark, emb, qv):
    """rebalance(): oversized lists split into sub-lists, routing
    centroids update atomically with the layout, full-probe stays exact,
    and the centroid commit survives a reload."""
    from neurondb_spark.index.ivf import IVFIndex

    idx = _skewed_index(emb, "ivf_reb_")
    path = idx.path
    n = emb.count()
    before = idx.statistics(spark)
    assert before["max_list_size"] > n // 3

    idx.rebalance(spark, max_list_size=n // 3)
    after = idx.statistics(spark)
    assert after["populated_lists"] > before["populated_lists"]
    assert after["max_list_size"] < before["max_list_size"]
    assert after["total_rows"] == n  # no row lost or duplicated
    assert idx.meta["nlists"] == len(idx.centroids) == after["populated_lists"]

    # full probe over the rebalanced layout is still exact
    got = [
        r["vec_id"]
        for r in idx.search(
            spark, qv, k=10, nprobe=idx.meta["nlists"], tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)

    # the centroid list committed with the journaled meta survives a reload
    re = IVFIndex.load(path)
    assert re.centroids == idx.centroids
    assert re.meta["nlists"] == idx.meta["nlists"]

    # idempotence: nothing left oversized -> no-op
    sizes = after["max_list_size"]
    idx.rebalance(spark, max_list_size=max(sizes, n // 3))
    assert idx.statistics(spark)["populated_lists"] == after["populated_lists"]


@pytest.mark.prodconf
def test_rebalance_is_partition_scoped(spark, emb):
    """r6 verdict #2: splitting one oversized list must NOT rewrite the
    untouched lists — their cluster_id= directories stay byte-identical
    (same file names and sizes) across the rebalance."""
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_rebp_"), "idx")
    # one fat list (0) + three small ones
    layout = emb.withColumn(
        "cluster_id",
        F.when(F.col("vec_id") < 300, F.lit(0))
        .otherwise(1 + F.pmod(F.col("vec_id"), F.lit(3))).cast("int"),
    )
    cents = [
        [float(x) for x in emb.where(F.col("vec_id") == i).head()["embedding"]]
        for i in (1, 2, 3, 4)
    ]
    idx = IVFIndex.from_assignment(layout, "embedding", path, cents)

    def _listing(cid):
        d = os.path.join(path, "data", f"cluster_id={cid}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d) if not f.startswith(".")
        )

    before = {cid: _listing(cid) for cid in (1, 2, 3)}
    n0 = idx.statistics(spark)["total_rows"]
    idx.rebalance(spark, max_list_size=250)  # splits ONLY list 0
    assert idx.meta["nlists"] == 5
    after = {cid: _listing(cid) for cid in (1, 2, 3)}
    assert before == after, "untouched list dirs were rewritten"
    assert idx.statistics(spark)["total_rows"] == n0
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert not os.path.exists(os.path.join(path, "data_tmp"))


@pytest.mark.prodconf
def test_rebalance_crash_after_journal_rolls_forward_on_load(spark, emb, qv, monkeypatch):
    """The journal rename is the commit point: a crash right after it
    (before any directory move) is repaired by load()'s idempotent
    roll-forward — the reloaded index is fully consistent."""
    from neurondb_spark import data_management as dm
    from neurondb_spark.index.ivf import IVFIndex

    idx = _skewed_index(emb, "ivf_rebc_")
    path = idx.path
    n = emb.count()

    real = crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.rebalance(spark, max_list_size=n // 3)
    assert os.path.exists(os.path.join(path, "dml_commit.json"))
    monkeypatch.setattr(dm, "apply_dml_commit", real)

    re = IVFIndex.load(path)  # roll-forward happens here
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert not os.path.exists(os.path.join(path, "data_tmp"))
    assert re.meta["nlists"] == len(re.centroids) > 2
    got = [
        r["vec_id"]
        for r in re.search(
            spark, qv, k=10, nprobe=re.meta["nlists"], tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)


def test_ivf_search_construction_runs_no_spark_job(spark, emb, qv):
    """With the layout schema cached in meta (r7), constructing an IVF
    search launches zero Spark jobs — no parquet inference, no counts."""
    from neurondb_spark.index.ivf import IVFIndex

    path = os.path.join(tempfile.mkdtemp(prefix="ivf_nojob_"), "idx")
    idx = IVFIndex.build(
        emb.select("vec_id", "embedding"), "embedding", path, nlists=8,
    )
    sc = spark.sparkContext
    sc.setJobGroup("ivf_nojob_probe", "search construction must be lazy")
    try:
        df = idx.search(spark, qv, k=5, nprobe=8)
        jobs = sc.statusTracker().getJobIdsForGroup("ivf_nojob_probe")
        assert list(jobs) == [], f"search construction ran Spark jobs: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = [r["vec_id"] for r in df.collect()]
    assert got == _brute_ids(emb, qv, 5)


@pytest.mark.prodconf
def test_rebalance_crash_mid_move_rolls_forward(spark, emb, qv, monkeypatch):
    """Crash AFTER the journal and after only PART of the directory
    moves: the roll-forward's existence checks must finish the commit
    from any intermediate state."""
    import shutil

    from neurondb_spark import data_management as dm
    from neurondb_spark.index.ivf import IVFIndex

    idx = _skewed_index(emb, "ivf_rebm_")
    path = idx.path
    n = emb.count()

    real = crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError):
        idx.rebalance(spark, max_list_size=n // 3)
    monkeypatch.setattr(dm, "apply_dml_commit", real)

    # hand-apply PART of the commit: stage parent 0 away and move its
    # replacement in, leaving the new-id dirs and meta unapplied —
    # exactly the state a crash between renames leaves behind
    with open(os.path.join(path, "dml_commit.json")) as f:
        journal = json.load(f)
    assert journal["part_col"] == "cluster_id"
    cid = journal["partitions"][0]
    trash = os.path.join(path, "dml_trash")
    os.makedirs(trash, exist_ok=True)
    os.rename(os.path.join(path, "data", f"cluster_id={cid}"),
              os.path.join(trash, f"cluster_id={cid}"))
    os.rename(os.path.join(path, "data_tmp", f"cluster_id={cid}"),
              os.path.join(path, "data", f"cluster_id={cid}"))

    re = IVFIndex.load(path)  # finishes the remaining moves
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert re.meta["nlists"] == len(re.centroids) > 2
    got = [
        r["vec_id"]
        for r in re.search(
            spark, qv, k=10, nprobe=re.meta["nlists"], tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)
    # no rows lost or duplicated anywhere
    assert spark.read.parquet(os.path.join(path, "data")).count() == n
    shutil.rmtree(path, ignore_errors=True)


@pytest.mark.prodconf
def test_rebalance_splits_multiple_lists_at_once(spark, emb, qv):
    """Two oversized lists in one rebalance: both split, both new
    centroids appended, full probe exact."""
    idx = _skewed_index(emb, "ivf_reb2_")
    n = emb.count()
    idx.rebalance(spark, max_list_size=n // 4)  # both halves oversized
    assert idx.meta["nlists"] >= 4
    got = [
        r["vec_id"]
        for r in idx.search(
            spark, qv, k=10, nprobe=idx.meta["nlists"], tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)


@pytest.mark.prodconf
def test_rebalance_crash_during_cleanup_leaks_nothing(spark, emb, qv, monkeypatch):
    """Staging cleanup runs BEFORE the journal drop, so a crash
    mid-cleanup keeps the journal alive and the next load() finishes
    the sweep — dml_trash / data_tmp can never be leaked permanently."""
    import shutil

    from neurondb_spark.index.ivf import IVFIndex

    idx = _skewed_index(emb, "ivf_rebclean_")
    path = idx.path
    n = emb.count()

    real_rmtree = shutil.rmtree
    state = {"crashed": False}

    def crash_once(p, *a, **kw):
        if not state["crashed"] and os.path.basename(str(p)) == "dml_trash":
            state["crashed"] = True
            raise RuntimeError("simulated crash during cleanup")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crash_once)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.rebalance(spark, max_list_size=n // 3)
    # the journal outlives the cleanup steps — that's what makes the
    # sweep re-runnable after the crash
    assert os.path.exists(os.path.join(path, "dml_commit.json"))
    assert os.path.isdir(os.path.join(path, "dml_trash"))

    re = IVFIndex.load(path)  # roll-forward completes the cleanup
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert not os.path.exists(os.path.join(path, "dml_trash"))
    assert not os.path.exists(os.path.join(path, "data_tmp"))
    assert re.meta["nlists"] == len(re.centroids) > 2
    got = [
        r["vec_id"]
        for r in re.search(
            spark, qv, k=10, nprobe=re.meta["nlists"], tiebreak=["vec_id"]
        ).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)
