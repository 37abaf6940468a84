"""HNSW index DML lifecycle: incremental insert, tombstone delete, vacuum
(index/hnsw.py; reference ml_hnsw_insert + dead-tuple VACUUM, hnsw_am.c)."""

import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_DIR, crash_at_commit, jobs_run  # noqa: E402

# Every test here also runs under production session configs (AQE and
# whole-stage codegen on) in scripts/precommit.sh.
pytestmark = pytest.mark.prodconf

# Jobs of one HNSW insert of fresh ids over an existing tombstone set,
# touching every shard: one planning collect plus one graph write; and of
# one delete: the tombstone append plus the per-shard recount. Keyed by
# spark.sql.adaptive.enabled: under AQE every shuffle is a job of its own.
# Measured: insert 3 / 5 (6 in perfbench's index_churn), delete 3 / 4.
# Before footer counts and known-schema reads, index_churn's insert ran
# 24 jobs and its delete 7, under AQE.
HNSW_INSERT_JOB_BUDGET = {"false": 3, "true": 6}
HNSW_DELETE_JOB_BUDGET = {"false": 3, "true": 4}


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def qv(emb):
    row = emb.where(F.col("vec_id") == 5).head()
    return [float(x) for x in row["embedding"]]


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
    """Build on the even half, insert the odd half."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_dml_"), "idx")
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        num_shards=4, m=8, ef_construction=48, seed=7,
    )
    idx.insert(emb.where(F.col("vec_id") % 2 == 1))
    return idx


def test_insert_then_full_ef_search_is_exact(spark, emb, qv, dml_index):
    n = dml_index.meta["total_rows"]
    assert n == emb.count()  # every inserted row landed
    got = [
        r["vec_id"]
        for r in dml_index.search(spark, qv, k=10, ef_search=int(n)).collect()
    ]
    assert got == _brute_ids(emb, qv, 10)


def test_insert_realistic_ef_recall(spark, emb, qv, dml_index):
    got = {
        r["vec_id"]
        for r in dml_index.search(spark, qv, k=10, ef_search=64).collect()
    }
    want = set(_brute_ids(emb, qv, 10))
    assert len(got & want) >= 8  # ≥0.8 recall at ef=64 on the grown graph


def test_delete_excludes_tombstoned_rows(spark, emb, qv, dml_index):
    n = dml_index.meta["total_rows"]
    top = _brute_ids(emb, qv, 3)
    dml_index.delete(spark, top)
    got = [
        r["vec_id"]
        for r in dml_index.search(spark, qv, k=10, ef_search=int(n)).collect()
    ]
    assert not (set(got) & set(top))
    assert got == _brute_ids(emb, qv, 10, exclude=top)


def test_vacuum_rewrites_without_tombstones(spark, emb, qv, dml_index):
    n0 = dml_index.meta["total_rows"]
    top = _brute_ids(emb, qv, 3)  # tombstoned by the previous test
    dml_index.vacuum(spark)
    assert dml_index._tombstones(spark) is None
    assert dml_index.meta["total_rows"] == n0 - len(top)
    n = dml_index.meta["total_rows"]
    got = [
        r["vec_id"]
        for r in dml_index.search(spark, qv, k=10, ef_search=int(n)).collect()
    ]
    assert got == _brute_ids(emb, qv, 10, exclude=top)


def test_reinsert_of_deleted_id_resurrects_row(spark, emb, qv):
    """ADVICE r5: insert() of a previously tombstoned id clears the
    tombstone — the row is live again and survives vacuum."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_reins_"), "idx")
    sub = emb.where(F.col("vec_id") < 40)
    victim = _brute_ids(sub, qv, 1)[0]  # vec_id 5 itself (qv == row 5)
    idx2 = HNSWIndex.build(sub, "embedding", "vec_id", path,
                           num_shards=2, m=8, ef_construction=48, seed=7)
    idx2.delete(spark, [victim])
    got = [r["vec_id"] for r in idx2.search(spark, qv, k=5, ef_search=200).collect()]
    assert victim not in got
    # re-insert the deleted row: tombstone cleared, row searchable again
    idx2.insert(sub.where(F.col("vec_id") == victim))
    assert idx2._tombstones(spark) is None
    got2 = [r["vec_id"] for r in idx2.search(spark, qv, k=5, ef_search=200).collect()]
    assert got2[0] == victim
    # and vacuum does NOT erase it
    idx2.vacuum(spark)
    got3 = [r["vec_id"] for r in idx2.search(spark, qv, k=5, ef_search=200).collect()]
    assert got3[0] == victim


def test_duplicate_tombstones_count_once(spark, emb, qv):
    """Tombstone reads keep a key deleted twice twice: search's anti-join
    and the per-shard semi-join count ignore the copies, and an insert
    that resurrects one id rewrites the set without it, deduplicated."""
    from neurondb_spark.data_management import footer_rows
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_dup_tomb_"), "idx")
    sub = emb.where(F.col("vec_id") < 40)
    a, b = _brute_ids(sub, qv, 2)
    idx = HNSWIndex.build(sub, "embedding", "vec_id", path,
                          num_shards=2, m=8, ef_construction=48, seed=7)
    idx.delete(spark, [a, b])
    idx.delete(spark, [a, b])
    assert idx._tombstones(spark).count() == 4
    assert idx.meta["n_tombstones"] == 2
    got = [r["vec_id"] for r in idx.search(spark, qv, k=5, ef_search=200).collect()]
    assert got == _brute_ids(sub, qv, 5, exclude=(a, b))
    idx.insert(sub.where(F.col("vec_id") == a))
    assert idx.meta["n_tombstones"] == 1
    assert footer_rows(os.path.join(path, "tombstones")) == 1
    got = [r["vec_id"] for r in idx.search(spark, qv, k=5, ef_search=200).collect()]
    assert got == _brute_ids(sub, qv, 5, exclude=(b,))


def test_search_overfetch_capped_with_retry(spark, emb, qv):
    """ADVICE r5: per-shard fetch widens by a capped allowance, with one
    full-width retry guaranteeing the exact live top-k even when more
    than the allowance of tombstones dominate the top."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_cap_"), "idx")
    idx = HNSWIndex.build(
        emb, "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    k = 3
    # delete the entire true top so the allowance (max(2k,64)) is exceeded
    n_del = 2 * k + 70
    top = _brute_ids(emb, qv, n_del)
    idx.delete(spark, top)
    got = [r["vec_id"] for r in idx.search(spark, qv, k=k, ef_search=400).collect()]
    assert got == _brute_ids(emb, qv, k, exclude=top)


def _shard_of(spark, emb, num_shards):
    """vec_id -> shard exactly as the build computes it (Spark hash)."""
    return {
        r["vec_id"]: r["s"]
        for r in emb.select(
            "vec_id", F.pmod(F.hash(F.col("vec_id")), F.lit(num_shards)).alias("s")
        ).collect()
    }


def test_one_shard_over_cap_tombstones_still_exact(spark, emb, qv):
    """r6 ADVICE (high): tombstones CONCENTRATED in one shard beyond the
    allowance must not silently drop live rows from the true top-k. The
    old global `result.count() < k` retry never fired when the other
    shard still supplied >= k live rows; the per-shard survivor check
    retries exactly the starved shard."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_skew_"), "idx")
    idx = HNSWIndex.build(
        emb, "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    k = 3
    cap = max(2 * k, 64)
    shards = _shard_of(spark, emb, 2)
    # tombstone the (cap + 6) nearest ids OF ONE SHARD ONLY — that
    # shard's top-(k+cap) fetch is then all-dead while the other shard
    # has zero tombstones and happily supplies k live rows.
    ranked = _brute_ids(emb, qv, 400)
    victim_shard = shards[ranked[0]]
    dead = [v for v in ranked if shards[v] == victim_shard][: cap + 6]
    assert len(dead) == cap + 6
    idx.delete(spark, dead)
    assert idx.meta["tomb_by_shard"] == {str(victim_shard): cap + 6}
    got = [r["vec_id"] for r in idx.search(spark, qv, k=k, ef_search=500).collect()]
    assert got == _brute_ids(emb, qv, k, exclude=dead)


def test_reinsert_different_vector_replaces_node(spark, emb, qv):
    """r6 ADVICE (medium): delete-then-reinsert must NOT leave two graph
    nodes with the same vec_id — the reinserted vector wins, the stale
    one is gone, and the id appears at most once in any top-k."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_upsert_"), "idx")
    sub = emb.where(F.col("vec_id") < 40)
    idx = HNSWIndex.build(sub, "embedding", "vec_id", path,
                          num_shards=2, m=8, ef_construction=48, seed=7)
    victim = _brute_ids(sub, qv, 1)[0]
    idx.delete(spark, [victim])
    # reinsert the id with a FAR-AWAY vector (original + 1000 on dim 0)
    moved = sub.where(F.col("vec_id") == victim).select(
        "vec_id",
        F.concat(
            F.array(F.col("embedding")[0] + F.lit(1000.0)),
            F.slice("embedding", 2, 10_000),
        ).alias("embedding"),
    )
    idx.insert(moved)
    data = spark.read.parquet(os.path.join(path, "data"))
    dupes = data.groupBy("vec_id").count().where(F.col("count") > 1)
    assert dupes.isEmpty(), "duplicate graph nodes for one vec_id"
    assert idx.meta["total_rows"] == 40
    # the stored vector is the MOVED one, not the stale original
    vrow = data.where(F.col("vec_id") == victim).head()
    assert vrow["vector"][0] > 900.0
    # the stale near vector is NOT resurrected: the old code kept the
    # tombstoned near node alive, so victim came back at rank 0
    got = [r["vec_id"] for r in idx.search(spark, qv, k=5, ef_search=200).collect()]
    assert victim not in got
    # and the rebuilt index is EXACTLY a fresh build of the final row
    # set (the documented upsert semantics — determinism preserved)
    final = sub.where(F.col("vec_id") != victim).unionByName(moved)
    path2 = os.path.join(tempfile.mkdtemp(prefix="hnsw_upsert2_"), "idx")
    HNSWIndex.build(final, "embedding", "vec_id", path2,
                    num_shards=2, m=8, ef_construction=48, seed=7)
    cols = ["shard", "node", "vec_id", "level", "is_entry", "adj"]
    a = {tuple(r) for r in data.select(*cols).collect()}
    b = {tuple(r) for r in spark.read.parquet(
        os.path.join(path2, "data")).select(*cols).collect()}
    assert a == b


def test_search_runs_no_spark_job_with_cached_tomb_counts(spark, emb, qv):
    """r6 verdict #3: with the per-shard tombstone counts cached in meta,
    CONSTRUCTING a search must trigger zero Spark jobs (the old code ran
    tomb.count() + result.count() per query)."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_nojob_"), "idx")
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") < 200), "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    idx.delete(spark, [1, 2, 3])  # refreshes the cache on the DML path
    assert "tomb_by_shard" in idx.meta
    sc = spark.sparkContext
    sc.setJobGroup("hnsw_nojob_probe", "search construction must be lazy")
    try:
        df = idx.search(spark, qv, k=5, ef_search=64)
        jobs = sc.statusTracker().getJobIdsForGroup("hnsw_nojob_probe")
        assert list(jobs) == [], f"search construction ran Spark jobs: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = [r["vec_id"] for r in df.collect()]
    assert got == _brute_ids(
        emb.where(F.col("vec_id") < 200), qv, 5, exclude=[1, 2, 3]
    )


def test_cross_handle_delete_visible_to_other_handle(spark, emb, qv):
    """r8 verdict #2: a delete issued through ANOTHER handle after this
    one loaded must not silently drop live rows from top-k. Handle B's
    cached per-shard tombstone counts are stale; the listdir-signature
    validation must pick up A's persisted refresh (no Spark job) and
    over-fetch correctly."""
    from neurondb_spark.index.hnsw import HNSWIndex

    sub = emb.where(F.col("vec_id") < 300)
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_xh_"), "idx")
    a = HNSWIndex.build(
        sub, "embedding", "vec_id", path, num_shards=2, m=8,
        ef_construction=48, seed=7,
    )
    a.delete(spark, [7])          # B will snapshot THIS count (1)
    b = HNSWIndex.load(path)
    assert b.meta["n_tombstones"] == 1
    near = _brute_ids(sub, qv, 25, exclude=[7])
    a.delete(spark, near[:20])    # A tombstones the 20 nearest
    dead = set(near[:20]) | {7}
    n = b.meta["total_rows"]
    got = [
        r["vec_id"]
        for r in b.search(spark, qv, k=5, ef_search=int(n)).collect()
    ]
    assert got == _brute_ids(sub, qv, 5, exclude=dead)

    # Harder case: an external writer died between appending tombstone
    # files and refreshing meta — the counts on DISK are also behind the
    # directory, so the signature mismatch must trigger a recompute, not
    # trust the stale persisted counts.
    import pandas as pd
    from pyspark.sql import types as T

    extra = _brute_ids(sub, qv, 35, exclude=dead)[:10]
    pdf = pd.DataFrame({"vec_id": pd.Series(extra, dtype="int64")})
    spark.createDataFrame(
        pdf, schema=T.StructType([T.StructField("vec_id", T.LongType())])
    ).coalesce(1).write.mode("append").parquet(
        os.path.join(path, "tombstones")
    )
    dead |= set(extra)
    got = [
        r["vec_id"]
        for r in b.search(spark, qv, k=5, ef_search=int(n)).collect()
    ]
    assert got == _brute_ids(sub, qv, 5, exclude=dead)


def test_meta_write_crash_leaves_loadable_index(spark, emb):
    """r8 verdict #3: meta.json writes are tmp + os.replace — a failure
    mid-serialization must leave the previous meta intact and the index
    loadable (the old bare open('w') truncated it)."""
    from neurondb_spark.data_management import atomic_write_json
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_metacrash_"), "idx")
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") < 100), "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    meta_path = os.path.join(path, "meta.json")
    before = open(meta_path).read()
    with pytest.raises(TypeError):  # a set is not JSON-serializable:
        atomic_write_json(meta_path, {"bad": {1, 2}})  # dies mid-dump
    assert open(meta_path).read() == before
    re = HNSWIndex.load(path, spark)
    assert re.meta["total_rows"] == idx.meta["total_rows"]


def test_legacy_migration_runs_in_load_not_search(spark, emb, qv):
    """Indexes from before the per-shard count cache migrate in
    load(spark=...) — search construction afterwards must run ZERO Spark
    jobs (r8 verdict #3: the lazy in-search migration put a meta rewrite
    on the read path)."""
    import json as _json

    from neurondb_spark.index.hnsw import HNSWIndex

    sub = emb.where(F.col("vec_id") < 200)
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_legacy_"), "idx")
    idx = HNSWIndex.build(
        sub, "embedding", "vec_id", path, num_shards=2, m=8,
        ef_construction=48, seed=7,
    )
    idx.delete(spark, [1, 2, 3])
    # strip the cache fields -> the legacy on-disk shape
    meta_path = os.path.join(path, "meta.json")
    with open(meta_path) as f:
        legacy = _json.load(f)
    legacy.pop("tomb_by_shard", None)
    legacy.pop("tomb_sig", None)
    with open(meta_path, "w") as f:
        _json.dump(legacy, f)

    b = HNSWIndex.load(path, spark)  # migration happens HERE
    assert "tomb_by_shard" in b.meta and "tomb_sig" in b.meta
    with open(meta_path) as f:       # ...and was persisted
        assert "tomb_by_shard" in _json.load(f)

    sc = spark.sparkContext
    sc.setJobGroup("hnsw_legacy_probe", "post-migration search is job-free")
    try:
        df = b.search(spark, qv, k=5, ef_search=64)
        jobs = sc.statusTracker().getJobIdsForGroup("hnsw_legacy_probe")
        assert list(jobs) == [], f"search construction ran Spark jobs: {jobs}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = [r["vec_id"] for r in df.collect()]
    assert got == _brute_ids(sub, qv, 5, exclude=[1, 2, 3])


def test_dml_journal_crash_rolls_forward_on_load(spark, emb, qv, monkeypatch):
    """r8 verdict stretch #8: insert/vacuum commit through one journal
    rename (the IVF-rebalance protocol). A crash right after the journal
    — before any rename — must be repaired by load(): swapped graph,
    applied tombstone action, meta consistent with the committed state."""
    from neurondb_spark import data_management as dm
    from neurondb_spark.index.hnsw import HNSWIndex

    sub = emb.where(F.col("vec_id") < 300)
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_jcrash_"), "idx")
    idx = HNSWIndex.build(
        sub.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    idx.delete(spark, [4, 8])  # tombstones exist; insert of 4 untombstones

    real = crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.insert(sub.where(F.col("vec_id") % 2 == 1).unionByName(
            sub.where(F.col("vec_id") == 4)
        ))
    assert os.path.exists(os.path.join(path, "dml_commit.json"))
    monkeypatch.setattr(dm, "apply_dml_commit", real)

    re = HNSWIndex.load(path, spark)  # roll-forward happens here
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert not os.path.exists(os.path.join(path, "data_tmp"))
    assert not os.path.exists(os.path.join(path, "dml_trash"))
    assert not os.path.exists(os.path.join(path, "tombstones_tmp"))
    assert re.meta["total_rows"] == sub.count()  # evens + odds + re-upsert 4
    assert re.meta["n_tombstones"] == 1          # 4 untombstoned, 8 remains
    n = re.meta["total_rows"]
    got = [r["vec_id"] for r in re.search(spark, qv, k=5,
                                          ef_search=int(n)).collect()]
    assert got == _brute_ids(sub, qv, 5, exclude=[8])

    # vacuum commits through the same journal; crash-free path sanity
    re.vacuum(spark)
    assert re.meta["n_tombstones"] == 0
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    got = [r["vec_id"] for r in re.search(spark, qv, k=5,
                                          ef_search=int(n)).collect()]
    assert got == _brute_ids(sub, qv, 5, exclude=[8])


def test_upsert_crash_installs_final_tomb_sig(spark, emb, qv, monkeypatch):
    """An upsert of a tombstoned id replaces the tombstone set, so the
    journaled meta must already sign the directory the roll-forward
    installs: after a crash at the commit point, load() (without the
    legacy recount) yields a tomb_sig equal to the signature of the
    final tombstones/ and per-shard counts equal to a recount."""
    from neurondb_spark import data_management as dm
    from neurondb_spark.index.hnsw import HNSWIndex, _tomb_dir_sig

    sub = emb.where(F.col("vec_id") < 200)
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_sigcrash_"), "idx")
    idx = HNSWIndex.build(
        sub.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    idx.delete(spark, [4, 8, 12])

    real = crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.insert(sub.where(F.col("vec_id").isin([4, 7])))
    monkeypatch.setattr(dm, "apply_dml_commit", real)

    re = HNSWIndex.load(path)  # no spark: no recount can mask the meta
    tomb_path = os.path.join(path, "tombstones")
    assert re.meta["tomb_sig"] == _tomb_dir_sig(tomb_path)
    assert re.meta["n_tombstones"] == 2  # 4 untombstoned; 8 and 12 remain
    staged = re.meta["tomb_by_shard"]
    re._refresh_tomb_meta(spark)
    assert re.meta["tomb_by_shard"] == staged
    live = sub.where(F.col("vec_id") % 2 == 0).unionByName(
        sub.where(F.col("vec_id") == 7)
    )
    got = [r["vec_id"] for r in re.search(
        spark, qv, k=5, ef_search=live.count()).collect()]
    assert got == _brute_ids(live, qv, 5, exclude=[8, 12])


def test_scoped_insert_touches_only_new_ids_shards(spark, emb, qv, monkeypatch):
    """r10: an insert batch rebuilds and swaps ONLY the shards its new
    ids hash to — untouched shard directories are byte-identical after
    the commit (the partition-scoped journal, the rebalance guarantee
    generalized), and search over the updated index is still exact."""
    import hashlib

    from neurondb_spark import data_management as dm
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_scoped_"), "idx")
    base = emb.where(F.col("vec_id") % 2 == 0)
    idx = HNSWIndex.build(
        base, "embedding", "vec_id", path,
        num_shards=4, m=8, ef_construction=48, seed=7,
    )
    shard_of = _shard_of(spark, emb, 4)
    batch_ids = [v for v in shard_of
                 if v % 2 == 1 and shard_of[v] == 0][:25]
    assert batch_ids, "need odd ids hashing to shard 0"

    def dir_digest(shard):
        d = os.path.join(path, "data", f"shard={shard}")
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p):
                h.update(name.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    before = {s: dir_digest(s) for s in (1, 2, 3)}
    total_before = idx.meta["total_rows"]
    idx.insert(emb.where(F.col("vec_id").isin(batch_ids)))
    after = {s: dir_digest(s) for s in (1, 2, 3)}
    assert after == before, "untouched shards were rewritten"
    assert idx.meta["total_rows"] == total_before + len(batch_ids)

    live = base.unionByName(emb.where(F.col("vec_id").isin(batch_ids)))
    n = live.count()
    got = [r["vec_id"] for r in idx.search(spark, qv, k=5, ef_search=n).collect()]
    want = _brute_ids(live, qv, 5)
    assert got == want

    # crash at the commit point of a second scoped insert: journal
    # written, roll-forward not run — load() must finish it
    more_ids = [v for v in shard_of
                if v % 2 == 1 and shard_of[v] == 1][:10]
    real = crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.insert(emb.where(F.col("vec_id").isin(more_ids)))
    monkeypatch.setattr(dm, "apply_dml_commit", real)
    assert os.path.exists(os.path.join(path, "dml_commit.json"))
    idx2 = HNSWIndex.load(path)
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert idx2.meta["total_rows"] == total_before + len(batch_ids) + len(more_ids)
    live2 = live.unionByName(emb.where(F.col("vec_id").isin(more_ids)))
    got2 = [r["vec_id"] for r in idx2.search(spark, qv, k=5,
                                             ef_search=live2.count()).collect()]
    assert got2 == _brute_ids(live2, qv, 5)


def test_delete_accepts_build_time_id_col(spark, emb):
    """The CDC drain passes the index's build-time id column to
    delete(); an index built with a non-'vec_id' id must accept it
    (normalized to the graph's internal key) — and a genuinely foreign
    key must still raise."""
    from neurondb_spark.index.hnsw import HNSWIndex

    renamed = emb.where(F.col("vec_id") < 120).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_idcol_"), "idx")
    idx = HNSWIndex.build(
        renamed, "embedding", "doc_id", path,
        num_shards=2, m=8, ef_construction=32, seed=7,
    )
    idx.delete(spark, renamed.where(F.col("doc_id") < 5).select("doc_id"),
               id_col="doc_id")
    assert idx.meta["n_tombstones"] == 5  # doc_ids 0..4, all in the graph
    with pytest.raises(ValueError, match="cannot delete by"):
        idx.delete(spark, [7], id_col="other_key")


def test_scoped_insert_tomb_counts_stay_exact(spark, emb, qv):
    """A scoped insert with live tombstones merges prior per-shard
    counts (untouched shards) with recounts of only the touched shards;
    the merged cache must equal a from-scratch recompute, resurrected
    ids must return, and other shards' tombstones must keep filtering."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_tombsc_"), "idx")
    base = emb.where(F.col("vec_id") % 2 == 0)
    idx = HNSWIndex.build(
        base, "embedding", "vec_id", path,
        num_shards=4, m=8, ef_construction=48, seed=7,
    )
    shard_of = _shard_of(spark, emb, 4)
    # tombstone two even ids per shard
    dead = []
    for s in range(4):
        dead += [v for v in sorted(shard_of)
                 if v % 2 == 0 and shard_of[v] == s][:2]
    idx.delete(spark, dead)
    # scoped insert into shard 0: fresh odd ids + a re-insert of shard
    # 0's dead evens (upsert resurrects them, clearing their tombstones)
    resurrect = [v for v in dead if shard_of[v] == 0]
    fresh = [v for v in sorted(shard_of)
             if v % 2 == 1 and shard_of[v] == 0][:10]
    idx.insert(emb.where(F.col("vec_id").isin(resurrect + fresh)))

    staged_counts = dict(idx.meta.get("tomb_by_shard") or {})
    assert idx.meta["n_tombstones"] == len(dead) - len(resurrect)
    idx2 = HNSWIndex.load(path)
    idx2._refresh_tomb_meta(spark)  # from-scratch recompute
    assert (idx2.meta.get("tomb_by_shard") or {}) == staged_counts
    assert idx2.meta["n_tombstones"] == idx.meta["n_tombstones"]

    live = base.where(~F.col("vec_id").isin(dead)).unionByName(
        emb.where(F.col("vec_id").isin(resurrect + fresh))
    )
    n = live.count()
    got = [r["vec_id"] for r in idx2.search(spark, qv, k=5, ef_search=n).collect()]
    assert got == _brute_ids(live, qv, 5)


def test_insert_empty_batch_is_noop(spark, emb, qv):
    """r10 ADVICE #1: an empty df_new must be a no-op (pre-r10 the full
    rewrite handled it; the scoped write staged a zero-row partitionBy
    dir and the pre-commit schema read raised UNABLE_TO_INFER_SCHEMA)."""
    import glob

    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_empty_"), "idx")
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") % 8 == 0), "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=48, seed=7,
    )
    before = sorted(
        (p, os.path.getmtime(p))
        for p in glob.glob(os.path.join(path, "data", "**"), recursive=True)
    )
    total = idx.meta["total_rows"]
    out = idx.insert(emb.where(F.col("vec_id") < 0))  # empty slice
    assert out is idx
    assert idx.meta["total_rows"] == total
    after = sorted(
        (p, os.path.getmtime(p))
        for p in glob.glob(os.path.join(path, "data", "**"), recursive=True)
    )
    assert after == before  # no file touched, no journal left behind
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))


def _dir_digest(d):
    """sha256 over the names and bytes of the files in ``d`` (not nested)."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        p = os.path.join(d, name)
        if os.path.isfile(p):
            h.update(name.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_insert_and_delete_fit_job_budgets(spark, emb, qv):
    """A delete is the tombstone append plus one recount; an insert of
    fresh ids over tombstones, touching every shard, is one planning
    collect plus one graph write: no schema-inference job, no count job
    and no tombstone rewrite."""
    from neurondb_spark.index.hnsw import HNSWIndex

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sub = emb.where(F.col("vec_id") < 240)
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_budget_"), "idx")
    idx = HNSWIndex.build(
        sub.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        num_shards=4, m=8, ef_construction=32, seed=7,
    )
    _, jobs = jobs_run(spark, lambda: idx.delete(spark, [0, 2, 4, 6, 8, 10]))
    print(f"hnsw delete jobs (aqe={aqe}): {jobs}")
    assert jobs <= HNSW_DELETE_JOB_BUDGET[aqe], jobs
    fresh = sub.where(F.col("vec_id") % 2 == 1)
    _, jobs = jobs_run(spark, lambda: idx.insert(fresh))
    print(f"hnsw insert jobs (aqe={aqe}): {jobs}")
    assert jobs <= HNSW_INSERT_JOB_BUDGET[aqe], jobs
    assert idx.meta["total_rows"] == sub.count() == 240
    live = sub.where(~F.col("vec_id").isin(0, 2, 4, 6, 8, 10))
    got = [r["vec_id"] for r in idx.search(spark, qv, k=5, ef_search=240).collect()]
    assert got == _brute_ids(live, qv, 5)


def test_fresh_insert_keeps_tombstones_byte_identical(spark, emb, qv):
    """An insert none of whose ids is tombstoned leaves the tombstone set
    as it is: ``tombstones/`` is byte-identical afterwards, the cached
    per-shard counts are unchanged, and they still equal a recount."""
    from neurondb_spark.index.hnsw import HNSWIndex

    sub = emb.where(F.col("vec_id") < 200)
    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_keeptomb_"), "idx")
    idx = HNSWIndex.build(
        sub.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id", path,
        num_shards=4, m=8, ef_construction=32, seed=7,
    )
    dead = [v for v in _brute_ids(sub, qv, 30) if v % 2 == 0][:8]
    idx.delete(spark, dead)
    tomb_dir = os.path.join(path, "tombstones")
    before = _dir_digest(tomb_dir)
    counts = dict(idx.meta["tomb_by_shard"])
    assert sum(counts.values()) == len(dead)
    idx.insert(sub.where(F.col("vec_id") % 2 == 1))
    assert _dir_digest(tomb_dir) == before
    assert idx.meta["tomb_by_shard"] == counts
    assert idx.meta["n_tombstones"] == len(dead)
    fresh = HNSWIndex.load(path)
    fresh._refresh_tomb_meta(spark)
    assert fresh.meta["tomb_by_shard"] == counts
    got = [r["vec_id"] for r in idx.search(spark, qv, k=5, ef_search=200).collect()]
    assert got == _brute_ids(sub, qv, 5, exclude=dead)


def test_commit_refuses_staging_without_readable_data(spark, emb):
    """The commit reads the staged row count from data_tmp's footers; a
    data_tmp holding no parquet file, or one whose footer does not parse,
    raises before the journal is written and leaves the index as it was."""
    from neurondb_spark.index.hnsw import HNSWIndex

    path = os.path.join(tempfile.mkdtemp(prefix="hnsw_nostage_"), "idx")
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") < 60), "embedding", "vec_id", path,
        num_shards=2, m=8, ef_construction=32, seed=7,
    )
    meta = dict(idx.meta)
    tmp = os.path.join(path, "data_tmp")
    os.makedirs(os.path.join(tmp, "shard=0"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    with pytest.raises(ValueError, match="no parquet data file"):
        idx._commit_dml(dict(meta), "keep")
    with open(os.path.join(tmp, "shard=0", "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(ValueError, match="unreadable parquet footer"):
        idx._commit_dml(dict(meta), "keep")
    assert not os.path.exists(os.path.join(path, "dml_commit.json"))
    assert HNSWIndex.load(path).meta == meta
