"""Streaming CDC ingestion into indexes: exactly-once journaling,
crash-undo of partial appends, order-independence, and cross-layout
(IVF / LSH / HNSW) agreement with brute force."""

import glob
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from neurondb_spark.functions.distance import l2_distance  # noqa: E402
from neurondb_spark.index import IVFIndex, LSHIndex  # noqa: E402
from neurondb_spark.index.hnsw import HNSWIndex  # noqa: E402
from neurondb_spark.streaming.index_ingest import (  # noqa: E402
    apply_cdc_batch,
    index_cdc_batch,
    index_cdc_drain,
)
from tests.conftest import SF_DIR, crash_at_commit  # noqa: E402

DIM = 64


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _query(spark):
    row = _emb(spark).where(F.col("vec_id") == 5).select("embedding").head()
    return [float(x) for x in row[0]]


def _ops_schema(emb):
    emb_type = dict((f.name, f.dataType) for f in emb.schema.fields)["embedding"]
    return T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", emb_type),
        T.StructField("op", T.StringType()),
    ])


def _write_ops(emb, src, dead_mod=37):
    """Odd half as inserts + every vec_id % dead_mod == 0 as deletes,
    shuffled across 3 files so micro-batch order varies."""
    emb_type = dict((f.name, f.dataType) for f in emb.schema.fields)["embedding"]
    ins = emb.where(F.col("vec_id") % 2 == 1).withColumn("op", F.lit("i"))
    dels = (
        emb.where(F.col("vec_id") % dead_mod == 0)
        .select(
            "vec_id",
            F.lit(None).cast(emb_type).alias("embedding"),
            F.lit("d").alias("op"),
        )
    )
    ins.select("vec_id", "embedding", "op").unionByName(dels).repartition(
        3
    ).write.mode("overwrite").parquet(src)


def _brute_ids(spark, emb, q, dead_mod=37, k=10):
    live = emb.where(F.col("vec_id") % dead_mod != 0)
    return [
        r["vec_id"]
        for r in live.select(
            "vec_id", l2_distance("embedding", q).alias("d")
        )
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    ]


@pytest.fixture()
def cdc_env(spark):
    emb = _emb(spark)
    td = tempfile.mkdtemp(prefix="cdc_ingest_")
    src = os.path.join(td, "ops")
    _write_ops(emb, src)
    yield spark, emb, td, src
    shutil.rmtree(td, ignore_errors=True)


def test_ivf_cdc_drain_exact_and_exactly_once(cdc_env):
    spark, emb, td, src = cdc_env
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "ivf"), nlists=4, metric="l2", dim=DIM,
    )
    index_cdc_drain(
        spark, src, _ops_schema(emb), idx, os.path.join(td, "work")
    )
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4, tiebreak=["vec_id"]).collect()
    ]
    assert got == _brute_ids(spark, emb, q)
    total_after = idx.meta["total_rows"]

    # replay the WHOLE source with a fresh checkpoint: markers must
    # short-circuit every batch — no duplicate appends, same top-k
    index_cdc_drain(
        spark, src, _ops_schema(emb), idx, os.path.join(td, "work2")
    )
    idx2 = IVFIndex.load(idx.path)
    assert idx2.meta["total_rows"] == total_after
    got2 = [
        r["vec_id"]
        for r in idx2.search(spark, q, k=10, nprobe=4, tiebreak=["vec_id"]).collect()
    ]
    assert got2 == got
    markers = glob.glob(os.path.join(idx.path, "ingest_journal", "batch_*.json"))
    assert markers and not any(m.endswith(".intent.json") for m in markers)


def test_crash_undo_restores_pre_batch_state(cdc_env):
    spark, emb, td, src = cdc_env
    idx = LSHIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "lsh"), dim=DIM, nbits=4, metric="l2",
    )
    ops = spark.read.schema(_ops_schema(emb)).parquet(src)

    # simulate a crash mid-apply: intent written, a partial append
    # landed, but no committed marker
    jdir = os.path.join(idx.path, "ingest_journal")
    os.makedirs(jdir, exist_ok=True)
    pre_listing = sorted(
        os.path.relpath(os.path.join(b, f), os.path.join(idx.path, "data"))
        for b, _d, fs in os.walk(os.path.join(idx.path, "data"))
        for f in fs
    )
    with open(os.path.join(jdir, "batch_0.intent.json"), "w") as fh:
        json.dump({"batch_id": 0, "data_files": pre_listing}, fh)
    # the "partial append": insert a stray subset directly
    idx.insert(ops.where((F.col("op") == "i") & (F.col("vec_id") < 50)).drop("op"))

    # replaying batch 0 must first undo the stray rows, then apply fully
    apply_cdc_batch(idx, ops, 0)
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, probe_hamming=4, tiebreak=["vec_id"]).collect()
    ]
    assert got == _brute_ids(spark, emb, q)
    assert os.path.exists(os.path.join(jdir, "batch_0.json"))
    assert not os.path.exists(os.path.join(jdir, "batch_0.intent.json"))


def test_hnsw_cdc_batch_upsert_idempotent(cdc_env):
    spark, emb, td, src = cdc_env
    idx = HNSWIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding", "vec_id",
        os.path.join(td, "hnsw"), metric="l2", dim=DIM,
        m=8, ef_construction=32, num_shards=2, seed=7,
    )
    schema = _ops_schema(emb)
    index_cdc_batch(spark, src, schema, idx, append_only=False)
    q = _query(spark)
    n = emb.count()
    want = _brute_ids(spark, emb, q, k=5)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=5, ef_search=int(n)).collect()
    ]
    assert got == want

    # journal removed → the apply re-runs; HNSW upsert must not
    # duplicate the re-inserted ids
    shutil.rmtree(os.path.join(idx.path, "ingest_journal"))
    index_cdc_batch(spark, src, schema, idx, append_only=False)
    got2 = [
        r["vec_id"]
        for r in idx.search(spark, q, k=5, ef_search=int(n)).collect()
    ]
    assert got2 == want


def test_cdc_rejects_unknown_ops(cdc_env):
    spark, emb, td, src = cdc_env
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "ivf_bad"), nlists=4, metric="l2", dim=DIM,
    )
    bad = spark.read.schema(_ops_schema(emb)).parquet(src).withColumn(
        "op", F.when(F.col("vec_id") == 1, F.lit("x")).otherwise(F.col("op"))
    )
    with pytest.raises(ValueError, match="unknown ops"):
        apply_cdc_batch(idx, bad, 0)


def test_mass_delete_batch_never_collects_ids(cdc_env, monkeypatch):
    """r9 verdict #1: a delete-heavy micro-batch (GDPR-purge shape) must
    flow to the tombstone write as a DataFrame — the only collect on the
    apply path is the bounded op-count aggregate (≤ #distinct op codes
    rows), never the ids themselves."""
    # patch the CONCRETE DataFrame class (pyspark 4 splits the abstract
    # pyspark.sql.DataFrame from the classic runtime implementation)
    try:
        from pyspark.sql.classic.dataframe import DataFrame as SparkDF
    except ImportError:  # older pyspark: one class
        from pyspark.sql import DataFrame as SparkDF

    spark, emb, td, src = cdc_env
    idx = IVFIndex.build(
        emb, "embedding", os.path.join(td, "ivf_mass"),
        nlists=4, metric="l2", dim=DIM,
    )
    emb_type = dict((f.name, f.dataType) for f in emb.schema.fields)["embedding"]
    mass = (
        spark.range(100_000)
        .where(F.col("id") % 2 == 0)  # purge evens; odds must survive
        .select(
            F.col("id").alias("vec_id"),
            F.lit(None).cast(emb_type).alias("embedding"),
            F.lit("d").alias("op"),
        )
    )
    sizes = []
    real_collect = SparkDF.collect

    def spy(self):
        rows = real_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(SparkDF, "collect", spy)
    apply_cdc_batch(idx, mass, 0)
    monkeypatch.setattr(SparkDF, "collect", real_collect)
    assert sizes, "expected the bounded op-count aggregate to run"
    assert max(sizes) <= 2, (
        f"driver materialized {max(sizes)} rows during a mass-delete "
        f"batch (collect sizes: {sizes})"
    )
    # the tombstones landed: a search never returns a purged (even) id
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4,
                            tiebreak=["vec_id"]).collect()
    ]
    assert got and all(v % 2 == 1 for v in got)


def test_insert_plans_no_layout_count_job(cdc_env):
    """r9 verdict #2: with incremental total_rows bookkeeping, insert()
    never runs a recount scan over the whole layout. With the batch size
    passed in (the CDC drain's shape) it plans exactly ONE job — the
    routed append; without it, one extra O(batch) count job. Checked for
    both append-only AMs via the job-group tracker."""
    spark, emb, td, src = cdc_env
    base = emb.where(F.col("vec_id") % 2 == 0)
    batch = emb.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 100))
    batch2 = emb.where(
        (F.col("vec_id") % 2 == 1) & F.col("vec_id").between(100, 199)
    )
    n_batch = batch.count()
    n_batch2 = batch2.count()
    for name, idx in (
        ("ivf", IVFIndex.build(base, "embedding", os.path.join(td, "ivf_nc"),
                               nlists=4, metric="l2", dim=DIM)),
        ("lsh", LSHIndex.build(base, "embedding", os.path.join(td, "lsh_nc"),
                               dim=DIM, nbits=4, metric="l2")),
    ):
        before = idx.meta["total_rows"]
        sc = spark.sparkContext
        group = f"{name}_insert_nojob"
        sc.setJobGroup(group, "known-size insert must plan one append job")
        try:
            idx.insert(batch, n_new=n_batch)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == 1, (
            f"{name} known-size insert ran {len(jobs)} jobs (want 1): {jobs}"
        )
        group2 = f"{name}_insert_2job"
        sc.setJobGroup(group2, "plain insert = batch count + append")
        try:
            idx.insert(batch2)
            jobs2 = sc.statusTracker().getJobIdsForGroup(group2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # batch count (AQE may split it into two jobs) + append; the
        # hard no-layout-recount guarantee is the ==1 assertion above —
        # this bound just catches a reintroduced full count()
        assert len(jobs2) <= 3, (
            f"{name} insert ran {len(jobs2)} jobs (want <=3): {jobs2}"
        )
        want_total = before + n_batch + n_batch2
        assert idx.meta["total_rows"] == want_total
        # reload sees the persisted incremental count
        loader = IVFIndex if name == "ivf" else LSHIndex
        assert loader.load(idx.path).meta["total_rows"] == want_total


def _crash_at_meta_write(monkeypatch):
    """Make the first meta.json write raise: the state a crash leaves
    after a commit has swapped the layout in but before it wrote meta.
    Returns the real writer, to restore before recovery."""
    from neurondb_spark import data_management as dm

    real = dm.atomic_write_json

    def crash(path, obj):
        if os.path.basename(path) == "meta.json":
            raise RuntimeError("simulated crash before the meta write")
        return real(path, obj)

    monkeypatch.setattr(dm, "atomic_write_json", crash)
    return real


@pytest.mark.prodconf
@pytest.mark.parametrize(
    "am,op",
    [("ivf", "vacuum"), ("lsh", "vacuum"), ("ivf", "compact"), ("lsh", "compact")],
    ids=["ivf", "lsh", "ivf-compact", "lsh-compact"],
)
def test_vacuum_journal_crash_rolls_forward_on_load(cdc_env, monkeypatch, am, op):
    """IVF and LSH vacuum and compact commit through the shared journal.
    A crash after the layout swap but before meta.json is written is
    finished by load(): journal dropped, meta describing the swapped
    layout (row count, tombstone state, LSH bucket manifest) and the
    full-probe top-k equal to brute force. A compact that swapped its
    layout and then wrote meta as a separate step left an LSH manifest
    naming deleted files, so every probe failed."""
    from neurondb_spark import data_management as dm

    spark, emb, td, src = cdc_env
    base = emb.where(F.col("vec_id") < 300)
    if am == "ivf":
        idx = IVFIndex.build(base, "embedding", os.path.join(td, "ivf_vj"),
                             nlists=4, metric="l2", dim=DIM)
    else:
        idx = LSHIndex.build(base, "embedding", os.path.join(td, "lsh_vj"),
                             dim=DIM, nbits=4, metric="l2")
    dead = [5, 17, 42]
    idx.delete(spark, dead)

    real_write = _crash_at_meta_write(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        getattr(idx, op)(spark)
    monkeypatch.setattr(dm, "atomic_write_json", real_write)

    loader = IVFIndex if am == "ivf" else LSHIndex
    idx2 = loader.load(idx.path)
    assert not os.path.exists(os.path.join(idx.path, "dml_commit.json"))
    assert not os.path.exists(os.path.join(idx.path, "data_tmp"))
    if op == "vacuum":
        assert not os.path.isdir(os.path.join(idx.path, "tombstones"))
        assert idx2.meta.get("tombstone_id_col") is None
        assert idx2.meta["total_rows"] == base.count() - len(dead)
    else:
        assert idx2.meta["tombstone_id_col"] == "vec_id"
        assert idx2.meta["total_rows"] == base.count()
    kw = {"nprobe": 4} if am == "ivf" else {"probe_hamming": 4}
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx2.search(spark, q, k=10, tiebreak=["vec_id"], **kw).collect()
    ]
    want = [
        r["vec_id"]
        for r in base.where(~F.col("vec_id").isin(dead))
        .select("vec_id", l2_distance("embedding", q).alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    ]
    assert got == want


@pytest.mark.slow  # lifecycle/long-loop e2e; extended lane (r16)
def test_cdc_auto_compaction_hook(cdc_env):
    """r9 verdict #7: with compact_every=N, a drain over 3N micro-batches
    ends with ≤1 file per touched partition (the reference's background
    defrag worker, worker_init.c:127-176) and identical search results."""
    spark, emb, td, src6 = cdc_env
    src = os.path.join(td, "ops6")
    emb_type = dict((f.name, f.dataType) for f in emb.schema.fields)["embedding"]
    ins = emb.where(F.col("vec_id") % 2 == 1).withColumn("op", F.lit("i"))
    dels = emb.where(F.col("vec_id") % 37 == 0).select(
        "vec_id", F.lit(None).cast(emb_type).alias("embedding"),
        F.lit("d").alias("op"),
    )
    ins.select("vec_id", "embedding", "op").unionByName(dels).repartition(
        6
    ).write.mode("overwrite").parquet(src)
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "ivf_auto"), nlists=4, metric="l2", dim=DIM,
    )
    index_cdc_drain(
        spark, src, _ops_schema(emb), idx, os.path.join(td, "work_auto"),
        compact_every=2, max_files_per_trigger=1,
    )
    from neurondb_spark.streaming.index_ingest import _committed_batches

    assert _committed_batches(idx.path) == 6
    data = os.path.join(idx.path, "data")
    for d in os.listdir(data):
        if d.startswith("cluster_id="):
            assert len(_pq_files(os.path.join(data, d))) <= 1
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4,
                            tiebreak=["vec_id"]).collect()
    ]
    assert got == _brute_ids(spark, emb, q)
    # total_rows reconciled exactly by the final compaction: evens from
    # the build + odd inserts = every row (deletes are tombstones, still
    # physically present until vacuum)
    assert IVFIndex.load(idx.path).meta["total_rows"] == emb.count()


def _pq_files(root):
    return [
        os.path.join(b, f)
        for b, _d, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") or f.startswith("part-")
    ]


@pytest.mark.prodconf
def test_compact_after_cdc_shrinks_files_preserves_topk(cdc_env):
    """CDC appends leave one file per batch per touched list; compact
    merges to one file per list without changing search results or
    tombstone visibility."""
    spark, emb, td, src = cdc_env
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "ivf_c"), nlists=4, metric="l2", dim=DIM,
    )
    index_cdc_drain(
        spark, src, _ops_schema(emb), idx, os.path.join(td, "work_c")
    )
    q = _query(spark)
    before = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4, tiebreak=["vec_id"]).collect()
    ]
    data = os.path.join(idx.path, "data")
    n_before = len(_pq_files(data))
    idx.compact(spark)
    n_after = len(_pq_files(data))
    assert n_after < n_before
    # one data file per cluster dir after compaction
    for d in os.listdir(data):
        if d.startswith("cluster_id="):
            fs = _pq_files(os.path.join(data, d))
            assert len(fs) == 1
    after = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4, tiebreak=["vec_id"]).collect()
    ]
    assert after == before == _brute_ids(spark, emb, q)


@pytest.mark.slow  # lifecycle/long-loop e2e; extended lane (r16)
def test_cdc_cadence_constant_metadata_and_bounded_journal(
    cdc_env, monkeypatch
):
    """r10 verdict #2 + #4: the compaction cadence must not re-list the
    journal per batch (O(#all-ever-committed) metadata per batch), and
    the journal itself must stay bounded under retention. Asserted the
    strong way: _committed_batches is monkeypatched to raise, so ANY
    per-batch listing sinks the drain; prune runs once at drain start
    plus once per compaction (1+3), not per batch (6×); journal_keep=2
    leaves exactly 2 markers after 6 committed batches."""
    spark, emb, td, _src = cdc_env
    from neurondb_spark.streaming import index_ingest as mod

    src = os.path.join(td, "ops_cad")
    _write_ops(emb, src, dead_mod=37)
    # re-split to 6 single-file micro-batches
    spark.read.schema(_ops_schema(emb)).parquet(src).repartition(6).write.mode(
        "overwrite"
    ).parquet(src + "6")
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "ivf_cad"), nlists=4, metric="l2", dim=DIM,
    )

    # a pre-existing synthetic marker (index_cdc_batch uses batch_id=-1,
    # the smallest id) must SURVIVE retention: its replay protection has
    # no checkpoint offset log behind it
    jdir = os.path.join(idx.path, "ingest_journal")
    os.makedirs(jdir, exist_ok=True)
    synth = os.path.join(jdir, "batch_-1.json")
    with open(synth, "w") as fh:
        fh.write('{"batch_id": -1}')

    def _boom(_path):
        raise AssertionError(
            "drain listed the journal on the per-batch path"
        )

    monkeypatch.setattr(mod, "_committed_batches", _boom)
    prunes: list[int] = []
    real_prune = mod.prune_ingest_journal
    monkeypatch.setattr(
        mod, "prune_ingest_journal",
        lambda p, keep_last: prunes.append(keep_last)
        or real_prune(p, keep_last=keep_last),
    )
    spark.conf.set("spark.neurondb.ingest.journal_keep", "2")
    try:
        index_cdc_drain(
            spark, src + "6", _ops_schema(emb), idx,
            os.path.join(td, "work_cad"),
            compact_every=2, max_files_per_trigger=1,
        )
    finally:
        spark.conf.unset("spark.neurondb.ingest.journal_keep")
    monkeypatch.undo()
    # one drain-start prune (r11 ADVICE #3) + 6 committed batches at
    # compact_every=2 -> exactly 3 compaction prunes
    assert prunes == [2, 2, 2, 2]
    from neurondb_spark.streaming.index_ingest import _committed_batches

    # newest 2 checkpoint-batch markers kept + the pruning-exempt
    # synthetic batch_-1 marker
    assert _committed_batches(idx.path) == 3
    assert os.path.exists(synth)
    # retention must not break exactly-once: replay the whole source
    # with a fresh checkpoint — the checkpoint has fully processed the
    # source, so availableNow finds nothing new and nothing re-applies
    total_before = IVFIndex.load(idx.path).meta["total_rows"]
    index_cdc_drain(
        spark, src + "6", _ops_schema(emb), idx,
        os.path.join(td, "work_cad"),  # SAME checkpoint
        compact_every=2, max_files_per_trigger=1,
    )
    assert IVFIndex.load(idx.path).meta["total_rows"] == total_before
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4,
                            tiebreak=["vec_id"]).collect()
    ]
    assert got == _brute_ids(spark, emb, q)


@pytest.mark.prodconf
def test_drain_retry_recovers_crashed_compaction(cdc_env, monkeypatch):
    """A compact that crashes at its commit point leaves its journal
    behind; a drain retry whose batches are all marker-replays must roll
    it forward at drain start (nothing else on the replay path touches
    the layout) and refresh the handle it was given, whose meta still
    names the pre-compact files."""
    from neurondb_spark import data_management as dm

    spark, emb, td, src = cdc_env
    idx = LSHIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "lsh_rec"), dim=DIM, nbits=4, metric="l2",
    )
    index_cdc_drain(
        spark, src, _ops_schema(emb), idx, os.path.join(td, "work_rec"),
        compact_every=1,
    )
    real_apply = crash_at_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.compact(spark)
    monkeypatch.setattr(dm, "apply_dml_commit", real_apply)
    assert os.path.exists(os.path.join(idx.path, "dml_commit.json"))
    # retry with the SAME checkpoint: availableNow replays nothing new,
    # so only the drain-start roll-forward can finish the commit
    index_cdc_drain(
        spark, src, _ops_schema(emb), idx, os.path.join(td, "work_rec"),
        compact_every=1,
    )
    assert not os.path.exists(os.path.join(idx.path, "dml_commit.json"))
    assert not os.path.exists(os.path.join(idx.path, "data_tmp"))
    q = _query(spark)
    for handle in (idx, LSHIndex.load(idx.path)):
        got = [
            r["vec_id"]
            for r in handle.search(
                spark, q, k=10, probe_hamming=4, tiebreak=["vec_id"]
            ).collect()
        ]
        assert got == _brute_ids(spark, emb, q)


@pytest.mark.slow  # lifecycle/long-loop e2e; extended lane (r16)
def test_journal_retention_without_compaction(cdc_env):
    """r11 ADVICE #3: with compact_every=0 (the default) retention must
    still run — at drain start — so a long-lived drain's journal stays
    bounded without requiring auto-compaction to be enabled. Two drains:
    the first commits 6 batches (no compaction, 6 markers accumulate);
    the second starts and prunes down to journal_keep."""
    spark, emb, td, _src = cdc_env
    from neurondb_spark.streaming.index_ingest import _committed_batches

    src = os.path.join(td, "ops_ret")
    _write_ops(emb, src, dead_mod=37)
    spark.read.schema(_ops_schema(emb)).parquet(src).repartition(
        6
    ).write.mode("overwrite").parquet(src + "6")
    idx = IVFIndex.build(
        emb.where(F.col("vec_id") % 2 == 0), "embedding",
        os.path.join(td, "ivf_ret"), nlists=4, metric="l2", dim=DIM,
    )
    spark.conf.set("spark.neurondb.ingest.journal_keep", "2")
    try:
        index_cdc_drain(
            spark, src + "6", _ops_schema(emb), idx,
            os.path.join(td, "work_ret"),
            compact_every=0, max_files_per_trigger=1,
        )
        assert _committed_batches(idx.path) == 6  # no in-drain prune
        # second drain over the same checkpoint: no new data, but the
        # drain-start prune bounds the journal
        index_cdc_drain(
            spark, src + "6", _ops_schema(emb), idx,
            os.path.join(td, "work_ret"),
            compact_every=0, max_files_per_trigger=1,
        )
        assert _committed_batches(idx.path) == 2
    finally:
        spark.conf.unset("spark.neurondb.ingest.journal_keep")
    q = _query(spark)
    got = [
        r["vec_id"]
        for r in idx.search(spark, q, k=10, nprobe=4,
                            tiebreak=["vec_id"]).collect()
    ]
    assert got == _brute_ids(spark, emb, q)
