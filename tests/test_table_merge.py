"""Streaming CDC drain into a bucketed copy-on-write table
(streaming/table_merge.py — the table-level twin of the index CDC drain)."""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

CHANGE_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("seq", T.LongType()),
])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _setup(spark, tmp):
    from neurondb_spark.streaming.table_merge import init_merge_table

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id long, v string"
    )
    table = os.path.join(tmp, "table")
    src = os.path.join(tmp, "changes")
    os.makedirs(src, exist_ok=True)
    init_merge_table(spark, base, table, ["id"], n_buckets=4)
    return base, table, src


def test_merge_drain_matches_batch_apply(spark):
    from neurondb_spark.data_management import apply_changes
    from neurondb_spark.streaming.table_merge import (
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tmerge_")
    base, table, src = _setup(spark, tmp)
    # batch 1: upsert 3 (twice — seq decides), delete 7, insert 100
    c1 = spark.createDataFrame(
        [(3, "x", "u", 1), (3, "y", "u", 2), (7, None, "d", 1),
         (100, "new", "i", 1)],
        CHANGE_SCHEMA,
    )
    # batch 2 (separate file): re-update 3, delete 100, insert 101
    c2 = spark.createDataFrame(
        [(3, "z", "u", 1), (100, None, "d", 1), (101, "n2", "i", 1)],
        CHANGE_SCHEMA,
    )
    c1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)
    mid = read_merge_table(spark, table)
    assert _rows(mid.where(F.col("id").isin(3, 7, 100))) == [
        (3, "y"), (100, "new")
    ]
    c2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)
    got = read_merge_table(spark, table)
    want = apply_changes(
        apply_changes(base, c1, ["id"], seq_col="seq"), c2, ["id"],
        seq_col="seq",
    )
    assert _rows(got) == _rows(want)
    # re-running the drain with no new files is a no-op
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)
    assert _rows(read_merge_table(spark, table)) == _rows(want)
    shutil.rmtree(tmp, ignore_errors=True)


def test_merge_drain_heals_crash_leftovers(spark):
    from neurondb_spark.streaming.table_merge import (
        _heal_table,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tmerge_heal_")
    base, table, src = _setup(spark, tmp)
    before = _rows(read_merge_table(spark, table))
    # crash A: swap renamed bucket away but tmp never landed → .old holds it
    os.rename(os.path.join(table, "bucket=1"), os.path.join(table, "bucket=1.old"))
    # crash B: incomplete tmp write next to a healthy bucket
    os.makedirs(os.path.join(table, "bucket=2.merge_tmp"))
    _heal_table(table)
    assert os.path.isdir(os.path.join(table, "bucket=1"))
    assert not os.path.exists(os.path.join(table, "bucket=1.old"))
    assert not os.path.exists(os.path.join(table, "bucket=2.merge_tmp"))
    assert _rows(read_merge_table(spark, table)) == before
    # crash C: swap completed but stale backup remained → reader unaffected,
    # heal drops it
    shutil.copytree(os.path.join(table, "bucket=3"),
                    os.path.join(table, "bucket=3.old"))
    assert _rows(read_merge_table(spark, table)) == before
    _heal_table(table)
    assert not os.path.exists(os.path.join(table, "bucket=3.old"))
    shutil.rmtree(tmp, ignore_errors=True)


def test_engine_merge_table_facade(spark):
    """create_merge_table / merge_cdc / read_table through the engine."""
    from neurondb_spark.engine import NeuronSparkEngine

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="tmerge_eng_"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    eng.create_merge_table("t1", base, ["id"], n_buckets=2)
    assert _rows(eng.read_table("t1")) == [(1, "a"), (2, "b")]
    src = tempfile.mkdtemp(prefix="tmerge_eng_src_")
    spark.createDataFrame(
        [(2, "B", "u", 1), (3, "c", "i", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    got = eng.merge_cdc("t1", src + "/*/", CHANGE_SCHEMA)
    assert _rows(got) == [(1, "a"), (2, "B"), (3, "c")]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown merge table"):
        eng.read_table("nope")


def test_table_meta_guards_bucketing(spark):
    """_table_meta.json (ADVICE r12): a drain with mismatched n_buckets
    or key_cols errors instead of silently scattering keys across the
    wrong buckets; legacy tables without meta still drain."""
    import pytest

    from neurondb_spark.streaming.table_merge import (
        _load_table_meta,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tmerge_meta_")
    base, table, src = _setup(spark, tmp)
    meta = _load_table_meta(table)
    assert meta["key_cols"] == ["id"] and meta["n_buckets"] == 4
    spark.createDataFrame(
        [(3, "x", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    with pytest.raises(ValueError, match="n_buckets=4"):
        merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                           n_buckets=8)
    with pytest.raises(ValueError, match="key_cols="):
        merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["v"],
                           n_buckets=4)
    # matching params drain fine; legacy (meta-less) tables are tolerated
    os.remove(os.path.join(table, "_table_meta.json"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)
    got = read_merge_table(spark, table)
    assert sorted(r["v"] for r in got.where(F.col("id") == 3).collect()) == ["x"]
    shutil.rmtree(tmp, ignore_errors=True)


def test_engine_merge_cdc_rejects_n_buckets(spark):
    """Bucket count is fixed at create_merge_table; passing it to
    merge_cdc gets a clear neurondb error, not a duplicate-kwarg
    TypeError (ADVICE r12)."""
    import pytest

    from neurondb_spark.engine import NeuronSparkEngine

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="tmerge_kw_"))
    base = spark.createDataFrame([(1, "a")], "id long, v string")
    eng.create_merge_table("tkw", base, ["id"], n_buckets=2)
    with pytest.raises(ValueError, match="fixed at create_merge_table"):
        eng.merge_cdc("tkw", "/nonexistent", CHANGE_SCHEMA, n_buckets=4)


def test_merge_on_read_drain_and_compaction(spark):
    """MOR tier: drains append to the change log only; a read BETWEEN
    drains sees unfolded changes (union base+log, last-writer-wins);
    compaction folds the log into the base and the visible state is
    unchanged; the compaction cadence fires inside the drain."""
    from neurondb_spark.data_management import apply_changes
    from neurondb_spark.streaming.table_merge import (
        _log_batch_dirs,
        compact_merge_table,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tmor_")
    base, table, src = _setup(spark, tmp)
    c1 = spark.createDataFrame(
        [(3, "x", "u", 1), (3, "y", "u", 2), (7, None, "d", 1),
         (100, "new", "i", 1)],
        CHANGE_SCHEMA,
    )
    c2 = spark.createDataFrame(
        [(3, "z", "u", 1), (100, None, "d", 1), (101, "n2", "i", 1)],
        CHANGE_SCHEMA,
    )
    c1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    # the change landed in the LOG, not the base — and the read sees it
    assert len(_log_batch_dirs(table)) == 1
    mid = read_merge_table(spark, table)
    assert _rows(mid.where(F.col("id").isin(3, 7, 100))) == [
        (3, "y"), (100, "new")
    ]
    # second batch: cross-batch last-writer-wins at read, still unfolded
    c2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    assert len(_log_batch_dirs(table)) == 2
    want = apply_changes(
        apply_changes(base, c1, ["id"], seq_col="seq"), c2, ["id"],
        seq_col="seq",
    )
    assert _rows(read_merge_table(spark, table)) == _rows(want)
    # explicit compaction folds both batches; state is unchanged
    assert compact_merge_table(spark, table) == 2
    assert _log_batch_dirs(table) == []
    assert _rows(read_merge_table(spark, table)) == _rows(want)
    assert compact_merge_table(spark, table) == 0  # idempotent no-op
    # cadence: a third batch under compact_every=1 folds inside the drain
    c3 = spark.createDataFrame([(101, "n3", "u", 1)], CHANGE_SCHEMA)
    c3.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f3"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True, compact_every=1)
    assert _log_batch_dirs(table) == []
    want2 = apply_changes(want, c3, ["id"], seq_col="seq")
    assert _rows(read_merge_table(spark, table)) == _rows(want2)
    # replaying with no new files is a no-op
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    assert _rows(read_merge_table(spark, table)) == _rows(want2)
    shutil.rmtree(tmp, ignore_errors=True)


def test_merge_on_read_matches_cow(spark):
    """The same change stream through MOR and COW drains produces the
    same table — read semantics are identical, only the physical
    write/read trade differs."""
    from neurondb_spark.streaming.table_merge import (
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tmor_eq_")
    changes = spark.createDataFrame(
        [(1, "A", "u", 1), (5, None, "d", 1), (100, "new", "i", 1),
         (100, "newer", "u", 2)],
        CHANGE_SCHEMA,
    )
    states = {}
    for mode in ("cow", "mor"):
        base, table, src = _setup(spark, os.path.join(tmp, mode))
        changes.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, "f1"))
        merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table,
                           ["id"], n_buckets=4,
                           merge_on_read=(mode == "mor"))
        states[mode] = _rows(read_merge_table(spark, table))
    assert states["mor"] == states["cow"]
    shutil.rmtree(tmp, ignore_errors=True)


def test_merge_on_read_log_meta_guard(spark):
    """A MOR drain with different op/seq column names than the existing
    log errors instead of mis-ordering it; engine.compact_table folds
    through the facade."""
    import pytest

    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.streaming.table_merge import merge_stream_drain

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="tmor_eng_"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    eng.create_merge_table("tm", base, ["id"], n_buckets=2)
    src = tempfile.mkdtemp(prefix="tmor_eng_src_")
    spark.createDataFrame(
        [(2, "B", "u", 1), (3, "c", "i", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    got = eng.merge_cdc("tm", src + "/*/", CHANGE_SCHEMA, merge_on_read=True)
    assert _rows(got) == [(1, "a"), (2, "B"), (3, "c")]
    table = eng.catalog.get("tables", "tm")["path"]
    with pytest.raises(ValueError, match="one log, one op/seq naming"):
        merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table,
                           ["id"], n_buckets=2, merge_on_read=True,
                           op_col="operation")
    assert eng.compact_table("tm") == 1
    assert _rows(eng.read_table("tm")) == [(1, "a"), (2, "B"), (3, "c")]


def test_lookup_merge_table_bucket_pruned(spark):
    """Point lookup reads ONLY the key's bucket slice (base + log) and
    returns the same row the full read would: present key, log-upserted
    key, log-deleted key, log-only-inserted key, absent key."""
    from neurondb_spark.streaming.table_merge import (
        lookup_merge_table,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tlook_")
    base, table, src = _setup(spark, tmp)
    changes = spark.createDataFrame(
        [(3, "x", "u", 1), (3, "y", "u", 2), (7, None, "d", 1),
         (100, "new", "i", 1)],
        CHANGE_SCHEMA,
    )
    changes.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    full = {r["id"]: r["v"] for r in read_merge_table(spark, table).collect()}
    for kid in (1, 3, 7, 100, 999):
        got = lookup_merge_table(spark, table, {"id": kid}).collect()
        if kid in full:
            assert len(got) == 1 and got[0]["v"] == full[kid], kid
            # pruning: the plan reads only this key's bucket slice(s)
            df = lookup_merge_table(spark, table, {"id": kid})
            buckets = {f.split("bucket=")[1].split("/")[0]
                       for f in df.inputFiles() if "bucket=" in f}
            assert len(buckets) == 1, (kid, buckets)
        else:
            assert got == [], kid
    import pytest
    with pytest.raises(ValueError, match="bind exactly"):
        lookup_merge_table(spark, table, {"id": 1, "v": "a"})
    shutil.rmtree(tmp, ignore_errors=True)


def test_compaction_cadence_durable_across_invocations(spark):
    """VERDICT r13 #3: the compaction cadence triggers on the MANIFEST's
    unfolded-batch count, not an in-process counter — a caller draining
    ONE file per invocation with compact_every=2 folds at the second
    invocation (the old counter reset to 0 each run and never fired)."""
    from neurondb_spark.streaming.table_merge import (
        _log_batch_dirs,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tcad_")
    base, table, src = _setup(spark, tmp)
    spark.createDataFrame(
        [(3, "x", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True, compact_every=2)
    assert len(_log_batch_dirs(table)) == 1  # below cadence, unfolded
    spark.createDataFrame(
        [(5, "y", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True, compact_every=2)
    assert _log_batch_dirs(table) == []  # SECOND invocation folded
    got = {r["id"]: r["v"] for r in read_merge_table(spark, table).collect()}
    assert got[3] == "x" and got[5] == "y" and len(got) == 40
    shutil.rmtree(tmp, ignore_errors=True)


def test_cow_drain_refuses_unfolded_log(spark):
    """ADVICE r13 (medium): a copy-on-write drain over a table with
    unfolded merge-on-read log batches errors — applying new changes to
    the base while old log entries still shadow it at read time would
    resurrect deletes. After compaction the COW drain proceeds."""
    import pytest

    from neurondb_spark.streaming.table_merge import (
        compact_merge_table,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tcowg_")
    base, table, src = _setup(spark, tmp)
    spark.createDataFrame(
        [(7, None, "d", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    spark.createDataFrame(
        [(8, "upd", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    with pytest.raises(ValueError, match="unfolded"):
        merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                           n_buckets=4)
    compact_merge_table(spark, table)
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)
    got = {r["id"]: r["v"] for r in read_merge_table(spark, table).collect()}
    assert 7 not in got and got[8] == "upd"
    shutil.rmtree(tmp, ignore_errors=True)


def test_manifest_snapshot_read_survives_compaction(spark):
    """VERDICT r13 #4 (the last Delta/Iceberg sliver): a read resolves
    its whole file set from the manifest once, so a drain + compaction
    committing AFTER the read was opened cannot tear it — the snapshot
    keeps returning the pre-fold state (retired files are deleted one
    commit later, not at the commit that dereferences them)."""
    from neurondb_spark.data_management import apply_changes
    from neurondb_spark.streaming.table_merge import (
        _log_batch_dirs,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tsnap_")
    base, table, src = _setup(spark, tmp)
    c1 = spark.createDataFrame(
        [(3, "x", "u", 1), (7, None, "d", 1), (100, "new", "i", 1)],
        CHANGE_SCHEMA,
    )
    c2 = spark.createDataFrame(
        [(3, "z", "u", 1), (100, None, "d", 1)], CHANGE_SCHEMA
    )
    c1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    snap = read_merge_table(spark, table)  # manifest resolved HERE
    want_snap = _rows(apply_changes(base, c1, ["id"], seq_col="seq"))
    assert _rows(snap) == want_snap
    # batch 2 + cadence compaction land while the snapshot is open
    c2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True, compact_every=1)
    assert _log_batch_dirs(table) == []  # folded
    want_now = _rows(apply_changes(
        apply_changes(base, c1, ["id"], seq_col="seq"), c2, ["id"],
        seq_col="seq",
    ))
    assert _rows(read_merge_table(spark, table)) == want_now
    # the snapshot's files are retired but RETAINED → it still reads the
    # pre-batch-2, pre-fold state
    assert os.path.isdir(os.path.join(table, "_log", "logbatch=0"))
    assert _rows(snap) == want_snap
    # one further commit garbage-collects the retired set
    spark.createDataFrame(
        [(5, "y", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f3"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    assert not os.path.exists(os.path.join(table, "_log", "logbatch=0"))
    shutil.rmtree(tmp, ignore_errors=True)


def test_lookup_many_single_hash_job(spark, monkeypatch):
    """VERDICT r13 #6: the multi-key lookup evaluates every key's bucket
    hash in ONE Spark action and returns per-key results equal to N
    single lookups (which now delegate to it)."""
    from neurondb_spark.streaming.table_merge import (
        lookup_merge_table,
        lookup_merge_table_many,
        merge_stream_drain,
    )

    # the CONCRETE DataFrame class (pyspark 4 routes pyspark.sql.DataFrame
    # to an abstract base whose classic subclass overrides collect)
    _DF = type(spark.range(1))

    tmp = tempfile.mkdtemp(prefix="tlmany_")
    base, table, src = _setup(spark, tmp)
    spark.createDataFrame(
        [(3, "x", "u", 1), (7, None, "d", 1), (100, "new", "i", 1)],
        CHANGE_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    keys = [{"id": k} for k in (1, 3, 7, 100, 999)]
    actions = []
    orig_collect = _DF.collect
    monkeypatch.setattr(
        _DF, "collect",
        lambda self: (actions.append(1), orig_collect(self))[1],
    )
    df = lookup_merge_table_many(spark, table, keys)
    assert len(actions) == 1  # one hash job for all 5 keys
    monkeypatch.undo()
    got = {r["id"]: r["v"] for r in df.collect()}
    want = {}
    for key in keys:
        for r in lookup_merge_table(spark, table, key).collect():
            want[r["id"]] = r["v"]
    assert got == want and set(got) == {1, 3, 100}
    shutil.rmtree(tmp, ignore_errors=True)


def test_entry_points_recover_parent_swap_crash(spark):
    """ADVICE r13 (low): a crash between rebalance's two renames leaves
    only ``table_dir.old`` — every entry point recover()s it instead of
    silently recreating an empty table."""
    from neurondb_spark.streaming.table_merge import (
        compact_merge_table,
        lookup_merge_table,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="trec_")
    base, table, src = _setup(spark, tmp)
    before = _rows(read_merge_table(spark, table))
    for entry in (
        lambda: _rows(read_merge_table(spark, table)) == before,
        lambda: lookup_merge_table(spark, table, {"id": 3}).collect()[0]["v"]
        == "v3",
        lambda: compact_merge_table(spark, table) == 0,
    ):
        os.rename(table, table + ".old")
        assert entry()
        assert os.path.isdir(table) and not os.path.exists(table + ".old")
    shutil.rmtree(tmp, ignore_errors=True)


def test_vacuum_removes_orphans_keeps_reachable(spark):
    """vacuum_merge_table (remove-orphan-files analog): version dirs and
    log batches no manifest holder references are removed; the current
    set AND the retired set (previous manifest's snapshot) survive."""
    from neurondb_spark.streaming.table_merge import (
        _read_manifest,
        merge_stream_drain,
        read_merge_table,
        vacuum_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tvac_")
    base, table, src = _setup(spark, tmp)
    spark.createDataFrame(
        [(3, "x", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    before = _rows(read_merge_table(spark, table))
    # fabricate crash leftovers: an orphan version dir (commit never
    # published) and a dangling log batch (neither unfolded nor retired)
    orphan_v = os.path.join(table, "bucket=0", "__nbv=7")
    os.makedirs(orphan_v)
    orphan_l = os.path.join(table, "_log", "logbatch=99")
    shutil.copytree(os.path.join(table, "_log", "logbatch=0"), orphan_l)
    got = vacuum_merge_table(table)
    assert got == {"orphan_versions": 1, "orphan_log_batches": 1}
    assert not os.path.exists(orphan_v) and not os.path.exists(orphan_l)
    # reachable set intact: current read unchanged, unfolded log alive
    assert os.path.isdir(os.path.join(table, "_log", "logbatch=0"))
    assert _rows(read_merge_table(spark, table)) == before
    # retired entries (none here) and manifest untouched
    assert _read_manifest(table)["log_batches"] == [0]
    shutil.rmtree(tmp, ignore_errors=True)


def test_time_travel_read_within_retention(spark):
    """read_merge_table(at_commit=N): a recorded commit's state is
    readable while its files survive the one-commit-back retention;
    an expired commit raises the retention error, an unknown commit the
    history error."""
    import pytest

    from neurondb_spark.data_management import apply_changes
    from neurondb_spark.streaming.table_merge import (
        _read_manifest,
        merge_stream_drain,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="ttt_")
    base, table, src = _setup(spark, tmp)
    assert _read_manifest(table)["commit"] == 1  # init commit
    c1 = spark.createDataFrame(
        [(3, "x", "u", 1), (7, None, "d", 1)], CHANGE_SCHEMA
    )
    c1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)  # COW: commit 2
    cur = _read_manifest(table)["commit"]
    assert cur == 2
    # commit 1 (pre-drain) is the previous commit — still readable
    assert _rows(read_merge_table(spark, table, at_commit=1)) == _rows(base)
    assert _rows(read_merge_table(spark, table, at_commit=2)) == _rows(
        apply_changes(base, c1, ["id"], seq_col="seq"))
    with pytest.raises(ValueError, match="no recorded commit"):
        read_merge_table(spark, table, at_commit=99)
    # point lookups answer against the same historical manifests
    from neurondb_spark.streaming.table_merge import lookup_merge_table

    assert lookup_merge_table(
        spark, table, {"id": 3}, at_commit=1).collect()[0]["v"] == "v3"
    assert lookup_merge_table(
        spark, table, {"id": 3}, at_commit=2).collect()[0]["v"] == "x"
    # a further commit GCs commit 1's files → retention error
    spark.createDataFrame(
        [(5, "y", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4)  # commit 3
    with pytest.raises(ValueError, match="garbage-collected"):
        read_merge_table(spark, table, at_commit=1)
    assert _rows(read_merge_table(spark, table, at_commit=2)) == _rows(
        apply_changes(base, c1, ["id"], seq_col="seq"))
    # the ops surface: history lists every commit's manifest, oldest first
    from neurondb_spark.streaming.table_merge import merge_table_history

    assert [m["commit"] for m in merge_table_history(table)] == [1, 2, 3]
    shutil.rmtree(tmp, ignore_errors=True)


def test_manifest_history_capped(tmp_path):
    """_manifests/ is pruned to the newest _HISTORY_KEEP commits — a
    streaming drain committing once per micro-batch must not grow the
    metadata dir without bound (pure file I/O, no Spark)."""
    import neurondb_spark.streaming.table_merge as tm

    table = str(tmp_path / "t")
    os.makedirs(table)
    for c in range(1, tm._HISTORY_KEEP + 9):
        tm._publish_manifest(table, {
            "format": "neurondb-merge-manifest-v1", "commit": c,
            "buckets": {}, "log_batches": [], "retired": [],
        })
    hist = tm.merge_table_history(table)
    assert len(hist) == tm._HISTORY_KEEP
    assert hist[0]["commit"] == 9  # oldest 8 pruned
    assert hist[-1]["commit"] == tm._HISTORY_KEEP + 8


def test_rebalance_merge_table(spark):
    """Re-bucketing: same visible rows under the new layout, new meta
    enforced on subsequent drains, unfolded log folded first, and the
    streaming checkpoint carried (a re-drain of old files is a no-op,
    not a replay)."""
    import pytest

    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.streaming.table_merge import (
        _load_table_meta,
        _log_batch_dirs,
        merge_stream_drain,
        read_merge_table,
        rebalance_merge_table,
    )

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="treb_cat_"))
    tmp = tempfile.mkdtemp(prefix="treb_")
    base, table, src = _setup(spark, tmp)
    eng.catalog.register("tables", "reb",
                         {"path": table, "key_cols": ["id"], "n_buckets": 4})
    spark.createDataFrame(
        [(3, "x", "u", 1), (100, "new", "i", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=4, merge_on_read=True)
    assert len(_log_batch_dirs(table)) == 1  # unfolded on purpose
    before = _rows(read_merge_table(spark, table))
    eng.rebalance_table("reb", 9)
    meta = _load_table_meta(table)
    assert meta["key_cols"] == ["id"] and meta["n_buckets"] == 9
    # rebalance refreshes the dtype cache alongside the layout params
    assert meta["dtypes"] == [["id", "bigint"], ["v", "string"]]
    assert _log_batch_dirs(table) == []  # folded before the rewrite
    assert len([d for d in os.listdir(table) if d.startswith("bucket=")]) <= 9
    assert _rows(read_merge_table(spark, table)) == before
    assert eng.catalog.get("tables", "reb")["n_buckets"] == 9
    # old bucketing now rejected; new accepted; checkpoint carried so the
    # already-drained file is NOT replayed (state unchanged)
    with pytest.raises(ValueError, match="n_buckets=9"):
        merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                           n_buckets=4, merge_on_read=True)
    merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                       n_buckets=9, merge_on_read=True)
    assert _log_batch_dirs(table) == []
    assert _rows(read_merge_table(spark, table)) == before
    # and a genuinely new change lands in the new layout end-to-end
    spark.createDataFrame(
        [(100, "upd", "u", 2)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    got = eng.merge_cdc("reb", src + "/*/", CHANGE_SCHEMA)
    assert dict(_rows(got))[100] == "upd"
    shutil.rmtree(tmp, ignore_errors=True)


def test_concurrent_writer_commit_raises(spark):
    """VERDICT r14 "What's missing" #3: two writers interleaving
    read-manifest→publish cycles is a lost update — the optimistic check
    at commit time turns the loser's publish into ConcurrentWriterError,
    and the winner's commit survives untouched."""
    import pytest

    from neurondb_spark.streaming.table_merge import (
        ConcurrentWriterError,
        _commit_manifest,
        _load_manifest,
        _read_manifest,
        read_merge_table,
    )

    tmp = tempfile.mkdtemp(prefix="tcc_")
    base, table, src = _setup(spark, tmp)
    m_a = _load_manifest(table)  # writer A loads...
    m_b = _load_manifest(table)  # ...writer B loads the same commit
    _commit_manifest(table, m_b, {}, [], [7])  # B publishes first
    with pytest.raises(ConcurrentWriterError, match="commit 2.*commit 1"):
        _commit_manifest(table, m_a, {}, [], [])  # A must NOT silently win
    # the winner's commit is intact and the table still reads
    assert _read_manifest(table)["commit"] == 2
    assert _read_manifest(table)["log_batches"] == [7]
    # a retry from a FRESH manifest succeeds (the documented recovery)
    _commit_manifest(table, _load_manifest(table), {}, [], [])
    assert _read_manifest(table)["commit"] == 3
    assert _rows(read_merge_table(spark, table)) == _rows(base)
    shutil.rmtree(tmp, ignore_errors=True)


def test_lookup_uses_cached_dtypes_no_schema_probe(spark, monkeypatch):
    """VERDICT r14 "What's wrong" #3: column dtypes are cached in
    _table_meta.json at init/rebalance, so a point lookup opens exactly
    the touched buckets' parquet — never an extra footer read just for
    schema. Legacy tables (no dtype cache) still work via the fallback
    probe."""
    from neurondb_spark.streaming.table_merge import (
        _load_table_meta,
        _write_table_meta,
        lookup_merge_table,
        lookup_merge_table_many,
    )

    tmp = tempfile.mkdtemp(prefix="tdty_")
    base, table, src = _setup(spark, tmp)
    assert _load_table_meta(table)["dtypes"] == [["id", "bigint"],
                                                 ["v", "string"]]
    _Reader = type(spark.read)
    reads = []
    orig_parquet = _Reader.parquet
    monkeypatch.setattr(
        _Reader, "parquet",
        lambda self, *p: (reads.append(p), orig_parquet(self, *p))[1],
    )
    got = lookup_merge_table(spark, table, {"id": 3})
    assert [r["v"] for r in got.collect()] == ["v3"]
    # exactly ONE parquet open: the touched bucket's version dir
    assert len(reads) == 1 and "bucket=" in reads[0][0]
    # two keys in one bucket-distinct pair → still no schema probe
    reads.clear()
    many = lookup_merge_table_many(spark, table, [{"id": 3}, {"id": 5}])
    assert {r["id"] for r in many.collect()} == {3, 5}
    assert all("bucket=" in p[0] for p in reads)
    monkeypatch.undo()
    # legacy meta without the dtype cache: fallback probe, same answer
    _write_table_meta(table, ["id"], 4)
    assert "dtypes" not in _load_table_meta(table)
    got = lookup_merge_table(spark, table, {"id": 3})
    assert [r["v"] for r in got.collect()] == ["v3"]
    shutil.rmtree(tmp, ignore_errors=True)


def test_read_resolves_log_from_single_manifest(spark, monkeypatch):
    """ADVICE r14 (medium): the at_commit=None read must take its
    unfolded-log list from the SAME manifest object it resolved buckets
    from — a compaction committing between two manifest reads would pair
    pre-fold buckets with an emptied log and silently drop every
    unfolded change. Simulated by making every manifest read AFTER the
    first return the post-compaction (log-empty) view: the read must
    still see the log change, because it never re-reads."""
    import neurondb_spark.streaming.table_merge as tm

    tmp = tempfile.mkdtemp(prefix="tsnap1_")
    base, table, src = _setup(spark, tmp)
    spark.createDataFrame(
        [(3, "x", "u", 1), (100, "new", "i", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    tm.merge_stream_drain(spark, src + "/*/", CHANGE_SCHEMA, table, ["id"],
                          n_buckets=4, merge_on_read=True)
    real = tm._read_manifest(table)
    assert real["log_batches"] == [0]
    doctored = dict(real, log_batches=[])  # what a racing fold publishes
    calls = []
    monkeypatch.setattr(
        tm, "_read_manifest",
        lambda d: (calls.append(d), real if len(calls) == 1 else doctored)[1],
    )
    got = {r["id"]: r["v"] for r in tm.read_merge_table(spark, table).collect()}
    monkeypatch.undo()
    assert len(calls) == 1  # buckets AND log from one manifest load
    assert got[3] == "x" and got[100] == "new"  # log changes not dropped
    # same single-load contract on the batched lookup path
    calls.clear()
    monkeypatch.setattr(
        tm, "_read_manifest",
        lambda d: (calls.append(d), real if len(calls) == 1 else doctored)[1],
    )
    got = {r["id"]: r["v"] for r in tm.lookup_merge_table_many(
        spark, table, [{"id": 3}, {"id": 100}]).collect()}
    monkeypatch.undo()
    assert len(calls) == 1
    assert got == {3: "x", 100: "new"}
    shutil.rmtree(tmp, ignore_errors=True)


def test_time_travel_row_refuses_broken_history(spark):
    """VERDICT r14 "What's wrong" #1: the merge_time_travel gate row's
    batch-twin fallback covers only the table-ABSENT infra case. A
    present table whose history lacks the post-batch-1 commit is a
    product bug — the row must raise even without NEURONDB_STRICT_STREAM,
    never silently hash-green via the twin."""
    import pytest

    from neurondb_spark.registry.fixtures import fixture_dir
    from neurondb_spark.registry.misc_queries import _q_merge_time_travel

    sf_dir = "/root/testdata/sf0.001"
    # intact scenario: the row returns the post-batch-1 state
    assert _q_merge_time_travel(spark, sf_dir).limit(1).count() == 1
    table = os.path.join(fixture_dir("merge_mor", sf_dir), "table")
    hist = os.path.join(table, "_manifests")
    # doctor: remove every history copy whose unfolded log is [0]
    import json
    moved = []
    for name in os.listdir(hist):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(hist, name)) as f:
            if json.load(f).get("log_batches") == [0]:
                os.rename(os.path.join(hist, name),
                          os.path.join(hist, name + ".hidden"))
                moved.append(name)
    assert moved, "scenario history must contain the post-batch-1 commit"
    try:
        assert os.environ.get("NEURONDB_STRICT_STREAM") != "1"
        with pytest.raises(RuntimeError, match="history is broken"):
            _q_merge_time_travel(spark, sf_dir)
    finally:  # restore — the scenario table is shared across gate rows
        for name in moved:
            os.rename(os.path.join(hist, name + ".hidden"),
                      os.path.join(hist, name))
    assert _q_merge_time_travel(spark, sf_dir).limit(1).count() == 1


def test_engine_lookup_at_commit_facade(spark):
    """engine.lookup_table(_many) pass at_commit through — a point read
    against a recorded historical commit returns the pre-change value
    while the current lookup returns the post-change one."""
    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.streaming import ConcurrentWriterError  # re-export
    from neurondb_spark.streaming.table_merge import merge_table_history

    assert issubclass(ConcurrentWriterError, RuntimeError)
    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="tlac_"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    eng.create_merge_table("tac", base, ["id"], n_buckets=2)
    src = tempfile.mkdtemp(prefix="tlac_src_")
    spark.createDataFrame(
        [(1, "A2", "u", 1)], CHANGE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    eng.merge_cdc("tac", src + "/*/", CHANGE_SCHEMA)
    path = eng.catalog.get("tables", "tac")["path"]
    first = merge_table_history(path)[0]["commit"]
    assert [r["v"] for r in eng.lookup_table("tac", {"id": 1}).collect()] \
        == ["A2"]
    assert [r["v"] for r in eng.lookup_table(
        "tac", {"id": 1}, at_commit=first).collect()] == ["a"]
    assert [r["v"] for r in eng.lookup_table_many(
        "tac", [{"id": 1}, {"id": 2}], at_commit=first).orderBy("id")
        .collect()] == ["a", "b"]
