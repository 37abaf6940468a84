"""M5 surface tests: streaming job queue, multimodal plumbing, graph
algorithms, quantization codecs."""

import contextlib
import logging
import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_DIR, jobs_run, union_find_components  # noqa: E402


def test_job_queue_worker_drains_pending(spark):
    from neurondb_spark.streaming.queue import JobQueueWorker, enqueue_jobs

    with tempfile.TemporaryDirectory() as td:
        qdir = os.path.join(td, "queue")
        odir = os.path.join(td, "out")
        enqueue_jobs(
            spark, qdir,
            [
                {"id": 1, "job_type": "embed", "payload": {"k": 1}},
                {"id": 2, "job_type": "reindex"},
                {"id": 3, "job_type": "embed", "status": "complete"},
            ],
        )
        w = JobQueueWorker(
            spark, qdir, odir,
            handlers={"embed": lambda r: {"echo_id": r["id"]},
                      "boom": lambda r: 1 / 0},
        )
        w.run_once()
        done = w.processed()
        rows = {r["id"]: r for r in done.collect()}
        assert set(rows) == {1, 2}  # only pending jobs drained
        assert rows[1]["status"] == "complete"
        # handler actually ran and its return value is recorded
        assert rows[1]["result"] == '{"echo_id": 1}'
        assert rows[2]["result"] == "no_handler"
        # idempotent re-drain: checkpoint prevents reprocessing
        w.run_once()
        assert w.processed().count() == 2


def test_job_queue_batch_replay_is_exactly_once(spark):
    """A foreachBatch replay (same batch_id after a failure) must rewrite
    its batch directory, not append duplicate done-rows; a raising handler
    records the error and still consumes the job."""
    from neurondb_spark.streaming.queue import JOB_SCHEMA, JobQueueWorker

    with tempfile.TemporaryDirectory() as td:
        odir = os.path.join(td, "out")
        w = JobQueueWorker(
            spark, os.path.join(td, "queue"), odir,
            handlers={"embed": lambda r: {"ok": True}, "boom": lambda r: 1 / 0},
        )
        batch = spark.createDataFrame(
            [(1, "embed", "{}", 0, "pending", None),
             (2, "boom", "{}", 0, "pending", None)],
            JOB_SCHEMA,
        )
        w._process_batch(batch, 7)
        w._process_batch(batch, 7)  # replay of the same micro-batch
        done = w.processed()
        assert done.count() == 2  # no duplicates
        rows = {r["id"]: r for r in done.collect()}
        assert rows[1]["result"] == '{"ok": true}'
        assert rows[2]["result"].startswith("error:")
        assert rows[2]["status"] == "complete"


def test_job_queue_batch_drain_matches_streaming(spark):
    """drain_batch (the fallback path) must yield the same done-rows as
    the streaming drain, and run_once must fall back to it when the
    streaming infrastructure fails."""
    from neurondb_spark.streaming.queue import JobQueueWorker, enqueue_jobs

    jobs = [
        {"id": i, "job_type": ("embed" if i % 2 == 0 else "reindex"),
         "payload": {"k": i}}
        for i in range(8)
    ]
    handlers = {"embed": lambda r: {"echo_id": r["id"]}}

    def done_rows(worker):
        return sorted(
            (r["id"], r["job_type"], r["status"], r["result"])
            for r in worker.processed().collect()
        )

    with tempfile.TemporaryDirectory() as td:
        enqueue_jobs(spark, os.path.join(td, "q1"), jobs)
        ws = JobQueueWorker(
            spark, os.path.join(td, "q1"), os.path.join(td, "o1"), handlers
        )
        ws.run_once()
        streamed = done_rows(ws)

        enqueue_jobs(spark, os.path.join(td, "q2"), jobs)
        wb = JobQueueWorker(
            spark, os.path.join(td, "q2"), os.path.join(td, "o2"), handlers
        )
        wb.drain_batch()
        assert done_rows(wb) == streamed

        # streaming hard-down -> run_once transparently batch-drains
        enqueue_jobs(spark, os.path.join(td, "q3"), jobs)
        wf = JobQueueWorker(
            spark, os.path.join(td, "q3"), os.path.join(td, "o3"), handlers
        )
        calls = {"n": 0}

        def _boom():
            calls["n"] += 1
            raise RuntimeError("python worker factory crashed")

        wf._run_streaming = _boom
        wf.run_once()
        assert calls["n"] == 2  # first try + one retry
        assert done_rows(wf) == streamed


def test_monitor_stream_windowed_agg(spark):
    from pyspark.sql import types as T

    from neurondb_spark.streaming.queue import monitor_stream

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "events")
        df = spark.createDataFrame(
            [("2026-01-01 00:10:00", "click", 1.0), ("2026-01-01 00:20:00", "click", 3.0),
             ("2026-01-01 01:10:00", "view", 5.0)],
            "ts string, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.parquet(src)
        agg = monitor_stream(spark, src, schema, window="1 hour")
        q = (
            agg.writeStream.format("memory").queryName("mon")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        rows = spark.sql("SELECT event_type, n, avg_value FROM mon").collect()
        d = {r["event_type"]: r for r in rows}
        assert d["click"]["n"] == 2 and d["click"]["avg_value"] == 2.0
        assert d["view"]["n"] == 1


def test_multimodal_decode_and_features(spark):
    from neurondb_spark.operators.multimodal import (
        cross_modal_search,
        decode_media,
        frame_sample,
        media_features,
    )

    rows = [(1, "image", b"\x01\x02\x03", (4, 4, "png", None)),
            (2, "image", b"\xff\xee", (2, 2, "png", None))]
    df = spark.createDataFrame(
        rows,
        "media_id long, kind string, content binary, "
        "meta struct<width:int,height:int,format:string,duration_ms:int>",
    )
    dec = decode_media(df)
    r = {x["media_id"]: x for x in dec.collect()}
    assert len(r[1]["pixels"]) == 16
    assert r[1]["pixels"] != r[2]["pixels"]  # content-dependent
    dec2 = decode_media(df)
    assert dec2.collect()[0]["pixels"] == dec.collect()[0]["pixels"]  # deterministic

    feats = media_features(dec)
    fr = feats.collect()[0]
    assert len(fr["media_embedding"]) == 3

    frames = frame_sample(df, n_frames=3)
    assert len(frames.collect()[0]["frames"]) == 3

    top = cross_modal_search(feats, "sunset photo", k=1)
    assert top.count() == 1

    with pytest.raises(NotImplementedError):
        decode_media(df, decode="strict")


@pytest.mark.prodconf
def test_graph_connected_components(spark):
    from neurondb_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "src int, dst int"
    )
    cc = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[10] == cc[11] == 10
    assert cc[12] == 12


@pytest.mark.prodconf
def test_graph_copartition_cache_released(spark):
    """r16 co-partitioning: pagerank/connected_components pin their edge
    frame with repartition+persist for the iterated join; the pin must
    not outlive the call (no leaked cache entries) and must not change
    values (the pinned form vs a plain-input rerun)."""
    from neurondb_spark.operators.graph import connected_components, pagerank

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)], "src int, dst int"
    )
    pr1 = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    cc1 = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    # no persisted frames survive the calls (the eager checkpoints the
    # operators return are RDD blocks, not catalog cache entries)
    jspark = spark._jsparkSession
    assert jspark.sharedState().cacheManager().isEmpty(), "leaked cache"
    # bit-identical across a rerun (the pin is partitioning-only; bsum
    # and min are order-insensitive)
    pr2 = {r["node"]: r["pr"] for r in pagerank(edges, iterations=3).collect()}
    cc2 = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert pr1 == pr2 and cc1 == cc2
    assert cc1[1] == cc1[2] == cc1[3] == cc1[4] == 1 and cc1[10] == 10


def _cc(spark, edges, **kw):
    from neurondb_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, **kw).collect()
    out = {r["node"]: r["comp"] for r in rows}
    assert len(out) == len(rows), "a node labelled twice"
    return out


def _long_path(seed=7, n=40):
    """An n-node path with shuffled ids and its minimum at one end, as
    (ids in path order, edges in random order and direction)."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1000), n)
    i_min = ids.index(min(ids))
    ids[0], ids[i_min] = ids[i_min], ids[0]
    edges = [
        (a, b) if rng.random() < 0.5 else (b, a) for a, b in zip(ids, ids[1:])
    ]
    rng.shuffle(edges)
    return ids, edges


@pytest.mark.prodconf
def test_cc_long_path_exact_and_truncated_labels_bounded(spark):
    """A 40-node path whose minimum needs 39 propagation steps to reach
    the far end. Under AQE the coalesced read puts the path in one
    partition, so the union-find pass is exact at any ``max_iter``. With
    AQE off the path spans the 8 partitions and the propagation loop
    finishes it: at ``max_iter=k`` every label is an id of the path and
    no larger than plain propagation's 1 + 2k steps leave (the loop
    starts from the kernel's labels, which are never higher)."""
    ids, edges = _long_path()
    exact = union_find_components(edges)
    assert _cc(spark, edges) == exact
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    for k in (0, 1, 5):
        reach = 1 + 2 * k
        old = {
            x: min(ids[max(0, i - reach):i + reach + 1]) for i, x in enumerate(ids)
        }
        got = _cc(spark, edges, max_iter=k)
        if aqe == "true":
            assert got == exact, k
        else:
            assert got.keys() == old.keys()
            assert all(got[x] in old and got[x] <= old[x] for x in got), k


@contextlib.contextmanager
def _spread_partitions(spark):
    """Keep every shuffle partition in both lanes (no AQE coalescing), so
    a component crossing partitions takes the propagation loop."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, was)


def _cc_warnings(caplog):
    return [r for r in caplog.records
            if r.name == "neurondb_spark" and r.levelno == logging.WARNING]


@pytest.mark.prodconf
def test_cc_unconverged_logs_one_warning(spark, caplog):
    _ids, edges = _long_path()
    with _spread_partitions(spark), caplog.at_level(logging.WARNING, logger="neurondb_spark"):
        got = _cc(spark, edges, max_iter=1)
        (w,) = _cc_warnings(caplog)
        assert got != union_find_components(edges)
        msg = w.getMessage()
        assert "max_iter=1 rounds" in msg and "labels changed in the last" in msg
        caplog.clear()
        assert _cc(spark, edges) == union_find_components(edges)
        assert not _cc_warnings(caplog)


@pytest.mark.prodconf
@pytest.mark.parametrize("seed", range(3))
def test_cc_random_graphs_equal_union_find(spark, seed):
    """Random multigraphs with several components and a long path: the
    AQE-off lane's 8 partitions split components and drive the
    propagation loop; under AQE the one-pass kernel answers."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1, 5000), 120)
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(70)]
    edges += list(zip(ids[:25], ids[1:25]))
    assert _cc(spark, edges) == union_find_components(edges)


@pytest.mark.prodconf
@pytest.mark.parametrize("id_t,ids", [
    ("int", [4, 2, 9, 7, 3]),
    ("bigint", [2**40 + 4, 2**40 + 2, 2**40 + 9, 2**40 + 7, 2**40 + 3]),
    ("string", ["d", "b", "i", "g", "c"]),
])
def test_cc_output_types_follow_input(spark, id_t, ids):
    from neurondb_spark.operators.graph import connected_components

    a, b, c, d, e = ids
    edges = [(a, b), (c, d), (d, e)]
    df = spark.createDataFrame(edges, f"src {id_t}, dst {id_t}")
    out = connected_components(df)
    assert out.dtypes == [("node", id_t), ("comp", id_t)]
    got = {r["node"]: r["comp"] for r in out.collect()}
    assert got == union_find_components(edges)


@pytest.mark.prodconf
def test_cc_null_endpoints_join_nothing(spark):
    """A null endpoint never joins two components, and null is never a
    node: the other endpoint of a null edge is a node of its own."""
    from neurondb_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [(1, None), (None, 2), (None, None), (3, 4), (5, None), (5, 6)],
        "src long, dst long",
    )
    rows = connected_components(df).collect()
    assert {r["node"]: r["comp"] for r in rows} == {1: 1, 2: 2, 3: 3, 4: 3, 5: 5, 6: 5}
    assert len(rows) == 6


@pytest.mark.prodconf
def test_cc_duplicate_reversed_and_self_loop_edges(spark):
    edges = [
        (5, 3), (3, 5), (5, 3), (3, 7), (7, 7),  # dup, reversed, self-loop
        (9, 9),                                   # node with only a self-loop
        (20, 8), (8, 20), (8, 8),
    ]
    got = _cc(spark, edges)
    assert got == union_find_components(edges)
    assert got == {3: 3, 5: 3, 7: 3, 9: 9, 8: 8, 20: 8}


# Spark jobs one connected_components call may run, collect included,
# counted through a job group; keyed by spark.sql.adaptive.enabled (the
# default lane runs AQE off, the prodconf lane on, where every shuffle is
# a job of its own). Measured. Under AQE the union-find pass answers:
# the edge shuffle, the checkpoint and the collect. With AQE off the
# path 1-5 spans the 8 partitions, so one propagation round follows the
# pass. Another action, or a per-step shuffle or broadcast of the edge
# frame, goes over budget.
CC_JOB_BUDGET = {"false": 4, "true": 3}
CC_EMPTY_JOB_BUDGET = {"false": 2, "true": 3}  # the pass counts 0 open rows


@pytest.mark.prodconf
def test_cc_empty_edges_stop_after_one_round(spark):
    from neurondb_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "src long, dst long")

    def run():
        out = connected_components(empty)
        return out.columns, out.collect()

    (cols, rows), jobs = jobs_run(spark, run)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    assert cols == ["node", "comp"] and rows == []
    assert jobs <= CC_EMPTY_JOB_BUDGET[aqe], jobs


@pytest.mark.prodconf
def test_cc_job_budget(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]
    got, jobs = jobs_run(spark, lambda: _cc(spark, edges))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    assert got == union_find_components(edges)
    assert jobs <= CC_JOB_BUDGET[aqe], jobs


@pytest.mark.prodconf
def test_graph_bfs_depths(spark):
    from neurondb_spark.operators.graph import bfs

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    out = {r["node"]: r["depth"] for r in bfs(edges, "a", max_depth=2).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_quantization_roundtrips(spark):
    from neurondb_spark.functions.quantization import (
        fp16_roundtrip_udf,
        int8_roundtrip_error,
        vector_to_int8,
        vector_to_ternary,
        vector_to_uint8,
    )

    df = spark.createDataFrame(
        [([0.5, -1.0, 0.25, 0.0],), ([2.0, 2.0, 2.0, 2.0],)], "v array<float>"
    )
    r = df.select(
        vector_to_int8("v").alias("i8"),
        vector_to_uint8("v").alias("u8"),
        vector_to_ternary("v").alias("t"),
        int8_roundtrip_error("v").alias("err"),
        fp16_roundtrip_udf()(F.col("v")).alias("f16"),
    ).collect()
    assert r[0]["i8"] == [63, -127, 31, 0]  # 0.5*127=63.5 → trunc 63
    assert max(r[0]["u8"]) == 255 and min(r[0]["u8"]) == 0
    assert r[0]["t"] == [1, -1, 0, 0]
    assert r[0]["err"] < 0.01
    assert r[1]["u8"] == [0, 0, 0, 0]  # constant vector rule
    assert r[0]["f16"] == [0.5, -1.0, 0.25, 0.0]  # exactly representable


@pytest.mark.prodconf
def test_graph_dfs_preorder(spark):
    from neurondb_spark.operators.graph import dfs

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("x", "y")], "src string, dst string"
    )
    order = dfs(edges, "a")
    assert order == ["a", "b", "d", "c"]  # preorder, ascending neighbors
    assert dfs(edges, "x") == ["x", "y"]


def test_vec_join_gemm_matches_fold_path(spark):
    """The BLAS threshold join must emit exactly vec_join's pairs AND
    bit-identical distances (exact-fold recompute on survivors)."""
    from neurondb_spark.operators.joins import vec_join, vec_join_gemm
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    want = (
        vec_join(
            emb, emb.withColumnRenamed("vec_id", "vec_id_r"),
            "embedding", "embedding", threshold=1.2, on=["label"],
        )
        .where(F.col("vec_id") < F.col("vec_id_r"))
        .select("vec_id", "vec_id_r", "distance")
        .collect()
    )
    got = (
        vec_join_gemm(
            emb,
            emb.select(F.col("vec_id").alias("vec_id_r"), "label",
                       F.col("embedding").alias("embedding_r")),
            "embedding", "embedding_r", "vec_id", "vec_id_r",
            threshold=1.2, on="label",
        )
        .where(F.col("vec_id") < F.col("vec_id_r"))
        .select("vec_id", "vec_id_r", "distance")
        .collect()
    )
    key = lambda r: (r[0], r[1])  # noqa: E731
    assert sorted(map(tuple, got), key=key) == sorted(map(tuple, want), key=key)
    assert len(got) > 0


def test_tpch_lite_plans_never_nested_loop(spark):
    """The six -lite TPC-H queries must plan hash joins only: any
    BroadcastNestedLoopJoin / CartesianProduct in these shapes means a
    join condition degraded to a non-equi cross — the r11 PLANS.md
    claim, pinned. (Q11-lite's 1-row threshold broadcast is exempt: a
    scalar crossJoin is the intended plan there.)"""
    from neurondb_spark.registry import core as c

    checks = {
        "q2_lite": c._q_tpch_q2_lite,
        "q9_lite": c._q_tpch_q9_lite,
        "q16_lite": c._q_tpch_q16_lite,
        "q20_lite": c._q_tpch_q20_lite,
        "q21_lite": c._q_tpch_q21_lite,
    }
    for name, fn in checks.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "HashJoin" in plan or "SortMergeJoin" in plan, name
    # Q20-lite's date window must reach the lineitem scan
    plan = c._q_tpch_q20_lite(spark, SF_DIR)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_pack_sequences_single_window_exchange(spark):
    """Packing's only shuffle is the per-shard window (plus the initial
    read layout): the explode and slice arithmetic must not introduce
    another Exchange."""
    from neurondb_spark.functions.text import token_count
    from neurondb_spark.operators.corpus import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    packed = pack_sequences(docs, token_count("text"), "lang", "doc_id", 256)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 1, f"expected one window shuffle, got:\n{plan}"
    assert "Window" in plan
