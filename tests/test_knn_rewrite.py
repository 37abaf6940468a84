"""orderBy(dist).limit(k) → ANN-probe plan rewrite (SURVEY §4 custom rule;
planner.c:49-91 auto_route_query analog; plans/knn_rewrite.py)."""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def rw(spark):
    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.registry.common import qvec

    eng = NeuronSparkEngine(spark, tempfile.mkdtemp(prefix="rw_cat_"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    eng.create_index("rw_ivf", emb, "embedding", method="ivf", nlists=8, dim=64)
    q = qvec(spark, SF_DIR, 3)
    yield eng, emb, q
    eng.set_config("route.mode", "auto")


def _candidate(emb, q, k=5, dist_col="distance"):
    from neurondb_spark.functions.distance import distance

    d = distance("embedding", q, "l2", dim=64, checked=False)
    return emb.withColumn(dist_col, d).orderBy(dist_col).limit(k)


@pytest.mark.prodconf
def test_rewrite_fires_on_indexed_scan(rw, spark):
    eng, emb, q = rw
    cand = _candidate(emb, q)

    # auto mode on a small table: pattern matches but the cost model
    # routes exact — honest, and the plan must come back unchanged
    eng.set_config("route.mode", "auto")
    d = eng.explain_rewrite(cand)
    assert d["rewrite"] is False and "routed exact" in d["reason"]
    assert eng.optimize(cand) is cand

    # forced index mode: the rewrite fires and the new plan scans the
    # index artifact, not the base table
    eng.set_config("route.mode", "index")
    d = eng.explain_rewrite(cand)
    assert d["rewrite"] is True and d["index"] == "rw_ivf" and d["k"] == 5
    out = eng.optimize(cand)
    assert out is not cand
    assert out.columns == cand.columns
    assert all("rw_ivf" in f for f in out.inputFiles())

    # nprobe default (10) >= nlists (8) → full probe ≡ exact results
    exact_ids = {r["vec_id"] for r in cand.collect()}
    probe_ids = {r["vec_id"] for r in out.collect()}
    assert probe_ids == exact_ids
    top = out.collect()[0]
    assert top["vec_id"] == 3 and top["distance"] == 0.0


@pytest.mark.prodconf
def test_rewrite_direct_expression_shape(rw):
    """orderBy(distance_expr) with no projected alias also matches; the
    output keeps the base schema (no distance column)."""
    from neurondb_spark.functions.distance import distance

    eng, emb, q = rw
    eng.set_config("route.mode", "index")
    d = distance("embedding", q, "l2", dim=64, checked=False)
    cand = emb.orderBy(d.asc()).limit(4)
    dec = eng.explain_rewrite(cand)
    assert dec["rewrite"] is True and dec["alias_name"] is None
    out = eng.optimize(cand)
    assert out.columns == emb.columns
    assert out.collect()[0]["vec_id"] == 3
    # the fold compile (dim unknown) carries the query as one array
    # literal; the unrolled one above as one scalar per position
    fold = emb.orderBy(distance("embedding", q, "l2", checked=False).asc()).limit(4)
    dec = eng.explain_rewrite(fold)
    assert dec["rewrite"] is True and dec["query"] == [float(x) for x in q]


@pytest.mark.prodconf
def test_rewrite_fallbacks(rw, spark):
    """Every non-matching shape must come back unchanged."""
    eng, emb, q = rw
    eng.set_config("route.mode", "index")

    # a filter between sort and scan → the probe can't answer it
    filtered = _candidate(emb.where(F.col("label") < 5), q)
    assert eng.optimize(filtered) is filtered

    # descending order is not a kNN
    from neurondb_spark.functions.distance import distance

    d = distance("embedding", q, "l2", dim=64, checked=False)
    desc = emb.withColumn("distance", d).orderBy(F.col("distance").desc()).limit(5)
    assert eng.optimize(desc) is desc

    # per-row (non-literal) query vector → no literal to probe with
    perrow = (
        emb.withColumn("distance",
                       distance("embedding", "embedding", "l2",
                                dim=64, checked=False))
        .orderBy("distance").limit(5)
    )
    assert eng.optimize(perrow) is perrow

    # a different file set than the index snapshot → stale-index guard
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    other = docs.orderBy(F.col("doc_id").asc()).limit(5)
    assert eng.optimize(other) is other

    # sortWithinPartitions + limit is NOT top-k
    swp = (
        emb.withColumn("distance", d)
        .sortWithinPartitions("distance").limit(5)
    )
    assert eng.optimize(swp) is swp

    # wrong metric: cosine sort key can't be served by an l2 index
    dcos = distance("embedding", q, "cosine", dim=64, checked=False)
    cosq = emb.withColumn("distance", dcos).orderBy("distance").limit(5)
    assert eng.optimize(cosq) is cosq

    # route.mode=exact disables the rule entirely
    eng.set_config("route.mode", "exact")
    cand = _candidate(emb, q)
    assert eng.explain_rewrite(cand)["reason"] == "route.mode=exact"
    assert eng.optimize(cand) is cand


def test_learned_query_params(rw):
    """SURVEY §4 recall-aware param pick: cheapest logged params meeting
    the target win; below-target history escalates; engine.knn only
    consults the history when tuning.auto is opted into."""
    eng, _emb, _q = rw
    eng.log_query_feedback("rw_ivf", {"nprobe": 8}, recall=0.97, latency_s=2.0)
    eng.log_query_feedback("rw_ivf", {"nprobe": 4}, recall=0.93, latency_s=1.1)
    eng.log_query_feedback("rw_ivf", {"nprobe": 2}, recall=0.71, latency_s=0.6)
    got = eng.learned_params("rw_ivf", target_recall=0.9)
    assert got["met_target"] and got["params"] == {"nprobe": 4}
    # an unreachable target escalates from the best observation (capped)
    esc = eng.learned_params("rw_ivf", target_recall=0.999)
    assert not esc["met_target"] and esc["params"] == {"nprobe": 16}
    # no history → {} (callers fall back to static tune heuristics)
    assert eng.learned_params("never_logged") == {}
    # auto-apply is opt-in; caller-passed params always win
    assert eng._maybe_learned("rw_ivf", {"nprobe": 7}) == {"nprobe": 7}
    eng.set_config("tuning.auto", "true")
    try:
        assert eng._maybe_learned("rw_ivf", {}) == {"nprobe": 4}
        assert eng._maybe_learned("rw_ivf", {"nprobe": 7}) == {"nprobe": 7}
    finally:
        eng.set_config("tuning.auto", "false")


def test_feedback_log_retention(rw):
    """The tuning history self-compacts: an unbounded feedback journal is
    the same bug class as the r10 CDC journal."""
    import os

    from neurondb_spark.index import tuning as TU

    eng, _emb, _q = rw
    keep = TU.FEEDBACK_KEEP_LAST
    for i in range(2 * keep + 5):
        eng.log_query_feedback("ret_idx", {"nprobe": i}, 0.9, 1.0)
    path = os.path.join(
        eng.catalog.artifact_dir("tuning", "ret_idx"), "feedback.jsonl"
    )
    import json

    with open(path) as f:
        rows = [json.loads(ln) for ln in f if ln.strip()]
    assert len(rows) <= 2 * keep
    # the NEWEST observations survive compaction (oldest are dropped)
    assert min(r["params"]["nprobe"] for r in rows) >= keep
    assert max(r["params"]["nprobe"] for r in rows) == 2 * keep + 4


def test_create_index_snapshot_guard(spark):
    """ADVICE r12 (medium): an index built over a FILTERED frame records
    source_files=[] so the rewrite's snapshot-equality guard can never
    match a full-table scan against a row-subset index; row-preserving
    builds (bare scan, select projection) still record the file set."""
    import tempfile as _tf

    from neurondb_spark.engine import NeuronSparkEngine, _snapshot_source_files

    eng = NeuronSparkEngine(spark, _tf.mkdtemp(prefix="rw_guard_"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert _snapshot_source_files(emb) == sorted(emb.inputFiles())
    assert _snapshot_source_files(emb.select("vec_id", "embedding")) \
        == sorted(emb.inputFiles())
    assert _snapshot_source_files(emb.where(F.col("label") < 5)) == []
    assert _snapshot_source_files(
        emb.join(emb.select("vec_id"), "vec_id")) == []

    eng.create_index("g_filt", emb.where(F.col("label") < 5), "embedding",
                     method="ivf", nlists=4, dim=64)
    assert eng.catalog.get("indexes", "g_filt")["source_files"] == []
    # a full-table orderBy/limit over those files must NOT probe g_filt
    from neurondb_spark.registry.common import qvec

    eng.set_config("route.mode", "index")
    cand = _candidate(emb, qvec(spark, SF_DIR, 3))
    d = eng.explain_rewrite(cand)
    assert d["rewrite"] is False and "no registered index matches" in d["reason"]
    # ADVICE r13 (medium): a VALUE-COMPUTING Project is not pass-through —
    # an index built over withColumn(vec_col, <transform>) holds different
    # vector values than the raw scan, so it must record source_files=[]
    # and the raw-scan top-k must not probe it
    normed = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x * F.lit(2.0))
    )
    assert _snapshot_source_files(normed) == []
    eng.create_index("g_norm", normed, "embedding", method="ivf",
                     nlists=4, dim=64)
    assert eng.catalog.get("indexes", "g_norm")["source_files"] == []
    d = eng.explain_rewrite(cand)
    assert d["rewrite"] is False and "no registered index matches" in d["reason"]
    # explicit engine.knn(index=...) still probes it under the documented
    # build-time snapshot semantics
    sub = emb.where(F.col("label") < 5)
    got = eng.knn(sub, "embedding", qvec(spark, SF_DIR, 3), k=3,
                  index="g_filt", nprobe=4)
    assert got.count() == 3


def test_learned_params_end_to_end_loop(spark):
    """SURVEY §4 end-to-end: measure recall exact-vs-probe per nprobe
    (the ann_recall_report playbook), log each observation, then assert
    the learner converges to the cheapest params meeting the target and
    that engine.knn under tuning.auto actually probes with them; an
    unreachable target escalates from the best observation."""
    import tempfile as _tf
    import pytest as _pytest

    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.index.ivf import IVFIndex
    from neurondb_spark.registry.common import qvec

    eng = NeuronSparkEngine(spark, _tf.mkdtemp(prefix="rw_e2e_"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    eng.create_index("e2e_ivf", emb, "embedding", method="ivf",
                     nlists=8, dim=64)
    q = qvec(spark, SF_DIR, 7)
    k = 10
    exact = {r["vec_id"]
             for r in eng.knn(emb, "embedding", q, k=k, metric="l2",
                              dim=64, tiebreak=["vec_id"]).collect()}
    idx = IVFIndex.load(eng.catalog.get("indexes", "e2e_ivf")["path"])
    recalls = {}
    for nprobe in (1, 2, 4, 8):
        got = {r["vec_id"]
               for r in idx.search(spark, q, k=k, nprobe=nprobe,
                                   tiebreak=["vec_id"]).collect()}
        recalls[nprobe] = len(got & exact) / k
        # cost proxy = the routing model's own unit (distance evals ~
        # nprobe) so "cheapest" is deterministic under test contention
        eng.log_query_feedback("e2e_ivf", {"nprobe": nprobe},
                               recall=recalls[nprobe],
                               latency_s=float(nprobe))
    assert recalls[8] == 1.0  # nprobe = nlists ≡ full probe ≡ exact
    # convergence: cheapest observation meeting the target wins
    target = 0.95 if min(recalls.values()) < 0.95 else 1.0
    got = eng.learned_params("e2e_ivf", target_recall=target)
    want_nprobe = min(p for p, r in recalls.items() if r >= target)
    assert got["met_target"] and got["params"] == {"nprobe": want_nprobe}
    # the engine consumes the learned params only under tuning.auto
    assert eng._maybe_learned("e2e_ivf", {}) == {}
    eng.set_config("tuning.auto", "true")
    eng.set_config("tuning.target_recall", str(target))
    try:
        assert eng._maybe_learned("e2e_ivf", {}) == {"nprobe": want_nprobe}
        eng.set_config("route.mode", "index")
        res = {r["vec_id"]
               for r in eng.knn(emb, "embedding", q, k=k,
                                tiebreak=["vec_id"], index="e2e_ivf")
               .collect()}
        probe = {r["vec_id"]
                 for r in idx.search(spark, q, k=k, nprobe=want_nprobe,
                                     tiebreak=["vec_id"]).collect()}
        assert res == probe
    finally:
        eng.set_config("tuning.auto", "false")
        eng.set_config("route.mode", "auto")
    # escalation: a journal whose history misses the target doubles the
    # best observation's knobs (skip only if every probe was perfect)
    below = [(p, r) for p, r in recalls.items() if r < 1.0]
    if not below:
        _pytest.skip("every nprobe hit recall 1.0 on this data")
    best_p, best_r = max(below, key=lambda pr: pr[1])
    for p, r in below:
        eng.log_query_feedback("e2e_esc", {"nprobe": p}, recall=r,
                               latency_s=float(p))
    esc = eng.learned_params("e2e_esc", target_recall=1.0)
    assert not esc["met_target"]
    assert esc["params"] == {"nprobe": best_p * 2}
    assert esc["observed_recall"] == best_r


@pytest.mark.prodconf
def test_rewrite_fires_on_hnsw_index(spark):
    """HNSW arm of the plan rewrite: fires on an HNSW-indexed scan,
    reconstructs table rows via the id join-back, and with shard-sized
    ef (ef >= nodes per shard => every shard beam is exhaustive) the
    result equals exact top-k."""
    import tempfile as _tf

    from neurondb_spark.engine import NeuronSparkEngine
    from neurondb_spark.registry.common import qvec

    eng = NeuronSparkEngine(spark, _tf.mkdtemp(prefix="rw_hnsw_"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    eng.create_index("rw_hnsw", emb, "embedding", method="hnsw",
                     id_col="vec_id", dim=64, num_shards=8)
    q = qvec(spark, SF_DIR, 3)
    eng.set_config("route.mode", "index")
    try:
        cand = _candidate(emb, q, k=5)
        d = eng.explain_rewrite(cand)
        assert d["rewrite"] is True and d["index"] == "rw_hnsw"
        assert d["method"] == "hnsw" and d["k"] == 5
        out = eng.optimize(cand)
        assert out is not cand
        assert out.columns == cand.columns
        exact = [(r["vec_id"], r["distance"]) for r in cand.collect()]
        probe = [(r["vec_id"], r["distance"]) for r in out.collect()]
        # same rows in the same order; the probe's distance is computed
        # by the shard beam (numpy accumulation) and may differ from the
        # Spark fold by float ulps
        assert [p[0] for p in probe] == [e[0] for e in exact]
        for (_, dp), (_, de) in zip(probe, exact):
            assert abs(dp - de) <= 1e-9 * max(1.0, abs(de))
        # direct-expression shape: output keeps the base schema
        from neurondb_spark.functions.distance import distance

        dexpr = distance("embedding", q, "l2", dim=64,
                         checked=False)
        cand2 = emb.orderBy(dexpr.asc()).limit(4)
        out2 = eng.optimize(cand2)
        assert out2.columns == emb.columns
        assert [r["vec_id"] for r in out2.collect()] == \
            [r["vec_id"] for r in cand2.select("vec_id").collect()]
    finally:
        eng.set_config("route.mode", "auto")


def test_escalation_filters_foreign_tunables(spark):
    """Escalation only doubles knobs the index's own AM reads: a journal
    row carrying a foreign tunable (caller error) gets it dropped, while
    non-tunable measurement keys still pass through untouched."""
    import tempfile as _tf

    from neurondb_spark.engine import NeuronSparkEngine

    eng = NeuronSparkEngine(spark, _tf.mkdtemp(prefix="rw_tun_"))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    eng.create_index("tun_ivf", emb, "embedding", method="ivf",
                     nlists=8, dim=64)
    eng.log_query_feedback(
        "tun_ivf", {"nprobe": 4, "ef_search": 32, "note": "mixed"},
        recall=0.5, latency_s=1.0,
    )
    esc = eng.learned_params("tun_ivf", target_recall=0.99)
    assert not esc["met_target"]
    assert esc["params"] == {"nprobe": 8, "note": "mixed"}
    # unregistered journal (no catalog method) keeps the old behavior
    eng.log_query_feedback(
        "unreg", {"nprobe": 4, "ef_search": 32}, recall=0.5, latency_s=1.0,
    )
    esc2 = eng.learned_params("unreg", target_recall=0.99)
    assert esc2["params"] == {"nprobe": 8, "ef_search": 64}


@pytest.mark.prodconf
def test_snapshot_guard_and_rewrite_survive_caching(spark):
    """df.inputFiles() reports NOTHING for a cached frame (the optimized
    plan serves from InMemoryRelation) — the full pytest suite caught
    the guard recording [] whenever an earlier test had cached the same
    frame. Files must come from the ANALYZED leaf: snapshot recording
    and the rewrite match both work on cached frames."""
    import tempfile as _tf

    from neurondb_spark.engine import NeuronSparkEngine, _snapshot_source_files
    from neurondb_spark.registry.common import qvec

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sel = emb.select("vec_id", "embedding", "label")
    sel.cache()
    try:
        sel.count()
        assert sel.inputFiles() == []  # the trap this test pins
        # (emb.inputFiles() is poisoned too — the cache manager
        # substitutes the cached projection into the unprojected plan —
        # so the expectation must be the literal path)
        want = [f"file://{SF_DIR}/embeddings.parquet"]
        assert _snapshot_source_files(sel) == want
        eng = NeuronSparkEngine(spark, _tf.mkdtemp(prefix="rw_cache_"))
        eng.create_index("c_ivf", sel, "embedding", method="ivf",
                         nlists=8, dim=64)
        assert eng.catalog.get("indexes", "c_ivf")["source_files"] == want
        eng.set_config("route.mode", "index")
        cand = _candidate(sel, qvec(spark, SF_DIR, 3))
        d = eng.explain_rewrite(cand)
        assert d["rewrite"] is True and d["index"] == "c_ivf"
    finally:
        sel.unpersist()
