"""The benchmark workloads: setup, untimed warm-up, a fixed op schedule
decided by the seed and the run length, and correctness checks.

Each workload is one client in a closed loop: it issues the next public
call only after the previous one returned and its result was consumed.
Every public call goes through ``Recorder.call`` (see trace.py), which
times it and, in a traced run, reads its Spark counters.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, data
from perfbench.trace import Recorder

K = 10

# Sizes per workload. "full" is what the benchmark command runs; "tiny"
# is the smoke-test size. *_cycle_s are the planned seconds of one
# schedule cycle (a churn round, a curation pass): a run makes
# max(1, round(seconds / planned)) cycles, a count fixed before it starts
# and never read off a clock.
SIZES = {
    "full": {
        "churn_n": 500, "churn_insert": 25, "churn_delete": 25, "churn_probe": 2,
        "churn_batch": 32, "churn_cycle_s": 14.0, "churn_nlists": 16,
        "docs_n": 400, "docs_warm_n": 60, "docs_cycle_s": 16.0,
    },
    "tiny": {
        "churn_n": 300, "churn_insert": 10, "churn_delete": 10, "churn_probe": 1,
        "churn_batch": 4, "churn_cycle_s": 100.0, "churn_nlists": 4,
        "docs_n": 150, "docs_warm_n": 60, "docs_cycle_s": 100.0,
    },
}

CURATION_OPS = (
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.ngram_jaccard_pairs",
    "operators.dedup.simhash_neardup_pairs",
    "operators.corpus.neardup_resolve",
    "operators.graph.connected_components",
    "ml.dbscan.dbscan",
    "operators.bpe.bpe_train",
)
NGRAM_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 2
DBSCAN_EPS = 1.0
DBSCAN_MIN_SAMPLES = 2
BPE_MERGES = 5


@dataclass
class Outcome:
    """What a workload run measured. ``calls`` are the timed public calls
    (seconds each); ``cycles`` the wall time of each schedule cycle."""
    setup_s: float = 0.0
    calls: list = field(default_factory=list)
    cycles: list = field(default_factory=list)
    quality: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    state: dict = field(default_factory=dict)   # per-layer end state
    input_digest: str = ""


class Run:
    """Shared plumbing of one workload run: session, recorder, scratch
    directory, and the attempted/failed bookkeeping."""

    def __init__(self, rec: Recorder, workdir: str, size: str):
        self.rec = rec
        self.workdir = workdir
        self.sz = SIZES[size]
        self.out = Outcome()
        self.spark = None

    def start_session(self) -> None:
        from neurondb_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        self.spark = self.rec.timed(
            "session.get_spark", "setup",
            lambda: get_spark("perfbench", extra_conf=conf),
        )
        self.rec.attach(self.spark)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def cycles(self, nominal_s: float, seconds: int) -> int:
        return max(1, int(round(seconds / nominal_s)))

    def timed_call(self, name, fn, materialize=None, pooled=True, phase="measure"):
        """A measured public call: counted as attempted; an exception
        counts as failed and yields None. ``pooled`` calls feed the
        call-latency mean."""
        self.out.attempted += 1
        try:
            res, done = self.rec.call(name, phase, fn, materialize)
        except Exception as exc:  # a failed op is a result, not a crash
            self.fail(name, f"{type(exc).__name__}: {exc}"[:300])
            return None, None
        if pooled:
            self.out.calls.append(self.rec.spans[-1].ms / 1000.0)
        return res, done

    def warm_up(self, families: dict) -> None:
        """Untimed warm-up of every op type: each family's (call,
        materialize) pairs run in order, the families concurrently. Only
        the JIT and codegen state it leaves behind matters, so running
        independent families side by side costs less time and changes no
        measured number."""
        def run_family(calls):
            for fn, materialize in calls:
                out = fn()
                if materialize is not None:
                    materialize(out)

        with ThreadPoolExecutor(max_workers=len(families)) as pool:
            for fut in [pool.submit(run_family, c) for c in families.values()]:
                fut.result()

    def fail(self, name: str, why: str) -> None:
        self.out.failed += 1
        self.out.failures.append(f"{name}: {why}")

    def check(self, name: str, ok: bool, why: str) -> None:
        """A correctness check on a measured call's output; the call was
        already counted as attempted."""
        if not ok:
            self.fail(name, why)

    # --------------------------------------------------------- frames

    def vectors_frame(self, name: str, ids: np.ndarray, vecs: np.ndarray):
        """Write vectors as parquet (one file per core, like a real
        multi-file table) and read them back."""
        d = self.path(name)
        os.makedirs(d, exist_ok=True)
        parts = max(1, self.spark.sparkContext.defaultParallelism)
        for i, sl in enumerate(np.array_split(np.arange(len(ids)), parts)):
            pq.write_table(pa.table({
                "vec_id": pa.array(ids[sl], pa.int64()),
                "embedding": pa.array(list(vecs[sl]), pa.list_(pa.float32())),
            }), os.path.join(d, f"part-{i:03d}.parquet"))
        return self.spark.read.schema("vec_id long, embedding array<float>").parquet(d)

    def rows_frame(self, ids, vecs, op: str | None = None):
        rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
        if op is None:
            return self.spark.createDataFrame(
                rows, "vec_id long, embedding array<float>")
        return self.spark.createDataFrame(
            [r + (op,) for r in rows], "vec_id long, embedding array<float>, op string")

    def ids_frame(self, ids, op: str | None = None):
        if op is None:
            return self.spark.createDataFrame([(int(i),) for i in ids], "vec_id long")
        return self.spark.createDataFrame(
            [(int(i), None, op) for i in ids],
            "vec_id long, embedding array<float>, op string")


def _collect(df):
    return df.collect()


def _ids(rows) -> list[int]:
    return [int(r["vec_id"]) for r in rows]


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _tombstones(path: str) -> int:
    d = os.path.join(path, "tombstones")
    n = 0
    if os.path.isdir(d):
        for root, _dirs, names in os.walk(d):
            for f in names:
                if f.endswith(".parquet"):
                    n += pq.read_metadata(os.path.join(root, f)).num_rows
    return n


# ------------------------------------------------------------- index_churn


def index_churn(run: Run, seed: int, seconds: int) -> None:
    """Writes beside reads on one set of IVF, HNSW and LSH indexes. Each
    round: an insert batch (IVF through the CDC apply path, HNSW and LSH
    directly), a delete batch, a probe for a just-inserted vector through
    every index route, an exact kNN over the base table, and a batch
    search. Round 0 is the untimed warm-up. After the last round the
    index end state is recorded and, in a traced run only, each index is
    vacuumed: vacuum is maintenance, reported per layer, and costs more
    than a run's budget allows to repeat."""
    from neurondb_spark.index.hnsw import HNSWIndex
    from neurondb_spark.index.ivf import IVFIndex
    from neurondb_spark.index.lsh import LSHIndex
    from neurondb_spark.operators.knn import knn
    from neurondb_spark.streaming.index_ingest import apply_cdc_batch

    sz = run.sz
    n_cycles = run.cycles(sz["churn_cycle_s"], seconds)
    t0 = time.time()
    run.start_session()
    spark, rec = run.spark, run.rec
    inp = data.churn_inputs(seed, sz["churn_n"], n_cycles + 1, sz["churn_insert"],
                            sz["churn_delete"], sz["churn_probe"], sz["churn_batch"])
    run.out.input_digest = inp.digest()
    base_ids = np.arange(len(inp.corpus), dtype=np.int64)
    base = run.vectors_frame("corpus", base_ids, inp.corpus)
    ivf, _ = rec.call("index.ivf.build", "setup", lambda: IVFIndex.build(
        base, "embedding", run.path("ivf"), nlists=sz["churn_nlists"]))
    hnsw, _ = rec.call("index.hnsw.build", "setup", lambda: HNSWIndex.build(
        base, "embedding", "vec_id", run.path("hnsw")))
    lsh, _ = rec.call("index.lsh.build", "setup", lambda: LSHIndex.build(
        base, "embedding", run.path("lsh"), dim=data.DIM))
    run.out.setup_s = time.time() - t0

    vecs = {int(i): v for i, v in zip(base_ids, inp.corpus)}
    live: set[int] = set(vecs)
    deleted: set[int] = set()

    for r, rnd in enumerate(inp.rounds):
        # the state the round's writes lead to, which its reads are checked against
        dels = [int(i) for i in rnd.delete_ids]
        vecs.update((int(i), v) for i, v in zip(rnd.insert_ids, rnd.insert_vecs))
        live.update(int(i) for i in rnd.insert_ids)
        live.difference_update(dels)
        deleted.update(dels)
        live_ids = np.array(sorted(live), dtype=np.int64)
        live_vecs = np.stack([vecs[i] for i in live_ids])

        ins = run.rows_frame(rnd.insert_ids, rnd.insert_vecs)
        ins_cdc = run.rows_frame(rnd.insert_ids, rnd.insert_vecs, "i")
        del_frame, del_cdc = run.ids_frame(dels), run.ids_frame(dels, "d")
        qs = [(j, v.tolist()) for j, v in enumerate(rnd.batch)]

        def check_probe(name, metric, exact, probe_id):
            def check(rows):
                got = _ids(rows)
                want = checks.topk(live_ids, live_vecs, vecs[probe_id], K, metric)
                dead = sorted(set(got) & deleted)
                run.check(name, not dead, f"returned deleted ids {dead}")
                run.check(name, got[:1] == [probe_id],
                          f"inserted {probe_id} is not its own top-1: {got[:3]}")
                if exact:
                    run.check(name, got == want, f"ids {got} != brute force {want}")
                else:
                    run.out.quality.append(checks.overlap(got, want))
            return check

        def check_knn(q):
            def check(rows):
                want = checks.topk(base_ids, inp.corpus, q, K)
                run.check("operators.knn.knn", _ids(rows) == want,
                          f"ids {_ids(rows)} != brute force {want}")
            return check

        def check_batch(name, batch=rnd.batch):
            def check(rows):
                per_q: dict[int, list] = {}
                for row in rows:
                    per_q.setdefault(int(row["qid"]), []).append(
                        (float(row["distance"]), int(row["vec_id"])))
                for j, v in enumerate(batch):
                    got = [i for _d, i in sorted(per_q.get(j, []))]
                    dead = sorted(set(got) & deleted)
                    run.check(name, not dead and len(got) == K,
                              f"query {j}: {len(got)} rows, deleted ids {dead}")
                    run.out.quality.append(
                        checks.overlap(got, checks.topk(live_ids, live_vecs, v, K)))
            return check

        # (index family, op, public call, materialize, pooled, check), in
        # schedule order: inserts, deletes, each just-inserted probe through
        # every index route, exact kNN over the base table, batch searches
        # (not single-query latencies, so kept out of the latency pool)
        steps = [
            ("ivf", "streaming.index_ingest.apply_cdc_batch",
             lambda r=r: apply_cdc_batch(ivf, ins_cdc, 2 * r), None, True, None),
            ("hnsw", "index.hnsw.insert", lambda: hnsw.insert(ins), None, True, None),
            ("lsh", "index.lsh.insert",
             lambda: lsh.insert(ins, n_new=len(rnd.insert_ids)), None, True, None),
            ("ivf", "streaming.index_ingest.apply_cdc_batch",
             lambda r=r: apply_cdc_batch(ivf, del_cdc, 2 * r + 1), None, True, None),
            ("hnsw", "index.hnsw.delete", lambda: hnsw.delete(spark, del_frame),
             None, True, None),
            ("lsh", "index.lsh.delete", lambda: lsh.delete(spark, del_frame),
             None, True, None),
        ]
        for pid, kq in zip(rnd.probe_ids, rnd.knn_queries):
            p = vecs[pid].tolist()
            steps += [
                ("ivf", "index.ivf.search",
                 lambda p=p: ivf.search(spark, p, k=K, tiebreak=["vec_id"]), _collect,
                 True, check_probe("index.ivf.search", "l2", False, pid)),
                ("ivf", "index.ivf.search_full",
                 lambda p=p: ivf.search(spark, p, k=K, nprobe=ivf.meta["nlists"],
                                        tiebreak=["vec_id"]), _collect, True,
                 check_probe("index.ivf.search_full", "l2", True, pid)),
                ("hnsw", "index.hnsw.search", lambda p=p: hnsw.search(spark, p, k=K),
                 _collect, True, check_probe("index.hnsw.search", "l2", False, pid)),
                ("lsh", "index.lsh.search",
                 lambda p=p: lsh.search(spark, p, k=K, tiebreak=["vec_id"]), _collect,
                 True, check_probe("index.lsh.search", "cosine", False, pid)),
                ("knn", "operators.knn.knn",
                 lambda q=kq.tolist(): knn(base, "embedding", q, k=K, tiebreak=["vec_id"]),
                 _collect, True, check_knn(kq)),
            ]
        steps += [
            ("ivf", "index.ivf.search_batch",
             lambda: ivf.search_batch(spark, qs, k=K, tiebreak=["vec_id"]), _collect,
             False, check_batch("index.ivf.search_batch")),
            ("hnsw", "index.hnsw.search_batch",
             lambda: hnsw.search_batch(spark, qs, k=K), _collect, False,
             check_batch("index.hnsw.search_batch")),
        ]
        if r == 0:
            families: dict[str, list] = {}
            for fam, _name, fn, mat, _pooled, _check in steps:
                families.setdefault(fam, []).append((fn, mat))
            run.warm_up(families)
            continue
        c0 = time.time()
        for _fam, name, fn, mat, pooled, check in steps:
            _, rows = run.timed_call(name, fn, mat, pooled)
            if rows is not None and check is not None:
                check(rows)
        run.out.cycles.append(time.time() - c0)

    run.out.state.update(_index_state({"ivf": ivf.path, "hnsw": hnsw.path,
                                       "lsh": lsh.path}))
    if rec.trace:
        for kind, idx in (("ivf", ivf), ("hnsw", hnsw), ("lsh", lsh)):
            run.timed_call(f"index.{kind}.vacuum", lambda idx=idx: idx.vacuum(spark),
                           pooled=False, phase="maintenance")


def _index_state(paths: dict) -> dict:
    out = {}
    for kind, p in paths.items():
        files, size = _dir_stats(p)
        out[f"index.{kind}.files"] = float(files)
        out[f"index.{kind}.bytes"] = float(size)
        out[f"index.{kind}.tombstones"] = float(_tombstones(p))
    return out


# ---------------------------------------------------------- curation_batch


def curation_batch(run: Run, seed: int, seconds: int) -> None:
    """Passes of the curation pipeline over a seeded corpus with injected
    near-duplicates: three pair detectors, resolution, connected
    components, DBSCAN over the embeddings and BPE training."""
    sz = run.sz
    n_passes = run.cycles(sz["docs_cycle_s"], seconds)
    t0 = time.time()
    run.start_session()
    inp = data.curation_inputs(seed, sz["docs_n"])
    warm = data.curation_inputs(seed + 1_000_003, sz["docs_warm_n"])
    run.out.input_digest = inp.digest()
    docs = _docs_frame(run, "docs", inp)
    warm_docs = _docs_frame(run, "warm_docs", warm)
    run.out.setup_s = time.time() - t0

    shingles = [checks.shingle_set(t) for t in inp.texts]
    must_pair = {(a, b) for a, b in inp.dup_pairs
                 if checks.jaccard(shingles[a], shingles[b]) >= NGRAM_THRESHOLD}
    doc_ids = set(int(i) for i in inp.doc_ids)

    # warm-up: every operator on the small corpus, all side by side (the
    # pair graph is the injected one, so no operator waits for another)
    warm_pairs = _pairs_frame(run.spark, warm.dup_pairs)
    run.warm_up({name: [(fn, mat)] for _k, name, fn, mat in
                 _curation_steps(run.spark, warm_docs, lambda: warm_pairs)})
    for _ in range(n_passes):
        c0 = time.time()
        res = _curation_pass(run, docs)
        run.out.cycles.append(time.time() - c0)
        _check_curation(run, res, inp, must_pair, doc_ids)


def _docs_frame(run: Run, name: str, inp: data.CurationInputs):
    d = run.path(name)
    os.makedirs(d, exist_ok=True)
    parts = max(1, run.spark.sparkContext.defaultParallelism)
    for i, sl in enumerate(np.array_split(np.arange(len(inp.doc_ids)), parts)):
        pq.write_table(pa.table({
            "doc_id": pa.array(inp.doc_ids[sl], pa.int64()),
            "text": pa.array([inp.texts[j] for j in sl], pa.string()),
            "label": pa.array(inp.labels[sl], pa.int32()),
            "embedding": pa.array(list(inp.embeddings[sl]), pa.list_(pa.float32())),
        }), os.path.join(d, f"part-{i:03d}.parquet"))
    return run.spark.read.schema(
        "doc_id long, text string, label int, embedding array<float>").parquet(d)


def _curation_steps(spark, docs, pairs) -> list:
    """The seven operators of one pass, in order, as (result key, op,
    public call, materialize). ``pairs`` supplies the pair graph that
    neardup_resolve and connected_components consume: a callable so a
    pass can hand them the minhash pairs it just computed."""
    from neurondb_spark.ml.dbscan import dbscan
    from neurondb_spark.operators.bpe import bpe_train, bpe_word_table
    from neurondb_spark.operators.corpus import neardup_resolve
    from neurondb_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_neardup_pairs,
    )
    from neurondb_spark.operators.graph import connected_components

    return [
        ("minhash", CURATION_OPS[0],
         lambda: minhash_lsh_pairs(docs, "text", "doc_id"), _collect),
        ("ngram", CURATION_OPS[1], lambda: ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=NGRAM_THRESHOLD), _collect),
        ("simhash", CURATION_OPS[2], lambda: simhash_neardup_pairs(
            docs, "text", "doc_id", max_hamming=SIMHASH_MAX_HAMMING, bits=32), _collect),
        ("resolve", CURATION_OPS[3],
         lambda: neardup_resolve(docs, "doc_id", pairs()), _collect),
        ("cc", CURATION_OPS[4],
         lambda: connected_components(pairs(), "id_a", "id_b"), _collect),
        ("dbscan", CURATION_OPS[5], lambda: dbscan(
            docs.select("doc_id", "label", "embedding"), "embedding", "doc_id",
            eps=DBSCAN_EPS, min_samples=DBSCAN_MIN_SAMPLES, on=["label"]), _collect),
        # bpe_train materializes inside the call and returns (merges, words)
        ("bpe", CURATION_OPS[6],
         lambda: bpe_train(bpe_word_table(docs, "text"), BPE_MERGES)[0], None),
    ]


def _pairs_frame(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs],
                                 "id_a long, id_b long")


def _curation_pass(run: Run, docs) -> dict:
    """One timed pass of the seven operators, in order. Returns each op's
    output (None where the op failed)."""
    res: dict = {}

    def minhash_pairs():
        rows = res.get("minhash") or []
        return _pairs_frame(run.spark, [(r["id_a"], r["id_b"]) for r in rows])

    for key, name, fn, materialize in _curation_steps(run.spark, docs, minhash_pairs):
        out, done = run.timed_call(name, fn, materialize)
        res[key] = out if materialize is None else done
    return res


def _check_curation(run: Run, res: dict, inp: data.CurationInputs,
                    must_pair: set, doc_ids: set) -> None:
    mh = res["minhash"]
    if mh is not None:
        got = {(int(r["id_a"]), int(r["id_b"])) for r in mh}
        run.check(CURATION_OPS[0], len(got) == len(mh) and all(a < b for a, b in got),
                  "pairs not distinct with id_a < id_b")
        inj = set(inp.dup_pairs)
        run.out.quality.append(len(inj & got) / len(inj))
        comp = checks.components(got)
        if res["cc"] is not None:
            cc = {int(r["node"]): int(r["comp"]) for r in res["cc"]}
            run.check(CURATION_OPS[4], cc == comp,
                      f"{sum(cc.get(k) != v for k, v in comp.items())} nodes differ "
                      "from union-find")
        if res["resolve"] is not None:
            rows = res["resolve"]
            rep = {int(r["doc_id"]): int(r["cluster_rep"]) for r in rows}
            keep: dict[int, int] = {}
            for r in rows:
                keep[int(r["cluster_rep"])] = keep.get(int(r["cluster_rep"]), 0) + bool(r["keep"])
            want_rep = {i: comp.get(i, i) for i in doc_ids}
            run.check(CURATION_OPS[3], rep == want_rep and len(rows) == len(doc_ids),
                      "cluster_rep differs from union-find components")
            bad = sorted(c for c, n in keep.items() if n != 1)
            run.check(CURATION_OPS[3], not bad,
                      f"{len(bad)} components without exactly one survivor")
    if res["ngram"] is not None:
        got = {(int(r["id_a"]), int(r["id_b"])) for r in res["ngram"]}
        miss = sorted(must_pair - got)
        run.check(CURATION_OPS[1], not miss,
                  f"{len(miss)} injected pairs above {NGRAM_THRESHOLD} missing: {miss[:3]}")
    if res["simhash"] is not None:
        run.check(CURATION_OPS[2],
                  all(int(r["hamming"]) <= SIMHASH_MAX_HAMMING for r in res["simhash"]),
                  "pair beyond max_hamming")
    if res["dbscan"] is not None:
        ids = [int(r["id"]) for r in res["dbscan"]]
        run.check(CURATION_OPS[5], len(ids) == len(doc_ids) and set(ids) == doc_ids,
                  "dbscan does not label every doc exactly once")
    if res["bpe"] is not None:
        counts = [c for _l, _r, c in res["bpe"]]
        run.check(CURATION_OPS[6],
                  len(counts) == BPE_MERGES and all(c > 0 for c in counts)
                  and counts == sorted(counts, reverse=True),
                  f"merge counts {counts}")


WORKLOADS = {
    "index_churn": index_churn,
    "curation_batch": curation_batch,
}


