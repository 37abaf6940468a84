import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neurondb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("NEURONDB_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    # Test-lane session tuning (r16, VERDICT #6 "fit the verify
    # window"): the suite runs at sf0.001 where per-job LATENCY, not
    # data, dominates wall time. Three execution-strategy-only settings
    # (identical results; all value assertions are config-independent
    # and the driver's own sims/bench keep production confs):
    #   - local[8]: 32-way task scheduling over KB-sized partitions is
    #     pure overhead (merge-table file: 228s → 130s);
    #   - wholeStage codegen off: Janino compilation per stage costs
    #     more than interpreting KB-sized batches ever saves;
    #   - AQE off: per-shuffle re-planning round-trips (130s → 96s with
    #     both on the merge-table file).
    # Each is env-overridable for a production-conf test run.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    extra = {
        "spark.sql.codegen.wholeStage":
            os.environ.get("NEURONDB_TEST_CODEGEN", "false"),
        "spark.sql.adaptive.enabled":
            os.environ.get("NEURONDB_TEST_AQE", "false"),
    }
    s = get_spark("neurondb-spark-tests", shuffle_partitions=8,
                  extra_conf=extra)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute("SET threads = 8")
    con.execute("SET memory_limit = '12GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def compare_frames(spark_df, duck_rel, float_tol=0.0):
    """Mirror the driver's compare: row count, column names, and
    order-insensitive values (exact by default)."""
    import math

    pdf_s = spark_df.toPandas()
    pdf_d = duck_rel.fetchdf()
    cols_s = sorted(pdf_s.columns)
    cols_d = sorted(pdf_d.columns)
    assert cols_s == cols_d, f"column mismatch: spark={cols_s} duck={cols_d}"
    assert len(pdf_s) == len(pdf_d), f"row count: spark={len(pdf_s)} duck={len(pdf_d)}"
    a = pdf_s[cols_s].sort_values(cols_s, kind="mergesort").reset_index(drop=True)
    b = pdf_d[cols_d].sort_values(cols_d, kind="mergesort").reset_index(drop=True)
    for c in cols_s:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if float_tol > 0:
                    assert abs(x - y) <= float_tol, f"col {c} row {i}: {x!r} != {y!r}"
                else:
                    assert x == y, f"col {c} row {i}: {x!r} != {y!r} (diff={x - y!r})"
            else:
                assert str(x) == str(y), f"col {c} row {i}: {x!r} != {y!r}"


def union_find_components(edges):
    """Reference connected components: {node: min node id of its
    component} for an undirected edge list, via union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dbscan_reference(rows, eps, min_samples):
    """Brute-force DBSCAN over (id, vector) rows with the operator's
    labelling: a cluster is named by its min core id, a border point
    takes the min cluster of its core neighbours, noise is -1."""
    import math

    nbrs = {
        i: [j for j, w in rows if math.dist(v, w) <= eps] for i, v in rows
    }
    core = {i for i, ns in nbrs.items() if len(ns) >= min_samples}
    comp = union_find_components(
        [(i, j) for i in core for j in nbrs[i] if j in core]
    )
    return {
        i: comp[i] if i in core
        else min((comp[j] for j in ns if j in core), default=-1)
        for i, ns in nbrs.items()
    }


def jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def crash_at_commit(monkeypatch):
    """Make the shared index roll-forward raise while a journal is
    present: the state a crash right after the commit point leaves.
    Returns the real roll-forward, to restore before recovery."""
    from neurondb_spark import data_management as dm

    real = dm.apply_dml_commit

    def crash(p):
        if os.path.exists(os.path.join(p, "dml_commit.json")):
            raise RuntimeError("simulated crash at commit point")
        return real(p)

    monkeypatch.setattr(dm, "apply_dml_commit", crash)
    return real
