"""operators/corpus.py::neardup_resolve: survivor policies, transitive
chains, singletons and its job budget."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import jobs_run  # noqa: E402

# Spark jobs one neardup_resolve call runs, collect included, counted
# through a job group and keyed by spark.sql.adaptive.enabled (measured;
# under AQE every shuffle is a job of its own). The pairs' components
# come from one union-find pass under AQE; with AQE off a component that
# crosses the 8 partitions adds a propagation round.
NEARDUP_RESOLVE_JOB_BUDGET = {"false": 3, "true": 6}

# docs 1..8: chain 1~2, 2~3 (1~3 never paired), a pair 5~6 given twice in
# both directions, singletons 4, 7 and 8; rank ties inside {1, 2, 3}
DOCS = [(1, 5), (2, 9), (3, 9), (4, 1), (5, 3), (6, 3), (7, 2), (8, 0)]
PAIRS = [(1, 2), (3, 2), (5, 6), (6, 5)]


def _resolve(spark, **kw):
    from neurondb_spark.operators.corpus import neardup_resolve

    docs = spark.createDataFrame(DOCS, "doc_id long, n_chars long")
    pairs = spark.createDataFrame(PAIRS, "id_a long, id_b long")
    out = neardup_resolve(docs, "doc_id", pairs, **kw)
    assert out.columns == ["doc_id", "cluster_rep", "keep"]
    rows = out.collect()
    got = {r["doc_id"]: (r["cluster_rep"], r["keep"]) for r in rows}
    assert len(got) == len(rows) == len(DOCS)
    return got


@pytest.mark.prodconf
def test_min_id_survivor_collapses_chain_and_keeps_singletons(spark):
    (got, jobs) = jobs_run(spark, lambda: _resolve(spark))
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True),
        5: (5, True), 6: (5, False),
        7: (7, True), 8: (8, True),
    }
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    assert jobs <= NEARDUP_RESOLVE_JOB_BUDGET[aqe], jobs


@pytest.mark.prodconf
def test_rank_survivor_keeps_highest_rank_ties_to_lower_id(spark):
    got = _resolve(spark, rank_col="n_chars")
    # cluster_rep stays the min id; the survivor is the longest copy
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),
        4: (4, True),
        5: (5, True), 6: (5, False),
        7: (7, True), 8: (8, True),
    }
