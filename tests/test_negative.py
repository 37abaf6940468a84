"""Error-contract tests mirroring the reference's negative +
crash-prevention suites (SURVEY §5: tests/sql/negative/,
crash_prevention/001_null_parameters.sql…005_array_bounds.sql,
sql/03_distance_metrics.sql:43-51,178-186, sql/01_types_basic.sql:22-31)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _collect_err(df):
    with pytest.raises(Exception) as ei:
        df.collect()
    return str(ei.value)


@pytest.mark.prodconf
def test_dim_mismatch_raises(spark):
    from neurondb_spark.functions.distance import distance

    df = spark.createDataFrame([([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<double>, b array<double>")
    for metric in ("l2", "cosine", "ip", "l1", "hamming"):
        msg = _collect_err(df.select(distance("a", "b", metric)))
        assert "dimension mismatch" in msg, metric
        # a Python-vector operand, fold and unrolled forms
        for dim in (None, 3):
            msg = _collect_err(df.select(distance("a", [1.0, 2.0, 3.0], metric, dim=dim)))
            assert "dimension mismatch" in msg, (metric, dim)


@pytest.mark.prodconf
def test_zero_vector_cosine_raises(spark):
    from neurondb_spark.functions.distance import cosine_distance

    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>")
    assert "zero vector" in _collect_err(df.select(cosine_distance("a", "b")))
    for dim in (None, 2):
        # zero row against a vector, and a row against the zero vector
        assert "zero vector" in _collect_err(df.select(cosine_distance("a", [1.0, 2.0], dim=dim)))
        assert "zero vector" in _collect_err(df.select(cosine_distance("b", [0.0, -0.0], dim=dim)))


def test_normalize_zero_vector_raises(spark):
    from neurondb_spark.functions.vector import vector_normalize

    df = spark.createDataFrame([([0.0, 0.0],)], "v array<double>")
    assert "zero vector" in _collect_err(df.select(vector_normalize("v")))


def test_minkowski_p_zero_rejected():
    from neurondb_spark.functions.distance import minkowski_distance

    with pytest.raises(ValueError, match="p must be > 0"):
        minkowski_distance("a", "b", 0.0)


def test_null_vectors_propagate_null(spark):
    """NULL inputs → NULL output (PG function-call semantics), no crash."""
    from neurondb_spark.functions.distance import l2_distance

    df = spark.createDataFrame(
        [(None, [1.0, 2.0]), ([1.0, 2.0], None), (None, None)],
        "a array<double>, b array<double>",
    )
    rows = df.select(l2_distance("a", "b", checked=False).alias("d")).collect()
    assert all(r["d"] is None for r in rows)


def test_empty_vector_distance_is_seed(spark):
    """Empty arrays fold to the 0.0 seed, not a crash (array-bounds
    safety, crash_prevention/005)."""
    from neurondb_spark.functions.distance import l2_distance

    df = spark.createDataFrame([([], [])], "a array<double>, b array<double>")
    assert df.select(l2_distance("a", "b").alias("d")).head()["d"] == 0.0


def test_element_access_out_of_bounds_null(spark):
    from neurondb_spark.functions.vector import vector_get

    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    # out-of-bounds subscript → NULL (PG semantics), never a crash
    assert df.select(vector_get("v", 5).alias("x")).head()["x"] is None
    assert df.select(vector_get("v", 2).alias("x")).head()["x"] == 2.0


def test_chunk_invalid_params():
    from neurondb_spark.functions.text import chunk_text

    with pytest.raises(ValueError):
        chunk_text("t", 0)
    with pytest.raises(ValueError):
        chunk_text("t", 10, 10)


def test_unknown_algorithm_and_model(spark):
    import tempfile

    from neurondb_spark.catalog import Catalog
    from neurondb_spark.ml.api import MLEngine

    eng = MLEngine(Catalog(tempfile.mkdtemp()))
    df = spark.createDataFrame([(1.0, [1.0])], "y double, v array<double>")
    with pytest.raises(ValueError, match="unknown algorithm"):
        eng.train(df, "nope", ["v"], target="y")
    with pytest.raises(ValueError, match="needs target"):
        eng.train(df, "logistic_regression", ["v"])


def test_pq_dim_not_divisible():
    from neurondb_spark.index.pq import PQCodebook

    with pytest.raises(ValueError, match="divisible"):
        PQCodebook.train(None, "v", dim=10, m=3)


def test_minhash_bands_validation(spark):
    from neurondb_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "id int, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(df, "text", "id", num_hashes=8, bands=3)
