"""§2.2 masked/affine ops, percentile/quantile, sparse metrics, f1_at_k —
closed-form expectation tests (reference semantics:
vector_advanced.c:78-493, vector_ops.c:32-154, vector_sparse.c:45-230,
ml_recall_metrics.c:192-254)."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).head()["v"]


def test_masked_affine_ops(spark):
    from neurondb_spark.functions.vector import (
        vector_filter,
        vector_scale,
        vector_set,
        vector_translate,
        vector_where,
    )

    v = F.array(*[F.lit(x) for x in (1.0, -2.0, 0.0, 4.0)])
    m = F.array(*[F.lit(b) for b in (True, False, False, True)])
    assert _one(spark, vector_scale(v, F.array(*[F.lit(x) for x in (2.0, 3.0, 4.0, 5.0)]))) == [2.0, -6.0, 0.0, 20.0]
    assert _one(spark, vector_translate(v, v)) == [2.0, -4.0, 0.0, 8.0]
    assert _one(spark, vector_filter(v, m)) == [1.0, 4.0]
    # where: cond != 0 ? value : else
    assert _one(spark, vector_where(v, F.array(*[F.lit(x) for x in (9.0, 9.0, 9.0, 9.0)]), 0.5)) == [9.0, 9.0, 0.5, 9.0]
    assert _one(spark, vector_set(v, 3, 7.5)) == [1.0, -2.0, 7.5, 4.0]


def test_masked_ops_error_contracts(spark):
    from neurondb_spark.functions.vector import vector_filter, vector_set

    v = F.array(F.lit(1.0), F.lit(2.0))
    all_false = F.array(F.lit(False), F.lit(False))
    with pytest.raises(Exception, match="at least one true"):
        _one(spark, vector_filter(v, all_false))
    with pytest.raises(Exception, match="out of bounds"):
        _one(spark, vector_set(v, 5, 0.0))


def test_percentile_quantile_nearest_rank_floor(spark):
    from neurondb_spark.functions.vector import vector_percentile, vector_quantile

    # sorted: [1,2,3,4,5]; idx = int(p*(5-1)) → p=0.5 → idx 2 → 3.0 (no interp)
    v = F.array(*[F.lit(x) for x in (5.0, 1.0, 4.0, 2.0, 3.0)])
    assert _one(spark, vector_percentile(v, 0.5)) == 3.0
    assert _one(spark, vector_percentile(v, 0.0)) == 1.0
    assert _one(spark, vector_percentile(v, 1.0)) == 5.0
    # p=0.3 → int(1.2) = 1 → sorted[1] = 2.0 (floor, not round)
    assert _one(spark, vector_percentile(v, 0.3)) == 2.0
    assert _one(spark, vector_quantile(v, [0.0, 0.5, 1.0])) == [1.0, 3.0, 5.0]
    with pytest.raises(ValueError):
        vector_percentile(v, 1.5)


def test_sparse_metrics_closed_form(spark):
    from neurondb_spark.functions.sparse import (
        sparse_cosine_similarity,
        sparse_inner_product,
        sparse_l2_distance,
        sparse_l2_norm,
        sparse_l2_normalize,
        sparse_nnz,
        sparse_to_dense,
        sparsify,
    )

    # a = [3,0,4,0], b = [0,0,4,1] with threshold 0.5
    a = sparsify(F.array(*[F.lit(x) for x in (3.0, 0.0, 4.0, 0.0)]), 0.5)
    b = sparsify(F.array(*[F.lit(x) for x in (0.0, 0.0, 4.0, 1.0)]), 0.5)
    assert _one(spark, sparse_nnz(a)) == 2
    assert _one(spark, sparse_l2_norm(a)) == 5.0  # sqrt(9+16)
    assert _one(spark, sparse_inner_product(a, b)) == 16.0  # only idx 3 shared
    # l2: diffs over union {1,3,4}: 3², 0², 1² → sqrt(10)
    assert _one(spark, sparse_l2_distance(a, b)) == pytest.approx(math.sqrt(10.0))
    ip, na, nb = 16.0, 5.0, math.sqrt(17.0)
    assert _one(spark, sparse_cosine_similarity(a, b)) == pytest.approx(ip / (na * nb))
    normed = _one(spark, sparse_to_dense(sparse_l2_normalize(a)))
    assert normed == pytest.approx([0.6, 0.0, 0.8, 0.0])
    assert _one(spark, sparse_to_dense(a)) == [3.0, 0.0, 4.0, 0.0]


def test_sparse_zero_vector_raises(spark):
    from neurondb_spark.functions.sparse import sparse_cosine_similarity, sparsify

    z = sparsify(F.array(F.lit(0.0), F.lit(0.0)), 0.5)
    a = sparsify(F.array(F.lit(1.0), F.lit(0.0)), 0.5)
    with pytest.raises(Exception, match="zero sparse vector"):
        _one(spark, sparse_cosine_similarity(z, a))


def test_vecmap_aliases_and_l1(spark):
    from neurondb_spark.functions.sparse import (
        sparse_l1_distance,
        sparsify,
        vecmap_add_scalar,
        vecmap_inner_product,
        vecmap_l2_distance,
        vecmap_mul_scalar,
        vecmap_norm,
    )

    a = sparsify(F.array(*[F.lit(x) for x in (3.0, 0.0, 4.0, 0.0)]), 0.5)
    b = sparsify(F.array(*[F.lit(x) for x in (0.0, 0.0, 4.0, 1.0)]), 0.5)
    assert _one(spark, vecmap_norm(a)) == 5.0
    assert _one(spark, vecmap_inner_product(a, b)) == 16.0
    assert _one(spark, vecmap_l2_distance(a, b)) == pytest.approx(math.sqrt(10.0))
    # l1 over union {1,3,4}: |3-0| + |4-4| + |0-1| = 4
    assert _one(spark, sparse_l1_distance(a, b)) == 4.0
    # scalar ops act on STORED components only (map semantics)
    shifted = _one(spark, vecmap_add_scalar(a, 1.0))
    assert shifted["values"] == [4.0, 5.0] and shifted["indices"] == [1, 3]
    scaled = _one(spark, vecmap_mul_scalar(a, 2.0))
    assert scaled["values"] == [6.0, 8.0]


def test_js_divergence_histogram_identical_dists_zero(spark):
    from neurondb_spark.ml.stats import js_divergence_histogram

    df = spark.range(1000).select((F.col("id") % 100).cast("double").alias("x"))
    out = js_divergence_histogram(df, df, "x", 0.0, 100.0, 10).head()[0]
    assert out == 0.0
    # disjoint distributions → ln(2) (maximum JS divergence)
    lo = spark.range(500).select(F.lit(5.0).alias("x"))
    hi = spark.range(500).select(F.lit(95.0).alias("x"))
    out = js_divergence_histogram(lo, hi, "x", 0.0, 100.0, 10).head()[0]
    assert out == pytest.approx(math.log(2.0))


def test_f1_at_k_reference_semantics(spark):
    from neurondb_spark.operators.rerank import f1_at_k

    retrieved = F.array(*[F.lit(i) for i in (1, 2, 3, 4)])
    relevant = F.array(*[F.lit(i) for i in (2, 4, 9)])
    # k=4: found=2, P=0.5, R=2/3, F1 = 2*(0.5*2/3)/(0.5+2/3) = 4/7
    assert _one(spark, f1_at_k(retrieved, relevant, 4)) == pytest.approx(4.0 / 7.0)
    # disjoint → P+R < 1e-10 → 0.0 (reference guard)
    none = F.array(F.lit(7), F.lit(8))
    assert _one(spark, f1_at_k(none, relevant, 2)) == 0.0


def test_knn_large_dim_compiles_via_fold(spark):
    """dim > UNROLL_DIM_MAX must route to the constant-depth fold: the
    unrolled 384-term chain used to overflow the JVM analyzer stack
    (StackOverflowError in withColumn) — the default rag_query dim."""
    import random

    from neurondb_spark.operators.knn import knn

    rng = random.Random(0)
    rows = [(i, [rng.random() for _ in range(384)]) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    out = knn(df, "v", rows[0][1], k=3, metric="l2", dim=384,
              tiebreak=["id"]).collect()
    assert out[0]["id"] == 0 and out[0]["distance"] == 0.0


# --- distance kernels rendered as one SQL expression: bit-identity with a
# plain-Python left-associative reference, in both compile forms

_KDIM = 4
_KQ = [-0.0, 5e-324, 1e308, 0.1]
_KROWS = [
    [1.0, -2.0, 0.5, 3.0],
    [0.0, 0.25, -1e308, -0.1],
    [2.5, -0.0, 1e-300, 0.1],
    [-0.0, 5e-324, 1e308, 0.1],
]
_KW = [1.0, 0.5, 1.0, 0.5]


def _acc(terms, fold):
    """Left-assoc sum: the fold starts from 0.0, the unrolled chain from
    its first term (they differ only in the sign of an all -0.0 sum)."""
    s = 0.0 if fold else terms[0]
    for t in terms if fold else terms[1:]:
        s = s + t
    return s


def _ref(metric, a, b, fold):
    """Python twin of each kernel's SQL, term by term."""
    z = list(zip(a, b))
    acc = lambda f: _acc([f(x, y) for x, y in z], fold)  # noqa: E731
    ind = lambda c: 1.0 if c else 0.0  # noqa: E731
    n = float(len(a))
    sq = acc(lambda x, y: (x - y) * (x - y))
    if metric in ("l2", "euclidean"):
        return math.sqrt(sq)
    if metric == "squared_l2":
        return sq
    if metric in ("ip", "inner_product"):
        return -acc(lambda x, y: x * y)
    if metric == "cosine":
        na = math.sqrt(_acc([x * x for x in a], fold))
        nb = math.sqrt(_acc([y * y for y in b], fold))
        return 1.0 - acc(lambda x, y: x * y) / (na * nb)
    if metric in ("l1", "cityblock", "manhattan"):
        return acc(lambda x, y: abs(x - y))
    if metric == "hamming":
        return acc(lambda x, y: ind(x != y))
    inter = acc(lambda x, y: ind(x != 0.0 and y != 0.0))
    diff = acc(lambda x, y: ind((x != 0.0) != (y != 0.0)))
    if metric == "jaccard":
        union = acc(lambda x, y: ind(x != 0.0 or y != 0.0))
        return 0.0 if union == 0.0 else 1.0 - inter / union
    if metric == "dice":
        cnt = _acc([ind(x != 0.0) for x in a], fold) + _acc([ind(y != 0.0) for y in b], fold)
        return 0.0 if cnt == 0.0 else 1.0 - (2.0 * inter) / cnt
    if metric == "braycurtis":
        return acc(lambda x, y: abs(x - y)) / acc(lambda x, y: abs(x + y))
    if metric == "canberra":
        return acc(lambda x, y: 0.0 if abs(x) + abs(y) == 0.0
                   else abs(x - y) / (abs(x) + abs(y)))
    if metric == "sokal_michener":
        return diff / n
    if metric == "rogers_tanimoto":
        return (2.0 * diff) / ((n - diff) + 2.0 * diff)
    if metric == "russell_rao":
        return (n - inter) / n
    if metric == "chebyshev":
        return max(abs(x - y) for x, y in z)
    if metric == "minkowski":  # p=1: pow(x, 1.0) is exact on both sides
        return acc(lambda x, y: abs(x - y))
    if metric == "mahalanobis":
        return math.sqrt(_acc([((x - y) * (x - y)) * w for (x, y), w in zip(z, _KW)], fold))
    raise AssertionError(metric)


@pytest.mark.prodconf
def test_distance_kernels_bit_identical_to_python_reference(spark):
    """Every metric in _METRICS plus chebyshev, minkowski and mahalanobis,
    unrolled (dim set) and fold (dim None), name-vector and name-name
    operands, against a query of -0.0, 5e-324, 1e308 and 0.1: each result
    equals the Python left-assoc reference bit for bit (repr, so -0.0 and
    nan count)."""
    from neurondb_spark.functions.distance import (
        _METRICS,
        distance,
        mahalanobis_distance,
    )

    metrics = sorted(_METRICS) + ["chebyshev", "minkowski", "mahalanobis"]
    df = spark.createDataFrame(
        [(i, r, _KROWS[(i + 1) % len(_KROWS)]) for i, r in enumerate(_KROWS)],
        "id int, a array<double>, b array<double>",
    )
    for dim in (_KDIM, None):
        for b_op in ("b", _KQ):
            cols = [F.col("id"), F.col("b")]
            for m in metrics:
                if m == "mahalanobis":
                    c = mahalanobis_distance("a", b_op, _KW, dim=dim, checked=False)
                else:
                    c = distance("a", b_op, m, dim=dim, checked=False, p=1.0)
                cols.append(c.alias(m))
            for row in df.select("a", *cols).collect():
                b_vec = row["b"] if b_op == "b" else _KQ
                for m in metrics:
                    want = _ref(m, row["a"], b_vec, fold=dim is None)
                    assert repr(row[m]) == repr(want), (m, dim, b_op == "b", row["id"])


@pytest.mark.prodconf
def test_vec_route_breaks_ties_at_lowest_index(spark):
    from neurondb_spark.operators.knn import vec_route

    cents = [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0], [5.0, 5.0]]
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.5, 0.5]), (2, [1.0, 1.0]), (3, [4.0, 4.0])],
        "id int, v array<double>",
    )
    for dim in (2, None):
        got = {r["id"]: r["route"] for r in vec_route(df, "v", cents, dim=dim).collect()}
        # [0,0] is nearest to centroids 0 and 2; [0.5,0.5] is equidistant
        # from 0, 1 and 2: the lowest index wins both ties
        assert got == {0: 0, 1: 0, 2: 1, 3: 3}, dim


def _double_literals(jexpr, cap):
    """Double-typed Literal leaves of an analyzed expression (stops
    counting past ``cap``)."""
    leaves = jexpr.collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "Literal" and leaf.dataType().typeName() == "double":
            n += 1
            if n > cap:
                break
    return n


@pytest.mark.prodconf
def test_unrolled_cosine_search_literal_budget(spark):
    """The analyzed distance of a dim-64 unrolled cosine search holds at
    most 3·dim double literals: the query appears once per position as a
    scalar, not as a 64-literal array copied into every element_at site
    (about 20,000 literals when built from Column calls)."""
    import random

    from neurondb_spark.operators.knn import knn

    dim = 64
    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, [rng.random() for _ in range(dim)]) for i in range(4)],
        "id int, v array<float>",
    )
    q = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    out = knn(df, "v", q, k=2, metric="cosine", dim=dim)
    node = out._jdf.queryExecution().analyzed()
    while node.getClass().getSimpleName() != "Project":
        node = node.children().apply(0)
    dist = [ne for ne in (node.projectList().apply(i) for i in range(node.projectList().size()))
            if ne.name() == "distance"][0]
    assert _double_literals(dist.child(), 3 * dim) <= 3 * dim
    assert [r["id"] for r in out.collect()] == [
        r["id"] for r in knn(df, "v", q, k=2, metric="cosine").collect()
    ]


@pytest.mark.prodconf
def test_unrolled_kernels_compile_under_whole_stage_codegen(spark):
    """Rendered dim-64 unrolled l2 and cosine kernels compile under
    whole-stage codegen. With codegen fallback off, a janino failure (a
    generated method past 64 KB) raises instead of quietly running the
    stage interpreted."""
    import random

    from neurondb_spark.operators.knn import knn

    dim = 64
    rng = random.Random(5)
    df = spark.createDataFrame(
        [(i, [rng.random() for _ in range(dim)]) for i in range(8)],
        "id int, v array<float>",
    )
    q = [rng.gauss(0.0, 1.0) for _ in range(dim)]
    confs = {"spark.sql.codegen.wholeStage": "true", "spark.sql.codegen.fallback": "false"}
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for metric in ("l2", "cosine"):
            assert len(knn(df, "v", q, k=3, metric=metric, dim=dim, tiebreak=["id"]).collect()) == 3
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
