"""``orderBy(distance).limit(k)`` → ANN-probe plan rewrite (SURVEY §4).

The reference's planner hook rewrites ``SELECT … ORDER BY v <-> $q LIMIT k``
into an index scan when a vector index exists on the table
(NeuronDB/src/planner/planner.c:49-91 `auto_route_query`; the per-AM cost
estimates at hnsw_am.c:735-783 / ivf_am.c decide index-vs-seqscan). Spark's
analog of "planner hook" is a Catalyst rule injected through
``spark.sql.extensions`` — a JVM jar, which a pure-Python package cannot
ship. This module is the same rule applied at the DataFrame boundary
instead: ``engine.optimize(df)`` pattern-matches the analyzed logical plan
and swaps in the index probe when — and only when — the rewrite is exactly
answerable by a registered index. On a JVM deployment the match logic below
transfers 1:1 into a ``ResolveRules`` extension; the routing cost model is
already shared with ``engine.knn()``.

Match conditions (all must hold, else the DataFrame is returned unchanged):

1. Plan shape is ``GlobalLimit(k) → LocalLimit → Sort(single ASC key,
   global) → [Project(base outputs + one alias)] → leaf scan``, where
   pass-through wrappers (SubqueryAlias / Projects of bare attribute
   references — pure column selection, e.g. a select() under the
   withColumn) are allowed between the Project and the scan. Any
   filter, join, or computing/renaming projection between the sort and
   the scan makes the probe unable to reproduce the query → no match
   (an index answers unpredicated top-k only, exactly like the
   reference's index path).
2. The sort key is bit-identical to this package's distance expression for
   the index's (vec_col, metric) over a LITERAL query vector — verified by
   re-rendering the candidate distance with the extracted vector and
   comparing canonical expression SQL; the extraction itself is only a
   candidate.
3. The scan's file set equals the file set the index was built over
   (recorded at ``create_index``). Files added/removed since the build
   mean the index is a stale snapshot → no match, exact path keeps
   correct semantics.
4. The engine's cost model routes to the index (``route.mode`` honored:
   ``auto`` prices probe vs scan, ``index`` forces, ``exact`` disables).

The rewrite changes exact top-k into the index's probe semantics — the
same contract as the reference, where creating a vector index makes ORDER
BY/LIMIT queries approximate (hnsw_am.c amsearch). IVF/LSH probes return
table rows directly; an HNSW probe returns (id, distance), so its arm
reconstructs the rows with a k-row broadcast join back onto the verified
scan before projecting the same output columns.

At 100 TB: the match itself is driver-only plan inspection (no job); the
payoff is the probe's partition-pruned scan (nprobe/nlists of the data)
replacing a full-table TakeOrdered pass.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from neurondb_spark.functions.distance import distance

# a double constant as Expression.sql() prints it (0.5D, -1.0E-300D)
_DOUBLE = r"-?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?D"
# fold compile: the query is one array literal — array(0.5D, 1.5D, ...),
# no nested parens possible inside a literal array
_ARRAY_LIT_RE = re.compile(r"array\(([^()]*)\)")
_DOUBLE_TOK_RE = re.compile(f"^{_DOUBLE}$")
# unrolled compile: one `element_at(v, i) - q_i` (l2) or `* q_i` (ip,
# cosine) term per position i, the query element a scalar literal
_ELEM_TERM_RE = re.compile(
    rf"element_at\((?:[^()]|\([^()]*\))*, (\d+)\) [-*] ({_DOUBLE})"
)


def _cls(jnode) -> str:
    return jnode.getClass().getSimpleName()


def _leaf_input_files(jleaf) -> list[str] | None:
    """File set of an ANALYZED-plan leaf relation, or None if the leaf
    is not file-backed. ``df.inputFiles()`` walks the OPTIMIZED plan,
    where a cached frame has been substituted by InMemoryRelation and
    reports NO files — which silently disabled both snapshot recording
    and the rewrite match for cached frames. The analyzed plan is never
    cache-substituted, so this accessor sees the real scan."""
    try:
        return sorted(str(f) for f in jleaf.relation().location().inputFiles())
    except Exception:
        return None


def _jiter(jseq):
    for i in range(jseq.size()):
        yield jseq.apply(i)


def _extract_query_vector(expr_sql: str) -> list[float] | None:
    """The literal query vector of the sort expression, in either compile
    form: every array literal (fold) must be one and the same vector, or
    else every position's element literal (unrolled) must agree across
    its terms and the positions must run 1..n. A candidate only: the
    caller re-renders the distance with it and compares SQL exactly."""
    seen: list[tuple[float, ...]] = []
    for m in _ARRAY_LIT_RE.finditer(expr_sql):
        toks = [t.strip() for t in m.group(1).split(",")]
        if not toks or not all(_DOUBLE_TOK_RE.match(t) for t in toks):
            return None  # an array of non-literals → not a literal query
        seen.append(tuple(float(t[:-1]) for t in toks))
    if seen:
        return list(seen[0]) if all(v == seen[0] for v in seen) else None
    by_pos: dict[int, str] = {}
    for m in _ELEM_TERM_RE.finditer(expr_sql):
        if by_pos.setdefault(int(m.group(1)), m.group(2)) != m.group(2):
            return None
    if not by_pos or sorted(by_pos) != list(range(1, len(by_pos) + 1)):
        return None
    return [float(by_pos[i][:-1]) for i in range(1, len(by_pos) + 1)]


def _expected_dist_sqls(
    spark: SparkSession, vec_col: str, metric: str, qvec: list[float],
    dim: int | None,
) -> set[str]:
    """Canonical SQL strings of every compile form this package's distance
    builder can produce for (vec_col, metric, qvec): dim-unrolled vs fold,
    checked vs unchecked. Compiled against a dummy frame so attribute
    rendering matches the candidate plan's resolved rendering."""
    dummy = spark.createDataFrame(
        [], StructType([StructField(vec_col, ArrayType(DoubleType()))])
    )
    out: set[str] = set()
    for d in {dim, len(qvec), None}:
        for checked in (False, True):
            try:
                col = distance(vec_col, qvec, metric, dim=d, checked=checked)
                proj = dummy.select(col.alias("_d"))
                jplan = proj._jdf.queryExecution().analyzed()
                out.add(jplan.projectList().apply(0).child().sql())
            except Exception:
                continue
    return out


def _descend_passthrough(node):
    """Walk below ``node`` through row-preserving pass-through wrappers —
    SubqueryAlias, and Projects whose every entry is a bare
    AttributeReference (pure column selection/reordering; an Alias would
    rename or compute, which the expression-SQL compare downstream could
    not see through) — to the underlying node. select().withColumn()
    chains stack Projects in the ANALYZED plan (the optimizer collapses
    them later, but this match runs pre-optimizer)."""
    while True:
        c = _cls(node)
        if c == "SubqueryAlias":
            node = node.children().apply(0)
        elif c == "Project" and all(
            _cls(ne) == "AttributeReference"
            for ne in _jiter(node.projectList())
        ):
            node = node.children().apply(0)
        else:
            return node


def _match_plan(df: DataFrame) -> dict | None:
    """Structural match of GlobalLimit→LocalLimit→Sort→[Project]→leaf
    (pass-through projections/aliases allowed between Project and leaf).
    Returns {k, expr_sql, alias_name, base_cols, scan_files} or None."""
    node = df._jdf.queryExecution().analyzed()
    if _cls(node) != "GlobalLimit":
        return None
    k_lit = node.limitExpr()
    if _cls(k_lit) != "Literal":
        return None
    k = int(str(k_lit.value()))
    node = node.children().apply(0)
    if _cls(node) != "LocalLimit":
        return None
    node = node.children().apply(0)
    if _cls(node) != "Sort":
        return None
    # sortWithinPartitions().limit() has global=false — a per-partition
    # order, NOT top-k; rewriting it would change semantics
    if not getattr(node, "global")():
        return None
    orders = node.order()
    if orders.size() != 1:
        return None
    so = orders.apply(0)
    if so.direction().sql() != "ASC":
        return None
    sort_expr = so.child()
    child = node.children().apply(0)

    if _cls(sort_expr) == "AttributeReference":
        # withColumn shape: the sort key is an alias defined by a Project
        # of exactly [base outputs..., the alias] over a (pass-through-
        # wrapped) leaf scan
        if _cls(child) != "Project":
            return None
        base = child.children().apply(0)
        base_ids = {a.exprId().id() for a in _jiter(base.output())}
        base_cols = [a.name() for a in _jiter(base.output())]
        alias_name, expr_sql, n_alias = None, None, 0
        for ne in _jiter(child.projectList()):
            c = _cls(ne)
            if c == "AttributeReference":
                if ne.exprId().id() not in base_ids:
                    return None
            elif c == "Alias":
                n_alias += 1
                if ne.exprId().id() == sort_expr.exprId().id():
                    alias_name, expr_sql = ne.name(), ne.child().sql()
            else:
                return None
        if n_alias != 1 or expr_sql is None:
            return None
        leaf = _descend_passthrough(base)
        if leaf.children().size() != 0:
            return None
        return {"k": k, "expr_sql": expr_sql, "alias_name": alias_name,
                "base_cols": base_cols,
                "scan_files": _leaf_input_files(leaf)}

    # direct-expression shape: orderBy(dist_expr) with no projected alias
    base_cols = [a.name() for a in _jiter(child.output())]
    leaf = _descend_passthrough(child)
    if leaf.children().size() != 0:
        return None
    return {
        "k": k,
        "expr_sql": sort_expr.sql(),
        "alias_name": None,
        "base_cols": base_cols,
        "scan_files": _leaf_input_files(leaf),
    }


def explain_knn_rewrite(engine, df: DataFrame) -> dict:
    """Decision record: ``{"rewrite": bool, "reason": str, ...}`` —
    the `explain_route` twin for the plan-level rule."""
    if engine.get_config("route.mode", "auto") == "exact":
        return {"rewrite": False, "reason": "route.mode=exact"}
    m = _match_plan(df)
    if m is None:
        return {"rewrite": False,
                "reason": "plan is not orderBy(single ASC key).limit(k) "
                          "over an unpredicated leaf scan"}
    qvec = _extract_query_vector(m["expr_sql"])
    if qvec is None:
        return {"rewrite": False,
                "reason": "sort key has no (single, literal) query vector"}
    scan_files = set(m["scan_files"] or ())
    if not scan_files:
        return {"rewrite": False,
                "reason": "scan has no stable file set (in-memory source)"}
    spark = df.sparkSession
    for meta in engine.catalog.list("indexes"):
        if meta.get("method") not in ("ivf", "lsh", "hnsw"):
            continue
        src = meta.get("source_files")
        if not src or set(src) != scan_files:
            continue
        if meta.get("dim") is not None and len(qvec) != meta["dim"]:
            continue
        expected = _expected_dist_sqls(
            spark, meta["vec_col"], meta["metric"], qvec, meta.get("dim")
        )
        if m["expr_sql"] not in expected:
            continue
        route = engine._route(meta["name"], None, k=m["k"])
        if route["route"] != meta["method"]:
            return {"rewrite": False, "index": meta["name"],
                    "reason": f"matched index but routed exact: {route['reason']}"}
        return {"rewrite": True, "index": meta["name"],
                "method": meta["method"], "k": m["k"], "query": qvec,
                "alias_name": m["alias_name"], "base_cols": m["base_cols"],
                "reason": route["reason"]}
    return {"rewrite": False,
            "reason": "no registered index matches (vec_col, metric, "
                      "file set) of this scan"}


def rewrite_knn(engine, df: DataFrame) -> DataFrame:
    """Apply the rewrite if it matches; otherwise return ``df`` unchanged
    (exact TakeOrderedAndProject — always correct)."""
    d = explain_knn_rewrite(engine, df)
    if not d.get("rewrite"):
        return df
    spark = df.sparkSession
    meta = engine.catalog.get("indexes", d["index"])
    dist_name = d["alias_name"] or "__neurondb_dist"
    out_cols = list(d["base_cols"])
    if d["alias_name"] is not None:
        out_cols.append(d["alias_name"])
    if d["method"] == "ivf":
        from neurondb_spark.index.ivf import IVFIndex

        idx = IVFIndex.load(meta["path"])
        res = idx.search(spark, d["query"], k=d["k"], dist_col=dist_name)
    elif d["method"] == "lsh":
        from neurondb_spark.index.lsh import LSHIndex

        idx = LSHIndex.load(meta["path"])
        res = idx.search(spark, d["query"], k=d["k"], dist_col=dist_name)
    else:
        # HNSW returns (vec_id, distance), not table rows — reconstruct
        # them by joining the k-row result (broadcast) back to the scan
        # whose file set the snapshot guard just verified equals the
        # index's build input. Probe cost + a k-row broadcast join.
        from neurondb_spark.index.hnsw import HNSWIndex

        idx = HNSWIndex.load(meta["path"], spark)
        id_col = idx.meta["id_col"]
        top = idx.search(spark, d["query"], k=d["k"], dist_col=dist_name)
        base = spark.read.parquet(*meta["source_files"])
        if id_col not in base.columns or not set(d["base_cols"]) <= set(
            base.columns
        ):
            return df  # scan schema drifted from the build → keep exact
        res = (
            base.join(
                F.broadcast(top.withColumnRenamed("vec_id", "__nb_id")),
                base[id_col].cast("long") == F.col("__nb_id"),
            )
            .drop("__nb_id")
            .orderBy(F.col(dist_name).asc(), F.col(id_col).asc())
            .limit(d["k"])
        )
    if not set(out_cols) <= set(res.columns):
        return df  # index artifact lacks a projected column → keep exact
    return res.select(*out_cols)
