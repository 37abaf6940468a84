"""Graph operators over edge DataFrames (SURVEY §2.9).

Reference: vgraph BFS/DFS/PageRank/community over single graph *values*
(NeuronDB/src/vector/vector_graph_ops.c:176-701) and build_knn_graph
(src/ml/analytics.c:1286). Here the graph is an edge DataFrame (src, dst) —
the scale-out representation: every algorithm below is iterative joins +
aggregations (connected components first contracts each partition with a
numpy union-find), shuffling only on node keys, so a 100 TB edge list
distributes naturally (the reference's graphs must fit in one varlena).

Determinism: PageRank contributions are summed through DECIMAL so ranks
are identical regardless of partitioning/ordering — required for the
DuckDB-oracle gate and a good idea generally (reproducible ranks).
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from neurondb_spark.functions.aggregates import bsum

_log = logging.getLogger("neurondb_spark")


def parse_vgraph(s: str) -> tuple[int, list[tuple[int, int]]]:
    """Parse the reference's vgraph text literal
    ``{nodes:N,edges:[[a,b],...]}`` → (num_nodes, edges).

    Mirrors vgraph_in (types_core.c:459-648) including its error
    contracts: must start with '{', ``nodes`` is required and > 0, each
    edge is a 2-element [from,to] with both endpoints in [0, N). The
    ``edges:`` section is optional (a graph may have no edges).
    Whitespace is tolerated everywhere, as in the C scanner."""
    import re

    pos = 0
    n = len(s)

    def skip_ws(extra: str = "") -> None:
        nonlocal pos
        while pos < n and (s[pos].isspace() or s[pos] in extra):
            pos += 1

    def expect(ch: str, msg: str) -> None:
        nonlocal pos
        skip_ws()
        if pos >= n or s[pos] != ch:
            raise ValueError(f"neurondb: {msg}")
        pos += 1

    def read_int(msg: str) -> int:
        nonlocal pos
        skip_ws()
        m = re.match(r"[+-]?\d+", s[pos:])
        if not m:
            raise ValueError(f"neurondb: {msg}")
        pos += m.end()
        return int(m.group())

    expect("{", "vgraph must start with '{'")
    skip_ws()
    num_nodes = 0
    if s[pos:pos + 6] == "nodes:":
        pos += 6
        num_nodes = read_int("invalid nodes value in vgraph")
    if num_nodes <= 0:
        raise ValueError("neurondb: vgraph must specify nodes")
    edges: list[tuple[int, int]] = []
    skip_ws(",")
    if s[pos:pos + 6] == "edges:":
        pos += 6
        expect("[", "edges must be an array")
        while True:
            skip_ws(",")
            if pos >= n or s[pos] == "]":
                break
            expect("[", "each edge must be an array [from,to]")
            a = read_int("invalid from node")
            if not 0 <= a < num_nodes:
                raise ValueError(
                    f"neurondb: from node {a} out of range [0, {num_nodes})"
                )
            expect(",", "expected ',' between edge nodes")
            b = read_int("invalid to node")
            if not 0 <= b < num_nodes:
                raise ValueError(
                    f"neurondb: to node {b} out of range [0, {num_nodes})"
                )
            expect("]", "expected ']' after edge pair")
            edges.append((a, b))
        if pos < n and s[pos] == "]":
            pos += 1
    return num_nodes, edges


def format_vgraph(num_nodes: int, edges: list[tuple[int, int]]) -> str:
    """vgraph_out (types_core.c:652-686): ``{nodes:N,edges:[[a,b],...]}``,
    no whitespace — round-trips through :func:`parse_vgraph`."""
    body = ",".join(f"[{a},{b}]" for a, b in edges)
    return f"{{nodes:{num_nodes},edges:[{body}]}}"


def vgraph_edges_df(spark, literal: str, src: str = "src", dst: str = "dst") -> DataFrame:
    """Bridge a vgraph literal into the edge-DataFrame world every
    algorithm here operates on (the literal codec is value-level IO; the
    DataFrame is the scale representation)."""
    _, edges = parse_vgraph(literal)
    schema = f"{src} long, {dst} long"
    if not edges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], schema
    )


def _both_ways(
    edges: DataFrame, src: str, dst: str, self_loops: bool = False,
) -> DataFrame:
    """(src, dst) in both directions — plus, with ``self_loops``, a
    self-loop on each endpoint — in one scan of ``edges`` (one generator
    over each row, where a ``union`` of two projections scans it twice)."""
    ends = [(src, dst), (dst, src)]
    if self_loops:
        ends += [(src, src), (dst, dst)]
    return edges.select(F.inline(F.array(*[
        F.struct(F.col(a).alias(src), F.col(b).alias(dst)) for a, b in ends
    ])))


def bfs(
    edges: DataFrame, start, max_depth: int = 3,
    src: str = "src", dst: str = "dst", directed: bool = False,
    dedup_edges: bool = True, broadcast_frontier: bool = False,
) -> DataFrame:
    """Frontier-expansion BFS: (node, depth of first reach), depth ≤
    max_depth (vgraph_bfs, vector_graph_ops.c:176). One join per level.

    Checkpoint discipline: the edge frame and each level's frontier are
    ``localCheckpoint``'d — without it every level's join re-derives the
    whole upstream plan (for a kNN-graph input that means re-running the
    graph build per level) and lineage grows per iteration. The
    checkpoints are LAZY (eager=False): lineage is truncated at plan
    time, but materialization rides on the caller's single action —
    each frame still computes exactly once (the frontier is referenced
    by both the next level's join and the visited union inside that one
    action), and the per-level materialization JOBS the eager form paid
    disappear (guide §1.2: fewer sequential actions). (On a
    multi-executor cluster swap localCheckpoint for a reliable
    ``checkpoint`` dir if executor loss during the traversal must be
    survivable.)

    ``broadcast_frontier`` (r15, guide §3.1): the frontier and visited
    sets are localCheckpoint-backed RDD scans with NO catalyst stats, so
    the planner assumes they are huge and picks SortMergeJoin — every
    level then shuffles + sorts the ENTIRE edge frame (and the visited
    set) just to expand a frontier that is usually a vanishing fraction
    of the graph. Pass True when the caller knows single-source frontiers
    stay driver/executor-memory-small (depth-bounded traversals, kNN
    graphs with bounded degree): each level becomes a broadcast hash join
    against the edge checkpoint — the edge frame is never shuffled at any
    level, which is the difference between O(levels·|E|) and
    O(levels·|frontier|) shuffle bytes at 100 TB. NOTE the capacity
    bound: the cumulative ``visited`` set is broadcast too (for the
    anti-join), and it grows monotonically with every reached node — so
    the flag requires the TOTAL REACHABLE node-id set (not just each
    level's frontier) to fit in driver/executor broadcast memory. Leave
    False for unbounded frontiers or deep traversals of large components
    (dense expander graphs), where the partitioned join's spill-safety
    is the right trade."""
    e = edges.select(src, dst) if directed else _both_ways(edges, src, dst)
    if dedup_edges:
        # duplicate edges only inflate the frontier join; pass
        # dedup_edges=False when the input is already distinct AND no
        # reversed pair can collide with a forward one (e.g. bipartite
        # encodings) — skips a full-edge shuffle
        e = e.distinct()
    e = e.localCheckpoint(eager=False)
    start_df = e.sparkSession.createDataFrame([(start, 0)], ["node", "depth"])
    visited = start_df.withColumn("depth", F.col("depth").cast("int"))
    frontier = visited
    for d in range(1, max_depth + 1):
        fr = F.broadcast(frontier) if broadcast_frontier else frontier
        vis = visited.select("node")
        if broadcast_frontier:
            vis = F.broadcast(vis)
        nxt = (
            fr.join(e, frontier.node == e[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(vis, "node", "left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=False)
        )
        visited = visited.union(nxt)
        frontier = nxt
    return visited


def dfs(
    edges: DataFrame, start, max_depth: int = 10,
    src: str = "src", dst: str = "dst", directed: bool = False,
    max_nodes: int = 100_000,
) -> list:
    """Depth-first preorder with ascending-neighbor tie-break
    (vgraph_dfs, vector_graph_ops.c:335). The reference's vgraph values are
    single (small) graph literals, so DFS — inherently sequential — runs on
    a collected adjacency list, bounded by ``max_nodes``. For corpus-scale
    traversal use :func:`bfs` (level-parallel)."""
    e = edges.select(src, dst) if directed else _both_ways(edges, src, dst)
    rows = e.distinct().limit(max_nodes).collect()
    adj: dict = {}
    for r in rows:
        adj.setdefault(r[0], []).append(r[1])
    for k in adj:
        adj[k].sort()
    order, seen = [], set()
    stack = [(start, 0)]
    while stack:
        node, depth = stack.pop()
        if node in seen or depth > max_depth:
            continue
        seen.add(node)
        order.append(node)
        for nb in reversed(adj.get(node, [])):
            if nb not in seen:
                stack.append((nb, depth + 1))
    return order


def pagerank(
    edges: DataFrame, iterations: int = 5, damping: float = 0.85,
    src: str = "src", dst: str = "dst", exact: bool = True,
    checkpoint_every: int = 3, dedup_edges: bool = True,
) -> DataFrame:
    """Iterative PageRank: pr = (1−d)/N + d·Σ_in pr(u)/outdeg(u)
    (vgraph_pagerank, vector_graph_ops.c:519). Dangling nodes keep the
    teleport term only. ``exact`` routes the contribution sums through
    binary fixed-point (bsum) for bit-reproducible ranks.

    The weighted edge list is materialized once and the rank frame is
    checkpointed every ``checkpoint_every`` iterations, so plan depth
    (and recovery-chain length) stays bounded regardless of iteration
    count.

    Co-partitioning (optimization round 16, guide §2 "co-partition the
    reused side of an iterated join"): the weighted edge frame is pinned
    with ``repartition(src).sortWithinPartitions(src).persist()`` rather
    than a localCheckpoint — a checkpointed LogicalRDD reports
    UnknownPartitioning, so every iteration's rank⋈edge SortMergeJoin
    re-Exchanges + re-Sorts the FULL edge frame, while the cached
    InMemoryRelation preserves hashpartitioning(src)+ordering and each
    iteration consumes it with no Exchange and no Sort. One edge shuffle
    at build replaces one per iteration. The final rank frame is
    materialized eagerly so the cache can be released before returning
    (same total work: the caller's action replays the checkpointed
    rows).

    Iteration shape (optimization round 16, guide §2.4 "remove shuffles
    outright"): the edge frame carries one synthetic zero-contribution
    self-loop per node (outdeg NULL → contribution exactly 0.0), so the
    contribution aggregation itself yields EVERY node each iteration and
    the former per-iteration ``nodes LEFT JOIN summed`` — an extra
    Exchange + Sort of the rank frame per iteration — disappears. The
    value is unchanged bit-for-bit: bsum adds round(0.0·2^40)=0 to the
    long accumulator (exact no-op) and a node with no real in-edges gets
    teleport + damping·0.0 = teleport, the old coalesce semantics. The
    groupBy's output is hash-partitioned by node, which is exactly the
    partitioning the next iteration's contribution join needs on the
    rank side."""
    e = edges.select(src, dst)
    if dedup_edges:  # False when the caller guarantees distinct edges
        e = e.distinct()
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # materialized by the count() below
    )
    n = nodes.count()
    outdeg = e.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    # pre-join the per-edge weight once — each iteration is then a single
    # join + aggregation instead of two joins; lazy checkpoint: computed
    # once inside the caller's action, no separate materialization job
    e_w = (
        e.join(outdeg, src)
        .select(src, dst, F.col("outdeg"))
        .unionByName(
            nodes.select(
                F.col("node").alias(src),
                F.col("node").alias(dst),
                F.lit(None).cast("long").alias("outdeg"),
            )
        )
        .repartition(F.col(src))
        .sortWithinPartitions(src)
        .persist()
    )
    teleport = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    try:
        for i in range(iterations):
            contrib = ranks.join(e_w, ranks.node == e_w[src]).select(
                F.col(dst).alias("node"),
                F.when(F.col("outdeg").isNull(), F.lit(0.0))
                .otherwise(F.col("pr") / F.col("outdeg"))
                .alias("c"),
            )
            ranks = contrib.groupBy("node").agg(
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (bsum(F.col("c")) if exact else F.sum("c"))
                ).alias("pr")
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                # lazy: truncates the plan (the point of the cadence)
                # without paying a separate materialization job per
                # checkpoint
                ranks = ranks.localCheckpoint(eager=False)
        # eager: runs the iteration pipeline here (the caller's action
        # replays the rows) so the pinned edge cache can be released —
        # no cached partitions outlive the call
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        e_w.unpersist()
    return ranks


def union_find(n: int, a, b) -> np.ndarray:
    """Roots of ``n`` nodes joined by the index pairs ``(a[i], b[i])``:
    ``root[x]`` is the smallest index in x's component. Hooks the larger
    root of every split pair under the smaller, then jumps pointers until
    every pair shares a root."""
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            return parent
        np.minimum.at(parent, np.maximum(ra, rb)[split], np.minimum(ra, rb)[split])
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt


def _local_components(src, dst):
    """Union-find over one partition's (src, dst) rows → (node, comp,
    final), one entry per distinct node: comp is the min id of the node's
    component in this partition, and final says every node of that
    component appears here as ``src``. All of a node's edges share the
    partition its ``src`` rows hash to, so a final component is a whole
    component of the graph and its comp is exact."""
    m = len(src)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    root = union_find(len(nodes), inv[:m], inv[m:])
    is_src = np.zeros(len(nodes), dtype=bool)
    is_src[inv[:m]] = True
    open_root = np.zeros(len(nodes), dtype=bool)
    open_root[root[~is_src]] = True
    return nodes, nodes[root], ~open_root[root]


def _cc_kernel(batches):
    """mapInPandas body: every batch of the partition at once through
    :func:`_local_components`."""
    import pandas as pd

    pdfs = [b for b in batches if len(b)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    node, comp, final = _local_components(
        pdf.iloc[:, 0].to_numpy(), pdf.iloc[:, 1].to_numpy()
    )
    yield pd.DataFrame({"node": node, "comp": comp, "final": final})


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20,
) -> DataFrame:
    """Connected components → (node, comp), comp = min node id of the
    node's component, both of the id column's type (vgraph_community
    analog; exact CC). An edge with a null endpoint joins nothing: its
    other endpoint is still a node, and null is never one.

    One pass: the edges in both directions plus a self-loop on every
    endpoint, from ONE scan of the input, hash-repartitioned by ``src``,
    then a numpy union-find per partition (:func:`_local_components`,
    the standard local contraction of distributed CC, Kiveris et al.,
    SoCC 2014). All of a node's edges hash to its partition, so a local
    component whose every node appears there as ``src`` is whole, and
    its min id is exact; such rows are ``final``. The pass ends in one
    eager ``localCheckpoint`` whose ``observe`` counts the rows that are
    not final, read off the checkpoint job's own query execution with no
    extra action. A count of 0 makes the checkpoint the answer. AQE only
    merges the ``repartition(col)`` buckets, never splits them, and its
    coalesced read puts a small graph in one partition: the curation and
    registry graphs end here, and under AQE the pass is two jobs (the
    edge shuffle and the checkpoint) before the caller's action.
    (A ``pyspark.sql.Observation`` would carry the same counts, but
    registering one gives the session an ObservationManager that is not
    serializable, and MLlib models that capture the session then fail to
    ship their UDFs.)

    Fallback, when a component spans partitions (AQE off, or a graph big
    enough to keep many partitions): min-label propagation to fixpoint,
    seeded with each node's least kernel label. The seed is never above
    the node's closed-neighbourhood minimum (that neighbourhood lies in
    the node's own partition), so the loop needs no more rounds than a
    plain propagation would. One step is one ``labels ⋈ e →
    groupBy(dst).min(comp)`` over the closed neighbourhood, so the node's
    own label is covered. Each round applies TWO steps and ends in one
    eager ``localCheckpoint`` (lazy checkpoints were measured worse here,
    OPTIMIZATION_r15.md); the second step's aggregate also takes each
    node's label before the step off its self-loop (``was``), and the
    same ``observe`` read counts the labels that changed. Labels only
    decrease, so 0 means the fixpoint, and the loop stops. After
    ``max_iter`` rounds without one, the labels are returned as they are
    (each is an id from the node's own component, not yet its minimum)
    and one warning on the ``neurondb_spark`` logger gives the rounds run
    and the last count.

    The fallback's edge frame is pinned co-partitioned on the join key:
    ``repartition(src).distinct().sortWithinPartitions(src).persist()``
    (hashpartitioning(src) already clusters each (src, dst) pair, so the
    dedup needs no shuffle of its own), and the step join is hinted
    ``merge`` so it reads the edges in place, with no Exchange and no
    Sort. Unhinted, the planner broadcasts the small cached frame
    instead, rebuilding a hash table of the unchanged edges at every step
    (one job each under AQE). Under AQE each of the frame's references
    builds its own cache stage, and each step's checkpointed labels are
    shuffled again. The returned labels are an eager checkpoint, so the
    pin is released before returning."""
    both = _both_ways(edges, src, dst, self_loops=True).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    id_t = both.schema[src].dataType
    kernel = StructType([
        StructField("node", id_t), StructField("comp", id_t),
        StructField("final", BooleanType()),
    ])
    parts = both.repartition(F.col(src))
    local = parts.mapInPandas(_cc_kernel, kernel).observe(
        "open", F.count_if(~F.col("final"))
    )
    labels = local.localCheckpoint()
    changed = _observed(local, "open")
    if changed == 0:
        return labels.select("node", "comp")

    e = parts.distinct().sortWithinPartitions(src).persist()

    def _step(lab):
        return (
            lab.join(e.hint("merge"), lab.node == e[src])
            .groupBy(F.col(dst).alias("node"))
            .agg(
                F.min("comp").alias("comp"),
                # the node's label before this step, off its self-loop
                F.min(F.when(F.col(src) == F.col(dst), F.col("comp"))).alias("was"),
            )
        )

    try:
        labels = labels.groupBy("node").agg(F.min("comp").alias("comp"))
        for _ in range(max_iter):
            rnd = (
                _step(_step(labels))
                .observe("changed", F.count_if(F.col("comp") != F.col("was")))
                .select("node", "comp")
            )
            labels = rnd.localCheckpoint()
            changed = _observed(rnd, "changed")
            if changed == 0:
                break
        else:
            _log.warning(
                "neurondb: connected_components ran max_iter=%d rounds "
                "without a fixpoint (%d labels changed in the last); the "
                "labels are not final", max_iter, changed,
            )
    finally:
        e.unpersist()
    return labels


def _observed(df: DataFrame, name: str) -> int:
    """The count ``df.observe(name, ...)`` recorded in df's last run."""
    return df._jdf.queryExecution().observedMetrics().get(name).get().getLong(0)


def build_knn_graph(
    df: DataFrame, vec_col: str, id_col: str, k: int = 3,
    on: list[str] | None = None, metric: str = "l2", dim: int | None = None,
    num_blocks: int = 2,
) -> DataFrame:
    """kNN graph: edge (id, neighbor, distance) per k nearest
    (build_knn_graph, analytics.c:1286).

    With a block key (``on``) the kNN join is an equi-join on that key;
    without one, the exact all-pairs case routes through
    :func:`~neurondb_spark.operators.joins.knn_join_gemm` — distributed
    cogrouped block GEMM + top-k merge, no cross join (isotropic
    embeddings admit no metric pruning, so the distance count is
    inherent; the row blowup and single-task join are not)."""
    from neurondb_spark.operators.joins import knn_join, knn_join_gemm

    right = df.select(
        *( [F.col(c) for c in (on or [])] ),
        F.col(id_col).alias("_nbr"),
        F.col(vec_col).alias("_nvec"),
    )
    if on is None:
        out = knn_join_gemm(
            df.select(F.col(id_col), F.col(vec_col)),
            right, vec_col, "_nvec", id_col, "_nbr", k=k + 1,
            r_blocks=num_blocks, metric=metric,
        )
    else:
        out = knn_join(
            df.select(*([F.col(c) for c in on] + [F.col(id_col), F.col(vec_col)])),
            right, vec_col, "_nvec", id_col, k=k + 1, on=on, metric=metric,
            dim=dim, tiebreak=["_nbr"],
        )
    return (
        out.where(F.col(id_col) != F.col("_nbr"))
        .select(F.col(id_col).alias("src"), F.col("_nbr").alias("dst"), "distance")
    )
