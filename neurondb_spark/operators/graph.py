"""Graph operators over edge DataFrames (SURVEY §2.9).

Reference: vgraph BFS/DFS/PageRank/community over single graph *values*
(NeuronDB/src/vector/vector_graph_ops.c:176-701) and build_knn_graph
(src/ml/analytics.c:1286). Here the graph is an edge DataFrame (src, dst) —
the scale-out representation: every algorithm below is iterative joins +
aggregations, shuffling only on node keys, so a 100 TB edge list
distributes naturally (the reference's graphs must fit in one varlena).

Determinism: PageRank contributions are summed through DECIMAL so ranks
are identical regardless of partitioning/ordering — required for the
DuckDB-oracle gate and a good idea generally (reproducible ranks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neurondb_spark.functions.aggregates import bsum


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


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation to fixpoint → (node, comp) where comp = min
    node id reachable (vgraph_community analog; exact CC). Converges in
    O(diameter) steps.

    Self-loops: the edge frame gets both directions of every edge plus a
    self-loop on every endpoint, all from ONE scan of the input. With the
    closed neighbourhood in the edge frame, one step is one
    ``labels ⋈ e → groupBy(dst).min(comp)`` that already covers the node's
    own label, so the step reads its input once and two steps chain
    lazily without recompute. The initial labels are that same aggregate
    over the ids themselves, ``e.groupBy(src).min(dst)`` — the first step
    comes free, with no node-list pass.

    Rounds: each round applies TWO steps and ends in one eager
    ``localCheckpoint`` — one Spark action per round (lazy checkpoints
    were measured worse here, OPTIMIZATION_r15.md). ``max_iter`` counts
    these double-step rounds, so at most 1 + 2·max_iter steps run; every
    in-repo caller converges well inside that. Convergence is folded into
    the second step's aggregate: each node's label before the step comes
    off its self-loop (``was``), and an ``observe`` on the checkpointed
    frame counts the nodes whose label changed, read off the checkpoint
    job's own query execution with no extra action. Labels only ever
    decrease, so a count of 0 means the first step already reached the
    fixpoint, and the loop stops there. An empty edge frame counts 0
    and stops after one round. (A ``pyspark.sql.Observation`` would
    carry the same count, but registering one gives the session an
    ObservationManager that is not serializable, and MLlib models that
    capture the session then fail to ship their UDFs.)

    The edge frame is pinned co-partitioned on the join key:
    ``repartition(src).distinct().sortWithinPartitions(src).persist()``
    (hashpartitioning(src) already clusters each (src, dst) pair, so the
    dedup needs no shuffle of its own). The cached relation keeps
    hashpartitioning(src) + src ordering, and the step join is hinted
    ``merge`` so it reads the edges in place, with no Exchange and no
    Sort. Unhinted, the planner broadcasts the small cached frame
    instead, rebuilding a hash table of the unchanged edges at every step
    (one job each under AQE). The returned labels are an eager
    checkpoint, so the pin is released before returning."""
    e = (
        _both_ways(edges, src, dst, self_loops=True)
        .repartition(F.col(src))
        .distinct()
        .sortWithinPartitions(src)
        .persist()
    )

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
        labels = e.groupBy(F.col(src).alias("node")).agg(F.min(dst).alias("comp"))
        for _ in range(max_iter):
            rnd = (
                _step(_step(labels))
                .observe("changed", F.count_if(F.col("comp") != F.col("was")))
                .select("node", "comp")
            )
            labels = rnd.localCheckpoint()
            metrics = rnd._jdf.queryExecution().observedMetrics()
            if metrics.get("changed").get().getLong(0) == 0:
                break
    finally:
        e.unpersist()
    return labels


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
