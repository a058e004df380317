"""Bounded-depth BFS over the bipartite movie↔actor graph (SURVEY.md §2.9).

The reference's single interactive query (``/root/reference/src/master/
master.erl:251-288``): given a name and a level k, produce the k-level
co-star graph (actor query) or shared-cast movie graph (movie query).

Semantics preserved exactly (SURVEY.md §3.1):
- each *level* is a TWO-hop expansion whose intermediate hop (the movie when
  querying an actor; the actor when querying a movie) is not added to the
  graph — edges connect same-type entities;
- one GLOBAL visited set: a child discovered once is never re-added (the
  result is a tree rooted at the query name);
- level k performs k−1 expansion rounds (``master.erl:259,271``).

One documented semantic cleanup: the reference attaches a child to whichever
parent its sequential recursion happened to reach first — traversal-order
dependent (``master.erl:295-304``). We attach each child to its MINIMUM
discovering parent (deterministic under any partitioning / parallelism).

Scale posture: the loop is driver-side control flow over fully distributed
joins (same design GraphFrames uses). Each round:
``frontier ⋈ edges ⋈ edges`` (two shuffles on the edge keys; broadcast of
the frontier when small), then a ``left_anti`` against visited. Rounds
``localCheckpoint()`` to truncate the growing lineage — without it the plan
doubles per iteration. With TWO bucketed layouts of the edge table — one
hashed on ``node_col`` for the outbound hop, one on ``via_col`` for the
return hop (pass it as ``edges_inverted``) — the big table is never
re-shuffled in any round: only the tiny frontier-derived sides move. This
is the durable analog of the reference keeping both adjacency directions
(``dataInit.erl`` A1/A2), and is pinned by
``tests/test_storage.py::test_bucketed_bfs_round_join_needs_no_edge_shuffle``.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOVIE = "movie"
ACTOR = "actor"


class BfsBudgetExceeded(RuntimeError):
    """A traversal outgrew its caller's result budget mid-round — the
    service-grade guard mirroring the reference master's 10 s pcall
    timeout (``master.erl:240``): an interactive request must fail fast
    with a bounded error instead of materializing an unbounded graph.

    Raised BETWEEN rounds (each round's frontier count is already
    materialized by the checkpoint, so the check is free) — the traversal
    aborts before the next expansion join is even planned."""

    def __init__(
        self, visited: int, budget: int, level: int, estimated: bool = False
    ) -> None:
        self.visited, self.budget, self.level = visited, budget, level
        self.estimated = estimated
        kind = "estimated expansion work" if estimated else "vertices reached"
        super().__init__(
            f"BFS budget exceeded: {visited} {kind} at level "
            f"{level} > max_vertices={budget}; narrow the query (lower "
            "level) or raise the budget"
        )


# Pre-join fail-fast slack: a round is refused BEFORE its expansion join
# runs when the ESTIMATED candidate-row count exceeds max_vertices × this
# factor (candidates over-count unique new vertices by the duplicate-parent
# factor, so the work bound is deliberately looser than the exact post-round
# vertex check, which remains). r06 review: the post-round-only check let a
# single hub round do ALL the unbounded work before raising.
BFS_WORK_SLACK = 16


def _bfs_rounds(
    spark,
    root: str,
    level: int,
    checkpoint: bool,
    max_broadcast_rows: int,
    max_vertices: int | None,
    expand,
    node_type: str,
) -> BfsResult:
    """The shared k-level round machinery (r06 review: bipartite and
    unipartite previously copy-pasted these ~45 lines, and only one had
    the budget guard). ``expand(frontier, frontier_rows) -> (pairs,
    est_candidates)`` supplies the operator-specific expansion join plus
    an optional candidate-row estimate for the pre-join budget check;
    everything else — min-parent dedup BEFORE the visited anti-join (the
    ordering that keeps Catalyst from pushing the anti-join into a
    full-table exchange), guarded broadcasts, per-round localCheckpoint,
    budget enforcement, vertex assembly — lives exactly once."""
    frontier = spark.createDataFrame([(root,)], ["node"])
    frontier_rows = 1
    visited = frontier
    visited_rows = 1
    # The empty base of the result takes the frontier's node type (string
    # for name graphs, bigint for id graphs — the id form keeps bucketed
    # layouts usable) and is pruned by the optimizer. Built from a Python
    # list instead, it would be a Python RDD whose scan runs Python-worker
    # tasks in every fetch of the result; this way a level-1 result is
    # fetched without any Spark job.
    result_edges = frontier.select(
        F.col("node").alias("src"), F.col("node").alias("dst"), F.lit(0).alias("level")
    ).limit(0)

    for lvl in range(1, level):
        pairs, est_candidates = expand(frontier, frontier_rows)
        if (
            max_vertices is not None
            and est_candidates is not None
            and est_candidates > max_vertices * BFS_WORK_SLACK
        ):
            raise BfsBudgetExceeded(
                int(est_candidates), max_vertices, lvl, estimated=True
            )
        anti = visited
        if visited_rows <= max_broadcast_rows:
            anti = F.broadcast(anti)
        dedup = pairs.groupBy("dst").agg(F.min("src").alias("src"))
        children = (
            dedup.join(anti, dedup["dst"] == anti["node"], "left_anti")
            .select("src", "dst")
            .withColumn("level", F.lit(lvl))
        )
        if checkpoint:
            # lazy: the count() below materializes the blocks in the same
            # job — one action per round instead of two (r16, guide §2.6)
            children = children.localCheckpoint(eager=False)
        frontier_rows = children.count()
        if frontier_rows == 0:
            break
        result_edges = result_edges.unionByName(children)
        new_nodes = children.select(F.col("dst").alias("node"))
        visited = visited.unionByName(new_nodes)
        visited_rows += frontier_rows
        if max_vertices is not None and visited_rows > max_vertices:
            raise BfsBudgetExceeded(visited_rows, max_vertices, lvl)
        frontier = new_nodes

    vertices = (
        result_edges.select(F.col("src").alias("name"))
        .unionByName(result_edges.select(F.col("dst").alias("name")))
        .unionByName(spark.createDataFrame([(root,)], ["name"]))
        .distinct()
    )
    return BfsResult(
        root=root, node_type=node_type, edges=result_edges, vertices=vertices
    )


@dataclass
class BfsResult:
    """Mirror of the reference's reply ``{Vertices, Edges}``
    (``master.erl:261-263``)."""

    root: str
    node_type: str
    edges: DataFrame  # (src, dst, level)
    vertices: DataFrame  # (name,)


def _avg_degree(edges: DataFrame, node_col: str) -> float:
    """Average out-degree of ``node_col`` — the frontier-size multiplier
    behind the broadcast guards and the pre-join budget estimate. Callers
    wrap it in ``functools.lru_cache`` so it runs at most once per traversal,
    and only when a round needs it. One job, no shuffle of the edge table:
    count + HLL sketch both fold map-side; only sketches cross the wire."""
    stats = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.approx_count_distinct(node_col).alias("n_nodes"),
    ).collect()[0]
    return stats["n_edges"] / max(1, stats["n_nodes"])


def _two_hop(
    frontier: DataFrame,
    edges: DataFrame,
    node_col: str,
    via_col: str,
    broadcast_frontier: bool = True,
    broadcast_hop1: bool = True,
    edges_inverted: DataFrame | None = None,
) -> DataFrame:
    """frontier(node) → co-entities: join out on node_col, back on via_col.

    For an actor frontier: actor → titles (via) → co-actors (J5,
    ``master.erl:273-283``). While the frontier is bounded (true for
    level ≤ 4 queries on real-degree graphs) BOTH joins broadcast the
    frontier-derived side (frontier, then frontier×degree), so the big
    edge table is only ever scanned — never shuffled. The caller guards
    each hint with a size estimate (frontier count × average degree, both
    already materialized); above the threshold the hint is dropped and
    AQE picks the join strategy from runtime stats.

    No ``distinct`` here: the caller's per-destination aggregation dedups,
    one exchange instead of two.
    """
    # Fresh column names per side before joining: the frontier shares
    # lineage with the edge table after round 1, and attribute-reference
    # joins would be ambiguous self-joins.
    f = frontier.select(F.col("node").alias("src"))
    if broadcast_frontier:
        f = F.broadcast(f)
    e1 = edges.select(F.col(node_col).alias("_n1"), F.col(via_col).alias("_via"))
    hop1 = f.join(e1, F.col("src") == F.col("_n1"), "inner").select("src", "_via")
    if broadcast_hop1:
        hop1 = F.broadcast(hop1)
    # The return hop scans ``edges_inverted`` when provided — a layout of
    # the SAME relation bucketed/sorted on via_col, so a shuffle-free
    # sort-merge join is available even when the frontier outgrows
    # broadcasting (Project-with-alias preserves the scan's partitioning).
    e2_src = edges_inverted if edges_inverted is not None else edges
    e2 = e2_src.select(F.col(via_col).alias("_v2"), F.col(node_col).alias("dst"))
    return (
        hop1.join(e2, F.col("_via") == F.col("_v2"), "inner")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def bipartite_bfs(
    edges: DataFrame,
    node_col: str,
    via_col: str,
    root: str,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    edges_inverted: DataFrame | None = None,
    max_vertices: int | None = None,
) -> BfsResult:
    """Generic k-level same-type expansion over any bipartite edge table
    (G1+G2, J4, J5, A4). ``node_col`` is the queried entity type, ``via_col``
    the intermediate hop. Works for movie↔actor, order↔part, user↔document —
    any two-column relation.

    Broadcast guard: each round knows the frontier's exact row count (the
    checkpoint materializes it) and estimates the first hop as
    frontier × average degree (degree stats computed once, lazily, the
    first time a frontier outgrows the trivial case). A side is broadcast
    only while its estimate stays under ``max_broadcast_rows``; past that
    the hint is dropped and AQE chooses from runtime sizes, so the
    operator is safe at any level, not just the GUI's 1..4.

    ``edges_inverted``: optional second layout of the SAME relation used
    for the return hop — pass a catalog table bucketed on ``via_col``
    (with ``edges`` bucketed on ``node_col``) and no round ever shuffles
    the big table, broadcast or not.

    ``max_vertices`` budget semantics: the EXACT post-round vertex check
    is authoritative, but a round may also be refused BEFORE its
    expansion join from an avg-degree work estimate
    (frontier × deg² here; ``BFS_WORK_SLACK``-slackened). The estimate
    over-counts unique new vertices by the duplicate-parent factor, so on
    dup-heavy or skew-light frontiers a traversal that WOULD have
    finished within budget can be refused pre-join — such refusals carry
    ``BfsBudgetExceeded.estimated=True`` so budget-tuned callers can
    distinguish them from exact violations (``estimated=False``) and
    retry with a higher budget if the fail-fast was too conservative.
    """
    spark = edges.sparkSession
    avg_degree = functools.lru_cache(maxsize=1)(lambda: _avg_degree(edges, node_col))

    # level k = k-1 expansion rounds (master.erl:259,271). Aggregate-
    # before-anti-join rationale lives in _bfs_rounds (shared machinery).
    def expand(frontier: DataFrame, frontier_rows: int):
        deg = avg_degree() if (frontier_rows > 1 or max_vertices) else None
        hop1_estimate = frontier_rows * (deg if deg else 1.0)
        pairs = _two_hop(
            frontier,
            edges,
            node_col,
            via_col,
            broadcast_frontier=frontier_rows <= max_broadcast_rows,
            broadcast_hop1=hop1_estimate <= max_broadcast_rows,
            edges_inverted=edges_inverted,
        )
        # candidate rows ≈ frontier × degree² (two hops) — the pre-join
        # work estimate for the budget guard
        est = hop1_estimate * deg if deg else None
        return pairs, est

    return _bfs_rounds(
        spark,
        root,
        level,
        checkpoint,
        max_broadcast_rows,
        max_vertices,
        expand,
        node_type=node_col,
    )


def unipartite_bfs(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    root: str,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    max_vertices: int | None = None,
    node_type: str = "node",
) -> BfsResult:
    """The same k-level BFS semantics as :func:`bipartite_bfs` (global
    visited set, deterministic MIN-parent attachment, level k = k−1
    rounds) over an already-PROJECTED unipartite edge list — the read
    path for the silver co-purchase edge table
    (``sources/silver.copurchase_edges``), where the two-hop via-join has
    been amortized into storage and each round is a single
    frontier⋈edges hop.

    Equivalence to the bipartite form: with ``edges`` = the via-projected
    graph (src—dst iff they share a via, src ≠ dst), round adjacency,
    the dst-grouped min(src) attachment, and the visited anti-join are
    identical relation-for-relation, so the result graph matches the
    two-hop operator row-for-row (pinned by tests/test_silver.py).

    Scale posture per round: the frontier broadcasts while its EXACT row
    count (the checkpoint materializes it) stays under
    ``max_broadcast_rows``; with the edge table bucketed on ``src_col``
    the big side is never shuffled in any regime. Aggregate-before-
    anti-join ordering as in :func:`bipartite_bfs` via the shared
    :func:`_bfs_rounds` machinery, which also brings the ``max_vertices``
    budget (pre-join estimate + exact post-round check) to this path.
    As on :func:`bipartite_bfs`, the pre-join frontier × avg-degree
    estimate over-counts unique vertices on dup-heavy frontiers, so a
    within-budget traversal can be refused early with
    ``BfsBudgetExceeded.estimated=True`` — the exact post-round check
    (``estimated=False``) remains authoritative."""
    spark = edges.sparkSession
    avg_degree = functools.lru_cache(maxsize=1)(lambda: _avg_degree(edges, src_col))

    def expand(frontier: DataFrame, frontier_rows: int):
        f = frontier.select(F.col("node").alias("src"))
        if frontier_rows <= max_broadcast_rows:
            f = F.broadcast(f)
        e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("dst"))
        pairs = (
            f.join(e, F.col("src") == F.col("_s"), "inner")
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        est = frontier_rows * avg_degree() if max_vertices else None
        return pairs, est

    return _bfs_rounds(
        spark,
        root,
        level,
        checkpoint,
        max_broadcast_rows,
        max_vertices,
        expand,
        node_type=node_type,
    )


def costar_bfs(
    cast_edges: DataFrame,
    name: str,
    node_type: str = ACTOR,
    level: int = 2,
    checkpoint: bool = True,
    max_broadcast_rows: int = 1_000_000,
    max_vertices: int | None = None,
) -> BfsResult:
    """k-level co-star / shared-cast-movie graph — the reference's flagship
    query (``master.erl:251-288``). ``cast_edges`` is the silver
    ``(tconst, title, actor)`` table; both query directions run against it —
    no inverted copy needed.
    """
    if not name:
        # API-level input validation (F8, /root/reference/src/client/client.erl:139-140)
        raise ValueError("search name must be non-empty")
    if node_type not in (MOVIE, ACTOR):
        raise ValueError(f"node_type must be '{MOVIE}' or '{ACTOR}'")
    if not 1 <= level <= 10:
        raise ValueError("level must be in 1..10 (reference GUI offers 1..4)")

    node_col, via_col = ("actor", "title") if node_type == ACTOR else ("title", "actor")
    res = bipartite_bfs(
        cast_edges,
        node_col,
        via_col,
        name,
        level,
        checkpoint,
        max_broadcast_rows,
        max_vertices=max_vertices,
    )
    return BfsResult(root=name, node_type=node_type, edges=res.edges, vertices=res.vertices)
