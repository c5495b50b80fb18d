"""Query layer over the materialized graph (SURVEY.md §2.5/§2.9).

The reference's pointer-chase queries re-expressed as DataFrame joins:
- neighbors        — inmem/path.go:57-101 (edge-filtered adjacency)
- bfs_path         — inmem/path.go:103-172 (depth-limited BFS)
- reachable_from   — bfsFromProduct closure, path.go:272-339
- toposort_levels  — guacanalytics/toposort.go:26-61 (Kahn levels)
- find_entities    — nullable-spec filter walk, inmem/pkg.go:474-560

These are validation queries over `nodes`/`edges`, not the hot path;
each BFS round is one join + dropDuplicates, frontier persisted and
lineage cut per round (same loop family as the CC iterations).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from guackg.local import collect_bounded, local_frame

# Driver fast paths. Below these bounds a traversal or analytics op
# answers on the driver instead of running its Spark loop (the
# in-memory walk of guac's inmem/path.go): the pred-filtered, distinct
# edge frame is checked against the bound (at most
# GRAPH_DRIVER_MAX_EDGES rows and a key-length sum of at most 64 MB)
# and pulled in one bounded Arrow collect (local.collect_bounded), and
# the answer leaves as a LocalRelation (local.local_frame): a small
# graph costs the jobs of that one collect, and collecting the answer
# costs none. Nothing over the bound reaches the driver; over it, the
# distributed branch gets the edge frame back persisted and
# materialized, and unpersists it when done. Every tie-break in the
# distributed loops is a deterministic lexicographic MIN, so the
# driver replay is value-identical (asserted by parity tests); the
# iterative DataFrame loops remain the at-scale path and the only path
# once the bounds trip. GUACKG_GRAPH_DRIVER_BOUND=0 disables the driver
# path (tests use it to pin the distributed loops). Keys are ASCII by
# construction (normalized slugs / page:sha256 / ent: namespaces), so
# Python's per-codepoint string order agrees with Spark's UTF8-binary
# order on every comparison the replay makes.
GRAPH_DRIVER_MAX_EDGES = 1_000_000


def _graph_driver_max_bytes() -> int:
    return int(os.environ.get("GUACKG_GRAPH_DRIVER_BOUND",
                              str(64 * 1024 * 1024)))


def _driver_edge_list(e: DataFrame, off: bool = False
                      ) -> tuple[list[tuple] | None, DataFrame]:
    """(rows, frame): the prepared edge frame's rows as tuples when it
    fits the driver bounds (and `off` is not set), else None, and the
    frame to run the distributed path on, which the caller unpersists
    when done (see local.collect_bounded)."""
    t, e = collect_bounded(e, GRAPH_DRIVER_MAX_EDGES,
                           0 if off else _graph_driver_max_bytes())
    if t is None:
        return None, e
    return list(zip(*(c.to_pylist() for c in t.columns))), e


def _require_constraint_col(edges: DataFrame, constraint_col: str) -> None:
    """A traversal given `node_versions` MUST find the constraint
    column: silently running ungated would return an over-broad
    closure (the no-silent-match-all rule version.py applies to
    unparseable constraints, applied to the column itself — a dropped
    or misspelled column is caller error, not 'no constraints')."""
    if constraint_col not in edges.columns:
        raise ValueError(
            f"node_versions given but edges has no {constraint_col!r} "
            "column; pass constraint_col= or drop node_versions for an "
            "ungated traversal")


def _driver_key_set(df: DataFrame | None) -> set[str] | None:
    """Bounded collect of a 1-column key frame (skip sets). None when
    the frame is too big for the driver (callers then stay distributed
    end-to-end; a huge skip set with a tiny edge set is not a case
    worth a mixed plan)."""
    if df is None:
        return set()
    t, frame = collect_bounded(df, GRAPH_DRIVER_MAX_EDGES,
                               _graph_driver_max_bytes())
    frame.unpersist()
    return None if t is None else set(t.column(0).to_pylist())


def neighbors(edges: DataFrame, key: str,
              preds: list[str] | None = None,
              direction: str = "both") -> DataFrame:
    """All adjacent canonical keys, optionally filtered to an allowed
    predicate set (guac's usingOnly edge bitmap, path.go:28-40 —
    becomes a pushed-down `pred IN (...)` partition filter)."""
    if direction not in ("out", "in", "both"):
        raise ValueError(f"direction must be out|in|both, got "
                         f"{direction!r}")
    e = edges
    if preds:
        e = e.filter(F.col("pred").isin(preds))
    out_n = e.filter(F.col("subj_key") == key).select(
        F.col("obj_key").alias("neighbor_key"), "pred",
        F.lit("out").alias("direction"))
    in_n = e.filter(F.col("obj_key") == key).select(
        F.col("subj_key").alias("neighbor_key"), "pred",
        F.lit("in").alias("direction"))
    if direction == "out":
        return out_n
    if direction == "in":
        return in_n
    return out_n.unionByName(in_n)


def reachable_from(edges: DataFrame, start_keys: list[str],
                   max_depth: int = 5,
                   preds: list[str] | None = None,
                   skip_keys: DataFrame | None = None,
                   node_versions: DataFrame | None = None,
                   constraint_col: str = "constraint") -> DataFrame:
    """Directed closure: (key, depth) for everything reachable from
    start_keys in ≤ max_depth hops. Iterative frontier joins.

    `skip_keys` (a 1-column DataFrame of keys) is the tombstone-aware
    search: nodes in the set are neither reported nor traversed
    THROUGH — the reference's BFS skips noVuln ('scanned clean')
    nodes during vulnerability search exactly this way
    (inmem/path.go:314). Implemented as one left-anti join per
    frontier round (the skip set is typically tiny: broadcast).

    `node_versions` (key, version) turns on the version-aware hop
    gate: edges carrying a non-null `constraint_col` are followed only
    when the destination's version satisfies the range
    (patchPlanning.go:247 DoesRangeInclude — see
    ops/version.py::version_gate_edges for the equivalence argument)."""
    spark = edges.sparkSession
    if node_versions is not None:
        _require_constraint_col(edges, constraint_col)
        from guackg.ops.version import version_gate_edges
        edges = version_gate_edges(edges, node_versions,
                                   constraint_col=constraint_col)
    e = edges.select(F.col("subj_key").alias("src"),
                     F.col("obj_key").alias("dst"),
                     "pred")
    if preds:
        e = e.filter(F.col("pred").isin(preds))
    e = e.select("src", "dst").distinct()
    skip = None
    if skip_keys is not None:
        skip = skip_keys.select(
            F.col(skip_keys.columns[0]).alias("key")).distinct()

    # skip set collected FIRST (the cheaper bound): when it alone busts
    # the driver budget, the edge list is never collected at all
    skipset = _driver_key_set(skip)
    pairs, e = _driver_edge_list(e, off=skipset is None)
    if pairs is not None:
        adj: dict[str, list[str]] = {}
        for r in pairs:
            adj.setdefault(r[0], []).append(r[1])
        # replay of the loop below, bit-identical: dup start keys
        # keep their dup rows (the union seeds them unchanged),
        # starts are NOT skip-filtered (only frontier candidates
        # are), rediscovery is blocked by the visited set
        rows = [(k, 0) for k in start_keys]
        seen = set(start_keys)
        frontier_keys = set(start_keys)
        for depth in range(1, max_depth + 1):
            nxt = {d for s in frontier_keys
                   for d in adj.get(s, ())} - seen - skipset
            if not nxt:
                break
            rows.extend((k, depth) for k in sorted(nxt))
            seen |= nxt
            frontier_keys = nxt
        return local_frame(spark, rows, "key string, depth int")

    visited = local_frame(spark, [(k, 0) for k in start_keys],
                          "key string, depth int")
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (frontier.join(e, frontier.key == e.src)
               .select(F.col("dst").alias("key"))
               .distinct()
               .join(visited.select("key"), on="key", how="left_anti"))
        if skip is not None:
            nxt = nxt.join(skip, on="key", how="left_anti")
        nxt = nxt.withColumn("depth", F.lit(depth)).localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    e.unpersist()
    return visited


BLAST_RADIUS_DDL = "key string, depth int, parent string, via_pred string"


def blast_radius(edges: DataFrame, start_keys: list[str],
                 max_depth: int = 5,
                 preds: list[str] | None = None,
                 skip_keys: DataFrame | None = None,
                 node_versions: DataFrame | None = None,
                 constraint_col: str = "constraint") -> DataFrame:
    """Typed BFS closure WITH parent pointers: (key, depth, parent,
    via_pred) for everything reachable from start_keys — the
    patch-planning blast-radius shape (guacanalytics/
    patchPlanning.go:55-150: per-level parents + edge type recorded),
    which `reachable_from` (depth only) cannot answer.

    Deterministic parent choice: among all min-depth discoverers of a
    key, the lexicographically smallest (parent, via_pred) wins — no
    arbitrary first-writer like the reference's map insert.

    Scale shape: per round ONE equi-join frontier×edges (shuffle on
    src), one left-anti vs visited, one per-key window for the parent
    pick; lineage cut each round.

    `skip_keys` has `reachable_from`'s tombstone semantics exactly:
    skipped nodes are neither reported nor traversed THROUGH
    (inmem/path.go:314 noVuln skip) — one left-anti per round.

    `node_versions` (key, version) turns on the version-aware hop
    gate exactly as in `reachable_from` — the patch-planning use of
    `DoesRangeInclude` (patchPlanning.go:247) IS a blast radius whose
    dependency hops honor version ranges."""
    spark = edges.sparkSession
    if node_versions is not None:
        _require_constraint_col(edges, constraint_col)
        from guackg.ops.version import version_gate_edges
        edges = version_gate_edges(edges, node_versions,
                                   constraint_col=constraint_col)
    from pyspark.sql import Window
    e = edges.select(F.col("subj_key").alias("src"),
                     F.col("obj_key").alias("dst"), "pred")
    if preds:
        e = e.filter(F.col("pred").isin(preds))
    e = e.distinct()
    skip = None
    if skip_keys is not None:
        skip = skip_keys.select(
            F.col(skip_keys.columns[0]).alias("key")).distinct()

    # skip set collected first — see reachable_from
    skipset = _driver_key_set(skip)
    pairs, e = _driver_edge_list(e, off=skipset is None)
    if pairs is not None:
        adj: dict[str, list[tuple[str, str]]] = {}
        for r in pairs:
            adj.setdefault(r[0], []).append((r[1], r[2]))
        # replay of the loop below, bit-identical: the parent pick
        # is the lexicographic MIN (parent, via_pred) among the
        # round's discoverers — exactly the row_number window's
        # orderBy("parent", "via_pred") rank-1 row
        rows = [(k, 0, None, None) for k in start_keys]
        seen = set(start_keys)
        frontier_keys = set(start_keys)
        for depth in range(1, max_depth + 1):
            best: dict[str, tuple[str, str]] = {}
            for s in frontier_keys:
                for dst, pred in adj.get(s, ()):
                    if dst in seen or dst in skipset:
                        continue
                    pick = (s, pred)
                    if dst not in best or pick < best[dst]:
                        best[dst] = pick
            if not best:
                break
            rows.extend((k, depth, p, vp)
                        for k, (p, vp) in sorted(best.items()))
            seen |= best.keys()
            frontier_keys = set(best)
        return local_frame(spark, rows, BLAST_RADIUS_DDL)

    visited = local_frame(spark, [(k, 0, None, None) for k in start_keys],
                          BLAST_RADIUS_DDL)
    frontier = visited.select("key")
    w = Window.partitionBy("key").orderBy("parent", "via_pred")
    for depth in range(1, max_depth + 1):
        cand = (frontier.join(e, frontier.key == e.src)
                .select(F.col("dst").alias("key"),
                        F.col("key").alias("parent"),
                        F.col("pred").alias("via_pred"))
                .join(visited.select("key"), on="key", how="left_anti"))
        if skip is not None:
            # before the parent-pick window: a skipped key must not
            # appear in the closure at all, so no parent row survives
            cand = cand.join(skip, on="key", how="left_anti")
        cand = (cand
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("key", F.lit(depth).alias("depth"),
                        "parent", "via_pred")
                .localCheckpoint())
        if cand.isEmpty():
            break
        visited = visited.unionByName(cand).localCheckpoint()
        frontier = cand.select("key")
    e.unpersist()
    return visited


def affected_roots(edges: DataFrame, seed_keys: list[str],
                   root_prefix: str, max_depth: int = 5,
                   preds: list[str] | None = None,
                   skip_keys: DataFrame | None = None) -> DataFrame:
    """Which roots are affected by a seed node: reverse-reachability
    from the seeds, filtered to keys of the root namespace — the
    vuln→top-level-products search (inmem/search.go:53-139: walk
    backlinks from the vulnerability, keep product-kind nodes).
    `skip_keys` = tombstoned ('scanned clean') nodes excluded from the
    walk, path.go:314 semantics.

    Composition of primitives: `reachable_from` over REVERSED edges +
    a prefix filter (on a nodes table this is a kind equi-join; the
    prefix form keeps the battery query self-contained)."""
    rev = edges.select(F.col("obj_key").alias("subj_key"),
                       "pred",
                       F.col("subj_key").alias("obj_key"))
    closure = reachable_from(rev, seed_keys, max_depth=max_depth,
                             preds=preds, skip_keys=skip_keys)
    return closure.filter(F.col("key").startswith(root_prefix))


def bfs_path(edges: DataFrame, src_key: str, dst_key: str,
             max_depth: int = 5,
             direction: str = "out") -> list[str] | None:
    """Shortest path src→dst as a key list (path.go:103-172:
    parent-pointer BFS). Returns None if unreachable in max_depth.

    `direction="both"` expands each frontier over BOTH edge
    orientations — the reference's Path BFS walks `Neighbors`, i.e.
    undirected adjacency (inmem/path.go:103-150 via neighborsFromId,
    both-ways adjacency built at path.go:57-101), so a src→dst pair
    connected only against edge direction still has a path.
    `direction="in"` walks only INCOMING edges (src reaches dst via
    edges pointing at it — the reverse search). The default "out"
    keeps the directed search.

    Parent choice is DETERMINISTIC: among the frontier keys that
    discover a node in the same round, the lexicographically smallest
    wins (min aggregate, not map-insert order) — so the returned path
    is a pure function of the graph, replayable by a SQL oracle."""
    if direction not in ("out", "in", "both"):
        raise ValueError(f"direction must be out|in|both, got {direction!r}")
    fwd = edges.select(F.col("subj_key").alias("src"),
                       F.col("obj_key").alias("dst"))
    rev = edges.select(F.col("obj_key").alias("src"),
                       F.col("subj_key").alias("dst"))
    e = {"out": fwd, "in": rev,
         "both": fwd.unionByName(rev)}[direction]
    e = e.distinct()
    spark = edges.sparkSession

    pairs, e = _driver_edge_list(e)
    if pairs is not None:
        adj: dict[str, list[str]] = {}
        for r in pairs:
            adj.setdefault(r[0], []).append(r[1])
        # replay of the loop below: min-parent per round, expansion
        # stops once dst is discovered (the distributed loop checks
        # `found` at the top of the next round — same effect)
        parent: dict[str, str | None] = {src_key: None}
        frontier_keys = {src_key}
        found = src_key == dst_key
        for _ in range(max_depth):
            if found:
                break
            best: dict[str, str] = {}
            for s in frontier_keys:
                for d in adj.get(s, ()):
                    if d in parent:
                        continue
                    if d not in best or s < best[d]:
                        best[d] = s
            if not best:
                break
            parent.update(best)
            frontier_keys = set(best)
            found = dst_key in best
        if not found:
            return None
        path, cur = [], dst_key
        while cur is not None:
            path.append(cur)
            cur = parent.get(cur)
        return list(reversed(path))

    visited = local_frame(spark, [(src_key, None)],
                          "key string, parent string")
    frontier = visited
    found = src_key == dst_key
    for _ in range(max_depth):
        if found:
            break
        nxt = (frontier.join(e, frontier.key == e.src)
               .select(F.col("dst").alias("key"),
                       F.col("key").alias("parent"))
               .groupBy("key").agg(F.min("parent").alias("parent"))
               .join(visited.select("key"), on="key", how="left_anti")
               .localCheckpoint())
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
        found = not nxt.filter(F.col("key") == dst_key).isEmpty()
    if not found:
        e.unpersist()
        return None
    # walk parent pointers with per-hop lookups instead of collecting
    # the whole visited closure (round-2 finding #4: a 100×-scale
    # closure does not fit on the driver; the PATH always does —
    # ≤ max_depth+1 rows, one distributed filter per hop)
    path, cur = [], dst_key
    while cur is not None:
        path.append(cur)
        row = visited.filter(F.col("key") == cur) \
            .select("parent").first()
        cur = row.parent if row is not None else None
    e.unpersist()
    return list(reversed(path))


def bfs_path_edges(edges: DataFrame, src_key: str, dst_key: str,
                   max_depth: int = 5,
                   nodes: DataFrame | None = None,
                   direction: str = "out") -> DataFrame | None:
    """Shortest path src→dst WITH full edge (and optionally node)
    properties — the reference's path API returns node/edge OBJECTS,
    not bare keys (inmem/path.go:141-172 appends the typed edge and
    both endpoint nodes per hop). `bfs_path` gives the key list; this
    joins each consecutive hop back against the edges table, so the
    caller sees pred, n_evidence, first/last_seen, match_level per
    step. Among parallel edges for a hop the lexicographically
    smallest (pred, …) wins — deterministic, like every other
    tie-break in this engine.

    Returns None when unreachable; otherwise a DataFrame
    (step, subj_key, pred, obj_key, n_evidence, first_seen,
    last_seen, match_level [, subj_kind, obj_kind]) with exactly
    len(path)-1 rows. The path is ≤ max_depth hops, so the hop frame
    is driver-built; the property join stays distributed."""
    path = bfs_path(edges, src_key, dst_key, max_depth=max_depth,
                    direction=direction)
    if path is None:
        return None
    spark = edges.sparkSession
    hops = local_frame(
        spark, [(i, a, b) for i, (a, b) in enumerate(zip(path, path[1:]))],
        "step int, subj_key string, obj_key string")
    prop_cols = ["pred", "n_evidence", "first_seen", "last_seen",
                 "match_level"]
    fwd = edges.select("subj_key", "obj_key", *prop_cols)
    # a hop traversed against storage orientation surfaces the stored
    # edge (b, pred, a) under the TRAVERSAL orientation, keeping the
    # edge's own properties
    rev = edges.select(F.col("obj_key").alias("subj_key"),
                       F.col("subj_key").alias("obj_key"), *prop_cols)
    cand = {"out": fwd, "in": rev,
            "both": fwd.unionByName(rev)}[direction]
    from pyspark.sql import Window
    # full-tuple ordering: two stored orientations of an undirected
    # hop can tie on (pred, first_seen) — the remaining property
    # columns keep the pick deterministic
    w = Window.partitionBy("step").orderBy(
        "pred", "first_seen", "last_seen", F.desc("n_evidence"),
        "match_level")
    out = (F.broadcast(hops).join(cand, on=["subj_key", "obj_key"])
           .withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1)
           .select("step", "subj_key", "pred", "obj_key", "n_evidence",
                   "first_seen", "last_seen", "match_level"))
    if nodes is not None:
        kinds = nodes.select("canonical_key", "kind")
        out = (out
               .join(kinds.withColumnRenamed("canonical_key", "subj_key")
                     .withColumnRenamed("kind", "subj_kind"),
                     on="subj_key", how="left")
               .join(kinds.withColumnRenamed("canonical_key", "obj_key")
                     .withColumnRenamed("kind", "obj_kind"),
                     on="obj_key", how="left")
               .select("step", "subj_key", "subj_kind", "pred",
                       "obj_key", "obj_kind", "n_evidence",
                       "first_seen", "last_seen", "match_level"))
    return out.orderBy("step")


def toposort_levels(edges: DataFrame) -> DataFrame:
    """Kahn level assignment over the (src→dst) DAG; rows (key, level).
    Nodes still unassigned when a round strips nothing are cyclic
    (toposort.go:26-61 cycle detection)."""
    e = edges.select(F.col("subj_key").alias("src"),
                     F.col("obj_key").alias("dst")).distinct()
    spark = edges.sparkSession

    pairs, e = _driver_edge_list(e)
    if pairs is not None:
        # Kahn's algorithm with a frontier queue, value-identical to
        # the loop below: a level is the nodes whose last incoming edge
        # was stripped with the previous level (sorted within the
        # level); nodes never reaching in-degree 0 sit on or behind a
        # cycle and take level -1. O(n + m).
        out_adj: dict[str, list[str]] = {}
        indeg: dict[str, int] = {}
        for s, d in pairs:
            out_adj.setdefault(s, []).append(d)
            indeg.setdefault(s, 0)
            indeg[d] = indeg.get(d, 0) + 1
        frontier = sorted(k for k, n in indeg.items() if n == 0)
        rows, level = [], 0
        while frontier:
            rows.extend((k, level) for k in frontier)
            nxt = []
            for s in frontier:
                for d in out_adj.get(s, ()):
                    indeg[d] -= 1
                    if indeg[d] == 0:
                        nxt.append(d)
            frontier = sorted(nxt)
            level += 1
        rows.extend((k, -1) for k in sorted(k for k, n in indeg.items()
                                            if n > 0))
        return local_frame(spark, rows, "key string, level int")

    nodes = e.select(F.col("src").alias("key")).union(
        e.select(F.col("dst").alias("key"))).distinct()
    remaining_edges = e
    remaining_nodes = nodes.localCheckpoint()
    out = local_frame(spark, [], "key string, level int")
    level = 0
    while not remaining_nodes.isEmpty():
        with_incoming = remaining_edges.select(
            F.col("dst").alias("key")).distinct()
        roots = remaining_nodes.join(with_incoming, on="key",
                                     how="left_anti").localCheckpoint()
        if roots.isEmpty():
            # cycle: mark the rest with level -1
            out = out.unionByName(
                remaining_nodes.withColumn("level", F.lit(-1)))
            break
        out = out.unionByName(roots.withColumn("level", F.lit(level)))
        remaining_nodes = remaining_nodes.join(
            roots, on="key", how="left_anti").localCheckpoint()
        remaining_edges = remaining_edges.join(
            roots.withColumnRenamed("key", "src"), on="src",
            how="left_anti").localCheckpoint()
        level += 1
    e.unpersist()
    return out


def find_entities(nodes: DataFrame, kind: str | None = None,
                  key_prefix: str | None = None) -> DataFrame:
    """Nullable-spec entity lookup (each None = wildcard), the
    PkgSpec filter-walk analog (inmem/pkg.go:474-560). Catalyst folds
    the non-null conjuncts into the scan."""
    df = nodes
    if kind is not None:
        df = df.filter(F.col("kind") == kind)
    if key_prefix is not None:
        df = df.filter(F.col("canonical_key").startswith(key_prefix))
    return df


def degree_stats(edges: DataFrame, subj_col: str = "subj_key",
                 obj_col: str = "obj_key") -> DataFrame:
    """Per-node degree rollup over the edge table: (key, out_degree,
    in_degree, degree), one row per node appearing in any edge.
    Counts parallel edges (the edge table's prop-tuple dedup already
    collapsed true duplicates — materialize.py build_edges).

    Scale shape: two map-side-combinable counts + one full-outer join
    on the node key; head-entity skew is bounded by the partial
    aggregation. Exact DuckDB parity in tests/test_graph_analytics.py
    and `graph_degree_stats` in ungated_queries()."""
    out_d = (edges.groupBy(F.col(subj_col).alias("key"))
             .agg(F.count("*").alias("out_degree")))
    in_d = (edges.groupBy(F.col(obj_col).alias("key"))
            .agg(F.count("*").alias("in_degree")))
    return (out_d.join(in_d, on="key", how="full")
            .select("key",
                    F.coalesce("out_degree", F.lit(0))
                    .alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
            .withColumn("degree",
                        F.col("out_degree") + F.col("in_degree")))


# broadcast the O(nodes) rank frame below this node count: 4M rows of
# (short key, double) ≈ ≲64 MB resident — the same explicit-bound
# broadcast contract as link.py's dictionary and cc.py's driver path
PAGERANK_BROADCAST_MAX_NODES = 4_000_000


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85, subj_col: str = "subj_key",
             obj_col: str = "obj_key") -> DataFrame:
    """PageRank over the directed graph as iterated DataFrame joins
    (Page/Brin/Motwani/Winograd 1999 power iteration — public
    algorithm): returns (key, rank), sum(rank) == 1. The KG-analytics
    "which entities matter" rollup next to connected components
    (cc.py) — the reference's guacanalytics package walks the graph
    but has no centrality op; this is a beyond-reference addition.

    Semantics: parallel (subj, obj) edges count ONCE (web-graph
    convention); dangling-node mass (nodes with no out-edges) is
    redistributed uniformly each iteration, so ranks stay a
    probability distribution. Deterministic for a fixed edge set and
    iteration count; parity vs an exact Python power iteration in
    tests/test_graph_analytics.py.

    Scale shape: each iteration is one equi-join of the rank frame
    with the pre-deduped edge frame on the source key plus one
    map-side-combinable sum keyed by destination — the same
    shuffle-on-node-key pattern as cc.py's star iterations. Head
    in-degree entities are partial-agg safe. The rank frame is
    localCheckpoint-ed EVERY iteration: the per-iteration dangling-
    mass aggregate forces an evaluation anyway, so materializing once
    and letting the contribution join reuse it is strictly cheaper
    than re-deriving the lineage twice per iteration (and keeps the
    plan depth constant — on a real cluster, checkpoint to the job
    scratch dir). The driver scalars (N up front, dangling mass per
    iteration) are 1-row aggregates, not data collects."""
    # checkpoint the deduped edge list FIRST: nodes, out_deg and ew
    # below would each re-derive the upstream plan (often a join)
    # through the distinct otherwise
    e = (edges.select(F.col(subj_col).alias("src"),
                      F.col(obj_col).alias("dst"))
         .distinct().localCheckpoint())
    nodes = (e.select(F.col("src").alias("key"))
             .union(e.select(F.col("dst").alias("key")))
             .distinct().localCheckpoint())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy(F.col("src").alias("key")).agg(
        F.count("*").alias("out_degree"))
    # edge frame with the source fan-out attached once, reused every
    # iteration (join key: src) — contribution = rank(src)/out_degree
    ew = (e.join(out_deg, e.src == out_deg.key)
          .select("src", "dst", "out_degree").localCheckpoint())
    # the rank frame is O(nodes) — orders of magnitude below the edge
    # frame on any web-shaped graph. Below an explicit node bound
    # (~64 MB of (key, rank) rows resident) broadcast it, so each
    # iteration's contribution join never reshuffles the big edge
    # frame; n is the EXACT count computed above, not a Catalyst
    # estimate (the codebase's measured-size broadcast rule). Above
    # the bound both sides shuffle on the node key — the at-scale
    # path, same key every iteration.
    bcast = n <= PAGERANK_BROADCAST_MAX_NODES
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(iterations):
        ranks = ranks.localCheckpoint()
        dangling = (ranks.join(out_deg, on="key", how="left_anti")
                    .agg(F.sum("rank")).collect()[0][0]) or 0.0
        r = F.broadcast(ranks) if bcast else ranks
        contribs = (ew.join(r, ew.src == r.key)
                    .select("dst",
                            (F.col("rank") / F.col("out_degree"))
                            .alias("c"))
                    .groupBy(F.col("dst").alias("key"))
                    .agg(F.sum("c").alias("c")))
        ranks = (nodes.join(contribs, on="key", how="left")
                 .select("key",
                         (F.lit(base)
                          + F.lit(damping)
                          * (F.coalesce("c", F.lit(0.0))
                             + F.lit(dangling / n))).alias("rank")))
    return ranks.localCheckpoint()


def triangle_count(edges: DataFrame, subj_col: str = "subj_key",
                   obj_col: str = "obj_key") -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph
    induced by the edge table (direction and parallel edges ignored;
    self-loops dropped): (key, triangles), one row per node appearing
    in any edge. The clustering-structure analog next to degree_stats
    and pagerank — beyond-reference analytics.

    Skew shape (the standard orientation trick, Schank/Wagner 2005 —
    public algorithm): every undirected edge is oriented from its
    lower-(degree, key) endpoint to the higher, so wedge enumeration
    fans out only at LOW-degree vertices — a head entity with degree
    d contributes O(sqrt(m)) wedge work instead of O(d²), which is
    the difference between feasible and not on a Zipf web graph. The
    wedge join and the closing-edge join are both equi-joins on node
    keys (AQE-skew-safe); counts are map-side combinable. Exact
    DuckDB parity in tests/test_graph_analytics.py."""
    sym = (edges.select(F.col(subj_col).alias("u"),
                        F.col(obj_col).alias("v"))
           .filter(F.col("u") != F.col("v")))
    und = (sym.select(F.least("u", "v").alias("u"),
                      F.greatest("u", "v").alias("v"))
           .distinct().localCheckpoint())
    deg = und.select(F.col("u").alias("key")).union(
        und.select(F.col("v").alias("key"))) \
        .groupBy("key").agg(F.count("*").alias("deg"))
    # orient u→v iff (deg(u), u) < (deg(v), v); carry the endpoint
    # degrees so the closing edge canonicalizes without a global rank
    du = deg.select(F.col("key").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("key").alias("v"), F.col("deg").alias("dv"))
    w = und.join(du, on="u").join(dv, on="v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = (w.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"))
        .localCheckpoint())
    # wedges at the low endpoint; canonicalize the closing pair by the
    # same (deg, key) order so it matches exactly one oriented edge
    a = oriented.alias("a")
    b = oriented.alias("b")
    wedge = (a.join(b, on="src")
             .filter(F.struct(F.col("a.dst_deg"), F.col("a.dst"))
                     < F.struct(F.col("b.dst_deg"), F.col("b.dst")))
             .select(F.col("src").alias("k1"),
                     F.col("a.dst").alias("k2"),
                     F.col("b.dst").alias("k3")))
    closing = oriented.select(F.col("src").alias("k2"),
                              F.col("dst").alias("k3"))
    tri = wedge.join(closing, on=["k2", "k3"])
    per_node = (tri.select(F.explode(F.array("k1", "k2", "k3"))
                .alias("key"))
                .groupBy("key").agg(F.count("*").alias("triangles")))
    return (deg.select("key")
            .join(per_node, on="key", how="left")
            .select("key", F.coalesce("triangles", F.lit(0))
                    .alias("triangles")))


def _peel_coreness(pairs: list[tuple[str, str]]) -> tuple[list[str],
                                                           list[int]]:
    """Coreness of every node of the simple undirected graph `pairs`
    (no self-loops, no duplicate pairs) by bucket-queue peeling
    (Batagelj & Zaversnik 2003, public algorithm), O(n + m): nodes sit
    in an array sorted by current degree, `start[d]` indexes the first
    node of degree d, and removing the lowest-degree node moves each
    higher-degree neighbor one bucket down with a swap. Returns the
    sorted keys and their coreness in the same order (coreness does
    not depend on peel order)."""
    keys = sorted({k for p in pairs for k in p})
    idx = {k: i for i, k in enumerate(keys)}
    nbrs: list[list[int]] = [[] for _ in keys]
    for u, v in pairs:
        nbrs[idx[u]].append(idx[v])
        nbrs[idx[v]].append(idx[u])
    deg = [len(ns) for ns in nbrs]
    # counting sort of the nodes by degree
    start = [0] * (max(deg, default=0) + 2)
    for d in deg:
        start[d + 1] += 1
    for d in range(1, len(start)):
        start[d] += start[d - 1]
    fill = start[:]
    pos = [0] * len(keys)
    order = [0] * len(keys)
    for v, d in enumerate(deg):
        pos[v] = fill[d]
        order[pos[v]] = v
        fill[d] += 1
    for i in range(len(keys)):
        v = order[i]
        for u in nbrs[v]:
            du = deg[u]
            if du > deg[v]:
                # swap u with the first node of its bucket, then shrink
                # the bucket from the front: u now has degree du - 1
                w = order[start[du]]
                if u != w:
                    pu, pw = pos[u], start[du]
                    order[pu], order[pw] = w, u
                    pos[u], pos[w] = pw, pu
                start[du] += 1
                deg[u] = du - 1
    return keys, deg


def k_core(edges: DataFrame, subj_col: str = "subj_key",
           obj_col: str = "obj_key",
           max_iterations: int | None = None) -> DataFrame:
    """Coreness (k-core number) of every node in the UNDIRECTED
    simple graph induced by the edge table: (key, core). The
    degeneracy-ordering curation op of web-graph analysis (dense-core
    extraction / spam farms) next to degree_stats / pagerank /
    triangle_count.

    Algorithm: the h-index fixpoint (Lü/Zhou/Zhang/Stanley 2016,
    public): start every node at its degree, then repeatedly replace
    each node's value with the h-index of its neighbors' values;
    the fixpoint is exactly the coreness of the classic sequential
    peeling.

    Skew-hardened rounds (no neighbor multiset is ever
    materialized): each round computes a per-(key, value) COUNT
    histogram, a per-key suffix sum over value descending
    (sort-based window: spillable (key, t, cnt) triples, never an
    in-memory array), and h = max(min(t, suffix_count)) — the
    sorted-position identity h = max_i min(a_i, i) evaluated at each
    histogram block's last position. The count aggregation is
    map-side combinable, so a mega-hub's 10^8 neighbor values arrive
    at the reducer as per-partition partial counts, not rows. The
    histogram width carries a HARD bound: initial values are capped
    at B = ceil(sqrt(2m)) — a provable coreness upper bound
    (k(k+1)/2 <= m edges), and the h-index operator is monotone, so
    iterating from any pointwise bound between coreness and degree
    converges to the same fixpoint — and values only decrease, so
    every round's per-node histogram is <= min(degree, B) rows
    (~1.4M at m = 10^12; a 16-byte-row spillable sort, not an
    800 MB array). This replaces the earlier degree-bounded
    collect_list (mega-hub parity test:
    tests/test_graph_analytics.py::test_k_core_mega_hub_distributed).

    The update is POINTWISE monotone non-increasing (each round's
    h-index can only drop), so the value SUM is a sufficient AND
    EXACT convergence signal: sum-stable <=> pointwise-stable for
    monotone integer updates. The loop therefore runs to the true
    fixpoint (worst case O(diameter) rounds); `max_iterations` is a
    safety valve that RAISES on exhaustion rather than returning
    non-fixpoint (hence wrong) coreness values. localCheckpoint per
    round keeps plan depth constant. Exact parity vs the sequential
    peeling reference in tests/test_graph_analytics.py, including a
    130-node path (coreness 1 everywhere, ~65 rounds) that the old
    capped loop got wrong."""
    sym = (edges.select(F.col(subj_col).alias("u"),
                        F.col(obj_col).alias("v"))
           .filter(F.col("u") != F.col("v")))
    und = (sym.select(F.least("u", "v").alias("u"),
                      F.greatest("u", "v").alias("v"))
           .distinct())
    # bounded driver fast path (GRAPH_DRIVER_MAX_EDGES and the byte
    # bound; GUACKG_GRAPH_DRIVER_BOUND=0 pins the distributed
    # fixpoint): below the bounds the exact sequential peeling runs
    # driver-side — value-identical because the h-index fixpoint
    # EQUALS the peeling coreness (the Lü et al. theorem), asserted by
    # the mode-parity tests
    pairs, und = _driver_edge_list(und)
    if pairs is not None:
        keys, core = _peel_coreness(pairs)
        return local_frame(edges.sparkSession, list(zip(keys, core)),
                           "key string, core int")
    # pre-partition the adjacency by the per-round join key ONCE:
    # localCheckpoint preserves the hash partitioning, so every
    # round's join shuffles only the O(nodes) value frame — the
    # 2m-row adjacency never moves again (the same
    # checkpoint-the-big-side-once shape pagerank uses)
    adj = (und.select(F.col("u").alias("key"), F.col("v").alias("nbr"))
           .union(und.select(F.col("v").alias("key"),
                             F.col("u").alias("nbr")))
           .repartition("nbr")
           .localCheckpoint())
    m = und.count()  # already materialized; a metadata-cheap count
    und.unpersist()
    # B = ceil(sqrt(2m)) >= max coreness (a k-core needs k(k+1)/2
    # edges); capping the start values there keeps every round's
    # per-node histogram <= B rows and, by monotonicity of the
    # h-index operator, does not move the fixpoint
    bound = int(math.isqrt(2 * m)) + 1
    vals = (adj.groupBy("key")
            .agg(F.least(F.count("*"), F.lit(bound)).alias("core"))
            .localCheckpoint())
    nbr_w = Window.partitionBy("key").orderBy(F.desc("t"))
    prev_sum = None
    rounds = 0
    while True:
        if max_iterations is not None and rounds >= max_iterations:
            raise RuntimeError(
                f"k_core: fixpoint not reached in {max_iterations} "
                "rounds (safety valve); rerun with "
                "max_iterations=None for the exact result")
        rounds += 1
        # per-(key, value) histogram of neighbor values — the only
        # per-node state that ever crosses the shuffle
        hist = (adj.join(vals.withColumnRenamed("key", "nbr")
                         .withColumnRenamed("core", "t"), on="nbr")
                .groupBy("key", "t")
                .agg(F.count("*").alias("cnt")))
        # h = max over histogram rows of min(t, suffix_count): the
        # classic sorted-position identity h = max_i min(a_i, i)
        # evaluated at each block's last position. NOT "max t with
        # suffix_count >= t" over present values — that misses
        # h-indices at absent thresholds (values [3,3,1]: true h=2
        # via t=2, which is not a present value; min(3, ge=2)=2
        # finds it). Covered by the two-K4s-bridge peeling fixture.
        nxt = (hist.withColumn("ge", F.sum("cnt").over(nbr_w))
               .groupBy("key")
               .agg(F.max(F.least("t", "ge")).alias("core"))
               .localCheckpoint())
        cur_sum = nxt.agg(F.sum("core")).collect()[0][0]
        vals = nxt
        if cur_sum == prev_sum:
            return vals
        prev_sum = cur_sum
