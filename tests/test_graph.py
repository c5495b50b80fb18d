"""Query-layer tests: neighbors / closure / BFS path / toposort
(SURVEY §2.5, §2.9) over a small known graph."""

import pytest
from pyspark.sql import functions as F

from guackg.graph import (affected_roots, bfs_path, blast_radius,
                          find_entities, neighbors, reachable_from,
                          toposort_levels)


@pytest.fixture(scope="module")
def edges(spark):
    rows = [
        ("a", "founded_by", "b"),
        ("b", "works_for", "c"),
        ("c", "located_in", "d"),
        ("d", "located_in", "e"),
        ("x", "owns", "a"),
        ("c", "owns", "f"),
    ]
    return spark.createDataFrame(
        rows, "subj_key string, pred string, obj_key string")


def test_neighbors_directions_and_pred_filter(edges):
    both = neighbors(edges, "c")
    got = {(r.neighbor_key, r.direction) for r in both.collect()}
    assert got == {("d", "out"), ("f", "out"), ("b", "in")}
    only_owns = neighbors(edges, "c", preds=["owns"])
    assert {r.neighbor_key for r in only_owns.collect()} == {"f"}


def test_reachable_from_depth(edges):
    r = reachable_from(edges, ["a"], max_depth=2)
    got = {(x.key, x.depth) for x in r.collect()}
    assert got == {("a", 0), ("b", 1), ("c", 2)}
    r3 = reachable_from(edges, ["a"], max_depth=10)
    assert {x.key for x in r3.collect()} == {"a", "b", "c", "d", "e", "f"}


def test_blast_radius_parents_and_determinism(spark, edges):
    r = blast_radius(edges, ["a"], max_depth=3)
    got = {x.key: (x.depth, x.parent, x.via_pred) for x in r.collect()}
    assert got["a"] == (0, None, None)
    assert got["b"] == (1, "a", "founded_by")
    assert got["c"] == (2, "b", "works_for")
    assert got["d"] == (3, "c", "located_in")
    assert got["f"] == (3, "c", "owns")
    # two min-depth discoverers -> lexicographically smallest parent
    diamond = spark.createDataFrame(
        [("s", "p1", "m1"), ("s", "p2", "m2"),
         ("m1", "z", "t"), ("m2", "z", "t")],
        "subj_key string, pred string, obj_key string")
    got2 = {x.key: (x.parent, x.via_pred)
            for x in blast_radius(diamond, ["s"], 3).collect()}
    assert got2["t"] == ("m1", "z")


def test_affected_roots_reverse_search(edges):
    # who can reach d (the 'vulnerable' node)? roots in the 'a'/'x'
    # namespace among {a,b,c,x}
    r = affected_roots(edges, ["d"], root_prefix="", max_depth=5)
    assert {x.key for x in r.collect()} == {"d", "c", "b", "a", "x"}
    only_x = affected_roots(edges, ["d"], root_prefix="x", max_depth=5)
    assert {x.key for x in only_x.collect()} == {"x"}


def test_bfs_path(edges):
    assert bfs_path(edges, "a", "e") == ["a", "b", "c", "d", "e"]
    assert bfs_path(edges, "e", "a") is None
    assert bfs_path(edges, "a", "a") == ["a"]


def test_bfs_path_undirected(spark, edges):
    """path.go:103-150 parity: the reference's Path BFS expands
    Neighbors — BOTH edge directions (adjacency built both ways at
    path.go:57-101) — so a pair connected only against edge direction
    still has a path. Directed search must fail where undirected
    succeeds."""
    # e→a: only reachable walking every edge backwards
    assert bfs_path(edges, "e", "a") is None
    assert bfs_path(edges, "e", "a", direction="both") == \
        ["e", "d", "c", "b", "a"]
    # f→d: needs one backward hop (f←c) then one forward (c→d)
    assert bfs_path(edges, "f", "d") is None
    assert bfs_path(edges, "f", "d", direction="both") == ["f", "c", "d"]
    # deterministic min-parent among two equal-length undirected routes
    g = spark.createDataFrame(
        [("s", "p", "m2"), ("m2", "p", "t"), ("m1", "p", "s"),
         ("m1", "p", "t")],
        "subj_key string, pred string, obj_key string")
    assert bfs_path(g, "s", "t", direction="both") == ["s", "m1", "t"]


def test_bfs_path_edges_undirected_orientation(spark):
    """An undirected hop traversed against storage orientation still
    surfaces the stored edge's properties, reported under the
    TRAVERSAL orientation."""
    from datetime import datetime
    from guackg.graph import bfs_path_edges
    ts = datetime(2024, 1, 1)
    e = spark.createDataFrame(
        [("a", "founded_by", "b", 3, ts, ts, "exact"),
         ("c", "works_for", "b", 1, ts, ts, "fuzzy")],
        "subj_key string, pred string, obj_key string, n_evidence long,"
        "first_seen timestamp, last_seen timestamp, match_level string")
    assert bfs_path_edges(e, "a", "c") is None
    rows = bfs_path_edges(e, "a", "c", direction="both").collect()
    assert [(r.step, r.subj_key, r.pred, r.obj_key) for r in rows] == \
        [(0, "a", "founded_by", "b"), (1, "b", "works_for", "c")]
    assert rows[1].n_evidence == 1 and rows[1].match_level == "fuzzy"


def test_version_gated_traversal(spark):
    """patchPlanning.go:247 DoesRangeInclude parity: a hop carrying a
    version constraint is followed only when the destination's version
    satisfies it; constraint-free hops always pass; a constrained hop
    to a node with no known version never passes."""
    e = spark.createDataFrame(
        [("app", "depends_on", "lib@1.2.0", "^1.0.0"),
         ("app", "depends_on", "lib@2.0.0", "^1.0.0"),
         ("app", "depends_on", "doc", None),
         ("lib@1.2.0", "depends_on", "core@0.9.0", "~0.9.0 || >=2.0.0"),
         ("lib@2.0.0", "depends_on", "core@3.1.4", "=3.1.3"),
         ("doc", "depends_on", "ghost", ">=0.0.0")],
        "subj_key string, pred string, obj_key string, constraint string")
    vers = spark.createDataFrame(
        [("lib@1.2.0", "1.2.0"), ("lib@2.0.0", "2.0.0"),
         ("core@0.9.0", "0.9.0"), ("core@3.1.4", "3.1.4")],
        "key string, version string")
    got = {(r.key, r.depth)
           for r in reachable_from(e, ["app"], max_depth=3,
                                   node_versions=vers).collect()}
    # lib@2.0.0 fails ^1.0.0; core@3.1.4 fails =3.1.3 (and is only
    # reachable through the failed lib@2.0.0 anyway); ghost has no
    # version so >=0.0.0 cannot admit it; the union's ~0.9.0 branch
    # admits core@0.9.0
    assert got == {("app", 0), ("lib@1.2.0", 1), ("doc", 1),
                   ("core@0.9.0", 2)}
    # ungated: everything is reachable
    ungated = {r.key for r in reachable_from(
        e.drop("constraint"), ["app"], max_depth=3).collect()}
    assert ungated == {"app", "lib@1.2.0", "lib@2.0.0", "doc",
                       "core@0.9.0", "core@3.1.4", "ghost"}
    # blast radius honors the same gate and keeps parent pointers
    br = {r.key: (r.depth, r.parent)
          for r in blast_radius(e, ["app"], max_depth=3,
                                node_versions=vers).collect()}
    assert set(br) == {"app", "lib@1.2.0", "doc", "core@0.9.0"}
    assert br["core@0.9.0"] == (2, "lib@1.2.0")
    # versions given but no constraint column: LOUD error, never a
    # silently ungated (over-broad) closure — round-4 review #2
    import pytest as _pytest
    for fn in (reachable_from, blast_radius):
        with _pytest.raises(ValueError, match="no 'constraint' column"):
            fn(e.drop("constraint"), ["app"], max_depth=3,
               node_versions=vers)


def test_toposort_levels_dag_and_cycle(spark, edges):
    levels = {r.key: r.level for r in toposort_levels(edges).collect()}
    assert levels["x"] == 0
    assert levels["a"] == 1
    assert levels["e"] == 5
    # cycle detection
    cyc = spark.createDataFrame(
        [("p", "r", "q"), ("q", "r", "p"), ("p", "r", "s")],
        "subj_key string, pred string, obj_key string")
    lv = {r.key: r.level for r in toposort_levels(cyc).collect()}
    assert lv["p"] == -1 and lv["q"] == -1


def test_find_entities_nullable_spec(spark):
    nodes = spark.createDataFrame(
        [(1, "person", "ent:person/ada"), (2, "org", "ent:org/acme")],
        "entity_id long, kind string, canonical_key string")
    assert find_entities(nodes).count() == 2
    assert find_entities(nodes, kind="org").count() == 1
    assert find_entities(nodes, key_prefix="ent:person/").count() == 1


def test_reachable_from_skip_keys_tombstones(spark, edges):
    """path.go:314 noVuln-skip semantics: tombstoned nodes are neither
    reported nor traversed through — everything reachable ONLY via
    them drops out of the closure."""
    skip = spark.createDataFrame([("c",)], "key string")
    got = {(r.key, r.depth)
           for r in reachable_from(edges, ["a"], max_depth=5,
                                   skip_keys=skip).collect()}
    # without the tombstone: a->b->c->d->e and c->f
    assert got == {("a", 0), ("b", 1)}
    # skip set empty == plain closure
    empty = spark.createDataFrame([], "key string")
    base = {r.key for r in reachable_from(edges, ["a"], max_depth=5,
                                          skip_keys=empty).collect()}
    assert base == {"a", "b", "c", "d", "e", "f"}


def test_bfs_path_edges_full_properties(spark):
    """path.go:141-172 parity: the path API returns typed edge (and
    node) objects, not bare keys — and picks deterministically among
    parallel edges (lexicographically smallest pred)."""
    from datetime import datetime
    from guackg.graph import bfs_path_edges
    ts1, ts2 = datetime(2024, 1, 1), datetime(2024, 6, 1)
    e = spark.createDataFrame(
        [("a", "founded_by", "b", 3, ts1, ts2, "exact"),
         ("b", "works_for", "c", 1, ts1, ts1, "fuzzy"),
         # parallel edge on the same hop — 'advises' < 'works_for'
         ("b", "advises", "c", 2, ts2, ts2, "exact")],
        "subj_key string, pred string, obj_key string, n_evidence long,"
        "first_seen timestamp, last_seen timestamp, match_level string")
    nodes = spark.createDataFrame(
        [(1, "org", "a"), (2, "person", "b"), (3, "org", "c")],
        "entity_id long, kind string, canonical_key string")
    rows = bfs_path_edges(e, "a", "c", nodes=nodes).collect()
    assert [(r.step, r.subj_key, r.pred, r.obj_key) for r in rows] == \
        [(0, "a", "founded_by", "b"), (1, "b", "advises", "c")]
    assert rows[0].n_evidence == 3 and rows[0].match_level == "exact"
    assert rows[1].n_evidence == 2  # the deterministic parallel pick
    assert [(r.subj_kind, r.obj_kind) for r in rows] == \
        [("org", "person"), ("person", "org")]
    assert bfs_path_edges(e, "c", "a") is None


def test_neighbors_rejects_bad_direction(edges):
    """neighbors validates direction like bfs_path does — a typo must
    raise, not silently return the both-directions superset."""
    from guackg.graph import neighbors
    with pytest.raises(ValueError, match="direction"):
        neighbors(edges, "ent:org/acme", direction="inbound")


def test_kind_of_key_never_empty(spark):
    """kind is the nodes table's PARTITION column: an empty-string
    kind round-trips through the Hive layout as NULL and escapes the
    incremental merge's affected-partition filter (silent row loss).
    Malformed ent: keys must fall back, never extract to ''."""
    from guackg.materialize import kind_of_key
    keys = ["ent:org/acme",            # normal
            "ent:software_component/x",  # non-[a-z] kind chars
            "ent:Org2/x",              # uppercase + digit
            "ent:/missing_kind",       # empty kind segment
            "ent:noslash",             # no slash at all
            "ent:guac/fallback",       # synthesized
            "page:abc123", "something_else",
            # kinds whose dir name Spark would HIVE-ESCAPE (':'→'%3A',
            # space, '%') — they must fall back to 'external', never
            # mint an escaped partition dir that breaks merge_upsert's
            # literal col=value cleanup arithmetic (round-4 review #1)
            "ent:a:b/x", "ent:with space/x", "ent:pc%t/x",
            # leading '_'/'.'/'-' pass the old charset but the sink
            # guard (io._PART_VALUE_SAFE) rejects them — they must
            # fall back, not crash the merge (round-4 review #2)
            "ent:_private/svc", "ent:.hidden/x", "ent:-dash/x"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {r.k: r.kind for r in
           df.select("k", kind_of_key(F.col("k")).alias("kind")).collect()}
    assert got["ent:org/acme"] == "org"
    assert got["ent:software_component/x"] == "software_component"
    assert got["ent:Org2/x"] == "Org2"
    assert got["ent:/missing_kind"] == "external"
    assert got["ent:noslash"] == "external"
    assert got["ent:guac/fallback"] == "unlinked"
    assert got["page:abc123"] == "page"
    assert got["something_else"] == "external"
    assert got["ent:a:b/x"] == "external"
    assert got["ent:with space/x"] == "external"
    assert got["ent:pc%t/x"] == "external"
    assert got["ent:_private/svc"] == "external"
    assert got["ent:.hidden/x"] == "external"
    assert got["ent:-dash/x"] == "external"
    assert all(k is not None and k != "" for k in got.values())


def test_blast_radius_skip_keys_tombstones(spark, edges):
    """blast_radius honors the same noVuln-skip contract as
    reachable_from (path.go:314): a skipped node is neither reported
    (no parent row) nor traversed through (its subtree drops out) —
    the --query blast --skip-tombstoned CLI path."""
    skip = spark.createDataFrame([("c",)], "key string")
    got = {r.key: (r.depth, r.parent)
           for r in blast_radius(edges, ["a"], max_depth=5,
                                 skip_keys=skip).collect()}
    # without the tombstone: a->b->c->{d->e, f}
    assert set(got) == {"a", "b"}
    assert got["b"] == (1, "a")
    # and the skipped closure is a strict subset of the plain one
    plain = {r.key for r in blast_radius(edges, ["a"],
                                         max_depth=5).collect()}
    assert set(got) < plain


def test_driver_fast_path_parity_with_distributed(spark, monkeypatch):
    """The byte/row-bounded driver BFS fast path (graph.py
    _driver_edge_list — cc.py's adaptive union-find rule applied to
    traversals) must be VALUE-IDENTICAL to the iterative DataFrame
    loops: every tie-break is a deterministic lexicographic min, so
    the replay is exact. Runs the same queries (incl. skip keys, pred
    filters, undirected path) with the fast path on (default bound)
    and off (GUACKG_GRAPH_DRIVER_BOUND=0) and compares results."""
    rows = [(f"n{i:02d}", f"p{i % 3}", f"n{(i * 7 + 3) % 40:02d}")
            for i in range(160)]
    g = spark.createDataFrame(
        rows, "subj_key string, pred string, obj_key string")
    # n33 sits on n01's only outgoing chain (n01→n10→n33→n34→n01):
    # skipping it must also drop n34 — a content check, not just
    # mode-parity
    skip = spark.createDataFrame([("n33",)], "key string")

    def run_all():
        return (
            {(r.key, r.depth) for r in
             reachable_from(g, ["n01"], max_depth=6,
                            skip_keys=skip).collect()},
            {(r.key, r.depth, r.parent, r.via_pred) for r in
             blast_radius(g, ["n01"], max_depth=5,
                          preds=["p0", "p1"], skip_keys=skip).collect()},
            bfs_path(g, "n01", "n32", max_depth=8, direction="both"),
            bfs_path(g, "n01", "n32", max_depth=8, direction="out"),
            # the i*7+3 graph contains cycles, so this also pins the
            # Kahn replay's level -1 (cyclic) marking
            {(r.key, r.level) for r in toposort_levels(g).collect()},
        )

    fast = run_all()
    no_skip = {(r.key, r.depth) for r in
               reachable_from(g, ["n01"], max_depth=6).collect()}
    monkeypatch.setenv("GUACKG_GRAPH_DRIVER_BOUND", "0")
    slow = run_all()
    assert fast == slow
    # content: the tombstone prunes its whole subtree in both modes
    assert {k for k, _ in no_skip} >= {"n33", "n34"}
    assert not {k for k, _ in fast[0]} & {"n33", "n34"}


def test_traversal_replay_property(spark):
    """Property sweep of the driver replay vs the distributed loops
    over randomized graphs (hypothesis generates the batch up front;
    each case runs both modes). Cheap but adversarial shapes: dense
    multigraphs, self-loops (dropped by both), cycles, disconnected
    nodes, skip sets intersecting the closure."""
    import os as _os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge_st = st.lists(
        st.tuples(st.integers(0, 9),
                  st.sampled_from(["p", "q"]),
                  st.integers(0, 9)),
        min_size=1, max_size=25)
    skip_st = st.sets(st.integers(0, 9), max_size=2)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(edges_idx=edge_st, skip_idx=skip_st)
    def _case(edges_idx, skip_idx):
        g = spark.createDataFrame(
            [(f"n{a}", p, f"n{b}") for a, p, b in edges_idx],
            "subj_key string, pred string, obj_key string")
        skip = (spark.createDataFrame(
                    [(f"n{i}",) for i in sorted(skip_idx)], "key string")
                if skip_idx else None)

        def run_all():
            return (
                {(r.key, r.depth) for r in
                 reachable_from(g, ["n0"], max_depth=4,
                                skip_keys=skip).collect()},
                {(r.key, r.depth, r.parent, r.via_pred) for r in
                 blast_radius(g, ["n0"], max_depth=4,
                              skip_keys=skip).collect()},
                bfs_path(g, "n0", "n9", max_depth=5, direction="both"),
                {(r.key, r.level) for r in toposort_levels(g).collect()},
            )

        try:
            _os.environ.pop("GUACKG_GRAPH_DRIVER_BOUND", None)
            fast = run_all()
            _os.environ["GUACKG_GRAPH_DRIVER_BOUND"] = "0"
            slow = run_all()
        finally:
            _os.environ.pop("GUACKG_GRAPH_DRIVER_BOUND", None)
        assert fast == slow

    _case()


def _jobs_of(spark, group: str, run) -> int:
    """Spark jobs `run()` issues under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_path_ops_cost_at_most_two_jobs(spark, edges):
    """A driver-path op is one bounded Arrow collect of its distinct
    edge frame (the distinct's shuffle and the collect that checks the
    bound: 2 jobs) and its answer is a LocalRelation, so collecting the
    result adds no job — no persist+count, no sizing aggregate, no
    pickled result frame."""
    from guackg.graph import k_core
    ops = {
        "reachable_from": lambda: reachable_from(edges, ["a"], 5).collect(),
        "blast_radius": lambda: blast_radius(edges, ["a"], 5).collect(),
        "bfs_path": lambda: bfs_path(edges, "a", "e", direction="both"),
        "k_core": lambda: k_core(edges).collect(),
        "toposort_levels": lambda: toposort_levels(edges).collect(),
    }
    jobs = {name: _jobs_of(spark, f"driver-path-{name}", run)
            for name, run in ops.items()}
    assert all(1 <= n <= 2 for n in jobs.values()), jobs


def test_blast_radius_driver_schema_and_null_parents(spark, edges):
    """blast_radius's driver answer keeps the distributed loop's schema
    (all columns nullable) and NULL parent/via_pred at depth 0."""
    import json

    from pyspark.sql.types import StructType

    from guackg.graph import BLAST_RADIUS_DDL
    want = StructType.fromDDL(BLAST_RADIUS_DDL)
    df = blast_radius(edges, ["a"], max_depth=1)
    assert df.schema == want
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == want
    assert sorted(tuple(r) for r in df.collect()) == [
        ("a", 0, None, None), ("b", 1, "a", "founded_by")]


def test_toposort_levels_driver_chain_is_linear(spark):
    """Driver Kahn levels on a 20k-node chain: level i for node i, rows
    in level order, in linear time (a replay that rescans every
    remaining node per level is quadratic here: 32 s on a 4-vCPU
    host)."""
    import time

    import pyarrow as pa
    n = 20_000
    keys = [f"n{i:05d}" for i in range(n)]
    chain = spark.createDataFrame(pa.table({
        "subj_key": keys[:-1], "pred": ["next"] * (n - 1),
        "obj_key": keys[1:]}))
    t0 = time.perf_counter()
    rows = [tuple(r) for r in toposort_levels(chain).collect()]
    elapsed = time.perf_counter() - t0
    assert rows == [(k, i) for i, k in enumerate(keys)]
    assert elapsed < 15, elapsed
