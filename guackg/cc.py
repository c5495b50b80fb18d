"""Stage 4 — CANONICALIZE: connected components over equivalence edges.

The reference gets component identity for free: one process, one
RW-mutex, one interning trie — every equivalent surface lands on the
same in-memory node (/root/reference/pkg/assembler/backends/inmem/
backend.go:73-106, pkg.go:344-434). A distributed pipeline must
compute it: we run the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) as iterated DataFrame self-joins.

Node ids are the canonical-key STRINGS; the component representative
is the lexicographic min of the component (deterministic — no
sequence numbers, the scale-out replacement for guac's atomic uint32
id, backend.go:73-75).

Scale notes: every iteration is one groupBy + one join (both on the
node key). Lineage is cut with localCheckpoint every iteration (on a
real cluster: checkpoint to the job's scratch Iceberg/HDFS dir) so
the plan doesn't grow exponentially. Convergence is O(log n)
iterations; a star of 10^6 aliases converges in 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from guackg.local import collect_bounded, local_frame

MAX_ITERATIONS = 25

# Below these bounds the equivalence graph is solved with driver-side
# union-find — the same adaptive small-side rule as a broadcast join
# (Spark's autoBroadcastJoinThreshold): the distinct edge list is
# checked against the bounds and pulled in one bounded Arrow collect
# (local.collect_bounded), and the components leave as a LocalRelation
# (local.local_frame), instead of O(log n) shuffle iterations. The
# star iterations remain the large-graph path. The BYTES bound
# (key-length sum) is the binding one (1M edges of long URL keys is
# hundreds of MB once in a Python dict); the check enforces it before
# anything reaches the driver, and 128 MB of raw key bytes ≈ ≲1 GB
# resident driver-side — safe inside an 8 GB driver.
DRIVER_CC_MAX_EDGES = 1_000_000
DRIVER_CC_MAX_BYTES = 128 * 1024 * 1024


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to
    m = min(N(u) ∪ {u})."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).filter(F.col("u") != F.col("v"))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
    return (sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Edges arrive oriented (u > v). For each u: connect all
    neighbors ≤ u (and u itself) to m = min neighbor."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (oriented.join(mins, on="u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
    self_edges = mins.select("u", F.col("m").alias("v"))
    return (nbr_edges.union(self_edges)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """(edge count, content hash) in ONE 1-row agg: the convergence
    signal of the star iterations."""
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(spark, pairs) -> DataFrame:
    """Small-graph path: union-find on the driver over the Arrow table
    of collected (u, v) pairs, min-string representative —
    bit-identical output to the star iterations."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pairs.column(0).to_pylist(),
                    pairs.column(1).to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-string wins ⇒ canon == lexicographic component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(k, find(k)) for k in parent]
    return local_frame(spark, rows, "member_key string, canon_key string")


def connected_components(
    equivalence_edges: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """equivalence_edges → components(member_key, canon_key), one row
    per node that appears in any edge (singletons are implicit: a key
    absent here is its own canon)."""
    edges = (equivalence_edges
             .select(F.col(key_a).alias("u"), F.col(key_b).alias("v"))
             .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
             .filter(F.col("u") != F.col("v"))
             .distinct())

    pairs, edges = collect_bounded(edges, driver_max_edges,
                                   DRIVER_CC_MAX_BYTES, checkpoint=True)
    if pairs is not None:
        return _driver_union_find(edges.sparkSession, pairs)
    prev = _checksum(edges)
    for _ in range(MAX_ITERATIONS):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        # never fall through silently: before the fixpoint a member
        # can still carry edges to several roots, and the
        # dropDuplicates below would pick one ARBITRARILY — two
        # members of one true component mapped to different canons,
        # corrupting every downstream table with no error
        raise RuntimeError(
            f"connected_components did not converge after "
            f"{MAX_ITERATIONS} star iterations ({prev[0]} edges); "
            "raise MAX_ITERATIONS — star contraction needs "
            "O(log n) rounds, so this indicates pathological input")

    # At the fixpoint every edge is (member, root).
    stars = edges  # u > v = root
    roots = stars.select(F.col("v").alias("member_key"),
                         F.col("v").alias("canon_key")).distinct()
    members = stars.select(F.col("u").alias("member_key"),
                           F.col("v").alias("canon_key"))
    return members.union(roots).dropDuplicates(["member_key"])


def canonicalize_keys(df: DataFrame, key_col: str,
                      components: DataFrame) -> DataFrame:
    """Replace key_col with its component representative (identity for
    keys with no component). Broadcast when components is small; at
    web scale this is a shuffle hash join on the key."""
    comp = components.withColumnRenamed("member_key", key_col)
    return (df.join(comp, on=key_col, how="left")
            .withColumn(key_col, F.coalesce("canon_key", F.col(key_col)))
            .drop("canon_key"))
