"""Connected components over a DataFrame edge list.

Large-star / small-star alternation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — the canonical O(log n)-round, shuffle-bounded
algorithm, expressed entirely as DataFrame ops in a driver-side convergence
loop. No GraphFrames dependency.

This is the canonicalization stage of the KG pipeline (ref analog: the repair
pass that unifies partial records per trip, `lib/Gtfsrt2LC.js:438-665`): KB
records connected by sameAs/coref edges collapse to one canonical id = the
minimum member of the component.

Scale posture: each round is two shuffles (groupBy src); ``localCheckpoint``
after every round truncates lineage so plans stay bounded; skewed high-degree
stars are exactly what large-star is designed to flatten. Convergence test is
an aggregate (count + checksum), not a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src"), F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.union(rev).where(F.col("src") != F.col("dst")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m = min(N(u) ∪ {u}).

    Operates on the undirected graph: symmetrize before grouping."""
    nbrs = _symmetrize(edges).groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    nbrs = nbrs.withColumn("m", F.least(F.array_min("nbrs"), F.col("src")))
    out = (
        nbrs.select(
            F.explode(F.filter("nbrs", lambda v: v > F.col("src"))).alias("v"),
            F.col("m"),
        )
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """For edges directed large->small: connect all small neighbors and u
    itself to m = min(N(u) ∪ {u})."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    nbrs = directed.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    nbrs = nbrs.withColumn("m", F.array_min("nbrs"))
    out = (
        nbrs.select(
            F.explode(F.array_union("nbrs", F.array("src"))).alias("v"),
            F.col("m"),
        )
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )
    return out


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _union_find_local(pairs: list[tuple], spark, schema) -> DataFrame:
    """Driver-side union-find for small edge sets — the same
    small-side-goes-local reasoning as a broadcast join. Identical output
    contract as the distributed path (asserted by tests)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(v, find(v)) for v in parent]
    return spark.createDataFrame(rows, schema)


SMALL_GRAPH_EDGES = 100_000


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20,
    small_graph_edges: int = SMALL_GRAPH_EDGES, rounds_per_check: int = 2,
) -> DataFrame:
    """Return (vertex, component) where component = min vertex id reachable.

    Vertices appearing only as isolated nodes must be unioned in by the
    caller (they map to themselves).

    Small graphs (<= small_graph_edges) short-circuit to a driver-side
    union-find — the iterative star rounds cost ~10 Spark jobs of fixed
    overhead, which dominates for KB-sized inputs; the distributed
    large-star/small-star path engages beyond the threshold.
    """
    raw = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if small_graph_edges > 0:
        # Probe and collect the RAW edge list: union-find is direction- and
        # duplicate-insensitive (union(a,b) == union(b,a), repeats are
        # no-ops, a==b skipped), so the symmetrize+distinct exchange the
        # distributed star rounds need is pure overhead on the small path —
        # it cost one extra shuffle of the whole upstream plan before the
        # collect (guide §2.4). The threshold now counts raw edges (was
        # symmetrized-distinct, i.e. up to 2x raw): same order of
        # magnitude, still a driver-memory bound.
        head = raw.limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            spark = edges.sparkSession
            vt = raw.schema["src"].dataType.simpleString()
            return _union_find_local(
                [(r["src"], r["dst"]) for r in head],
                spark,
                f"vertex {vt}, component {vt}",
            )
    e = _symmetrize(raw).localCheckpoint()
    prev = _checksum(e)
    # rounds_per_check > 1 amortizes the convergence-probe job: the checksum
    # aggregate is a fixed-overhead full pass, and a converged edge set is a
    # fixed point of a star round, so probing only every k-th round trades at
    # most (k-1) no-op rounds at the end for k-fold fewer probe jobs — a net
    # win because component diameters shrink doubly-exponentially (most real
    # graphs converge in 2-4 rounds) and each probe costs a whole Spark job.
    for _ in range(max_iter):
        for _r in range(max(1, rounds_per_check)):
            e = _small_star(_large_star(e))
        e = e.localCheckpoint()
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged: every edge is (member, root). Roots map to themselves.
    members = e.select(
        F.greatest("src", "dst").alias("vertex"), F.least("src", "dst").alias("component")
    ).distinct()
    roots = members.select(F.col("component").alias("vertex")).distinct().withColumn(
        "component", F.col("vertex")
    )
    return members.unionByName(roots).groupBy("vertex").agg(
        F.min("component").alias("component")
    )
