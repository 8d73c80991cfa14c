"""Connected components — the deterministic sibling of the reference's
Chinese-Whispers clustering (SURVEY §2.10).

The reference only ships the randomized CW label propagation
(``etl_textreuse/assets/chinese_label_propagation.py``); its cluster
universe is nonetheless partitioned into *connected components*, and a
deterministic CC operator is both the natural QC check for CW output
(every CW cluster must sit inside one component) and the only member of
the iterative-graph family whose result SQL can verify exactly — which
puts this file under the full DuckDB-oracle gate, where CW can only get
a rows-only check.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-bounded formulation for Spark scale:

- every round is ``groupBy(u).min`` + an equi-join back on ``u`` — both
  shuffle on the same key, so AQE plans one exchange reused by both;
- the edge set shrinks monotonically toward one star per component, in
  O(log² n) rounds (O(log n) in practice) — a 10⁹-edge graph at the
  reference's scale converges in ~10 rounds, each a bounded shuffle, vs
  the unbounded frontier growth of naive label flooding;
- per-round parquet round-trips on alternating paths stop physical
  recomputation growth (``localCheckpoint`` does NOT bound the
  recompute chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.checkpoints import session_temp_dir


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Orient every edge large→small, drop self-loops, dedup."""
    s, d = F.col(src).cast("long"), F.col(dst).cast("long")
    return (
        edges.select(
            F.greatest(s, d).alias("u"), F.least(s, d).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u: attach every strictly-larger neighbor to
    min(N(u) ∪ {u}).  Input/output: canonical (u > v) edge set."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u")).alias("m")
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    """For every node u (edges oriented u > v): attach u and all its
    smaller neighbors to the smallest of them."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    with_min = e.join(mins, "u")
    neighbor_edges = with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    out = neighbor_edges.union(self_edges)
    return out.filter(F.col("u") != F.col("v")).distinct()


def _checksum_metrics() -> tuple:
    # decimal accumulation: summing raw xxhash64 longs overflows under
    # Spark 4's default ANSI mode
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``(node, component)`` — component = smallest node id reachable
    from ``node``; deterministic, partition-count independent.

    ``nodes`` (optional, one column ``node_col``) adds isolated vertices
    that appear in no edge; they label themselves.

    ``checkpoint_dir`` must be a path visible to every executor (HDFS /
    object store) — the per-iteration parquet round-trip is the lineage
    cut that keeps plans flat. The default, a :func:`session_temp_dir`
    removed at interpreter exit, is a DRIVER-LOCAL path, valid only on
    ``local[*]`` masters where driver and executors share a filesystem;
    on a cluster each executor would write to its own disk and the
    read-back would lose partitions, so it is refused there. Falls back to ``spark.sparkContext.getCheckpointDir``
    (shared by contract) when one is set.
    """
    spark = edges.sparkSession
    if checkpoint_dir is None:
        master = spark.conf.get("spark.master", "")
        sc_ckpt = spark.sparkContext.getCheckpointDir()
        if sc_ckpt is not None:
            checkpoint_dir = sc_ckpt.rstrip("/") + "/cc_ckpt"
        elif not master.startswith("local"):
            raise ValueError(
                "connected_components on a non-local master requires "
                "checkpoint_dir (or sparkContext.setCheckpointDir) pointing "
                "at shared storage; a driver-local temp dir is not visible "
                f"to executors (master={master!r})"
            )
    checkpoint = checkpoint_dir or session_temp_dir("cc_ckpt_")
    e = _canonical(edges, src, dst)
    prev = None
    for it in range(max_iter):
        e = _small_star(_large_star(e))
        e, cur = _truncate(spark, e, checkpoint, it)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    labels = e.select(F.col("u").alias(node_col), F.col("v").alias("component")).union(
        e.select(F.col("v").alias(node_col), F.col("v").alias("component"))
    ).distinct()
    if nodes is not None:
        n = nodes.select(F.col(node_col).cast("long").alias(node_col)).distinct()
        labels = n.join(labels, node_col, "left").select(
            F.col(node_col),
            F.coalesce("component", F.col(node_col)).alias("component"),
        )
    return labels


def _truncate(
    spark: SparkSession, e: DataFrame, checkpoint: str, it: int
) -> tuple[DataFrame, tuple[int, int]]:
    """Parquet round-trip + convergence checksum in ONE job: the
    checksum rides the write via ``observe`` — a separate ``agg().collect()``
    re-read the parquet just written, one extra job per CC round
    (guide §4.3 driver round trips)."""
    from pyspark.sql import Observation

    path = f"{checkpoint}/edges_{it % 2}"
    obs = Observation()
    e.observe(obs, *_checksum_metrics()).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(path)
    got = obs.get
    # the known schema spares a footer-reading inference job per round
    return spark.read.schema(e.schema).parquet(path), (int(got["n"]), int(got["h"] or 0))


def pagerank_scaled(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank in exact integer arithmetic: ranks live on a
    ``scale``-denominator lattice and every contribution is a floor
    division, so the result after a FIXED number of power iterations is
    a pure deterministic integer function of the edge set — identical
    under any partitioning, retry, or engine. That puts an *iterative
    graph algorithm* under the DuckDB value-hash gate, which
    floating-point PageRank never can be (per-partition summation order
    changes the ulps; a rounding gate is fragile — see the matmul ANN
    rank-gate precedent).

        r0(v)   = scale // N
        r_k+1(v)= (scale * (den-num)) // (den * N)
                  + Σ_{u→v} (r_k(u) * num) // (den * outdeg(u))

    Dangling-node mass is dropped (the classic simplification; total
    rank decays slightly rather than redistributing — documented, and
    identical in the oracle). Each iteration is one equi-join of the
    current ranks against the edge list plus a map-side-combined sum —
    shuffle ∝ edges, the same bound as one CC round. For iteration
    counts beyond ~10 insert a checkpoint via the CC loop's
    ``_truncate`` pattern to keep lineage flat.

    Returns ``(node, rank_scaled)`` over every node appearing in edges.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    n_nodes = nodes.count()  # tiny driver scalar, fixed for the run
    base = (scale * (damping_den - damping_num)) // (damping_den * n_nodes)
    # outdeg is a function of the static edge set: fold it in ONCE so the
    # loop is a single join + aggregate per iteration, not two joins.
    # (the persisted table is (src, dst, outdeg) keys only — kilobytes
    # per million edges; repeated calls cache independent copies and
    # rely on LRU eviction, the standard trade for loop-invariant state)
    e_deg = e.join(outdeg.withColumnRenamed("node", "src"), "src").persist()
    ranks = nodes.select(
        "node", F.lit(scale // n_nodes).cast("long").alias("rank_scaled")
    )
    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(rank_scaled * {damping_num}) div ({damping_den} * outdeg)"
                ).alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("in_mass"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (F.lit(base).cast("long") + F.coalesce(F.col("in_mass"), F.lit(0).cast("long")))
            .alias("rank_scaled"),
        )
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts via **degree-ordered orientation** — the
    standard distributed triangle algorithm (Suri & Vassilvitskii's
    MR "node-iterator++" / Cohen's scheme).

    A naive wedge join (edges ⋈ edges on the shared endpoint) generates
    Σ deg(v)² candidates — a skew bomb: one celebrity node with 10⁷
    neighbors yields 10¹⁴ wedges. Orienting every undirected edge from
    the lexicographically-smaller ``(degree, id)`` endpoint to the
    larger caps every out-degree at O(√m), so the wedge count is
    O(m^{3/2}) — the optimal bound — and hub skew disappears by
    construction (a high-degree node has tiny out-degree).

    Plan shape: degree computation (one map-side-combined shuffle),
    two hash equi-joins (wedge build on the pivot node, closure probe
    on the (v, w) pair), one explode + count. Each triangle {u,v,w}
    with rank(u) < rank(v) < rank(w) is found exactly once: as the
    wedge v←u→w closed by v→w.

    Returns ``(node, triangles)`` for every node of the graph (nodes in
    no triangle included with 0 — a node's absence and a zero count are
    different facts).
    """
    und = _canonical(edges, src, dst).select(
        F.col("v").alias("a"), F.col("u").alias("b")  # a < b by id
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    w1 = oriented.select("u", "v", "dv")
    w2 = oriented.select(
        F.col("u").alias("u"), F.col("v").alias("w"), F.col("dv").alias("dw")
    )
    rank_lt = (F.col("dv") < F.col("dw")) | (
        (F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w"))
    )
    wedges = w1.join(w2, "u").filter(rank_lt).select("u", "v", "w")
    closed = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
    )
    per_node = (
        closed.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    nodes = deg.select("node")
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0).cast("long")).alias("triangles")
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Multi-source breadth-first hop distances, bounded at
    ``max_hops`` — the third iterative graph primitive next to
    connected components and PageRank. Returns ``(node, hops)`` for
    every node reachable within the bound; ``hops`` is the exact
    minimum hop count (an integer — deterministic under any
    partitioning, so like `pagerank_scaled` a FIXED number of rounds is
    fully value-hash gateable by unrolling the same rounds as oracle
    CTEs).

    Frontier algorithm: each round joins only the newest frontier
    against the (static, persisted) edge list and anti-joins already-
    settled nodes — shuffle per round ∝ frontier out-edges, not the
    whole graph; settled state only ever grows by genuinely new nodes.
    For deep traversals (max_hops ≳ 10) cut lineage with the CC loop's
    checkpoint pattern; hop-bounded neighborhoods (the common
    feature-engineering ask) stay shallow by definition.

    ``sources`` must have a ``node`` column; duplicate sources are fine
    (distinct applied). ``directed=False`` symmetrizes first.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    if not directed:
        e = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.filter(F.col("s") != F.col("d")).distinct().persist()
    dist = (
        sources.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .persist()
    )
    frontier = dist
    for it in range(max_hops):
        grown = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("hops", F.lit(it + 1).cast("long"))
        )
        grown = grown.persist()
        if grown.rdd.isEmpty():
            grown.unpersist()
            break
        new_dist = dist.unionAll(grown).persist()
        dist.unpersist()
        dist, frontier = new_dist, grown
    e.unpersist()
    return dist


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    directed: bool = False,
) -> DataFrame:
    """Bounded-round single/multi-source shortest paths (Bellman-Ford
    frontier relaxation) with integer weights.

    Returns ``(node, dist)`` where ``dist`` is the minimum total weight
    over paths from any source using **at most** ``rounds`` edges —
    the precise semantics of k relaxation rounds, and (for k ≥ graph
    diameter, non-negative weights) the true shortest-path distance.
    Like `pagerank_scaled` and `bfs_hops`, integer arithmetic makes the
    k-round result a deterministic function of the edge multiset, so a
    fixed-round run is fully value-hash gateable by unrolling the same
    relaxations as oracle CTEs.

    Frontier optimization: only nodes whose distance improved last
    round relax their out-edges, so per-round shuffle ∝ improved-node
    out-degree, not the whole graph — provably equivalent to full
    k-round relaxation (a node re-relaxes in the round after each
    improvement; induction over path length shows every ≤ k-edge path
    is folded in). Parallel edges collapse to their min weight first
    (map-side combined), the static edge list is persisted once.

    ``sources`` must have a ``node`` column. ``directed=False``
    symmetrizes. Early exit when a round improves nothing.
    """
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select(
        F.col(src).cast("long").alias("s"),
        F.col(dst).cast("long").alias("d"),
        F.col(weight).cast("long").alias("w"),
    )
    if not directed:
        e = e.unionAll(
            e.select(F.col("d").alias("s"), F.col("s").alias("d"), "w")
        )
    e = e.groupBy("s", "d").agg(F.min("w").alias("w")).persist()
    dist = (
        sources.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .persist()
    )
    frontier = dist
    for _ in range(rounds):
        cand = (
            frontier.join(e, frontier["node"] == e["s"])
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        improved = (
            cand.join(dist, "node", "left")
            .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("node", F.col("nd").alias("dist"))
            .persist()
        )
        if improved.rdd.isEmpty():
            improved.unpersist()
            break
        new_dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .persist()
        )
        dist.unpersist()
        dist, frontier = new_dist, improved
    e.unpersist()
    return dist


def ancestor_closure(
    edges: DataFrame,
    levels: int,
    child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Ancestor transitive closure of a forest by POINTER DOUBLING:
    round k holds every (node, ancestor) link of length ≤ 2^k, and one
    self-join composes them into ≤ 2^(k+1) — O(log depth) rounds where
    the naive parent-walk needs O(depth). The classic hierarchy
    flattening (org charts, category trees, thread ancestry) at
    shuffle-bound scale: each round is one equi-join + distinct on the
    closure built so far, which for forests has Σ depth(v) rows total.

    Returns ``(node, anc, dist)`` with dist ≥ 1 exact (path lengths are
    unique in a forest, so the closure is a deterministic integer
    relation — oracle-gateable against a recursive CTE). ``levels``
    bounds coverage at 2^levels edges; early-exits when a round adds
    nothing.
    """
    if levels < 0:
        raise ValueError("levels must be >= 0")
    links = (
        edges.select(
            F.col(child_col).cast("long").alias("node"),
            F.col(parent_col).cast("long").alias("anc"),
        )
        .where(F.col("anc").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
        .persist()
    )
    closure = links
    before: int | None = None  # carried across rounds: one count per round
    for _ in range(levels):
        x, y = closure.alias("x"), closure.alias("y")
        hop = x.join(y, F.col("x.anc") == F.col("y.node")).select(
            F.col("x.node").alias("node"),
            F.col("y.anc").alias("anc"),
            (F.col("x.dist") + F.col("y.dist")).alias("dist"),
        )
        grown = closure.unionByName(hop).distinct().persist()
        # `closure`'s count was `grown`'s count of the previous round —
        # recounting it scheduled a second job per round for a number
        # already on the driver (guide §4.3 driver round trips)
        if before is None:
            before = closure.count()
        after = grown.count()
        closure.unpersist() if closure is not links else None
        if after == before:
            return grown
        closure = grown
        before = after
    return closure


def subtree_rollup(
    nodes: DataFrame,
    id_col: str,
    parent_col: str,
    value_col: str,
    levels: int,
) -> DataFrame:
    """Aggregate every node's subtree (descendants + self): flatten the
    hierarchy with :func:`ancestor_closure`, attach each descendant's
    value once per ancestor, aggregate. ``(ancestor, n_subtree,
    subtree_sum)`` — the decimal-exact hierarchical rollup."""
    closure = ancestor_closure(nodes, levels, id_col, parent_col)
    pairs = closure.select(F.col("anc").alias("ancestor"), "node").unionByName(
        nodes.select(
            F.col(id_col).cast("long").alias("ancestor"),
            F.col(id_col).cast("long").alias("node"),
        )
    )
    vals = nodes.select(
        F.col(id_col).cast("long").alias("node"),
        F.col(value_col).alias("__v"),
    )
    return (
        pairs.join(vals, "node")
        .groupBy("ancestor")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subtree"),
            F.sum(F.col("__v").cast("decimal(30,4)"))
            .cast("double")
            .alias("subtree_sum"),
        )
    )


def kcore(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    rounds: int,
    use_reliable_checkpoint: bool = False,
) -> DataFrame:
    """k-core peel: iteratively drop nodes of degree < k (with their
    edges) for EXACTLY ``rounds`` rounds; return the surviving nodes
    with their degree in the surviving edge set. The true k-core is the
    fixpoint — peeling is confluent, so the removal order never changes
    the answer, and a fixed round budget makes the intermediate state
    engine-reproducible (the oracle unrolls the same rounds as chained
    CTEs, the PageRank/IVF precedent). Callers wanting the exact core
    pass a generous budget and assert convergence (one more round is a
    no-op) — tests do.

    Scale shape per round: one map-side-combined degree aggregation on
    the exploded endpoints, then two semi-joins of the edge set against
    the survivor list. Survivors shrink monotonically; the peel
    converges in O(peel depth) rounds, usually ≪ |V| (real graphs peel
    in tens of rounds). Each round references the previous edge set
    three times (two degree scans + the semi-join probe), so WITHOUT a
    lineage cut the logical plan grows 3^rounds and Catalyst analysis
    explodes — every round localCheckpoints the (shrinking) edge set,
    the same empirically-necessary cut as the CC/CW loops. On a
    multi-node cluster prefer ``sparkContext.setCheckpointDir`` + the
    ``use_reliable_checkpoint`` flag: localCheckpoint blocks lose
    partitions if an executor dies mid-loop.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("x"),
            F.greatest(F.col(src), F.col(dst)).alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        release_checkpoint,
        tracked_local_checkpoint,
    )

    prev = None
    for _ in range(rounds):
        deg = (
            e.select(F.col("x").alias("node"))
            .unionAll(e.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        )
        keep = deg.where(F.col("degree") >= k).select("node")
        e = e.join(
            keep.withColumnRenamed("node", "x"), "x", "left_semi"
        ).join(keep.withColumnRenamed("node", "y"), "y", "left_semi")
        if use_reliable_checkpoint:
            e = e.checkpoint()
        else:
            # tracked + eager: the new round's blocks are materialized
            # before the superseded round's are released, so the shrinking
            # edge set pins at most ONE round at a time (the final round's
            # pin is freed by the caller's release hygiene point)
            e = tracked_local_checkpoint(e)
            if prev is not None:
                release_checkpoint(prev)
            prev = e
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    return deg.where(F.col("degree") >= k)
