"""Graph operators over edge DataFrames, each a distributed fixpoint
rather than a driver-side loop over the graph:

* ``connected_components`` and ``connected_components_star`` cluster
  the near-dup pair graph (below); ``attach_clusters`` gives every
  document its cluster id;
* ``integer_pagerank`` is bounded power iteration in integer units;
* ``bfs_hops``, ``temporal_reach``, ``weighted_sssp`` and
  ``random_walks`` are frontier operators: each keeps only its
  ``relax`` and ``merge`` rules, and the delta-iteration driver in
  ``operators/fixpoint.py`` owns their round loop, checkpoints and
  early exit.

Connected components — cluster assignment for near-dup groups.
The dedup family (exact hash, MinHash-LSH, SimHash, n-gram Jaccard —
``operators/dedup_text.py``) emits *pairs*; a training-data pipeline
needs *clusters* ("keep one doc per duplicate group"). Transitive
closure over the pair graph is the missing step, and at 100 TB it must
run as a distributed fixpoint, not a driver-side union-find.

Algorithm: min-label propagation (the standard large-graph CC used by
GraphX/GraphFrames): every node starts labeled with its own id; each
round a node takes the min of its label and its neighbors' labels;
converged when no label changes. Rounds = graph diameter — near-dup
graphs are dense clusters with tiny diameters, so 3-5 rounds typical.

Scale notes:
* each round is one self-join + one min-aggregate → 2 shuffles over
  the EDGE set, which for dedup is ≪ the document set;
* labels are ``localCheckpoint``-ed each round — without the cut, the
  iterated plan doubles in depth every round and the driver dies
  re-optimizing it long before the data is a problem;
* convergence is probed from the SAME aggregate that computes the new
  labels: the node's previous label rides along as one extra min()
  column, and "no node changed" is a ``limit(1)``-style ``isEmpty`` on
  ``new != old`` — no extra shuffle, no extra join, and (unlike a
  numeric label-sum probe) sound for ANY node-id type including
  strings, where ``sum`` would be NULL on every round and a NULL==NULL
  comparison would fake instant convergence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import delta_iterate


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label each node of the undirected pair graph with the MIN node
    id reachable from it. Returns ``(node, cluster_id)`` for every node
    that appears in at least one edge (callers attach singletons with a
    left join + coalesce).

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (diameter larger than expected — raise the cap
    rather than silently returning partial clusters).

    ``stats``: pass a dict to receive ``{"rounds": n}`` — the
    scale-probe counter (tools/scale_probe.py records round growth
    under adversarial topologies).
    """
    from .memo import unpersist_checkpointed

    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.localCheckpoint(eager=False)  # pair generation runs once, not per round
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    prev = None
    for it in range(max_iter):
        if stats is not None:
            stats["rounds"] = it + 1
        nbr = sym.join(labels, sym["b"] == labels["node"]).select(
            sym["a"].alias("node"), "cluster_id"
        )
        # The node's current label joins the candidate pool tagged is_old;
        # one groupBy yields BOTH the new label (min over old ∪ neighbor)
        # and the old label (min over the is_old singleton) — convergence
        # is then a limit(1) probe on "any new != old", type-agnostic.
        cand = labels.withColumn("is_old", F.lit(True)).unionByName(
            nbr.withColumn("is_old", F.lit(False))
        )
        agg = (
            cand.groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.min(F.when(F.col("is_old"), F.col("cluster_id"))).alias("_old"),
            )
        ).localCheckpoint()  # cut the iterated lineage (EAGER: materialized here)
        # the previous round's checkpoint blocks were just consumed into
        # the (eager, self-contained) new agg — freeing them caps block
        # residency at ONE round's labels instead of O(rounds) per call
        # (same leak class as the r7 skew-fixture fix)
        unpersist_checkpointed(prev)
        prev = agg
        labels = agg.drop("_old")
        if agg.filter(F.col("cluster_id") != F.col("_old")).isEmpty():
            # the result embeds only the final agg's blocks — the
            # symmetric edge table is dead weight from here
            unpersist_checkpointed(sym)
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014) — the web-scale alternative to min-label
    propagation (:func:`connected_components`): propagation needs
    O(diameter) rounds, star contraction converges in O(log² n) and in
    practice ~4-5 rounds on real graphs, because each round HALVES
    chain depth instead of walking it.

    Both half-rounds are one groupBy + one join over the edge table —
    per-node MIN then a per-edge re-target; no collected neighbor
    lists (a hub's Γ(u) never materializes as an array, only as join
    fan-out), no driver state, nothing proportional to component size
    in any single task:

    * large-star(u): every neighbor v > u re-targets to
      m = min(Γ(u) ∪ {u});
    * small-star(u): every neighbor v < u (and u itself) re-targets
      to the same m.

    Returns ``(node, cluster_id)`` with cluster_id = min node id of
    the component — value-identical to :func:`connected_components`
    (both are oracle-checked against a recursive-CTE closure),
    including nodes whose only incident edges are self-loops (they
    re-enter as singleton clusters at the end — the star rounds drop
    self-loops up front).
    Convergence probe: an unchanged (count, sum, xxhash64-checksum)
    triple across a full round is the fixpoint — three cheap scalar
    aggregates per round, no EXCEPT shuffle. The order-independent
    hash checksum makes the probe collision-proof: two DISTINCT edge
    sets with a coincidentally equal (count, sum) pair cannot also
    share the 64-bit per-edge hash sum (decimal-summed so ANSI mode
    never overflows).
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # lazy-checkpointed: the result plan embeds this scan, and without
    # the pin every downstream action would re-read the raw edge input
    # just to re-find the self-loops
    self_loop_nodes = (
        raw.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )  # canonical u > v: every node's edge list already contains
        .distinct()  # its smaller neighbors — halves the first rounds
        .localCheckpoint()
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        joined = sym.join(mins, "u")
        side = F.col("v") > F.col("u") if large else F.col("v") < F.col("u")
        out = joined.filter(side).select(F.col("v").alias("u"), F.col("m").alias("v"))
        if not large:
            out = out.union(mins.select(F.col("u"), F.col("m").alias("v")))
        return (
            out.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint()
        )

    def _probe(df: DataFrame):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u") + F.col("v")).alias("s"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["n"], r["s"], r["h"])

    from .memo import unpersist_checkpointed

    state = _probe(e)
    for it in range(max_iter):
        if stats is not None:
            stats["rounds"] = it + 1
        mid = star(e, large=True)
        new_e = star(mid, large=False)
        # both stars checkpoint EAGERLY, so once new_e exists the
        # half-round intermediate and the previous round's edge set
        # are dead blocks — free them (block residency stays at one
        # edge-set per call instead of 2×rounds)
        unpersist_checkpointed(mid)
        unpersist_checkpointed(e)
        e = new_e
        new_state = _probe(e)
        if new_state == state:
            # fixpoint: every edge is (node, component-min) — a star
            roots = e.select(F.col("v").alias("node")).distinct().withColumn(
                "cluster_id", F.col("node")
            )
            labels = e.select(
                F.col("u").alias("node"), F.col("v").alias("cluster_id")
            ).unionByName(roots)
            singletons = (
                self_loop_nodes.join(labels.select("node"), "node", "left_anti")
                .withColumn("cluster_id", F.col("node"))
            )
            return labels.unionByName(singletons)
        state = new_state
    raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")


def attach_clusters(
    nodes: DataFrame,
    components: DataFrame,
    id_col: str,
) -> DataFrame:
    """Give every row of ``nodes`` its cluster id: the component label
    where one exists, else its own id (singleton cluster)."""
    comp = components.withColumnRenamed("node", id_col)
    return (
        nodes.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
    )


def integer_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """PageRank with a bit-identical trajectory: ranks in integer
    ``scale`` units, contributions via integer division
    ``(rank * damping_pct) div (100 * outdeg)`` — no float summation
    order anywhere, so any engine (or a sequential fold) reproduces
    the exact ranks. ``edges`` is (src, dst) directed; the node set is
    the distinct union of srcs and dsts, and every node keeps (at
    least) its teleport rank each round — zero-indegree nodes are NOT
    dropped (ADVICE r3), and dangling nodes (no outedges) receive rank
    but contribute nothing.

    Scale: edges are repartitioned by src ONCE and localCheckpointed
    (the state reused every round); each iteration is one join shuffle
    of the |nodes|-row rank state + one partial-agg shuffle on dst +
    one |nodes|-row left join restoring teleport-only nodes. Fixed
    iteration count — web-scale PR runs bounded power iteration, not
    convergence polling. Returns (node, rank) for every node."""
    edges = edges.select("src", "dst").repartition("src").localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(deg, "src")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
        .localCheckpoint()
    )
    teleport = (scale * (100 - damping_pct)) // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"(rank * {damping_pct}) DIV (100 * outdeg)"
                ).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_contrib"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(teleport) + F.coalesce("in_contrib", F.lit(0))).alias("rank"),
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any source node,
    bounded by ``max_hops`` — reachability/radius queries over the
    dedup-pair or interaction graph ("everything within N hops of a
    flagged account"). ``edges`` is directed (src, dst); pass the
    symmetric union for undirected semantics. ``sources`` is a
    one-column (node) frame. Returns (node, hop) with hop 0 for the
    sources themselves.

    A delta iteration (scale shape in ``operators/fixpoint.py``): a
    round's frontier is the nodes first reached in it, found with a
    ``left_anti`` against the reached set — the same hash exchange the
    union needs, no extra shuffle shape. Rounds = min(max_hops,
    eccentricity of the source set); BFS over short-diameter
    interaction graphs converges in single digits.
    """

    def relax(e: DataFrame, frontier: DataFrame, reached: DataFrame, hop: int) -> DataFrame:
        return (
            e.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(hop).cast("long"))
        )

    seed = sources.select("node").distinct().withColumn("hop", F.lit(0).cast("long"))
    return delta_iterate(edges.select("src", "dst").distinct(), seed, relax, _union, max_hops)


def _union(state: DataFrame, frontier: DataFrame) -> DataFrame:
    """Merge rule of ``bfs_hops``' reached set and ``random_walks``'
    corpus: a union of checkpointed frontiers, which needs no
    checkpoint of its own (see ``operators/fixpoint.py``)."""
    return state.unionByName(frontier)


def _min_relax(
    edges: DataFrame,
    seed: DataFrame,
    label: str,
    max_hops: int,
    cand: Column,
    usable: Column | None = None,
) -> DataFrame:
    """Label-correcting delta iteration shared by ``temporal_reach``
    and ``weighted_sssp``: each round, every edge leaving an improved
    node (its label as ``_d``) and passing ``usable`` offers ``cand``
    to its dst; a node's map-side-combined min offer that beats its
    standing ``label`` (one left join) joins the improved set, which
    replaces the node's state row (anti-join + union, lazily
    checkpointed)."""

    def relax(e: DataFrame, frontier: DataFrame, state: DataFrame, _rnd: int) -> DataFrame:
        hop = e.join(frontier.select(F.col("node").alias("src"), F.col(label).alias("_d")), "src")
        if usable is not None:
            hop = hop.where(usable)
        return (
            hop.select(F.col("dst").alias("node"), cand.alias("_nd"))
            .groupBy("node")
            .agg(F.min("_nd").alias("_nd"))
            .join(state, "node", "left")
            .where(F.col(label).isNull() | (F.col("_nd") < F.col(label)))
            .select("node", F.col("_nd").alias(label))
        )

    def merge(state: DataFrame, improved: DataFrame) -> DataFrame:
        return (
            state.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=False)
        )

    return delta_iterate(edges, seed, relax, merge, max_hops)


def temporal_reach(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Time-respecting reachability (contact-tracing shape): earliest
    time each node can be reached from the source set along paths
    whose edge timestamps are NON-DECREASING — an interaction at time
    t can only forward state acquired at or before t. ``edges`` is
    directed (src, dst, ts); ``sources`` is (node, ts) seed states.
    Returns (node, reach_ts) = the minimum over all time-respecting
    paths of <= ``max_hops`` edges of the last edge's timestamp.

    Earlier arrival never hurts under the non-decreasing constraint
    (any edge usable from a later reach time is usable from an
    earlier one), so min-reach label correcting — not full (node,
    time) state enumeration — computes the exact answer; that
    monotonicity is what the recursive-CTE oracle of x58 checks.

    A delta iteration (scale shape in ``operators/fixpoint.py``): each
    round joins only the IMPROVED nodes (reach time newly set or
    lowered) against the edges, and ``_min_relax`` merges them into the
    |reached|-sized state."""
    edges = edges.select("src", "dst", "ts").distinct()
    seed = sources.groupBy("node").agg(F.min("ts").alias("reach_ts"))
    return _min_relax(edges, seed, "reach_ts", max_hops, F.col("ts"), F.col("ts") >= F.col("_d"))


def weighted_sssp(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
) -> DataFrame:
    """Weighted single/multi-source shortest path, bounded at
    ``max_hops`` edges — Bellman-Ford as a DELTA iteration (the
    weighted twin of ``bfs_hops``): after round h, ``dist[v]`` is the
    exact minimum cost over paths of <= h edges, and only nodes whose
    distance IMPROVED last round are re-expanded (a relaxation
    through a non-improved node was already tried in an earlier round
    and can't beat the standing distance).

    ``edges`` is directed (src, dst, w) with non-negative integer
    weights (parallel edges collapse to their min); ``sources`` is a
    one-column (node) frame; returns (node, dist) for every node
    reachable within ``max_hops`` edges. Scale shape in
    ``operators/fixpoint.py``; the relaxation is ``_min_relax``.
    """
    edges = edges.select("src", "dst", "w").groupBy("src", "dst").agg(F.min("w").alias("w"))
    seed = sources.select("node").distinct().withColumn("dist", F.lit(0).cast("long"))
    return _min_relax(edges, seed, "dist", max_hops, F.col("_d") + F.col("w"))


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_len: int = 6,
    n_walks_per_start: int = 1,
) -> DataFrame:
    """Deterministic node2vec-style random walks — the corpus
    generator for graph-embedding training (DeepWalk/node2vec): from
    every start node, ``n_walks_per_start`` walks of up to
    ``walk_len`` steps, where step t from node v in walk w picks the
    neighbor ranked

        md5(w || '|' || t || '|' || v) mod degree(v)

    over the dst-ordered adjacency — md5-derived so the "randomness"
    is engine-portable and REPLAYABLE (the x54 training-shuffle
    stance: a seeded walk corpus is reproducible across reruns and
    engines, which `rand()` never is, and value-oracle-checkable).
    Walks terminate early at sink nodes (no out-edges). Returns one
    row per visited position: (walk_id, step, node), step 0 = start.

    A delta iteration (scale shape in ``operators/fixpoint.py``) over
    the ranked adjacency (rank + degree in ONE window pass): each
    step's frontier is |walks| rows, so total work is O(walk_len x
    |walks|) probes regardless of graph size, and the corpus is the
    union of the checkpointed frontiers. At 100 TB the adjacency is
    the big side (bucketed by src on disk) and the walk frontier
    broadcasts."""
    by_src = Window.partitionBy("src")
    adj = edges.select("src", "dst").distinct().select(
        "src",
        "dst",
        F.row_number().over(by_src.orderBy("dst")).alias("rnk"),
        F.count(F.lit(1)).over(by_src).alias("deg"),
    )
    replicas = starts.sparkSession.range(1, n_walks_per_start + 1).select(F.col("id").alias("i"))
    seed = starts.select("node").distinct().crossJoin(F.broadcast(replicas)).select(
        F.concat_ws("#", "node", "i").alias("walk_id"), F.lit(0).alias("step"), "node"
    )

    def step(e: DataFrame, frontier: DataFrame, _corpus: DataFrame, t: int) -> DataFrame:
        md5 = F.md5(F.concat_ws("|", "walk_id", F.lit(str(t)), "src"))
        pick = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long") % F.col("deg") + 1
        return (
            frontier.select("walk_id", F.col("node").alias("src"))
            .join(e, "src")
            .filter(F.col("rnk") == pick)
            .select("walk_id", F.lit(t).alias("step"), F.col("dst").alias("node"))
        )

    out = delta_iterate(adj, seed, step, _union, walk_len, key=())
    return out.select("walk_id", F.col("step").cast("long").alias("step"), "node")
