from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fintrack_etl_spark.operators.graph import attach_clusters, connected_components


def test_connected_components_two_chains_and_attach(spark):
    # chain 1-2-3, pair 10-11, singleton 99 (no edges)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    comps = connected_components(edges)
    got = {r["node"]: r["cluster_id"] for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"])
    labeled = attach_clusters(nodes, comps, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in labeled.collect()}
    assert got[99] == 99  # singleton keeps its own id
    assert got[3] == 1 and got[11] == 10


def test_connected_components_long_path_converges(spark):
    # path 0-1-2-...-9: diameter 9 forces several propagation rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], ["src", "dst"])
    comps = connected_components(edges)
    assert {r["cluster_id"] for r in comps.collect()} == {0}


def test_connected_components_string_node_ids(spark):
    """String ids broke the old numeric sum-probe (sum(label) is NULL →
    NULL == NULL faked convergence after one round). The changed-label
    probe must keep propagating until the true fixpoint."""
    # path a-b-c-d-e: needs >1 round; plus a separate pair (x, y)
    edges = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_c", "doc_b"), ("doc_d", "doc_c"),
         ("doc_e", "doc_d"), ("doc_y", "doc_x")],
        ["src", "dst"],
    )
    comps = connected_components(edges)
    got = {r["node"]: r["cluster_id"] for r in comps.collect()}
    assert got == {
        "doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a",
        "doc_d": "doc_a", "doc_e": "doc_a",
        "doc_x": "doc_x", "doc_y": "doc_x",
    }


def test_connected_components_iteration_cap(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=1)


def _sequential_pagerank(edges, iterations=3, damping_pct=85, scale=10**9):
    """Reference fold: same integer recurrence, plain dicts."""
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    teleport = (scale * (100 - damping_pct)) // 100
    ranks = {s: scale for s in outdeg}
    for _ in range(iterations):
        nxt = defaultdict(lambda: teleport)
        for s, d in edges:
            nxt[d] += (ranks.get(s, 0) * damping_pct) // (100 * outdeg[s])
        ranks = dict(nxt)
    return ranks


def test_integer_pagerank_matches_sequential_fold(spark):
    import random

    from fintrack_etl_spark.operators.graph import integer_pagerank

    for seed in (7, 41):
        rng = random.Random(seed)
        n = 40
        directed = {
            (f"n{rng.randrange(n)}", f"n{rng.randrange(n)}") for _ in range(120)
        }
        edges = {(s, d) for s, d in directed if s != d}
        edges |= {(d, s) for s, d in edges}  # undirected: outdeg >= 1 everywhere
        edges = sorted(edges)
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["rank"]
            for r in integer_pagerank(df, iterations=3).collect()
        }
        want = _sequential_pagerank(edges)
        assert got == want  # bit-identical trajectory, not approximately


def test_integer_pagerank_keeps_zero_indegree_nodes(spark):
    """Directed chain a->b: 'a' has zero inbound edges yet must stay in
    the output at its teleport rank every round and keep contributing
    that teleport mass to 'b' (ADVICE r3 — the old dst-keyed groupBy
    silently dropped such nodes after the first iteration)."""
    from fintrack_etl_spark.operators.graph import integer_pagerank

    scale, teleport = 10**9, (10**9 * 15) // 100
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    ranks = {
        r["node"]: r["rank"] for r in integer_pagerank(df, iterations=3).collect()
    }
    assert set(ranks) == {"a", "b"}
    assert ranks["a"] == teleport
    # b's inbound settles at a's steady teleport rank damped once
    assert ranks["b"] == teleport + (teleport * 85) // 100
    # and a dangling node (no outedges) also keeps its rank row
    df2 = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    ranks2 = {
        r["node"]: r["rank"] for r in integer_pagerank(df2, iterations=2).collect()
    }
    assert set(ranks2) == {"a", "b", "c"}


def test_integer_pagerank_total_mass_bounded(spark):
    from fintrack_etl_spark.operators.graph import integer_pagerank

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in integer_pagerank(df, iterations=3).collect()}
    assert set(ranks) == {"a", "b", "c"}
    # mass is conserved up to integer-division floors: never above n*scale,
    # never below the teleport floor per node
    assert all(v >= 150_000_000 for v in ranks.values())
    assert sum(ranks.values()) <= 3 * 10**9
    # b receives from both a and c -> strictly the hub
    assert ranks["b"] > ranks["a"] and ranks["b"] > ranks["c"]


def test_bfs_hops_min_distance_and_bound(spark):
    """bfs_hops: min hop from ANY source wins, direction respected,
    unreachable and beyond-max_hops nodes absent, sources at hop 0."""
    from fintrack_etl_spark.operators.graph import bfs_hops

    #  a -> b -> c -> d -> e     x -> c (second source, shortcut)
    #  island: z1 -> z2 (unreachable)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "c"), ("z1", "z2")],
        ["src", "dst"],
    )
    sources = spark.createDataFrame([("a",), ("x",)], ["node"])
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, sources, max_hops=2).collect()}
    # c is hop 1 via x (not hop 2 via a->b); e is hop 3 -> cut by max_hops=2
    assert got == {"a": 0, "x": 0, "b": 1, "c": 1, "d": 2}

    # early exit: a component exhausted before max_hops stops looping
    got2 = {
        r["node"]: r["hop"]
        for r in bfs_hops(
            edges, spark.createDataFrame([("z1",)], ["node"]), max_hops=10
        ).collect()
    }
    assert got2 == {"z1": 0, "z2": 1}


def test_temporal_reach_time_respecting(spark):
    """temporal_reach: edges only forward state at-or-after the reach
    time; earliest arrival wins; hop bound honored; early exit."""
    from fintrack_etl_spark.operators.graph import temporal_reach

    # a reached at 5. a-b edge at 3 is in the past -> b unreachable
    # via it; a-b at 7 works; b-c at 6 < 7 -> c NOT reachable via b
    # even though 6 > 5 (time must be non-decreasing along the PATH).
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "b", 7), ("b", "c", 6), ("b", "c", 9), ("c", "d", 9)],
        ["src", "dst", "ts"],
    )
    sources = spark.createDataFrame([("a", 5)], ["node", "ts"])
    got = {
        r["node"]: r["reach_ts"]
        for r in temporal_reach(edges, sources, max_hops=3).collect()
    }
    assert got == {"a": 5, "b": 7, "c": 9, "d": 9}

    # hop bound cuts the chain: with 2 hops, d (3 edges away) absent
    got2 = {
        r["node"]: r["reach_ts"]
        for r in temporal_reach(edges, sources, max_hops=2).collect()
    }
    assert got2 == {"a": 5, "b": 7, "c": 9}

    # a later seed never overwrites an earlier improvement
    two = spark.createDataFrame([("a", 5), ("b", 100)], ["node", "ts"])
    got3 = {
        r["node"]: r["reach_ts"]
        for r in temporal_reach(edges, two, max_hops=3).collect()
    }
    assert got3["b"] == 7  # min(seed 100, via-a 7)


def test_weighted_sssp_matches_bellman_ford(spark):
    """Frontier-only relaxation must equal textbook K-round
    Bellman-Ford (min cost over paths of <= K edges) on a random
    weighted digraph, for several hop bounds."""
    import random

    from fintrack_etl_spark.operators.graph import weighted_sssp

    rng = random.Random(11)
    nodes = list(range(30))
    edges = [
        (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 20))
        for _ in range(120)
    ]
    e_df = spark.createDataFrame(edges, ["src", "dst", "w"])
    s_df = spark.createDataFrame([(0,), (7,)], ["node"])

    for k in (1, 3, 5):
        dist = {0: 0, 7: 0}
        for _ in range(k):
            nxt = dict(dist)
            for s, d, w in edges:
                if s in dist and (d not in nxt or dist[s] + w < nxt[d]):
                    nxt[d] = dist[s] + w
            dist = nxt
        got = {
            r["node"]: r["dist"]
            for r in weighted_sssp(e_df, s_df, max_hops=k).collect()
        }
        assert got == dist, k


def test_weighted_sssp_cheaper_long_path_wins(spark):
    """A 3-edge cost-3 path must beat a 1-edge cost-100 shortcut when
    hops allow, and lose to it when the bound excludes it."""
    from fintrack_etl_spark.operators.graph import weighted_sssp

    e = spark.createDataFrame(
        [("s", "t", 100), ("s", "a", 1), ("a", "b", 1), ("b", "t", 1)],
        ["src", "dst", "w"],
    )
    s = spark.createDataFrame([("s",)], ["node"])
    three = {r["node"]: r["dist"] for r in weighted_sssp(e, s, max_hops=3).collect()}
    assert three["t"] == 3
    one = {r["node"]: r["dist"] for r in weighted_sssp(e, s, max_hops=1).collect()}
    assert one["t"] == 100


def test_random_walks_deterministic_and_valid(spark):
    from fintrack_etl_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")],
        ["src", "dst"],
    )
    starts = spark.createDataFrame([("a",), ("b",)], ["node"])
    out = random_walks(edges, starts, walk_len=4).collect()
    walks = {}
    for r in out:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert set(walks) == {"a#1", "b#1"}
    adj = {"a": {"b", "c"}, "b": {"c"}, "c": {"a", "d"}, "d": set()}
    for wid, steps in walks.items():
        assert steps[0] == wid.split("#")[0]
        for t in range(1, max(steps) + 1):
            # every step follows a real edge; d terminates the walk
            assert steps[t] in adj[steps[t - 1]]
    # replayable: identical corpus on a second run
    out2 = random_walks(edges, starts, walk_len=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_random_walks_sink_terminates_early(spark):
    from fintrack_etl_spark.operators.graph import random_walks

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    starts = spark.createDataFrame([("a",)], ["node"])
    out = {r["step"]: r["node"] for r in random_walks(edges, starts, walk_len=5).collect()}
    assert out == {0: "a", 1: "b"}  # b is a sink — walk stops


def test_random_walks_multi_walks_per_start_differ(spark):
    from fintrack_etl_spark.operators.graph import random_walks

    # complete digraph on 4 nodes: every step has 3 choices
    nodes = ["a", "b", "c", "d"]
    edges = spark.createDataFrame(
        [(x, y) for x in nodes for y in nodes if x != y], ["src", "dst"]
    )
    starts = spark.createDataFrame([("a",)], ["node"])
    out = random_walks(edges, starts, walk_len=6, n_walks_per_start=4).collect()
    paths = {}
    for r in out:
        paths.setdefault(r["walk_id"], []).append((r["step"], r["node"]))
    assert len(paths) == 4 and all(len(v) == 7 for v in paths.values())
    # the walk_id feeds the hash, so sibling walks diverge
    assert len({tuple(sorted(v)) for v in paths.values()}) > 1


def test_cc_star_matches_propagation_on_adversarial_shapes(spark):
    """Large-star/small-star CC (Kiveris 2014) must produce the exact
    min-label clusters of the propagation operator on the shapes that
    stress each: long chains (propagation's worst case), cliques,
    stars, singleton edges, and a random union."""
    import random

    from fintrack_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = []
    # chain 0-1-...-20 (propagation needs O(diameter) rounds and its
    # cap is 25; star contraction needs O(log) — see the solo check)
    edges += [(i, i + 1) for i in range(20)]
    # clique on 100..107
    edges += [(a, b) for a in range(100, 108) for b in range(a + 1, 108)]
    # star centered at 200
    edges += [(200, 200 + i) for i in range(1, 12)]
    # random blobs
    for base in (300, 400, 500):
        nodes = list(range(base, base + 20))
        for _ in range(25):
            edges.append((rng.choice(nodes), rng.choice(nodes)))
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])

    prop = {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    star = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(df).collect()
    }
    assert star == prop
    assert all(star[i] == 0 for i in range(21))
    # the scale claim itself: a diameter-80 chain (propagation's cap
    # is 25 rounds) collapses for star CC within its default budget
    chain = spark.createDataFrame([(i, i + 1) for i in range(80)], ["src", "dst"])
    deep = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(chain).collect()
    }
    assert deep == {i: 0 for i in range(81)}


def test_cc_star_self_loop_only_nodes_are_singletons(spark):
    """ADVICE r6: a node whose only incident edges are self-loops must
    not vanish from the star-CC output — it re-enters as a singleton
    cluster, matching the propagation operator's labeling."""
    from fintrack_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(0, 1), (1, 2), (7, 7), (8, 8), (0, 0)], ["src", "dst"]
    )
    star = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(df).collect()
    }
    prop = {
        r["node"]: r["cluster_id"] for r in connected_components(df).collect()
    }
    assert star == prop
    assert star[7] == 7 and star[8] == 8  # self-loop-only singletons
    assert star[0] == star[1] == star[2] == 0  # 0's self-loop is inert


def test_cc_star_all_self_loops(spark):
    """Degenerate input: every edge is a self-loop — the star rounds
    see an empty edge set and the output is pure singletons."""
    from fintrack_etl_spark.operators.graph import connected_components_star

    df = spark.createDataFrame([(3, 3), (5, 5)], ["src", "dst"])
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components_star(df).collect()
    }
    assert got == {3: 3, 5: 5}


def _rdd_id(df):
    """Id of the persisted RDD behind a localCheckpoint-ed DataFrame."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persisted(spark, rdd_id):
    return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)


@pytest.mark.parametrize(
    "max_rounds, relaxes, merges, nodes",
    [(10, 3, 2, {1, 2, 3}), (1, 1, 1, {1, 2})],
    ids=["empty_frontier", "round_cap"],
)
def test_delta_iterate_exits_and_frees_edge_state(spark, max_rounds, relaxes, merges, nodes):
    """Chain 1 -> 2 -> 3: round 3's frontier is empty, so it stops
    there without merging it; with max_rounds=1 the cap stops it.
    Either way the pinned edge state is unpersisted on exit."""
    from fintrack_etl_spark.operators.fixpoint import delta_iterate

    calls = {"relax": [], "merge": 0}

    def relax(edges, frontier, state, rnd):
        calls["relax"].append((rnd, edges))
        return edges.join(frontier.select(F.col("node").alias("src")), "src").select(
            F.col("dst").alias("node")
        )

    def merge(state, frontier):
        calls["merge"] += 1
        return state.unionByName(frontier)

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    seed = spark.createDataFrame([(1,)], ["node"])
    out = delta_iterate(edges, seed, relax, merge, max_rounds)
    assert [r for r, _ in calls["relax"]] == list(range(1, relaxes + 1))
    assert calls["merge"] == merges
    pinned = {_rdd_id(e) for _, e in calls["relax"]}
    assert len(pinned) == 1
    assert not _persisted(spark, pinned.pop())
    assert {r["node"] for r in out.collect()} == nodes


@pytest.mark.parametrize(
    "op, edges, sources",
    [
        ("weighted_sssp", [("a", "b", 1), ("b", "c", 2)], [("a",)]),
        ("temporal_reach", [("a", "b", 1), ("b", "c", 2)], [("a", 0)]),
    ],
)
def test_label_correcting_ops_free_edge_state(spark, monkeypatch, op, edges, sources):
    """The (src, dst, weight-or-ts) edge state is the only checkpoint
    with a src column; after the result is collected it must no
    longer be persisted."""
    from pyspark.sql.classic.dataframe import DataFrame

    from fintrack_etl_spark.operators import graph

    pinned = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *a, **kw):
        out = checkpoint(self, *a, **kw)
        if "src" in out.columns:
            pinned.append(_rdd_id(out))
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    e_df = spark.createDataFrame(edges, ["src", "dst", "w" if op == "weighted_sssp" else "ts"])
    s_df = spark.createDataFrame(sources, ["node"] if op == "weighted_sssp" else ["node", "ts"])
    assert len(getattr(graph, op)(e_df, s_df).collect()) == 3
    assert len(pinned) == 1
    assert not _persisted(spark, pinned[0])
