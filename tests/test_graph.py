"""Operator tests for integer-exact PageRank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arrow_parquet_logs_spark.operators.graph import pagerank

SCALE = 10**12


def _reference_pagerank(edges, iterations=3, p=85, scale=SCALE, seeds=None):
    """Pure-Python integer replay of the fixed-point recurrence
    (personalized when ``seeds`` is given; global == seeds=all nodes)."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    S = set(nodes) if seeds is None else set(seeds) & set(nodes)
    ns = len(S)
    wout = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0) + w
    r = {v: (scale // ns if v in S else 0) for v in nodes}
    q = 100 - p
    for _ in range(iterations):
        c = {v: 0 for v in nodes}
        for s, d, w in edges:
            c[d] += (r[s] * w) // wout[s]
        dm = sum(r[v] for v in nodes if v not in wout)
        r = {
            v: (1 if v in S else 0) * ((q * scale) // (100 * ns))
            + (p * (c[v] + (1 if v in S else 0) * (dm // ns))) // 100
            for v in nodes
        }
    return r


EDGES = [
    ("a", "b", 2),
    ("b", "a", 1),
    ("b", "c", 3),
    ("c", "a", 1),
    ("a", "d", 1),
    # "d" is dangling: no out-edges.
]


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string, w long")


def test_matches_python_reference(spark, edge_df):
    got = {r["node"]: r["rank_scaled"] for r in pagerank(edge_df).collect()}
    want = _reference_pagerank(EDGES)
    assert got == want


def test_mass_approximately_conserved(spark, edge_df):
    # Floor division only ever drops mass; total stays within n·(rounding)
    # of SCALE — a sanity bound that catches double-counted dangling mass.
    ranks = pagerank(edge_df, iterations=5)
    total = ranks.agg(F.sum("rank_scaled")).collect()[0][0]
    assert 0.99 * SCALE <= total <= SCALE


@pytest.mark.scale
def test_partition_invariance(spark, edge_df):
    # Bit-identical ranks regardless of input partitioning — the property
    # float PageRank cannot give and the reason for the integer spec.
    a = sorted(map(tuple, pagerank(edge_df.repartition(1)).collect()))
    b = sorted(map(tuple, pagerank(edge_df.repartition(16)).collect()))
    assert a == b


def test_dangling_mass_redistributed(spark):
    # Two nodes, one edge a->b: b is a sink. Without dangling handling b's
    # mass vanishes and a starves to the teleport floor only.
    df = spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long")
    got = {r["node"]: r["rank_scaled"] for r in pagerank(df, iterations=3).collect()}
    want = _reference_pagerank([("a", "b", 1)])
    assert got == want
    # a receives teleport + a share of b's dangling mass -> strictly more
    # than the bare teleport floor of (15*SCALE)//(100*2).
    assert got["a"] > (15 * SCALE) // 200


def test_input_validation(spark, edge_df):
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(edge_df, damping_pct=0)
    with pytest.raises(ValueError, match="iterations"):
        pagerank(edge_df, iterations=0)


@pytest.mark.scale
def test_broadcast_and_shuffle_regimes_identical(spark, edge_df):
    # broadcast_nodes_cap=0 forces the shuffle-join regime; results must be
    # bit-identical to the broadcast regime (the size-gate is a pure
    # physical-strategy switch, like connected_components' regimes).
    a = sorted(map(tuple, pagerank(edge_df).collect()))
    b = sorted(map(tuple, pagerank(edge_df, broadcast_nodes_cap=0).collect()))
    assert a == b


def test_personalized_matches_reference_and_localizes(spark, edge_df):
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["rank_scaled"]
           for r in pagerank(edge_df, seeds=seeds).collect()}
    want = _reference_pagerank(EDGES, seeds={"a"})
    assert got == want
    # Localization: the seed holds more mass personalized to itself than
    # under the global teleport, and a node unreachable from the seed in
    # <= 3 hops of restart mass ranks below its global value.
    glob = _reference_pagerank(EDGES)
    assert got["a"] > glob["a"]


def test_personalized_no_graph_seed_raises(spark, edge_df):
    seeds = spark.createDataFrame([("zzz",)], "node string")
    with pytest.raises(ValueError, match="no seed appears"):
        pagerank(edge_df, seeds=seeds)


@pytest.mark.scale
def test_triangle_counts_known_graphs(spark):
    """K4 (every node on 3 triangles), C5 (none), two triangles sharing an
    edge, and a dirty edge list (duplicates, reversed copies, self-loops)
    — both orientation regimes, identical results."""
    from arrow_parquet_logs_spark.operators.graph import triangle_counts

    def counts(edges, **kw):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {r.node: r.triangles for r in triangle_counts(df, **kw).collect()}

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert counts(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    assert counts(k4, degree_ordered=False) == {0: 3, 1: 3, 2: 3, 3: 3}
    assert counts([(i, (i + 1) % 5) for i in range(5)]) == {}
    share = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
    assert counts(share) == {1: 1, 2: 2, 3: 2, 4: 1}
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (3, 3), (3, 4), (1, 2)]
    assert counts(messy) == {1: 1, 2: 1, 3: 1}


@pytest.mark.scale
def test_triangle_counts_regimes_agree_on_skewed_graph(spark):
    """Degree-ordered and id-ordered orientations count identical triangles
    on a hub-skewed graph (a star core + random chords) — the case where
    the id ordering's wedge volume explodes but the count must not change."""
    from arrow_parquet_logs_spark.operators.graph import triangle_counts

    edges = [(0, i) for i in range(1, 40)]                 # hub 0
    edges += [(i, i + 1) for i in range(1, 39)]            # chords close triangles
    edges += [(i, i + 7) for i in range(1, 33, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {(r.node, r.triangles) for r in triangle_counts(df).collect()}
    slow = {(r.node, r.triangles)
            for r in triangle_counts(df, degree_ordered=False).collect()}
    assert fast == slow and len(fast) > 10


# ---- shortest_paths (multi-source BFS + nearest-seed attribution) ----------


def _sp(spark, edges, seeds, max_hops=6, undirected=True):
    from arrow_parquet_logs_spark.operators.graph import shortest_paths

    e = spark.createDataFrame(edges, "src string, dst string")
    if undirected:
        e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    s = spark.createDataFrame([(x,) for x in seeds], "node string")
    return {
        r.node: (r.dist, r.root)
        for r in shortest_paths(e, s, max_hops=max_hops).collect()
    }


def test_bfs_known_graph_distances_and_attribution(spark):
    # path a-b-c-d plus branch c-e; seeds {a, e}
    got = _sp(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("c", "e")], ["a", "e"], max_hops=3)
    assert got == {
        "a": (0, "a"),
        "e": (0, "e"),
        "b": (1, "a"),
        "c": (1, "e"),  # e-c edge beats the a-b-c walk
        "d": (2, "e"),  # via c, whose nearest seed is e
    }


@pytest.mark.scale
def test_bfs_unreachable_nodes_absent_and_max_hops_truncates(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]  # {x,y} disconnected from seed
    got = _sp(spark, edges, ["a"], max_hops=3)
    assert got == {"a": (0, "a"), "b": (1, "a"), "c": (2, "a")}
    got1 = _sp(spark, edges, ["a"], max_hops=1)
    assert got1 == {"a": (0, "a"), "b": (1, "a")}


def test_bfs_equal_distance_ties_pick_min_root(spark):
    # m is 1 hop from both seeds z and a -> root must be 'a'
    got = _sp(spark, [("z", "m"), ("a", "m")], ["z", "a"], max_hops=2)
    assert got["m"] == (1, "a")


@pytest.mark.scale
def test_bfs_directed_vs_undirected(spark):
    got = _sp(spark, [("a", "b"), ("c", "b")], ["a"], max_hops=3, undirected=False)
    assert got == {"a": (0, "a"), "b": (1, "a")}  # cannot climb c->b backwards
    got_u = _sp(spark, [("a", "b"), ("c", "b")], ["a"], max_hops=3, undirected=True)
    assert got_u == {"a": (0, "a"), "b": (1, "a"), "c": (2, "a")}


@pytest.mark.scale
def test_bfs_seed_outside_graph_settles_at_zero(spark):
    got = _sp(spark, [("a", "b")], ["a", "ghost"], max_hops=2)
    assert got["ghost"] == (0, "ghost")


@pytest.mark.scale
def test_bfs_partition_invariance(spark):
    edges = [(f"n{i}", f"n{i+1}") for i in range(20)] + [("n5", "n15"), ("hub", "n0")]
    base = _sp(spark, edges, ["n0", "n18"], max_hops=4)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert _sp(spark, edges, ["n0", "n18"], max_hops=4) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# ---- k_core_peel ------------------------------------------------------------


def _kcore(spark, edges, k, **kw):
    from arrow_parquet_logs_spark.operators.graph import k_core_peel

    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.peel_round for r in k_core_peel(df, k, **kw).collect()}


@pytest.mark.scale
def test_kcore_known_graphs(spark):
    # K4 plus a pendant chain: K4 is the 3-core; chain peels outside-in.
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    chain = [("d", "e"), ("e", "f")]
    got = _kcore(spark, k4 + chain, 3)
    # f and e have degree <3 -> round 1; then all of K4 still has deg>=3 -> core
    assert got == {"a": 0, "b": 0, "c": 0, "d": 0, "e": 1, "f": 1}
    # k=2 on a triangle with a tail: tail peels in 2 rounds (cascade)
    tri = [("x", "y"), ("y", "z"), ("x", "z"), ("z", "t1"), ("t1", "t2")]
    got2 = _kcore(spark, tri, 2)
    assert got2 == {"x": 0, "y": 0, "z": 0, "t2": 1, "t1": 2}
    # k above max degree: everything peels round 1
    assert set(_kcore(spark, k4, 5).values()) == {1}
    # dirty input: self-loops and duplicate/reversed edges ignored
    messy = k4 + [("a", "a"), ("b", "a"), ("a", "b")]
    assert _kcore(spark, messy, 3) == {"a": 0, "b": 0, "c": 0, "d": 0}


def test_kcore_partition_invariance_and_validation(spark):
    import pytest as _pytest

    edges = [(f"n{i}", f"n{(i + j) % 30}") for i in range(30) for j in (1, 2, 3)]
    base = _kcore(spark, edges, 4)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        assert _kcore(spark, edges, 4) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    from arrow_parquet_logs_spark.operators.graph import k_core_peel

    df = spark.createDataFrame(edges, "src string, dst string")
    with _pytest.raises(ValueError, match="k must be"):
        k_core_peel(df, 0)


# ---- cheapest_paths (bounded-hop Bellman-Ford) -------------------------------


def _cp(spark, edges, seeds, max_hops=4):
    from arrow_parquet_logs_spark.operators.graph import cheapest_paths

    e = spark.createDataFrame(edges, "src string, dst string, w long")
    s = spark.createDataFrame([(x,) for x in seeds], "node string")
    return {r.node: r.dist for r in cheapest_paths(e, s, max_hops=max_hops).collect()}


def test_cheapest_weighted_beats_direct_edge(spark):
    # direct a->c costs 10; a->b->c costs 2+3=5: the 2-hop path must win
    edges = [("a", "c", 10), ("a", "b", 2), ("b", "c", 3)]
    got = _cp(spark, edges, ["a"], max_hops=2)
    assert got == {"a": 0, "b": 2, "c": 5}
    # with only 1 hop allowed, the direct edge is the best available
    assert _cp(spark, edges, ["a"], max_hops=1)["c"] == 10


def test_cheapest_multi_seed_multi_edge_and_invariance(spark):
    import pytest as _pytest

    # parallel edges collapse to the cheapest; two seeds compete
    edges = [("s1", "m", 5), ("s1", "m", 2), ("s2", "m", 3), ("m", "t", 1)]
    got = _cp(spark, edges, ["s1", "s2"], max_hops=3)
    assert got["m"] == 2 and got["t"] == 3
    base = got
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert _cp(spark, edges, ["s1", "s2"], max_hops=3) == base
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    from arrow_parquet_logs_spark.operators.graph import cheapest_paths

    df = spark.createDataFrame(edges, "src string, dst string, w long")
    with _pytest.raises(ValueError, match="max_hops"):
        cheapest_paths(df, spark.createDataFrame([("s1",)], "node string"), max_hops=0)


# ---- HITS hubs & authorities ----------------------------------------------

def _reference_hits(edges, iterations=2, scale=SCALE):
    """Pure-Python integer replay of the sum-normalized HITS recurrence."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    h = {v: scale for v in nodes}
    a = {}
    for _ in range(iterations):
        araw = {v: 0 for v in nodes}
        for s, d, w in edges:
            araw[d] += h[s] * w
        tot = sum(araw.values())
        a = {v: (araw[v] * scale) // tot for v in nodes}
        hraw = {v: 0 for v in nodes}
        for s, d, w in edges:
            hraw[s] += a[d] * w
        tot = sum(hraw.values())
        h = {v: (hraw[v] * scale) // tot for v in nodes}
    return h, a


def test_hits_matches_python_reference(spark, edge_df):
    from arrow_parquet_logs_spark.operators.graph import hits

    got = {r.node: (r.hub_scaled, r.auth_scaled) for r in hits(edge_df).collect()}
    h, a = _reference_hits(EDGES)
    assert got == {v: (h[v], a[v]) for v in h}


def test_hits_zero_degree_scores_and_validation(spark):
    from arrow_parquet_logs_spark.operators.graph import hits

    # x -> y only: x is a pure hub (auth 0), y a pure authority (hub 0)
    df = spark.createDataFrame([("x", "y", 1)], "src string, dst string, w long")
    rows = {r.node: r for r in hits(df, iterations=3).collect()}
    assert rows["x"].auth_scaled == 0 and rows["y"].hub_scaled == 0
    assert rows["x"].hub_scaled == SCALE and rows["y"].auth_scaled == SCALE
    with pytest.raises(ValueError, match="iterations"):
        hits(df, iterations=0)


def test_hits_partition_and_regime_invariance(spark, edge_df):
    from arrow_parquet_logs_spark.operators.graph import hits

    base = sorted(map(tuple, hits(edge_df).collect()))
    repart = sorted(map(tuple, hits(edge_df.repartition(7)).collect()))
    shuffle_regime = sorted(map(tuple, hits(edge_df, broadcast_nodes_cap=0).collect()))
    assert base == repart == shuffle_regime


# ---- label propagation ------------------------------------------------------

def test_lpa_two_cliques_converge_to_two_communities(spark):
    from arrow_parquet_logs_spark.operators.graph import label_propagation

    # two triangles bridged by one weak edge: LPA separates them
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    df = spark.createDataFrame(
        [(s, d, 1) for s, d in tri1 + tri2 + bridge], "src string, dst string, w long"
    )
    got = {r.node: r.label for r in label_propagation(df, rounds=4, weight="w").collect()}
    assert got["a"] == got["b"] == got["c"]
    assert got["x"] == got["y"] == got["z"]
    assert got["a"] != got["x"]


def test_lpa_weighted_vote_beats_count_and_tie_breaks_min(spark):
    from arrow_parquet_logs_spark.operators.graph import label_propagation

    # m has two unit-weight neighbors labeled p,q and one weight-3
    # neighbor labeled h: the weighted vote wins round 1
    df = spark.createDataFrame(
        [("m", "p", 1), ("m", "q", 1), ("m", "h", 3)], "src string, dst string, w long"
    )
    got = {r.node: r.label for r in label_propagation(df, rounds=1, weight="w").collect()}
    assert got["m"] == "h"
    # unweighted: p, q, h all tie at 1 vote -> smallest label wins
    got = {r.node: r.label for r in label_propagation(df, rounds=1).collect()}
    assert got["m"] == "h"  # h < p < q lexicographically


@pytest.mark.scale
def test_lpa_partition_invariance_and_validation(spark):
    from arrow_parquet_logs_spark.operators.graph import label_propagation

    df = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("c", "a", 5), ("d", "a", 1)],
        "src string, dst string, w long",
    )
    base = sorted(map(tuple, label_propagation(df, rounds=3, weight="w").collect()))
    rep = sorted(map(tuple, label_propagation(df.repartition(5), rounds=3, weight="w").collect()))
    assert base == rep
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(df, rounds=0)
