"""PageRank operator: exactness vs an in-test numpy reference of the
same fixed-iteration recurrence, mass conservation, dangling handling."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from europe_gis_spark.operators import graph


def ref_pagerank(edges, iters=5, d=0.85):
    es = sorted({(a, b) for a, b in edges if a != b})
    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for a, _ in es:
        outdeg[idx[a]] += 1
    pr = np.full(n, 1.0 / n)
    base = (1.0 - d) / n
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b in es:
            contrib[idx[b]] += pr[idx[a]] / outdeg[idx[a]]
        dang = pr[outdeg == 0].sum()
        pr = base + d * (contrib + dang / float(n))
    return {v: pr[idx[v]] for v in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    return {r.node: r.pr for r in graph.pagerank(df, **kw).collect()}


def test_pagerank_matches_numpy_reference(spark):
    rng = np.random.default_rng(7)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 25, 120), rng.integers(0, 25, 120))
    ]
    got = _run(spark, edges, iters=5, damping=0.85)
    want = ref_pagerank(edges, iters=5, d=0.85)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v


def test_pagerank_mass_conserved_and_dangling(spark):
    # node 3 is dangling (no out-edges); self-loop (1,1) must be dropped
    edges = [(0, 1), (1, 2), (2, 3), (1, 1), (0, 3), (2, 0)]
    got = _run(spark, edges, iters=8, damping=0.85)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    want = ref_pagerank(edges, iters=8, d=0.85)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12
    # authority ordering: node 3 receives from 2 and 0 plus dangling
    assert got[3] == max(got.values())


def test_pagerank_empty_and_selfloop_only_graphs(spark):
    """No edges (or self-loops only) → empty (node, pr) result, never a
    ZeroDivisionError on the driver."""
    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(empty).count() == 0
    loops = spark.createDataFrame(pd.DataFrame({"src": [1, 2], "dst": [1, 2]}))
    out = graph.pagerank(loops)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "pr"]


def test_pagerank_hub_gets_rank(spark):
    # star: everyone points at node 0
    edges = [(i, 0) for i in range(1, 9)]
    got = _run(spark, edges, iters=5)
    assert got[0] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_convergence_mode_stops_early(spark):
    """tol-based termination: a loose tolerance must stop well before
    the iteration cap and land within tol-ball of the power-iteration
    fixed point; an unreachable tolerance raises loudly."""
    import pytest

    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 20, 80), rng.integers(0, 20, 80))
    ]
    got = _run(spark, edges, iters=50, damping=0.85, tol=1e-10)
    # reference: effectively-converged fixed point
    want = ref_pagerank(edges, iters=200, d=0.85)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-8, v
    with pytest.raises(RuntimeError, match="did not reach"):
        _run(spark, edges, iters=2, damping=0.85, tol=1e-15)


def test_pagerank_disk_checkpoint_path(spark):
    """Above the node threshold the per-round snapshot must go through
    the RELIABLE checkpoint (disk) path and still produce the exact
    fixed-iteration result."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    got = _run(spark, edges, iters=5, damping=0.85, disk_checkpoint_nodes=2)
    want = ref_pagerank(edges, iters=5, d=0.85)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12
    assert spark.sparkContext.getCheckpointDir() is not None


def test_pagerank_topk_is_take_ordered(spark):
    """pagerank_topk returns the k top-authority nodes (rounded-rank
    order, node tie-break) and plans as TakeOrderedAndProject — a
    per-partition heap, never a full sort shuffle."""
    rng = np.random.default_rng(5)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 30, 150), rng.integers(0, 30, 150))
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    top = graph.pagerank_topk(df, k=5, iters=5, damping=0.85)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        top.explain(mode="simple")
    assert "TakeOrderedAndProject" in buf.getvalue()
    rows = top.collect()
    want = ref_pagerank(edges, iters=5, d=0.85)
    ranked = sorted(want.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]
    assert [r.node for r in rows] == [v for v, _ in ranked]


def ref_triangles(edges):
    import itertools

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({v for e in und for v in e})
    n_tri = {v: 0 for v in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for v in (a, b, c):
                n_tri[v] += 1
    return n_tri


def test_triangle_count_hand_fixture(spark):
    # K3 {0,1,2} + pendant 3 + disconnected edge 4-5; duplicate,
    # reversed and self-loop edges must not change counts
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (1, 0), (2, 3), (4, 5), (4, 4)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r.node: r.n_triangles for r in graph.triangle_count(df).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 0, 4: 0, 5: 0}


def test_triangle_count_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 20, 150), rng.integers(0, 20, 150))
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r.node: r.n_triangles for r in graph.triangle_count(df).collect()}
    ref = ref_triangles(edges)
    assert got == ref
    # sanity: the fixture actually has triangles
    assert sum(ref.values()) > 0


def ref_hits(edges, iters=5):
    es = sorted({(a, b) for a, b in edges if a != b})
    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    a = np.ones(n)
    h = np.zeros(n)
    for _ in range(iters):
        h = np.zeros(n)
        for s, d in es:
            h[idx[s]] += a[idx[d]]
        h /= h.sum()
        a = np.zeros(n)
        for s, d in es:
            a[idx[d]] += h[idx[s]]
        a /= a.sum()
    return {v: (h[idx[v]], a[idx[v]]) for v in nodes}


def test_hits_matches_numpy_reference(spark):
    rng = np.random.default_rng(13)
    edges = [
        (int(x), int(y))
        for x, y in zip(rng.integers(0, 20, 90), rng.integers(0, 20, 90))
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r.node: (r.hub, r.auth) for r in graph.hits(df, iters=5).collect()}
    ref = ref_hits(edges, iters=5)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v][0] - ref[v][0]) < 1e-12
        assert abs(got[v][1] - ref[v][1]) < 1e-12
    # L1-normalized each half-step
    assert abs(sum(x for x, _ in got.values()) - 1.0) < 1e-9
    assert abs(sum(y for _, y in got.values()) - 1.0) < 1e-9


def test_shortest_hops_vs_bfs_reference(spark):
    import collections

    rng = np.random.default_rng(29)
    edges = [
        (int(x), int(y))
        for x, y in zip(rng.integers(0, 30, 120), rng.integers(0, 30, 120))
    ]
    # guarantee the source exists and something is unreachable
    edges += [(0, 1), (1, 2)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r.node: r.hop for r in graph.shortest_hops(df, source=0).collect()}
    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
    ref, q = {0: 0}, collections.deque([0])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in ref:
                ref[v] = ref[u] + 1
                q.append(v)
    assert got == ref


def test_shortest_hops_nonconvergence_guard(spark):
    import pytest as _pt

    df = spark.createDataFrame(pd.DataFrame({"src": [0, 1], "dst": [1, 2]}))
    with _pt.raises(RuntimeError, match="non-empty"):
        graph.shortest_hops(df, source=0, max_iters=1)


def ref_ppr(edges, seeds, iters=5, d=0.85):
    es = sorted({(a, b) for a, b in edges if a != b})
    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for a, _ in es:
        outdeg[idx[a]] += 1
    rst = np.zeros(n)
    for s in seeds:
        rst[idx[s]] = 1.0 / len(seeds)
    pr = rst.copy()
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b in es:
            if outdeg[idx[a]]:
                contrib[idx[b]] += pr[idx[a]] / outdeg[idx[a]]
        dang = pr[outdeg == 0].sum()
        pr = (1 - d) * rst + d * (contrib + dang * rst)
    return {v: pr[idx[v]] for v in nodes}


def test_ppr_matches_numpy_and_localizes(spark):
    rng = np.random.default_rng(31)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 25, 120), rng.integers(0, 25, 120))
    ]
    seeds = [0, 5]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {
        r.node: r.pr
        for r in graph.pagerank_personalized(df, seeds=seeds).collect()
    }
    ref = ref_ppr(edges, seeds)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12
    # teleport localization: seeds hold more mass than uniform PR gives them
    uni = {r.node: r.pr for r in graph.pagerank(df, iters=5).collect()}
    assert sum(got[s] for s in seeds) > sum(uni[s] for s in seeds)


def test_cc_star_path_and_isolated_edge(spark):
    """Star CC on 3 path components + one far pair: exact canonical
    labels (component = min reachable node)."""
    edges = [(i, i + 1) for i in range(299) if (i + 1) % 100 != 0]
    edges.append((500, 501))
    df = spark.createDataFrame(edges, "a long, b long").coalesce(4)
    got = {r.node: r.component for r in graph.cc_star(df).collect()}
    exp = {n: (n // 100) * 100 for n in range(300)}
    exp.update({500: 500, 501: 500})
    assert got == exp


def test_cc_star_matches_min_label_on_random_graph(spark):
    from europe_gis_spark.operators import dedup

    rng = np.random.default_rng(7)
    pairs = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 400, 350), rng.integers(0, 400, 350))
        if a != b
    ]
    df = spark.createDataFrame(pairs, "a long, b long").coalesce(4)
    s = {(r.node, r.component) for r in graph.cc_star(df).collect()}
    m = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(df, "a", "b").collect()
    }
    assert s == m


def test_cc_star_log_rounds_on_long_path(spark):
    """THE property that earns cc_star its place next to min-label
    propagation: a 512-node path (diameter 511, far beyond
    connected_components' 50-round budget) converges within 16 star
    rounds (log2(512)=9 + slack) — round count scales with log n, not
    diameter."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], "a long, b long"
    ).coalesce(8)
    got = {r.node: r.component for r in graph.cc_star(df, max_rounds=16).collect()}
    assert got == {n: 0 for n in range(512)}


def test_random_walks_contract(spark):
    """Walks are valid (every step follows an edge or holds on a
    dangling node), deterministic, and distinct across (start, rep)."""
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0)]  # plus 4 dangling? no: 1,2,3 have out
    df = spark.createDataFrame(edges, "src long, dst long")
    out = graph.random_walks(df, walk_len=6, walks_per_node=3)
    rows = out.orderBy("start", "rep", "step").collect()
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    walks = {}
    for r in rows:
        walks.setdefault((r.start, r.rep), []).append(r.node)
    assert len(walks) == 4 * 3 and all(len(w) == 7 for w in walks.values())
    for (s, _), w in walks.items():
        assert w[0] == s
        for a, b in zip(w, w[1:]):
            assert b in adj.get(a, {a}), (w, a, b)
    # deterministic across runs
    again = {
        (r.start, r.rep): r.node
        for r in graph.random_walks(df, walk_len=6, walks_per_node=3)
        .filter(F.col("step") == 6)
        .collect()
    }
    assert all(again[k] == w[-1] for k, w in walks.items())
    # reps explore differently somewhere (hash varies with rep)
    assert any(
        walks[(s, 0)] != walks[(s, 1)] for s in adj
    ), "all reps produced identical walks"


def test_random_walks_dangling_holds(spark):
    df = spark.createDataFrame([(7, 9)], "src long, dst long")
    w = {
        r.step: r.node
        for r in graph.random_walks(df, walk_len=4).collect()
    }
    assert w == {0: 7, 1: 9, 2: 9, 3: 9, 4: 9}


def test_label_propagation_two_cliques_bridge(spark):
    """Two 4-cliques joined by one bridge edge: LPA assigns each
    clique its min node's label and the bridge does not merge them;
    deterministic under repartitioning."""
    from europe_gis_spark.operators import graph

    cl1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = cl1 + cl2 + [(3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.label
        for r in graph.label_propagation(df, rounds=4).collect()
    }
    assert {n: got[n] for n in range(4)} == {n: 0 for n in range(4)}
    assert {n: got[n] for n in range(10, 14)} == {n: 10 for n in range(10, 14)}
    got2 = {
        r.node: r.label
        for r in graph.label_propagation(
            df.repartition(7), rounds=4
        ).collect()
    }
    assert got2 == got


def _jobs(spark, run):
    """Spark jobs issued by ``run()``, counted by job group (re-read
    until the asynchronously updated status store settles)."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    seen = -1
    while True:
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        if n == seen:
            return n
        seen = n
        time.sleep(0.2)


def test_pagerank_and_hits_rounds_are_one_shuffle(spark):
    """Every round is one snapshot of one shuffle: one more PageRank
    iteration (fixed or ``tol`` mode), label-propagation round or BFS
    level (on a directed path one node longer) costs at most 2 Spark
    jobs, one more HITS iteration (two half-step snapshots) at most 4 —
    the convergence scalars ride the snapshot's own job."""
    import pytest

    rng = np.random.default_rng(17)
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 30, 120), rng.integers(0, 30, 120))
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))

    def unconverged(k):
        with pytest.raises(RuntimeError, match="did not reach"):
            graph.pagerank(df, iters=k, tol=0.0)

    def path(k):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(k)], "src long, dst long"
        )

    for run, per_iter in (
        (lambda k: graph.pagerank(df, iters=k).collect(), 2),
        (unconverged, 2),
        (lambda k: graph.hits(df, iters=k).collect(), 4),
        (lambda k: graph.label_propagation(df, rounds=k).collect(), 2),
        (lambda k: graph.shortest_hops(path(k), source=0).collect(), 2),
    ):
        jobs = [_jobs(spark, lambda: run(k)) for k in (3, 4)]
        assert jobs[1] - jobs[0] <= per_iter, jobs


def test_hits_disk_checkpoint_path(spark, monkeypatch):
    """Above the node threshold every HITS half-step snapshot goes
    through the RELIABLE checkpoint (disk) path and the result is still
    the exact fixed-iteration recurrence."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1), (4, 2)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    cls = type(df)
    reliable = cls.checkpoint
    calls = []

    def counting(self, eager=True):
        calls.append(eager)
        return reliable(self, eager)

    monkeypatch.setattr(cls, "checkpoint", counting)
    got = {
        r.node: (r.hub, r.auth)
        for r in graph.hits(df, iters=4, disk_checkpoint_nodes=2).collect()
    }
    assert len(calls) == 2 * 4
    ref = ref_hits(edges, iters=4)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v][0] - ref[v][0]) < 1e-12
        assert abs(got[v][1] - ref[v][1]) < 1e-12
    assert spark.sparkContext.getCheckpointDir() is not None


def test_cc_star_round_count_on_512_path(spark):
    """The convergence check stops at the first round whose input is a
    star forest: the 512-node path converges with exactly 10 rounds and
    raises with 9."""
    import pytest

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], "a long, b long"
    ).coalesce(8)
    got = {r.node: r.component for r in graph.cc_star(df, max_rounds=10).collect()}
    assert got == {n: 0 for n in range(512)}
    with pytest.raises(RuntimeError, match="did not converge in 9 rounds"):
        graph.cc_star(df, max_rounds=9)


def test_shortest_hops_source_without_edges(spark):
    """A source with no edges of its own — absent from the graph, or
    with only a self-loop — is still returned at hop 0, alone."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7)], "src long, dst long"
    )
    for source in (9, 7):
        got = [tuple(r) for r in graph.shortest_hops(df, source=source).collect()]
        assert got == [(source, 0)], (source, got)
