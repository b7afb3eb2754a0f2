"""Iterative graph operators over edge DataFrames (link-graph layer of
a crawl pipeline: PageRank-style authority scoring feeds the same
corpus-selection stage as the quality scores in textops).

The fixpoint loops — ``pagerank`` (fixed or ``tol`` mode),
``pagerank_personalized``, ``hits`` and
``dedup.connected_components`` — share one round driver,
:func:`_round`:

* setup snapshots the deduplicated, self-loop-free adjacency once, one
  row per node: ``(node, outs[, ins])`` (:func:`_adjacency`); the node
  count comes from an ``Observation`` on that snapshot;
* every round is ONE node-keyed shuffle: each node pushes a value along
  an adjacency array (``explode``), the pushes are unioned with one
  keep row per node (its arrays and own state), and a single hash
  aggregate folds them — no joins, and the adjacency travels with the
  state instead of being re-read;
* the aggregate is snapshotted (eager ``localCheckpoint``, so round N
  never replays rounds 1..N−1), and the round's scalars — dangling
  mass, L1 totals, L1 delta, changed-label count — come from an
  ``Observation`` on that snapshot, delivered by the snapshot's own job
  and fed to the next round as literals.

A round is therefore two Spark jobs (shuffle map stage + snapshot) and
the driver holds nothing beyond a few scalars per round.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, Observation, functions as F


#: above this node count the per-round rank snapshot moves from
#: executor-memory ``localCheckpoint`` to reliable disk ``checkpoint``
#: — RDDs of 10^10 ranks won't stay memory-resident on real clusters,
#: and a lost executor would otherwise force a full-lineage replay
DISK_CHECKPOINT_NODES = 50_000_000


def _local(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _snapshot_policy(spark, n_nodes: int, disk_checkpoint_nodes: int):
    """The per-round snapshot for an ``n_nodes`` state: executor-memory
    ``localCheckpoint`` up to ``disk_checkpoint_nodes``, above it the
    RELIABLE checkpoint directory (a temp-dir default is set if none is
    configured)."""
    if n_nodes <= disk_checkpoint_nodes:
        return _local
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(os.path.join(tempfile.gettempdir(), "egs_pagerank_ckpt"))
    return lambda df: df.checkpoint(eager=True)


def _observed(df: DataFrame, snapshot, metrics: list) -> tuple[DataFrame, dict]:
    """Snapshot ``df`` and return it with the named aggregate
    ``metrics`` over its rows, observed by the snapshot's own job."""
    obs = Observation()
    return snapshot(df.observe(obs, *metrics)), obs.get


def _links(
    edges: DataFrame, src_col: str, dst_col: str, ins: bool = False
) -> DataFrame:
    """Adjacency rows of the self-loop-free link set for
    :func:`_adjacency`: each edge gives its source a row with its
    target in ``outs`` and its target a row (with the source in
    ``ins`` when asked), so every endpoint is a node."""
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).filter(F.col("s") != F.col("d"))
    back = [F.col("s").alias("ins")] if ins else []
    fwd = e.select(F.col("s").alias("node"), F.col("d").alias("outs"))
    return fwd.unionByName(
        e.select(F.col("d").alias("node"), *back), allowMissingColumns=True
    )


def _adjacency(rows: DataFrame, arrays: tuple, *metrics) -> tuple[DataFrame, dict]:
    """Setup snapshot: one row per node with each of the ``arrays``
    columns of ``rows`` gathered into its set of non-null values
    (deduplicated map-side), plus the observed node count ``n`` and
    any other ``metrics``. Always a local snapshot — the node count
    that picks the round policy is only known after it."""
    adj = rows.groupBy("node").agg(*[F.collect_set(a).alias(a) for a in arrays])
    return _observed(adj, _local, [F.count(F.lit(1)).alias("n"), *metrics])


def _carry(*arrays: str) -> list:
    """Round aggregates that pass adjacency arrays through unchanged:
    each node's one keep-row value, ``flatten(collect_list)``."""
    return [F.flatten(F.collect_list(a)).alias(a) for a in arrays]


def _push(along: str, value) -> list:
    """Message rows of a round: ``value`` sent to every node of the
    state row's array column ``along``."""
    return [F.explode(along).alias("node"), value.alias("_m")]


def _round(
    state: DataFrame, push: list, aggs: list, metrics: list, snapshot
) -> tuple[DataFrame, dict]:
    """One round as ONE shuffle. The ``push`` message rows (node, _m)
    are unioned with the state rows themselves (the keep rows, ``_m``
    null) and a single node-keyed hash aggregate computes the next
    state's ``aggs`` over the union: ``F.sum("_m")`` is the pushed
    total (null when nothing arrived), ``F.sum(c)`` of a state scalar
    its keep-row value, exactly, and :func:`_carry` passes the arrays
    on. Returns the snapshot and its observed ``metrics``.

    The caller builds the columns once and rebuilds per round only the
    ones holding a round scalar: every column costs py4j round trips."""
    rows = state.unionByName(state.select(*push), allowMissingColumns=True)
    return _observed(rows.groupBy("node").agg(*aggs), snapshot, metrics)


def _rank_rounds(state, iters, step, dang, snapshot, tol=None):
    """Power iteration shared by :func:`pagerank` and
    :func:`pagerank_personalized`: ``state`` is (node, outs, pr), each
    round pushes pr/outdeg along ``outs`` and sets
    ``pr = step(contrib, dang)`` from the pushed total and the previous
    round's observed dangling mass. With ``tol`` the keep row also
    carries the old rank (``prev``) so the L1 delta is observed on the
    same snapshot; reaching it returns early, exhausting ``iters``
    raises."""
    push = _push("outs", F.col("pr") / F.size("outs"))
    contrib = F.coalesce(F.sum("_m"), F.lit(0.0))
    keep = _carry("outs")
    metrics = [
        F.coalesce(
            F.sum(F.when(F.size("outs") == 0, F.col("pr"))), F.lit(0.0)
        ).alias("dang")
    ]
    if tol is not None:
        keep.append(F.sum("pr").alias("prev"))
        metrics.append(F.sum(F.abs(F.col("pr") - F.col("prev"))).alias("delta"))
    for _ in range(iters):
        aggs = [*keep, step(contrib, F.lit(dang)).alias("pr")]
        state, m = _round(state, push, aggs, metrics, snapshot)
        dang = m["dang"]
        if tol is not None and m["delta"] < tol:
            return state
    if tol is not None:
        raise RuntimeError(
            f"pagerank did not reach tol={tol} within {iters} iterations"
        )
    return state


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    tol: float | None = None,
    disk_checkpoint_nodes: int = DISK_CHECKPOINT_NODES,
) -> DataFrame:
    """PageRank with a FIXED iteration count (deterministic — oracle-
    checkable against the same unrolled recurrence), uniform dangling-
    mass redistribution, self-loops and duplicate edges removed.

    Per iteration, one :func:`_round`: every node pushes pr/outdeg
    along its out-array, and the node-keyed aggregate sets
    pr = (1−d)/n + d·(contrib + dang/n); the dangling mass ``dang`` is
    observed on the previous round's snapshot. Returns (node, pr) with
    pr summing to 1 over the node universe src ∪ dst.

    Convergence mode: with ``tol`` set, iteration stops early once the
    L1 rank delta Σ|pr_new − pr_old| falls below ``tol`` (observed on
    the same snapshot — no extra job); ``iters`` becomes the maximum,
    and exhausting it without reaching ``tol`` raises loudly (same
    non-convergence contract as ``dedup.connected_components``).

    Lineage: ranks are re-checkpointed each round so round N never
    replays rounds 1..N−1. Below ``disk_checkpoint_nodes`` that is an
    eager ``localCheckpoint`` (executor memory); above it the snapshot
    goes to the RELIABLE checkpoint directory — 10^10-node rank RDDs
    neither fit in executor memory nor should vanish with one lost
    executor (sets a temp-dir default checkpoint dir if none is
    configured).
    """
    adj, m = _adjacency(
        _links(edges, src_col, dst_col),
        ("outs",),
        F.count_if(F.size("outs") == 0).alias("dangling"),
    )
    n = m["n"]
    if n == 0:
        # empty graph (no edges, or self-loops only): empty result with
        # the right schema, not a ZeroDivisionError
        return adj.select("node", F.lit(0.0).alias("pr"))
    base, d, nf = F.lit((1.0 - damping) / n), F.lit(damping), F.lit(float(n))

    def step(contrib, dang):
        return base + d * (contrib + dang / nf)

    ranks = _rank_rounds(
        adj.select("node", "outs", F.lit(1.0 / n).alias("pr")),
        iters,
        step,
        m["dangling"] * (1.0 / n),
        _snapshot_policy(edges.sparkSession, n, disk_checkpoint_nodes),
        tol,
    )
    return ranks.select("node", "pr")


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over the undirected
    simple graph of ``edges`` (direction, duplicates and self-loops
    ignored) — the local-clustering signal a link-graph curation stage
    uses alongside PageRank (spam farms: high degree, no closure).

    Shape for scale — degree-ordered wedge enumeration, the standard
    distributed bound: each canonical edge is ORIENTED from its lower-
    (degree, node)-ranked endpoint, so every triangle is found exactly
    once at its minimum-rank apex and the wedge self-join fans out by
    ORIENTED out-degree (O(sqrt E) max after orientation, vs raw max
    degree without it — the hub-killer at crawl scale). All joins are
    equi hash joins on node / (u,v) keys; no cartesian anywhere. The
    closure probe joins back to the canonical edge set on the composite
    key. Returns (node, n_triangles) over the full node universe,
    zeros included.
    """
    und = (
        edges.select(
            F.least(src_col, dst_col).alias("u"),
            F.greatest(src_col, dst_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds 4 plan branches: scan once
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient each edge low-rank -> high-rank, rank = (deg, node)
    du, dv = [
        deg.select(
            F.col("node").alias(c), F.col("deg").alias(f"deg_{c}")
        )
        for c in ("u", "v")
    ]
    ranked = und.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # wedges at apex a; {b,c} deduped by node id; closure edge (b,c)
    # is canonical (b<c) so it probes `und` directly on the edge key
    o1 = oriented.select(F.col("a"), F.col("b"))
    o2 = oriented.select(F.col("a"), F.col("b").alias("c"))
    tri = (
        o1.join(o2, "a")
        .filter(F.col("b") < F.col("c"))
        .join(
            und,
            (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")),
            "inner",
        )
        .select("a", "b", "c")
    )
    credits = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    ).groupBy("node").agg(F.count("*").alias("_n"))
    nodes = deg.select("node")
    return nodes.join(credits, "node", "left").select(
        "node", F.coalesce("_n", F.lit(0)).alias("n_triangles")
    )


def pagerank_topk(
    edges: DataFrame,
    k: int = 10,
    round_to: int = 6,
    **kwargs,
) -> DataFrame:
    """The deliverable form of authority scoring: the ``k`` highest-
    ranked nodes. Global top-k by rounded rank with a node tie-break —
    Spark executes orderBy().limit() as TakeOrderedAndProject (per-
    partition heap + driver merge of k rows, never a full sort
    shuffle). Ordering on ROUND(pr, round_to) absorbs last-ulp float
    jitter between engines so the DuckDB oracle is exact."""
    pr = pagerank(edges, **kwargs)
    return (
        pr.select("node", F.round("pr", round_to).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(k)
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    disk_checkpoint_nodes: int = DISK_CHECKPOINT_NODES,
) -> DataFrame:
    """Kleinberg HITS hubs-and-authorities with a FIXED iteration
    count and L1 normalization after each half-step (deterministic —
    the oracle unrolls the identical recurrence). Complements
    PageRank: authorities are pointed AT by good hubs, hubs point TO
    good authorities — the directory-page vs content-page split a
    crawl-curation stage uses.

    Each half-step is one :func:`_round` over (node, outs, ins): the
    hub step pushes the normalized authority back along ``ins``, the
    authority step pushes the normalized hub along ``outs``. Each
    snapshot holds the raw (unnormalized) sums ``r``; their L1 total is
    observed on it and divides them as a literal in the next push, and
    the authority step's keep row carries the normalized hub to the
    output. Nodes without out-edges get hub 0, without in-edges
    authority 0. Lineage and snapshot policy as ``pagerank``.
    """
    arrays = ("outs", "ins")
    state, m = _adjacency(_links(edges, src_col, dst_col, ins=True), arrays)
    n = m["n"]
    if n == 0:
        return state.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
    if iters < 1:
        raise ValueError("hits requires iters >= 1")
    snapshot = _snapshot_policy(edges.sparkSession, n, disk_checkpoint_nodes)
    keep, raw = _carry(*arrays), F.sum("_m").alias("r")
    total = [F.sum("r").alias("t")]
    pushed, kept = F.coalesce("r", F.lit(0.0)), F.coalesce(F.sum("r"), F.lit(0.0))
    auth = F.lit(1.0)
    for _ in range(iters):
        state, m = _round(state, _push("ins", auth), [*keep, raw], total, snapshot)
        t = F.lit(m["t"])
        state, m = _round(
            state,
            _push("outs", pushed / t),
            [*keep, (kept / t).alias("hub"), raw],
            total,
            snapshot,
        )
        auth = pushed / F.lit(m["t"])
    return state.select("node", "hub", auth.alias("auth"))


def shortest_hops(
    edges: DataFrame,
    source: int,
    max_iters: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed BFS hop distance from ``source`` — frontier expansion,
    the crawl-depth / link-distance primitive. Returns (node, hop) for
    REACHABLE nodes only.

    Per round: ONE frontier⋈edges hash join + an anti-join against the
    settled set, both keyed on node; the frontier's row count is
    observed on its own snapshot (no separate emptiness job) and the
    settled set re-checkpoints per round (same lineage policy as
    ``pagerank``/``connected_components``). O(diameter) blocking
    rounds — the standard distributed-BFS shape; label-correcting
    variants trade that for more shuffled volume. Exhausting
    ``max_iters`` with a non-empty frontier raises loudly (same
    non-convergence contract as connected_components).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(source, 0)], schema="node long, hop int"
    ).localCheckpoint(eager=True)
    frontier = dist.select("node")
    size = [F.count(F.lit(1)).alias("n")]
    for i in range(1, max_iters + 1):
        nxt, m = _observed(
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti"),
            _local,
            size,
        )
        if m["n"] == 0:
            return dist
        dist = dist.union(
            nxt.select("node", F.lit(i).cast("int").alias("hop"))
        ).localCheckpoint(eager=True)
        frontier = nxt
    raise RuntimeError(
        f"shortest_hops frontier still non-empty after {max_iters} rounds"
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: list,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport goes to the
    SEED set instead of uniformly — rank mass measures proximity to
    the seeds, the crawl-curation primitive for 'pages like these'.
    Fixed iterations, deterministic; dangling mass also restarts at
    the seeds (standard PPR). Same one-shuffle rounds as ``pagerank``
    (shared power iteration); only the step differs,
    pr = (1−d)·rst + d·(contrib + dang·rst), so the uniform path's
    pinned float expression order is untouched.
    """
    if not seeds:
        raise ValueError("pagerank_personalized requires a non-empty seed set")
    rst = F.when(
        F.col("node").isin([int(s) for s in seeds]),
        F.lit(1.0 / len(seeds)),
    ).otherwise(F.lit(0.0))
    adj, m = _adjacency(
        _links(edges, src_col, dst_col),
        ("outs",),
        F.coalesce(F.sum(F.when(F.size("outs") == 0, rst)), F.lit(0.0)).alias("dang"),
    )
    if m["n"] == 0:
        return adj.select("node", F.lit(0.0).alias("pr"))

    teleport, d = F.lit(1.0 - damping) * rst, F.lit(damping)

    def step(contrib, dang):
        return teleport + d * (contrib + dang * rst)

    ranks = _rank_rounds(
        adj.select("node", "outs", rst.alias("pr")),
        iters,
        step,
        m["dang"],
        _snapshot_policy(edges.sparkSession, m["n"], DISK_CHECKPOINT_NODES),
    )
    return ranks.select("node", "pr")


def cc_star(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the O(log n)-round scale twin of
    ``dedup.connected_components``'s min-label propagation, whose
    round count is O(component diameter): a 10^6-node path component
    needs ~10^6 propagation rounds but ~20 star rounds, so this is the
    form that survives web-graph-shaped inputs at 100 TB.

    large-star hangs every strictly-larger neighbor of u onto
    m = min(N(u) ∪ {u}); small-star (on the (big → small)-oriented
    result) hangs u and its smaller neighbors onto their minimum. Each
    half-round is one node-keyed aggregation + one node-keyed join —
    two shuffles — with no driver-side state; convergence is one
    count over a symmetric ``exceptAll`` diff per round (empty diff ⇔
    the oriented edge set is a fixpoint of both steps ⇔ every node
    points directly at its component minimum). Lineage is truncated
    per round with ``localCheckpoint`` like :func:`pagerank`.

    Returns (node, component) for every node incident to an edge,
    component = min reachable node id. Raises if not converged in
    ``max_rounds`` (log2 of the node count plus slack is enough).
    """
    raw = edges.select(
        F.col(a_col).cast("long").alias("x"),
        F.col(b_col).cast("long").alias("y"),
    )
    universe = (
        raw.select(F.col("x").alias("node"))
        .union(raw.select(F.col("y").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        raw.filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_rounds):
        # large-star over the full (undirected) neighborhood
        und = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            und.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the (big → small)-oriented large-star output
        mins_s = large.groupBy("u").agg(F.min("v").alias("m"))
        with_min = large.join(mins_s, "u")
        small = (
            with_min.select(F.col("v").alias("n"), F.col("m"))
            .union(with_min.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            small.exceptAll(e).union(e.exceptAll(small)).limit(1).count()
        )
        e = small
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"cc_star did not converge in {max_rounds} rounds — raise "
            "max_rounds (log2(nodes) + slack is sufficient)"
        )
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return universe.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) made fully deterministic: over the undirected simple
    graph, every round EVERY node adopts the smallest label among
    those of maximal frequency in its neighborhood (ties: min label —
    the random pick in the paper is replaced by a total order so the
    result is engine-reproducible and an unrolled oracle can state
    it). FIXED round budget: synchronous LPA can oscillate on
    bipartite structure, so a fixed count is both the deterministic
    choice and the oracle-checkable one — the result is whatever
    state round N reaches, exactly.

    Per round: one node-keyed edge⋈label join, one (node, label)
    count, one argmax-pick agg (min over (-cnt, label) structs — all
    integer arithmetic, no floats anywhere); lineage truncated per
    round like ``pagerank``. Returns (node, label)."""
    a, b = F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    und = (
        edges.select(a, b)
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        nb = und.join(labels, und["b"] == labels["node"]).select(
            F.col("a").alias("node"), "label"
        )
        cnt = nb.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("label").alias("lbl"),
                    )
                ).alias("pick")
            )
            .select("node", F.col("pick.lbl").alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def random_walks(
    edges: DataFrame,
    walk_len: int = 8,
    walks_per_node: int = 1,
    seed: str = "rw:v1",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """DeepWalk-style random-walk corpus generation (walks become
    skip-gram training sequences for node embeddings), with a
    HASH-DETERMINISTIC choice function instead of rand(): the step-t
    transition out of node u on walk (start, rep) picks neighbor index
    md5(seed|start|rep|t|u) mod outdeg(u) over the SORTED neighbor
    array — engine-portable (the DuckDB oracle replays the identical
    arithmetic), reproducible across retries/speculative tasks (a
    rand() walk is not), and still uniform per step.

    Plan shape: the adjacency builds ONCE as (node, sorted nbr array)
    — one groupBy — then the whole walk is a SINGLE declarative plan:
    ``walk_len`` chained node-keyed joins with the path accumulated in
    an array column (no driver action between steps, no O(len²)
    recompute, Catalyst/AQE sees the full chain). Dangling nodes hold
    in place (documented choice). Walks start from every node with
    ≥1 out-edge.

    Returns (start, rep, step, node) — step 0 is the start itself.
    """
    adj = (
        edges.select(
            F.col(src_col).cast("long").alias("node"),
            F.col(dst_col).cast("long").alias("nbr"),
        )
        .distinct()
        .groupBy("node")
        .agg(F.array_sort(F.collect_list("nbr")).alias("nbrs"))
    )
    state = (
        adj.select("node")
        .withColumn(
            "rep",
            F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)])),
        )
        .select(
            F.col("node").alias("start"),
            "rep",
            F.col("node").alias("cur"),
            F.array(F.col("node")).alias("path"),
        )
    )
    for t in range(1, walk_len + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(seed),
                        F.col("start"),
                        F.col("rep"),
                        F.lit(t),
                        F.col("cur"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        nxt = F.when(
            F.col("nbrs").isNotNull(),
            F.element_at("nbrs", ((h % F.size("nbrs")) + 1).cast("int")),
        ).otherwise(F.col("cur"))
        state = state.join(adj, state.cur == adj.node, "left").select(
            "start",
            "rep",
            nxt.alias("cur"),
            F.concat("path", F.array(nxt)).alias("path"),
        )
    return state.select(
        "start", "rep", F.posexplode("path").alias("step", "node")
    )
