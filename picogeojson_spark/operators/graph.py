"""Iterative graph ranking: fixed-point PageRank over an edge DataFrame.

Complements the connected-components operator (``dedup.duplicate_clusters``)
with the other canonical web-scale graph primitive — link-based importance
ranking (Page et al. 1999), e.g. over a customer→supplier purchase graph or a
page link graph.

Determinism contract: ranks are integers in units of ``scale`` (default
1e12 = total initial mass), and every step is integer arithmetic —
``rank div outdeg`` contributions, exact integer sums, ``(x * d_pct) div
100`` damping. No float accumulation anywhere, so the result is a pure
function of the edge set, bit-identical across engines / partitionings /
iteration orders, and the DuckDB oracle replays it exactly by unrolling the
same iterations in SQL.

Dangling nodes (no out-edges) simply retain no forwarded mass (their
contribution vanishes, the classic "simplified PageRank" variant) — total
mass is therefore not conserved, which is fine for ranking and keeps both
sides trivially identical.

Scale shape: per iteration, one equi-join of the rank vector with the
(large, cached) out-degree-annotated edge table plus one map-side-combine
aggregate back to nodes. Hot dst nodes (the web's power law) are AQE
skew-join territory; the integer semantics are unaffected by any re-plan.

Every round-based operator here except HITS, k_core and k_truss runs its
rounds through :func:`_round_loop`, whose docstring holds the caching and
release rules they share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ._util import attach_scalar


def _jvm_gc_ms(spark) -> int:
    """Total JVM garbage-collection wall (ms) across all collectors —
    driver JVM, which in local mode is also every executor."""
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size()))


def _iter_probe_start(spark, log):
    if log is None:
        return None, None
    import time as _time
    return _time.time(), _jvm_gc_ms(spark)


def _iter_probe_end(spark, log, rnd, t0, gc0):
    if log is None:
        return
    import time as _time
    log.append({"round": rnd,
                "wall_s": round(_time.time() - t0, 4),
                "gc_ms": _jvm_gc_ms(spark) - gc0})


def _round_loop(start, step, rounds, finish=None, iteration_log=None):
    """The one round loop of ``pagerank``, ``label_propagation``,
    ``bfs_hops``, ``sssp_bounded`` and ``closeness_sample``.

    ``start`` is the round-0 vector, persisted by the caller when a later
    round reads it again; it is also round 0's frontier.  Round ``r``
    (1-based) builds ``next_state, frontier = step(state, frontier, r)``
    as lazy plans and runs exactly ONE Spark action.  Before the last
    round it persists both — the frontier first, so a state built from
    it reads its cache — and counts the new frontier.  An empty frontier
    is a fixed point and ends the loop early, returning
    ``finish(state).localCheckpoint(eager=True)`` with the previous
    round's state.  Steps of the form ``(v, v)`` never stop early.
    Whatever the exit — bound reached, empty frontier or error — the loop
    unpersists every vector it pinned, ``start`` included, so nothing
    stays in the SQL CacheManager after the operator returns.
    ``iteration_log`` gets one ``{"round", "wall_s", "gc_ms"}`` dict per
    round (see ``pagerank``).

    Last-round rule: round ``rounds`` builds no frontier cache and runs
    no count; its action IS the returned checkpoint, of
    ``finish(next_state)``.  ``next_state`` is still persisted, so the
    checkpoint, which fills that cache, takes its real size as its
    statistics; checkpointed from the bare plan it would carry Catalyst's
    estimate (GBs for a 2000-node vector), and a join with the result
    would no longer broadcast it.  The rule is exact even when the last
    frontier would have come out empty, because ``next_state`` then
    holds ``state``'s rows: the BFS union adds no row, sssp's min over
    ``dist ∪ ∅`` is ``dist``, and ``(v, v)`` steps never stop early.  A
    call that runs all its rounds thus runs ``rounds`` actions, not
    ``rounds + 1``; one whose round r < ``rounds`` finds an empty
    frontier runs r + 1.

    Vectors are PERSISTED, not localCheckpointed: a checkpoint is an
    opaque RDD scan whose outputPartitioning Catalyst forgets, so the next
    round's join would re-exchange it; a cached plan keeps its hash
    partitioning visible.

    Release rule (the one-round-late persist handoff): every step reads
    the previous state in full, so round r's count also materializes
    state r-1, while state r may still be lazy (``dist ∪ new`` is first
    read by round r+1).  Round r-2's state and round r-1's frontier are
    therefore released only after round r's count, and state r-1 stays
    pinned until the next one; this is what makes a separate count of
    ``next_state`` unnecessary.  Each release re-plans the still-lazy
    state r on the driver (Spark recompiles a cached plan that reads an
    unpersisted one); that costs no Spark job.  The cached working set is
    bounded whatever the round count: at most two materialized states
    plus their frontiers, and for ``(v, v)`` steps two vectors (v_{r-1}
    while v_r is counted) — a 1e9-node pagerank pins ~2x16 GB, not
    rounds x 16 GB.
    """
    spark = start.sparkSession
    pinned = [start]
    older, state, frontier = None, start, start
    try:
        for r in range(1, rounds + 1):
            t0, gc0 = _iter_probe_start(spark, iteration_log)
            nxt, new = step(state, frontier, r)
            if r == rounds:
                pinned.append(nxt.persist())
                out = (finish(nxt) if finish else nxt).localCheckpoint(
                    eager=True)
                _iter_probe_end(spark, iteration_log, r - 1, t0, gc0)
                return out
            pinned += [new.persist(), nxt if nxt is new else nxt.persist()]
            empty = new.count() == 0
            _iter_probe_end(spark, iteration_log, r - 1, t0, gc0)
            if empty:
                break
            if older is not None:
                older.unpersist()
                frontier.unpersist()
            older, state, frontier = state, nxt, new
        return (finish(state) if finish else state).localCheckpoint(
            eager=True)
    finally:
        # newest first: a cached plan that is not yet materialized is
        # re-planned whenever a vector it reads is unpersisted before it
        for df in reversed(pinned):
            df.unpersist()


def _symmetrize(edges: DataFrame, *extra) -> DataFrame:
    """Both directions of every undirected ``(u, v)`` edge: ``edges``
    plus ``edges`` with u and v swapped (a lazy union, no dedup).  The
    ``extra`` column expressions ride along unchanged."""
    e = edges.select("u", "v", *extra)
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"),
                            *e.columns[2:]))


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds=None,
    iteration_log: list | None = None,
) -> DataFrame:
    """Run ``iterations`` rounds of fixed-point PageRank over the distinct
    directed edges of ``edges``. Returns one ``(node, rank)`` row per node
    (every node appearing as src or dst), rank an integer in ``scale``
    units.

    Update rule (all integer ops)::

        r0      = scale div n_nodes
        base    = (r0 * (100 - damping_pct)) div 100
        contrib = sum over in-edges of (r_src div outdeg_src)
        r_next  = base + (contrib * damping_pct) div 100

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala 2002 — the
    random-surfer restart concentrated on a query/topic seed set, the
    retrieval-expansion and related-nodes primitive): initial mass and
    the per-round teleport base go only to the listed seed nodes
    (``scale div n_seeds`` each, 0 elsewhere); the iteration loop
    (:func:`_round_loop`, one action per round) and the integer
    determinism contract are shared verbatim with the uniform variant.
    ``seeds`` is a small in-driver
    sequence (query-sized, not corpus-sized); seeds absent from the
    graph lose their mass like dangling nodes do.

    ``iteration_log``: pass a list to receive one dict per round
    ``{"round", "wall_s", "gc_ms"}`` (wall time of the round's
    materializing action, the last round's being the returned
    checkpoint, + driver-JVM GC time delta — in local mode the
    driver JVM IS the executor, so this captures executor GC).  The
    round-4 verdict flagged a code-invariant 2-10x wall spread on this
    loop; the log is the adjudication instrument
    (scripts/graph_jitter_probe.py).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    seed_vals = None
    if seeds is not None:
        seed_vals = sorted(set(seeds))
        if not seed_vals:
            raise ValueError("seeds must be non-empty when given")

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # Cache the degree-annotated edge table partitioned on the join key and
    # keep it as a PERSIST, not a localCheckpoint: a checkpoint is an opaque
    # RDD scan whose outputPartitioning Catalyst no longer knows, so every
    # iteration would re-Exchange the full edge table; the cached plan keeps
    # hashpartitioning(src) visible and each iteration shuffles only the
    # node-sized rank vector onto it. Locally the per-iteration exchange of
    # a small edge table is cheap (~5-10%% measured at sf0.1), but at scale
    # the edge table is the corpus-sized side — 8 avoided exchanges of it
    # is the difference that matters at 100 TB.
    e_deg = e.join(deg, "src").repartition("src").persist()

    # distinct() leaves nodes hash-partitioned by node and persist keeps
    # that partitioning visible to Catalyst — the per-iteration left join
    # against the (node-keyed) contribution aggregate then needs no
    # exchange on either side.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    try:
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.withColumn("rank", F.lit(0).cast("long")) \
                .localCheckpoint(eager=True)
        if seed_vals is None:
            r0 = scale // n_nodes
            base = (r0 * (100 - damping_pct)) // 100
            r0_col = F.lit(r0).cast("long")
            base_col = F.lit(base).cast("long")
        else:
            r0_seed = scale // len(seed_vals)
            base_seed = (r0_seed * (100 - damping_pct)) // 100
            is_seed = F.col("node").isin(seed_vals)
            r0_col = F.when(is_seed, F.lit(r0_seed)).otherwise(F.lit(0)) \
                .cast("long")
            base_col = F.when(is_seed, F.lit(base_seed)) \
                .otherwise(F.lit(0)).cast("long")

        # The persisted rank vector keeps hashpartitioning(node) (alias-
        # rewritten to src through the rename) visible, and with nodes and
        # e_deg also cached partitioned, each iteration's ONLY exchange is
        # the map-side-combined contribution aggregate. At sf0.001-0.1 AQE
        # broadcasts the tiny rank vector and a checkpointed vector would
        # execute identically (measured: 2 stages, 1 shuffle write per
        # iteration either way); at 1e9-node scale the rank vector is not
        # broadcastable and the preserved partitioning is the difference.
        def step(ranks, _frontier, _r):
            contrib = (
                ranks.withColumnRenamed("node", "src")
                .join(e_deg, "src")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank div outdeg").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("contrib"))
            )
            nxt = nodes.join(contrib, "node", "left").select(
                "node",
                (
                    base_col
                    + F.expr("(coalesce(contrib, 0L) * {d}) div 100"
                             .format(d=damping_pct))
                ).alias("rank"),
            )
            return nxt, nxt

        return _round_loop(nodes.withColumn("rank", r0_col), step,
                           iterations, iteration_log=iteration_log)
    finally:
        e_deg.unpersist()
        nodes.unpersist()


def purchase_graph(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The customer→supplier purchase graph: a distinct directed edge for
    every (customer, supplier) pair connected through an order's line items.
    Supplier ids are shifted into a disjoint node-id space (``+ 10**7``) so
    the bipartite graph has globally unique node ids.
    """
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + 10**7).alias("dst"),
        )
        .distinct()
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
    scale: int = 10**9,
    src_col: str = "src",
    dst_col: str = "dst",
    iteration_log: list | None = None,
) -> DataFrame:
    """Kleinberg HITS hubs & authorities over the distinct directed edges,
    in pure integer arithmetic — one ``(node, hub, auth)`` row per node.

    Update rule per round (all integer ops, both engines replay it
    bit-for-bit)::

        a_raw = sum over in-edges  of hub(src)
        a     = a_raw div greatest(1, sum(a_raw) div scale)
        h_raw = sum over out-edges of auth(dst)
        h     = h_raw div greatest(1, sum(h_raw) div scale)

    The divisor-based renormalization (instead of the textbook L2 norm)
    keeps every value a 64-bit integer with NO big multiply: scores stay
    within a small factor of ``scale`` whenever the raw sum exceeds
    ``scale``, and are left untouched when it doesn't (tiny graphs). Pick
    ``scale`` so ``n_edges * 2 * scale < 2^63``.

    Scale shape: the distinct edge table and node spine are persisted
    once; each half-round is one rank-vector equi-join onto the edges plus
    one map-side-combined aggregate, and the corpus-wide normalizer is a
    1-row aggregate broadcast back — never collected to the driver. Each
    half-round's node-sized vector is materialized with an EAGER
    localCheckpoint (not the persist handoff of :func:`_round_loop`): HITS
    alternates join keys between half-rounds (src then dst), so there is
    no partitioning to preserve across rounds, and the hard lineage cut is
    what keeps round N's plan O(1) instead of O(N) — the normalizer's
    broadcast-hint subtree defeats the CacheManager's plan matching, so a
    persisted vector here re-derives the whole history every round
    (measured ~3.5x wall per round before the cut).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    e_src = e.repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    nodes.count()

    def _norm(raw, col):
        s = raw.agg(F.sum(col).cast("long").alias("_s"))
        return (
            attach_scalar(nodes.join(raw, "node", "left"), s)
            .select(
                "node",
                F.expr(
                    "coalesce({c}, 0L) div greatest(1L, _s div {k})".format(
                        c=col, k=int(scale))
                ).alias(col[:-4]),
            )
            .localCheckpoint(eager=True)
        )

    hubs = nodes.withColumn("hub", F.lit(int(scale)).cast("long"))
    auths = nodes.withColumn("auth", F.lit(0).cast("long"))
    try:
        for _it in range(iterations):
            _t0, _gc0 = _iter_probe_start(edges.sparkSession, iteration_log)
            a_raw = (
                hubs.withColumnRenamed("node", "src")
                .join(e_src, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").cast("long").alias("auth_raw"))
            )
            auths = _norm(a_raw, "auth_raw")

            h_raw = (
                auths.withColumnRenamed("node", "dst")
                .join(e_src, "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("auth").cast("long").alias("hub_raw"))
            )
            hubs = _norm(h_raw, "hub_raw")
            _iter_probe_end(edges.sparkSession, iteration_log,
                            _it, _t0, _gc0)

        out = (
            nodes.join(hubs.withColumnRenamed("node", "n1"),
                       F.col("node") == F.col("n1"), "left")
            .join(auths.withColumnRenamed("node", "n2"),
                  F.col("node") == F.col("n2"), "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        e_src.unpersist()
        nodes.unpersist()
    return out


def cooccurrence_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Distinct undirected co-occurrence edges ``(u < v)`` between items
    appearing in the same order (the market-basket graph).

    Scale shape: ONE self equi-join on the order key — per-order fan-out
    is quadratic only in the BASKET size, which is bounded (TPC-H <= 7;
    real carts are small constants), so the edge stream is linear in the
    lineitem count. Never an item-side join.
    """
    li = (
        lineitem.select(
            F.col(order_col).alias("ok"), F.col(item_col).alias("item"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, on="ok")
        .filter(F.col("a.item") < F.col("b.item"))
        .select(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
        .distinct()
    )


#: Edge budget above which exact triangle counting is NOT the recommended
#: default: the wedge stage is O(m^1.5), and at gate scale the exact count
#: is the suite's single most expensive query (34.5 s vs 9.1 s for the
#: q=8 estimate, ~7x measured — BENCH/BASELINE.md). The DOULION estimator
#: cuts wedge work by ~q^1.5 with relative error ~sqrt(q^3/true_count).
EXACT_TRIANGLES_EDGE_BUDGET = 5_000_000


def triangle_count_auto(edges: DataFrame, edge_count: int,
                        q: int = 4) -> DataFrame:
    """Estimator-first dispatch: exact per-vertex counts below
    :data:`EXACT_TRIANGLES_EDGE_BUDGET` edges, the DOULION global
    estimate (``triangle_count_estimate(q=4)``) above it, with a loud
    log line naming the switch.

    ``edge_count`` is caller-provided (table stats / a prior count) so
    this stays a lazy plan builder like every operator in the package —
    no hidden eager job. NOTE the two regimes return different shapes:
    exact -> per-vertex ``(node, n_triangles)``; estimate -> one global
    ``(n_sampled_edges, n_sampled_triangles, est_triangles)`` row.
    Callers needing per-vertex counts above the budget must opt in to
    the cost explicitly via :func:`triangle_count`.
    """
    import logging

    if edge_count > EXACT_TRIANGLES_EDGE_BUDGET:
        logging.getLogger(__name__).warning(
            "triangle_count_auto: %d edges > EXACT_TRIANGLES_EDGE_BUDGET"
            " (%d) — using DOULION estimate q=%d (O(m^1.5/q^1.5) wedge"
            " work); call triangle_count() directly for exact per-vertex"
            " counts at full cost", edge_count,
            EXACT_TRIANGLES_EDGE_BUDGET, q)
        return triangle_count_estimate(edges, q=q)
    return triangle_count(edges)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected edge
    set (``u < v``, distinct) -> ``(node, n_triangles)`` for every vertex
    in at least one triangle.

    Estimator-first guidance: this exact formulation is wedge-bound
    (O(m^1.5) — the most expensive plan in the benchmark suite at gate
    scale); above :data:`EXACT_TRIANGLES_EDGE_BUDGET` edges prefer
    ``triangle_count_estimate(q=4)`` (global count, ~q^1.5 cheaper) or
    route through :func:`triangle_count_auto`, unless per-vertex counts
    are specifically required.

    The classic degree-ordered algorithm (Cohen's MapReduce formulation /
    Suri-Vassilvitskii 2011): orient every edge from its (degree, id)-
    smaller endpoint to the larger, so each vertex's OUT-degree is
    O(sqrt(m)) and total wedge fan-out is O(m^1.5) regardless of skew —
    a hub of degree 1M never enumerates 1M^2 wedges. Wedges come from one
    self equi-join of the oriented edges on the source; each triangle
    closes exactly once via one more equi-join against the oriented set.
    All joins are hash equi-joins; per-vertex counts are one map-side-
    combined aggregate.

    The orientation key packs (degree, node) as ``deg * 2^32 + node`` —
    node ids must be non-negative and < 2^32 (holds for every id space in
    this engine; asserted cheaply by the packing itself being ordered).
    """
    tri = _enumerate_triangles(edges)
    per_node = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return per_node


def _enumerate_triangles(edges: DataFrame) -> DataFrame:
    """Each triangle exactly once as ``(x, y, z)`` (orientation order)."""
    # edges feed the degree count AND the orientation join; the oriented
    # set feeds both wedge sides AND the closing join. Without a cut the
    # lazy plan re-derives the (join+distinct) edge stream once per
    # consumer — measured 6 redundant scans at gate scale. Lazy local
    # checkpoints materialize each exactly once.
    edges = edges.select("u", "v").localCheckpoint(eager=False)
    sym = _symmetrize(edges)
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")).select(
        F.col("u").alias("node"),
        (F.col("deg").cast("long") * F.lit(1 << 32) + F.col("u"))
        .alias("ord_key"),
    )
    # orient each undirected edge low-ord -> high-ord
    e = (
        edges
        .join(deg.select(F.col("node").alias("u"),
                         F.col("ord_key").alias("ord_u")), on="u")
        .join(deg.select(F.col("node").alias("v"),
                         F.col("ord_key").alias("ord_v")), on="v")
        .select(
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("u"))
            .otherwise(F.col("v")).alias("src"),
            F.when(F.col("ord_u") < F.col("ord_v"), F.col("v"))
            .otherwise(F.col("u")).alias("dst"),
            F.greatest("ord_u", "ord_v").alias("dst_ord"),
        )
        .localCheckpoint(eager=False)
    )
    w1, w2 = e.alias("w1"), e.alias("w2")
    wedges = (
        w1.join(w2, on=(F.col("w1.src") == F.col("w2.src")))
        .filter(F.col("w1.dst_ord") < F.col("w2.dst_ord"))
        .select(
            F.col("w1.src").alias("x"),
            F.col("w1.dst").alias("y"),
            F.col("w2.dst").alias("z"),
        )
    )
    return wedges.join(
        e.select(F.col("src").alias("y"), F.col("dst").alias("z")),
        on=["y", "z"], how="inner",
    )


def triangle_count_estimate(edges: DataFrame, q: int = 8) -> DataFrame:
    """DOULION-style global triangle estimate (Tsourakakis 2009) — the
    approximation lever for graphs whose exact count is wedge-bound:
    keep each edge with probability 1/q via the DETERMINISTIC md5 coin
    ``hash(u:v) % q == 0`` (reproducible at any parallelism, the repo's
    sampling idiom), count triangles exactly on the sample with the same
    degree-ordered enumeration, scale by q^3. One row:
    ``(n_sampled_edges, n_sampled_triangles, est_triangles)``.

    Work drops by ~q^1.5 on the wedge stage (the dominant cost) and by
    ~q on every scan; the estimate is unbiased with relative error
    ~sqrt(q^3 / true_count) — tune q to the graph's density.
    """
    if q < 1:
        raise ValueError("q must be >= 1")
    coin = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("u").cast("string"), F.col("v").cast("string"))), 1, 8),
        16, 10).cast("long") % F.lit(int(q))
    sampled = edges.select("u", "v").filter(coin == 0)\
        .localCheckpoint(eager=False)
    tri = _enumerate_triangles(sampled)
    n_edges = sampled.agg(
        F.count("*").cast("long").alias("n_sampled_edges"))
    n_tri = tri.agg(
        F.count("*").cast("long").alias("n_sampled_triangles"))
    return attach_scalar(n_edges, n_tri).select(
        "n_sampled_edges", "n_sampled_triangles",
        (F.col("n_sampled_triangles") * F.lit(int(q) ** 3))
        .cast("long").alias("est_triangles"),
    )



def k_core(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """k-core decomposition: iteratively peel vertices of degree < k from
    the undirected graph until the unique fixpoint -> one row per
    surviving vertex ``(node, core_degree)`` (its degree INSIDE the
    core).

    The k-core is order-independent (the fixpoint is unique no matter the
    peeling schedule), so the distributed round — ONE map-side-combined
    degree aggregate + two semi-joins per round — computes exactly the
    sequential result. Edge sets shrink monotonically, so the count probe
    that doubles as the per-round materializer (lazy localCheckpoint,
    the duplicate_clusters pattern) is also the convergence test: equal
    counts imply equal sets.

    Rounds are data-dependent (a path peels one link per round); callers
    pin ``max_rounds`` and get a loud RuntimeError instead of a silently
    truncated core.
    """
    e = (edges.select("u", "v").filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=False))
    n_edges = e.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        keep = (_symmetrize(e).groupBy("u").agg(F.count("*").alias("d"))
                .filter(F.col("d") >= F.lit(int(k)))
                .select(F.col("u").alias("n")))
        nxt = (
            e.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()
        if n_nxt == n_edges:
            e = nxt
            break
        e, n_edges = nxt, n_nxt
    else:
        raise RuntimeError(
            "k_core did not converge in {} rounds".format(max_rounds))
    return _symmetrize(e).groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("core_degree"))


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    made deterministic: every node starts labeled with its own id; each
    round every node adopts the MODAL label among its neighbors, ties
    broken by the smallest label; all nodes update simultaneously for a
    FIXED number of rounds (the async/random classic is explicitly
    non-deterministic — the synchronous min-tie-break variant is a pure
    function of the edge set, so the oracle can unroll it).

    Scale shape: per round ONE equi-join of the label vector with the
    symmetrized edge table (kept persisted, hash-partitioned on the
    neighbor key so every round reuses the same layout), one map-side-
    combined (node, label) count, and one per-node top-1 window
    (WindowGroupLimit — partial rank before the shuffle).  Rounds run
    through :func:`_round_loop` with one action each.  Labels never leave
    the JVM.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    sym = _symmetrize(edges).repartition("v").persist()
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))

    def step(labels, _frontier, _r):
        cnt = (
            sym.join(labels.withColumnRenamed("node", "v"), on="v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        new = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        return new, new

    start = (sym.select(F.col("u").alias("node")).distinct()
             .select("node", F.col("node").alias("label")))
    try:
        return _round_loop(start, step, rounds)
    finally:
        sym.unpersist()


def link_prediction(edges: DataFrame,
                    max_mid_degree: int = None) -> DataFrame:
    """Common-neighbor / Jaccard link prediction (Liben-Nowell & Kleinberg
    2003) over an undirected edge set (``u < v``, distinct): every
    NON-adjacent pair at distance 2 scores by its common-neighbor count
    and neighborhood Jaccard.

    Output: ``(u, v, common_n, deg_u, deg_v, jaccard_ppm)`` with
    ``jaccard_ppm = (1e6 * common_n) // (deg_u + deg_v - common_n)`` —
    integer division, so both engines round identically.  (Adamic-Adar
    needs a float ``1/log(deg)``; the integer pair (common, Jaccard) is
    the determinism-safe core of the same ranking.)

    Scale shape: candidate pairs come from ONE wedge self-join of the
    symmetrized adjacency on the middle vertex — never an all-pairs
    product; existing edges drop via a left-anti equi-join and degrees
    attach via two node-sized joins.  Wedge fan-out is
    sum_m deg(m)^2: on hub-skewed graphs pass ``max_mid_degree`` to skip
    super-hub middles (the standard frequency-cap lever in similarity
    joins — a hub shared by millions says little about any one pair
    anyway; documented approximation, default exact).
    """
    sym = edges.select(F.col("u").alias("a"), F.col("v").alias("m")).union(
        edges.select(F.col("v").alias("a"), F.col("u").alias("m")))
    deg = sym.groupBy("a").agg(F.count("*").cast("long").alias("deg"))
    mids = sym
    if max_mid_degree is not None:
        ok = deg.filter(F.col("deg") <= int(max_mid_degree)).select(
            F.col("a").alias("m"))
        mids = sym.join(ok, on="m")
    left = mids.select(F.col("m"), F.col("a").alias("u"))
    right = mids.select(F.col("m"), F.col("a").alias("v"))
    pairs = (
        left.join(right, on="m")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("common_n"))
    )
    fresh = pairs.join(edges.select("u", "v"), on=["u", "v"],
                       how="left_anti")
    du = deg.select(F.col("a").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("a").alias("v"), F.col("deg").alias("deg_v"))
    out = fresh.join(du, on="u").join(dv, on="v")
    return out.select(
        "u", "v", "common_n", "deg_u", "deg_v",
        F.expr("div(common_n * 1000000, deg_u + deg_v - common_n)")
        .cast("long").alias("jaccard_ppm"),
    )


def bfs_hops(edges: DataFrame, sources: DataFrame,
             max_hops: int = 6) -> DataFrame:
    """Multi-source breadth-first search over an undirected edge set
    (``u < v``, distinct): returns ``(node, hops)`` — the exact hop
    distance from the nearest source — for every node reachable within
    ``max_hops`` (sources themselves at 0).  Bounded-hop is the contract,
    not a truncation: "everything within k hops of a seed set" is the
    neighborhood-expansion primitive (crawl frontiers, blast-radius /
    contamination spread, feature neighborhoods for graph ML).

    Determinism: hop counts are integers and BFS layers are unique — a
    node's distance is a pure function of the edge set and seed set, so
    the DuckDB oracle replays the identical layer expansion by unrolling
    ``max_hops`` rounds (empty frontiers are idempotent no-ops).

    Scale shape: each round joins ONLY the current frontier (shrinking
    after the wave peaks) against the symmetrized edge table — kept
    persisted and hash-partitioned on the join key so every round reuses
    one layout — then one distinct and one anti-join against the
    visited set (:func:`_bfs_step`).  Rounds run through
    :func:`_round_loop` with one action each and stop early on an empty
    frontier, so diameter-small graphs never pay the full bound.  Hop
    values never leave the JVM.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    sym = _symmetrize(edges).repartition("u").persist()
    dist = (
        sources.select("node").distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .persist()
    )
    try:
        return _round_loop(dist, _bfs_step(sym, ["node"]), max_hops)
    finally:
        sym.unpersist()


def _bfs_step(sym, keys):
    """The BFS layer step of :func:`_round_loop` over the symmetric
    edge table ``sym``: the state holds ``(*keys, hops)`` rows, ``keys``
    ending in ``node``; round h reaches every unvisited neighbor of the
    frontier at hop h and steps to ``(dist ∪ new, new)``.  Leading keys
    (closeness's ``seed``) ride along, so one wave runs per leading key.
    """
    def step(dist, frontier, h):
        cand = (
            sym.join(frontier.select(*keys).withColumnRenamed("node", "u"),
                     on="u")
            .select(*keys[:-1], F.col("v").alias("node"))
            .distinct()
        )
        new = (
            cand.join(dist.select(*keys), on=keys, how="left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        # the alias keeps Dataset.union from flattening this union into
        # the next round's, which would hide this state's cache from it
        return dist.union(new).alias("dist"), new
    return step


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected edge set (``u < v``,
    distinct) — Newman (2002)'s Pearson correlation of endpoint degrees,
    the one-number summary of whether hubs link to hubs (assortative,
    r > 0: social graphs) or to leaves (disassortative, r < 0: the web).

    Returns ONE row ``(m_edges, sum_prod, sum_deg, sum_sq, r_ppm)`` —
    the exact integer sufficient statistics over per-edge endpoint
    degrees (j, k):  ``sum_prod = sum(j*k)``, ``sum_deg = sum(j+k)``,
    ``sum_sq = sum(j^2 + k^2)`` — plus the coefficient itself in parts
    per million via the half-free integer form

        r = (4*m*sum_prod - sum_deg^2) / (2*m*sum_sq - sum_deg^2)

    computed with an EXPLICIT floor (numerator may be negative; Spark's
    div truncates toward zero — CLAUDE.md floor recipe on both engines)
    in decimal(38,0), so the value is bit-identical to a DuckDB HUGEINT
    replay.  ``r_ppm`` is NULL on degenerate graphs (all degrees equal
    -> zero variance denominator); the stats columns are still exact.

    Scale shape: one symmetrize + groupBy for the degree table, two hash
    equi-joins of the edge stream against it (never an edge-edge join),
    one map-side-combined global aggregate -> 1 row.  Degrees of the
    biggest web hubs skew the join keys; AQE skew handling applies, and
    the integer semantics are partitioning-invariant.  Exactness bounds,
    stated honestly: the int64 stats columns require sum(j*k) < 2^63
    (~9.2e18); the ppm scaling adds 6 digits inside decimal(38,0), so
    r_ppm is exact while 4*m*sum_prod < 1e32 (a trillion-edge graph with
    max degree ~3e4 fits; beyond that the stats columns remain the
    contract and r is recovered from them off-plan).
    """
    deg = _symmetrize(edges).groupBy("u").agg(
        F.count("*").cast("long").alias("deg"))
    per_edge = (
        edges
        .join(deg.select(F.col("u"), F.col("deg").alias("deg_u")), on="u")
        .join(deg.select(F.col("u").alias("v"),
                         F.col("deg").alias("deg_v")), on="v")
    )
    stats = per_edge.agg(
        F.count("*").cast("long").alias("m_edges"),
        F.sum(F.col("deg_u") * F.col("deg_v")).cast("long")
        .alias("sum_prod"),
        F.sum(F.col("deg_u") + F.col("deg_v")).cast("long")
        .alias("sum_deg"),
        F.sum(F.col("deg_u") * F.col("deg_u")
              + F.col("deg_v") * F.col("deg_v")).cast("long")
        .alias("sum_sq"),
    )
    dec = "cast({} as decimal(38,0))"
    m = dec.format("m_edges")
    num = ("(4 * {m} * {sp} - {sd} * {sd}) * 1000000".format(
        m=m, sp=dec.format("sum_prod"), sd=dec.format("sum_deg")))
    den = ("(2 * {m} * {sq} - {sd} * {sd})".format(
        m=m, sq=dec.format("sum_sq"), sd=dec.format("sum_deg")))
    # explicit floor division (num may be negative; den > 0 when defined)
    r_ppm = (
        "case when {den} = 0 then null else "
        "cast((({num}) - pmod({num}, {den})) / ({den}) as bigint) end"
    ).format(num=num, den=den)
    return stats.select(
        "m_edges", "sum_prod", "sum_deg", "sum_sq",
        F.expr(r_ppm).alias("r_ppm"))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over an undirected edge set
    (``u < v``, distinct): ``(node, deg, n_triangles, cc_ppm)`` for every
    node with degree >= 2, where ``cc_ppm = floor(n_triangles * 1e6 /
    (deg*(deg-1)/2))`` — the fraction of a node's neighbor pairs that
    are themselves connected, in parts per million (Watts-Strogatz
    1998).  The transitivity signal behind spam-farm detection and
    community cohesion scoring.

    Determinism: both inputs are exact integers (the oriented triangle
    enumeration is proven exactly-once by the graph_triangles brute
    oracle; degrees are counts) and all operands are non-negative, so
    truncating div IS floor on both engines — bit-identical to the
    DuckDB replay with ``//``.

    Scale shape: reuses :func:`triangle_count`'s degree-ordered wedge
    enumeration (O(m^1.5) bound under any skew — the documented cost;
    above :data:`EXACT_TRIANGLES_EDGE_BUDGET` sample vertices first or
    accept the estimator's global-only answer), one degree aggregate,
    one hash LEFT join degree<-triangles (zero-triangle nodes must
    appear with cc_ppm = 0), never a neighbor-pair materialization
    beyond the oriented wedge stream.
    """
    deg = (
        _symmetrize(edges).groupBy("u").agg(F.count("*").cast("long").alias("deg"))
        .filter(F.col("deg") >= 2)
        .select(F.col("u").alias("node"), "deg")
    )
    tri = triangle_count(edges)
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node", "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
            .alias("n_triangles"),
            F.expr("div(coalesce(n_triangles, 0) * 1000000,"
                   "    div(deg * (deg - 1), 2))").cast("long")
            .alias("cc_ppm"),
        )
    )


def neighbor_feature_agg(
    edges: DataFrame,
    features: DataFrame,
    node_col: str = "node",
    feat_col: str = "feat",
) -> DataFrame:
    """GNN-style message passing / neighborhood feature aggregation over
    an undirected edge set (``u < v``, distinct): per node, the exact
    1-hop and 2-hop WALK aggregates of a non-negative integer node
    feature — the GraphSAGE/GCN data-prep step (A·x and A²·x) expressed
    as two hash equi-joins, never a neighborhood explode.

    Returns ``(node, feat, deg, h1_sum, h1_mean_ppm, walk2, h2_sum,
    h2_mean_ppm)`` for every node with at least one edge:

    - ``h1_sum  = Σ_{v∈N(n)} feat(v)``; ``h1_mean_ppm = floor(h1_sum *
      1e6 / deg)``.
    - ``h2_sum  = Σ_{v∈N(n)} h1_sum(v)`` — the 2-step WALK sum (A²·x:
      paths back through n itself count, per standard message passing);
      ``walk2 = Σ_{v∈N(n)} deg(v)`` is the number of such walks and
      ``h2_mean_ppm = floor(h2_sum * 1e6 / walk2)``.

    Exactness: features must be non-negative int64 (caller contract —
    prices in cents, token counts); sums stay in int64 while
    ``deg² · max_feat < 2^63``; the ppm scalings run in decimal(38,0)
    with the explicit-floor spelling, so they are exact far beyond that
    and bit-identical to a DuckDB HUGEINT replay.

    Scale shape: one symmetrize + one features hash-join + groupBy(u)
    for the 1-hop table (map-side combined); the 2-hop pass is ONE MORE
    equi-join of the edge stream against that bounded per-node table +
    groupBy(u) — the A² matrix is never materialized, and no step is
    quadratic in neighborhood size.  Hub-degree skew lands on join keys
    (AQE skew handling applies); semantics are partitioning-invariant.
    Isolated nodes are absent (nodes are derived from edges, the graph
    family convention).
    """
    sym = _symmetrize(edges)
    feats = features.select(
        F.col(node_col).alias("v"),
        F.col(feat_col).cast("long").alias("fv"))
    h1 = (
        sym.join(feats, on="v")
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("deg"),
             F.sum("fv").cast("long").alias("h1_sum"))
    )
    h1v = h1.select(
        F.col("u").alias("v"),
        F.col("deg").alias("deg_v"),
        F.col("h1_sum").alias("h1_v"))
    h2 = (
        sym.join(h1v, on="v")
        .groupBy("u")
        .agg(F.sum("deg_v").cast("long").alias("walk2"),
             F.sum("h1_v").cast("long").alias("h2_sum"))
    )
    dec = "cast({} as decimal(38,0))"

    def _floor_ppm(num_col, den_col):
        num = "({} * 1000000)".format(dec.format(num_col))
        den = dec.format(den_col)
        return F.expr(
            "cast((({num}) - pmod({num}, {den})) / ({den}) as bigint)"
            .format(num=num, den=den))

    return (
        h1.join(h2, on="u")
        .join(feats.select(F.col("v").alias("u"),
                           F.col("fv").alias("feat")), on="u")
        .select(
            F.col("u").alias("node"), "feat", "deg", "h1_sum",
            _floor_ppm("h1_sum", "deg").alias("h1_mean_ppm"),
            "walk2", "h2_sum",
            _floor_ppm("h2_sum", "walk2").alias("h2_mean_ppm"),
        )
    )


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 8,
) -> DataFrame:
    """Bounded-round multi-source shortest paths (Bellman-Ford) over an
    undirected weighted edge set (``u < v``, distinct, integer weight
    column ``w >= 0``): returns ``(node, dist)`` — the exact minimum
    path weight from the nearest source using at most ``max_rounds``
    edges — for every node reachable within that bound (sources at 0).
    Bounded-round is the contract, not a truncation (the BFS-hops
    convention, :func:`bfs_hops`): "cheapest route within k legs" is
    the primitive behind delivery-radius costing, weighted blast-radius
    and crawl-cost frontiers.

    Determinism: round-synchronous relaxation with a running min is a
    pure function of (edges, seeds, k) — after round i every node holds
    exactly D_i = the <=i-edge shortest-path weight, and frontier-only
    relaxation (only nodes that IMPROVED in round i-1 send in round i)
    provably computes the same D_i as full relaxation: a node that last
    improved in round j sent its final ``dist+w`` contribution in round
    j+1, and the running min never forgets it.  The DuckDB oracle
    replays full relaxation unrolled ``max_rounds`` times; early-exit
    on a no-improvement round is sound because D is then a fixed point.

    Scale shape: each round joins ONLY the frontier against the
    symmetric edge table (persisted, hash-partitioned on the join key —
    one layout reused every round), then one map-side-combined min per
    candidate node and one min-merge groupBy over the node-bounded dist
    vector.  Rounds run through :func:`_round_loop` with one action each
    (a count of the improved set; in the last round, the returned
    checkpoint); weights and distances never leave the JVM.
    """
    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    sym = _symmetrize(edges, F.col("w").cast("long").alias("w")) \
        .repartition("u").persist()

    def step(dist, frontier, _r):
        cand = (
            sym.join(frontier.select(F.col("node").alias("u"),
                                     F.col("dist").alias("du")), on="u")
            .select(F.col("v").alias("node"),
                    (F.col("du") + F.col("w")).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        improved = (
            cand.join(dist.select("node", F.col("dist").alias("_old")),
                      on="node", how="left")
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist")
        )
        merged = (dist.union(improved).groupBy("node")
                  .agg(F.min("dist").alias("dist")))
        return merged, improved

    dist = (
        sources.select("node").distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .persist()
    )
    try:
        return _round_loop(dist, step, max_rounds)
    finally:
        sym.unpersist()


def edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over an undirected edge set (``u < v``,
    distinct): ``(u, v, support)`` for EVERY input edge, where support
    is the number of triangles the edge participates in (0 kept via a
    LEFT join — zero-support edges are load-bearing for truss peeling).

    Reuses the brute-oracle-proven exactly-once degree-ordered triangle
    enumeration (:func:`triangle_count`), so total wedge fan-out is
    O(m^1.5) regardless of skew; the per-edge rollup is one map-side-
    combined aggregate over the 3-edges-per-triangle explode.
    """
    e = edges.select("u", "v").localCheckpoint(eager=False)
    tri = _enumerate_triangles(e)
    pairs = (
        tri.select(F.least("x", "y").alias("u"),
                   F.greatest("x", "y").alias("v"))
        .union(tri.select(F.least("x", "z").alias("u"),
                          F.greatest("x", "z").alias("v")))
        .union(tri.select(F.least("y", "z").alias("u"),
                          F.greatest("y", "z").alias("v")))
    )
    sup = pairs.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("support"))
    return (
        e.join(sup, on=["u", "v"], how="left")
        .select("u", "v",
                F.coalesce(F.col("support"), F.lit(0)).cast("long")
                .alias("support"))
    )


def k_truss(edges: DataFrame, k: int = 4, rounds: int = 3) -> DataFrame:
    """Bounded-round k-truss peeling (cohesive-subgraph mining — the
    edge-level analog of :func:`k_core`): repeatedly drop every edge
    supported by fewer than ``k - 2`` triangles, ``rounds`` times, then
    report ``(u, v, support)`` for the survivors with support recomputed
    over the surviving set.  Bounded-round is the contract (the
    bfs/sssp convention): each peel round is a full support
    recomputation, the result after R rounds is a pure function of
    (edges, k, R), and a round that removes nothing is a fixed point —
    the true k-truss — so early-exit is sound and extra oracle rounds
    are no-ops.  Community-detection practice converges in a handful of
    rounds; callers needing the exact fixed point raise ``rounds``.

    Scale shape: each round is one O(m^1.5) degree-ordered support pass
    (see :func:`edge_support`) on a SHRINKING edge set + one broadcast-
    able filter; eager localCheckpoints cut the per-round lineage so
    round i+1 replans from materialized edges, never re-deriving i
    triangle passes.
    """
    if k < 3:
        raise ValueError("k must be >= 3 (k=3 keeps triangle edges)")
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    e = edges.select("u", "v").localCheckpoint(eager=True)
    n = e.count()
    for _ in range(rounds):
        keep = (
            edge_support(e)
            .filter(F.col("support") >= k - 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        nk = keep.count()
        e = keep
        if nk == n:      # fixed point: the true k-truss
            break
        n = nk
    return edge_support(e)


def random_walks(edges: DataFrame, walk_length: int = 4,
                 salt: str = "w0") -> DataFrame:
    """Deterministic random walks — the DeepWalk / node2vec walk-corpus
    generation stage (Perozzi et al. KDD'14; Grover & Leskovec KDD'16),
    the data-prep step for graph embeddings.

    One walk starts at every distinct source node; the walk standing at
    node ``c`` on step ``t`` moves to the neighbor whose per-source rank
    equals ``pmod(md5int(salt:walk:t:c), outdeg(c)) + 1``.  md5 plays
    the RNG (the repo-standard first-8-hex-chars construction,
    `operators/sampling.py:hash_bucket`), so the walk corpus is a pure
    function of (edge set, walk_length, salt) — bit-identical across
    engines, partitionings, and reruns; the DuckDB oracle replays the
    identical picks.  Dead-end nodes stop the walk early (inner join).

    Returns ``(walk_id, step, node)`` for every visited position,
    step 0 = the start node.

    Scale shape: the ranked adjacency (row_number + count over one
    window — ONE hash shuffle on src) is persisted and reused by all
    ``walk_length`` rounds; each round is one frontier ⋈ adjacency hash
    equi-join on that SAME key with the rank pick evaluated inside the
    join condition, so exactly one row per walk survives and the
    per-hop shuffle ships only the O(#walks) frontier — never a
    neighborhood explode.  Walks are embarrassingly parallel across
    walk_ids; nothing leaves the JVM.
    """
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        edges.select("src", "dst").distinct()
        .select(
            "src", "dst",
            F.row_number().over(w).alias("_rk"),
            F.count("*").over(Window.partitionBy("src")).alias("_deg"),
        )
        .persist()
    )
    adj.count()
    try:
        state = (
            adj.select(F.col("src").alias("walk_id")).distinct()
            .withColumn("cur", F.col("walk_id"))
        )
        out = state.select(
            "walk_id", F.lit(0).cast("long").alias("step"),
            F.col("cur").alias("node"))
        for t in range(1, walk_length + 1):
            s, a = state.alias("s"), adj.alias("a")
            pick = F.pmod(
                F.conv(F.substring(F.md5(F.concat(
                    F.lit(salt + ":"),
                    F.col("s.walk_id").cast("string"),
                    F.lit(":{}:".format(t)),
                    F.col("s.cur").cast("string"))), 1, 8), 16, 10)
                .cast("long"),
                F.col("a._deg")) + 1
            state = (
                s.join(a, (F.col("s.cur") == F.col("a.src"))
                       & (F.col("a._rk") == pick))
                .select(F.col("s.walk_id").alias("walk_id"),
                        F.col("a.dst").alias("cur"))
            )
            out = out.union(state.select(
                "walk_id", F.lit(t).cast("long").alias("step"),
                F.col("cur").alias("node")))
        return out.localCheckpoint(eager=True)
    finally:
        adj.unpersist()


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row directed-graph health summary — the first read on any new
    link/follow/interaction graph: ``(n_nodes, n_edges, n_recip,
    reciprocity_ppm, max_out, max_in)`` where ``n_recip`` counts
    directed edges whose reverse edge also exists (Garlaschelli-Loffredo
    reciprocity = n_recip / n_edges, in exact ppm) and the degree maxima
    flag hub skew before any iterative algorithm runs.

    Self-loops are excluded and edges dedup'd first (reciprocity is
    defined on the simple directed graph).

    Scale shape: the cleaned edge set persists once and feeds (a) ONE
    self equi-join on the composite (src,dst)=(dst,src) key — a hash
    join, never edge x edge — as a LEFT SEMI probe, (b) two map-side-
    combined degree aggregates, (c) the node-set distinct.  Every branch
    reduces to a keys=[] 1-row aggregate and the five scalars combine
    via the sanctioned structural scalar-attach chain; nothing
    corpus-sized ever broadcasts.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    e.count()
    try:
        a, b = e.alias("a"), e.alias("b")
        recip = a.join(
            b, (F.col("a.src") == F.col("b.dst"))
            & (F.col("a.dst") == F.col("b.src")), "left_semi")
        base = e.agg(F.count("*").cast("long").alias("n_edges"))
        nodes = (
            e.select(F.col("src").alias("x"))
            .union(e.select(F.col("dst").alias("x")))
            .distinct()
            .agg(F.count("*").cast("long").alias("n_nodes"))
        )
        nrec = recip.agg(F.count("*").cast("long").alias("n_recip"))
        dout = (e.groupBy("src").agg(F.count("*").alias("_d"))
                .agg(F.max("_d").cast("long").alias("max_out")))
        din = (e.groupBy("dst").agg(F.count("*").alias("_d"))
               .agg(F.max("_d").cast("long").alias("max_in")))
        out = attach_scalar(
            attach_scalar(attach_scalar(attach_scalar(base, nodes), nrec),
                          dout), din
        ).select(
            "n_nodes", "n_edges", "n_recip",
            F.expr("cast(div(n_recip * cast(1000000 as bigint), n_edges)"
                   " as bigint)").alias("reciprocity_ppm"),
            "max_out", "max_in",
        ).localCheckpoint(eager=True)
        return out
    finally:
        e.unpersist()


def closeness_sample(edges: DataFrame, seeds: DataFrame,
                     max_hops: int = 4) -> DataFrame:
    """Bounded-hop closeness centrality for a SEED SAMPLE — the
    landmark-centrality read (which nodes sit in the core vs the
    periphery) at the cost of |seeds| parallel BFS waves, not n.
    For each seed, one row:

        seed
        reached        nodes within max_hops (including the seed)
        sum_hops       sum of hop distances to those nodes
        closeness_ppm  floor(1e6 * (reached-1) / sum_hops)
                       (within-reach closeness; NULL when nothing
                        else is reached)
        harmonic_x1e6  sum over reached nodes of floor(1e6 / hops)
                       (bounded-hop harmonic centrality — every term
                        an exact integer, no global-n scalar needed)

    Bounded-hop is the contract (the bfs_hops justification): at web
    scale full-diameter closeness is neither computable nor meaningful;
    k-hop closeness over a deterministic seed sample is the standard
    landmark substitute (Eppstein-Wang style, with a hash sample
    playing the RNG).

    Determinism: hop distances are unique per (seed, node), so both
    outputs are pure functions of the edge/seed sets; the oracle
    unrolls the identical per-seed layer expansion.

    Scale shape: bfs_hops's layer step (:func:`_bfs_step`) keyed on
    (seed, node) — per round ONE hash equi-join of the CURRENT frontier
    against the persisted symmetric edge table, one distinct, one
    anti-join against the visited set; early exit on an empty frontier.
    Final rollup is ONE per-seed aggregate.  Frontier volume is sum of
    per-seed reach — the documented cost of sampling more landmarks.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    sym = _symmetrize(edges).repartition("u").persist()

    def per_seed(dist):
        return dist.groupBy("seed").agg(
            F.count("*").cast("long").alias("reached"),
            F.sum("hops").cast("long").alias("sum_hops"),
            F.sum(F.when(F.col("hops") > 0, F.expr("div(1000000L, hops)"))
                  .otherwise(F.lit(0))).cast("long").alias("harmonic_x1e6"),
        ).select(
            "seed", "reached", "sum_hops",
            F.when(F.col("sum_hops") > 0,
                   F.expr("cast(div((reached - 1) * 1000000L,"
                          " sum_hops) as bigint)"))
            .alias("closeness_ppm"),
            "harmonic_x1e6",
        )

    dist = (
        seeds.select("seed").distinct()
        .select("seed", F.col("seed").alias("node"),
                F.lit(0).cast("long").alias("hops"))
        .persist()
    )
    try:
        return _round_loop(dist, _bfs_step(sym, ["seed", "node"]), max_hops,
                           finish=per_seed)
    finally:
        sym.unpersist()


def negative_sample(edges: DataFrame, k: int = 3,
                    salt: str = "ns0") -> DataFrame:
    """Deterministic negative sampling over an undirected edge set
    (``u < v``, distinct) — the link-prediction / graph-embedding
    TRAINING-DATA step (skip-gram negative sampling, GraphSAGE loss):
    for every node ``u``, draw ``k`` candidate partners with the
    repo-standard md5 RNG and keep those that are real nodes, not
    ``u`` itself, and NOT an actual neighbor.  Returns
    ``(u, j, neg)`` with ``j`` the draw index (0-based); collisions
    with real edges/self are DROPPED, not redrawn (documented: the
    expected yield is k*(1 - degree/n), the standard practice — a
    fixed-trials scheme keeps every row a pure function of
    (edge set, k, salt), bit-identical across engines).

    Draw ``j`` for node ``u`` targets id ``pmod(md5int(salt:u:j),
    max_id + 1)``; ids that don't exist in the node set are dropped by
    the semi-join (sparse id spaces yield fewer negatives — documented,
    and exact).

    Scale shape: the candidate table is |nodes| x k rows (one explode
    of a k-literal sequence — never node x node); existence check is
    one hash semi-join against the node table; the edge check is one
    hash anti-join against the symmetrized edge table; ``max_id``
    attaches via the sanctioned structural scalar attach.  No python,
    no cross join, no windows.
    """
    if k < 1:
        raise ValueError("need k >= 1")
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    mx = nodes.agg(F.max("node").cast("long").alias("_mx"))
    cand = attach_scalar(nodes, mx).select(
        F.col("node").alias("u"),
        F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1))).alias("j"),
        "_mx",
    ).select(
        "u", F.col("j").cast("int").alias("j"),
        F.pmod(
            F.conv(F.substring(F.md5(F.concat(
                F.lit(salt + ":"), F.col("u").cast("string"),
                F.lit(":"), F.col("j").cast("string"))), 1, 8),
                16, 10).cast("long"),
            F.col("_mx") + 1,
        ).cast("long").alias("neg"),
    )
    exists = cand.join(
        nodes.withColumnRenamed("node", "neg"), on="neg", how="left_semi")
    return (
        exists.filter(F.col("u") != F.col("neg"))
        .join(_symmetrize(edges).withColumnRenamed("v", "neg"),
              on=["u", "neg"],
              how="left_anti")
        .select("u", "j", "neg")
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pair counts from a walk corpus —
    the word2vec-style training-pair extraction that turns
    :func:`random_walks` output into graph-embedding training data
    (DeepWalk's corpus stage).  For every walk and every offset
    ``d in [-window, window] \\ {0}``, the node at ``step`` pairs with
    the node at ``step + d``; output is the aggregated
    ``(center, context, cnt)`` multiset — exactly what a downstream
    embedding trainer consumes (with :func:`negative_sample` providing
    the negatives).

    Determinism: pure function of the walk corpus (itself md5-
    deterministic); counts are integers.

    Scale shape: one bounded offset explode (2*window literals — never
    a walk x walk join) followed by ONE hash equi-join on
    (walk_id, step) and ONE map-side-combined pair aggregate.  Pair
    volume is <= 2*window*|walk rows| by construction.
    """
    if window < 1:
        raise ValueError("need window >= 1")
    offs = [d for d in range(-window, window + 1) if d != 0]
    centers = walks.select(
        "walk_id", "step", F.col("node").alias("center"),
    ).withColumn(
        "_d", F.explode(F.array(*[F.lit(d) for d in offs]))
    ).select(
        "walk_id", "center",
        (F.col("step") + F.col("_d")).cast("long").alias("_ctx_step"),
    )
    contexts = walks.select(
        "walk_id", F.col("step").cast("long").alias("_ctx_step"),
        F.col("node").alias("context"),
    )
    return (
        centers.join(contexts, on=["walk_id", "_ctx_step"])
        .groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over an undirected
    edge set (``u < v``, distinct) — the partition-quality number that
    turns label_propagation's output into a comparable score:

        Q = sum_c [ e_c/m - (d_c / 2m)^2 ]
          = (4m * sum_c e_c - sum_c d_c^2) / (4 m^2)

    with ``e_c`` = intra-community edges and ``d_c`` = total degree of
    community ``c``.  ``labels`` is ``(node, label)`` (every endpoint
    must be labelled — inner joins drop unlabelled strays, documented).
    ONE row out: ``(m_edges, n_communities, intra_edges, sum_deg_sq,
    q_ppm)``; Q is NEGATIVE for anti-community partitions, so the ppm
    division uses the explicit floor spelling in decimal(38,0)
    (``sum_c d_c^2 <= 4m^2`` bounds every operand).  NULL q_ppm on an
    empty edge set.

    Scale shape: the degree_assortativity discipline — two hash
    equi-joins of the edge stream against the label vector (never an
    edge-edge join), one symmetrize+aggregate degree table, three
    community-bounded rollups each reducing to ONE row, combined via
    the sanctioned structural scalar-attach chain.
    """
    lab_u = labels.select(F.col("node").alias("u"),
                          F.col("label").alias("_lu"))
    lab_v = labels.select(F.col("node").alias("v"),
                          F.col("label").alias("_lv"))
    e = edges.select("u", "v")
    m_agg = e.agg(F.count("*").cast("long").alias("m_edges"))
    intra = (
        e.join(lab_u, on="u").join(lab_v, on="v")
        .filter(F.col("_lu") == F.col("_lv"))
        .groupBy("_lu").agg(F.count("*").cast("long").alias("_ec"))
        .agg(F.coalesce(F.sum("_ec"), F.lit(0)).cast("long")
             .alias("intra_edges"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("_d"))
    )
    comm = (
        deg.join(labels, on="node")
        .groupBy("label").agg(F.sum("_d").cast("long").alias("_dc"))
    )
    csum = comm.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.coalesce(F.sum(F.expr("cast(_dc as decimal(38,0)) * _dc")),
                   F.lit(0).cast("decimal(38,0)")).alias("sum_deg_sq"),
    )
    out = attach_scalar(attach_scalar(m_agg, intra), csum)
    num = ("(cast(1000000 as decimal(38,0))"
           " * (4 * cast(m_edges as decimal(38,0)) * intra_edges"
           "    - sum_deg_sq))")
    den = "(4 * cast(m_edges as decimal(38,0)) * m_edges)"
    return out.select(
        "m_edges", "n_communities", "intra_edges",
        F.col("sum_deg_sq").cast("long").alias("sum_deg_sq"),
        F.expr(
            "CASE WHEN {d} <> 0 THEN cast(div({v} - pmod({v}, {d}), {d})"
            " as bigint) END".format(v=num, d=den)).alias("q_ppm"),
    )


def degree_profile(edges: DataFrame) -> DataFrame:
    """Degree distribution of an undirected edge set (``u < v``,
    distinct) in doubling buckets — the hub/power-law read that decides
    skew strategy before any heavier graph work: one row per non-empty
    bucket ``(bucket, deg_lo, n_nodes, share_ppm)`` where bucket ``b``
    holds nodes with degree in ``[2^b, 2^(b+1))`` (``floor(log2)`` =
    binary digit count — the zipf_profile rule, no float logs).

    Scale shape: one symmetrize + ONE map-side-combined degree
    aggregate, then a bucket rollup and a total window on the
    log-bounded (<= 64-row) bucket table.  No joins, no python.
    """
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").cast("long").alias("_d"))
    )
    b = deg.select(
        (F.length(F.bin(F.col("_d"))) - 1).cast("int").alias("bucket"),
    ).groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_nodes"))
    wall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return b.select(
        "bucket",
        F.expr("cast(pow(2, bucket) as bigint)").alias("deg_lo"),
        "n_nodes",
        F.sum("n_nodes").over(wall).cast("long").alias("_tot"),
    ).select(
        "bucket", "deg_lo", "n_nodes",
        F.expr("cast(div(cast(n_nodes as decimal(38,0)) * 1000000,"
               " _tot) as bigint)").alias("share_ppm"),
    )
