"""label_propagation: convergence on disjoint cliques, python brute
replay differential; cache hygiene and one action per round for every
operator on the shared round loop."""

import pytest

pytestmark = pytest.mark.usefixtures("spark")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _brute_lpa(pairs, rounds):
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[n] = best[0]
        labels = nxt
    return labels


def test_disjoint_triangles_converge_to_min_id(spark):
    from picogeojson_spark.operators.graph import label_propagation

    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    out = {r.node: r.label
           for r in label_propagation(_edges(spark, pairs), rounds=4)
           .collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_brute_replay_differential(spark):
    from picogeojson_spark.operators.graph import label_propagation

    # deterministic pseudo-random graph with two dense blobs + a bridge
    pairs = set()
    for i in range(60):
        a = (i * 7) % 12
        b = (i * 11 + 3) % 12
        if a != b:
            pairs.add((min(a, b), max(a, b)))
        a = 20 + (i * 5) % 10
        b = 20 + (i * 13 + 1) % 10
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    pairs.add((11, 20))  # bridge
    pairs = sorted(pairs)
    for rounds in (1, 3):
        out = {r.node: r.label
               for r in label_propagation(_edges(spark, pairs),
                                          rounds=rounds).collect()}
        assert out == _brute_lpa(pairs, rounds), rounds


#: the operators whose rounds run through graph._round_loop
LOOP_OPS = ("pagerank", "label_propagation", "bfs_hops", "sssp_bounded",
            "closeness_sample")
FRONTIER_OPS = ("bfs_hops", "sssp_bounded", "closeness_sample")


def _run_loop_op(spark, op, seed, rounds=3, n=5):
    """``op`` over the unit-weight path 1-2-...-n (seeded ops from
    ``seed``)."""
    from picogeojson_spark.operators import graph

    e = spark.range(1, n).selectExpr("id AS u", "id + 1 AS v", "1L AS w")
    uv = e.select("u", "v")
    src = spark.createDataFrame([(seed,)], "node long")
    if op == "pagerank":
        return graph.pagerank(e.selectExpr("u as src", "v as dst"),
                              iterations=rounds)
    if op == "label_propagation":
        return graph.label_propagation(uv, rounds=rounds)
    if op == "closeness_sample":
        return graph.closeness_sample(
            uv, src.withColumnRenamed("node", "seed"), max_hops=rounds)
    if op == "bfs_hops":
        return graph.bfs_hops(uv, src, max_hops=rounds)
    return graph.sssp_bounded(e, src, max_rounds=rounds)


def _fail_round(loop, k):
    """``_round_loop`` whose round-``k`` vectors fail in the tasks: the
    frontier count raises before the last round, the returned checkpoint
    in it."""
    from pyspark.sql import functions as F

    def fail(df):
        msg = "round {} fails".format(k)
        return df.filter(F.raise_error(F.lit(msg)).isNull())

    def failing_loop(start, step, rounds, *args, **kwargs):
        def failing_step(state, frontier, r):
            nxt, new = step(state, frontier, r)
            if r == k:
                failed = fail(nxt)
                new = failed if nxt is new else fail(new)
                nxt = failed
            return nxt, new
        return loop(start, failing_step, rounds, *args, **kwargs)
    return failing_loop


@pytest.mark.parametrize("op,case", (
    [(op, "bound") for op in LOOP_OPS]
    + [(op, "seed_without_edges") for op in FRONTIER_OPS]
    + [(op, "round_2_raises") for op in LOOP_OPS]
    + [(op, "last_round_raises") for op in LOOP_OPS]))
def test_no_pinned_cache_after_return(spark, monkeypatch, op, case):
    from picogeojson_spark.operators import graph

    jcm = spark._jsparkSession.sharedState().cacheManager()
    seed = 99 if case == "seed_without_edges" else 1
    if case.endswith("_raises"):
        # from node 1 every frontier up to round 3 is non-empty, so round
        # 3 is the last of the default 3
        k = 2 if case == "round_2_raises" else 3
        monkeypatch.setattr(graph, "_round_loop",
                            _fail_round(graph._round_loop, k))
        with pytest.raises(Exception, match="round {} fails".format(k)):
            _run_loop_op(spark, op, seed).collect()
    else:
        assert _run_loop_op(spark, op, seed).count() > 0
    assert jcm.isEmpty(), "{} leaked persisted DataFrames".format(op)


@pytest.mark.parametrize("op", LOOP_OPS)
def test_one_action_per_round(spark, monkeypatch, op):
    # from node 3 the frontier is {2, 4}, then {1, 5}, then empty: the
    # frontier ops count it in rounds 1-3 of 6 and then checkpoint round
    # 2's state; pagerank and LPA count rounds 1-2 of 3, the checkpoint is
    # round 3's action, and pagerank counts its node set once before them
    calls = {"count": 0, "localCheckpoint": 0}
    cls = type(spark.range(1))   # the session's concrete DataFrame class
    for name in calls:
        def spy(df, *args, _name=name, _real=getattr(cls, name), **kwargs):
            calls[_name] += 1
            return _real(df, *args, **kwargs)
        monkeypatch.setattr(cls, name, spy)
    rounds = 3 if op in ("pagerank", "label_propagation") else 6
    _run_loop_op(spark, op, 3, rounds=rounds).collect()
    counts = 2 if op == "label_propagation" else 3
    assert calls == {"count": counts, "localCheckpoint": 1}


@pytest.mark.parametrize("op", FRONTIER_OPS)
def test_frontier_empty_at_bound(spark, op):
    # from node 3 round 3's frontier is the first empty one: with a bound
    # of 3 the last round returns its state without counting it
    def rows(rounds):
        return sorted(_run_loop_op(spark, op, 3, rounds=rounds).collect())

    at_bound = rows(3)
    assert at_bound == rows(6)
    assert len(at_bound) == (1 if op == "closeness_sample" else 5)


@pytest.mark.parametrize("op", LOOP_OPS)
def test_result_reports_materialized_size(spark, op):
    # a checkpoint takes the statistics of the plan it saves: a filled
    # cache reports the vector's real size (~32 KB here), a bare plan
    # Catalyst's join-product estimate (~1 GB), which stops a join with
    # the result from broadcasting it
    size = (_run_loop_op(spark, op, 1, n=2000)._jdf.queryExecution()
            .optimizedPlan().stats().sizeInBytes())
    assert size < 2**20, size


def test_rounds_validation(spark):
    from picogeojson_spark.operators.graph import label_propagation

    with pytest.raises(ValueError):
        label_propagation(_edges(spark, [(1, 2)]), rounds=0)

