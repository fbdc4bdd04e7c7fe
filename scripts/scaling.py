"""Scaling evidence for every operator family: one runner, one report.

The north rule asks for throughput at two parallelism levels (scaling
efficiency >= 0.8) and per-row cost that stays flat or falls as the input
grows.  Each family below names its input tables (deterministic, derived
from the row id on the JVM: no RNG, no external data) and its operator
calls.  For a family the runner

1. generates every table at ``small_n`` and ``ratio * small_n`` rows as
   parquet under a temporary directory (not timed; removed at the end);
2. runs three legs, each in a fresh interpreter with its own JVM and
   Python workers: ``local[8]`` at n, ``local[8]`` at ratio·n and
   ``local[2]`` at ratio·n.  A leg warms every op once on a
   ``WARM_ROWS`` slice of each table, then times each op as the best of
   two passes;
3. prints one JSON report: per op, the output rows, seconds and input
   rows/s of each leg, ``per_row_cost_ratio`` (cost per input row at
   ratio·n over that at n, local[8]) and ``parallel_eff`` (local[8]
   over local[2] throughput at ratio·n, divided by 4).

Usage: python scripts/scaling.py <family> [small_n] [ratio]
       (ratio defaults to 4; each family has its own default small_n)

Families: spine, dedup, cluster, geo, newops, session5, session6,
composition.  The recorded results live in ``BENCH/BASELINE.md``,
edited by hand.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import sys
import tempfile
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARM_ROWS = 2000
#: one session recipe for every leg; the heap fits a 15 GB box
_CONF = {
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # two-long-column tables compress so well that the default 128m split
    # sizing caps the scan at ~4 tasks; smaller splits let parallelism
    # measure compute, not split count
    "spark.sql.files.maxPartitionBytes": "16m",
}


class Op(NamedTuple):
    name: str
    input: str                 # the table whose rows feed rows/s
    run: Callable[[dict], int]  # tables -> output row count


class Family(NamedTuple):
    small_n: int
    #: table name -> (generator(spark, rows) -> DataFrame,
    #:                rows(n, small_n) -> int)
    tables: dict
    ops: tuple
    #: tables as read back -> the tables the ops see
    prepare: Callable[[dict], dict] = dict


def _n(n, small):
    return n


def _eighth(n, small):
    return n // 8


def _small(n, small):
    return small


# ---------------------------------------------------------------- spine


def _pages(spark, n):
    from picogeojson_spark.sources import pages_dataframe

    return pages_dataframe(spark, n, partitions=64)


def _spine(t):
    from bench import run_spine

    return run_spine(t["pages"])


# ------------------------------------------------------ dedup, composition

# Planted duplicates: groups of 5 docs, one base, two near-duplicates
# (first 37 of 40 words shared -> 3-gram Jaccard ~0.8, well over the 0.5
# threshold), two unique; md5-derived words.
_PLANTED_TEXT = """
concat(
  array_join(transform(sequence(1, 37),
    i -> substring(md5(concat(
           CASE WHEN id % 5 IN (1, 2)
                THEN cast(floor(id / 5) * 5 as string)
                ELSE cast(id as string) END, '-w-', i)), 1, 6)), ' '),
  ' ',
  array_join(transform(sequence(38, 40),
    i -> substring(md5(concat(cast(id as string), '-t-', i)), 1, 6)),
    ' ')
) AS text
"""
# skewed source mix (60/25/10/5) so temperature balancing has head/tail work
_SOURCE = """
CASE WHEN id % 20 < 12 THEN 'web'
     WHEN id % 20 < 17 THEN 'books'
     WHEN id % 20 < 19 THEN 'code'
     ELSE 'wiki' END AS source
"""


def _planted_docs(spark, n, *extra):
    return spark.range(n).selectExpr(
        "id AS doc_id", _PLANTED_TEXT, *extra
    ).selectExpr("*", "length(text) AS n_chars")


def _lsh(docs):
    from picogeojson_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(docs.select("doc_id", "text"), n=3,
                             num_hashes=16, bands=4, threshold=0.5)


def _dedup_survivors(docs):
    """Gopher gates -> LSH pairs -> transitive clusters -> keep one."""
    from pyspark.sql import functions as F

    from picogeojson_spark.operators.dedup import duplicate_clusters
    from picogeojson_spark.operators.textstats import gopher_quality_flags

    kept_ids = gopher_quality_flags(docs).filter(
        F.col("keep")).select("doc_id")
    kept = docs.join(kept_ids, on="doc_id")
    drop = duplicate_clusters(_lsh(kept)).filter(
        F.col("doc_id") != F.col("rep_id")).select("doc_id")
    return kept.join(drop, on="doc_id", how="left_anti")


def _curate(t):
    from pyspark.sql import functions as F

    from picogeojson_spark.operators.dedup import hash_split

    split = hash_split(_dedup_survivors(t["docs"]),
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    out = split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum")).collect()
    return sum(r["n_docs"] for r in out)


def _composition(t):
    """The full training-data pipeline as one lazy plan: quality gates ->
    near-dup removal -> leakage-safe split -> n-gram decontamination ->
    temperature source balancing -> token-budget shard packing."""
    from pyspark.sql import functions as F

    from picogeojson_spark.operators.dedup import (
        contamination_flags,
        hash_split,
    )
    from picogeojson_spark.operators.packing import pack_token_shards
    from picogeojson_spark.operators.sampling import temperature_sample

    split = hash_split(_dedup_survivors(t["docs"]),
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    # the test slice doubles as the benchmark to decontaminate against
    train = split.filter(F.col("split") == "train").drop("split")
    bench = split.filter(F.col("split") == "test").drop("split")
    dirty = contamination_flags(train, bench, n=8).filter(
        F.col("contaminated")).select("doc_id")
    clean = train.join(dirty, on="doc_id", how="left_anti")
    balanced = temperature_sample(clean, source_col="source")
    packed = pack_token_shards(balanced, budget=200_000)
    out = packed.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("shard_id").alias("n_shards"),
        F.sum("weight").cast("long").alias("chars_sum")).collect()[0]
    return out["n_docs"]


# -------------------------------------------------------------- cluster


def _clumped_points(spark, n):
    """6 dense blobs plus scattered noise (every 23rd point)."""
    from pyspark.sql import functions as F

    i = F.col("id")
    g = (i * 7) % 6
    lon_c = (g % 3).cast("double") * 100 - 100
    lat_c = F.floor(g / F.lit(3)).cast("double") * 60 - 30
    # wide intra-blob spread, so cell counts grow with n instead of
    # saturating a handful of lattice positions
    dlon = ((i * 13) % 41).cast("double") * 0.25 - 5.0
    dlat = ((i * 17) % 43).cast("double") * 0.25 - 5.25
    noise = (i % 23) == 0
    return spark.range(n).select(
        i.alias("point_id"),
        F.when(noise, ((i * 37) % 720).cast("double") / 2 - 180 + 0.25)
        .otherwise(lon_c + dlon).alias("lon"),
        F.when(noise, ((i * 61) % 360).cast("double") / 2 - 90 + 0.25)
        .otherwise(lat_c + dlat).alias("lat"),
    )


def _grid_dbscan(t):
    from picogeojson_spark.operators.spatial_cluster import grid_dbscan

    return grid_dbscan(t["points"], eps_udeg=500_000, min_pts=3).count()


def _adaptive_quadbin(t):
    from picogeojson_spark.operators.spatial_cluster import adaptive_quadbin

    return adaptive_quadbin(t["points"], cap=10_000, max_level=8).count()


# ------------------------------------------------------------------ geo


def _lcg_points(spark, n, salt):
    """LCG-spread points snapped to quarter degrees (a small-multiplier
    lattice cycles after ~1.4k positions and stacks duplicates, which
    makes the join quadratic by construction)."""
    from pyspark.sql import functions as F

    m = 2147483648  # 2^31
    mix = F.pmod((F.col("id") + salt) * 1103515245 + 12345, F.lit(m))
    mix2 = F.pmod(mix * 1103515245 + 12345, F.lit(m))
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        (F.floor(mix / m * 1440).cast("double") / 4 - 180 + 0.125)
        .alias("lon"),
        (F.floor(mix2 / m * 720).cast("double") / 4 - 90 + 0.125)
        .alias("lat"),
    )


def _geo_prepare(t):
    """Queries capped to |lat| < 60, so every query settles in the ring:
    this measures the scalable path, not the polar brute tail."""
    from pyspark.sql import functions as F

    return {
        "queries": t["queries"].withColumnRenamed("point_id", "query_id")
        .filter(F.abs(F.col("lat")) < 60.0),
        "candidates": t["candidates"].withColumnRenamed(
            "point_id", "neighbor_id"),
    }


def _distance_join(t):
    from picogeojson_spark.operators.knn import distance_join_haversine

    # level 8 / radius 2: the ring guard covers 0.5 deg out to |lat| ~69,
    # so the |lat| < 60 queries settle entirely (radius 1 would route
    # every |lat| > ~45 query into the exact brute tail)
    return distance_join_haversine(t["queries"], t["candidates"], 500_000,
                                   level=8, radius=2).count()


# --------------------------------------------------------------- newops

_KMEANS_SEEDS = [((j * 20 - 70) * 10**6, (j * 40 - 140) * 10**6)
                 for j in range(8)]


def _micro_points(spark, n):
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        ((i * 61) % 360_000_000 - 90_000_000).alias("lat_u"),
        ((i * 37) % 720_000_000 - 180_000_000).alias("lon_u"),
    )


def _bipartite_edges(spark, n):
    """Exactly n distinct edges, degree 20 on the u side (j = id div side
    walks 20 distinct v's per u), so wedge fan-out is ~40n."""
    from pyspark.sql import functions as F

    i = F.col("id")
    side = max(1000, n // 20)
    u = i % side
    j = F.expr("div(id, {})".format(side))
    return spark.range(n).select(
        (u + 1).alias("u"),
        (side + 1 + (u * 7919 + j * 104730) % side).alias("v"),
    ).distinct()


def _kmeans(t):
    from picogeojson_spark.operators.spatial_cluster import kmeans_points

    return kmeans_points(t["pts"], seeds=_KMEANS_SEEDS, rounds=4).count()


def _linkpred(t):
    from picogeojson_spark.operators.graph import link_prediction

    return link_prediction(t["edges"]).count()


def _hilbert(t):
    from pyspark.sql import functions as F

    from picogeojson_spark.operators.layout import hilbert_key

    # agg(sum) forces the key for every row (a bare count() would let
    # Catalyst prune the column away)
    return len(t["pts"].select(
        hilbert_key(F.col("lon_u") / 1e6, F.col("lat_u") / 1e6, 16)
        .alias("h")).agg(F.sum("h")).collect())


# ------------------------------------------------------------- session5


def _closed_digraph(spark, n, src="src", dst="dst"):
    """side = n/20 nodes of out-degree 20, targets in the same id space
    (walks never dead-end early)."""
    from pyspark.sql import functions as F

    side = max(1000, n // 20)
    i = F.col("id")
    u = i % side
    j = F.expr("div(id, {})".format(side))
    return spark.range(n).select(
        u.alias(src), ((u * 7919 + j * 104729 + 1) % side).alias(dst))


def _rects(spark, n):
    """500 rects per group (x in [0, 50k), width <= 1200); the group
    count scales with n, so union work is linear in groups."""
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        F.expr("div(id, 500)").alias("grp"),
        i.alias("rid"),
        ((i * 37) % 489 * 100).alias("x1"),
        ((i * 37) % 489 * 100 + 100 + (i % 12) * 100).alias("x2"),
        ((i * 53) % 489 * 100).alias("y1"),
        ((i * 53) % 489 * 100 + 100 + (i % 7) * 150).alias("y2"),
    )


def _cats(spark, n):
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        (i % 23).cast("string").alias("a"),
        (((i % 23) * 3 + i % 5) % 17).cast("string").alias("b"))


def _walks(t):
    from picogeojson_spark.operators.graph import random_walks

    return random_walks(t["edges"], walk_length=4).count()


def _union_area(t):
    from picogeojson_spark.operators.measures import rect_union_area

    return len(rect_union_area(t["rects"]).agg({"area": "sum"}).collect())


def _chi2(t):
    from picogeojson_spark.operators.stats import chi2_association

    return len(chi2_association(t["cats"]).collect())


# ------------------------------------------------------------- session6


def _group_docs(spark, n):
    """Groups of 20 docs over a group-local 40-token vocabulary: 12 tokens
    per doc, one doc-specific perturbation, so containment candidates
    exist inside every group and shingle df stays <= group size."""
    from pyspark.sql import functions as F

    i = F.col("id")
    grp = F.expr("div(id, 20)")
    toks = F.concat_ws(" ", *[
        F.concat(F.lit("g"), grp.cast("string"), F.lit("w"),
                 F.when(i % 12 == j, (i % 7).cast("string"))
                 .otherwise(((grp * 31 + j * 7) % 40).cast("string")))
        for j in range(12)
    ])
    return spark.range(n).select(i.alias("doc_id"), toks.alias("text"))


def _undirected_edges(spark, n):
    """The closed digraph kept as u < v: per-seed BFS reach is bounded by
    deg^hops whatever the graph size."""
    from pyspark.sql import functions as F

    return (_closed_digraph(spark, n, "u", "v")
            .filter(F.col("u") < F.col("v")).distinct())


def _events(spark, n):
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        (i % F.lit(max(50, n // 50))).alias("user_id"),
        ((i * 7) % 60).alias("day_id"))


def _keys(spark, n):
    from pyspark.sql import functions as F

    i = F.col("id")
    return spark.range(n).select(
        F.when(i % 5 == 0, F.lit(0))
        .otherwise(i % F.lit(max(10, n // 10))).alias("key"))


def _containment(t):
    from picogeojson_spark.operators.dedup import containment_pairs

    return containment_pairs(t["docs"], n=3, t_num=7, t_den=10).count()


def _closeness(t):
    from pyspark.sql import functions as F

    from picogeojson_spark.operators.graph import closeness_sample

    edges = t["edges"]
    seeds = (
        edges.select(F.col("u").alias("seed"))
        .union(edges.select(F.col("v").alias("seed")))
        .distinct().filter(F.col("seed") % 97 == 0)
    )
    return closeness_sample(edges, seeds, max_hops=3).count()


def _wau(t):
    from picogeojson_spark.operators.cohort import rolling_active_users

    return rolling_active_users(t["events"]).count()


def _ams(t):
    from picogeojson_spark.operators.sketches import ams_f2

    return len(ams_f2(t["keys"], k=16).collect())


# -------------------------------------------------------------- the table

FAMILIES = {
    # pages parquet -> mine_features -> pip_join + tiles (bench.run_spine)
    "spine": Family(200_000, {"pages": (_pages, _n)},
                    (Op("spine", "pages", _spine),)),
    "dedup": Family(
        50_000, {"docs": (_planted_docs, _n)},
        (Op("lsh", "docs", lambda t: _lsh(t["docs"]).count()),
         Op("curate", "docs", _curate))),
    "cluster": Family(
        2_000_000, {"points": (_clumped_points, _n)},
        (Op("grid_dbscan", "points", _grid_dbscan),
         Op("adaptive_quadbin", "points", _adaptive_quadbin))),
    # the candidate corpus stays at small_n while the query stream grows
    "geo": Family(
        200_000,
        {"queries": (lambda s, n: _lcg_points(s, n, 0), _n),
         "candidates": (lambda s, n: _lcg_points(s, n, 7777777), _small)},
        (Op("distance_join", "queries", _distance_join),),
        _geo_prepare),
    # sized so even the fastest op runs seconds at local[8]; smaller
    # inputs are fixed-overhead bound and parallelism reads collapse
    "newops": Family(
        8_000_000,
        {"pts": (_micro_points, _n), "edges": (_bipartite_edges, _eighth)},
        (Op("geo_kmeans", "pts", _kmeans),
         Op("graph_linkpred", "edges", _linkpred),
         Op("geo_hilbert", "pts", _hilbert))),
    "session5": Family(
        4_000_000,
        {"edges": (lambda s, n: _closed_digraph(s, n).distinct(), _n),
         "rects": (_rects, _eighth), "cats": (_cats, _n)},
        (Op("graph_walks", "edges", _walks),
         Op("geo_union_area", "rects", _union_area),
         Op("table_chi2", "cats", _chi2))),
    "session6": Family(
        1_000_000,
        {"docs": (_group_docs, _eighth), "edges": (_undirected_edges, _n),
         "events": (_events, _n), "keys": (_keys, _n)},
        (Op("dedup_containment", "docs", _containment),
         Op("graph_closeness", "edges", _closeness),
         Op("events_wau", "events", _wau),
         Op("sketch_ams", "keys", _ams))),
    "composition": Family(
        50_000, {"docs": (lambda s, n: _planted_docs(s, n, _SOURCE), _n)},
        (Op("pipeline", "docs", _composition),)),
}


# ------------------------------------------------------------- the driver


def generate(spark, family, n, small, root):
    """Write each of ``family``'s tables at size n under ``root``;
    returns table name -> parquet path."""
    paths = {}
    for name, (gen, rows) in FAMILIES[family].tables.items():
        paths[name] = os.path.join(root, name)
        gen(spark, rows(n, small)).write.mode("overwrite").parquet(
            paths[name])
    return paths


def load(spark, family, paths):
    """The tables the ops of ``family`` see, read back from ``paths``."""
    return FAMILIES[family].prepare(
        {name: spark.read.parquet(p) for name, p in paths.items()})


def _session(cores):
    from picogeojson_spark.session import get_spark

    spark = get_spark(master="local[{}]".format(cores),
                      shuffle_partitions=2 * cores, extra_conf=_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _generate_sizes(family, sizes, root):
    spark = _session(8)
    try:
        return {n: generate(spark, family, n, sizes[0],
                            os.path.join(root, str(n))) for n in sizes}
    finally:
        spark.stop()


def _timed(run, tables):
    t0 = time.perf_counter()
    rows = run(tables)
    return time.perf_counter() - t0, rows


def _leg(family, cores, paths):
    """One leg: per op, input rows, output rows and best-of-two seconds."""
    spark = _session(cores)
    try:
        tables = load(spark, family, paths)
        warm = {name: df.limit(WARM_ROWS) for name, df in tables.items()}
        ops = FAMILIES[family].ops
        for op in ops:
            op.run(warm)
        out = {}
        for op in ops:
            secs, rows = min(_timed(op.run, tables) for _ in range(2))
            out[op.name] = {"input_rows": tables[op.input].count(),
                            "rows": rows, "seconds": round(secs, 3)}
        return out
    finally:
        spark.stop()


def _in_fresh_process(fn, *args):
    """``fn(*args)`` in a new interpreter, so it starts its own JVM."""
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply(fn, args)


def report(family, legs, results):
    """The JSON report of ``legs`` ((cores, n) pairs: local[8] at n,
    local[8] at ratio·n, local[2] at ratio·n) and their ``_leg``
    results."""
    (c_par, _), (c_ser, _) = legs[1], legs[2]
    ops = {}
    for name in results[0]:
        per_leg = [res[name] for res in results]
        rps = [r["input_rows"] / r["seconds"] for r in per_leg]
        ops[name] = {
            "input_rows": [r["input_rows"] for r in per_leg],
            "rows": [r["rows"] for r in per_leg],
            "seconds": [r["seconds"] for r in per_leg],
            "rows_per_s": [round(v, 1) for v in rps],
            "per_row_cost_ratio": round(rps[0] / rps[1], 3),
            "parallel_eff": round(rps[1] / rps[2] / (c_par / c_ser), 3),
        }
    return {"family": family,
            "legs": [{"master": "local[{}]".format(c), "n": n}
                     for c, n in legs],
            "ops": ops}


def main(argv):
    if not argv or argv[0] not in FAMILIES:
        sys.exit("usage: scaling.py <{}> [small_n] [ratio]".format(
            "|".join(FAMILIES)))
    family = argv[0]
    small = int(argv[1]) if len(argv) > 1 else FAMILIES[family].small_n
    ratio = int(argv[2]) if len(argv) > 2 else 4
    sizes = (small, small * ratio)
    legs = ((8, sizes[0]), (8, sizes[1]), (2, sizes[1]))
    root = tempfile.mkdtemp(prefix="scaling_{}_".format(family))
    try:
        paths = _in_fresh_process(_generate_sizes, family, sizes, root)
        results = [_in_fresh_process(_leg, family, cores, paths[n])
                   for cores, n in legs]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(report(family, legs, results), indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
