"""The benchmark's workloads: one checked pass each, plus traced extras.

Every pass ends in small aggregates that are compared with the truth the
input generator computed independently (``inputs.py``), so each pass is
checked and a wrong answer counts as a failed pass.

- ``spine``: the headline job. Pages parquet (the ``sources.synth`` corpus
  mix) -> ``mine_features`` -> ``pip_join`` against the 648-polygon world
  grid -> ``assign_tiles_points``. Rows are pages. Exercises the mining UDF
  (parse, cut, bbox, cells) on all seven geometry types, the polygon cover
  and the PIP refine; the grid fits the broadcast path and the refine's
  geometry cache.
- ``graph``: ``bfs_hops`` (3 hops from ~1% of nodes as seeds) over a
  page-link graph. Rows are links. Exercises the iterative graph operators'
  frontier loop and its per-round job overhead; no geo code runs, so geo
  changes should leave it flat. ``pagerank`` (8 rounds) over the same links
  is measured in the traced run only: its cold start plus warm pass would
  not fit the benchmark's time budget in every run.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

from . import inputs


@contextlib.contextmanager
def _no_span(name):
    yield {}


def _checks(got, want):
    """-> list of "name: got != want" mismatches (empty when all match)."""
    return ["{}: {} != {}".format(k, got.get(k), v)
            for k, v in want.items() if got.get(k) != v]


class Spine:
    name = "spine"
    PASS_KEYS = ("feature_rows", "error_rows", "point_rows", "pairs",
                 "point_id_sum", "poly_id_sum", "tile_x_sum") + tuple(
                     "rows_" + t for t in inputs.GEOM_TYPES)
    #: Spark task slots: three Python-UDF tasks leave one core of a 4-core
    #: box to the driver and the JVM, which measured faster than four
    local_k = 3
    #: checked passes in set-up: the first pays the Python workers' start,
    #: the first compiles and broadcasts; the JVM's JIT then cuts the next
    #: pass's CPU by about a fifth, and the passes after it stay level
    warmup_passes = 2

    def __init__(self, manifest):
        self.m = manifest
        self.rows = manifest["rows"]
        self.truth = manifest["truth"]

    def run_pass(self, spark, tracer=None, keep=None):
        """One checked pass; -> list of mismatches. ``keep`` (a dict)
        receives the cached point side for traced extras, which then must
        unpersist ``keep["feats"]``."""
        from pyspark.sql import functions as F

        from picogeojson_spark.operators import (
            assign_tiles_points, filter_by_type, mine_features, pip_join)

        span = tracer.span if tracer else _no_span
        pages = spark.read.parquet(self.m["paths"]["pages"])
        polys = spark.read.parquet(self.m["paths"]["polygons"])
        with span("features.mine_features") as s:
            point_id = (F.regexp_extract("url", r"(\d+)$", 1).cast("long")
                        * inputs.POINT_ID_STRIDE + F.col("feature_idx"))
            feats = mine_features(pages).select(
                point_id.alias("point_id"), "geom_type", "lon", "lat",
                F.col("parse_error").isNotNull().cast("int").alias("err"),
            ).persist()
            r = feats.agg(
                F.count("*").alias("feature_rows"),
                F.sum("err").alias("error_rows"),
                F.sum((F.col("geom_type") == "Point").cast("int")).alias("point_rows"),
                *[F.sum((F.col("geom_type") == t).cast("int")).alias("rows_" + t)
                  for t in inputs.GEOM_TYPES],
            ).first()
            s["features_out"], s["parse_error_rows"] = r["feature_rows"], r["error_rows"]
        got = r.asDict()
        pts = filter_by_type(feats, "Point").select("point_id", "lon", "lat")
        with span("pip_join.pip_join"):
            r = pip_join(pts, polys).agg(
                F.count("*").alias("pairs"),
                F.sum("point_id").alias("point_id_sum"),
                F.sum("poly_id").alias("poly_id_sum")).first()
        got.update(r.asDict())
        with span("tiling.assign_tiles_points"):
            r = assign_tiles_points(pts, z=inputs.TILE_Z).agg(
                F.sum("tile_x").alias("tile_x_sum")).first()
        got.update(r.asDict())
        if keep is None:
            feats.unpersist()
        else:
            keep.update(feats=feats, pts=pts, polys=polys, pages=pages,
                        pairs=got["pairs"])
        return _checks(got, {k: self.truth[k] for k in self.PASS_KEYS})

    def traced_extras(self, spark, tracer, keep, out_dir):
        """Layer probes that the pass runs only implicitly: the pip_join
        sub-steps, the write path over this input's features, and the
        kernel split. -> (metrics, mismatches)."""
        from pyspark.sql import functions as F

        from picogeojson_spark.operators.pip_join import (
            pip_join, point_ancestors_df, polygon_cover_df)
        from picogeojson_spark.operators.serialize import (
            assemble_feature_collections, serialize_features)
        from picogeojson_spark.operators import mine_features

        import pyarrow.parquet as pq

        from .kernels import KERNEL_PAGES, grid_geometries, kernel_split

        m = {}
        pts, polys = keep["pts"], keep["polys"]
        with tracer.span("pip_join.polygon_cover_df"):
            cover = polygon_cover_df(polys)
            r = cover.agg(F.count("*").alias("n"),
                          F.sum(F.length("geometry_json")).alias("b")).first()
        m["pip_join.polygon_cover_df.busy_s"] = tracer.busy_s(
            "pip_join.polygon_cover_df")
        m["pip_join.polygon_cover_df.rows_out"] = r["n"]
        m["pip_join.polygon_cover_df.geometry_bytes_out"] = r["b"]
        with tracer.span("pip_join.point_ancestors_df"):
            m["pip_join.point_ancestors_df.rows_out"] = point_ancestors_df(pts).count()
        with tracer.span("pip_join.candidates"):
            m["pip_join.candidates"] = point_ancestors_df(pts).join(
                F.broadcast(polygon_cover_df(polys)), "cell").count()
        m["pip_join.pairs_out"] = keep["pairs"]
        m["pip_join.refine_hit_ratio"] = keep["pairs"] / m["pip_join.candidates"]
        plan = io.StringIO()
        with contextlib.redirect_stdout(plan):
            pip_join(pts, polys).explain()
        m["pip_join.pip_join.broadcast"] = int("BroadcastHashJoin" in plan.getvalue())
        keep["feats"].unpersist()

        # write path: features at rest -> serialize -> assemble -> parquet.
        # 3-D Points are left out: like the reference, the FeatureCollection
        # bbox raises on a page that mixes 2-D and 3-D features, and that
        # fails the assemble task
        good = mine_features(keep["pages"]).filter(
            F.col("parse_error").isNull()
            & ((F.col("geom_type") != "Point")
               | F.get_json_object("geometry_json", "$.coordinates[2]").isNull())
        ).persist()
        good.count()
        with tracer.span("serialize.serialize_features"):
            serialize_features(good).agg(F.sum(F.length("geojson"))).first()
        m["serialize.serialize_features.busy_s"] = tracer.busy_s(
            "serialize.serialize_features")
        with tracer.span("serialize.assemble_feature_collections"):
            fcs = assemble_feature_collections(good).persist()
            m["serialize.assemble_feature_collections.rows_out"] = fcs.count()
        m["serialize.assemble_feature_collections.busy_s"] = tracer.busy_s(
            "serialize.assemble_feature_collections")
        fc_dir = os.path.join(out_dir, "feature_collections.parquet")
        with tracer.span("write"):
            fcs.write.mode("overwrite").parquet(fc_dir)
        m["write.busy_s"] = tracer.busy_s("write")
        written = sum(os.path.getsize(os.path.join(fc_dir, f))
                      for f in os.listdir(fc_dir) if f.endswith(".parquet"))
        m["write.bytes_per_input_byte"] = (
            written / os.path.getsize(self.m["paths"]["pages"]))
        fcs.unpersist()
        good.unpersist()
        back = spark.read.parquet(fc_dir).agg(
            F.count("*").alias("emit_pages"),
            F.sum(F.json_array_length(F.get_json_object(
                "feature_collection_json", "$.features"))).alias("emit_rows"),
        ).first().asDict()
        shutil.rmtree(fc_dir, ignore_errors=True)
        bad = _checks(back, {k: self.truth[k] for k in ("emit_pages", "emit_rows")})

        pages_tab = pq.read_table(self.m["paths"]["pages"]).slice(0, KERNEL_PAGES)
        sample = zip(pages_tab.column("url").to_pylist(),
                     pages_tab.column("text").to_pylist())
        grid = grid_geometries(pq.read_table(self.m["paths"]["polygons"]))
        k = kernel_split(sample, grid)
        if k["geo.pip.points_in_geometry.hits"] != k["geo.pip.points_in_geometry.points"]:
            bad.append("kernel PIP hits {} != points {}".format(
                k["geo.pip.points_in_geometry.hits"],
                k["geo.pip.points_in_geometry.points"]))
        m.update(k)
        return m, bad

    def pass_metrics(self, tracer, keep):
        mine = tracer.find("features.mine_features")[-1]
        return {
            "features.mine_features.busy_s": tracer.busy_s("features.mine_features"),
            "features.mine_features.pages_in": self.rows,
            "features.mine_features.features_out": mine["features_out"],
            "features.mine_features.parse_error_rows": mine["parse_error_rows"],
            "features.mine_features.spark_jobs": tracer.jobs("features.mine_features"),
            "pip_join.pip_join.busy_s": tracer.busy_s("pip_join.pip_join"),
            "pip_join.pip_join.spark_jobs": tracer.jobs("pip_join.pip_join"),
        }


class Graph:
    name = "graph"
    #: Spark task slots: the graph is small and its passes are bound by
    #: per-job driver overhead, so two slots leave cores for the driver
    local_k = 2
    #: checked passes in set-up: the pass is many small jobs, and the
    #: driver's JIT keeps cutting their planning cost for about five passes
    #: (on a 4-vCPU VM: 14.9 s cold, then 4.6, 4.4, 3.6, 4.2, 3.7, 3.3 s and
    #: 3.0-3.3 s from there on); with one warm-up pass, timed passes sit on
    #: that curve and rows_per_s spread 0.28 (IQR / median, five seeds).
    #: More than three would not fit the benchmark's time budget
    warmup_passes = 3
    PASS_KEYS = ("bfs_nodes", "bfs_hops_sum", "bfs_max_hop")

    def __init__(self, manifest):
        self.m = manifest
        self.rows = manifest["rows"]
        self.truth = manifest["truth"]

    def run_pass(self, spark, tracer=None, keep=None):
        from pyspark.sql import functions as F

        from picogeojson_spark.operators.graph import bfs_hops

        span = tracer.span if tracer else _no_span
        links = spark.read.parquet(self.m["paths"]["links"])
        seeds = spark.read.parquet(self.m["paths"]["seeds"])
        with span("graph.bfs_hops"):
            edges = links.select(F.least("src", "dst").alias("u"),
                                 F.greatest("src", "dst").alias("v")).distinct()
            got = bfs_hops(edges, seeds, max_hops=inputs.BFS_HOPS).agg(
                F.count("*").alias("bfs_nodes"),
                F.sum("hops").alias("bfs_hops_sum"),
                F.max("hops").alias("bfs_max_hop"),
            ).first().asDict()
        if keep is not None:
            keep.update(links=links, bfs_max_hop=got["bfs_max_hop"])
        return _checks(got, {k: self.truth[k] for k in self.PASS_KEYS})

    def pagerank_pass(self, links, log=None):
        """-> mismatches of one ``pagerank`` run against the truth."""
        from pyspark.sql import functions as F

        from picogeojson_spark.operators.graph import pagerank

        ranks = pagerank(links, iterations=inputs.PAGERANK_ROUNDS,
                         damping_pct=inputs.PAGERANK_DAMPING_PCT,
                         scale=inputs.PAGERANK_SCALE, iteration_log=log)
        got = ranks.agg(
            F.count("*").alias("pr_nodes"),
            F.sum("rank").alias("pr_rank_sum"),
            F.sum(F.pmod(F.col("rank") * 31 + F.col("node"),
                         F.lit(inputs.DIGEST_MOD))).alias("pr_digest"),
        ).first().asDict()
        return _checks(got, {k: v for k, v in self.truth.items()
                             if k.startswith("pr_")})

    def traced_extras(self, spark, tracer, keep, out_dir):
        """pagerank, measured on its second run (the first warms it up)."""
        bad = self.pagerank_pass(keep["links"])
        log = []
        with tracer.span("graph.pagerank"):
            bad += self.pagerank_pass(keep["links"], log)
        return {
            "graph.pagerank.busy_s": tracer.busy_s("graph.pagerank"),
            "graph.pagerank.spark_jobs": tracer.jobs("graph.pagerank"),
            "graph.pagerank.round_s": sum(r["wall_s"] for r in log) / len(log),
            "graph.pagerank.gc_ms": sum(r["gc_ms"] for r in log),
        }, bad

    def pass_metrics(self, tracer, keep):
        # from the traced pass's own output: the frontier loop ran one round
        # per hop it found, plus the empty round that stops it early
        max_hop = keep["bfs_max_hop"]
        return {
            "graph.bfs_hops.busy_s": tracer.busy_s("graph.bfs_hops"),
            "graph.bfs_hops.rounds": max_hop + (max_hop < inputs.BFS_HOPS),
            "graph.bfs_hops.spark_jobs": tracer.jobs("graph.bfs_hops"),
        }


WORKLOADS = {"spine": Spine, "graph": Graph}
