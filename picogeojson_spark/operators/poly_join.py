"""Polygon-polygon intersection join (cell-cover candidates + exact refine).

The candidate stage rasterizes BOTH sides into fixed-level grid cells
(Raster-Intervals-style approximation, SIGMOD 2023 — realized as the
materialized-cell equi-join Catalyst already optimizes, same as pip_join):
two polygons can only intersect if their bbox covers share a cell at the
common level, so the equi-join on ``cell`` is a complete candidate
generator. Each side parses its polygons once in Python for their bboxes
(``pip_join.polygon_bbox_df``, one row per polygon); the covers are the
JVM cell cover (``pip_join.cover_expr``) exploded, and an auto-chosen
level comes from a JVM max of the bbox extents. The refine step then
decides exactly with the geometry kernel (``polygons_intersect``:
winding-number vertex containment + vectorized proper edge-crossing).

Unlike pip_join's adaptive cover (fine for point ancestors), BOTH sides
here must cover at the SAME fixed level — mixed per-polygon levels would
break cell equality and silently drop pairs — so ``max_cells`` is a hard
error (``raise_error`` naming the polygon), not a fallback: use a coarser
level if your polygons are too big.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pip_join import cover_expr, polygon_bbox_df


def _fixed_cover(polygons: DataFrame, id_col: str, level: int,
                 max_cells: int) -> DataFrame:
    """(id_col, geometry_json) -> (cell, id_col, geometry_json): the
    level-``level`` cover of each polygon's bbox, exploded in the JVM.
    ``min_level=level`` pins the cover at the fixed level (no coarsening),
    so a polygon over ``max_cells`` cells is a hard error naming it."""
    over = F.raise_error(F.concat(
        F.lit("polygon "), F.col(id_col).cast("string"), F.lit(" covers "),
        F.size("_c").cast("string"),
        F.lit(" cells at level {} (> {}); use a coarser level".format(
            level, max_cells))))
    return polygon_bbox_df(polygons, level, id_col).select(
        id_col, "geometry_json",
        cover_expr("bbox", level, max_cells, min_level=level).alias("_c"),
    ).select(
        F.explode(F.when(F.size("_c") > max_cells, over).otherwise(F.col("_c")))
        .alias("cell"), id_col, "geometry_json")


def _auto_level(polys_a: DataFrame, polys_b: DataFrame,
                max_cells: int) -> int:
    """:func:`choose_poly_level` over the largest bbox width and height of
    both sides: one JVM max (an inverted axis counts as 0)."""
    def extents(polygons, id_col):
        return polygon_bbox_df(polygons, 0, id_col).select(
            F.greatest(F.col("bbox.xmax") - F.col("bbox.xmin"), F.lit(0.0))
            .alias("w"),
            F.greatest(F.col("bbox.ymax") - F.col("bbox.ymin"), F.lit(0.0))
            .alias("h"))

    r = (extents(polys_a, "a_id").unionByName(extents(polys_b, "b_id"))
         .agg(F.max("w").alias("w"), F.max("h").alias("h")).first())
    return choose_poly_level(r["w"] or 0.0, r["h"] or 0.0, max_cells)


def choose_poly_level(max_w: float, max_h: float, max_cells: int = 4096,
                      finest: int = 12) -> int:
    """Finest level at which the largest bbox still covers <= max_cells
    cells (finer level = tighter candidate pruning; the fixed-level
    constraint means one size must fit all)."""
    for level in range(finest, -1, -1):
        cs = 180.0 / (2 ** level)
        if (max_w / cs + 2) * (max_h / cs + 2) <= max_cells:
            return level
    return 0


def polygon_intersection_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    level: int = None,
    max_cells: int = 4096,
    broadcast_b: bool = True,
) -> DataFrame:
    """(a_id, b_id) pairs of strictly-overlapping polygons.

    ``polys_a``: (a_id, geometry_json); ``polys_b``: (b_id, geometry_json).
    ``level=None`` auto-tunes: one max-extent aggregation picks the
    finest level at which every polygon's cover fits ``max_cells`` — a
    wrong manual level is a hard error (never silent truncation), so auto
    is the safe default. Degenerate touching (shared edges / vertex
    contacts) is out of contract — see geo/polyjoin.py.
    """
    if level is None:
        level = _auto_level(polys_a, polys_b, max_cells)
    import pandas as pd

    from ..geo.polyjoin import polygons_intersect

    ca = _fixed_cover(polys_a, "a_id", level, max_cells)
    cb = _fixed_cover(polys_b, "b_id", level, max_cells)
    if broadcast_b:
        cb = F.broadcast(cb)
    cand = (
        ca.join(cb.withColumnRenamed("geometry_json", "geometry_json_b"),
                on="cell")
        .select("a_id", "geometry_json", "b_id", "geometry_json_b")
        .dropDuplicates(["a_id", "b_id"])
    )

    def refine(batches):
        cache = {}
        for pdf in batches:
            keep_a, keep_b = [], []
            for a_id, gja, b_id, gjb in zip(pdf["a_id"], pdf["geometry_json"],
                                            pdf["b_id"], pdf["geometry_json_b"]):
                ga = cache.get(("a", a_id))
                if ga is None:
                    ga = json.loads(gja)
                    cache[("a", a_id)] = ga
                gb = cache.get(("b", b_id))
                if gb is None:
                    gb = json.loads(gjb)
                    cache[("b", b_id)] = gb
                if polygons_intersect(ga, gb):
                    keep_a.append(int(a_id))
                    keep_b.append(int(b_id))
            yield pd.DataFrame({"a_id": keep_a, "b_id": keep_b})

    return cand.mapInPandas(refine, schema="a_id long, b_id long")
