"""Point-in-polygon join: cell-prefix pre-filter + vectorized exact refine.

Scale design (SURVEY §2.11):

- polygons are covered with cells at an adaptive level (the JVM cover,
  :func:`cover_expr`, picks the finest level at which a polygon's bbox
  needs at most ``max_cells`` cells), then exploded to (cell, poly) rows;
  Python only parses each polygon for its bbox;
- points emit their cell **plus its ancestors** down to ``min_level`` — an
  array of ~(level - min_level + 1) ids, exploded — so a point equi-joins a
  polygon regardless of which level the polygon's cover chose. The spatial
  theta-join becomes a plain equi-join that Catalyst/AQE already optimizes
  (broadcast when the polygon side is small, skew-split when a hot cell
  dominates);
- candidates are refined by the exact numpy winding-number kernel inside one
  ``mapInPandas`` (geometries parsed once per distinct polygon per batch, PIP
  vectorized over that polygon's candidate points);
- the per-(point,poly) match is unique by construction (one cover level per
  polygon, ancestors are distinct levels), so no dedup shuffle is needed.

Skew: pass ``salt > 1`` to replicate the (small) polygon side ``salt`` ways
and scatter points across replicas — defeats a single hot cell hashing to one
shuffle partition. AQE's skew-join handles the rest.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.cells import (
    DEFAULT_LEVEL,
    _bbox_cell_range,
    ancestors_sql,
    cell_sql,
    cover_sql,
)

MIN_LEVEL = 6


def polygon_bbox_df(polygons: DataFrame, level: int = DEFAULT_LEVEL,
                    id_col: str = "poly_id") -> DataFrame:
    """polygons(id_col, geometry_json) -> (id_col, geometry_json, bbox):
    one row per polygon, the 2-D bbox from the kernel parse. The only
    Python stage of a polygon cover; the cells are JVM expressions over
    ``bbox``. A non-finite polygon fails the task here (the
    ``_bbox_cell_range`` check at ``level``), not covering to the clipped
    grid edge."""
    from .features import BBOX_DDL, _bbox2d

    def bboxes(batches):
        for pdf in batches:
            out = []
            for gj in pdf["geometry_json"]:
                bb = _bbox2d(json.loads(gj))
                _bbox_cell_range(bb[0], bb[1], bb[2], bb[3], level)
                out.append(bb)
            yield pdf.assign(bbox=out)

    # polygon tables are usually tiny next to the point side: coalesce so the
    # UDF pays a handful of python-worker round trips, not one per core
    # — but never below the cluster's task slots, so a LARGE polygon table
    # (country-scale admin boundaries at production) still runs in parallel
    slots = polygons.sparkSession.sparkContext.defaultParallelism
    src = polygons.select(id_col, "geometry_json").coalesce(max(8, slots))
    return src.mapInPandas(bboxes, schema="{} long, geometry_json string, {}"
                           .format(id_col, BBOX_DDL))


def polygon_cover_df(polygons: DataFrame, level: int = DEFAULT_LEVEL,
                     max_cells: int = 64, min_level: int = MIN_LEVEL) -> DataFrame:
    """polygons(poly_id, geometry_json, [bbox]) -> (cell, poly_id, geometry_json).

    The cover's coarse-level fallback is floored at ``min_level`` so it can
    never drop below the point side's ancestor range (which would silently
    miss pairs); continent-sized polygons therefore pay more cover cells
    rather than losing correctness.

    Python only parses each polygon for its 2-D bbox
    (:func:`polygon_bbox_df`); the cells are expanded by the JVM
    (:func:`cover_expr`, one ``explode``), so ``geometry_json`` is not
    copied once per cell through Arrow.
    """
    return polygon_bbox_df(polygons, level).select(
        F.explode(cover_expr("bbox", level, max_cells, min_level))
        .alias("cell"), "poly_id", "geometry_json")


def cell_expr(lon: str, lat: str, level: int):
    """JVM-side replica of ``geo.cells.cell_of`` over the columns named
    ``lon`` and ``lat`` (``geo.cells.cell_sql``), so the produced cell ids
    are BIT-IDENTICAL to the numpy kernel (pinned by a differential test
    over random points plus the ±180/±90 edges); null for a null
    coordinate. Being a plain expression it runs in whole-stage codegen —
    no Python worker on the point side."""
    return F.expr(cell_sql(lon, lat, level))


def cover_expr(bbox: str, level: int, max_cells: int, min_level: int = 0):
    """JVM-side replica of ``geo.cells.cover_bbox_ints`` over the bbox
    struct column named ``bbox``: ``geo.cells.cover_sql`` parsed, an
    ``array<bigint>`` of the same cells in the same order (null for a null
    bbox). Pinned bit-identical by a differential test."""
    return F.expr(cover_sql(bbox, level, max_cells, min_level))


def point_ancestors_df(points: DataFrame, level: int = DEFAULT_LEVEL,
                       min_level: int = MIN_LEVEL) -> DataFrame:
    """points(point_id, lon, lat) -> (cell, point_id, lon, lat), one row per
    ancestor level so mixed-level polygon covers still equi-join.

    Pure JVM expressions (the :func:`cell_expr` SQL per level, one array
    explode; a point with a null coordinate has a null array and so no
    row): the point side — unbounded at production scale — pays NO
    Python stage here, which also leaves the exact-refine UDF as the only
    Python stage in the whole pip_join pipeline (chained mapInPandas UDFs
    in one stage oversubscribe python workers; see CLAUDE.md).  The array
    is parsed from one SQL string; built from Column objects it would cost
    ~210 py4j calls on the driver."""
    cells = F.expr(ancestors_sql("lon", "lat", min_level, level))
    return points.select(
        F.explode(cells).alias("cell"), "point_id", "lon", "lat"
    )


#: geometry-cache capacity for the refine stage. A task holding the
#: full candidate stream for > cap distinct polygons evicts least-recently
#: -used geometries instead of silently stopping to cache (the pre-round-4
#: behavior re-parsed every polygon past #4096 on EVERY batch — a per-batch
#: O(distinct polys) JSON parse at country-scale polygon tables).
REFINE_GEOM_CACHE_CAP = 4096


def _refine_batches(batches, cache_cap=REFINE_GEOM_CACHE_CAP, stats=None):
    """Core of the refine stage, Spark-free for unit testing: a generator
    over pandas batches of (point_id, lon, lat, poly_id, geometry_json)
    yielding exact (point_id, poly_id) PIP pairs.

    Within a batch, polygons are visited in order of first appearance and
    each polygon's candidates in batch order: ``factorize`` numbers the
    polygons, one stable ``argsort`` of those codes makes each polygon's
    rows one contiguous slice, and the kernel runs on numpy slices (a
    pandas ``groupby`` spent most of the refine in per-group frame
    indexing). Geometries are parsed at most once while they stay inside
    the LRU cache (``cache_cap`` entries per task: Spark runs the
    generator once per partition); ``stats`` (a dict) receives a
    ``parses`` counter so tests can assert the re-parse bound directly.
    """
    import collections

    import numpy as np
    import pandas as pd

    from ..geo.pip import points_in_geometry

    geom_cache = collections.OrderedDict()
    if stats is not None:
        stats.setdefault("parses", 0)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        codes, poly_ids = pd.factorize(pdf["poly_id"].to_numpy(), sort=False)
        order = np.argsort(codes, kind="stable")
        # a null poly_id (code -1) sorts first and, as in a groupby, is
        # never refined
        start = int((codes < 0).sum())
        ends = start + np.cumsum(np.bincount(codes[codes >= 0],
                                             minlength=len(poly_ids)))
        xs_all = pdf["lon"].to_numpy(dtype=np.float64)[order]
        ys_all = pdf["lat"].to_numpy(dtype=np.float64)[order]
        pids_all = pdf["point_id"].to_numpy()[order]
        geom_json = pdf["geometry_json"].to_numpy()
        empty = np.empty(0, dtype=np.int64)
        keep_pid, keep_poly = [empty], [empty]
        for poly_id, end in zip(poly_ids, ends):
            geom = geom_cache.get(poly_id)
            if geom is None:
                geom = json.loads(geom_json[order[start]])
                if stats is not None:
                    stats["parses"] += 1
                geom_cache[poly_id] = geom
                if len(geom_cache) > cache_cap:
                    geom_cache.popitem(last=False)
            else:
                geom_cache.move_to_end(poly_id)
            mask = points_in_geometry(xs_all[start:end], ys_all[start:end], geom)
            if mask.any():
                pids = pids_all[start:end][mask]
                keep_pid.append(pids)
                keep_poly.append(np.full(len(pids), poly_id, dtype=np.int64))
            start = end
        yield pd.DataFrame({"point_id": np.concatenate(keep_pid),
                            "poly_id": np.concatenate(keep_poly)})


def _refine(candidates: DataFrame) -> DataFrame:
    """(point_id, lon, lat, poly_id, geometry_json) -> exact PIP pairs."""

    return candidates.mapInPandas(
        _refine_batches, schema="point_id long, poly_id long"
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    level: int = DEFAULT_LEVEL,
    max_cells: int = 64,
    min_level: int = MIN_LEVEL,
    broadcast_polys: bool = None,
    salt: int = 1,
    broadcast_budget_bytes: int = 32 << 20,
) -> DataFrame:
    """Exact point-in-polygon join -> DataFrame(point_id, poly_id).

    ``points``: (point_id, lon, lat); ``polygons``: (poly_id, geometry_json).

    ``broadcast_polys=None`` (default) auto-sizes: one narrow aggregate over
    the raw polygon table estimates the exploded cover's bytes; at or under
    ``broadcast_budget_bytes`` the cover side is broadcast-hinted (the
    point side — unbounded at production scale — then never shuffles at
    all), above it the join is left unhinted and AQE picks the strategy
    from runtime sizes (including a runtime broadcast if the estimate was
    pessimistic). Catalyst cannot make this call itself because the cover
    is a Python-UDF output with no size statistics — an unconditional hint
    here would force a country-scale polygon table into one broadcast.
    Pass True/False to skip the estimate job and decide explicitly.
    """
    if broadcast_polys is None:
        est_row = polygons.agg(
            F.count("*").alias("n"),
            F.sum(F.length("geometry_json")).alias("geom_bytes"),
        ).first()
        n_polys = int(est_row["n"])
        geom_bytes = int(est_row["geom_bytes"] or 0)
        # each polygon's geometry string is replicated once per cover cell;
        # typical adaptive covers use ~4-16 cells (ceiling max_cells), and a
        # salted join replicates the whole side again. 16x is deliberately
        # pessimistic for the common case — AQE still broadcasts an unhinted
        # join at runtime when the real cover turns out small.
        est = 16 * max(salt, 1) * (geom_bytes + 24 * n_polys)
        broadcast_polys = est <= broadcast_budget_bytes

    polys = polygon_cover_df(polygons, level, max_cells, min_level)
    pts = point_ancestors_df(points, level, min_level)

    if salt > 1:
        polys = polys.crossJoin(
            F.broadcast(polys.sparkSession.range(salt).select(
                F.col("id").cast("int").alias("salt")))
        )
        pts = pts.withColumn(
            "salt", (F.pmod(F.xxhash64("point_id"), F.lit(salt))).cast("int")
        )
        join_keys = ["cell", "salt"]
    else:
        join_keys = ["cell"]

    if broadcast_polys:
        polys = F.broadcast(polys)

    candidates = pts.join(polys, on=join_keys).select(
        "point_id", "lon", "lat", "poly_id", "geometry_json"
    )
    return _refine(candidates)
