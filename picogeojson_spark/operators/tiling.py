"""Raster-tile ↔ vector assignment (Web-Mercator XYZ).

Point assignment and geometry covers are pure JVM expressions (whole-stage
codegen, no Python): the tile formulas come from ``geo.tiles.tile_xy_sql``,
the SQL twin of the numpy kernel, so Spark, numpy, and the DuckDB oracle
all produce the same doubles. Geometry covers explode the (cut,
non-wrapping) bbox into a z-level tile rectangle with two ``sequence``
explodes between its corner tiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.tiles import tile_xy_sql


def assign_tiles_points(points: DataFrame, z: int,
                        lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Attach tile_x / tile_y / tile_z columns for point rows (JVM-side):
    ``geo.tiles.tile_xy_sql`` parsed. Three ``withColumn`` calls, not one
    projection, keep the plan of the Column spelling this replaced:
    Catalyst collapses ``tile_x`` into the input's projection and keeps
    ``tile_y`` above it."""
    x, y = tile_xy_sql("`{}`".format(lon_col), "`{}`".format(lat_col), z)
    return (points.withColumn("tile_z", F.lit(z))
            .withColumn("tile_x", F.expr(x)).withColumn("tile_y", F.expr(y)))


def tile_pyramid(points: DataFrame, z_min: int = 4, z_max: int = 10,
                 lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Point counts per tile for EVERY zoom in [z_min, z_max] — the
    multi-resolution heatmap/rollup table.

    OLAP rollup cascade: the point set is shuffled ONCE (the groupBy at the
    finest zoom); every coarser level aggregates the PREVIOUS level's
    aggregates, because XYZ tiles nest exactly — parent = child >> 1, an
    IEEE floor identity (scaling by a power of two only changes the
    exponent, so floor(u*n) >> 1 == floor(u*n/2), and the 0/n-1 clamps
    shift consistently; pinned by a rollup-vs-direct-assignment test). At
    production scale that is the difference between one corpus-wide
    shuffle and (z_max - z_min + 1) of them: the cascade's later shuffles
    move tile-count rows, bounded by 4^z, not points.
    """
    if z_min > z_max:
        raise ValueError("z_min must be <= z_max")
    base = (
        assign_tiles_points(points, z_max, lon_col, lat_col)
        .groupBy("tile_z", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"))
    )
    levels = [base]
    cur = base
    for z in range(z_max - 1, z_min - 1, -1):
        cur = (
            cur.select(
                F.lit(z).alias("tile_z"),
                F.shiftright("tile_x", 1).alias("tile_x"),
                F.shiftright("tile_y", 1).alias("tile_y"),
                "n_points",
            )
            .groupBy("tile_z", "tile_x", "tile_y")
            .agg(F.sum("n_points").alias("n_points"))
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def tile_cover_features(features: DataFrame, z: int,
                        id_cols=("doc_id", "feature_idx")) -> DataFrame:
    """features (with bbox struct) -> one row per covering tile at zoom z:
    ``geo.tiles.tile_cover_bbox`` in the JVM. The corner tiles are
    ``tile_xy_sql`` of ``(xmin, ymin)`` and ``(xmax, ymax)`` (Mercator
    ``y`` falls as latitude rises), then two ``sequence`` explodes span
    the rectangle. An inverted box covers no tile, as ``np.arange`` gives
    none (``sequence`` would count down)."""
    id_cols = list(id_cols)
    x0, y1 = tile_xy_sql("bbox.xmin", "bbox.ymin", z)
    x1, y0 = tile_xy_sql("bbox.xmax", "bbox.ymax", z)
    corners = features.filter(F.col("bbox").isNotNull()).select(
        *(F.col(c).cast("long").alias(c) for c in id_cols),
        *(F.expr(v).alias(k) for k, v in
          (("_x0", x0), ("_x1", x1), ("_y0", y0), ("_y1", y1))))
    return corners.filter("_x0 <= _x1 AND _y0 <= _y1").select(
        *id_cols, F.lit(z).cast("long").alias("tile_z"),
        F.explode(F.sequence("_x0", "_x1")).alias("tile_x"), "_y0", "_y1",
    ).select(*id_cols, "tile_z", "tile_x",
             F.explode(F.sequence("_y0", "_y1")).alias("tile_y"))


def bbox_cell_weights(
    boxes: DataFrame,
    cell_udeg: int = 10_000_000,
    max_cells: int = 4096,
    id_col: str = "id",
) -> DataFrame:
    """Area-weighted rasterization of bbox footprints (zonal coverage
    weights): each half-open micro-degree box ``[lon_min_u, lon_max_u) x
    [lat_min_u, lat_max_u)`` explodes into the lon/lat grid cells it
    touches with the EXACT integer overlap area per cell —
    ``(id, cx, cy, area_u2, box_area_u2)`` — the weight table that turns
    per-cell rasters into area-weighted zonal statistics (and back).

    All arithmetic is exact int64 (overlap widths are micro-degree
    integers; a full cell is (1e7)^2 = 1e14 << 2^63), pure whole-stage
    codegen: two bounded sequence explodes, zero UDFs/joins/shuffles.
    A box covering more than ``max_cells`` cells raises loudly (coarse
    grids belong to a coarser ``cell_udeg``, not a silent truncation).
    Degenerate (zero-width/height) boxes emit nothing.
    """
    c = int(cell_udeg)
    lon0, lat0 = F.col("lon_min_u"), F.col("lat_min_u")
    lon1, lat1 = F.col("lon_max_u"), F.col("lat_max_u")
    cx0 = F.floor(lon0 / F.lit(float(c))).cast("long")
    cx1 = F.floor((lon1 - 1) / F.lit(float(c))).cast("long")
    cy0 = F.floor(lat0 / F.lit(float(c))).cast("long")
    cy1 = F.floor((lat1 - 1) / F.lit(float(c))).cast("long")
    ncells = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
    guard = F.when(ncells <= F.lit(int(max_cells)), F.lit(True)).otherwise(
        F.raise_error(F.concat(
            F.lit("bbox_cell_weights: box covers > %d cells; raise "
                  "cell_udeg (id=" % int(max_cells)),
            F.col(id_col).cast("string"), F.lit(")"))))
    b = (
        boxes.filter((lon1 > lon0) & (lat1 > lat0))
        .filter(guard)  # filter, not withColumn: a projected-away guard
                        # column would be pruned and never evaluated
        .withColumn("cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("cy", F.explode(F.sequence(cy0, cy1)))
    )
    w = (F.least(lon1, (F.col("cx") + 1) * F.lit(c).cast("long"))
         - F.greatest(lon0, F.col("cx") * F.lit(c).cast("long")))
    h = (F.least(lat1, (F.col("cy") + 1) * F.lit(c).cast("long"))
         - F.greatest(lat0, F.col("cy") * F.lit(c).cast("long")))
    return b.select(
        id_col, "cx", "cy",
        (w * h).cast("long").alias("area_u2"),
        ((lon1 - lon0) * (lat1 - lat0)).cast("long").alias("box_area_u2"),
    )


def compact_cells(cells: DataFrame, z_max: int, z_min: int = 0
                  ) -> DataFrame:
    """Quadtree cell-set compaction — the H3 ``compact`` analog on the
    z/x/y grid: wherever all FOUR children of a parent cell are
    present, replace them by the parent, repeating up the pyramid, so
    a coverage set ships in its minimal mixed-resolution form (an
    order-of-magnitude smaller broadcast for dense regions; geofence /
    coverage sets are the consumers).  Input: DISTINCT ``(x, y)``
    occupied cells, all at level ``z_max``; output: ``(z, x, y)``
    rows, ``z_min <= z <= z_max``, whose implied coverage EQUALS the
    input's (the round-trip test expands every output cell back to
    z_max and compares sets).

    Determinism: pure set algebra — no ordering anywhere.

    Scale shape: ``z_max - z_min`` bounded rounds; per round ONE
    map-side-combined parent aggregate (count == 4 detects full
    parents — children are distinct by contract) and ONE hash
    anti-join keeping the non-promoted cells; the working set SHRINKS
    monotonically (promoted cells leave, parents are 4x fewer).
    Emissions union lazily.
    """
    if not (0 <= z_min <= z_max):
        raise ValueError("need 0 <= z_min <= z_max")
    cur = cells.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    ).distinct()
    kept = []
    for z in range(z_max, z_min, -1):
        parents = (
            cur.groupBy(
                F.expr("div(x, 2)").alias("px"),
                F.expr("div(y, 2)").alias("py"))
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") == 4)
            .select("px", "py")
        )
        keep = (
            cur.join(
                parents.select(F.col("px").alias("_px"),
                               F.col("py").alias("_py")),
                on=[F.expr("div(x, 2)") == F.col("_px"),
                    F.expr("div(y, 2)") == F.col("_py")],
                how="left_anti")
            .select(F.lit(z).cast("int").alias("z"), "x", "y")
        )
        kept.append(keep)
        cur = parents.select(F.col("px").alias("x"),
                             F.col("py").alias("y"))
    out = cur.select(F.lit(z_min).cast("int").alias("z"), "x", "y")
    for k in kept:
        out = out.unionByName(k)
    return out


def uncompact_cells(cells: DataFrame, z_target: int) -> DataFrame:
    """Expand a mixed-resolution ``(z, x, y)`` cell set (the
    :func:`compact_cells` output) back to a uniform level — the
    query-side inverse every consumer of a compacted cover needs
    before an equi-join against level-``z_target`` data.  Each cell at
    level ``z <= z_target`` explodes into its ``4^(z_target - z)``
    descendants; output ``(x, y)`` distinct at ``z_target``.

    Scale shape: one bounded explode per row (the fan-out is the
    coverage being materialized — exactly the rows a join consumer
    must see) + one distinct.  ``compact_cells`` then
    ``uncompact_cells`` is the identity on any level-``z_target`` cell
    set; the contract query's oracle is the ORIGINAL set, so the gate
    hash proves the round trip end to end.
    """
    if z_target < 0:
        raise ValueError("need z_target >= 0")
    f = F.expr("shiftleft(1L, %d - z)" % int(z_target))
    # a cell FINER than the target is a contract violation (lossy to
    # coarsen) — guarded with a lazy raise_error, the geofence pattern
    guarded = cells.select(
        F.when(F.col("z") <= int(z_target), F.col("z"))
        .otherwise(F.expr(
            "raise_error('uncompact_cells: cell finer than z_target')"))
        .alias("z"),
        "x", "y",
    )
    return (
        guarded.select(
            f.cast("long").alias("_f"), "x", "y")
        .select(
            F.explode(F.sequence(F.lit(0),
                                 F.col("_f") * F.col("_f") - 1))
            .alias("_i"),
            "_f", "x", "y")
        .select(
            (F.col("x") * F.col("_f")
             + F.expr("div(_i, _f)")).cast("long").alias("x"),
            (F.col("y") * F.col("_f")
             + F.expr("pmod(_i, _f)")).cast("long").alias("y"),
        )
        .distinct()
    )
