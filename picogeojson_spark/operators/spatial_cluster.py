"""Grid-based DBSCAN spatial clustering (density clusters over a point
table, cell-granular).

The classic DBSCAN neighborhood query is an all-pairs radius join — a
non-starter at 100 TB. The standard distributed relaxation (grid DBSCAN,
the cell-level variant of Dai & Lin's MR-DBSCAN partitioning) evaluates
density at eps-cell granularity:

1. snap every point to an eps-sized grid cell (pure integer expressions,
   rides the scan);
2. ONE groupBy(cell) produces occupied-cell counts — the only corpus-sized
   shuffle in the operator;
3. cells with >= min_pts points are CORE cells; a cluster is a connected
   component of core cells under 8-neighborhood adjacency. Adjacency is an
   8-offset explode + self EQUI-join on the packed cell key (never a theta
   join), and the components run on the *cell* graph — orders of magnitude
   smaller than the point table — via the same O(log n) large-star /
   small-star rounds as ``dedup.duplicate_clusters``;
4. points in core cells take their cell's component id; points in
   non-core cells adjacent (8-neighborhood) to a core cell are BORDER
   points and take the minimum neighboring cluster id; everything else is
   noise (cluster_id = -1).

All arithmetic is integer micro-degrees, so the contract is deterministic
and the DuckDB oracle replays it bit-for-bit (component ids = min packed
cell key, via a recursive-CTE closure — same proof shape as
``dedup_clusters``).

Determinism note: truncating vs flooring division differs between engines
for negatives (repo rule), so cell coordinates use ``floor(x / eps)`` on
doubles — exact here because |lon_u| <= 1.8e8 is far inside 2^53 and the
quotient is never within 2e-6 of a non-attained integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.cells import cell_xy_sql
from ._util import attach_scalar

from .dedup import duplicate_clusters

# packed key = (cx + _B) * 2 * _B + (cy + _B); |cx|,|cy| < _B asserted by
# the eps lower bound below (eps >= 200 udeg -> |cx| <= 900_000 < 2^20).
_B = 1 << 20

_NEIGHBOR_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                     if not (dx == 0 and dy == 0)]


def _cell_cols(lon, lat, eps_udeg: int):
    lon_u = F.floor(lon * 1e6).cast("long")
    lat_u = F.floor(lat * 1e6).cast("long")
    cx = F.floor(lon_u / F.lit(float(eps_udeg))).cast("long")
    cy = F.floor(lat_u / F.lit(float(eps_udeg))).cast("long")
    return cx, cy


def _pack(cx, cy):
    return (cx + F.lit(_B)) * F.lit(2 * _B) + (cy + F.lit(_B))


def cell_histogram(
    points: DataFrame,
    cell_udeg: int = 2_000_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Occupied-cell point counts ``(cx, cy, cnt)`` — the one corpus-sized
    shuffle shared by the heatmap and its streaming twin (a plain hash
    aggregate, so it runs unchanged as a complete-mode streaming query)."""
    if cell_udeg < 200:
        raise ValueError("cell_udeg must be >= 200 (cell key packing bound)")
    cx, cy = _cell_cols(F.col(lon_col), F.col(lat_col), cell_udeg)
    return (
        points.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def smooth_cell_histogram(cells: DataFrame) -> DataFrame:
    """3x3 box smoothing over an occupied-cell histogram ``(cx, cy,
    cnt)`` -> ``(cx, cy, cnt, smoothed)``; shuffle volume 9x the occupied-
    cell count, independent of the point count. Batch-foldable on a
    streaming sink (multi-aggregation limits keep it out of the stream
    itself — the stream_hll fold-on-sink pattern)."""
    cells = cells.withColumn("k", _pack(F.col("cx"), F.col("cy")))
    return _smooth_packed(cells)


def grid_heatmap(
    points: DataFrame,
    cell_udeg: int = 2_000_000,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Spatial heatmap: per-cell point counts plus the 3x3
    box-smoothed density (the classic hotspot / KDE-lite raster) -> one
    row per OCCUPIED cell: ``(cx, cy, cnt, smoothed)`` where ``smoothed``
    sums the counts of the cell and its 8 neighbors.

    Scale shape: ONE corpus-sized shuffle (the cell histogram); smoothing
    is a 9-offset explode of the *cell* table re-aggregated on the packed
    target key — shuffle volume 9x the occupied-cell count, independent of
    the point count. Never a theta join.
    """
    return smooth_cell_histogram(
        cell_histogram(points, cell_udeg, lon_col, lat_col))


def _smooth_packed(cells: DataFrame) -> DataFrame:
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    contrib = (
        cells.select("cnt", F.explode(offs).alias("o"), "cx", "cy")
        .select(
            _pack(F.col("cx") + F.col("o.dx"),
                  F.col("cy") + F.col("o.dy")).alias("k"),
            F.col("cnt"),
        )
        .groupBy("k")
        .agg(F.sum("cnt").alias("smoothed"))
    )
    return (
        cells.join(contrib, on="k", how="inner")
        .select("cx", "cy", F.col("cnt").cast("long").alias("cnt"),
                F.col("smoothed").cast("long").alias("smoothed"))
    )


def grid_dbscan(
    points: DataFrame,
    eps_udeg: int = 500_000,
    min_pts: int = 2,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Cluster a point table -> one row per point:
    ``(point_id, cluster_id, role)`` with ``cluster_id`` the minimum
    packed cell key of the point's component (-1 for noise) and ``role``
    in {'core', 'border', 'noise'}.

    ``eps_udeg`` is the grid pitch in integer micro-degrees (>= 200).
    """
    if eps_udeg < 200:
        raise ValueError("eps_udeg must be >= 200 (cell key packing bound)")

    cx, cy = _cell_cols(F.col(lon_col), F.col(lat_col), eps_udeg)
    pts = points.select(
        F.col(id_col).alias("point_id"),
        cx.alias("cx"), cy.alias("cy"), _pack(cx, cy).alias("k"),
    )

    # the ONLY corpus-sized shuffle: occupied-cell histogram.
    cells = pts.groupBy("cx", "cy", "k").agg(F.count("*").alias("cnt"))
    core = cells.filter(F.col("cnt") >= F.lit(int(min_pts))).select(
        "cx", "cy", "k")

    # 8-neighbor adjacency between CORE cells: bounded explode + equi-join
    # on the packed neighbor key (core-cell table is tiny next to points,
    # so AQE broadcasts it).
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in _NEIGHBOR_OFFSETS
    ])
    nbr = (
        core.select(
            F.col("k").alias("u"),
            F.explode(offs).alias("o"),
            F.col("cx"), F.col("cy"),
        )
        .select(
            "u",
            _pack(F.col("cx") + F.col("o.dx"),
                  F.col("cy") + F.col("o.dy")).alias("v"),
        )
    )
    edges = (
        nbr.join(core.select(F.col("k").alias("v")), on="v", how="inner")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
    )

    # components of the CELL graph (not the point graph) — O(log n)
    # star rounds; isolated core cells stay their own cluster.
    comp = duplicate_clusters(edges, src="u", dst="v").select(
        F.col("doc_id").alias("k"), F.col("rep_id").alias("cluster_id"))
    core_clusters = (
        core.join(comp, on="k", how="left")
        .select("k", "cx", "cy",
                F.coalesce("cluster_id", "k").alias("cluster_id"))
    )

    # border resolution: for every occupied NON-core cell, the minimum
    # cluster id among its 8 core neighbors (if any) — again a bounded
    # explode + equi-join on the cell table only.
    non_core = cells.join(
        core_clusters.select("k"), on="k", how="left_anti")
    border_map = (
        non_core.select(
            F.col("k"), F.explode(offs).alias("o"),
            F.col("cx"), F.col("cy"),
        )
        .select(
            "k",
            _pack(F.col("cx") + F.col("o.dx"),
                  F.col("cy") + F.col("o.dy")).alias("nk"),
        )
        .join(
            core_clusters.select(F.col("k").alias("nk"), "cluster_id"),
            on="nk", how="inner",
        )
        .groupBy("k")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    cell_roles = (
        core_clusters.select("k", "cluster_id", F.lit("core").alias("role"))
        .unionByName(
            border_map.select("k", "cluster_id",
                              F.lit("border").alias("role")))
    )
    return (
        pts.join(cell_roles, on="k", how="left")
        .select(
            "point_id",
            F.coalesce("cluster_id", F.lit(-1)).cast("long")
            .alias("cluster_id"),
            F.coalesce("role", F.lit("noise")).alias("role"),
        )
    )


def adaptive_quadbin(
    points: DataFrame,
    cap: int = 1000,
    max_level: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Density-adaptive quadtree binning: split the world until every
    bin holds <= ``cap`` points or ``max_level`` is reached -> one row
    per LEAF bin ``(level, x, y, n_points)``.

    This is the write-path partitioner for skewed spatial data: uniform
    grids put Manhattan and the Pacific in same-sized cells; the adaptive
    tree gives every output partition comparable row counts, which is
    what bounds task skew in a spatial shuffle or file layout.

    Exact leaf rule (a pure function of the point multiset): a point's
    leaf is its ancestor cell at the SMALLEST level whose count <= cap
    (else its max_level cell). Points sharing a level-L cell share all
    coarser ancestors, so the rule induces a consistent non-overlapping
    cover.

    Scale shape: ONE corpus-sized shuffle (the finest-level histogram);
    coarser counts cascade by integer-halving the cell coords (exact —
    multiplication by powers of two only shifts the exponent, the
    tile_pyramid identity), the leaf decision is a when-chain over
    max_level+1 joined histogram columns (every table cell-sized), and
    the output is leaf-sized. The grid is geo/cells' (nx = 2^(L+1),
    ny = 2^L), with the floors left unclamped (``cell_xy_sql(...,
    clamp=False)``).
    """
    if not 0 <= max_level <= 20:
        raise ValueError("max_level must be in [0, 20]")
    fx, fy = (F.expr(v) for v in cell_xy_sql(lon_col, lat_col, max_level,
                                             clamp=False))
    finest = (
        points.select(fx.alias("x"), fy.alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # cascade coarser histograms (tiny tables, no corpus re-scan)
    hists = {max_level: finest}
    for lv in range(max_level - 1, -1, -1):
        hists[lv] = (
            hists[lv + 1]
            .select((F.col("x") / 2).cast("long").alias("x"),
                    (F.col("y") / 2).cast("long").alias("y"), "cnt")
            .groupBy("x", "y")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    # annotate every finest cell with its ancestors' counts
    f = finest
    for lv in range(0, max_level):
        shift = max_level - lv
        h = hists[lv].select(
            F.col("x").alias("ax"), F.col("y").alias("ay"),
            F.col("cnt").alias("c{}".format(lv)))
        f = f.join(
            h,
            (F.expr("x div {}".format(1 << shift)) == F.col("ax"))
            & (F.expr("y div {}".format(1 << shift)) == F.col("ay")),
        ).drop("ax", "ay")
    leaf = F.lit(max_level)
    for lv in range(max_level - 1, -1, -1):
        leaf = F.when(F.col("c{}".format(lv)) <= F.lit(int(cap)),
                      F.lit(lv)).otherwise(leaf)
    f = f.withColumn("leaf", leaf.cast("int"))
    return (
        f.select(
            "leaf",
            F.expr("x div shiftleft(1L, {} - leaf)".format(max_level))
            .alias("lx"),
            F.expr("y div shiftleft(1L, {} - leaf)".format(max_level))
            .alias("ly"),
            "cnt",
        )
        .groupBy(F.col("leaf").alias("level"), F.col("lx").alias("x"),
                 F.col("ly").alias("y"))
        .agg(F.sum("cnt").cast("long").alias("n_points"))
    )


def local_moran(
    points: DataFrame,
    cell_udeg: int = 2_000_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Local spatial autocorrelation (LISA / local Moran's I numerators)
    over the occupied-cell raster, queen (8-neighbor) binary weights.

    Exact integer contract: with N = occupied cells and S = total points,
    ``dev_n = N*cnt - S`` is exactly N*(cnt - mean) — the mean never
    becomes a float, so both engines compute identical integers.  Per
    cell: ``n_nbrs`` (occupied neighbors), ``lag`` (sum of neighbor
    dev_n), ``local = dev_n * lag`` (the LISA hotspot statistic, positive
    = value like its neighbors, negative = spatial outlier).

    Scale shape: ONE corpus-sized shuffle (the cell histogram).  The
    (N, S) globals are a 1-row aggregate attached by broadcast
    nested-loop (the bm25 scalar shape, allowlisted); adjacency is an
    8-offset explode of the CELL table re-aggregated on the packed
    target key — shuffle volume 8x the occupied-cell count, independent
    of the point count.  Never a theta join.
    """
    cells = cell_histogram(points, cell_udeg, lon_col, lat_col) \
        .withColumn("k", _pack(F.col("cx"), F.col("cy")))
    g = cells.agg(F.count("*").cast("long").alias("n_cells"),
                  F.sum("cnt").cast("long").alias("total_pts"))
    d = attach_scalar(cells, g).withColumn(
        "dev_n",
        (F.col("n_cells") * F.col("cnt") - F.col("total_pts"))
        .cast("long"))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in _NEIGHBOR_OFFSETS
    ])
    contrib = (
        d.select("dev_n", F.explode(offs).alias("o"), "cx", "cy")
        .select(_pack(F.col("cx") + F.col("o.dx"),
                      F.col("cy") + F.col("o.dy")).alias("k"), "dev_n")
        .groupBy("k")
        .agg(F.sum("dev_n").cast("long").alias("lag"),
             F.count("*").cast("long").alias("n_nbrs"))
    )
    return (
        d.join(contrib, on="k", how="left")
        .select(
            "cx", "cy", F.col("cnt").cast("long").alias("cnt"),
            F.coalesce(F.col("n_nbrs"), F.lit(0)).cast("long")
            .alias("n_nbrs"),
            "dev_n",
            F.coalesce(F.col("lag"), F.lit(0)).cast("long").alias("lag"),
            (F.col("dev_n") * F.coalesce(F.col("lag"), F.lit(0)))
            .cast("long").alias("local"),
        )
    )


def moran_summary(
    points: DataFrame,
    cell_udeg: int = 2_000_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Global Moran's I building blocks as ONE exact-integer row:
    ``(n_cells, total_pts, w_pairs, num, den)`` where
    I = (n_cells / w_pairs) * num / den (the N-scaling of dev_n cancels).
    Emitting the exact integers instead of the float ratio keeps the
    contract engine-exact; the division is a trivial post-step."""
    loc = local_moran(points, cell_udeg, lon_col, lat_col)
    return loc.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("cnt").cast("long").alias("total_pts"),
        F.sum("n_nbrs").cast("long").alias("w_pairs"),
        F.sum("local").cast("long").alias("num"),
        F.sum(F.col("dev_n") * F.col("dev_n")).cast("long").alias("den"),
    )


_KM_LAT_SHIFT = 90_000_000
_KM_LON_SHIFT = 180_000_000


def kmeans_points(
    points: DataFrame,
    seeds,
    rounds: int = 4,
    lat_col: str = "lat_u",
    lon_col: str = "lon_u",
) -> DataFrame:
    """Deterministic integer Lloyd's k-means over a micro-degree point
    table — the mllib-KMeans shape re-derived under the engine's
    exactness contract so a SQL oracle can replay every round.

    Determinism: distances are EXACT int64 squared planar micro-degrees
    (coords shift to non-negative space first, so the centroid update's
    ``sum // n`` floor-division agrees between Spark's truncating ``div``
    and DuckDB's flooring ``//``); ties in assignment break to the
    smaller centroid id via lexicographic (dist, cid) struct-min; empty
    clusters keep their previous centroid.  Floats appear only inside
    ``floor(sqrt(int))`` for the reported inertia (correctly-rounded IEEE
    — the trajectory_measures rule).

    Scale shape per round: the k centroids are collected to the driver
    (k rows — the bounded-collect pattern of ann_index/bpe; exactly what
    mllib broadcasts) and embedded as LITERALS, so assignment is pure
    whole-stage codegen with NO join and the update is ONE map-side-
    combined aggregate over k groups.  The projected point table persists
    once; total work is O(rounds * n * k) with zero per-round shuffles
    beyond the k-group aggregate.

    Output (k rows): ``cid, c_lat_u, c_lon_u, n_points, inertia_u``
    (final-round centroids; counts and summed floor(sqrt(d)) under the
    final assignment).
    """
    k = len(seeds)
    if k < 1 or rounds < 1:
        raise ValueError("need >= 1 seed and >= 1 round")
    pts = points.select(
        (F.col(lat_col) + F.lit(_KM_LAT_SHIFT)).cast("long").alias("lat_s"),
        (F.col(lon_col) + F.lit(_KM_LON_SHIFT)).cast("long").alias("lon_s"),
    ).persist()
    try:
        cur = [(int(a) + _KM_LAT_SHIFT, int(o) + _KM_LON_SHIFT)
               for a, o in seeds]

        def assign(cents):
            structs = []
            for j, (clat, clon) in enumerate(cents):
                dy = F.col("lat_s") - F.lit(clat)
                dx = F.col("lon_s") - F.lit(clon)
                structs.append(F.struct(
                    (dy * dy + dx * dx).alias("d"),
                    F.lit(j).alias("cid")))
            return F.array_min(F.array(*structs))

        for _ in range(rounds):
            got = {
                r.cid: r
                for r in pts.groupBy(
                    assign(cur)["cid"].alias("cid"))
                .agg(F.count("*").alias("n"),
                     F.sum("lat_s").alias("sa"),
                     F.sum("lon_s").alias("so"))
                .collect()
            }
            cur = [
                (int(got[j].sa) // int(got[j].n),
                 int(got[j].so) // int(got[j].n)) if j in got else cur[j]
                for j in range(k)
            ]

        m = assign(cur)
        final = (
            pts.select(m["cid"].alias("cid"),
                       F.floor(F.sqrt(m["d"].cast("double")))
                       .cast("long").alias("dist_u"))
            .groupBy("cid")
            .agg(F.count("*").cast("long").alias("n_points"),
                 F.sum("dist_u").cast("long").alias("inertia_u"))
        )
        cents = points.sparkSession.createDataFrame(
            [(j, cur[j][0] - _KM_LAT_SHIFT, cur[j][1] - _KM_LON_SHIFT)
             for j in range(k)],
            "cid int, c_lat_u long, c_lon_u long")
        out = (
            cents.join(final, on="cid", how="left")
            .select("cid", "c_lat_u", "c_lon_u",
                    F.coalesce("n_points", F.lit(0)).cast("long")
                    .alias("n_points"),
                    F.coalesce("inertia_u", F.lit(0)).cast("long")
                    .alias("inertia_u"))
        )
        # materialize before unpersist so the cached points back the agg
        out = out.localCheckpoint(eager=True)
    finally:
        pts.unpersist()
    return out


def gi_star(
    points: DataFrame,
    cell_udeg: int = 2_000_000,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Getis-Ord Gi* hotspot numerators over the occupied-cell raster —
    the COMPLEMENT of :func:`local_moran`: LISA asks "is this cell LIKE
    its neighbors" (similarity/outlier), Gi* asks "is this neighborhood's
    TOTAL unusually high/low" (hot/cold spot), and includes the cell
    itself in its own neighborhood (the * variant).

    Exact integer contract: with N = occupied cells, S = total points,
    ``w`` = occupied cells in the 3x3 block (self included, so >= 1) and
    ``block`` = their point total, the statistic numerator N-scaled is
    ``gi_num_n = N * block - w * S`` — exactly N*(block - w*mean).
    ``hot = sign(gi_num_n)``.  The Gi* z-denominator is sqrt-based but
    strictly monotone in nothing the ranking needs WITHIN a fixed ``w``
    class (all-interior rasters share w=9), so the exact numerator +
    ``w`` carry the full decision content without a float ever existing
    (the geo_lisa precedent).

    Scale shape: identical to local_moran — ONE corpus shuffle (cell
    histogram), 1-row global scalar, 9-offset explode of the CELL table
    re-aggregated on the packed key; shuffle volume 9x occupied cells,
    independent of the point count.
    """
    cells = cell_histogram(points, cell_udeg, lon_col, lat_col) \
        .withColumn("k", _pack(F.col("cx"), F.col("cy")))
    g = cells.agg(F.count("*").cast("long").alias("n_cells"),
                  F.sum("cnt").cast("long").alias("total_pts"))
    offs = F.array(*(
        [F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
         for dx, dy in _NEIGHBOR_OFFSETS]
        + [F.struct(F.lit(0).alias("dx"), F.lit(0).alias("dy"))]
    ))
    contrib = (
        cells.select("cnt", F.explode(offs).alias("o"), "cx", "cy")
        .select(_pack(F.col("cx") + F.col("o.dx"),
                      F.col("cy") + F.col("o.dy")).alias("k"), "cnt")
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("block"),
             F.count("*").cast("long").alias("w"))
    )
    d = attach_scalar(cells.join(contrib, on="k"), g)
    return d.select(
        "cx", "cy", F.col("cnt").cast("long").alias("cnt"),
        "w", "block",
        (F.col("n_cells") * F.col("block") - F.col("w")
         * F.col("total_pts")).cast("long").alias("gi_num_n"),
        F.signum(F.col("n_cells") * F.col("block")
                 - F.col("w") * F.col("total_pts"))
        .cast("int").alias("hot"),
    )


def centroid_silhouette(
    points: DataFrame,
    centroids,
    lat_col: str = "lat_u",
    lon_col: str = "lon_u",
) -> DataFrame:
    """Simplified silhouette (Hruschka's centroid variant) for a GIVEN
    centroid model — the cluster-quality read after kmeans_points: per
    point, ``a`` = distance to its (nearest) centroid, ``b`` = distance
    to the second-nearest, ``s = (b - a) / max(a, b)`` in exact ppm
    (``b >= a`` by construction, so s is in [0, 1e6]; a point ON its
    centroid with ``b > 0`` scores 1e6; the degenerate ``a = b = 0``
    scores 0 by convention).  Distances are ``floor(sqrt(int64))``
    micro-degrees (the kmeans_points inertia rule — correctly-rounded
    IEEE sqrt of an exact integer).  Assignment ties break to the
    smaller centroid id via the encoded ``(dist, cid)`` min, matching
    kmeans_points.  Output, one row per cluster id:
    ``(cid, n_points, mean_s_ppm, min_s_ppm, max_s_ppm)``.

    Scale shape: the k centroids are LITERALS (the mllib broadcast
    shape — kmeans_points' bounded-collect output feeds straight in),
    so the whole per-point computation is whole-stage codegen over a
    k-literal array with NO join; the rollup is ONE map-side-combined
    k-group aggregate.
    """
    k = len(centroids)
    if k < 2:
        raise ValueError("a silhouette needs >= 2 centroids")
    if k > 64:
        raise ValueError("centroid list is a broadcast literal; k > 64 "
                         "suggests a join-based variant instead")
    d_exprs = []
    enc_exprs = []
    for cid, (clat, clon) in enumerate(centroids):
        d = ("cast(floor(sqrt(cast(({la} - {cla}) * ({la} - {cla})"
             " + ({lo} - {clo}) * ({lo} - {clo}) as double))) as bigint)"
             ).format(la=lat_col, lo=lon_col, cla=int(clat), clo=int(clon))
        d_exprs.append(d)
        enc_exprs.append("({d}) * {k} + {cid}".format(d=d, k=k, cid=cid))
    ds = "array_sort(array({}))".format(", ".join(d_exprs))
    enc = "array_min(array({}))".format(", ".join(enc_exprs))
    per_point = points.select(
        F.expr("cast(pmod({e}, {k}) as int)".format(e=enc, k=k))
        .alias("cid"),
        F.expr("element_at({ds}, 1)".format(ds=ds)).alias("_a"),
        F.expr("element_at({ds}, 2)".format(ds=ds)).alias("_b"),
    ).select(
        "cid",
        F.expr("CASE WHEN greatest(_a, _b) > 0 THEN"
               " div((_b - _a) * 1000000L, greatest(_a, _b))"
               " ELSE 0L END").alias("_s"),
    )
    return per_point.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_points"),
        F.expr("cast(div(sum(_s), count(*)) as bigint)")
        .alias("mean_s_ppm"),
        F.min("_s").cast("long").alias("min_s_ppm"),
        F.max("_s").cast("long").alias("max_s_ppm"),
    )
