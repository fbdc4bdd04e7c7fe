"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface over the driver-provided
testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent for each.  Both
read one registry, filled by one ``_register(name, fn, oracle, ...)`` call
per query placed after the query's definition.

Geometry inputs are *derived deterministically* from the TPC-H-ish keys with
exact-in-double arithmetic (integers and quarter-degree offsets), so the SQL
oracle reproduces the same doubles bit-for-bit and results hash-match.

Numeric-determinism rules used throughout:

- derived lon/lat are ``k*0.5 + 0.25`` style values — exact doubles in both
  engines; points never sit on cell/grid boundaries;
- money aggregates are computed in integer cents (exact, order-independent)
  rather than floating sums;
- kNN distances are emitted as ``dist2 * 16`` (an exact integer for
  quarter-step coordinates).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import sys as _sys
import os as _os

_sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))


_SHIPPED_SESSIONS = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Make picogeojson_spark importable on executors regardless of the
    driver's cwd (the harness owns the SparkSession)."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    try:
        from picogeojson_spark.session import ensure_shipped

        ensure_shipped(spark)
    except Exception:  # noqa: BLE001 - best-effort; repo-cwd runs work anyway
        pass
    _SHIPPED_SESSIONS.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet("{}/{}.parquet".format(sf_dir, name))

def _ntz_epoch_us(col):
    """Epoch microseconds of an NTZ wall time interpreted as UTC — PURE NTZ
    arithmetic (timestampdiff between NTZ literals), so the value cannot
    depend on spark.sql.session.timeZone. (`to_utc_timestamp(ntz, 'UTC')`
    looks equivalent but implicitly casts NTZ->LTZ through the SESSION zone
    first — a half-hour-offset session shifted every derived integer; caught
    by the GATE_TZ=Asia/Kolkata robustness run.)"""
    return F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})".format(col)
    )



# --------------------------------------------------------------------------
# derived deterministic geometry inputs (same arithmetic in the SQL oracle)
# --------------------------------------------------------------------------

def _points_from_customer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * 37) % 720).cast("double") / 2 - 180 + 0.25).alias("lon"),
        (((F.col("c_custkey") * 61) % 360).cast("double") / 2 - 90 + 0.25).alias("lat"),
    )


_POINTS_SQL = (
    "SELECT c_custkey AS point_id, "
    "CAST((c_custkey * 37) % 720 AS DOUBLE) / 2 - 180 + 0.25 AS lon, "
    "CAST((c_custkey * 61) % 360 AS DOUBLE) / 2 - 90 + 0.25 AS lat FROM customer"
)


def _cand_points_from_supplier(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("neighbor_id"),
        (((F.col("s_suppkey") * 53) % 720).cast("double") / 2 - 180 + 0.25).alias("lon"),
        (((F.col("s_suppkey") * 29) % 360).cast("double") / 2 - 90 + 0.25).alias("lat"),
    )


_CANDS_SQL = (
    "SELECT s_suppkey AS neighbor_id, "
    "CAST((s_suppkey * 53) % 720 AS DOUBLE) / 2 - 180 + 0.25 AS lon, "
    "CAST((s_suppkey * 29) % 360 AS DOUBLE) / 2 - 90 + 0.25 AS lat FROM supplier"
)


def _grid_polygons(spark, n_x=36, n_y=18, size=10.0):
    """648 grid polygons tiling the world, as real GeoJSON strings."""
    rows = []
    for pid in range(n_x * n_y):
        px, py = pid % n_x, pid // n_x
        x0, y0 = px * size - 180.0, py * size - 90.0
        rows.append(
            (
                pid,
                json.dumps(
                    {
                        "type": "Polygon",
                        "coordinates": [
                            [
                                [x0, y0],
                                [x0 + size, y0],
                                [x0 + size, y0 + size],
                                [x0, y0 + size],
                                [x0, y0],
                            ]
                        ],
                    }
                ),
            )
        )
    return spark.createDataFrame(rows, "poly_id long, geometry_json string")


def _hole_polygons(spark):
    """16 big polygons, each with a centered hole (grid-aligned => SQL truth)."""
    rows = []
    pid = 0
    for gx in range(-2, 2):
        for gy in range(-2, 2):
            x0, y0 = gx * 40.0, gy * 40.0
            rows.append(
                (
                    pid,
                    json.dumps(
                        {
                            "type": "Polygon",
                            "coordinates": [
                                [[x0, y0], [x0 + 30, y0], [x0 + 30, y0 + 30],
                                 [x0, y0 + 30], [x0, y0]],
                                [[x0 + 10, y0 + 10], [x0 + 20, y0 + 10],
                                 [x0 + 20, y0 + 20], [x0 + 10, y0 + 20],
                                 [x0 + 10, y0 + 10]],
                            ],
                        }
                    ),
                )
            )
            pid += 1
    return spark.createDataFrame(rows, "poly_id long, geometry_json string")


# --------------------------------------------------------------------------
# relational queries (engine breadth: scan/filter/agg/join/window/sort/limit)
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style rollup in exact integer cents (order-independent)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc)).alias("sum_disc_cents"),
            F.sum(cents * (100 - disc) * (100 + tax)).alias("sum_charge_cents"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_cents,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS sum_disc_cents,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
           * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT)
         AS sum_charge_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """Multi-join star query; small dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(cents * (100 - disc)).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q_REVENUE_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_top_parts_per_brand(spark, sf_dir):
    """Window function: top-3 parts by retail price within each brand."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("price_cents").desc(), F.col("p_partkey").asc()
    )
    return (
        p.select("p_brand", "p_partkey", cents.alias("price_cents"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("p_brand", "rnk")
    )


Q_TOP_PARTS_SQL = """
SELECT p_brand, p_partkey, price_cents, CAST(rnk AS INTEGER) AS rnk FROM (
  SELECT p_brand, p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY CAST(round(p_retailprice * 100) AS BIGINT) DESC,
                                     p_partkey ASC) AS rnk
  FROM part) t
WHERE rnk <= 3 ORDER BY p_brand, rnk
"""


def q_events_hourly(spark, sf_dir):
    """Time-bucketed event rollup (streaming-shaped agg run as batch)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("value_milli"),
        )
        .orderBy("hour", "event_type")
    )


Q_EVENTS_SQL = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# --------------------------------------------------------------------------
# geometry kernel queries (SQL truth via identical arithmetic)
# --------------------------------------------------------------------------

def q_geo_parse_normalize(spark, sf_dir):
    """Build CW, unclosed polygon rings from customer keys; the kernel must
    close and counter-clockwise them (reference types.py:30-36 semantics).
    Output is pure arithmetic of the input, so SQL predicts it exactly."""
    from picogeojson_spark.functions.geo_udfs import parse_normalize_udf

    c = _t(spark, sf_dir, "customer")
    x0 = ((F.col("c_custkey") * 13) % 300).cast("double") / 2 - 90 + 0.25
    y0 = ((F.col("c_custkey") * 17) % 200).cast("double") / 2 - 60 + 0.25
    gj = F.concat(
        F.lit('{"type": "Polygon", "coordinates": [[['),
        x0.cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("], ["),
        x0.cast("string"), F.lit(", "), (y0 + 3.5).cast("string"),
        F.lit("], ["),
        (x0 + 5.5).cast("string"), F.lit(", "), (y0 + 3.5).cast("string"),
        F.lit("], ["),
        (x0 + 5.5).cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("]]]}"),
    )
    parsed = parse_normalize_udf()
    return (
        c.select(F.col("c_custkey").alias("id"), parsed(gj).alias("p"))
        .select(
            "id", F.col("p.geom_type").alias("geom_type"),
            F.col("p.second_x").alias("second_x"),
            F.col("p.second_y").alias("second_y"),
            F.col("p.xmin").alias("xmin"), F.col("p.ymin").alias("ymin"),
            F.col("p.xmax").alias("xmax"), F.col("p.ymax").alias("ymax"),
            F.col("p.n_vertices").alias("n_vertices"),
        )
        .orderBy("id")
    )


Q_GEO_PARSE_SQL = """
SELECT c_custkey AS id, 'Polygon' AS geom_type,
       x0 + 5.5 AS second_x,    -- CW input reversed to CCW: second vertex
       y0 AS second_y,
       x0 AS xmin, y0 AS ymin, x0 + 5.5 AS xmax, y0 + 3.5 AS ymax,
       5 AS n_vertices          -- unclosed 4-ring auto-closed to 5
FROM (
  SELECT c_custkey,
         CAST((c_custkey * 13) % 300 AS DOUBLE) / 2 - 90 + 0.25 AS x0,
         CAST((c_custkey * 17) % 200 AS DOUBLE) / 2 - 60 + 0.25 AS y0
  FROM customer) t
ORDER BY id
"""


def q_geo_dateline_split(spark, sf_dir):
    """Dateline-crossing LineStrings: the kernel must split into 2 parts with
    the distance-weighted, 8-dp-rounded crossing latitude
    (reference antimeridian.py:13-17)."""
    from picogeojson_spark.functions.geo_udfs import dateline_cut_udf

    s = _t(spark, sf_dir, "supplier")
    lon0 = 170 + ((F.col("s_suppkey") * 3) % 18).cast("double") / 2 + 0.25
    lon1 = -180 + ((F.col("s_suppkey") * 5) % 8).cast("double") / 2 + 0.25
    y0 = ((F.col("s_suppkey") * 7) % 160).cast("double") / 2 - 40 + 0.25
    y1 = y0 + 3.5
    gj = F.concat(
        F.lit('{"type": "LineString", "coordinates": [['),
        lon0.cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("], ["),
        lon1.cast("string"), F.lit(", "), y1.cast("string"),
        F.lit("]]}"),
    )
    cut = dateline_cut_udf()
    return (
        s.select(F.col("s_suppkey").alias("id"), cut(gj).alias("c"))
        .select(
            "id", F.col("c.out_type").alias("out_type"),
            F.col("c.n_parts").alias("n_parts"),
            F.col("c.cross_lat").alias("cross_lat"),
        )
        .orderBy("id")
    )


Q_GEO_DATELINE_SQL = """
SELECT id, 'MultiLineString' AS out_type, 2 AS n_parts,
       round((d0 * y0 + d1 * y1) / (d0 + d1), 8) AS cross_lat
FROM (
  SELECT s_suppkey AS id,
         abs((170 + CAST((s_suppkey * 3) % 18 AS DOUBLE) / 2 + 0.25 + 360) % 360 - 180) AS d0,
         abs((-180 + CAST((s_suppkey * 5) % 8 AS DOUBLE) / 2 + 0.25 + 360) % 360 - 180) AS d1,
         CAST((s_suppkey * 7) % 160 AS DOUBLE) / 2 - 40 + 0.25 AS y0,
         CAST((s_suppkey * 7) % 160 AS DOUBLE) / 2 - 40 + 0.25 + 3.5 AS y1
  FROM supplier) t
ORDER BY id
"""


def q_geo_pip_grid(spark, sf_dir):
    """Full engine PIP join (cell cover + ancestors + winding refine) against
    a world grid; SQL truth is floor arithmetic."""
    from picogeojson_spark.operators import pip_join

    pts = _points_from_customer(spark, sf_dir)
    polys = _grid_polygons(spark)
    return pip_join(pts, polys).orderBy("point_id", "poly_id")


Q_GEO_PIP_GRID_SQL = """
SELECT point_id,
       CAST(floor((lon + 180) / 10) + 36 * floor((lat + 90) / 10) AS BIGINT) AS poly_id
FROM ({points}) ORDER BY point_id, poly_id
""".format(points=_POINTS_SQL)


def q_geo_pip_holes(spark, sf_dir):
    """PIP join against polygons with holes: hole semantics must exclude."""
    from picogeojson_spark.operators import pip_join

    pts = _points_from_customer(spark, sf_dir)
    polys = _hole_polygons(spark)
    return pip_join(pts, polys).orderBy("point_id", "poly_id")


Q_GEO_PIP_HOLES_SQL = """
WITH pts AS ({points}),
     polys AS (
       SELECT (gx + 2) * 4 + (gy + 2) AS poly_id,
              gx * 40.0 AS x0, gy * 40.0 AS y0
       FROM (SELECT unnest(range(-2, 2)) AS gx),
            (SELECT unnest(range(-2, 2)) AS gy))
SELECT p.point_id, g.poly_id
FROM pts p JOIN polys g
  ON p.lon > g.x0 AND p.lon < g.x0 + 30 AND p.lat > g.y0 AND p.lat < g.y0 + 30
 AND NOT (p.lon > g.x0 + 10 AND p.lon < g.x0 + 20
          AND p.lat > g.y0 + 10 AND p.lat < g.y0 + 20)
ORDER BY point_id, poly_id
""".format(points=_POINTS_SQL)


def q_geo_knn(spark, sf_dir):
    """Exact kNN (k-ring + window + exact tail); dist emitted as integer."""
    from picogeojson_spark.operators import knn_join

    q = _points_from_customer(spark, sf_dir).withColumnRenamed("point_id", "query_id")
    cand = _cand_points_from_supplier(spark, sf_dir)
    # level 4 (11.25° cells), radius 2: the 5x5 ring's 22.5° guard settles
    # nearly every query at TPC-H supplier density, so the exact brute-force
    # tail stays tiny
    out = knn_join(q, cand, k=3, level=4, radius=2)
    return out.select(
        "query_id", "rank", "neighbor_id",
        F.round(F.col("dist2") * 16).cast("long").alias("dist2_x16"),
    ).orderBy("query_id", "rank")


Q_GEO_KNN_SQL = """
WITH q AS (SELECT point_id AS query_id, lon, lat FROM ({points})),
     c AS ({cands}),
     d AS (
       SELECT q.query_id, c.neighbor_id,
              (q.lon - c.lon) * (q.lon - c.lon)
              + (q.lat - c.lat) * (q.lat - c.lat) AS dist2,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY (q.lon - c.lon) * (q.lon - c.lon)
                                        + (q.lat - c.lat) * (q.lat - c.lat) ASC,
                                          c.neighbor_id ASC) AS rank
       FROM q CROSS JOIN c)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       CAST(round(dist2 * 16) AS BIGINT) AS dist2_x16
FROM d WHERE rank <= 3 ORDER BY query_id, rank
""".format(points=_POINTS_SQL, cands=_CANDS_SQL)


def q_geo_knn_haversine(spark, sf_dir):
    """Great-circle kNN (ring join + per-query guard + exact brute tail);
    dist as integer micro-degrees of central angle — see
    ``operators/knn.py:knn_join_haversine``. Same lattice tables as
    ``geo_knn``; the planar-degrees contract stays its own query."""
    from picogeojson_spark.operators.knn import knn_join_haversine

    q = _points_from_customer(spark, sf_dir).withColumnRenamed(
        "point_id", "query_id")
    cand = _cand_points_from_supplier(spark, sf_dir)
    out = knn_join_haversine(q, cand, k=3, level=4, radius=2)
    return out.select(
        "query_id", "rank", "neighbor_id", "dist_udeg"
    ).orderBy("query_id", "rank")


def _q_geo_knn_haversine_sql():
    from picogeojson_spark.operators.knn import hav_udeg_sql

    dist = hav_udeg_sql("q.lon", "q.lat", "c.lon", "c.lat")
    return """
WITH q AS (SELECT point_id AS query_id, lon, lat FROM ({points})),
     c AS ({cands}),
     d AS (
       SELECT q.query_id, c.neighbor_id, {dist} AS dist_udeg,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY {dist} ASC,
                                          c.neighbor_id ASC) AS rank
       FROM q CROSS JOIN c)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, dist_udeg
FROM d WHERE rank <= 3 ORDER BY query_id, rank
""".format(points=_POINTS_SQL, cands=_CANDS_SQL, dist=dist)


def q_geo_tile_assign(spark, sf_dir):
    """Web-Mercator tile assignment at z=8, JVM-side arithmetic."""
    from picogeojson_spark.operators import assign_tiles_points

    pts = _points_from_customer(spark, sf_dir)
    return assign_tiles_points(pts, z=8).select(
        "point_id", "tile_z", "tile_x", "tile_y"
    ).orderBy("point_id")


Q_GEO_TILE_SQL = """
SELECT point_id, 8 AS tile_z,
       CAST(greatest(least(floor((lon + 180) / 360 * 256), 255), 0) AS BIGINT) AS tile_x,
       CAST(greatest(least(floor((1 - ln(tan(radians(clat)) + 1 / cos(radians(clat))) / pi()) / 2 * 256), 255), 0) AS BIGINT) AS tile_y
FROM (SELECT point_id, lon,
             greatest(least(lat, 85.05112878), -85.05112878) AS clat
      FROM ({points})) t
ORDER BY point_id
""".format(points=_POINTS_SQL)


def q_geo_tile_pyramid(spark, sf_dir):
    """Multi-zoom tile rollup (z=4..8): one point shuffle at the finest
    zoom, coarser levels cascade parent = child >> 1 (XYZ tiles nest — an
    IEEE floor identity). The oracle computes every level DIRECTLY from
    the points, so a hash match proves the cascade exact."""
    from picogeojson_spark.operators.tiling import tile_pyramid

    pts = _points_from_customer(spark, sf_dir)
    return tile_pyramid(pts, z_min=4, z_max=8).orderBy(
        "tile_z", "tile_x", "tile_y"
    )


def _tile_pyramid_sql(z_min=4, z_max=8):
    per = []
    for z in range(z_min, z_max + 1):
        n = 2 ** z
        per.append(
            "SELECT CAST({z} AS INTEGER) AS tile_z,\n"
            "       CAST(greatest(least(floor((lon + 180) / 360 * {n}), {n1}), 0) AS BIGINT) AS tile_x,\n"
            "       CAST(greatest(least(floor((1 - ln(tan(radians(clat)) + 1 / cos(radians(clat))) / pi()) / 2 * {n}), {n1}), 0) AS BIGINT) AS tile_y\n"
            "FROM c".format(z=z, n=n, n1=n - 1)
        )
    return """
WITH pts AS ({points}),
c AS (SELECT point_id, lon,
             greatest(least(lat, 85.05112878), -85.05112878) AS clat
      FROM pts),
levels AS ({levels})
SELECT tile_z, tile_x, tile_y, CAST(COUNT(*) AS BIGINT) AS n_points
FROM levels GROUP BY 1, 2, 3 ORDER BY tile_z, tile_x, tile_y
""".format(points=_POINTS_SQL, levels="\nUNION ALL\n".join(per))


def q_geo_cell_index(spark, sf_dir):
    """Hierarchical cell ids at level 12 + a level-8 parent rollup count."""
    from picogeojson_spark.operators.pip_join import cell_expr

    pts = _points_from_customer(spark, sf_dir)
    return (
        pts.withColumn("cell12", cell_expr("lon", "lat", 12))
        .withColumn("cell8", cell_expr("lon", "lat", 8))
        .groupBy("cell8")
        .agg(F.count("*").alias("n_points"),
             F.countDistinct("cell12").alias("n_subcells"))
        .orderBy("cell8")
    )


Q_GEO_CELL_SQL = """
WITH pts AS ({points}),
     lv AS (
       SELECT point_id,
              (CAST(8 AS BIGINT) << 58)
              | (CAST(floor((lon + 180) / 360 * 512) AS BIGINT) << 29)
              | CAST(floor((lat + 90) / 180 * 256) AS BIGINT) AS cell8,
              (CAST(12 AS BIGINT) << 58)
              | (CAST(floor((lon + 180) / 360 * 8192) AS BIGINT) << 29)
              | CAST(floor((lat + 90) / 180 * 4096) AS BIGINT) AS cell12
       FROM pts)
SELECT cell8, COUNT(*) AS n_points, COUNT(DISTINCT cell12) AS n_subcells
FROM lv GROUP BY cell8 ORDER BY cell8
""".format(points=_POINTS_SQL)


def q_geo_bbox_agg(spark, sf_dir):
    """Collection bbox aggregation (feature_collection_bbox semantics as a
    distributed groupBy min/max)."""
    pts = _points_from_customer(spark, sf_dir)
    return (
        pts.groupBy((F.col("point_id") % 100).alias("doc_id"))
        .agg(
            F.min("lon").alias("xmin"), F.min("lat").alias("ymin"),
            F.max("lon").alias("xmax"), F.max("lat").alias("ymax"),
            F.count("*").alias("n_members"),
        )
        .orderBy("doc_id")
    )


Q_GEO_BBOX_SQL = """
SELECT point_id % 100 AS doc_id,
       MIN(lon) AS xmin, MIN(lat) AS ymin, MAX(lon) AS xmax, MAX(lat) AS ymax,
       COUNT(*) AS n_members
FROM ({points}) GROUP BY 1 ORDER BY doc_id
""".format(points=_POINTS_SQL)


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages from sf0.001 documents, mine GeoJSON,
    PIP-join mined points against the world grid, roll up per polygon."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")

    from picogeojson_spark.operators import filter_by_type, mine_features, pip_join

    # wrap each document's text in a page with a deterministic embedded point
    pages = docs.select(
        F.concat(F.lit("https://synth.example/doc/"), F.col("doc_id")).alias("url"),
        F.concat(
            F.col("text"),
            F.lit('\n{"type": "Point", "coordinates": ['),
            (((F.col("doc_id") * 37) % 720).cast("double") / 2 - 180 + 0.25).cast("string"),
            F.lit(", "),
            (((F.col("doc_id") * 61) % 360).cast("double") / 2 - 90 + 0.25).cast("string"),
            F.lit("]}"),
        ).alias("text"),
    )
    feats = mine_features(pages)
    pts = filter_by_type(feats, "Point").select(
        F.col("doc_id").alias("point_id"), "lon", "lat"
    )
    polys = _grid_polygons(spark)
    pairs = pip_join(pts, polys)
    return (
        pairs.groupBy("poly_id")
        .agg(F.count("*").alias("n_points"))
        .orderBy("poly_id")
    )


class Query(NamedTuple):
    """One gated query.  ``oracle`` is its DuckDB SQL (None: the gate
    checks rows only); ``verified`` is the driver round whose
    CORRECTNESS_r0N.json holds its green row (None: never
    driver-verified); ``bench`` / ``plan_dump`` say whether bench.py
    times it and scripts/dump_plans.py dumps its plan."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    verified: int | None
    bench: bool
    plan_dump: bool


_REGISTRY: dict[str, Query] = {}


def _register(name, fn, oracle=None, *, verified=None, bench=True,
              plan_dump=False):
    if name in _REGISTRY:
        raise ValueError("query {!r} registered twice".format(name))
    _REGISTRY[name] = Query(name, fn, oracle, verified, bench, plan_dump)


def registry() -> list[Query]:
    """Every query, in registration order."""
    return list(_REGISTRY.values())


def _verified_last() -> list[Query]:
    # The round driver verifies only the first 50 entries of queries(), so
    # never-driver-verified queries lead; the sort is stable, so each group
    # keeps registration order.
    return sorted(_REGISTRY.values(), key=lambda q: q.verified is not None)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in _verified_last()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _verified_last()
            if q.oracle is not None}


_register("pricing_summary", q_pricing_summary, Q_PRICING_SQL, verified=3,
          plan_dump=True)
_register("revenue_by_nation", q_revenue_by_nation, Q_REVENUE_SQL, verified=3,
          plan_dump=True)
_register("top_parts_per_brand", q_top_parts_per_brand, Q_TOP_PARTS_SQL,
          verified=3)
_register("events_hourly", q_events_hourly, Q_EVENTS_SQL, verified=3)
_register("geo_parse_normalize", q_geo_parse_normalize, Q_GEO_PARSE_SQL,
          verified=3)
_register("geo_dateline_split", q_geo_dateline_split, Q_GEO_DATELINE_SQL,
          verified=3)
_register("geo_pip_grid", q_geo_pip_grid, Q_GEO_PIP_GRID_SQL, verified=3,
          plan_dump=True)
_register("geo_pip_holes", q_geo_pip_holes, Q_GEO_PIP_HOLES_SQL, verified=3)
_register("geo_knn", q_geo_knn, Q_GEO_KNN_SQL, verified=3, plan_dump=True)
_register("geo_tile_assign", q_geo_tile_assign, Q_GEO_TILE_SQL, verified=3,
          plan_dump=True)
_register("geo_tile_pyramid", q_geo_tile_pyramid, _tile_pyramid_sql(),
          verified=3)
_register("geo_cell_index", q_geo_cell_index, Q_GEO_CELL_SQL, verified=3)
_register("geo_bbox_agg", q_geo_bbox_agg, Q_GEO_BBOX_SQL, verified=3)


# --------------------------------------------------------------------------
# training-data pipeline queries: dedup / text analysis / similarity
# --------------------------------------------------------------------------

def _docs_with_planted_dups(spark, sf_dir):
    """documents ∪ copies of every 10th doc (deterministic planted dups)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


_DOCS_DUP_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents "
    "WHERE doc_id % 10 = 0"
)


def q_dedup_exact(spark, sf_dir):
    from picogeojson_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs_with_planted_dups(spark, sf_dir)).orderBy(
        "rep_id", "dup_id"
    )


Q_DEDUP_EXACT_SQL = """
WITH d AS ({docs}),
     g AS (SELECT text, MIN(doc_id) AS rep_id, COUNT(*) AS n FROM d GROUP BY text)
SELECT g.rep_id, d.doc_id AS dup_id
FROM d JOIN g USING (text)
WHERE g.n > 1 AND d.doc_id != g.rep_id
ORDER BY rep_id, dup_id
""".format(docs=_DOCS_DUP_SQL)


def _shingles_sql(table="documents"):
    return r"""
SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+3], ' ') AS shingle
FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM {table}) t,
     LATERAL (SELECT unnest(range(0, len(toks) - 2)) AS i) s
WHERE len(toks) >= 3
""".format(table=table)


_SHINGLES_SQL = _shingles_sql()


def q_dedup_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs at t=0.8 (integer-exact output)."""
    from picogeojson_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.8).orderBy("doc_a", "doc_b")


Q_DEDUP_JACCARD_SQL = """
WITH sh AS ({shingles}),
     sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
     inter AS (
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_sz
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT doc_a, doc_b, inter_sz, (sa.sz + sb.sz - inter_sz) AS union_sz
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_sz >= 0.8 * (sa.sz + sb.sz - inter_sz)
ORDER BY doc_a, doc_b
""".format(shingles=_SHINGLES_SQL)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16)/LSH(4 bands) candidates, exact-verified at t=0.5; md5-based
    signatures are engine-portable so the oracle reproduces buckets exactly."""
    from picogeojson_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs(
        docs, n=3, num_hashes=16, bands=4, threshold=0.5
    ).orderBy("doc_a", "doc_b")


def _minhash_cte_prefix(table="documents"):
    """Shared CTE chain computing verified minhash/LSH duplicate pairs —
    reused by the pair oracle, the transitive-cluster oracle, and the
    corpus-curation pipeline oracle (parameterized input table)."""
    sig_cols = ",\n       ".join(
        "MIN(md5('{i}:' || shingle)) AS sig_{i}".format(i=i) for i in range(16)
    )
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, sig_{a0} || sig_{a1} || sig_{a2} || sig_{a3} AS key FROM sigs".format(
            b=b, a0=4 * b, a1=4 * b + 1, a2=4 * b + 2, a3=4 * b + 3
        )
        for b in range(4)
    )
    return """sh AS ({shingles}),
     sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
     banded AS ({band_rows}),
     cand AS (
       SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       FROM banded x JOIN banded y
         ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
     sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
     inter AS (
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_sz
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
     pairs AS (
       SELECT c.doc_a, c.doc_b, i.inter_sz,
              (sa.sz + sb.sz - i.inter_sz) AS union_sz
       FROM cand c
       JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       JOIN sizes sa ON sa.doc_id = c.doc_a
       JOIN sizes sb ON sb.doc_id = c.doc_b
       WHERE i.inter_sz >= 0.5 * (sa.sz + sb.sz - i.inter_sz))""".format(
        shingles=_shingles_sql(table), sig_cols=sig_cols, band_rows=band_rows
    )


def _minhash_sql():
    return """
WITH {prefix}
SELECT doc_a, doc_b, inter_sz, union_sz FROM pairs ORDER BY doc_a, doc_b
""".format(prefix=_minhash_cte_prefix())


def q_dedup_clusters(spark, sf_dir):
    """Transitive duplicate clusters over the verified minhash/LSH pair
    graph: distributed connected components (alternating large-star /
    small-star, O(log n) rounds of groupBy-min + join) -> every graph node
    mapped to its component-minimum representative. The oracle replays the
    same pair graph and takes min-over-transitive-closure via a recursive
    CTE."""
    from picogeojson_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4,
                              threshold=0.5)
    return duplicate_clusters(pairs).orderBy("doc_id")


def _dedup_clusters_sql():
    return """
WITH RECURSIVE {prefix},
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(s, t) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.s, e.b FROM reach r JOIN sym e ON r.t = e.a WHERE e.b <> r.s)
SELECT s AS doc_id, LEAST(s, MIN(t)) AS rep_id
FROM reach GROUP BY s ORDER BY doc_id
""".format(prefix=_minhash_cte_prefix())


def q_text_tokens(spark, sf_dir):
    from picogeojson_spark.operators.textstats import token_count

    return token_count(_t(spark, sf_dir, "documents")).orderBy("doc_id")


Q_TEXT_TOKENS_SQL = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS subword_tokens,
       length(text) AS n_chars
FROM documents ORDER BY doc_id
"""


def q_text_quality(spark, sf_dir):
    from picogeojson_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents")).orderBy("doc_id")


Q_TEXT_QUALITY_SQL = """
SELECT doc_id, length(text) AS n_chars,
       (length(text) - length(replace(text, ' ', ''))) AS n_spaces,
       (length(text) - length(replace(text, '.', '')))
       + (length(text) - length(replace(text, ',', ''))) AS n_punct,
       CAST((length(text) - length(replace(text, ' the ', ''))) / 5
          + (length(text) - length(replace(text, ' and ', ''))) / 5
          + (length(text) - length(replace(text, ' of ', ''))) / 4 AS BIGINT)
         AS n_stopwords,
       CASE WHEN length(text) > 0
            THEN CAST(floor((length(text) - length(replace(text, ' ', '')))
                      * 1000000 / length(text)) AS BIGINT)
            ELSE 0 END AS space_ratio_x1e6
FROM documents ORDER BY doc_id
"""


def q_text_langid(spark, sf_dir):
    from picogeojson_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _langid_sql():
    from picogeojson_spark.operators.textstats import LANG_MARKERS

    def cnt(m):
        escaped = m.replace("'", "''")
        return (
            "CAST((length(p) - length(replace(p, '{m}', ''))) / {L} AS BIGINT)"
        ).format(m=escaped, L=len(m))

    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        score_exprs.append(
            "({}) AS score_{}".format(" + ".join(cnt(m) for m in markers), lang)
        )
    langs = list(LANG_MARKERS.keys())
    best = "greatest({})".format(", ".join("score_{}".format(l) for l in langs))
    pred = "'unknown'"
    for lang in reversed(langs):
        pred = (
            "CASE WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}' "
            "ELSE {prev} END"
        ).format(best=best, lang=lang, prev=pred)
    return """
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
     scored AS (SELECT doc_id, {scores} FROM padded)
SELECT doc_id, {score_list}, {pred} AS pred_lang
FROM scored ORDER BY doc_id
""".format(
        scores=", ".join(score_exprs),
        score_list=", ".join("score_{}".format(l) for l in langs),
        pred=pred,
    )


def q_text_fingerprint(spark, sf_dir):
    from picogeojson_spark.operators.dedup import fingerprint

    return fingerprint(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), n=5
    ).orderBy("doc_id")


Q_TEXT_FP_SQL = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+5], ' ') AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents) t,
       LATERAL (SELECT unnest(range(0, len(toks) - 4)) AS i) s
  WHERE len(toks) >= 5)
SELECT doc_id, MIN(md5(shingle)) AS fp_min, MAX(md5(shingle)) AS fp_max,
       COUNT(*) AS n_shingles
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-3 over the embeddings table (exact baseline;
    numpy-matmul fast path — bit-compatible with the oracle after the 1e6
    rounding)."""
    from picogeojson_spark.operators.similarity import ann_bruteforce_topk_np

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return ann_bruteforce_topk_np(queries, emb, k=3).orderBy("query_id", "rank")


Q_ANN_TOPK_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 10 = 0),
     scored AS (
       SELECT q.query_id, e.vec_id AS neighbor_id,
              list_dot_product(q.qv, e.v)
              / (sqrt(list_dot_product(q.qv, q.qv))
                 * sqrt(list_dot_product(e.v, e.v))) AS cos,
              ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY list_dot_product(q.qv, e.v)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(e.v, e.v))) DESC,
                         e.vec_id ASC) AS rank
       FROM q CROSS JOIN e)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       CAST(round(cos * 1000000) AS BIGINT) AS cos_x1e6
FROM scored WHERE rank <= 3 ORDER BY query_id, rank
"""


def q_embed_label_stats(spark, sf_dir):
    """Per-label embedding stats with order-independent integer sums."""
    from picogeojson_spark.operators.similarity import _norm2

    emb = _t(spark, sf_dir, "embeddings")
    norm2 = _norm2(F.col("embedding"))
    return (
        emb.select("label", F.round(norm2 * 1e6).cast("long").alias("n2"))
        .groupBy("label")
        .agg(F.count("*").alias("n_vecs"), F.sum("n2").alias("sum_norm2_x1e6"))
        .orderBy("label")
    )


Q_EMBED_STATS_SQL = """
SELECT label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(round(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))
                           * 1000000)
                     AS BIGINT)) AS BIGINT) AS sum_norm2_x1e6
FROM embeddings GROUP BY label ORDER BY label
"""


def q_text_gopher(spark, sf_dir):
    """Gopher-style quality gates (word-count bounds, mean word length,
    duplicate-2-gram fraction) — exact integer metrics + boolean keep."""
    from picogeojson_spark.operators.textstats import gopher_quality_flags

    return gopher_quality_flags(_t(spark, sf_dir, "documents")).orderBy("doc_id")


Q_TEXT_GOPHER_SQL = r"""
WITH w AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) END AS n_words,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents),
m AS (
  SELECT doc_id, n_words,
         CAST(list_sum(list_transform(toks, x -> length(x)))
              AS BIGINT) AS word_chars,
         CAST(CASE WHEN n_words >= 2 THEN n_words - 1 ELSE 0 END
              AS BIGINT) AS total_2grams,
         CASE WHEN n_words >= 2
              THEN CAST(len(list_distinct(list_transform(
                       range(len(toks) - 1),
                       i -> toks[i + 1] || ' ' || toks[i + 2])))
                   AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS distinct_2grams
  FROM w),
x AS (
  SELECT doc_id, n_words, total_2grams, distinct_2grams,
         CAST(CASE WHEN n_words > 0
                   THEN (word_chars * 1000000) // n_words
                   ELSE 0 END AS BIGINT) AS mean_word_len_x1e6,
         CAST(CASE WHEN total_2grams > 0
                   THEN ((total_2grams - distinct_2grams) * 1000000)
                        // total_2grams
                   ELSE 0 END AS BIGINT) AS dup_2gram_frac_x1e6
  FROM m)
SELECT doc_id, n_words, total_2grams, distinct_2grams,
       mean_word_len_x1e6, dup_2gram_frac_x1e6,
       (n_words >= 5 AND n_words <= 100000
        AND mean_word_len_x1e6 >= 2000000
        AND mean_word_len_x1e6 <= 12000000
        AND dup_2gram_frac_x1e6 <= 400000) AS keep
FROM x ORDER BY doc_id
"""


def q_text_top_terms(spark, sf_dir):
    """Per-language top-10 corpus terms (frequency + window rank; ties
    broken lexicographically on both engines)."""
    from picogeojson_spark.operators.textstats import top_terms

    return top_terms(_t(spark, sf_dir, "documents"), k=10).orderBy(
        "lang", "rnk"
    )


Q_TEXT_TOP_TERMS_SQL = r"""
WITH w AS (
  SELECT lang,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents),
c AS (SELECT lang, word, COUNT(*) AS n FROM w WHERE word <> ''
      GROUP BY lang, word),
r AS (SELECT lang, word, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, word ASC) AS rnk
      FROM c)
SELECT lang, CAST(rnk AS INTEGER) AS rnk, word, n
FROM r WHERE rnk <= 10 ORDER BY lang, rnk
"""


def q_sample_hash(spark, sf_dir):
    """Deterministic Bernoulli-by-hash 10% corpus sample: membership is a
    pure function of (salt, doc_id) — reproducible at any parallelism and
    growth-stable under appends. A narrow codegen filter, zero shuffles."""
    from picogeojson_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_sample(docs, 0.1).orderBy("doc_id")


Q_SAMPLE_HASH_SQL = """
SELECT doc_id FROM documents
WHERE CAST(('0x' || substring(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 1000000 < 100000
ORDER BY doc_id
"""


def q_sample_stratified(spark, sf_dir):
    """Fixed-size deterministic sample per language stratum (20 docs per
    lang, first by (hash(doc_id), doc_id)): a reservoir sample whose
    reservoir never reshuffles as the corpus grows. WindowGroupLimit
    pre-prunes each map partition to 20 rows before the one exchange."""
    from picogeojson_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, 20, key_col="lang").orderBy(
        "lang", "doc_id"
    )


Q_SAMPLE_STRATIFIED_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substring(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000000 AS hb
  FROM documents),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hb ASC, doc_id ASC)
           AS rk
  FROM h)
SELECT doc_id, lang FROM r WHERE rk <= 20 ORDER BY lang, doc_id
"""


def q_corpus_curate(spark, sf_dir):
    """END-TO-END corpus curation — the flagship composition a training-
    data pipeline actually runs: Gopher quality gates -> minhash/LSH
    near-dup pairs -> transitive clusters -> keep one representative per
    cluster -> leakage-safe hash split -> per-split corpus stats. The
    oracle replays the WHOLE pipeline in one SQL statement (gates +
    recursive-CTE components + split CASE), so the hash check certifies
    the composition, not just the parts."""
    from picogeojson_spark.operators.dedup import (
        duplicate_clusters,
        hash_split,
        minhash_lsh_pairs,
    )
    from picogeojson_spark.operators.textstats import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents")
    kept_ids = gopher_quality_flags(docs).filter(F.col("keep")).select("doc_id")
    kept = docs.join(kept_ids, on="doc_id")
    pairs = minhash_lsh_pairs(kept.select("doc_id", "text"), n=3,
                              num_hashes=16, bands=4, threshold=0.5)
    drop = duplicate_clusters(pairs).filter(
        F.col("doc_id") != F.col("rep_id")
    ).select("doc_id")
    survivors = kept.join(drop, on="doc_id", how="left_anti")
    split = hash_split(survivors,
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .orderBy("split")
    )


def _corpus_curate_sql():
    gate = r"""gw AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(len(regexp_split_to_array(trim(text), '\s+'))
                        AS BIGINT) END AS n_words,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents),
gm AS (
  SELECT doc_id, n_words,
         CAST(list_sum(list_transform(toks, x -> length(x)))
              AS BIGINT) AS word_chars,
         CAST(CASE WHEN n_words >= 2 THEN n_words - 1 ELSE 0 END
              AS BIGINT) AS total_2grams,
         CASE WHEN n_words >= 2
              THEN CAST(len(list_distinct(list_transform(
                       range(len(toks) - 1),
                       i -> toks[i + 1] || ' ' || toks[i + 2])))
                   AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS distinct_2grams
  FROM gw),
gx AS (
  SELECT doc_id, n_words, total_2grams, distinct_2grams,
         CAST(CASE WHEN n_words > 0
                   THEN (word_chars * 1000000) // n_words
                   ELSE 0 END AS BIGINT) AS mean_word_len_x1e6,
         CAST(CASE WHEN total_2grams > 0
                   THEN ((total_2grams - distinct_2grams) * 1000000)
                        // total_2grams
                   ELSE 0 END AS BIGINT) AS dup_2gram_frac_x1e6
  FROM gm),
kept_docs AS (
  SELECT d.doc_id, d.text, d.n_chars
  FROM documents d JOIN gx ON d.doc_id = gx.doc_id
  WHERE gx.n_words >= 5 AND gx.n_words <= 100000
    AND gx.mean_word_len_x1e6 >= 2000000
    AND gx.mean_word_len_x1e6 <= 12000000
    AND gx.dup_2gram_frac_x1e6 <= 400000)"""
    return """
WITH RECURSIVE {gate},
{minhash},
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(s, t) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.s, e.b FROM reach r JOIN sym e ON r.t = e.a WHERE e.b <> r.s),
dropped AS (
  SELECT s AS doc_id FROM reach GROUP BY s HAVING LEAST(s, MIN(t)) <> s),
surv AS (
  SELECT doc_id, n_chars FROM kept_docs
  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
splitd AS (
  SELECT n_chars,
         CASE WHEN b < 800 THEN 'train'
              WHEN b < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT n_chars,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1000 AS b
        FROM surv))
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM splitd GROUP BY split ORDER BY split
""".format(gate=gate, minhash=_minhash_cte_prefix(table="kept_docs"))


def q_doc_hash_split(spark, sf_dir):
    """Deterministic leakage-safe train/val/test split by id-hash bucket
    (80/10/10) — split membership is a pure function of doc_id, so the
    oracle reproduces every assignment."""
    from picogeojson_spark.operators.dedup import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).orderBy("doc_id")


Q_DOC_HASH_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000 AS bucket
  FROM documents)
SELECT doc_id,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


_register("text_top_terms", q_text_top_terms, Q_TEXT_TOP_TERMS_SQL, verified=3,
          bench=False)
_register("doc_hash_split", q_doc_hash_split, Q_DOC_HASH_SPLIT_SQL, verified=3,
          bench=False)
_register("corpus_curate", q_corpus_curate, _corpus_curate_sql(), verified=3,
          plan_dump=True)
_register("sample_hash", q_sample_hash, Q_SAMPLE_HASH_SQL, verified=3)
_register("sample_stratified", q_sample_stratified, Q_SAMPLE_STRATIFIED_SQL,
          verified=3)
_register("text_gopher", q_text_gopher, Q_TEXT_GOPHER_SQL, verified=3)
_register("dedup_exact", q_dedup_exact, Q_DEDUP_EXACT_SQL, verified=3)
_register("dedup_jaccard", q_dedup_jaccard, Q_DEDUP_JACCARD_SQL, verified=3)
_register("dedup_minhash_lsh", q_dedup_minhash_lsh, _minhash_sql(), verified=3,
          plan_dump=True)
_register("dedup_clusters", q_dedup_clusters, _dedup_clusters_sql(),
          verified=3)
_register("text_tokens", q_text_tokens, Q_TEXT_TOKENS_SQL, verified=3)
_register("text_quality", q_text_quality, Q_TEXT_QUALITY_SQL, verified=3)
_register("text_langid", q_text_langid, _langid_sql(), verified=3)
_register("text_fingerprint", q_text_fingerprint, Q_TEXT_FP_SQL, verified=3,
          bench=False)
_register("ann_topk", q_ann_topk, Q_ANN_TOPK_SQL, verified=3, plan_dump=True)
_register("embed_label_stats", q_embed_label_stats, Q_EMBED_STATS_SQL,
          verified=3)


# --------------------------------------------------------------------------
# simhash + coordinate-transform queries (appended)
# --------------------------------------------------------------------------

def q_text_simhash(spark, sf_dir):
    """16-bit SimHash over tokens; md5-hex token hashes are engine-portable."""
    from picogeojson_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), bits=16).orderBy("doc_id")


def _simhash_cte_prefix(bits=16):
    """Shared CTE chain ending in sim(doc_id, simhash) — reused by the
    per-doc simhash oracle and the hamming-pairs oracle."""
    votes = ",\n       ".join(
        "SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}".format(k=k)
        for k in range(bits)
    )
    packed = " + ".join(
        "CASE WHEN v{k} > 0 THEN CAST({p} AS BIGINT) ELSE 0 END".format(k=k, p=2**k)
        for k in range(bits)
    )
    return r"""toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS h
  FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sim AS (SELECT doc_id, {packed} AS simhash FROM votes)""".format(
        votes=votes, packed=packed
    )


def _simhash_sql(bits=16):
    return """
WITH {prefix}
SELECT doc_id, simhash FROM sim ORDER BY doc_id
""".format(prefix=_simhash_cte_prefix(bits))


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash hamming-ball near-dup pairs (d<=3 over 32 bits, 4 bit-block
    bands): pigeonhole bucketing is EXACT — within distance d, at most d
    blocks differ, so bands >= d+1 guarantees a shared block — and the
    bit_count(xor) verify is replayed verbatim by the oracle. 32 bits keeps
    the hamming ball selective (16-bit hashes put a third of all random
    pairs within d=3; 8-bit blocks collide at ~1/256, so candidates stay
    near the true near-dup count as the corpus grows)."""
    from picogeojson_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=3, bits=32, bands=4
    ).orderBy("doc_a", "doc_b")


def _simhash_pairs_sql(bits=16, bands=4, max_hamming=3):
    w = bits // bands
    block_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, simhash, {b} AS blk, (simhash >> {lo}) & {mask} AS val FROM sim".format(
            b=b, lo=b * w,
            mask=(1 << ((bits - b * w) if b == bands - 1 else w)) - 1,
        )
        for b in range(bands)
    )
    return """
WITH {prefix},
banded AS ({block_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                  x.simhash AS ha, y.simhash AS hb
  FROM banded x JOIN banded y
    ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {d}
ORDER BY doc_a, doc_b
""".format(prefix=_simhash_cte_prefix(bits), block_rows=block_rows,
           d=max_hamming)


def q_geo_transform(spark, sf_dir):
    """Coordinate transform through the kernel (re-runs winding/closure):
    translate the parse-normalize polygons and emit arithmetic-checkable
    fields."""
    from picogeojson_spark.functions.geo_udfs import parse_normalize_udf
    from picogeojson_spark.operators.transforms import transform_features, translate

    c = _t(spark, sf_dir, "customer")
    x0 = ((F.col("c_custkey") * 13) % 300).cast("double") / 2 - 90 + 0.25
    y0 = ((F.col("c_custkey") * 17) % 200).cast("double") / 2 - 60 + 0.25
    gj = F.concat(
        F.lit('{"type": "Polygon", "coordinates": [[['),
        x0.cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("], ["),
        (x0 + 5.5).cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("], ["),
        (x0 + 5.5).cast("string"), F.lit(", "), (y0 + 3.5).cast("string"),
        F.lit("], ["),
        x0.cast("string"), F.lit(", "), (y0 + 3.5).cast("string"),
        F.lit("]]]}"),
    )
    base = c.select(F.col("c_custkey").alias("id"), gj.alias("geometry_json"))
    shifted = transform_features(base, translate(1.5, -2.25))
    parsed = parse_normalize_udf()
    return (
        shifted.select("id", parsed(F.col("geometry_json")).alias("p"))
        .select(
            "id",
            F.col("p.xmin").alias("xmin"), F.col("p.ymin").alias("ymin"),
            F.col("p.xmax").alias("xmax"), F.col("p.ymax").alias("ymax"),
        )
        .orderBy("id")
    )


Q_GEO_TRANSFORM_SQL = """
SELECT c_custkey AS id,
       x0 + 1.5 AS xmin, y0 - 2.25 AS ymin,
       x0 + 5.5 + 1.5 AS xmax, y0 + 3.5 - 2.25 AS ymax
FROM (
  SELECT c_custkey,
         CAST((c_custkey * 13) % 300 AS DOUBLE) / 2 - 90 + 0.25 AS x0,
         CAST((c_custkey * 17) % 200 AS DOUBLE) / 2 - 60 + 0.25 AS y0
  FROM customer) t
ORDER BY id
"""

_register("text_simhash", q_text_simhash, _simhash_sql(), verified=3)
_register("dedup_simhash_pairs", q_dedup_simhash_pairs,
          _simhash_pairs_sql(bits=32), verified=3)
_register("geo_transform", q_geo_transform, Q_GEO_TRANSFORM_SQL, verified=3)


def q_embed_cosine_pairs(spark, sf_dir):
    """Embedding similar pairs (cosine >= 0.3; the synthetic corpus has
    no true near-dups, so the threshold targets a non-trivial pair set).

    DELIBERATELY capped input: exact all-pairs is O(n²) by definition and
    this query exists for oracle duty (the scale path is
    embed_cosine_pairs_lsh). The vec_id % 2 slice keeps the pair count
    bounded as SF grows — intended ceiling ~sf1 (≈15k vectors → ~110M
    scored pairs); beyond that only the LSH variant should be benched."""
    from picogeojson_spark.operators.similarity import cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    return cosine_pairs(emb, 0.3).orderBy("id_a", "id_b")


Q_EMBED_PAIRS_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           WHERE vec_id % 2 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) * 1000000) AS BIGINT)
         AS cos_x1e6
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.3
ORDER BY id_a, id_b
"""


def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN, OR-of-8-bands × 3 planes: candidates are
    corpus vectors sharing any band signature with the query, scored exactly.
    The md5-derived hyperplanes are engine-portable arithmetic, so the DuckDB
    oracle reproduces buckets — and therefore the full candidate-gated
    result — exactly; recall vs the brute-force baseline is additionally
    asserted in the correctness gate (scripts/check_correctness.py)."""
    from picogeojson_spark.operators.similarity import ann_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return ann_lsh_topk(
        queries, emb, k=3, planes=3, bands=8, dim=64
    ).orderBy("query_id", "rank")


def _lsh_keys_sql(planes: int, bands: int, dim: int) -> str:
    """CTE fragment computing (vec_id, band, key) — the same hyperplane
    band signatures picogeojson_spark.operators.similarity._band_keys
    assigns (global plane index p = band*planes + i; component j of plane p
    is (md5-derived int in [-500, 500)) / 500)."""
    total = planes * bands
    return """
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
comps AS (
  SELECT p, list((CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || ':'
                                          || CAST(j AS VARCHAR)), 1, 6))
                       AS BIGINT) % 1000 - 500) / 500.0 ORDER BY j) AS cl
  FROM range(0, {total}) t(p), range(0, {dim}) s(j)
  GROUP BY p),
bits AS (
  SELECT e.vec_id, c.p,
         CASE WHEN list_dot_product(e.v, c.cl) >= 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN comps c),
keys AS (
  SELECT vec_id, CAST(p // {planes} AS INTEGER) AS band,
         string_agg(CAST(bit AS VARCHAR), '' ORDER BY p) AS key
  FROM bits GROUP BY vec_id, CAST(p // {planes} AS INTEGER))
""".format(total=total, dim=dim, planes=planes)


Q_ANN_LSH_SQL = """
WITH {keys},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM keys q JOIN keys c ON q.band = c.band AND q.key = c.key
  WHERE q.vec_id % 10 = 0),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM cand
  JOIN e a ON a.vec_id = cand.query_id
  JOIN e b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       CAST(round(cos * 1000000) AS BIGINT) AS cos_x1e6
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
""".format(keys=_lsh_keys_sql(planes=3, bands=8, dim=64))


def q_embed_cosine_pairs_lsh(spark, sf_dir):
    """Bucketed embedding near-dup pairs: LSH bands gate candidates, exact
    cosine verifies >= 0.3 — the scale path for embedding near-dup (no cross
    join; cost tracks collision density, not n²). Candidate-gated semantics
    are reproduced exactly by the oracle's identical bucket arithmetic."""
    from picogeojson_spark.operators.similarity import cosine_pairs_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_lsh(
        emb, 0.3, planes=3, bands=4, dim=64
    ).orderBy("id_a", "id_b")


Q_EMBED_PAIRS_LSH_SQL = """
WITH {keys},
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM keys x JOIN keys y
    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
scored AS (
  SELECT cand.id_a, cand.id_b,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM cand
  JOIN e a ON a.vec_id = cand.id_a
  JOIN e b ON b.vec_id = cand.id_b)
SELECT id_a, id_b, CAST(round(cos * 1000000) AS BIGINT) AS cos_x1e6
FROM scored WHERE cos >= 0.3 ORDER BY id_a, id_b
""".format(keys=_lsh_keys_sql(planes=3, bands=4, dim=64))


_register("embed_cosine_pairs", q_embed_cosine_pairs, Q_EMBED_PAIRS_SQL,
          verified=3, bench=False)
_register("ann_lsh", q_ann_lsh, Q_ANN_LSH_SQL, verified=3, plan_dump=True)
_register("embed_cosine_pairs_lsh", q_embed_cosine_pairs_lsh,
          Q_EMBED_PAIRS_LSH_SQL, verified=3, plan_dump=True)


# --------------------------------------------------------------------------
# multimodal metadata-extraction query (appended)
# --------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Multimodal column pipeline with an exact oracle: documents.text is
    treated as an opaque binary payload (utf-8 bytes), routed through the
    real mapInPandas feature-extraction stage (``extract_media_features``,
    batch-shaped like model inference). The deterministic stand-in decoder
    is md5 arithmetic, so DuckDB predicts every output value exactly."""
    from picogeojson_spark.operators.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_media_features(media, dim=4)
    # features[i] = int.from_bytes(md5[2i:2i+2]) / 65536.0 — exact dyadic
    # rational, so *65536 recovers the integer losslessly
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        (F.element_at("features", 1) * 65536).cast("bigint").alias("f0_x65536"),
        (F.element_at("features", 2) * 65536).cast("bigint").alias("f1_x65536"),
    ).orderBy("media_id")


Q_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       octet_length(encode(text)) AS n_bytes,
       CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) AS f0_x65536,
       CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) AS f1_x65536
FROM documents
ORDER BY media_id
"""

_register("multimodal_meta", q_multimodal_meta, Q_MULTIMODAL_SQL, verified=3,
          plan_dump=True)


# --------------------------------------------------------------------------
# merge/burst roundtrip query (appended)
# --------------------------------------------------------------------------

def q_geo_merge_burst(spark, sf_dir):
    """Kernel burst + merge through the DataFrame operators (reference
    transformations.py:6-95 semantics): per-customer MultiPoint -> burst to
    atomic Points (explode) -> merge back per id (collect_list + kernel
    merge). Lattice coordinates make every value SQL-predictable."""
    from picogeojson_spark.operators.serialize import burst_features, merge_geometries

    c = _t(spark, sf_dir, "customer")
    x0 = ((F.col("c_custkey") * 7) % 240).cast("double") / 2 - 60 + 0.25
    y0 = ((F.col("c_custkey") * 11) % 160).cast("double") / 2 - 40 + 0.25
    gj = F.concat(
        F.lit('{"type": "MultiPoint", "coordinates": [['),
        x0.cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("], ["),
        (x0 + 2.5).cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("], ["),
        x0.cast("string"), F.lit(", "), (y0 + 1.5).cast("string"),
        F.lit("]]}"),
    )
    base = c.select(
        F.col("c_custkey").alias("id"),
        gj.alias("geometry_json"),
        F.lit(None).cast("string").alias("crs"),
    )
    parts = burst_features(base)
    pts = parts.select(
        "id",
        "part_type",
        F.get_json_object("part_json", "$.coordinates[0]").cast("double").alias("x"),
        F.get_json_object("part_json", "$.coordinates[1]").cast("double").alias("y"),
    )
    merged = merge_geometries(
        parts.select("id", F.col("part_json").alias("geometry_json")), key="id"
    ).select(
        "id", F.get_json_object("merged_json", "$.type").alias("merged_type")
    )
    return (
        pts.join(merged, "id")
        .select("id", "part_type", "merged_type", "x", "y")
        .orderBy("id", "x", "y")
    )


Q_GEO_MERGE_BURST_SQL = """
WITH base AS (
  SELECT c_custkey AS id,
         CAST((c_custkey * 7) % 240 AS DOUBLE) / 2 - 60 + 0.25 AS x0,
         CAST((c_custkey * 11) % 160 AS DOUBLE) / 2 - 40 + 0.25 AS y0
  FROM customer),
parts AS (
  SELECT id, x0 AS x, y0 AS y FROM base
  UNION ALL SELECT id, x0 + 2.5, y0 FROM base
  UNION ALL SELECT id, x0, y0 + 1.5 FROM base)
SELECT id, 'Point' AS part_type, 'MultiPoint' AS merged_type, x, y
FROM parts
ORDER BY id, x, y
"""

_register("geo_merge_burst", q_geo_merge_burst, Q_GEO_MERGE_BURST_SQL,
          verified=3)


# --------------------------------------------------------------------------
# structured-streaming query (appended; rows-only by design)
# --------------------------------------------------------------------------

def q_stream_counts(spark, sf_dir):
    """Incremental mining via Structured Streaming (availableNow trigger over
    a pages-parquet directory -> shared mine_features UDF -> stateful
    per-type counts). Streaming is not SQL-expressible over the registered
    views, so this is deliberately a rows-only contract entry; batch/stream
    equivalence is asserted in tests (same UDF object)."""
    import glob

    _ensure_shipped(spark)
    from picogeojson_spark.sources import pages_dataframe
    from picogeojson_spark.streaming.pages_stream import (
        stream_feature_counts,
        stream_mine_features,
    )

    pages_dir = "/tmp/stream_pages_400"
    if not glob.glob(pages_dir + "/_SUCCESS"):
        pages_dataframe(spark, 400).repartition(4).write.mode(
            "overwrite"
        ).parquet(pages_dir)

    feats = stream_mine_features(spark, pages_dir)
    counts = stream_feature_counts(feats)
    return _run_stream(spark, counts, "stream_counts",
                       "complete").orderBy("geom_type")


def _run_stream(spark, df, name, mode):
    """Start a memory-sink availableNow stream and await termination, with
    the stream's shuffle partitioning sized to keyed-state VOLUME rather
    than the batch shuffle default: every stateful streaming operator opens
    state stores per shuffle partition and pays their open/commit cost per
    partition per microbatch regardless of state size (measured: the
    stream-stream join 17.8s@64 -> 3.3s@8 at sf0.1; sessions 10.1 -> 4.0;
    HLL 4.6 -> 2.2 — identical output).  Derived from the session conf
    (//8, floor 4) so the odd-parallelism gate variant still varies it; a
    100 TB deployment raises the divisor's input, not this code.  The conf
    is restored in a finally; it binds at stream START, so the restored
    value governs everything after."""
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(4, int(cur) // 8)))
    try:
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name + "_q")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)
    return spark.table(name + "_q")


def _await_stream(q, name, secs=120):
    """awaitTermination(secs) returns False on timeout WITHOUT stopping the
    query — a degraded boot would then leave a live stream churning and a
    partially-filled memory sink feeding a nondeterministic hash mismatch.
    Fail loudly instead."""
    if not q.awaitTermination(secs):
        q.stop()
        raise RuntimeError(
            "%s stream did not terminate within %ds" % (name, secs)
        )


_register("stream_counts", q_stream_counts, verified=3, bench=False)
# NB: stream_counts has no oracle entry (the mined-page content derives from
# a Python RNG, not SQL-expressible). The correctness gate instead asserts
# stream==batch equality over the same parquet (the two paths share the
# mining UDF); see scripts/check_correctness.py SPECIAL_CHECKS.


def _stream_dir(sf_dir, table):
    """Spark's file stream source needs a DIRECTORY; the testdata tables are
    single parquet files. Hard-link (or copy) the file into a per-sf /tmp
    dir once and stream from there — contents identical to the registered
    oracle view."""
    import os
    import shutil

    label = os.path.basename(os.path.normpath(sf_dir))
    d = "/tmp/stream_src_{}_{}".format(label, table)
    dst = os.path.join(d, table + ".parquet")
    if not os.path.exists(dst):
        os.makedirs(d, exist_ok=True)
        src = os.path.join(sf_dir, table + ".parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    return d


_DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_EVENTS_DDL = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
               "event_type string, value double, props string")


def q_stream_doc_stats(spark, sf_dir):
    """Streaming rollup with a full oracle: readStream over the documents
    parquet (availableNow) -> stateful groupBy(lang) aggregation -> memory
    sink. The stream consumes the SAME driver-registered table the oracle
    reads, so this is a genuine rows+schema+hash check of the streaming
    aggregation path (not just rows-only)."""
    src = (
        spark.readStream.schema(_DOCS_DDL)
        .parquet(_stream_dir(sf_dir, "documents"))
    )
    agg = src.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_sum"),
    )
    return _run_stream(spark, agg, "stream_doc_stats",
                       "complete").orderBy("lang")


Q_STREAM_DOC_STATS_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM documents GROUP BY lang ORDER BY lang
"""

_register("stream_doc_stats", q_stream_doc_stats, Q_STREAM_DOC_STATS_SQL,
          verified=3, bench=False)


def q_stream_events_windows(spark, sf_dir):
    """Watermarked event-time windowed aggregation with a full oracle:
    readStream over the events parquet -> withWatermark(1h) ->
    groupBy(window(ts_i, 1h), event_type) -> memory sink (complete mode, so
    every window is emitted and the batch oracle predicts the exact output;
    append-mode late-drop semantics are exercised in tests). The NTZ wall
    time is pinned to UTC instants (watermarks require TIMESTAMP) and the
    window start is emitted as epoch-hour MICROSECONDS — an integer, so the
    result is session-timezone-independent; money in integer cents."""
    src = (
        spark.readStream.schema(_EVENTS_DDL)
        .parquet(_stream_dir(sf_dir, "events"))
    )
    # Pin the NTZ wall time to a UTC instant with ZERO session-tz
    # involvement: pure-NTZ epoch micros (see _ntz_epoch_us) -> instant.
    # The previous from_utc_timestamp(ntz, current_timezone()) relied on the
    # implicit NTZ->LTZ session cast cancelling against the explicit shift —
    # exact only for FIXED-OFFSET zones (the two offsets are resolved at
    # different points: wall time vs instant), so a DST-zone session with
    # events near a transition would shift the hour bucket.
    ts_i = F.timestamp_micros(_ntz_epoch_us("ts"))
    agg = (
        src.withColumn("ts_i", ts_i)
        .withWatermark("ts_i", "1 hour")
        .groupBy(F.window("ts_i", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents_sum"),
        )
    )
    return (
        _run_stream(spark, agg, "stream_events_windows", "complete")
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "event_type", "n_events",
            F.col("cents_sum").cast("long").alias("cents_sum"),
        )
        .orderBy("hour_us", "event_type")
    )


Q_STREAM_EVENTS_WINDOWS_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type
"""

_register("stream_events_windows", q_stream_events_windows,
          Q_STREAM_EVENTS_WINDOWS_SQL, verified=3, bench=False)


def q_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN. The coarse quantizer is deterministic (centroids =
    the nlist corpus vectors with smallest md5(vec_id), L2-normalized), so
    the DuckDB oracle reproduces list assignment, probing, and the exact
    per-pair scores. Assignment argmax is computed by numpy on the Spark
    side and by sequential list_dot_product in DuckDB — ulp-level sum
    differences cannot flip an argmax on this data (centroid-similarity
    gaps are ~1e-2); pair SCORES go through the same sequential-fold
    arithmetic on both sides and match bit-for-bit."""
    from picogeojson_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return ann_ivf_topk(queries, emb, k=3, nlist=16, nprobe=8).orderBy(
        "query_id", "rank"
    )


Q_ANN_IVF_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
              AS INTEGER) AS list_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
cassign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.v, c.c) DESC,
                                       c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c) t WHERE rn = 1),
qassign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.v, c.c) DESC,
                                       c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c WHERE e.vec_id % 10 = 0) t WHERE rn <= 8),
scored AS (
  SELECT q.vec_id AS query_id, ca.vec_id AS neighbor_id,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM qassign q
  JOIN cassign ca ON ca.list_id = q.list_id
  JOIN e a ON a.vec_id = q.vec_id
  JOIN e b ON b.vec_id = ca.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       CAST(round(cos * 1000000) AS BIGINT) AS cos_x1e6
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""

_register("ann_ivf", q_ann_ivf, Q_ANN_IVF_SQL, verified=3, plan_dump=True)


def q_geo_extract_props(spark, sf_dir):
    """The §2.2 query surface end-to-end (extract_features semantics):
    embed one Feature per order inside noisy page text, mine+parse it with
    the fused UDF, then extract by geometry type AND property subset
    (propmatch as conjunctive map-column filters — reference
    geojson.py:43-66, :98-100). Lattice coordinates keep lon/lat exact."""
    from picogeojson_spark.operators.features import (
        filter_by_props,
        filter_by_type,
        mine_features,
    )

    o = _t(spark, sf_dir, "orders")
    x0 = ((F.col("o_orderkey") * 19) % 720).cast("double") / 2 - 180 + 0.25
    y0 = ((F.col("o_orderkey") * 23) % 360).cast("double") / 2 - 90 + 0.25
    text = F.concat(
        F.lit('<p>crawl noise</p> {"type": "Feature", "properties": '
              '{"priority": "'),
        F.col("o_orderpriority"),
        F.lit('", "ok": "'),
        F.col("o_orderkey").cast("string"),
        F.lit('"}, "geometry": {"type": "Point", "coordinates": ['),
        x0.cast("string"), F.lit(", "), y0.cast("string"),
        F.lit("]}} <p>more noise</p>"),
    )
    pages = o.select(
        F.concat(F.lit("o://"), F.col("o_orderkey").cast("string")).alias("url"),
        text.alias("text"),
    )
    feats = mine_features(pages)
    hit = filter_by_props(filter_by_type(feats, "Point"), {"priority": "1-URGENT"})
    return hit.select(
        F.element_at(F.col("props"), "ok").cast("long").alias("id"),
        F.col("lon").alias("lon"),
        F.col("lat").alias("lat"),
    ).orderBy("id")


Q_GEO_EXTRACT_SQL = """
SELECT o_orderkey AS id,
       CAST((o_orderkey * 19) % 720 AS DOUBLE) / 2 - 180 + 0.25 AS lon,
       CAST((o_orderkey * 23) % 360 AS DOUBLE) / 2 - 90 + 0.25 AS lat
FROM orders
WHERE o_orderpriority = '1-URGENT'
ORDER BY id
"""

_register("geo_extract_props", q_geo_extract_props, Q_GEO_EXTRACT_SQL,
          verified=3, bench=False)


def q_geo_tile_join(spark, sf_dir):
    """Raster-tile <-> vector JOIN (north-star item, the join form): polygon
    bboxes cover their z=7 tiles through the numpy kernel
    (tile_cover_features, mapInPandas), points get their tile JVM-side
    (assign_tiles_points), and the raster<->vector match is a broadcast
    equi-join on the tile key — the same shape a 100 TB raster-chunk
    assignment takes."""
    from picogeojson_spark.operators.tiling import (
        assign_tiles_points,
        tile_cover_features,
    )

    n = _t(spark, sf_dir, "nation")
    x0 = ((F.col("n_nationkey") * 29) % 280).cast("double") / 2 - 70 + 0.25
    y0 = ((F.col("n_nationkey") * 31) % 120).cast("double") / 2 - 30 + 0.25
    polys = n.select(
        F.col("n_nationkey").alias("poly_id"),
        F.struct(
            x0.alias("xmin"), y0.alias("ymin"),
            (x0 + 12.5).alias("xmax"), (y0 + 7.5).alias("ymax"),
        ).alias("bbox"),
    )
    cover = tile_cover_features(polys, z=7, id_cols=("poly_id",))
    pts = assign_tiles_points(_points_from_customer(spark, sf_dir), z=7)
    return (
        pts.join(F.broadcast(cover), on=["tile_z", "tile_x", "tile_y"])
        .select("point_id", "poly_id", "tile_x", "tile_y")
        .orderBy("point_id", "poly_id")
    )


Q_GEO_TILE_JOIN_SQL = """
WITH pts AS (
  SELECT point_id,
         CAST(greatest(least(floor((lon + 180) / 360 * 128), 127), 0) AS BIGINT) AS tile_x,
         CAST(greatest(least(floor((1 - ln(tan(radians(clat)) + 1 / cos(radians(clat))) / pi()) / 2 * 128), 127), 0) AS BIGINT) AS tile_y
  FROM (SELECT point_id, lon,
               greatest(least(lat, 85.05112878), -85.05112878) AS clat
        FROM ({points})) t),
polys AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         CAST((n_nationkey * 29) % 280 AS DOUBLE) / 2 - 70 + 0.25 AS x0,
         CAST((n_nationkey * 31) % 120 AS DOUBLE) / 2 - 30 + 0.25 AS y0
  FROM nation),
corners AS (
  SELECT poly_id,
         CAST(greatest(least(floor((x0 + 180) / 360 * 128), 127), 0) AS BIGINT) AS tx0,
         CAST(greatest(least(floor((x0 + 12.5 + 180) / 360 * 128), 127), 0) AS BIGINT) AS tx1,
         CAST(greatest(least(floor((1 - ln(tan(radians(y0 + 7.5)) + 1 / cos(radians(y0 + 7.5))) / pi()) / 2 * 128), 127), 0) AS BIGINT) AS ty0,
         CAST(greatest(least(floor((1 - ln(tan(radians(y0)) + 1 / cos(radians(y0))) / pi()) / 2 * 128), 127), 0) AS BIGINT) AS ty1
  FROM polys),
cover AS (
  SELECT poly_id, tx.x AS tile_x, ty.y AS tile_y
  FROM corners
  CROSS JOIN UNNEST(range(tx0, tx1 + 1)) AS tx(x)
  CROSS JOIN UNNEST(range(ty0, ty1 + 1)) AS ty(y))
SELECT p.point_id, c.poly_id, p.tile_x, p.tile_y
FROM pts p JOIN cover c USING (tile_x, tile_y)
ORDER BY point_id, poly_id
""".format(points=_POINTS_SQL)

_register("geo_tile_join", q_geo_tile_join, Q_GEO_TILE_JOIN_SQL, verified=3,
          plan_dump=True)


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session): lag +
    running-sum windows assign session ids, then a per-session rollup — the
    canonical event-stream pattern, all JVM-side window functions (one
    shuffle on user_id reused by both windows and the final groupBy).
    Timestamps compared in integer microseconds, money in integer cents."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        # ts is TIMESTAMP_NTZ; interpret the wall time as UTC on both sides
        # via pure NTZ arithmetic (DuckDB epoch_us does the same) ->
        # session-timezone-independent (proved by the GATE_TZ gate run)
        _ntz_epoch_us("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gapped = e.withColumn(
        "new_s",
        F.when(
            F.lag("tus").over(w).isNull()
            | ((F.col("tus") - F.lag("tus").over(w)) > 1800000000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = gapped.withColumn(
        "session_idx",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("tus").alias("start_us"),
            F.max("tus").alias("end_us"),
            F.sum("cents").alias("cents_sum"),
        )
        .orderBy("user_id", "session_idx")
    )


Q_EVENTS_SESSION_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
g AS (
  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(tus) AS start_us, MAX(tus) AS end_us,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM s
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""

_register("events_sessionize", q_events_sessionize, Q_EVENTS_SESSION_SQL,
          verified=3, plan_dump=True)


def q_events_asof(spark, sf_dir):
    """As-of join (operator Spark lacks; union+window plan, one shuffle):
    every click matched to the user's most recent prior-or-simultaneous
    view. Oracle is DuckDB's NATIVE ASOF JOIN — two independent
    implementations of the semantics."""
    from picogeojson_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        _ntz_epoch_us("ts").alias("tus"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "tus"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"), "tus"
    )
    return (
        asof_join(clicks, views, by="user_id", ts_col="tus",
                  right_value_cols=["view_event_id"])
        .select("user_id", "event_id", "tus", "r_view_event_id")
        .orderBy("event_id")
    )


Q_EVENTS_ASOF_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
c AS (SELECT user_id, event_id, tus FROM e WHERE event_type = 'click'),
v AS (SELECT user_id, event_id AS view_event_id, tus AS vtus
      FROM e WHERE event_type = 'view')
SELECT c.user_id, c.event_id, c.tus, v.view_event_id AS r_view_event_id
FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.tus >= v.vtus
ORDER BY event_id
"""

_register("events_asof", q_events_asof, Q_EVENTS_ASOF_SQL, verified=3,
          plan_dump=True)


def q_events_range_join(spark, sf_dir):
    """Range (interval) join via 1-D bucket covers — the cell-pruning trick
    applied to numbers: each interval explodes into its covering unit
    buckets (width 17), events equi-join on floor(value/17), and the exact
    BETWEEN refines. Catalyst gets an equi-join it can hash/broadcast
    instead of a BroadcastNestedLoopJoin theta; the oracle is the plain
    theta join. Intervals deliberately overlap (nk%3==2 spills into the
    next bucket) so multi-match rows are exercised."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "value",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    n = _t(spark, sf_dir, "nation")
    lo = F.col("n_nationkey").cast("double") * 17.0
    hi = lo + 9.0 + (F.col("n_nationkey") % 3).cast("double") * 8.0
    bins = n.select(
        F.col("n_nationkey").alias("bin_id"), lo.alias("lo"), hi.alias("hi")
    )
    covers = bins.withColumn(
        "bucket", F.explode(F.sequence(F.floor(F.col("lo") / 17.0),
                                       F.floor(F.col("hi") / 17.0)))
    )
    hits = (
        e.withColumn("bucket", F.floor(F.col("value") / 17.0))
        .join(F.broadcast(covers), on="bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")))
    )
    return hits.select("event_id", "bin_id", "value_cents").orderBy(
        "event_id", "bin_id"
    )


Q_EVENTS_RANGE_SQL = """
WITH bins AS (
  SELECT n_nationkey AS bin_id,
         CAST(n_nationkey AS DOUBLE) * 17.0 AS lo,
         CAST(n_nationkey AS DOUBLE) * 17.0 + 9.0
           + CAST(n_nationkey % 3 AS DOUBLE) * 8.0 AS hi
  FROM nation)
SELECT e.event_id, b.bin_id, CAST(round(e.value * 100) AS BIGINT) AS value_cents
FROM events e JOIN bins b ON e.value >= b.lo AND e.value <= b.hi
ORDER BY event_id, bin_id
"""

_register("events_range_join", q_events_range_join, Q_EVENTS_RANGE_SQL,
          verified=3, plan_dump=True)


def q_pricing_rollup(spark, sf_dir):
    """Grouping-sets rollup (Spark `rollup` == SQL GROUP BY ROLLUP):
    subtotal rows use an explicit 'ALL' sentinel so grouping-null ordering
    semantics (Spark nulls-first vs DuckDB nulls-last) can't skew the
    compare; money in integer cents."""
    l = _t(spark, sf_dir, "lineitem")
    base = l.select(
        "l_returnflag", "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), F.sum("cents").alias("cents_sum"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
            "n_rows", "cents_sum",
        )
        .orderBy("rf", "ls")
    )


Q_PRICING_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY rf, ls
"""

_register("pricing_rollup", q_pricing_rollup, Q_PRICING_ROLLUP_SQL, verified=3,
          plan_dump=True)


def q_geo_poly_intersect(spark, sf_dir):
    """Polygon-polygon intersection join (Raster-Intervals-style fixed-level
    cell-cover candidates -> exact kernel refine: winding-number vertex
    containment + proper edge crossing). Rectangles on a quarter lattice vs
    an eighth-offset lattice (no degenerate touching), so the oracle is
    pure interval arithmetic while the engine runs the general kernel."""
    from picogeojson_spark.operators.poly_join import polygon_intersection_join

    c = _t(spark, sf_dir, "customer")
    ax0 = ((F.col("c_custkey") * 13) % 300).cast("double") / 2 - 90 + 0.25
    ay0 = ((F.col("c_custkey") * 17) % 200).cast("double") / 2 - 60 + 0.25
    gja = F.concat(
        F.lit('{"type": "Polygon", "coordinates": [[['),
        ax0.cast("string"), F.lit(", "), ay0.cast("string"),
        F.lit("], ["),
        (ax0 + 5.5).cast("string"), F.lit(", "), ay0.cast("string"),
        F.lit("], ["),
        (ax0 + 5.5).cast("string"), F.lit(", "), (ay0 + 3.5).cast("string"),
        F.lit("], ["),
        ax0.cast("string"), F.lit(", "), (ay0 + 3.5).cast("string"),
        F.lit("], ["),
        ax0.cast("string"), F.lit(", "), ay0.cast("string"),
        F.lit("]]]}"),
    )
    polys_a = c.select(F.col("c_custkey").alias("a_id"), gja.alias("geometry_json"))

    n = _t(spark, sf_dir, "nation")
    bx0 = ((F.col("n_nationkey") * 29) % 280).cast("double") / 2 - 70 + 0.125
    by0 = ((F.col("n_nationkey") * 31) % 120).cast("double") / 2 - 30 + 0.125
    gjb = F.concat(
        F.lit('{"type": "Polygon", "coordinates": [[['),
        bx0.cast("string"), F.lit(", "), by0.cast("string"),
        F.lit("], ["),
        (bx0 + 12.25).cast("string"), F.lit(", "), by0.cast("string"),
        F.lit("], ["),
        (bx0 + 12.25).cast("string"), F.lit(", "), (by0 + 7.25).cast("string"),
        F.lit("], ["),
        bx0.cast("string"), F.lit(", "), (by0 + 7.25).cast("string"),
        F.lit("], ["),
        bx0.cast("string"), F.lit(", "), by0.cast("string"),
        F.lit("]]]}"),
    )
    polys_b = n.select(F.col("n_nationkey").alias("b_id"), gjb.alias("geometry_json"))

    return polygon_intersection_join(polys_a, polys_b, level=6).orderBy(
        "a_id", "b_id"
    )


Q_GEO_POLY_INTERSECT_SQL = """
WITH a AS (
  SELECT c_custkey AS a_id,
         CAST((c_custkey * 13) % 300 AS DOUBLE) / 2 - 90 + 0.25 AS x0,
         CAST((c_custkey * 17) % 200 AS DOUBLE) / 2 - 60 + 0.25 AS y0
  FROM customer),
b AS (
  SELECT CAST(n_nationkey AS BIGINT) AS b_id,
         CAST((n_nationkey * 29) % 280 AS DOUBLE) / 2 - 70 + 0.125 AS x0,
         CAST((n_nationkey * 31) % 120 AS DOUBLE) / 2 - 30 + 0.125 AS y0
  FROM nation)
SELECT a.a_id, b.b_id
FROM a JOIN b
  ON a.x0 < b.x0 + 12.25 AND b.x0 < a.x0 + 5.5
 AND a.y0 < b.y0 + 7.25 AND b.y0 < a.y0 + 3.5
ORDER BY a_id, b_id
"""

_register("geo_poly_intersect", q_geo_poly_intersect, Q_GEO_POLY_INTERSECT_SQL,
          verified=3, plan_dump=True)


def _ngram_occ_sql(table, n):
    """All word n-gram occurrences (duplicates kept) — oracle counterpart of
    operators.dedup._raw_shingles at arbitrary n."""
    return r"""
SELECT doc_id, array_to_string(toks[i+1:i+{n}], ' ') AS shingle
FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      FROM {table}) t,
     LATERAL (SELECT unnest(range(0, len(toks) - {nm1})) AS i) s
WHERE len(toks) >= {n}
""".format(table=table, n=n, nm1=n - 1)


def q_dedup_ngram_spans(spark, sf_dir):
    """Cross-document duplicated-span fractions (substring dedup at 8-gram
    granularity, Lee et al. 2022 family): per doc, how many of its word
    8-gram occurrences appear in any OTHER document. Explode -> gram-key
    aggregate -> semi-join; never pairwise."""
    from picogeojson_spark.operators.dedup import ngram_span_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_span_stats(docs, n=8).orderBy("doc_id")


Q_DEDUP_NGRAM_SPANS_SQL = """
WITH occ AS ({occ}),
pd AS (SELECT doc_id, shingle, COUNT(*) AS occ FROM occ GROUP BY 1, 2),
dup AS (SELECT shingle FROM pd GROUP BY shingle HAVING COUNT(*) >= 2),
tot AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS total_ngrams
        FROM pd GROUP BY doc_id),
d AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS dup_ngrams
      FROM pd WHERE shingle IN (SELECT shingle FROM dup) GROUP BY doc_id)
SELECT t.doc_id, t.total_ngrams,
       CAST(COALESCE(d.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
       CAST((COALESCE(d.dup_ngrams, 0) * 1000000) // t.total_ngrams
            AS BIGINT) AS dup_frac_x1e6
FROM tot t LEFT JOIN d USING (doc_id) ORDER BY doc_id
""".format(occ=_ngram_occ_sql("documents", 8))

_register("dedup_ngram_spans", q_dedup_ngram_spans, Q_DEDUP_NGRAM_SPANS_SQL,
          verified=3)


def q_decontam_ngram(spark, sf_dir):
    """Benchmark decontamination: training docs (hash-split 'train') that
    share any word 8-gram with the held-out 'test' slice — the GPT-3-style
    n-gram overlap check as a broadcastable gram semi-join."""
    from picogeojson_spark.operators.dedup import (
        contamination_flags,
        hash_split,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    train = s.filter(F.col("split") == "train").drop("split")
    bench = s.filter(F.col("split") == "test").drop("split")
    return contamination_flags(train, bench, n=8).orderBy("doc_id")


Q_DECONTAM_NGRAM_SQL = """
WITH bkt AS (
  SELECT doc_id, text,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000 AS bk
  FROM documents),
tr AS (SELECT doc_id, text FROM bkt WHERE bk < 800),
ev AS (SELECT doc_id, text FROM bkt WHERE bk >= 900),
tg AS (SELECT DISTINCT doc_id, shingle FROM ({tocc}) x),
eg AS (SELECT DISTINCT shingle FROM ({eocc}) y),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM tg WHERE shingle IN (SELECT shingle FROM eg) GROUP BY doc_id)
SELECT t.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT DISTINCT doc_id FROM tg) t
LEFT JOIN hits h USING (doc_id) ORDER BY doc_id
""".format(tocc=_ngram_occ_sql("tr", 8), eocc=_ngram_occ_sql("ev", 8))

_register("decontam_ngram", q_decontam_ngram, Q_DECONTAM_NGRAM_SQL, verified=3)


def q_text_repetition(spark, sf_dir):
    """Gopher repetition filter: per-doc most frequent word 2-gram and the
    fraction of word characters its occurrences cover (x1e6 integer)."""
    from picogeojson_spark.operators.textstats import repetition_top_ngram

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_top_ngram(docs, n=2).orderBy("doc_id")


Q_TEXT_REPETITION_SQL = """
WITH occ AS ({occ}),
counts AS (
  SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM occ GROUP BY 1, 2),
top AS (
  SELECT doc_id, shingle, cnt
  FROM (SELECT doc_id, shingle, cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, shingle ASC) AS rnk
        FROM counts) r
  WHERE rnk = 1),
wc AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(
              regexp_split_to_array(lower(trim(text)), '\\s+'),
              x -> length(x))) AS BIGINT) AS word_chars
  FROM documents)
SELECT t.doc_id, t.shingle AS top_gram, t.cnt AS top_n,
       CAST(CASE WHEN w.word_chars > 0
                 THEN (t.cnt * length(replace(t.shingle, ' ', ''))
                       * 1000000) // w.word_chars
                 ELSE 0 END AS BIGINT) AS rep_frac_x1e6
FROM top t JOIN wc w USING (doc_id) ORDER BY doc_id
""".format(occ=_ngram_occ_sql("documents", 2))

_register("text_repetition", q_text_repetition, Q_TEXT_REPETITION_SQL,
          verified=4)


def q_pack_shards(spark, sf_dir):
    """Training-shard packing: exclusive prefix sum of n_chars in doc_id
    order, cut every 100k — two-level scan (bucketed windows + tiny bucket
    prefix), never a single global window task."""
    from picogeojson_spark.operators.packing import pack_token_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_token_shards(docs, budget=100000).orderBy("doc_id")


Q_PACK_SHARDS_SQL = """
WITH c AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         CAST(COALESCE(SUM(n_chars) OVER (
              ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_offset
  FROM documents)
SELECT doc_id, weight, start_offset,
       CAST(start_offset // 100000 AS BIGINT) AS shard_id
FROM c ORDER BY doc_id
"""

_register("pack_shards", q_pack_shards, Q_PACK_SHARDS_SQL, verified=4)


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings (md5-sample
    quantizer, nearest-centroid lists), drop within-cluster near-dups
    (cosine >= 0.3) keeping the minimum-id representative. The oracle
    replays the identical assignment + keep rule in SQL."""
    from picogeojson_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, threshold=0.3, nlist=16).orderBy("vec_id")


Q_SEMDEDUP_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
              AS INTEGER) AS list_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
cassign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.v, c.c) DESC,
                                       c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c) t WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cassign a
  JOIN cassign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE list_dot_product(ea.v, eb.v)
        / (sqrt(list_dot_product(ea.v, ea.v))
           * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3)
SELECT c.vec_id, c.list_id,
       c.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
FROM cassign c ORDER BY vec_id
"""

_register("semdedup", q_semdedup, Q_SEMDEDUP_SQL, verified=4)


def q_bm25_search(spark, sf_dir):
    """BM25 top-20 ranked retrieval for a fixed bag-of-words query over the
    documents table (Lucene idf variant; per-term scores floor-scaled to
    x1e6 integers pre-sum, so no cross-engine float accumulation)."""
    from picogeojson_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(
        docs, ["hash", "join", "vector", "stream"], k=20
    ).orderBy("rank")


def _bm25_sql(terms, k):
    from picogeojson_spark.operators.retrieval import bm25_score_expr_sql

    tlist = ", ".join("'%s'" % t for t in sorted(set(terms)))
    return r"""
WITH w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents),
wnz AS (SELECT doc_id, word FROM w WHERE word <> ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM wnz GROUP BY doc_id),
sc AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wnz
       WHERE word IN ({tlist}) GROUP BY doc_id, word),
dfq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM wnz
        WHERE word IN ({tlist}) GROUP BY word),
s AS (
  SELECT t.doc_id, {score} AS term_score_x1e6
  FROM tf t JOIN dfq USING (word) JOIN dl USING (doc_id) CROSS JOIN sc),
pd AS (SELECT doc_id, COUNT(*) AS n_hit,
              CAST(SUM(term_score_x1e6) AS BIGINT) AS score_x1e6
       FROM s GROUP BY doc_id),
tk AS (SELECT doc_id, n_hit, score_x1e6,
              ROW_NUMBER() OVER (ORDER BY score_x1e6 DESC, doc_id ASC) AS rank
       FROM pd)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, n_hit, score_x1e6
FROM tk WHERE rank <= {k} ORDER BY rank
""".format(tlist=tlist, score=bm25_score_expr_sql(), k=k)


_register("bm25_search", q_bm25_search,
          _bm25_sql(["hash", "join", "vector", "stream"], 20), verified=4)


def q_search_fusion(spark, sf_dir):
    """Hybrid-search reciprocal-rank fusion (Cormack et al. 2009;
    operators/retrieval.py:rrf_fuse): the BM25 arm and the raw-tf arm
    (top-30 each, both integer-exact rankings) fuse via
    1e6 // (60 + rank) milli-points per system — integer division, so
    both engines round identically; docs in one arm only keep the other
    rank NULL.  The arms reduce the corpus before fusion, so the
    full-outer join and final sort run on top-k-sized tables."""
    from picogeojson_spark.operators.retrieval import (
        bm25_topk, rrf_fuse, tf_topk)

    docs = _t(spark, sf_dir, "documents")
    terms = ["hash", "join", "vector", "stream"]
    bm = bm25_topk(docs, terms, k=30)
    tf = tf_topk(docs, terms, k=30)
    return rrf_fuse([("bm25", bm), ("tf", tf)],
                    top_k=20).orderBy("rank_fused")


def _q_search_fusion_sql():
    terms = ["hash", "join", "vector", "stream"]
    tlist = ", ".join("'%s'" % t for t in sorted(set(terms)))
    return r"""
WITH bm AS (SELECT * FROM ({bm})),
tfw AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents),
tfa AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf_sum
  FROM tfw WHERE word IN ({tlist}) GROUP BY doc_id),
tfq AS (
  SELECT CAST(row_number() OVER (ORDER BY tf_sum DESC, doc_id)
              AS BIGINT) AS rank, doc_id
  FROM tfa QUALIFY rank <= 30),
f AS (
  SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
         CAST(b.rank AS BIGINT) AS rank_bm25,
         CAST(t.rank AS BIGINT) AS rank_tf,
         CAST(COALESCE(1000000 // (60 + b.rank), 0)
              + COALESCE(1000000 // (60 + t.rank), 0) AS BIGINT)
           AS rrf_ppm
  FROM bm b FULL OUTER JOIN tfq t ON b.doc_id = t.doc_id)
SELECT CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id)
            AS BIGINT) AS rank_fused,
       doc_id, rrf_ppm, rank_bm25, rank_tf
FROM f QUALIFY rank_fused <= 20 ORDER BY rank_fused
""".format(bm=_bm25_sql(terms, 30).strip(), tlist=tlist)


_register("search_fusion", q_search_fusion, _q_search_fusion_sql(), verified=5,
          plan_dump=True)


def q_graph_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank (8 iterations, d=0.85) over the
    customer->supplier purchase graph (distinct (o_custkey, l_suppkey)
    pairs through orders' line items; supplier ids shifted +1e7). All
    integer arithmetic -> bit-identical across engines and partitionings;
    the oracle unrolls the same iterations in SQL."""
    from picogeojson_spark.operators.graph import pagerank, purchase_graph

    edges = purchase_graph(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    return pagerank(edges, iterations=8).orderBy(
        F.desc("rank"), F.asc("node")
    )


def _pagerank_sql(iterations=8, damping_pct=85, scale=10**12):
    base_expr = "((({s}) // p.n) * {omd}) // 100".format(
        s=scale, omd=100 - damping_pct
    )
    parts = [
        """
WITH e AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 10000000 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
p AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(({s}) // p.n AS BIGINT) AS rank
       FROM nodes CROSS JOIN p)""".format(s=scale)
    ]
    for i in range(1, iterations + 1):
        parts.append(
            """,
r{i} AS (
  SELECT n.node,
         CAST({base} + (COALESCE(c.contrib, 0) * {d}) // 100 AS BIGINT)
           AS rank
  FROM nodes n CROSS JOIN p
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS contrib
    FROM r{prev} r JOIN e ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) c ON n.node = c.node)""".format(
                i=i, prev=i - 1, base=base_expr, d=damping_pct
            )
        )
    parts.append(
        "\nSELECT node, rank FROM r{n} ORDER BY rank DESC, node ASC".format(
            n=iterations
        )
    )
    return "".join(parts)


_register("graph_pagerank", q_graph_pagerank, _pagerank_sql(), verified=4,
          plan_dump=True)


def q_graph_linkpred(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction (Liben-Nowell &
    Kleinberg) over a deterministic slice of the customer-supplier
    purchase graph (operators/graph.py:link_prediction): candidate pairs
    from ONE wedge self-join on the middle vertex (never all-pairs),
    existing edges removed by a left-anti equi-join, degrees via two
    node-sized joins; jaccard_ppm is integer division so both engines
    round identically.  On the bipartite graph the output is the
    "customers with overlapping supplier sets / suppliers with shared
    customers" similarity table.  Top-200 by (common_n, jaccard) with a
    full (u, v) tie-break -> deterministic LIMIT."""
    from picogeojson_spark.operators.graph import link_prediction, \
        purchase_graph

    edges = purchase_graph(
        _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0),
        _t(spark, sf_dir, "lineitem"),
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return link_prediction(edges).orderBy(
        F.desc("common_n"), F.desc("jaccard_ppm"), "u", "v").limit(200)


Q_GRAPH_LINKPRED_SQL = """
WITH e AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS u,
         CAST(l_suppkey AS BIGINT) + 10000000 AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey % 10 = 0),
sym AS (SELECT u AS a, v AS m FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a),
pairs AS (
  SELECT l.a AS u, r.a AS v, CAST(COUNT(*) AS BIGINT) AS common_n
  FROM sym l JOIN sym r ON l.m = r.m
  WHERE l.a < r.a
  GROUP BY l.a, r.a),
fresh AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = p.u AND e.v = p.v))
SELECT f.u, f.v, f.common_n,
       du.deg AS deg_u, dv.deg AS deg_v,
       CAST((f.common_n * 1000000)
            // (du.deg + dv.deg - f.common_n) AS BIGINT) AS jaccard_ppm
FROM fresh f
JOIN deg du ON du.a = f.u
JOIN deg dv ON dv.a = f.v
ORDER BY f.common_n DESC, jaccard_ppm DESC, f.u, f.v
LIMIT 200
"""


_register("graph_linkpred", q_graph_linkpred, Q_GRAPH_LINKPRED_SQL, verified=5,
          plan_dump=True)


# ---------------------------------------------------------------------------
# round-3 late batch B: line-level cleaning, mixture balancing, hashed
# linear quality, URL canonicalization
# ---------------------------------------------------------------------------

# boilerplate injected deterministically so the dedup_lines query has real
# cross-document duplicate lines to remove (both engines build the SAME
# augmented text; concat_ws skips NULL parts in Spark and DuckDB alike)
_LINES_F1 = "JOIN OUR NEWSLETTER TODAY"
_LINES_F2 = "COPYRIGHT 2025 EXAMPLE CORP"


def q_dedup_lines(spark, sf_dir):
    """CCNet-style duplicate-LINE removal: lines present in >= 2 distinct
    documents (navigation bars, footers) are struck from every document
    before document-level dedup. Counting keys on md5(line) so the
    shuffle ships digests, not boilerplate strings; whitespace-only lines
    never participate and are preserved verbatim; reassembly is a per-doc
    in-row sort (no corpus-wide window). Input is documents with a
    deterministic boilerplate footer injected into slices of the corpus."""
    from picogeojson_spark.operators.lines import remove_duplicate_lines

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_LINES_F1)),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_LINES_F2)),
        ).alias("text"),
    )
    return remove_duplicate_lines(aug, min_docs=2).orderBy("doc_id")


Q_DEDUP_LINES_SQL = r"""
WITH d AS (
  SELECT doc_id,
         concat_ws(chr(10), text,
           CASE WHEN doc_id % 2 = 0 THEN 'JOIN OUR NEWSLETTER TODAY' END,
           CASE WHEN doc_id % 3 = 0 THEN ' ' END,
           CASE WHEN doc_id % 3 = 0 THEN 'COPYRIGHT 2025 EXAMPLE CORP' END)
           AS text
  FROM documents),
l AS (
  SELECT doc_id, s.i AS pos, t.lines[s.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d) t,
       LATERAL (SELECT unnest(range(1, len(t.lines) + 1)) AS i) s),
hot AS (
  SELECT md5(line) AS line_h FROM l WHERE trim(line) <> ''
  GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) >= 2),
kept AS (
  SELECT doc_id, pos, line FROM l
  WHERE md5(line) NOT IN (SELECT line_h FROM hot)),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(r.text_clean, '') AS text_clean
FROM tot t LEFT JOIN reb r USING (doc_id)
ORDER BY doc_id
"""

_register("dedup_lines", q_dedup_lines, Q_DEDUP_LINES_SQL, verified=4,
          plan_dump=True)


def q_sample_mixture(spark, sf_dir):
    """Rate-based mixture balancing: every language downsampled to an
    EXPECTED 100 documents (small languages kept whole) with membership a
    pure hash function of doc_id — re-cuttable, growth-stable, and
    exchange-free on the corpus path (only a #langs-row broadcast)."""
    from picogeojson_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(
        docs, cap=100, source_col="lang"
    ).select("doc_id", "lang").orderBy("doc_id")


Q_SAMPLE_MIXTURE_SQL = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN c USING (lang)
WHERE CAST(('0x' || substring(md5('mix0:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 1000000
      < LEAST(1000000, (1000000 * 100) // n)
ORDER BY doc_id
"""

_register("sample_mixture", q_sample_mixture, Q_SAMPLE_MIXTURE_SQL, verified=4)


def q_text_quality_linear(spark, sf_dir):
    """Hashed-feature linear quality classifier (fastText-style): tokens
    hash into 64 feature buckets, the doc score is the integer sum of
    bucket weights over occurrences, keep = score >= 0. Weights embedded
    as a literal broadcast array (no join, no HOF re-evaluation trap);
    the oracle recomputes the same md5-derived weights inline."""
    from picogeojson_spark.operators.textstats import linear_quality

    return linear_quality(
        _t(spark, sf_dir, "documents"), n_buckets=64
    ).orderBy("doc_id")


Q_TEXT_QUALITY_LINEAR_SQL = r"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents),
nz AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
b AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5('w0:' || tok), 1, 8)) AS BIGINT) % 64
           AS bkt
  FROM nz),
s AS (
  SELECT doc_id,
         CAST(SUM(CAST(('0x' || substring(md5('w0:' || CAST(bkt AS VARCHAR)),
                                          1, 8)) AS BIGINT) % 2001 - 1000)
              AS BIGINT) AS score,
         COUNT(*) AS n_tokens
  FROM b GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(s.score, 0) >= 0 AS keep
FROM documents d LEFT JOIN s USING (doc_id)
ORDER BY doc_id
"""

_register("text_quality_linear", q_text_quality_linear,
          Q_TEXT_QUALITY_LINEAR_SQL, verified=4)


def q_text_surprisal(spark, sf_dir):
    """Per-document mean unigram surprisal vs the corpus's own unigram
    model (the integer-exact cousin of CCNet's LM-perplexity filter):
    surprisal per occurrence = bitlen(total) - bitlen(count(tok)), pure
    length(bin(x)) integer arithmetic replayed bit-for-bit by the oracle.
    Tokens pre-aggregate to (doc, tok) multiplicities so the vocab join's
    skew is bounded; the corpus total is a 1-row broadcast attached to the
    vocab (the allow-listed scalar pattern, same as bm25_search)."""
    from picogeojson_spark.operators.textstats import unigram_surprisal

    return unigram_surprisal(
        _t(spark, sf_dir, "documents")
    ).orderBy("doc_id")


def _q_text_surprisal_oracle():
    from picogeojson_spark.operators.textstats import (
        unigram_surprisal_oracle_sql,
    )

    return unigram_surprisal_oracle_sql("SELECT doc_id, text FROM documents")


_register("text_surprisal", q_text_surprisal, _q_text_surprisal_oracle(),
          verified=4, plan_dump=True)


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer trainer (Sennrich 2016): the 8 most
    frequent symbol-pair merges learned over the corpus vocabulary. One
    corpus-sized shuffle builds the word-frequency table; every round
    after that is a vocab-sized pair aggregate + a 1-row argmax collect
    (the k-means-quantizer precedent) + a codegen replace. Deterministic
    tie-break (count desc, pair asc); the oracle unrolls the 8 rounds as
    a CTE chain, so the hash match certifies the whole induction."""
    from picogeojson_spark.operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)


def _q_bpe_oracle():
    from picogeojson_spark.operators.bpe import bpe_train_oracle_sql

    return bpe_train_oracle_sql("SELECT text FROM documents", n_merges=8)


_register("bpe_merges", q_bpe_merges, _q_bpe_oracle(), verified=4,
          plan_dump=True)


_FUNNEL_STEPS = ["view", "click", "purchase"]
_FUNNEL_GAP_US = 3_600_000_000  # 1 hour


def q_events_funnel(spark, sf_dir):
    """Ordered 3-step conversion funnel (view -> click -> purchase, each
    within 1 hour of the previous) with earliest-completion greedy
    semantics. Step k is one equi-join of the type-filtered step events
    against the shrinking user frontier + a map-side-combined min — never
    a per-user collect_list, so power users stream like any key.
    Timestamps are pure-NTZ epoch micros (no session-tz involvement)."""
    from picogeojson_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _ntz_epoch_us("ts").alias("ts_us")
    )
    return funnel_counts(ev, _FUNNEL_STEPS, _FUNNEL_GAP_US)


def _q_funnel_oracle():
    from picogeojson_spark.operators.funnel import funnel_oracle_sql

    return funnel_oracle_sql(
        "SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events",
        _FUNNEL_STEPS, _FUNNEL_GAP_US,
    )


_register("events_funnel", q_events_funnel, _q_funnel_oracle(), verified=4,
          plan_dump=True)


def q_events_cohort(spark, sf_dir):
    """Weekly cohort retention: users bucketed by first-activity week,
    counted when active again k weeks later (k = 0..8). One min-aggregate
    for cohorts, one distinct for (user, week) activity, a user-keyed
    join, and a bounded (cohorts x offsets) count-distinct rollup — no
    per-user windows. Integer weeks from pure-NTZ epoch micros."""
    from picogeojson_spark.operators.cohort import cohort_retention

    ev = _t(spark, sf_dir, "events").select(
        "user_id", _ntz_epoch_us("ts").alias("ts_us")
    )
    return cohort_retention(ev, max_offset=8)


def _q_cohort_oracle():
    from picogeojson_spark.operators.cohort import cohort_oracle_sql

    return cohort_oracle_sql(
        "SELECT user_id, epoch_us(ts) AS ts_us FROM events", max_offset=8)


_register("events_cohort", q_events_cohort, _q_cohort_oracle(), verified=4,
          plan_dump=True)


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup flagging — the nightly-crawl flow: the odd-id
    half of `documents` (the increment) probes the even-id half (the
    corpus) through LSH band keys; band collisions are exact-verified by
    3-gram Jaccard >= 0.5 and each flagged doc reports its smallest
    matching corpus id. The corpus is never self-joined."""
    from picogeojson_spark.operators.dedup import dedup_against

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup_against(existing, incoming, n=3, num_hashes=16, bands=4,
                         threshold=0.5).orderBy("doc_id")


def _q_dedup_incremental_oracle():
    sig_cols = ",\n       ".join(
        "MIN(md5('{i}:' || shingle)) AS sig_{i}".format(i=i)
        for i in range(16))

    def bands_sql(sigs):
        return "\nUNION ALL\n".join(
            "SELECT doc_id, {b} AS band, sig_{a0} || sig_{a1} || sig_{a2} "
            "|| sig_{a3} AS key FROM {s}".format(
                b=b, a0=4 * b, a1=4 * b + 1, a2=4 * b + 2, a3=4 * b + 3,
                s=sigs)
            for b in range(4))

    return """
WITH exd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
incd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
she AS ({sh_ex}),
shi AS ({sh_inc}),
sige AS (SELECT doc_id, {sig_cols} FROM she GROUP BY doc_id),
sigi AS (SELECT doc_id, {sig_cols} FROM shi GROUP BY doc_id),
bande AS ({bands_ex}),
bandi AS ({bands_inc}),
cand AS (
  SELECT DISTINCT i.doc_id AS inc_id, e.doc_id AS ex_id
  FROM bandi i JOIN bande e ON i.band = e.band AND i.key = e.key),
size_e AS (SELECT doc_id, COUNT(*) AS sz FROM she GROUP BY doc_id),
size_i AS (SELECT doc_id, COUNT(*) AS sz FROM shi GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS inc_id, b.doc_id AS ex_id, COUNT(*) AS inter_sz
  FROM shi a JOIN she b ON a.shingle = b.shingle
  GROUP BY 1, 2),
verified AS (
  SELECT c.inc_id, c.ex_id,
         CAST(i.inter_sz AS BIGINT) AS inter_sz,
         CAST(si.sz + se.sz - i.inter_sz AS BIGINT) AS union_sz
  FROM cand c
  JOIN inter i ON i.inc_id = c.inc_id AND i.ex_id = c.ex_id
  JOIN size_i si ON si.doc_id = c.inc_id
  JOIN size_e se ON se.doc_id = c.ex_id
  WHERE i.inter_sz >= 0.5 * (si.sz + se.sz - i.inter_sz))
SELECT inc_id AS doc_id, ex_id AS dup_of, inter_sz, union_sz
FROM verified
QUALIFY ROW_NUMBER() OVER (PARTITION BY inc_id ORDER BY ex_id ASC) = 1
ORDER BY doc_id
""".format(sh_ex=_shingles_sql("exd").strip(),
           sh_inc=_shingles_sql("incd").strip(),
           sig_cols=sig_cols,
           bands_ex=bands_sql("sige"), bands_inc=bands_sql("sigi"))


_register("dedup_incremental", q_dedup_incremental,
          _q_dedup_incremental_oracle(), verified=4, plan_dump=True)


def q_text_quality_adaptive(spark, sf_dir):
    """Adaptive per-language quality thresholding (CCNet-style): keep the
    top 30% of docs per lang by stopword density, cutoff learned from each
    group's own distribution. The bounded-integer score turns the exact
    percentile into a histogram problem — prefix scan over <= 1e6 rows per
    group, the corpus itself is never sorted; cutoffs broadcast back."""
    from picogeojson_spark.operators.textstats import quality_percentile_flags

    return quality_percentile_flags(
        _t(spark, sf_dir, "documents"), keep_pct=30
    ).orderBy("doc_id")


def _q_quality_adaptive_oracle():
    from picogeojson_spark.operators.textstats import (
        quality_percentile_oracle_sql,
    )

    return quality_percentile_oracle_sql(
        "SELECT doc_id, lang, text FROM documents", keep_pct=30)


_register("text_quality_adaptive", q_text_quality_adaptive,
          _q_quality_adaptive_oracle(), verified=4, plan_dump=True)


def q_text_drift(spark, sf_dir):
    """Corpus drift monitor: top-50 tokens by frequency shift between two
    snapshots (the even-id and odd-id halves of `documents`). Integer
    chi-square-flavored score on parts-per-million rates — scale-free and
    a pure function of the two token multisets. Vocab-sized full-outer
    join + two 1-row scalar broadcasts + global top-k; the corpus itself
    is touched once per side."""
    from picogeojson_spark.operators.textstats import token_drift

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    return token_drift(a, b, k=50)


def _q_text_drift_oracle():
    from picogeojson_spark.operators.textstats import token_drift_oracle_sql

    return token_drift_oracle_sql(
        "SELECT text FROM documents WHERE doc_id % 2 = 0",
        "SELECT text FROM documents WHERE doc_id % 2 = 1", k=50)


_register("text_drift", q_text_drift, _q_text_drift_oracle(), verified=4,
          plan_dump=True)


def q_stream_hll(spark, sf_dir):
    """Streaming distinct-count sketching with a FULL oracle: the HLL
    register build (one max-aggregate — registers merge by max, so
    streaming partial aggregation is exactly the batch map-side combine)
    runs as a structured-streaming query over the events parquet
    (availableNow, complete mode); the estimate fold + exact comparison
    then run in batch on the materialized register table. Output is
    identical to `sketch_hll`, so the oracle hash-checks the streaming
    build path end to end."""
    from picogeojson_spark.operators.sketches import hll_build, hll_estimate

    src = (
        spark.readStream.schema(_EVENTS_DDL)
        .parquet(_stream_dir(sf_dir, "events"))
    )
    regs = _run_stream(spark, hll_build(src, ["event_type"], "user_id", p=6),
                       "stream_hll", "complete")
    est = hll_estimate(regs, ["event_type"], p=6)
    exact = _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "v_zero", "est", "exact")
        .orderBy("event_type")
    )


def _q_hll_oracle():
    """Oracle of both stream_hll and sketch_hll: the streaming build is the
    same pure function as the batch one."""
    from picogeojson_spark.operators.sketches import hll_oracle_sql

    return hll_oracle_sql(
        "SELECT event_type, user_id FROM events", "event_type", "user_id",
        p=6,
    )


_register("stream_hll", q_stream_hll, _q_hll_oracle(), verified=4, bench=False)


# deterministic messy-URL construction shared by the two web queries: five
# real-world URL pathologies (default ports, WWW + case, fragments,
# userinfo, portless hosts) cycled by doc_id so canonicalization has work
# to do on every row. Both engines build byte-identical inputs.
def _messy_url_col():
    did = F.col("doc_id").cast("string")
    # (doc_id div 3) % 5: decorrelated from source (= doc_id % 20), so
    # every source hits every URL pathology and every TLD
    _sel5 = F.expr("(doc_id div 3) % 5")
    return (
        F.when(_sel5 == 0, F.concat(
            F.lit("HTTP://WWW."), F.col("source"), F.lit(".COM:80/"),
            F.col("lang"), F.lit("/p"), did, F.lit("#frag")))
        .when(_sel5 == 1, F.concat(
            F.lit("https://news."), F.col("source"), F.lit(".com:443/a/"),
            did, F.lit("?q=1&x=2")))
        .when(_sel5 == 2, F.concat(
            F.lit("http://m."), F.col("source"), F.lit(".org:8080/"),
            did))
        .when(_sel5 == 3, F.concat(
            F.lit("https://user:pw@"), F.col("source"),
            F.lit(".NET/x/"), did, F.lit("/")))
        .otherwise(F.concat(
            F.lit("https://cdn."), F.col("source"), F.lit(".com")))
    )


_MESSY_URL_SQL = """
  CASE (doc_id // 3) % 5
    WHEN 0 THEN 'HTTP://WWW.' || source || '.COM:80/' || lang
                || '/p' || CAST(doc_id AS VARCHAR) || '#frag'
    WHEN 1 THEN 'https://news.' || source || '.com:443/a/'
                || CAST(doc_id AS VARCHAR) || '?q=1&x=2'
    WHEN 2 THEN 'http://m.' || source || '.org:8080/'
                || CAST(doc_id AS VARCHAR)
    WHEN 3 THEN 'https://user:pw@' || source || '.NET/x/'
                || CAST(doc_id AS VARCHAR) || '/'
    ELSE 'https://cdn.' || source || '.com'
  END
"""

# the oracle's replay of web.url_parts/normalize_url (every regex anchored
# or matching to end-of-string, so DuckDB's replace-first == Spark's
# replace-all)
_WEB_NORM_CTES = r"""
u AS (SELECT doc_id, {url} AS url FROM documents),
p AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u1 FROM u),
q AS (
  SELECT doc_id,
         lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         regexp_replace(u1, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM p),
r AS (SELECT doc_id, scheme, rest,
             regexp_extract(rest, '^([^/?]*)', 1) AS hostport FROM q),
s AS (
  SELECT doc_id, scheme,
         CASE WHEN length(rest) > length(hostport)
              THEN substring(rest, length(hostport) + 1) ELSE '' END AS pathq,
         regexp_replace(hostport, '^[^@]*@', '') AS hp
  FROM r),
t AS (
  SELECT doc_id, scheme, pathq,
         regexp_extract(hp, ':([0-9]+)$', 1) AS port,
         lower(regexp_replace(hp, ':[0-9]+$', '')) AS host0
  FROM s),
v AS (
  SELECT doc_id, scheme, pathq, port,
         regexp_replace(host0, '^www\.', '') AS host,
         CASE WHEN regexp_extract(regexp_replace(host0, '^www\.', ''),
                                  '([^.]+\.[^.]+)$', 1) = ''
              THEN regexp_replace(host0, '^www\.', '')
              ELSE regexp_extract(regexp_replace(host0, '^www\.', ''),
                                  '([^.]+\.[^.]+)$', 1) END AS domain
  FROM t),
n AS (
  SELECT doc_id, host, domain,
         scheme || '://' || host ||
         CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                   OR (scheme = 'https' AND port = '443'))
              THEN ':' || port ELSE '' END ||
         CASE WHEN pathq = '' THEN '/' ELSE pathq END AS url_norm
  FROM v)
""".format(url=_MESSY_URL_SQL)


def q_web_canonical(spark, sf_dir):
    """URL canonicalization over a messy-URL corpus: fragment/userinfo/
    default-port stripping, case folding, www removal, naive eTLD+1 —
    all scan-stage codegen expressions (zero shuffles, zero UDFs)."""
    from picogeojson_spark.operators.web import canonicalize

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).withColumn("url", _messy_url_col())
    return canonicalize(d).select(
        "doc_id", "url_norm", "host", "domain"
    ).orderBy("doc_id")


Q_WEB_CANONICAL_SQL = (
    "WITH " + _WEB_NORM_CTES
    + "\nSELECT doc_id, url_norm, host, domain FROM n ORDER BY doc_id"
)

_register("web_canonical", q_web_canonical, Q_WEB_CANONICAL_SQL, verified=4)


def q_web_keep_latest(spark, sf_dir):
    """Recrawl dedup: latest fetch per canonical URL (max crawl ts,
    doc-id-desc tie-break). The cdn pathology maps every ~15th doc of a
    source onto ONE canonical URL, so real collisions are exercised.
    Per-key top-1 window — partitions are recrawl-sized, WindowGroupLimit
    cuts rank<=1 map-side. Crawl ts is a deterministic integer derived
    from doc_id (same arithmetic in the oracle)."""
    from picogeojson_spark.operators.web import canonicalize, keep_latest

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).withColumn("url", _messy_url_col())
    c = canonicalize(d).withColumn(
        "crawl_ts", F.expr("(doc_id * 7919) % 100000").cast("long"))
    return keep_latest(c).select(
        "doc_id", "url_norm", "crawl_ts"
    ).orderBy("doc_id")


Q_WEB_KEEP_LATEST_SQL = (
    "WITH " + _WEB_NORM_CTES
    + """,
w AS (
  SELECT doc_id, url_norm,
         CAST((doc_id * 7919) % 100000 AS BIGINT) AS crawl_ts
  FROM n)
SELECT doc_id, url_norm, crawl_ts
FROM w
QUALIFY ROW_NUMBER() OVER (PARTITION BY url_norm
                           ORDER BY crawl_ts DESC, doc_id DESC) = 1
ORDER BY doc_id
"""
)

_register("web_keep_latest", q_web_keep_latest, Q_WEB_KEEP_LATEST_SQL,
          verified=4, plan_dump=True)


def q_web_frontier(spark, sf_dir):
    """Politeness-aware crawl-frontier scheduling over the canonicalized,
    recrawl-deduped URL set: rank within domain by (priority desc, url
    asc), fetch_window = (rank-1) div 2 -> no domain exceeds 2 fetches
    per window. Priority is a deterministic integer from doc_id. One
    per-domain ranking window; domains are independent."""
    from picogeojson_spark.operators.web import (
        canonicalize,
        keep_latest,
        schedule_frontier,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).withColumn("url", _messy_url_col())
    c = canonicalize(d).withColumn(
        "crawl_ts", F.expr("(doc_id * 7919) % 100000").cast("long"))
    latest = keep_latest(c).withColumn(
        "priority", F.expr("(doc_id * 31) % 1000").cast("long"))
    return schedule_frontier(latest, per_domain=2).select(
        "doc_id", "url_norm", "domain", "priority",
        "rank_in_domain", "fetch_window",
    ).orderBy("doc_id")


Q_WEB_FRONTIER_SQL = (
    "WITH " + _WEB_NORM_CTES
    + """,
w AS (
  SELECT doc_id, url_norm, domain,
         CAST((doc_id * 7919) % 100000 AS BIGINT) AS crawl_ts
  FROM n),
latest AS (
  SELECT doc_id, url_norm, domain,
         CAST((doc_id * 31) % 1000 AS BIGINT) AS priority
  FROM w
  QUALIFY ROW_NUMBER() OVER (PARTITION BY url_norm
                             ORDER BY crawl_ts DESC, doc_id DESC) = 1),
sched AS (
  SELECT doc_id, url_norm, domain, priority,
         CAST(ROW_NUMBER() OVER (PARTITION BY domain
                                 ORDER BY priority DESC, url_norm ASC)
              AS BIGINT) AS rank_in_domain
  FROM latest)
SELECT doc_id, url_norm, domain, priority, rank_in_domain,
       CAST((rank_in_domain - 1) // 2 AS BIGINT) AS fetch_window
FROM sched ORDER BY doc_id
"""
)

_register("web_frontier", q_web_frontier, Q_WEB_FRONTIER_SQL, verified=4)


def q_web_domain_stats(spark, sf_dir):
    """Per-registrable-domain rollup (page count + distinct hosts) over
    canonicalized URLs: the politeness/quota aggregation — one hash agg
    keyed by domain, canonicalization free in the scan stage."""
    from picogeojson_spark.operators.web import domain_stats

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).withColumn("url", _messy_url_col())
    return domain_stats(d).orderBy("domain")


Q_WEB_DOMAIN_STATS_SQL = (
    "WITH " + _WEB_NORM_CTES
    + """
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
FROM n GROUP BY domain ORDER BY domain"""
)

_register("web_domain_stats", q_web_domain_stats, Q_WEB_DOMAIN_STATS_SQL,
          verified=4)


def q_pii_redact(spark, sf_dir):
    """PII scrub (emails / IPv4 / phone numbers): counts on the original
    text + sequentially redacted text_clean, all whole-stage-codegen
    regex expressions riding the scan (zero shuffles, zero UDFs). The
    regexes stay in the Java/RE2-agreeing dialect subset; DuckDB replays
    them with the 'g' flag. PII strings are injected deterministically
    (both engines build the same augmented text)."""
    from picogeojson_spark.operators.pii import redact_pii

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.when(i % 3 == 0, F.concat(
                F.lit("reach user"), i.cast("string"),
                F.lit("@mail-example.com today"))),
            F.when(i % 4 == 0, F.concat(
                F.lit("from 10."), (i % 200).cast("string"),
                F.lit(".0."), (i % 100).cast("string"),
                F.lit(" port 8080"))),
            F.when(i % 5 == 0, F.concat(
                F.lit("call +49"),
                (F.lit(1500000000) + i % 1000000).cast("string"),
                F.lit(" now"))),
        ).alias("text"),
    )
    return redact_pii(aug).orderBy("doc_id")


def _pii_aug_sql():
    return """
  SELECT doc_id,
         concat_ws(' ', text,
           CASE WHEN doc_id % 3 = 0 THEN 'reach user' || CAST(doc_id AS VARCHAR)
                || '@mail-example.com today' END,
           CASE WHEN doc_id % 4 = 0 THEN 'from 10.'
                || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                || CAST(doc_id % 100 AS VARCHAR) || ' port 8080' END,
           CASE WHEN doc_id % 5 = 0 THEN 'call +49'
                || CAST(1500000000 + doc_id % 1000000 AS VARCHAR)
                || ' now' END) AS text
  FROM documents"""


def _q_pii_oracle():
    from picogeojson_spark.operators.pii import pii_oracle_sql
    return pii_oracle_sql(_pii_aug_sql())


_register("pii_redact", q_pii_redact, _q_pii_oracle(), verified=4,
          plan_dump=True)


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: cut every document's whitespace token
    stream into 32-token chunks. One posexplode of the in-row FILTERED
    token array (compact positions without any rank window — the filter
    lambda touches only its own variable, the safe side of the
    interpreted-HOF line) + one hash shuffle whose doc_id clustering
    already covers the (doc_id, chunk_id) groupBy."""
    from picogeojson_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, 32).orderBy("doc_id", "chunk_id")


def _q_chunk_oracle():
    from picogeojson_spark.operators.chunking import chunking_oracle_sql
    return chunking_oracle_sql("SELECT doc_id, text FROM documents", 32)


_register("chunk_documents", q_chunk_documents, _q_chunk_oracle(), verified=4,
          plan_dump=True)


_CMS_TERMS = ["agg", "hash", "join", "spark", "window", "zebra-absent"]
_CMS_DEPTH, _CMS_WIDTH = 4, 16


def q_sketch_cms(spark, sf_dir):
    """Count-min sketch frequency estimates vs exact counts: the sketch is
    built in one linear pass (token explode -> depth-way fan-out -> hash
    agg bounded at depth*width counters, map-side combined), then point-
    queried for a fixed term list with the sketch broadcast. width=16 is
    deliberately tiny so bucket collisions are REAL and the min-over-rows
    estimate (and its est >= exact one-sided guarantee) is exercised, not
    vacuous. All md5 arithmetic replayed bit-for-bit by the oracle."""
    from picogeojson_spark.operators.sketches import cms_build, cms_estimate

    d = _t(spark, sf_dir, "documents")
    sketch = cms_build(d, depth=_CMS_DEPTH, width=_CMS_WIDTH)
    terms = spark.createDataFrame([(t,) for t in _CMS_TERMS], "term string")
    est = cms_estimate(sketch, terms, depth=_CMS_DEPTH, width=_CMS_WIDTH)
    toks = d.select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+", -1),
                     lambda x: F.length(x) > 0)
        ).alias("term")
    )
    exact = (
        toks.filter(F.col("term").isin(_CMS_TERMS))
        .groupBy("term").agg(F.count("*").cast("long").alias("exact"))
    )
    return (
        est.join(exact, "term", "left")
        .select("term", "est",
                F.coalesce("exact", F.lit(0).cast("long")).alias("exact"))
        .orderBy("term")
    )


def _q_cms_oracle():
    from picogeojson_spark.operators.sketches import cms_oracle_sql
    terms_sql = "SELECT unnest([{}]) AS term".format(
        ", ".join("'{}'".format(t) for t in _CMS_TERMS))
    return cms_oracle_sql("SELECT text FROM documents", terms_sql,
                          _CMS_DEPTH, _CMS_WIDTH)


_register("sketch_cms", q_sketch_cms, _q_cms_oracle(), verified=4,
          plan_dump=True)


def q_sketch_hll(spark, sf_dir):
    """HyperLogLog distinct-user count per event type vs the exact count.
    The sketch is one narrow projection + one hash aggregate bounded at
    2^p registers per group (map-side combined — shuffle volume is
    independent of row count, the property that makes distinct counting
    feasible when the exact distinct table is TB-sized). Every step is
    integer arithmetic on a 60-bit md5 hash — bucket = top p bits, rho via
    length(bin(rem)) string arithmetic, harmonic sum over a 2^45 common
    denominator, and the small-range linear-counting branch looked up from
    a Python-precomputed integer table — so the DuckDB oracle replays the
    estimate bit-for-bit. p=6 (64 registers) keeps the register table
    printable and the estimator error regime (~13%) honest."""
    from picogeojson_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id", p=6)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "v_zero", "est", "exact")
        .orderBy("event_type")
    )


_register("sketch_hll", q_sketch_hll, _q_hll_oracle(), verified=4,
          plan_dump=True)


def q_length_quantiles(spark, sf_dir):
    """Exact p50/p90/p99 document length per source — percentile_disc
    implemented from first principles in integer arithmetic (the engines'
    native percentile functions disagree on interpolation): one shuffle on
    the group key reused by the rank window, the count window, and the
    final conditional aggregation."""
    from picogeojson_spark.operators.stats import group_quantiles

    d = _t(spark, sf_dir, "documents")
    return group_quantiles(d, "n_chars", "source").orderBy("source")


def _q_quantiles_oracle():
    from picogeojson_spark.operators.stats import quantiles_oracle_sql
    return quantiles_oracle_sql(
        "SELECT source, n_chars FROM documents", "n_chars", "source")


_register("length_quantiles", q_length_quantiles, _q_quantiles_oracle(),
          verified=4, plan_dump=True)


def _domain_sql(u: str) -> str:
    """DuckDB expression: registrable domain of URL expression ``u`` —
    replays web.url_parts + registrable_domain (fragment off, scheme off,
    hostport, userinfo off, port off, lowercase, www off, last two
    labels)."""
    host = (
        "regexp_replace(lower(regexp_replace(regexp_extract(regexp_replace("
        "regexp_replace({u}, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', ''),"
        " '^([^/?]*)', 1), '^[^@]*@', '')), ':[0-9]+$', '')"
    ).format(u=u)
    host_n = "regexp_replace({h}, '^www\\.', '')".format(h=host)
    return (
        "CASE WHEN regexp_extract({hn}, '([^.]+\\.[^.]+)$', 1) = '' "
        "THEN {hn} ELSE regexp_extract({hn}, '([^.]+\\.[^.]+)$', 1) END"
    ).format(hn=host_n)


def q_web_link_graph(spark, sf_dir):
    """Common-Crawl-style inter-domain link graph: href extraction
    (regexp_extract_all, scan stage) -> canonical registrable domains ->
    weighted (src_domain, dst_domain) edges, intra-domain links dropped.
    Page markup is synthesized deterministically with three link shapes:
    a cross-TLD target, a same-domain target (exercises the intra-domain
    filter), and a single-quoted href the conservative extractor must
    ignore."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<p><a href="https://WWW.'), F.col("lang"),
        F.lit('-hub.ORG/'), i.cast("string"), F.lit('">t</a>'),
        F.when(i % 2 == 0, F.concat(
            F.lit(' <a href="http://cdn.'), F.col("source"),
            F.lit('.com:80/self">s</a>'))).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.concat(
            F.lit(" <a href='https://single."), F.col("lang"),
            F.lit(".net/skip'>q</a>"))).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(
            F.lit(' <a href="https://news.'), F.col("source"),
            F.lit('.io/x">n</a>'))).otherwise(F.lit("")),
    )
    pages = d.select("doc_id", "source", "lang").withColumns(
        {"url": _messy_url_col(), "html": html})
    from picogeojson_spark.operators.web import domain_link_graph
    return domain_link_graph(pages).orderBy("src_domain", "dst_domain")


def _q_web_link_graph_oracle():
    html = """
    '<p><a href="https://WWW.' || lang || '-hub.ORG/'
      || CAST(doc_id AS VARCHAR) || '">t</a>'
    || CASE WHEN doc_id % 2 = 0
            THEN ' <a href="http://cdn.' || source || '.com:80/self">s</a>'
            ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' <a href=''https://single.' || lang || '.net/skip''>q</a>'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' <a href="https://news.' || source || '.io/x">n</a>'
            ELSE '' END
    """
    return """
WITH pages AS (
  SELECT doc_id, source, lang, {url} AS url, {html} AS html
  FROM documents),
links AS (
  SELECT url AS src_url, unnest(regexp_extract_all(html, '{href}', 1)) AS dst_url
  FROM pages),
abs_links AS (
  SELECT * FROM links
  WHERE regexp_matches(dst_url, '^[A-Za-z][A-Za-z0-9+.-]*://')),
doms AS (
  SELECT {src_dom} AS src_domain, {dst_dom} AS dst_domain FROM abs_links)
SELECT src_domain, dst_domain, CAST(COUNT(*) AS BIGINT) AS n_links
FROM doms WHERE src_domain <> dst_domain
GROUP BY src_domain, dst_domain
ORDER BY src_domain, dst_domain
""".format(url=_MESSY_URL_SQL, html=html, href='href="([^"]*)"',
           src_dom=_domain_sql("src_url"), dst_dom=_domain_sql("dst_url"))


_register("web_link_graph", q_web_link_graph, _q_web_link_graph_oracle(),
          verified=4)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark, sf_dir):
    """Wide per-user activity matrix via the DataFrame `pivot` operator
    (explicit value list — fixed output schema, no distinct-values driver
    job): one hash aggregation producing n_<type> count columns plus an
    integer-cents value total. The oracle replays it as conditional
    aggregation (what pivot compiles to)."""
    e = _t(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    cnts = [F.coalesce(F.col(t), F.lit(0)).cast("long").alias("n_" + t)
            for t in _EVENT_TYPES]
    totals = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .alias("cents_total"))
    return (
        p.select("user_id", *cnts)
        .join(totals, "user_id")
        .orderBy("user_id")
    )


Q_EVENTS_PIVOT_SQL = """
SELECT user_id,
       {cnts},
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_total
FROM events
GROUP BY user_id
ORDER BY user_id
""".format(cnts=",\n       ".join(
    "CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_{t}".format(t=t) for t in _EVENT_TYPES))

_register("events_pivot", q_events_pivot, Q_EVENTS_PIVOT_SQL, verified=4)


# ---- round-4 additions ----

_register("geo_knn_haversine", q_geo_knn_haversine, _q_geo_knn_haversine_sql(),
          verified=4, plan_dump=True)


def q_web_boilerplate(spark, sf_dir):
    """Domain-scoped boilerplate gram fractions (CCNet-style template
    detection; ``operators/web.py:domain_boilerplate``). Bigram granularity
    exercises real cross-doc repeats on the synthetic corpus; production
    text would run 5-8-gram paragraphs."""
    from picogeojson_spark.operators.web import domain_boilerplate

    docs = _t(spark, sf_dir, "documents")
    return domain_boilerplate(docs, n=2, min_docs=2,
                              thresh_ppm=300_000).orderBy("doc_id")


Q_WEB_BOILERPLATE_SQL = r"""
WITH d AS (
  SELECT doc_id, source AS dom,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
g AS (
  SELECT DISTINCT doc_id, dom, gram FROM (
    SELECT doc_id, dom,
           unnest(list_transform(range(1, len(toks)),
                  j -> toks[j] || ' ' || toks[j + 1])) AS gram
    FROM d WHERE len(toks) >= 2)),
dd AS (SELECT source AS dom, CAST(COUNT(*) AS BIGINT) AS dom_docs
       FROM documents GROUP BY source),
gd AS (SELECT dom, gram, CAST(COUNT(*) AS BIGINT) AS in_docs
       FROM g GROUP BY dom, gram),
b AS (SELECT gd.dom, gd.gram FROM gd JOIN dd USING (dom)
      WHERE in_docs >= 2 AND in_docs * 1000000 >= dom_docs * 300000),
pg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       FROM g GROUP BY doc_id),
fg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
       FROM g JOIN b USING (dom, gram) GROUP BY doc_id)
SELECT d0.doc_id,
       COALESCE(n_grams, CAST(0 AS BIGINT)) AS n_grams,
       COALESCE(n_boiler, CAST(0 AS BIGINT)) AS n_boiler,
       CAST(CASE WHEN COALESCE(n_grams, 0) > 0
                 THEN (COALESCE(n_boiler, 0) * 1000000) // n_grams
                 ELSE 0 END AS BIGINT) AS boiler_ppm
FROM documents d0
LEFT JOIN pg USING (doc_id)
LEFT JOIN fg USING (doc_id)
ORDER BY doc_id
"""

_register("web_boilerplate", q_web_boilerplate, Q_WEB_BOILERPLATE_SQL,
          verified=4, plan_dump=True)


def q_sample_importance(spark, sf_dir):
    """DSIR-style importance resampling: score raw docs by hashed-unigram
    likelihood ratio against the English slice as the target corpus, keep
    with probability min(1, score/cap) via a deterministic 30-bit hash
    (``operators/importance.py``; integer-exact throughout)."""
    from picogeojson_spark.operators.importance import importance_resample

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return importance_resample(
        docs, target, cap_ppm=1_200_000, n_buckets=64, salt="ir0"
    ).orderBy("doc_id")


def _q_sample_importance_sql():
    from picogeojson_spark.operators.importance import importance_oracle_sql

    return importance_oracle_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id, text FROM documents WHERE lang = 'en'",
        cap_ppm=1_200_000, n_buckets=64, salt="ir0",
    )


_register("sample_importance", q_sample_importance, _q_sample_importance_sql(),
          verified=4, plan_dump=True)


# Shoelace measures over four vertex-offset shapes on the quarter-degree
# lattice (triangle / CW rectangle / convex pentagon / concave hexagon).
# Offsets are integers, so area2 and edge2_sum are translation-invariant
# INTEGER constants per shape and the centroid numerators are LINEAR in
# the anchor: cx_num = CX0 + 3*area2*x0 (verified symbolically and
# numerically at build time) — giving the oracle a closed form fully
# independent of the engine's general ring fold.
_MEASURE_SHAPES = {
    0: [(0, 0), (4, 0), (1, 3)],
    1: [(0, 0), (0, 3), (5, 3), (5, 0)],           # clockwise: area2 < 0
    2: [(0, 0), (4, 0), (6, 2), (3, 4), (0, 3)],
    3: [(0, 0), (6, 0), (6, 4), (4, 4), (4, 2), (0, 2)],  # concave
}


def _measure_consts():
    out = {}
    for s, pts in _MEASURE_SHAPES.items():
        ring = pts + [pts[0]]
        a2 = cx = cy = e2 = 0
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            cr = x1 * y2 - x2 * y1
            a2 += cr
            cx += (x1 + x2) * cr
            cy += (y1 + y2) * cr
            e2 += (x2 - x1) ** 2 + (y2 - y1) ** 2
        out[s] = (a2, cx, cy, e2, len(pts))
    return out


def q_geo_area_centroid(spark, sf_dir):
    """Signed shoelace area + centroid numerators + squared-edge sums for
    lattice polygons (``operators/measures.py:polygon_measures`` — one JVM
    HOF fold per row, zero shuffles). Scaled-integer outputs per repo
    contract: lattice coordinates make every sum exactly dyadic."""
    from picogeojson_spark.operators.measures import polygon_measures

    c = _t(spark, sf_dir, "customer")
    x0 = ((F.col("c_custkey") * 13) % 300).cast("double") / 2 - 90 + 0.25
    y0 = ((F.col("c_custkey") * 17) % 200).cast("double") / 2 - 60 + 0.25
    base = c.select(
        F.col("c_custkey").alias("poly_id"),
        (F.col("c_custkey") % 4).alias("s"),
        x0.alias("x0"), y0.alias("y0"),
    )
    arms = " ".join(
        "WHEN {s} THEN array({pts})".format(
            s=s,
            pts=", ".join(
                "array(x0 + {dx}.0d, y0 + {dy}.0d)".format(dx=dx, dy=dy)
                for dx, dy in pts + [pts[0]]
            ),
        )
        for s, pts in _MEASURE_SHAPES.items()
    )
    polys = base.select(
        "poly_id", F.expr("CASE s {} END".format(arms)).alias("ring"))
    m = polygon_measures(polys, ring_col="ring", id_col="poly_id")
    return m.select(
        "poly_id",
        "n_vertices",
        F.round(F.col("area2") * 16).cast("long").alias("area2_x16"),
        F.round(F.col("cx_num") * 32).cast("long").alias("cx_num_x32"),
        F.round(F.col("cy_num") * 32).cast("long").alias("cy_num_x32"),
        F.round(F.col("edge2_sum")).cast("long").alias("edge2_sum"),
    ).orderBy("poly_id")


def _q_geo_area_centroid_sql():
    cs = _measure_consts()

    def case(fmt):
        return "CASE s " + " ".join(
            "WHEN {s} THEN {v}".format(s=s, v=fmt(*cs[s]))
            for s in sorted(cs)
        ) + " END"

    nv = case(lambda a2, cx, cy, e2, nv: str(nv))
    a2x16 = case(lambda a2, cx, cy, e2, nv: str(a2 * 16))
    cxe = case(lambda a2, cx, cy, e2, nv:
               "({cx} + 3 * {a2} * x0) * 32".format(cx=cx, a2=a2))
    cye = case(lambda a2, cx, cy, e2, nv:
               "({cy} + 3 * {a2} * y0) * 32".format(cy=cy, a2=a2))
    e2c = case(lambda a2, cx, cy, e2, nv: str(e2))
    return """
WITH p AS (
  SELECT c_custkey AS poly_id, c_custkey % 4 AS s,
         CAST((c_custkey * 13) % 300 AS DOUBLE) / 2 - 90 + 0.25 AS x0,
         CAST((c_custkey * 17) % 200 AS DOUBLE) / 2 - 60 + 0.25 AS y0
  FROM customer)
SELECT poly_id,
       CAST({nv} AS INTEGER) AS n_vertices,
       CAST({a2} AS BIGINT) AS area2_x16,
       CAST(round({cx}) AS BIGINT) AS cx_num_x32,
       CAST(round({cy}) AS BIGINT) AS cy_num_x32,
       CAST({e2} AS BIGINT) AS edge2_sum
FROM p ORDER BY poly_id
""".format(nv=nv, a2=a2x16, cx=cxe, cy=cye, e2=e2c)


_register("geo_area_centroid", q_geo_area_centroid, _q_geo_area_centroid_sql(),
          verified=4, plan_dump=True)


def q_geo_distance_join(spark, sf_dir):
    """Within-radius great-circle join (all supplier points within 3 deg of
    central angle of each customer point; ``operators/knn.py:
    distance_join_haversine`` — cell-ring equi-join, per-query latitude
    guard). Queries capped to |lat| < 60 so every query provably settles in
    the ring (guard >= 3 deg at level 5 / radius 2) and the exact polar
    brute tail — exercised in tests/test_distance_join.py — stays out of
    this plan; the gate's no-cross-join invariant applies in full."""
    from picogeojson_spark.operators.knn import distance_join_haversine

    q = (
        _points_from_customer(spark, sf_dir)
        .withColumnRenamed("point_id", "query_id")
        .filter(F.abs(F.col("lat")) < 60.0)
    )
    c = _t(spark, sf_dir, "customer")
    cand = c.select(
        F.col("c_custkey").alias("neighbor_id"),
        (((F.col("c_custkey") * 53) % 720).cast("double") / 2 - 180
         + 0.25).alias("lon"),
        (((F.col("c_custkey") * 29) % 360).cast("double") / 2 - 90
         + 0.25).alias("lat"),
    )
    out = distance_join_haversine(q, cand, d_udeg=3_000_000,
                                  level=5, radius=2)
    return out.orderBy("query_id", "neighbor_id")


_DIST_CANDS_SQL = (
    "SELECT c_custkey AS neighbor_id, "
    "CAST((c_custkey * 53) % 720 AS DOUBLE) / 2 - 180 + 0.25 AS lon, "
    "CAST((c_custkey * 29) % 360 AS DOUBLE) / 2 - 90 + 0.25 AS lat "
    "FROM customer"
)


def _q_geo_distance_join_sql():
    from picogeojson_spark.operators.knn import hav_udeg_sql

    dist = hav_udeg_sql("q.lon", "q.lat", "c.lon", "c.lat")
    return """
WITH q AS (SELECT point_id AS query_id, lon, lat FROM ({points})
           WHERE abs(lat) < 60.0),
     c AS ({cands})
SELECT q.query_id, c.neighbor_id, {dist} AS dist_udeg
FROM q CROSS JOIN c
WHERE {dist} <= 3000000
ORDER BY query_id, neighbor_id
""".format(points=_POINTS_SQL, cands=_DIST_CANDS_SQL, dist=dist)


_register("geo_distance_join", q_geo_distance_join, _q_geo_distance_join_sql(),
          verified=4, plan_dump=True)


def q_graph_hits(spark, sf_dir):
    """Integer HITS hubs/authorities (4 rounds, divisor renormalization)
    over the customer->supplier purchase graph — the companion ranking to
    graph_pagerank (``operators/graph.py:hits``); the oracle unrolls the
    same integer rounds in SQL."""
    from picogeojson_spark.operators.graph import hits, purchase_graph

    edges = purchase_graph(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    return hits(edges, iterations=4).orderBy("node")


def _hits_sql(iterations=4, scale=10**9):
    # every per-round CTE is referenced twice (LEFT JOIN + normalizer
    # scalar subquery); DuckDB inlines plain CTEs per reference, which
    # makes the unrolled chain exponential — AS MATERIALIZED keeps the
    # oracle linear in rounds
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 10000000 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS MATERIALIZED (
  SELECT node, CAST({k} AS BIGINT) AS hub FROM nodes)""".format(
            k=scale)
    ]
    for i in range(1, iterations + 1):
        parts.append(
            """,
ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(h.hub) AS BIGINT) AS raw
  FROM h{prev} h JOIN e ON h.node = e.src GROUP BY e.dst),
a{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(COALESCE(r.raw, 0)
              // GREATEST(1, (SELECT CAST(SUM(raw) AS BIGINT) FROM ar{i})
                             // {k}) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node),
hr{i} AS MATERIALIZED (
  SELECT e.src AS node, CAST(SUM(a.auth) AS BIGINT) AS raw
  FROM a{i} a JOIN e ON a.node = e.dst GROUP BY e.src),
h{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(COALESCE(r.raw, 0)
              // GREATEST(1, (SELECT CAST(SUM(raw) AS BIGINT) FROM hr{i})
                             // {k}) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node)""".format(
                i=i, prev=i - 1, k=scale)
        )
    parts.append(
        """
SELECT n.node, h.hub, a.auth
FROM nodes n JOIN h{n} h ON n.node = h.node JOIN a{n} a ON n.node = a.node
ORDER BY n.node""".format(n=iterations)
    )
    return "".join(parts)


_register("graph_hits", q_graph_hits, _hits_sql(), verified=4, plan_dump=True)


def q_text_bigram_lm(spark, sf_dir):
    """Per-document mean BIGRAM surprisal vs the corpus's own bigram model
    (order-2 LM-perplexity filtering, the transition-level signal unigram
    surprisal can't see; ``operators/textstats.py:bigram_surprisal``).
    Same integer bit-arithmetic contract as text_surprisal."""
    from picogeojson_spark.operators.textstats import bigram_surprisal

    return bigram_surprisal(
        _t(spark, sf_dir, "documents")
    ).orderBy("doc_id")


def _q_text_bigram_lm_oracle():
    from picogeojson_spark.operators.textstats import (
        bigram_surprisal_oracle_sql,
    )

    return bigram_surprisal_oracle_sql("SELECT doc_id, text FROM documents")


_register("text_bigram_lm", q_text_bigram_lm, _q_text_bigram_lm_oracle(),
          verified=4, plan_dump=True)


def _anchor_html_col():
    i = F.col("doc_id")
    label = (
        F.when(i % 3 == 0, F.lit("Read More"))
        .when(i % 3 == 1, F.lit("Official Site"))
        .otherwise(F.concat(F.lit("Visit "), F.col("lang")))
    )
    return F.concat(
        F.lit('<a href="https://WWW.'), F.col("lang"), F.lit('-hub.ORG/'),
        i.cast("string"), F.lit('">'), label, F.lit("</a>"),
        F.when(i % 2 == 0, F.concat(
            F.lit(' <a href="http://news.'), F.col("source"),
            F.lit('.io/x" rel="nofollow"> Breaking News </a>')))
        .otherwise(F.lit("")),
        F.when(i % 5 == 0,
               F.lit(' <a href="/relative/path">skip me</a>'))
        .otherwise(F.lit("")),
        F.when(i % 7 == 0, F.concat(
            F.lit(' <a href="https://empty.'), F.col("lang"),
            F.lit('.net/e"></a>'))).otherwise(F.lit("")),
    )


_ANCHOR_HTML_SQL = """
    '<a href="https://WWW.' || lang || '-hub.ORG/'
      || CAST(doc_id AS VARCHAR) || '">'
    || CASE WHEN doc_id % 3 = 0 THEN 'Read More'
            WHEN doc_id % 3 = 1 THEN 'Official Site'
            ELSE 'Visit ' || lang END
    || '</a>'
    || CASE WHEN doc_id % 2 = 0
            THEN ' <a href="http://news.' || source
                 || '.io/x" rel="nofollow"> Breaking News </a>'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' <a href="/relative/path">skip me</a>' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' <a href="https://empty.' || lang || '.net/e"></a>'
            ELSE '' END
"""


def q_web_anchor_text(spark, sf_dir):
    """Incoming anchor-text aggregation per target domain
    (``operators/web.py:anchor_text_stats``): href+anchor captured by one
    conservative regex, absolute URLs only, trimmed/lower-cased anchors;
    per domain the total/distinct anchor counts and the modal anchor
    (count desc, text asc tie-break). Synth markup exercises extra
    attributes after href, whitespace anchors, a relative href (dropped)
    and an empty anchor (dropped)."""
    from picogeojson_spark.operators.web import anchor_text_stats

    d = _t(spark, sf_dir, "documents")
    pages = d.select("doc_id", "source", "lang").withColumns(
        {"url": _messy_url_col(), "html": _anchor_html_col()})
    return anchor_text_stats(pages).orderBy("dst_domain")


def _q_web_anchor_text_oracle():
    return """
WITH pages AS (
  SELECT doc_id, source, lang, {html} AS html FROM documents),
ex AS (
  SELECT regexp_extract_all(html, '{re}', 1) AS hrefs,
         regexp_extract_all(html, '{re}', 2) AS texts
  FROM pages),
links AS (
  SELECT hrefs[j] AS dst_url, lower(trim(texts[j])) AS anchor
  FROM ex, LATERAL (SELECT unnest(range(1, len(hrefs) + 1)) AS j) s),
ab AS (
  SELECT * FROM links
  WHERE regexp_matches(dst_url, '^[A-Za-z][A-Za-z0-9+.-]*://')
    AND len(anchor) > 0),
per AS (
  SELECT {dom} AS dst_domain, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ab GROUP BY 1, 2),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dst_domain
                               ORDER BY cnt DESC, anchor ASC) AS rn
  FROM per)
SELECT dst_domain,
       CAST(SUM(cnt) AS BIGINT) AS n_anchors,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_anchors,
       MAX(CASE WHEN rn = 1 THEN anchor END) AS top_anchor,
       CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS BIGINT)
         AS top_anchor_cnt
FROM r GROUP BY dst_domain ORDER BY dst_domain
""".format(html=_ANCHOR_HTML_SQL,
           re=r'href="([^"]*)"[^>]*>([^<]*)</a>',
           dom=_domain_sql("dst_url"))


_register("web_anchor_text", q_web_anchor_text, _q_web_anchor_text_oracle(),
          verified=4, plan_dump=True)


def q_decontam_embed(spark, sf_dir):
    """Embedding-space benchmark decontamination (semantic twin of
    decontam_ngram; ``operators/similarity.py:decontaminate_embed``): the
    vec_id % 23 slice plays the leaked eval set, so member rows must come
    back cos 1.0 and near-dups are judged on the rounded integer score
    (>= 0.55). Eval side broadcast; corpus never shuffles."""
    from picogeojson_spark.operators.similarity import decontaminate_embed

    emb = _t(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") % 23 == 0)
    return decontaminate_embed(emb, evals, threshold_x1e6=550_000).orderBy(
        "vec_id")


Q_DECONTAM_EMBED_SQL = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
e AS (SELECT v FROM c WHERE vec_id % 23 = 0),
s AS (
  SELECT c.vec_id,
         CAST(round(list_dot_product(c.v, e.v)
              / (sqrt(list_dot_product(c.v, c.v))
                 * sqrt(list_dot_product(e.v, e.v))) * 1000000) AS BIGINT)
           AS cx
  FROM c CROSS JOIN e)
SELECT vec_id,
       CAST(MAX(cx) AS BIGINT) AS max_cos_x1e6,
       CAST(SUM(CASE WHEN cx >= 550000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(CASE WHEN SUM(CASE WHEN cx >= 550000 THEN 1 ELSE 0 END) > 0
                 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
FROM s GROUP BY vec_id ORDER BY vec_id
"""

_register("decontam_embed", q_decontam_embed, Q_DECONTAM_EMBED_SQL, verified=4,
          plan_dump=True)


def q_geo_zorder_key(spark, sf_dir):
    """Morton / Z-order spatial clustering key (``operators/layout.py``):
    the lakehouse data-layout primitive behind OPTIMIZE ZORDER — pure
    shift/mask codegen, oracle replays the identical interleave. Emitted
    at bits=8 per point plus the curve bucket used by write_zordered's
    range partitioning."""
    from picogeojson_spark.operators.layout import zorder_key

    pts = _points_from_customer(spark, sf_dir)
    return pts.select(
        "point_id",
        zorder_key(F.col("lon"), F.col("lat"), bits=8).alias("zkey"),
        (zorder_key(F.col("lon"), F.col("lat"), bits=8) / 256)
        .cast("long").alias("zbucket"),
    ).orderBy("point_id")


def _q_geo_zorder_key_sql():
    from picogeojson_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql("lon", "lat", bits=8)
    return """
SELECT point_id, {z} AS zkey,
       CAST(floor(({z}) / 256) AS BIGINT) AS zbucket
FROM ({points}) ORDER BY point_id
""".format(z=z, points=_POINTS_SQL)


_register("geo_zorder_key", q_geo_zorder_key, _q_geo_zorder_key_sql(),
          verified=4, plan_dump=True)


def q_geo_hilbert(spark, sf_dir):
    """Hilbert-curve clustering key (``operators/layout.py``): the
    locality-optimal sibling of geo_zorder_key (Databricks liquid
    clustering / Iceberg hilbert sort). The per-level swap/reflect loop is
    folded into a 4-state automaton so the key is an O(bits^2) pure-codegen
    expression; the oracle replays the identical quantize + table lookups,
    so hash-equality proves the automaton on every lattice point. Same
    bits=8 grid and curve bucket as the Morton query — the two outputs are
    directly comparable clusterings of the same cells."""
    from picogeojson_spark.operators.layout import hilbert_key

    pts = _points_from_customer(spark, sf_dir)
    return pts.select(
        "point_id",
        hilbert_key(F.col("lon"), F.col("lat"), bits=8).alias("hkey"),
        (hilbert_key(F.col("lon"), F.col("lat"), bits=8) / 256)
        .cast("long").alias("hbucket"),
    ).orderBy("point_id")


def _q_geo_hilbert_sql():
    from picogeojson_spark.operators.layout import hilbert_key_sql

    h = hilbert_key_sql("lon", "lat", bits=8)
    return """
SELECT point_id, {h} AS hkey,
       CAST(floor(({h}) / 256) AS BIGINT) AS hbucket
FROM ({points}) ORDER BY point_id
""".format(h=h, points=_POINTS_SQL)


_register("geo_hilbert", q_geo_hilbert, _q_geo_hilbert_sql(), verified=5,
          plan_dump=True)


# Simplification fixtures: rectangles with an outward bump at each edge
# midpoint. Every bump triangle's 2-area (W/4 or H/4) sits under the 2.0
# threshold while every corner's stays above it, so Visvalingam removes
# EXACTLY the four bumps and the survivor is the bare rectangle — whose
# measures have a closed form the oracle derives independently.
_SIMPLIFY_WH = {0: (5.5, 3.5), 1: (6.5, 4.5), 2: (7.5, 2.5), 3: (4.5, 5.5)}


def q_geo_simplify(spark, sf_dir):
    """Visvalingam-for-zoom simplification composed with polygon measures
    (``operators/simplify.py`` -> ``operators/measures.py``): noisy-
    rectangle rings collapse to their corner rectangles at threshold 2.0;
    emitted as vertex counts + scaled-integer shoelace measures of the
    SIMPLIFIED ring, which the oracle knows in closed form."""
    from picogeojson_spark.operators.measures import polygon_measures
    from picogeojson_spark.operators.simplify import simplify_rings

    c = _t(spark, sf_dir, "customer")
    x0 = ((F.col("c_custkey") * 13) % 300).cast("double") / 2 - 90 + 0.25
    y0 = ((F.col("c_custkey") * 17) % 200).cast("double") / 2 - 60 + 0.25
    base = c.select(
        F.col("c_custkey").alias("poly_id"),
        (F.col("c_custkey") % 4).alias("s"),
        x0.alias("x0"), y0.alias("y0"),
    )
    arms = []
    for s, (w, h) in _SIMPLIFY_WH.items():
        pts = [(0.0, 0.0), (w / 2, -0.25), (w, 0.0), (w + 0.25, h / 2),
               (w, h), (w / 2, h + 0.25), (0.0, h), (-0.25, h / 2)]
        arr = ", ".join(
            "array(x0 + {dx}d, y0 + {dy}d)".format(dx=dx, dy=dy)
            for dx, dy in pts + [pts[0]]
        )
        arms.append("WHEN {s} THEN array({a})".format(s=s, a=arr))
    polys = base.select(
        "poly_id", F.expr("CASE s " + " ".join(arms) + " END").alias("ring"))
    simp = simplify_rings(polys, min_area2=2.0)
    m = polygon_measures(simp, ring_col="ring", id_col="poly_id",
                         keep_cols=("n_in", "n_out"))
    return m.select(
        "poly_id", "n_in", "n_out",
        F.round(F.col("area2") * 16).cast("long").alias("area2_x16"),
        F.round(F.col("cx_num") * 32).cast("long").alias("cx_num_x32"),
        F.round(F.col("cy_num") * 32).cast("long").alias("cy_num_x32"),
    ).orderBy("poly_id")


def _q_geo_simplify_sql():
    def case(fmt):
        return "CASE s " + " ".join(
            "WHEN {s} THEN {v}".format(s=s, v=fmt(*_SIMPLIFY_WH[s]))
            for s in sorted(_SIMPLIFY_WH)
        ) + " END"

    a2 = case(lambda w, h: str(int(2 * w * h * 16)))       # (2WH)*16
    cx = case(lambda w, h: "round((6 * {wh} * (x0 + {w2})) * 32)".format(
        wh=w * h, w2=w / 2))
    cy = case(lambda w, h: "round((6 * {wh} * (y0 + {h2})) * 32)".format(
        wh=w * h, h2=h / 2))
    return """
WITH p AS (
  SELECT c_custkey AS poly_id, c_custkey % 4 AS s,
         CAST((c_custkey * 13) % 300 AS DOUBLE) / 2 - 90 + 0.25 AS x0,
         CAST((c_custkey * 17) % 200 AS DOUBLE) / 2 - 60 + 0.25 AS y0
  FROM customer)
SELECT poly_id,
       CAST(8 AS INTEGER) AS n_in,
       CAST(4 AS INTEGER) AS n_out,
       CAST({a2} AS BIGINT) AS area2_x16,
       CAST({cx} AS BIGINT) AS cx_num_x32,
       CAST({cy} AS BIGINT) AS cy_num_x32
FROM p ORDER BY poly_id
""".format(a2=a2, cx=cx, cy=cy)


_register("geo_simplify", q_geo_simplify, _q_geo_simplify_sql(), verified=4,
          plan_dump=True)


def q_text_compress(spark, sf_dir):
    """DEFLATE compression-ratio redundancy signal
    (``operators/textstats.py:compression_ratio``) — rows-only by
    necessity: DuckDB has no DEFLATE, so no SQL oracle exists (the
    stream_counts precedent); exactness is pinned by the pure-Python
    zlib replay test instead."""
    from picogeojson_spark.operators.textstats import compression_ratio

    return compression_ratio(
        _t(spark, sf_dir, "documents")
    ).orderBy("doc_id")


# rows-only: no DuckDB oracle (documented above)
_register("text_compress", q_text_compress, verified=4, plan_dump=True)


def _sessions_stream_dir(spark, sf_dir):
    """Events parquet + one far-future '__flush__' sentinel per user, in a
    directory the file stream source reads as TWO files -> two
    micro-batches, so the watermark advances past every real session and
    append mode flushes them all (the production finite-backfill pattern)."""
    import os

    label = os.path.basename(os.path.normpath(sf_dir))
    d = "/tmp/stream_sessions_{}".format(label)
    if not os.path.exists(os.path.join(d, "_PREPARED")):
        os.makedirs(d, exist_ok=True)
        ev = _t(spark, sf_dir, "events")
        # ONE time-sorted file: the file source batches per file (oldest
        # mod-time first), so an out-of-order part file would arrive with
        # its rows behind the advanced watermark and be DROPPED as late
        # (found by the parity test). Production event logs are coarsely
        # time-ordered; disorder beyond that is what the watermark delay
        # parameter absorbs.
        ev.orderBy("ts", "event_id").coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(d, "events"))
        (
            ev.select("user_id").distinct()
            .select(
                F.lit(-1).cast("bigint").alias("event_id"),
                F.expr("TIMESTAMP_NTZ '2099-01-01 00:00:00'").alias("ts"),
                "user_id",
                F.lit("__flush__").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("").alias("props"),
            )
            .coalesce(1)
            .write.mode("overwrite").parquet(os.path.join(d, "flush"))
        )
        # flatten into one dir: the stream source lists files, not subdirs
        import glob
        import shutil

        for i, f in enumerate(sorted(
                glob.glob(os.path.join(d, "events", "*.parquet")))):
            shutil.move(f, os.path.join(d, "a{:03d}.parquet".format(i)))
        for i, f in enumerate(sorted(
                glob.glob(os.path.join(d, "flush", "*.parquet")))):
            shutil.move(f, os.path.join(d, "z{:03d}.parquet".format(i)))
        shutil.rmtree(os.path.join(d, "events"))
        shutil.rmtree(os.path.join(d, "flush"))
        open(os.path.join(d, "_PREPARED"), "w").close()
    return d


def q_stream_sessions(spark, sf_dir):
    """STREAMING gap sessionization: native session_window + watermark in
    append mode (``streaming/pages_stream.py:stream_sessionize_events``) —
    the structured-streaming twin of events_sessionize, with the finite-
    backfill flush handled by per-user far-future sentinels (dropped from
    the output). Full oracle: the lag+running-sum batch replay with the
    session_window boundary rule (a gap of EXACTLY 30 min starts a new
    session — session windows are end-exclusive)."""
    from picogeojson_spark.streaming.pages_stream import (
        stream_sessionize_events,
    )

    d = _sessions_stream_dir(spark, sf_dir)
    src = (
        spark.readStream.schema(_EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = stream_sessionize_events(src, gap="30 minutes",
                                   watermark="0 seconds")
    return (
        _run_stream(spark, agg, "stream_sessions", "append")
        .filter(F.col("n_flush") == 0)
        .select(
            "user_id",
            F.col("start_us").cast("long").alias("start_us"),
            (F.col("last_us") + F.lit(1800000000).cast("long"))
            .cast("long").alias("end_us"),
            F.col("n_rows").cast("long").alias("n_events"),
            F.col("cents_sum").cast("long").alias("cents_sum"),
        )
        .orderBy("user_id", "start_us")
    )


Q_STREAM_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
g AS (
  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g)
SELECT user_id,
       MIN(tus) AS start_us,
       MAX(tus) + 1800000000 AS end_us,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM s
GROUP BY user_id, session_idx
ORDER BY user_id, start_us
"""

_register("stream_sessions", q_stream_sessions, Q_STREAM_SESSIONS_SQL,
          verified=4)


_PROFILE_COLS = ["o_custkey", "o_orderkey", "o_orderpriority",
                 "o_orderstatus"]


def q_table_profile(spark, sf_dir):
    """ANALYZE-style per-column profile of the orders table
    (``operators/profile.py:table_profile``): row/null counts and native
    min/max from ONE aggregation pass, distinct-count estimates from the
    integer-exact HLL sketch (p=6) over a single narrow melt — the
    lakehouse stats collector. Integer/varchar columns only (cross-engine
    string casts are exact there)."""
    from picogeojson_spark.operators.profile import table_profile

    return table_profile(_t(spark, sf_dir, "orders"), _PROFILE_COLS, p=6,
                         salt="prof")


def _q_table_profile_sql(p=6, salt="prof"):
    from picogeojson_spark.operators.sketches import (
        _HLL_PRE, _HLL_SHIFT, _hll_consts, _hll_lc_table,
    )

    m, rem_bits, pre = _hll_consts(p)
    lc_list = "[{}]".format(",".join(str(x) for x in _hll_lc_table(m)))
    src = "\nUNION ALL\n".join(
        "  SELECT '{c}' AS grp, CAST({c} AS VARCHAR) AS v FROM orders"
        " WHERE {c} IS NOT NULL".format(c=c) for c in _PROFILE_COLS
    )
    stats = "\nUNION ALL\n".join(
        "  SELECT '{c}' AS col,"
        " CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_nulls,"
        " CAST(MIN({c}) AS VARCHAR) AS min_s,"
        " CAST(MAX({c}) AS VARCHAR) AS max_s FROM orders".format(c=c)
        for c in _PROFILE_COLS
    )
    return f"""
WITH src AS (
{src}),
hashed AS (
  SELECT grp,
         CAST(('0x' || substring(md5('{salt}:' || v), 1, 15)) AS BIGINT)
           AS h
  FROM src),
keyed AS (
  SELECT grp, h // {1 << rem_bits} AS bucket, h % {1 << rem_bits} AS rem
  FROM hashed),
regs AS (
  SELECT grp, bucket,
         MAX(CASE WHEN rem = 0 THEN {rem_bits + 1}
                  ELSE {rem_bits + 1} - length(bin(rem)) END) AS max_rho
  FROM keyed GROUP BY grp, bucket),
folded AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_reg,
         CAST(SUM(CASE WHEN max_rho <= {_HLL_SHIFT}
                       THEN (CAST(1 AS BIGINT) << ({_HLL_SHIFT} - max_rho))
                       ELSE 0 END) AS BIGINT) AS s_present
  FROM regs GROUP BY grp),
raw AS (
  SELECT grp,
         CAST({m} - n_reg AS BIGINT) AS v_zero,
         CAST(({pre} * {1 << (_HLL_SHIFT - _HLL_PRE)}) //
              GREATEST(s_present + ({m} - n_reg) *
                       (CAST(1 AS BIGINT) << {_HLL_SHIFT}), 1)
              AS BIGINT) AS est_raw
  FROM raw_src_placeholder) ,
est AS (
  SELECT grp, v_zero,
         CAST(CASE WHEN v_zero > 0 AND est_raw <= {(5 * m) // 2}
                   THEN ({lc_list})[CAST(v_zero AS INT)]
                   ELSE est_raw END AS BIGINT) AS est
  FROM raw),
stats AS (
{stats})
SELECT s.col AS column,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_rows,
       s.n_nulls, s.min_s, s.max_s,
       CAST(COALESCE(e.v_zero, {m}) AS BIGINT) AS v_zero,
       CAST(COALESCE(e.est, 0) AS BIGINT) AS ndv_est
FROM stats s LEFT JOIN est e ON s.col = e.grp
ORDER BY s.col
""".replace("FROM raw_src_placeholder", "FROM folded")


_register("table_profile", q_table_profile, _q_table_profile_sql(), verified=4,
          plan_dump=True)


def _geotext_text_col():
    i = F.col("doc_id")
    lat = ((i * 61) % 360).cast("double") / 2 - 90 + 0.25
    lon = ((i * 37) % 720).cast("double") / 2 - 180 + 0.25
    lat2 = ((i * 29) % 352).cast("double") / 2 - 88 + 0.25
    lon2 = ((i * 53) % 712).cast("double") / 2 - 178 + 0.25
    return F.concat(
        F.col("text"),
        F.when(i % 3 == 0, F.concat(
            F.lit(" located at "), lat.cast("string"), F.lit(", "),
            lon.cast("string"), F.lit("."))).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit(" gps: 999.5, 12.25")).otherwise(
            F.lit("")),
        F.when(i % 7 == 0, F.concat(
            F.lit(" branch office ("), lat2.cast("string"), F.lit(","),
            lon2.cast("string"), F.lit(")"))).otherwise(F.lit("")),
    )


_GEOTEXT_TEXT_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0 THEN ' located at '
         || CAST(CAST((doc_id * 61) % 360 AS DOUBLE) / 2 - 90 + 0.25
                 AS VARCHAR)
         || ', '
         || CAST(CAST((doc_id * 37) % 720 AS DOUBLE) / 2 - 180 + 0.25
                 AS VARCHAR)
         || '.' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' gps: 999.5, 12.25' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' branch office ('
         || CAST(CAST((doc_id * 29) % 352 AS DOUBLE) / 2 - 88 + 0.25
                 AS VARCHAR)
         || ','
         || CAST(CAST((doc_id * 53) % 712 AS DOUBLE) / 2 - 178 + 0.25
                 AS VARCHAR)
         || ')' ELSE '' END
"""


def q_geo_text_coords(spark, sf_dir):
    """Geotagging: coordinate mentions mined from page text
    (``operators/geotext.py:extract_coordinates``) — scan-stage regex,
    posexplode'd pairs, bounds validation (the planted 999.5 pair must
    drop), level-8 cell ids. Lattice coordinates scale to exact
    quarter-degree integers for the hash contract."""
    from picogeojson_spark.operators.geotext import extract_coordinates

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", _geotext_text_col().alias("text"))
    out = extract_coordinates(d, level=8)
    return out.select(
        "doc_id", "idx",
        F.round(F.col("lat") * 4).cast("long").alias("lat_x4"),
        F.round(F.col("lon") * 4).cast("long").alias("lon_x4"),
        "cell",
    ).orderBy("doc_id", "idx")


def _q_geo_text_coords_sql():
    from picogeojson_spark.operators.geotext import COORD_RE

    return r"""
WITH d AS (
  SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j - 1 AS idx0,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  -- idx is the mention's position among ALL regex matches (pre-filter),
  -- matching the operator's posexplode-then-validate order
  SELECT doc_id, CAST(idx0 AS INTEGER) AS idx, lat, lon
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180)
SELECT doc_id, idx,
       CAST(round(lat * 4) AS BIGINT) AS lat_x4,
       CAST(round(lon * 4) AS BIGINT) AS lon_x4,
       CAST(8 AS BIGINT) * {p58}
         + least(CAST(floor((lon + 180) / 360 * 512) AS BIGINT), 511) * {p29}
         + least(CAST(floor((lat + 90) / 180 * 256) AS BIGINT), 255) AS cell
FROM ok ORDER BY doc_id, idx
""".format(txt=_GEOTEXT_TEXT_SQL, re=COORD_RE, p58=1 << 58, p29=1 << 29)


_register("geo_text_coords", q_geo_text_coords, _q_geo_text_coords_sql(),
          verified=4, plan_dump=True)


def q_geo_pip_density(spark, sf_dir):
    """Per-polygon point density: three engine ops composed — the
    cell-cover PIP join counts points per polygon, the ring parsed back
    out of the REAL GeoJSON string (from_json, no UDF) feeds the shoelace
    fold for the area, and density = points per square degree in integer
    millionths. Every world tile is emitted (zero-point polygons
    included). The oracle derives counts by floor-binning and the area in
    closed form — both fully independent of the engine's join and fold."""
    from picogeojson_spark.operators import pip_join
    from picogeojson_spark.operators.measures import polygon_measures

    pts = _points_from_customer(spark, sf_dir)
    polys = _grid_polygons(spark)
    counts = pip_join(pts, polys).groupBy("poly_id").agg(
        F.count("*").cast("long").alias("n_points"))
    rings = polys.select(
        "poly_id",
        F.from_json(
            F.col("geometry_json"),
            "type string, coordinates array<array<array<double>>>",
        )["coordinates"][0].alias("ring"),
    )
    m = polygon_measures(rings, ring_col="ring", id_col="poly_id")
    return (
        m.join(counts, "poly_id", "left")
        .select(
            "poly_id",
            F.coalesce("n_points", F.lit(0).cast("long")).alias("n_points"),
            F.round(F.col("area2") * 16).cast("long").alias("area2_x16"),
            F.expr(
                "(coalesce(n_points, 0L) * 32000000L)"
                " div CAST(round(area2 * 16) AS BIGINT)"
            ).cast("long").alias("density_x1e6"),
        )
        .orderBy("poly_id")
    )


Q_GEO_PIP_DENSITY_SQL = """
WITH polys AS (
  SELECT CAST(unnest(range(0, 648)) AS BIGINT) AS poly_id),
pts AS ({points}),
cnt AS (
  SELECT CAST(floor((lon + 180) / 10) + 36 * floor((lat + 90) / 10)
              AS BIGINT) AS poly_id,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM pts GROUP BY 1)
SELECT p.poly_id,
       COALESCE(c.n_points, CAST(0 AS BIGINT)) AS n_points,
       CAST(3200 AS BIGINT) AS area2_x16,
       CAST((COALESCE(c.n_points, 0) * 32000000) // 3200 AS BIGINT)
         AS density_x1e6
FROM polys p LEFT JOIN cnt c USING (poly_id)
ORDER BY p.poly_id
""".format(points=_POINTS_SQL)

_register("geo_pip_density", q_geo_pip_density, Q_GEO_PIP_DENSITY_SQL,
          verified=4, plan_dump=True)


def q_events_anomaly(spark, sf_dir):
    """Hourly spike detection per event type: an hour is anomalous when
    its count exceeds 2x the trailing-24h mean (warm-up: at least 12 prior
    hours) — the monitoring rollup an ingestion pipeline alerts on.
    All-integer: the comparison cross-multiplies (n * prev_hours >
    2 * prev_sum), no float mean. Scale shape: corpus-sized work is ONE
    map-side-combined count aggregate; the lag windows run over the tiny
    (hours x types) rollup, partitioned by type."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("{} div 3600000000".format(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )).cast("long").alias("hour_id"),
    )
    hourly = e.groupBy("event_type", "hour_id").agg(
        F.count("*").cast("long").alias("n_events"))
    w = (
        Window.partitionBy("event_type").orderBy("hour_id")
        .rowsBetween(-24, -1)
    )
    return (
        hourly.withColumn("prev_hours",
                          F.count("*").over(w).cast("long"))
        .withColumn("prev_sum",
                    F.coalesce(F.sum("n_events").over(w), F.lit(0))
                    .cast("long"))
        .withColumn(
            "anomaly",
            ((F.col("prev_hours") >= 12)
             & (F.col("n_events") * F.col("prev_hours")
                > 2 * F.col("prev_sum"))).cast("int"),
        )
        .orderBy("event_type", "hour_id")
    )


Q_EVENTS_ANOMALY_SQL = """
WITH e AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id FROM events),
hourly AS (
  SELECT event_type, hour_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM e GROUP BY 1, 2),
win AS (
  SELECT event_type, hour_id, n_events,
         CAST(COUNT(*) OVER w AS BIGINT) AS prev_hours,
         CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS prev_sum
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_id
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, hour_id, n_events, prev_hours, prev_sum,
       CAST(CASE WHEN prev_hours >= 12
                  AND n_events * prev_hours > 2 * prev_sum
                 THEN 1 ELSE 0 END AS INTEGER) AS anomaly
FROM win ORDER BY event_type, hour_id
"""

_register("events_anomaly", q_events_anomaly, Q_EVENTS_ANOMALY_SQL, verified=4,
          plan_dump=True)


def q_sample_temperature(spark, sf_dir):
    """Temperature-scaled source balancing at alpha=0.5
    (``operators/sampling.py:temperature_sample``): per-source keep rate
    sqrt(n_min/n_source), threshold integer-exact through IEEE
    correctly-rounded sqrt; membership a pure (salt, id) function.
    Balances the LANG axis (en is ~3.4x fr in the corpus — the source
    axis is deliberately uniform and would keep everything)."""
    from picogeojson_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(docs, source_col="lang",
                              salt="t0").orderBy("doc_id")


Q_SAMPLE_TEMPERATURE_SQL = """
WITH d AS (SELECT doc_id, lang FROM documents),
c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_src FROM d GROUP BY 1),
mn AS (SELECT CAST(MIN(n_src) AS BIGINT) AS n_min FROM c),
thr AS (
  SELECT lang,
         CAST(floor(sqrt(CAST((n_min * 1000000000000) // n_src
                              AS DOUBLE))) AS BIGINT) AS thr
  FROM c CROSS JOIN mn)
SELECT d.doc_id, d.lang
FROM d JOIN thr USING (lang)
WHERE CAST(('0x' || substring(md5('t0:' || CAST(d.doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) % 1000000 < thr.thr
ORDER BY d.doc_id
"""

_register("sample_temperature", q_sample_temperature, Q_SAMPLE_TEMPERATURE_SQL,
          verified=4, plan_dump=True)


def q_stream_geotag(spark, sf_dir):
    """STREAMING geotagging rollup: readStream over the documents parquet
    -> the scan-stage coordinate regex + posexplode + bounds validation
    (``operators/geotext.py`` — identical code path batch and stream) ->
    per-cell mention counts in complete mode. Full oracle: the batch SQL
    replay grouped by cell. Proves the text->geo bridge runs under
    structured streaming with zero operator changes."""
    from picogeojson_spark.operators.geotext import extract_coordinates

    src = (
        spark.readStream.schema(_DOCS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "documents"))
    )
    d = src.select("doc_id", _geotext_text_col().alias("text"))
    mentions = extract_coordinates(d, level=8)
    agg = mentions.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_mentions"))
    return _run_stream(spark, agg, "stream_geotag",
                       "complete").orderBy("cell")


def _q_stream_geotag_sql():
    return r"""
WITH d AS (
  SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (SELECT lat, lon FROM men WHERE abs(lat) < 90 AND abs(lon) < 180)
SELECT CAST(8 AS BIGINT) * {p58}
         + least(CAST(floor((lon + 180) / 360 * 512) AS BIGINT), 511) * {p29}
         + least(CAST(floor((lat + 90) / 180 * 256) AS BIGINT), 255) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_mentions
FROM ok GROUP BY 1 ORDER BY cell
""".format(txt=_GEOTEXT_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)",
           p58=1 << 58, p29=1 << 29)


_register("stream_geotag", q_stream_geotag, _q_stream_geotag_sql(), verified=4)


def q_dedup_setsim(spark, sf_dir):
    """Exact 3-gram Jaccard pairs at t=4/5 via AllPairs/PPJoin prefix
    filtering — candidates come from each doc's rarest-20% shingles only,
    yet the output is EXACT (prefix theorem + array_intersect verify). The
    oracle below is the brute all-pairs formulation: hash-equality IS the
    proof the prefix filter lost no pair. Threshold math is integer
    rational (inter*5 >= 4*union) on both engines — no float boundary."""
    from picogeojson_spark.operators.dedup import prefix_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = prefix_jaccard_pairs(docs, n=3, t_num=4, t_den=5)
    return out.select(
        "doc_a", "doc_b",
        F.col("inter_sz").cast("long").alias("inter_sz"),
        F.col("union_sz").cast("long").alias("union_sz"),
    ).orderBy("doc_a", "doc_b")


Q_DEDUP_SETSIM_SQL = """
WITH sh AS ({shingles}),
     sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
     inter AS (
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_sz
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT doc_a, doc_b, CAST(inter_sz AS BIGINT) AS inter_sz,
       CAST(sa.sz + sb.sz - inter_sz AS BIGINT) AS union_sz
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_sz * 5 >= 4 * (sa.sz + sb.sz - inter_sz)
ORDER BY doc_a, doc_b
""".format(shingles=_SHINGLES_SQL)


_register("dedup_setsim", q_dedup_setsim, Q_DEDUP_SETSIM_SQL, verified=4,
          plan_dump=True)


def _traj_text_col():
    """Deterministic multi-waypoint travelogue column: 2-5 lattice
    waypoints per doc (k*0.5+0.25 lattice -> micro-degree integers exact)
    plus the out-of-range 999.5 trap planted MID-path for doc_id%5 so the
    bounds filter must splice the polyline around a dropped mention."""
    i = F.col("doc_id")
    parts = [F.col("text")]
    for j in range(5):
        lat = ((i * 61 + j * 97) % 360).cast("double") / 2 - 90 + 0.25
        lon = ((i * 37 + j * 131) % 720).cast("double") / 2 - 180 + 0.25
        word = F.concat(F.lit(" via "), lat.cast("string"), F.lit(", "),
                        lon.cast("string"), F.lit("."))
        parts.append(F.when(j < 2 + i % 4, word).otherwise(F.lit("")))
        if j == 0:
            parts.append(F.when(i % 5 == 0,
                                F.lit(" detour 999.5, 12.25"))
                         .otherwise(F.lit("")))
    return F.concat(*parts)


_TRAJ_WAYPOINT_SQL = """
    || CASE WHEN {j} < 2 + doc_id % 4 THEN ' via '
      || CAST(CAST((doc_id * 61 + {a}) % 360 AS DOUBLE) / 2 - 90 + 0.25
              AS VARCHAR)
      || ', '
      || CAST(CAST((doc_id * 37 + {b}) % 720 AS DOUBLE) / 2 - 180 + 0.25
              AS VARCHAR)
      || '.' ELSE '' END
"""

_TRAJ_TEXT_SQL = (
    "text"
    + _TRAJ_WAYPOINT_SQL.format(j=0, a=0, b=0)
    + " || CASE WHEN doc_id % 5 = 0 THEN ' detour 999.5, 12.25'"
    "    ELSE '' END "
    + "".join(
        _TRAJ_WAYPOINT_SQL.format(j=j, a=j * 97, b=j * 131)
        for j in range(1, 5)
    )
)


def q_geo_trajectory(spark, sf_dir):
    """Text-mined TRAJECTORIES: the geotagging regex turns each document's
    ordered coordinate mentions into a polyline; per-doc path length, net
    displacement and bbox come out as exact micro-degree integers
    (floor(lat*1e6) coordinates; floor(sqrt(integer radicand)) per
    segment — both correctly-rounded IEEE ops, so cross-engine
    bit-identical; see operators/geotext.py:trajectory_measures).  The
    planted 999.5 mid-path trap proves dropped mentions splice, not break,
    the polyline.  ONE shuffle: the per-doc lag window's hash partitioning
    is reused by the groupBy(doc_id)."""
    from picogeojson_spark.operators.geotext import trajectory_measures

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _traj_text_col().alias("text"))
    return trajectory_measures(docs).orderBy("doc_id")


Q_GEO_TRAJECTORY_SQL = r"""
WITH d AS (SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  SELECT doc_id, j,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS lat_u,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS lon_u
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180),
seg AS (
  SELECT doc_id, j, lat_u, lon_u,
         lag(lat_u) OVER (PARTITION BY doc_id ORDER BY j) AS plat,
         lag(lon_u) OVER (PARTITION BY doc_id ORDER BY j) AS plon
  FROM ok),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_pts,
         CAST(SUM(CASE WHEN plat IS NULL THEN 0
              ELSE CAST(floor(sqrt(CAST(
                     (lon_u - plon) * (lon_u - plon)
                   + (lat_u - plat) * (lat_u - plat) AS DOUBLE)))
                   AS BIGINT) END) AS BIGINT) AS path_len_u,
         arg_min(lat_u, j) AS first_lat, arg_min(lon_u, j) AS first_lon,
         arg_max(lat_u, j) AS last_lat,  arg_max(lon_u, j) AS last_lon,
         CAST(MIN(lat_u) AS BIGINT) AS lat_min_u,
         CAST(MAX(lat_u) AS BIGINT) AS lat_max_u,
         CAST(MIN(lon_u) AS BIGINT) AS lon_min_u,
         CAST(MAX(lon_u) AS BIGINT) AS lon_max_u
  FROM seg GROUP BY doc_id)
SELECT doc_id, n_pts, path_len_u,
       CAST(floor(sqrt(CAST(
             (last_lon - first_lon) * (last_lon - first_lon)
           + (last_lat - first_lat) * (last_lat - first_lat) AS DOUBLE)))
            AS BIGINT) AS disp_u,
       lat_min_u, lat_max_u, lon_min_u, lon_max_u
FROM agg WHERE n_pts >= 2 ORDER BY doc_id
""".format(txt=_TRAJ_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)")


_register("geo_trajectory", q_geo_trajectory, Q_GEO_TRAJECTORY_SQL, verified=4,
          plan_dump=True)


def q_geo_turns(spark, sf_dir):
    """Turn classification over the same text-mined trajectories as
    geo_trajectory: each interior waypoint classifies left / right /
    straight / reversal by the SIGN of exact 64-bit integer cross and dot
    products on micro-degree coordinates — no floats touch the
    classification, so both engines branch identically even off the
    lattice (operators/geotext.py:trajectory_turns).  The 999.5 mid-path
    trap again proves dropped mentions splice the polyline (changing which
    triples exist).  ONE shuffle: dedup-lag window, lag/lead window and
    groupBy(doc_id) all share one hash partitioning (plan-asserted in
    tests/test_turns.py)."""
    from picogeojson_spark.operators.geotext import trajectory_turns

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _traj_text_col().alias("text"))
    return trajectory_turns(docs).orderBy("doc_id")


Q_GEO_TURNS_SQL = r"""
WITH d AS (SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  SELECT doc_id, j,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS lat_u,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS lon_u
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180),
dd AS (
  SELECT doc_id, j, lat_u, lon_u
  FROM (SELECT doc_id, j, lat_u, lon_u,
               lag(lat_u) OVER w AS dlat, lag(lon_u) OVER w AS dlon
        FROM ok WINDOW w AS (PARTITION BY doc_id ORDER BY j))
  WHERE dlat IS NULL OR dlat <> lat_u OR dlon <> lon_u),
t AS (
  SELECT doc_id, lat_u, lon_u,
         lag(lat_u)  OVER w AS plat, lag(lon_u)  OVER w AS plon,
         lead(lat_u) OVER w AS nlat, lead(lon_u) OVER w AS nlon
  FROM dd WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
k AS (
  SELECT doc_id,
         (lon_u - plon) * (nlat - lat_u)
           - (lat_u - plat) * (nlon - lon_u) AS cross_p,
         (lon_u - plon) * (nlon - lon_u)
           + (lat_u - plat) * (nlat - lat_u) AS dot_p
  FROM t WHERE plat IS NOT NULL AND nlat IS NOT NULL)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_interior,
       CAST(SUM(CASE WHEN cross_p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_left,
       CAST(SUM(CASE WHEN cross_p < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_right,
       CAST(SUM(CASE WHEN cross_p = 0 AND dot_p > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_straight,
       CAST(SUM(CASE WHEN cross_p = 0 AND dot_p <= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_reversal,
       CAST(SUM(CASE WHEN cross_p > 0 THEN 1 ELSE 0 END)
            - SUM(CASE WHEN cross_p < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS net_turns
FROM k GROUP BY doc_id ORDER BY doc_id
""".format(txt=_TRAJ_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)")


_register("geo_turns", q_geo_turns, Q_GEO_TURNS_SQL, verified=5,
          plan_dump=True)


def q_events_transitions(spark, sf_dir):
    """Markov next-event transition matrix (clickstream sequence mining):
    lag(event_type) per user in (ts, event_id) order, then counts and
    integer-ppm row-conditional probabilities per (prev, next) pair.
    Integer division (truncating) matches DuckDB's // exactly because every
    operand is non-negative (documented precondition, same as cohort's).
    Shuffles: the per-user window, then two vocab-sized ops (the 5x5
    transition table) — corpus never reshuffles twice."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    trans = pairs.groupBy("prev_type",
                          F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("long").alias("n"))
    tw = Window.partitionBy("prev_type")
    return (
        trans.withColumn("row_total", F.sum("n").over(tw))
        .select(
            "prev_type", "next_type", "n",
            F.expr("div(n * 1000000, row_total)").cast("long")
            .alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


Q_EVENTS_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
trans AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, n,
       CAST((n * 1000000) // SUM(n) OVER (PARTITION BY prev_type)
            AS BIGINT) AS p_ppm
FROM trans
ORDER BY prev_type, next_type
"""


_register("events_transitions", q_events_transitions, Q_EVENTS_TRANSITIONS_SQL,
          verified=4, plan_dump=True)


def q_stream_attribution(spark, sf_dir):
    """STREAM-STREAM event-time interval join — the one Structured
    Streaming capability the surface lacked: a watermarked click stream
    inner-joins a watermarked purchase stream on user_id with the purchase
    constrained to [click_ts, click_ts + 2h] (last-touch attribution).
    Both sides read the same events parquet as independent file streams;
    the join keeps keyed state bounded by the 2h watermark + time-range
    condition (state pruned as watermarks advance — the 100 TB shape).
    Event time is pinned tz-independently (timestamp_micros of pure-NTZ
    epoch micros); every output value is an integer or id.  Full oracle:
    the equivalent batch interval join.

    State partitioning: a stream-stream join opens FOUR state stores per
    shuffle partition, and their open/commit cost is paid per partition
    per microbatch regardless of state size — so the stream's shuffle
    partitions must be sized to keyed-state VOLUME, not to the batch
    shuffle default (measured here: 64 partitions 17.8 s -> 8 partitions
    3.3 s at sf0.1, identical output).  Derived from the session conf
    (//8, floor 4) so the odd-parallelism gate variant still varies it;
    a 100 TB deployment raises the divisor's input, not this code."""
    ts_i = F.timestamp_micros(_ntz_epoch_us("ts"))

    def src():
        return (
            spark.readStream.schema(_EVENTS_DDL)
            .parquet(_stream_dir(sf_dir, "events"))
            .withColumn("ts_i", ts_i)
        )

    clicks = (
        src().filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id",
                F.col("ts_i").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    buys = (
        src().filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("buy_id"),
                F.col("user_id").alias("b_user"),
                F.col("ts_i").alias("buy_ts"))
        .withWatermark("buy_ts", "2 hours")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 2 HOURS")),
        "inner",
    )
    pairs = joined.select(
        "user_id", "click_id", "buy_id",
        (F.unix_micros("buy_ts") - F.unix_micros("click_ts"))
        .cast("long").alias("lag_us"),
    )
    return (
        _run_stream(spark, pairs, "stream_attribution", "append")
        .orderBy("user_id", "click_id", "buy_id")
    )


Q_STREAM_ATTRIBUTION_SQL = """
SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
ORDER BY a.user_id, click_id, buy_id
"""


_register("stream_attribution", q_stream_attribution, Q_STREAM_ATTRIBUTION_SQL,
          verified=4)


# --------------------------------------------------------------------------
# Continuation-session additions.  Until a driver round verifies them
# (``verified=``), their correctness evidence is the local gate replica
# (scripts/check_correctness.py).
# --------------------------------------------------------------------------


def _clumped_points(spark, sf_dir):
    return _clumped_points_from(_t(spark, sf_dir, "customer"))


def _clumped_points_from(c):
    """Deterministic CLUMPED point field for density clustering: 6 cluster
    centers on a coarse lattice, per-point offsets on the exact 0.25-degree
    dyadic lattice (dlon from i mod 5, dlat from i mod 7 — independent
    residues so the blob is 2-D, not a diagonal), plus world-scattered
    noise for every 23rd customer. Pure expressions — runs unchanged on a
    streaming customer source."""
    i = F.col("c_custkey")
    g = (i * 7) % 6
    lon_c = (g % 3).cast("double") * 100 - 100
    lat_c = F.floor(g / F.lit(3)).cast("double") * 60 - 30
    dlon = ((i * 13) % 5).cast("double") * 0.25 - 0.5
    dlat = ((i * 17) % 7).cast("double") * 0.25 - 0.75
    noise = (i % 23) == 0
    return c.select(
        i.alias("point_id"),
        F.when(noise, ((i * 37) % 720).cast("double") / 2 - 180 + 0.25)
        .otherwise(lon_c + dlon).alias("lon"),
        F.when(noise, ((i * 61) % 360).cast("double") / 2 - 90 + 0.25)
        .otherwise(lat_c + dlat).alias("lat"),
    )


_CLUMPED_POINTS_SQL = """
SELECT c_custkey AS point_id,
       CASE WHEN c_custkey % 23 = 0
            THEN CAST((c_custkey * 37) % 720 AS DOUBLE) / 2 - 180 + 0.25
            ELSE CAST(((c_custkey * 7) % 6) % 3 AS DOUBLE) * 100 - 100
                 + CAST((c_custkey * 13) % 5 AS DOUBLE) * 0.25 - 0.5
       END AS lon,
       CASE WHEN c_custkey % 23 = 0
            THEN CAST((c_custkey * 61) % 360 AS DOUBLE) / 2 - 90 + 0.25
            ELSE floor(((c_custkey * 7) % 6) / 3.0) * 60 - 30
                 + CAST((c_custkey * 17) % 7 AS DOUBLE) * 0.25 - 0.75
       END AS lat
FROM customer
"""


def q_geo_grid_cluster(spark, sf_dir):
    """Grid-based DBSCAN over a clumped point field: eps-cell histogram
    (the one corpus-sized shuffle), core cells by min_pts, clusters =
    connected components of the 8-neighbor CORE-cell graph (large-star /
    small-star rounds on the cell table), border cells take the min
    neighboring cluster, everything else is noise.  All integer
    micro-degree arithmetic; the oracle replays cells + adjacency and
    closes components with a recursive CTE (same proof shape as
    dedup_clusters)."""
    from picogeojson_spark.operators.spatial_cluster import grid_dbscan

    pts = _clumped_points(spark, sf_dir)
    return grid_dbscan(pts, eps_udeg=500_000, min_pts=2).orderBy("point_id")


Q_GEO_GRID_CLUSTER_SQL = """
WITH RECURSIVE
pts AS ({points}),
pc AS (
  SELECT point_id,
         CAST(floor(CAST(floor(lon * 1000000.0) AS BIGINT) / 500000.0)
              AS BIGINT) AS cx,
         CAST(floor(CAST(floor(lat * 1000000.0) AS BIGINT) / 500000.0)
              AS BIGINT) AS cy
  FROM pts),
pk AS (
  SELECT point_id, cx, cy,
         (cx + 1048576) * 2097152 + (cy + 1048576) AS k
  FROM pc),
cells AS (SELECT cx, cy, k, COUNT(*) AS cnt FROM pk GROUP BY 1, 2, 3),
core AS (SELECT cx, cy, k FROM cells WHERE cnt >= 2),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)),
edges AS (
  SELECT a.k AS u, b.k AS v
  FROM core a CROSS JOIN offs o
  JOIN core b
    ON b.k = (a.cx + o.dx + 1048576) * 2097152 + (a.cy + o.dy + 1048576)
  WHERE a.k < b.k),
sym AS (SELECT u AS a, v AS b FROM edges UNION SELECT v, u FROM edges),
reach(s, t) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.s, e.b FROM reach r JOIN sym e ON r.t = e.a WHERE e.b <> r.s),
comp AS (SELECT s AS k, LEAST(s, MIN(t)) AS cluster_id FROM reach GROUP BY s),
corec AS (
  SELECT c.k, c.cx, c.cy, COALESCE(comp.cluster_id, c.k) AS cluster_id
  FROM core c LEFT JOIN comp ON comp.k = c.k),
border AS (
  SELECT nc.k, MIN(cc.cluster_id) AS cluster_id
  FROM cells nc CROSS JOIN offs o
  JOIN corec cc
    ON cc.k = (nc.cx + o.dx + 1048576) * 2097152 + (nc.cy + o.dy + 1048576)
  WHERE nc.k NOT IN (SELECT k FROM corec)
  GROUP BY nc.k),
roles AS (
  SELECT k, cluster_id, 'core' AS role FROM corec
  UNION ALL
  SELECT k, cluster_id, 'border' AS role FROM border)
SELECT p.point_id,
       CAST(COALESCE(r.cluster_id, -1) AS BIGINT) AS cluster_id,
       COALESCE(r.role, 'noise') AS role
FROM pk p LEFT JOIN roles r ON r.k = p.k
ORDER BY point_id
""".format(points=_CLUMPED_POINTS_SQL)


_register("geo_grid_cluster", q_geo_grid_cluster, Q_GEO_GRID_CLUSTER_SQL,
          plan_dump=True)


_KMEANS_SEEDS = [((j * 20 - 70) * 10**6, (j * 40 - 140) * 10**6)
                 for j in range(8)]
_KMEANS_ROUNDS = 4


def q_geo_kmeans(spark, sf_dir):
    """Deterministic integer Lloyd's k-means over the customer lattice
    (operators/spatial_cluster.py:kmeans_points — the mllib-KMeans shape
    with exact int64 distances, floor-division centroid updates in
    shifted non-negative space, (dist, cid) struct-min tie-breaks, and
    empty clusters holding their centroid).  Per round the k=8 centroids
    collect to the driver (bounded-collect pattern, what mllib
    broadcasts) and assignment is pure codegen with NO join; the oracle
    unrolls all 4 rounds with MATERIALIZED CTEs (the pagerank/LPA proof
    shape), so hash-equality proves every round's assignment AND update."""
    from picogeojson_spark.operators.spatial_cluster import kmeans_points

    pts = _points_from_customer(spark, sf_dir).select(
        F.floor(F.col("lat") * 1000000.0).cast("long").alias("lat_u"),
        F.floor(F.col("lon") * 1000000.0).cast("long").alias("lon_u"),
    )
    return kmeans_points(pts, seeds=_KMEANS_SEEDS,
                         rounds=_KMEANS_ROUNDS).orderBy("cid")


def _kmeans_sql(seeds=_KMEANS_SEEDS, rounds=_KMEANS_ROUNDS):
    """Unrolled-round replay of kmeans_points: MATERIALIZED CTEs per
    round (plain CTEs inline per reference -> exponential), list-min
    lexicographic assignment, BIGINT-cast sums (DuckDB SUM->HUGEINT
    rule), COALESCE empty-cluster hold."""
    k = len(seeds)
    shifted = [(a + 90_000_000, o + 180_000_000) for a, o in seeds]
    vals = ", ".join("({}, {}, {})".format(j, a, o)
                     for j, (a, o) in enumerate(shifted))
    parts = ["""
WITH pts AS MATERIALIZED (
  SELECT point_id,
         CAST(floor(lat * 1000000.0) AS BIGINT) + 90000000 AS lat_s,
         CAST(floor(lon * 1000000.0) AS BIGINT) + 180000000 AS lon_s
  FROM ({points})),
c0(cid, clat, clon) AS (VALUES {vals})""".format(points=_POINTS_SQL,
                                                 vals=vals)]
    assign = ("MIN([(lat_s - clat) * (lat_s - clat)"
              " + (lon_s - clon) * (lon_s - clon), CAST(cid AS BIGINT)])")
    for r in range(1, rounds + 1):
        parts.append(""",
a{r} AS MATERIALIZED (
  SELECT point_id, lat_s, lon_s, ({asg})[2] AS cid
  FROM pts CROSS JOIN c{p}
  GROUP BY point_id, lat_s, lon_s),
c{r} AS MATERIALIZED (
  SELECT c.cid,
         COALESCE(n.sa // n.n, c.clat) AS clat,
         COALESCE(n.so // n.n, c.clon) AS clon
  FROM c{p} c LEFT JOIN (
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(lat_s) AS BIGINT) AS sa,
           CAST(SUM(lon_s) AS BIGINT) AS so
    FROM a{r} GROUP BY cid) n USING (cid))""".format(
            r=r, p=r - 1, asg=assign))
    parts.append(""",
af AS MATERIALIZED (
  SELECT point_id, ({asg})[2] AS cid, ({asg})[1] AS d
  FROM pts CROSS JOIN c{R}
  GROUP BY point_id, lat_s, lon_s),
s AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(floor(sqrt(CAST(d AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS inertia_u
  FROM af GROUP BY cid)
SELECT CAST(c.cid AS INT) AS cid,
       CAST(c.clat - 90000000 AS BIGINT) AS c_lat_u,
       CAST(c.clon - 180000000 AS BIGINT) AS c_lon_u,
       COALESCE(s.n_points, 0) AS n_points,
       COALESCE(s.inertia_u, 0) AS inertia_u
FROM c{R} c LEFT JOIN s USING (cid) ORDER BY cid""".format(
        asg=assign, R=rounds))
    return "".join(parts)


_register("geo_kmeans", q_geo_kmeans, _kmeans_sql(), verified=5,
          plan_dump=True)


def q_geo_heatmap(spark, sf_dir):
    """Spatial hotspot raster: 2-degree cell histogram + 3x3 box-smoothed
    density over the clumped field.  ONE corpus shuffle; the smoothing
    pass shuffles 9x the occupied-CELL count only."""
    from picogeojson_spark.operators.spatial_cluster import grid_heatmap

    pts = _clumped_points(spark, sf_dir)
    return grid_heatmap(pts, cell_udeg=2_000_000).orderBy("cx", "cy")


Q_GEO_HEATMAP_SQL = """
WITH pts AS ({points}),
pc AS (
  SELECT CAST(floor(CAST(floor(lon * 1000000.0) AS BIGINT) / 2000000.0)
              AS BIGINT) AS cx,
         CAST(floor(CAST(floor(lat * 1000000.0) AS BIGINT) / 2000000.0)
              AS BIGINT) AS cy
  FROM pts),
cells AS (SELECT cx, cy, COUNT(*) AS cnt FROM pc GROUP BY 1, 2),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)),
sm AS (
  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, SUM(c.cnt) AS smoothed
  FROM cells c CROSS JOIN offs o GROUP BY 1, 2)
SELECT c.cx, c.cy, CAST(c.cnt AS BIGINT) AS cnt,
       CAST(sm.smoothed AS BIGINT) AS smoothed
FROM cells c JOIN sm ON sm.cx = c.cx AND sm.cy = c.cy
ORDER BY c.cx, c.cy
""".format(points=_CLUMPED_POINTS_SQL)


_register("geo_heatmap", q_geo_heatmap, Q_GEO_HEATMAP_SQL, plan_dump=True)


def q_graph_triangles(spark, sf_dir):
    """Triangle counting over the market-basket co-occurrence graph
    (parts sharing an order): degree-ordered orientation (Suri-
    Vassilvitskii) bounds wedge fan-out at O(m^1.5) under any skew; one
    wedge self-join + one closing equi-join, per-vertex counts map-side
    combined.  The oracle is the brute triple join over the same distinct
    edge set — hash-equality proves the oriented enumeration finds every
    triangle exactly once."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        triangle_count,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return triangle_count(edges).orderBy("node")


Q_GRAPH_TRIANGLES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e AS (SELECT DISTINCT a.item AS u, b.item AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
pern AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM pern GROUP BY node ORDER BY node
"""


_register("graph_triangles", q_graph_triangles, Q_GRAPH_TRIANGLES_SQL,
          verified=5, plan_dump=True)


def q_web_bloom(spark, sf_dir):
    """Bloom-filter URL-blocklist membership: blocked domains (every
    31st doc's registrable domain — 17 of the 44 domains) build an
    m=128-bit / k=3 bitmap — DELIBERATELY undersized so a false positive
    is exercised (exactly 1 FP domain at both SFs, verified) — collected
    as two packed int64 words and probed with pure bit-test expressions
    (zero shuffles, zero UDFs on the corpus). ``true_block`` rides a
    broadcast join so the oracle pins both the Bloom arithmetic AND the
    no-false-negative property row-for-row."""
    from picogeojson_spark.operators.bloom import bloom_build, bloom_probe
    from picogeojson_spark.operators.web import registrable_domain

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    doms = d.select(
        "doc_id", registrable_domain(_messy_url_col()).alias("domain"))
    block = (doms.filter(F.col("doc_id") % 31 == 0)
             .select("domain").distinct())
    words = bloom_build(block, "domain", m_bits=128, k=3)
    probed = bloom_probe(doms, "domain", words, m_bits=128, k=3)
    return (
        probed.join(block.withColumn("true_block", F.lit(1)),
                    on="domain", how="left")
        .select("doc_id", "domain", "bloom_hit",
                F.coalesce("true_block", F.lit(0)).alias("true_block"))
        .orderBy("doc_id")
    )


def _q_web_bloom_sql():
    def pos(i, col):
        return ("CAST(('0x' || substring(md5('b{i}:' || {c}), 1, 8)) "
                "AS BIGINT) % 128").format(i=i, c=col)

    return """
WITH pages AS (SELECT doc_id, {url} AS url FROM documents),
doms AS (SELECT doc_id, {dom} AS domain FROM pages),
block AS (SELECT DISTINCT domain FROM doms WHERE doc_id % 31 = 0),
ks(i) AS (VALUES (0), (1), (2)),
bpos AS (
  SELECT DISTINCT
         CAST(('0x' || substring(md5('b' || CAST(i AS VARCHAR) || ':'
              || domain), 1, 8)) AS BIGINT) % 128 AS pos
  FROM block CROSS JOIN ks)
SELECT d.doc_id, d.domain,
       CASE WHEN ({p0}) IN (SELECT pos FROM bpos)
             AND ({p1}) IN (SELECT pos FROM bpos)
             AND ({p2}) IN (SELECT pos FROM bpos)
            THEN 1 ELSE 0 END AS bloom_hit,
       CASE WHEN d.domain IN (SELECT domain FROM block)
            THEN 1 ELSE 0 END AS true_block
FROM doms d ORDER BY doc_id
""".format(url=_MESSY_URL_SQL, dom=_domain_sql("url"),
           p0=pos(0, "d.domain"), p1=pos(1, "d.domain"),
           p2=pos(2, "d.domain"))


_register("web_bloom", q_web_bloom, _q_web_bloom_sql(), verified=5,
          plan_dump=True)


def q_geo_geohash(spark, sf_dir):
    """Geohash string keys at two precisions (the hierarchy property:
    gh4 is always a prefix of gh6) — pure codegen quantize + interleave +
    base-32 lookup, pinned against published geohash values in tests."""
    from picogeojson_spark.operators.layout import geohash_encode

    pts = _points_from_customer(spark, sf_dir)
    return pts.select(
        "point_id",
        geohash_encode(F.col("lon"), F.col("lat"), 6).alias("gh6"),
        geohash_encode(F.col("lon"), F.col("lat"), 4).alias("gh4"),
    ).orderBy("point_id")


def _q_geo_geohash_sql():
    from picogeojson_spark.operators.layout import geohash_encode_sql

    return """
SELECT point_id, {g6} AS gh6, {g4} AS gh4
FROM ({points}) ORDER BY point_id
""".format(points=_POINTS_SQL,
           g6=geohash_encode_sql("lon", "lat", 6),
           g4=geohash_encode_sql("lon", "lat", 4))


_register("geo_geohash", q_geo_geohash, _q_geo_geohash_sql(), plan_dump=True)


def q_events_rfm(spark, sf_dir):
    """RFM user segmentation over purchase events: per-user last-seen day
    / purchase count / integer-cent spend, quintile-bucketed with exact
    histogram-percentile cutoffs (no user-table sort; the three 1-row
    cutoff scalars broadcast onto the user table — allowlisted shape).
    All integer arithmetic; ties share the lower bucket."""
    from picogeojson_spark.operators.rfm import rfm_segments

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        _ntz_epoch_us("ts").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return rfm_segments(ev).orderBy("user_id")


def _q_events_rfm_sql():
    def cut_cte(m):
        return """
h_{m} AS (SELECT {m} AS val, COUNT(*) AS cnt FROM users GROUP BY 1),
c_{m} AS (
  SELECT val, SUM(cnt) OVER (ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume,
         SUM(cnt) OVER () AS n
  FROM h_{m}),
cut_{m} AS (
  SELECT MIN(CASE WHEN cume >= (20 * n + 99) // 100 THEN val END) AS c20,
         MIN(CASE WHEN cume >= (40 * n + 99) // 100 THEN val END) AS c40,
         MIN(CASE WHEN cume >= (60 * n + 99) // 100 THEN val END) AS c60,
         MIN(CASE WHEN cume >= (80 * n + 99) // 100 THEN val END) AS c80
  FROM c_{m})""".format(m=m)

    def bucket(m, a):
        return ("(1 + CASE WHEN u.{m} > {a}.c20 THEN 1 ELSE 0 END"
                " + CASE WHEN u.{m} > {a}.c40 THEN 1 ELSE 0 END"
                " + CASE WHEN u.{m} > {a}.c60 THEN 1 ELSE 0 END"
                " + CASE WHEN u.{m} > {a}.c80 THEN 1 ELSE 0 END)"
                ).format(m=m, a=a)

    rb = bucket("last_day", "cr")
    fb = bucket("freq", "cf")
    mb = bucket("monetary", "cm")
    return """
WITH users AS (
  SELECT user_id,
         CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
{cr},
{cf},
{cm}
SELECT u.user_id, u.last_day, u.freq, u.monetary,
       CAST({rb} AS INT) AS r_bucket,
       CAST({fb} AS INT) AS f_bucket,
       CAST({mb} AS INT) AS m_bucket,
       CAST({rb} * 100 + {fb} * 10 + {mb} AS INT) AS rfm_code
FROM users u
CROSS JOIN cut_last_day cr CROSS JOIN cut_freq cf CROSS JOIN cut_monetary cm
ORDER BY user_id
""".format(cr=cut_cte("last_day"), cf=cut_cte("freq"),
           cm=cut_cte("monetary"), rb=rb, fb=fb, mb=mb)


_register("events_rfm", q_events_rfm, _q_events_rfm_sql(), verified=5,
          plan_dump=True)


def q_events_decay(spark, sf_dir):
    """Half-life time-decayed engagement score per user
    (operators/rfm.py:decayed_activity): an event k half-lives before the
    reference instant contributes 2^20 >> k, so scores halve per 3 days
    of inactivity.  Exactness: age is a pure-NTZ integer microsecond
    division (no session-tz cast), decay is an integer shift — never a
    float pow — so both engines round identically.  Pure codegen + ONE
    map-side-combined aggregate; the reference instant is a parameter,
    not a data-dependent scalar subquery."""
    from picogeojson_spark.operators.rfm import decayed_activity

    ev = _t(spark, sf_dir, "events")
    return decayed_activity(
        ev, ref_ts="2024-02-01 00:00:00",
        half_life_us=3 * 86_400_000_000).orderBy("user_id")


Q_EVENTS_DECAY_SQL = """
WITH aged AS (
  SELECT user_id,
         LEAST(date_diff('microsecond', ts,
                         TIMESTAMP '2024-02-01 00:00:00')
               // 259200000000, 62) AS age
  FROM events
  WHERE date_diff('microsecond', ts,
                  TIMESTAMP '2024-02-01 00:00:00') >= 0)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(1048576 // (CAST(1 AS BIGINT) << age)) AS BIGINT)
         AS decayed_score,
       CAST(MIN(age) AS BIGINT) AS newest_age
FROM aged GROUP BY user_id ORDER BY user_id
"""


_register("events_decay", q_events_decay, Q_EVENTS_DECAY_SQL, verified=5,
          plan_dump=True)


def q_events_attribution(spark, sf_dir):
    """Linear multi-touch attribution (operators/attribution.py) — the
    batch complement of stream_attribution's interval join: each purchase
    splits 1e6 ppm of credit equally (integer division, remainder
    dropped) across the same user's click/view/signup touches in the
    prior 2 days; untouched purchases land in the '(none)' direct
    bucket at full credit.  Pure-NTZ microsecond deltas; ONE user-keyed
    equi-join, conversion-sized aggregate + window, touch-type-sized
    output."""
    from picogeojson_spark.operators.attribution import linear_attribution

    ev = _t(spark, sf_dir, "events")
    return linear_attribution(
        ev, window_us=2 * 86_400_000_000).orderBy("touch_type")


Q_EVENTS_ATTRIBUTION_SQL = """
WITH conv AS (
  SELECT user_id AS u, event_id AS conv_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT user_id AS u, event_type AS touch_type, ts AS touch_ts
  FROM events WHERE event_type IN ('click', 'view', 'signup')),
j AS (
  SELECT c.conv_id, t.touch_type
  FROM conv c JOIN touch t ON c.u = t.u
  WHERE date_diff('microsecond', t.touch_ts, c.conv_ts) > 0
    AND date_diff('microsecond', t.touch_ts, c.conv_ts)
        <= 172800000000),
per_ct AS (
  SELECT conv_id, touch_type, CAST(COUNT(*) AS BIGINT) AS n_ct
  FROM j GROUP BY 1, 2),
cr AS (
  SELECT conv_id, touch_type, n_ct,
         n_ct * (1000000 // SUM(n_ct) OVER (PARTITION BY conv_id))
           AS credit
  FROM per_ct),
att AS (
  SELECT touch_type,
         CAST(SUM(n_ct) AS BIGINT) AS n_touches,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
         CAST(SUM(credit) AS BIGINT) AS credit_ppm_sum
  FROM cr GROUP BY touch_type),
direct AS (
  SELECT '(none)' AS touch_type, CAST(0 AS BIGINT) AS n_touches,
         CAST(COUNT(*) AS BIGINT) AS n_conversions,
         CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_ppm_sum
  FROM conv
  WHERE conv_id NOT IN (SELECT conv_id FROM per_ct)
  HAVING COUNT(*) > 0)
SELECT * FROM att UNION ALL SELECT * FROM direct ORDER BY touch_type
"""


_register("events_attribution", q_events_attribution, Q_EVENTS_ATTRIBUTION_SQL,
          verified=5, plan_dump=True)


def q_stream_decay(spark, sf_dir):
    """STREAMING decayed counters — the classic streaming-feature shape:
    the SAME decayed_activity operator runs unchanged over a readStream
    source (per-row age/shift expressions + one keyed aggregate fold in
    complete mode; state bounded at one row per user).  Oracle is the
    SAME SQL as events_decay — the hash IS the stream==batch proof
    (stream_cdc pattern)."""
    from picogeojson_spark.operators.rfm import decayed_activity

    src = (
        spark.readStream.schema(_EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "events"))
    )
    agg = decayed_activity(
        src, ref_ts="2024-02-01 00:00:00",
        half_life_us=3 * 86_400_000_000)
    return _run_stream(spark, agg, "stream_decay",
                       "complete").orderBy("user_id")


_register("stream_decay", q_stream_decay, Q_EVENTS_DECAY_SQL, verified=5)


def q_events_forecast(spark, sf_dir):
    """Holt linear-trend forecast per event type
    (operators/forecast.py:holt_forecast): the hourly count series folds
    through the double-exponential-smoothing recurrence in MILLI fixed
    point with EXPLICIT floor division (div+pmod on the Spark side — the
    trend goes negative, where Spark's truncating div and DuckDB's
    flooring // would diverge).  Corpus reduces to the (key, hour) rollup
    in one map-side-combined aggregate; each key's bounded series folds
    in one HOF whose lambda touches only its own variables (the
    CollapseProject-safe category); the oracle replays the identical
    fold with DuckDB list_reduce."""
    from picogeojson_spark.operators.forecast import holt_forecast

    ev = _t(spark, sf_dir, "events")
    return holt_forecast(ev).orderBy("key")


def _q_events_forecast_sql(a=300, b=100):
    # Two DuckDB traps force this shape (probed in-session, DuckDB 1.0.0):
    # (1) list_reduce evaluates struct_pack fields SEQUENTIALLY with acc
    #     rebound in place — the b field would see the NEW l; a recursive
    #     CTE evaluates the whole row against the OLD row, like Spark's
    #     named_struct.  (2) integer `//` TRUNCATES toward zero (probe:
    #     -7 // 2 = -3), so floor must be spelled explicitly — same
    #     pmod construction as the Spark side.
    def fd(v):
        return ("((({v}) - ((({v}) % 1000 + 1000) % 1000)) // 1000)"
                .format(v=v))

    x = "sr.s[r.i + 1] * 1000"
    lp = fd("{a} * ({x}) + {na} * (r.l + r.b)".format(a=a, na=1000 - a,
                                                      x=x))
    bp = fd("{b} * (({lp}) - r.l) + {nb} * r.b".format(
        b=b, nb=1000 - b, lp=lp))
    return """
WITH RECURSIVE hourly AS (
  SELECT event_type AS key,
         date_diff('microsecond', TIMESTAMP '1970-01-01 00:00:00', ts)
           // 3600000000 AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
series AS (
  SELECT key, list(n ORDER BY hour) AS s FROM hourly GROUP BY key),
r AS (
  SELECT key, 1 AS i, CAST(s[1] * 1000 AS BIGINT) AS l,
         CAST(0 AS BIGINT) AS b
  FROM series
  UNION ALL
  SELECT r.key, r.i + 1, CAST({lp} AS BIGINT), CAST({bp} AS BIGINT)
  FROM r JOIN series sr ON sr.key = r.key
  WHERE r.i < len(sr.s))
SELECT r.key, CAST(len(s.s) AS BIGINT) AS n_hours,
       r.l AS level_milli, r.b AS trend_milli,
       CAST(r.l + r.b AS BIGINT) AS forecast_next_milli
FROM r JOIN series s ON s.key = r.key
WHERE r.i = len(s.s) ORDER BY r.key
""".format(lp=lp, bp=bp)


_register("events_forecast", q_events_forecast, _q_events_forecast_sql(),
          verified=5, plan_dump=True)


def _eval_scored(spark, sf_dir):
    """Deterministic scored/labelled corpus for the eval family: an
    integer length-plus-hash-noise score against a length-threshold
    label — partially separable with real ties."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        (F.expr("div(n_chars, 10)") + F.col("doc_id") % 7).cast("long")
        .alias("score"),
        (F.col("n_chars") >= 300).alias("label"),
    )


_EVAL_SCORED_SQL = ("SELECT CAST(n_chars // 10 + doc_id % 7 AS BIGINT)"
                    " AS score, n_chars >= 300 AS label FROM documents")


def q_eval_auc(spark, sf_dir):
    """Exact ROC-AUC at corpus scale (operators/evals.py:auc_exact): the
    Mann-Whitney statistic with tie correction, computed from the score
    HISTOGRAM — one corpus aggregate + a score-cardinality-sized running
    window — never a global row sort; the doubled-U spelling keeps
    everything integer so both engines round identically."""
    from picogeojson_spark.operators.evals import auc_exact

    return auc_exact(_eval_scored(spark, sf_dir))


Q_EVAL_AUC_SQL = """
WITH sc AS ({scored}),
hist AS (
  SELECT score AS s,
         CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n0
  FROM sc GROUP BY score),
r AS (
  SELECT *, CAST(SUM(n0) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - n0
                 AS BIGINT) AS n0_below
  FROM hist)
SELECT CAST(SUM(n1) AS BIGINT) AS n_pos,
       CAST(SUM(n0) AS BIGINT) AS n_neg,
       CAST(CASE WHEN SUM(n1) > 0 AND SUM(n0) > 0
            THEN SUM(n1 * (2 * n0_below + n0)) * 1000000
                 // (2 * SUM(n1) * SUM(n0))
            ELSE NULL END AS BIGINT) AS auc_ppm
FROM r
""".format(scored=_EVAL_SCORED_SQL)


def q_eval_calibration(spark, sf_dir):
    """Reliability-diagram bins (operators/evals.py:calibration_bins):
    clamped integer binning + per-bin counts / positive rate / mean
    score, all integer floor arithmetic on shifted non-negative operands;
    ONE map-side-combined aggregate."""
    from picogeojson_spark.operators.evals import calibration_bins

    return calibration_bins(_eval_scored(spark, sf_dir), lo=0, hi=63,
                            n_bins=8).orderBy("bin")


Q_EVAL_CALIBRATION_SQL = """
WITH sc AS ({scored}),
c AS (
  SELECT GREATEST(0, LEAST(63, score)) AS s0,
         label AS y
  FROM sc)
SELECT CAST((s0 * 8) // 64 AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST((SUM(s0) * 1000) // COUNT(*) AS BIGINT) AS mean_score_milli,
       CAST((SUM(CASE WHEN y THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
            AS BIGINT) AS pos_rate_ppm
FROM c GROUP BY 1 ORDER BY bin
""".format(scored=_EVAL_SCORED_SQL)


_register("eval_auc", q_eval_auc, Q_EVAL_AUC_SQL, verified=5, plan_dump=True)
_register("eval_calibration", q_eval_calibration, Q_EVAL_CALIBRATION_SQL,
          verified=5, plan_dump=True)


def q_events_paths(spark, sf_dir):
    """Session path mining (operators/paths.py:session_paths): 30-min
    gap sessions, first-3 event types joined '>' per session, counted by
    sessions and distinct users.  ONE corpus shuffle (the user window's
    partitioning + sort reused by the running-sum window and the
    session groupBy); the HOF chain touches only its own lambda vars;
    (tus, event_id) total order makes the path strings deterministic.
    Output is path-space-sized (<= 5^3 + shorter prefixes)."""
    from picogeojson_spark.operators.paths import session_paths

    ev = _t(spark, sf_dir, "events")
    return session_paths(ev, gap_us=1_800_000_000, k=3).orderBy(
        F.desc("n_sessions"), "path")


Q_EVENTS_PATHS_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
  FROM events),
g AS (
  SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                   OR tus - lag(tus) OVER w > 1800000000
            THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS UNBOUNDED PRECEDING) AS sidx
  FROM g),
p AS (
  SELECT user_id, sidx,
         array_to_string(
           list_slice(list(event_type ORDER BY tus, event_id), 1, 3),
           '>') AS path
  FROM s GROUP BY user_id, sidx)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM p GROUP BY path ORDER BY n_sessions DESC, path
"""


_register("events_paths", q_events_paths, Q_EVENTS_PATHS_SQL, verified=5,
          plan_dump=True)


def q_table_skew(spark, sf_dir):
    """Join-key skew diagnostic (operators/stats.py:key_skew_report) —
    the pre-flight "salt this join?" report: key cardinality, heaviest
    key + share, exact p50/p99 per-key counts via the counts-of-counts
    histogram (no window ever sees the key table), and the max/median
    skew ratio.  Run over three lineitem keys: the near-uniform
    l_suppkey, the ~4-rows-per-key l_orderkey, and a planted hot column
    putting a third of all rows on one key — the case the report must
    flag.  The two 1-row summaries merge by union + aggregate (a literal
    join would constant-fold into the forbidden scalar BNLJ)."""
    from picogeojson_spark.operators.stats import key_skew_report

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey",
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("l_orderkey").cast("string")))
        .alias("hotcol"),
    )
    return key_skew_report(
        li, ["l_suppkey", "l_orderkey", "hotcol"]).orderBy("col_name")


def _q_table_skew_sql():
    src = ("SELECT l_suppkey, l_orderkey, "
           "CASE WHEN l_orderkey % 3 = 0 THEN 'hot' "
           "ELSE 'k' || CAST(l_orderkey AS VARCHAR) END AS hotcol "
           "FROM lineitem")
    blocks, selects = [], []
    for i, c in enumerate(["l_suppkey", "l_orderkey", "hotcol"]):
        blocks.append("""
kc{i} AS (
  SELECT COALESCE(CAST({c} AS VARCHAR), '(null)') AS key,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM src GROUP BY 1),
base{i} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS max_n,
         (MAX(struct_pack(n := n, k := key))).k AS max_key
  FROM kc{i}),
r{i} AS (
  SELECT n, SUM(cnt) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM (SELECT n, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM kc{i} GROUP BY n)),
q{i} AS (
  SELECT CAST(MIN(CASE WHEN cum >= (50 * total + 99) // 100 THEN n END)
              AS BIGINT) AS p50_n,
         CAST(MIN(CASE WHEN cum >= (99 * total + 99) // 100 THEN n END)
              AS BIGINT) AS p99_n
  FROM r{i})""".format(i=i, c=c))
        selects.append(
            "SELECT '{c}' AS col_name, n_rows, n_keys, max_key, max_n,"
            " CAST((max_n * 1000000) // n_rows AS BIGINT)"
            " AS max_share_ppm, p50_n, p99_n,"
            " CAST((max_n * 1000000) // p50_n AS BIGINT)"
            " AS skew_ratio_ppm FROM base{i}, q{i}".format(c=c, i=i))
    return ("WITH src AS ({src}),{blocks}\n{sel}\nORDER BY col_name"
            .format(src=src, blocks=",".join(blocks),
                    sel="\nUNION ALL\n".join(selects)))


_register("table_skew", q_table_skew, _q_table_skew_sql(), verified=5,
          plan_dump=True)


def q_events_bots(spark, sf_dir):
    """Behavioral bot detection (operators/bots.py): exact integer
    signals — metronome regularity (min_gap == max_gap > 0), sub-second
    bursts, sustained event rate — over real events UNIONed with three
    planted bot users derived from documents (a 60-s metronome, a
    50-event same-instant burst, a 100-event irregular fast crawler),
    so every classification branch fires and the human users stay
    negative.  Pure-NTZ gap arithmetic; ONE shuffle (user window reused
    by the groupBy)."""
    from picogeojson_spark.operators.bots import bot_scores

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")

    def planted(filt, user, secs, etype):
        return d.filter(filt).select(
            (F.lit(1_000_000_000) + i).cast("long").alias("event_id"),
            F.lit(user).cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.expr("TIMESTAMP_NTZ '2024-01-15 00:00:00'"
                   " + make_dt_interval(0, 0, 0, {})".format(secs))
            .alias("ts"),
        )

    bots = (
        planted(i <= 20, 9001, "doc_id * 60", "view")
        .unionByName(planted((i > 20) & (i <= 70), 9002, "0", "click"))
        .unionByName(planted(
            (i > 70) & (i <= 170), 9003,
            "2 * (doc_id - 71) + (doc_id - 71) % 2", "view"))
    )
    return bot_scores(ev.unionByName(bots)).orderBy("user_id")


Q_EVENTS_BOTS_SQL = """
WITH uni AS (
  SELECT event_id, user_id, event_type, ts FROM events
  UNION ALL
  SELECT 1000000000 + doc_id, 9001, 'view',
         TIMESTAMP '2024-01-15 00:00:00' + to_seconds(doc_id * 60)
  FROM documents WHERE doc_id <= 20
  UNION ALL
  SELECT 1000000000 + doc_id, 9002, 'click',
         TIMESTAMP '2024-01-15 00:00:00'
  FROM documents WHERE doc_id > 20 AND doc_id <= 70
  UNION ALL
  SELECT 1000000000 + doc_id, 9003, 'view',
         TIMESTAMP '2024-01-15 00:00:00'
           + to_seconds(2 * (doc_id - 71) + (doc_id - 71) % 2)
  FROM documents WHERE doc_id > 70 AND doc_id <= 170),
g AS (
  SELECT user_id, ts, event_type,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id), ts) AS gap_us
  FROM uni),
agg AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(date_diff('microsecond', MIN(ts), MAX(ts)) // 1000000
              AS BIGINT) AS span_s,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
         CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
  FROM g GROUP BY user_id),
sig AS (
  SELECT *,
         CAST(CASE WHEN span_s > 0
              THEN (n_events * 3600000) // span_s ELSE 0 END AS BIGINT)
           AS rate_milli,
         (n_events >= 5 AND min_gap_us > 0
          AND min_gap_us = max_gap_us) AS is_regular
  FROM agg)
SELECT user_id, n_events, span_s, rate_milli, n_types,
       min_gap_us, max_gap_us, is_regular,
       (is_regular OR rate_milli > 60000
        OR (span_s = 0 AND n_events >= 10)) AS is_bot
FROM sig ORDER BY user_id
"""


_register("events_bots", q_events_bots, Q_EVENTS_BOTS_SQL, verified=5,
          plan_dump=True)


def q_table_shards(spark, sf_dir):
    """Rendezvous / highest-random-weight sharding
    (operators/sampling.py:rendezvous_assign): every document routes to
    the shard with the greatest 60-bit md5 score — a pure-codegen literal
    fold, no explode/join/shuffle.  The query emits the assignment under
    5 shards AND under 4 (shard n4 dropped) plus the moved flag, so the
    HRW minimal-disruption guarantee (moved <=> previously on n4) is
    itself part of the hash-checked contract."""
    from picogeojson_spark.operators.sampling import rendezvous_assign

    five = ["n0", "n1", "n2", "n3", "n4"]
    d = _t(spark, sf_dir, "documents").select("doc_id")
    out = rendezvous_assign(d, five, out_col="shard")
    out = rendezvous_assign(out, five[:4], out_col="shard_after_drop")
    return out.select(
        "doc_id", "shard", "shard_after_drop",
        (F.col("shard") != F.col("shard_after_drop")).alias("moved"),
    ).orderBy("doc_id")


def _q_table_shards_sql():
    def pick(shards):
        vals = ", ".join("('{}')".format(s) for s in shards)
        return """
  SELECT doc_id, (MAX(struct_pack(
           score := CAST(('0x' || substring(
             md5('hrw:' || s.name || ':' || CAST(doc_id AS VARCHAR)),
             1, 15)) AS BIGINT),
           name := s.name))).name AS pick
  FROM documents CROSS JOIN (VALUES {vals}) s(name)
  GROUP BY doc_id""".format(vals=vals)

    return """
WITH five AS ({five}),
four AS ({four})
SELECT five.doc_id, five.pick AS shard,
       four.pick AS shard_after_drop,
       five.pick <> four.pick AS moved
FROM five JOIN four ON five.doc_id = four.doc_id
ORDER BY five.doc_id
""".format(five=pick(["n0", "n1", "n2", "n3", "n4"]),
           four=pick(["n0", "n1", "n2", "n3"]))


_register("table_shards", q_table_shards, _q_table_shards_sql(), verified=5,
          plan_dump=True)


def q_table_quality(spark, sf_dir):
    """Declarative data-quality gate (operators/expectations.py) over a
    deliberately dirtied orders table: clean orders UNION four planted
    corruption families (NULL custkey, dangling customer FK, duplicate
    order keys, negative totals + bogus status).  All row-level rules +
    uniqueness fold into ONE map-side-combined scan (plan-asserted in
    tests); the FK rule is one broadcastable left-join probe against the
    customer key set.  Every output is a count — hash-exact by
    construction."""
    from picogeojson_spark.operators.expectations import expectation_report

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    k = F.col("o_orderkey")
    bad = o.filter(k % 97 == 0)
    dirty = (
        o.unionByName(bad.withColumn(
            "o_custkey", F.lit(None).cast("long")))
        .unionByName(bad.withColumn("o_custkey", F.lit(-12345)))
        .unionByName(bad.withColumn("o_orderstatus", F.lit("Z"))
                     .withColumn("cents", F.lit(-100)))
    )
    rep = expectation_report(
        dirty,
        not_null=["o_custkey"],
        in_range={"cents": (1, 100_000_000)},
        in_set={"o_orderstatus": ["O", "F", "P"]},
        unique=[["o_orderkey"]],
        fks=[("customer", "o_custkey",
              _t(spark, sf_dir, "customer"), "c_custkey")],
    )
    return rep.orderBy("rule")


Q_TABLE_QUALITY_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
bad AS (SELECT * FROM base WHERE o_orderkey % 97 = 0),
dirty AS (
  SELECT * FROM base
  UNION ALL SELECT o_orderkey, NULL, o_orderstatus, cents FROM bad
  UNION ALL SELECT o_orderkey, -12345, o_orderstatus, cents FROM bad
  UNION ALL SELECT o_orderkey, o_custkey, 'Z', -100 FROM bad),
row_rules AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_null,
         CAST(SUM(CASE WHEN cents IS NOT NULL
                        AND (cents < 1 OR cents > 100000000)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
  FROM dirty),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_violations
  FROM dirty d LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
    ON d.o_custkey = c.c_custkey
  WHERE d.o_custkey IS NOT NULL),
rules AS (
  SELECT 'not_null:o_custkey' AS rule, n AS n_checked,
         v_null AS n_violations FROM row_rules
  UNION ALL SELECT 'in_range:cents', n, v_range FROM row_rules
  UNION ALL SELECT 'in_set:o_orderstatus', n, v_set FROM row_rules
  UNION ALL SELECT 'unique:o_orderkey', n, v_uniq FROM row_rules
  UNION ALL SELECT 'fk:customer', n_checked, n_violations FROM fk)
SELECT rule, n_checked, n_violations,
       n_violations = 0 AS passed
FROM rules ORDER BY rule
"""


_register("table_quality", q_table_quality, Q_TABLE_QUALITY_SQL, verified=5,
          plan_dump=True)


def _local_traj_text_col():
    """LOCALIZED travelogues: each doc's 2-4 waypoints sit within +/-5
    degrees of one of 24 anchor regions (crossings happen between
    neighbors, not across the planet — the realistic trajectory shape and
    the one that keeps pair output linear-ish); the 999.5 trap is planted
    mid-path for doc_id%5 so splicing is exercised in the join too."""
    i = F.col("doc_id")
    g = i % 24
    alon = (g % 6).cast("double") * 60 - 170
    alat = F.floor(g / F.lit(6)).cast("double") * 45 - 78
    parts = [F.lit("trip")]
    for j in range(4):
        lat = alat + ((i * 61 + j * 97) % 40).cast("double") * 0.25 - 5
        lon = alon + ((i * 37 + j * 131) % 40).cast("double") * 0.25 - 5
        word = F.concat(F.lit(" via "), lat.cast("string"), F.lit(", "),
                        lon.cast("string"), F.lit("."))
        parts.append(F.when(j < 2 + i % 3, word).otherwise(F.lit("")))
        if j == 0:
            parts.append(F.when(i % 5 == 0,
                                F.lit(" detour 999.5, 12.25"))
                         .otherwise(F.lit("")))
    return F.concat(*parts)


_LOCAL_TRAJ_WAYPOINT_SQL = """
    || CASE WHEN {j} < 2 + doc_id % 3 THEN ' via '
      || CAST(floor((doc_id % 24) / 6.0) * 45 - 78
              + CAST((doc_id * 61 + {a}) % 40 AS DOUBLE) * 0.25 - 5
              AS VARCHAR)
      || ', '
      || CAST(CAST((doc_id % 24) % 6 AS DOUBLE) * 60 - 170
              + CAST((doc_id * 37 + {b}) % 40 AS DOUBLE) * 0.25 - 5
              AS VARCHAR)
      || '.' ELSE '' END
"""

_LOCAL_TRAJ_TEXT_SQL = (
    "'trip'"
    + _LOCAL_TRAJ_WAYPOINT_SQL.format(j=0, a=0, b=0)
    + " || CASE WHEN doc_id % 5 = 0 THEN ' detour 999.5, 12.25'"
    "    ELSE '' END "
    + "".join(
        _LOCAL_TRAJ_WAYPOINT_SQL.format(j=j, a=j * 97, b=j * 131)
        for j in range(1, 4)
    )
)


def q_geo_seg_intersect(spark, sf_dir):
    """Cross-document trajectory CROSSING join: text-mined LOCAL polylines
    (same mention/splicing contract as geo_trajectory) -> segment table
    -> cell-cover candidates (bounded explode + ONE equi-join, canonical-
    cell dedup so no distinct shuffle) -> exact integer orientation
    refine. The oracle is the brute all-pairs formulation — hash-equality
    proves the cell cover lost no crossing pair (the dedup_setsim proof
    shape)."""
    from picogeojson_spark.operators.segjoin import (
        segment_crossings,
        trajectory_segments,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _local_traj_text_col().alias("text"))
    segs = trajectory_segments(docs)
    return (segment_crossings(segs, cell_udeg=10_000_000)
            .orderBy("doc_a", "doc_b"))


Q_GEO_SEG_INTERSECT_SQL = r"""
WITH d AS (SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  SELECT doc_id, j,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS y,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS x
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180),
seg AS (
  SELECT doc_id, j, x AS bx, y AS by,
         lag(x) OVER (PARTITION BY doc_id ORDER BY j) AS ax,
         lag(y) OVER (PARTITION BY doc_id ORDER BY j) AS ay
  FROM ok),
segs AS (SELECT * FROM seg WHERE ax IS NOT NULL),
pairs AS (
  SELECT s.doc_id AS doc_a, t.doc_id AS doc_b
  FROM segs s JOIN segs t ON s.doc_id < t.doc_id
  WHERE (((s.bx - s.ax) * (t.ay - s.ay) - (t.ax - s.ax) * (s.by - s.ay) > 0
          AND (s.bx - s.ax) * (t.by - s.ay)
              - (t.bx - s.ax) * (s.by - s.ay) < 0)
      OR ((s.bx - s.ax) * (t.ay - s.ay) - (t.ax - s.ax) * (s.by - s.ay) < 0
          AND (s.bx - s.ax) * (t.by - s.ay)
              - (t.bx - s.ax) * (s.by - s.ay) > 0))
    AND (((t.bx - t.ax) * (s.ay - t.ay) - (s.ax - t.ax) * (t.by - t.ay) > 0
          AND (t.bx - t.ax) * (s.by - t.ay)
              - (s.bx - t.ax) * (t.by - t.ay) < 0)
      OR ((t.bx - t.ax) * (s.ay - t.ay) - (s.ax - t.ax) * (t.by - t.ay) < 0
          AND (t.bx - t.ax) * (s.by - t.ay)
              - (s.bx - t.ax) * (t.by - t.ay) > 0)))
SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_crossings
FROM pairs GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
""".format(txt=_LOCAL_TRAJ_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)")


_register("geo_seg_intersect", q_geo_seg_intersect, Q_GEO_SEG_INTERSECT_SQL,
          verified=5, plan_dump=True)


def q_events_sliding(spark, sf_dir):
    """Hopping-window rollup (1 h window sliding every 15 min): each
    event lands in exactly window/hop = 4 windows via a 4-offset explode
    on pure integer-microsecond arithmetic (the tz-proof spelling of
    F.window(slide) — native event-time windows cast through the session
    zone; the repo's GATE_TZ variants would catch that). ONE map-side-
    combined aggregate; money in integer cents."""
    hop, win_k = 900_000_000, 4
    ev = _t(spark, sf_dir, "events").select(
        _ntz_epoch_us("ts").alias("tus"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    ks = F.array(*[F.lit(k) for k in range(win_k)])
    return (
        ev.select(
            "event_type", "cents",
            F.expr("tus div {}".format(hop)).alias("hb"),
            F.explode(ks).alias("k"),
        )
        .select(
            "event_type", "cents",
            ((F.col("hb") - F.col("k")) * F.lit(hop)).alias("win_start_us"),
        )
        .groupBy("win_start_us", "event_type")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.sum("cents").cast("long").alias("cents"))
        .orderBy("win_start_us", "event_type")
    )


Q_EVENTS_SLIDING_SQL = """
WITH ks(k) AS (VALUES (0), (1), (2), (3)),
ev AS (
  SELECT epoch_us(ts) AS tus, event_type,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
w AS (
  SELECT (tus // 900000000 - k) * 900000000 AS win_start_us,
         event_type, cents
  FROM ev CROSS JOIN ks)
SELECT win_start_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM w GROUP BY win_start_us, event_type
ORDER BY win_start_us, event_type
"""


_register("events_sliding", q_events_sliding, Q_EVENTS_SLIDING_SQL,
          plan_dump=True)


def q_sketch_hll_overlap(spark, sf_dir):
    """HLL set algebra: click-audience x purchase-audience overlap by
    register-max UNION + inclusion-exclusion (the mergeable-sketch
    workflow — per-shard register tables answer any later intersection
    without re-scanning the corpus); exact intersection rides along to
    pin the estimator. 1-row output; the scalar attach is the allowlisted
    broadcast shape."""
    from picogeojson_spark.operators.sketches import hll_overlap

    ev = _t(spark, sf_dir, "events")
    return hll_overlap(
        ev.filter(F.col("event_type") == "click").select("user_id"),
        ev.filter(F.col("event_type") == "purchase").select("user_id"),
        "user_id", p=6,
    )


def _q_sketch_hll_overlap_sql():
    from picogeojson_spark.operators.sketches import hll_overlap_oracle_sql

    return hll_overlap_oracle_sql(
        "SELECT user_id FROM events WHERE event_type = 'click'",
        "SELECT user_id FROM events WHERE event_type = 'purchase'",
        "user_id", p=6,
    )


_register("sketch_hll_overlap", q_sketch_hll_overlap,
          _q_sketch_hll_overlap_sql(), verified=5, plan_dump=True)


def q_geo_idw(spark, sf_dir):
    """Inverse-distance-weighted interpolation at every customer point
    from the 4 nearest supplier 'stations' (synthetic integer
    measurements): kNN ring join + one neighbor-keyed value join + an
    integer-exact blend (weights scale div (round(16*d2)+1), estimate
    num div den). Same allowlist rationale as geo_knn (exact brute
    tail)."""
    from picogeojson_spark.operators.knn import idw_interpolate

    q = _points_from_customer(spark, sf_dir).withColumnRenamed(
        "point_id", "query_id")
    cand = _cand_points_from_supplier(spark, sf_dir).withColumn(
        "value", ((F.col("neighbor_id") * 37) % 10000).cast("long"))
    return idw_interpolate(q, cand, k=4, level=4, radius=2).orderBy(
        "query_id")


Q_GEO_IDW_SQL = """
WITH q AS (SELECT point_id AS query_id, lon, lat FROM ({points})),
     c AS (SELECT neighbor_id, lon, lat,
                  CAST((neighbor_id * 37) % 10000 AS BIGINT) AS v
           FROM ({cands})),
     d AS (
       SELECT q.query_id, c.neighbor_id, c.v,
              CAST(round(((q.lon - c.lon) * (q.lon - c.lon)
                    + (q.lat - c.lat) * (q.lat - c.lat)) * 16) AS BIGINT)
                AS d2i,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY (q.lon - c.lon) * (q.lon - c.lon)
                                        + (q.lat - c.lat) * (q.lat - c.lat)
                                          ASC,
                                          c.neighbor_id ASC) AS rank
       FROM q CROSS JOIN c),
     w AS (SELECT query_id, v, 1000000000 // (d2i + 1) AS w
           FROM d WHERE rank <= 4)
SELECT query_id,
       CAST(SUM(v * w) // GREATEST(SUM(w), 1) AS BIGINT) AS idw_value,
       CAST(SUM(w) AS BIGINT) AS w_sum,
       CAST(COUNT(*) AS INT) AS n_used
FROM w GROUP BY query_id ORDER BY query_id
""".format(points=_POINTS_SQL, cands=_CANDS_SQL)


_register("geo_idw", q_geo_idw, Q_GEO_IDW_SQL, verified=5, plan_dump=True)


def q_graph_kcore(spark, sf_dir):
    """60-core of the market-basket co-occurrence graph: iterative peel
    (one degree aggregate + two semi-joins per round, count-probe
    convergence) to the unique fixpoint; emits each core vertex with its
    in-core degree.  Measured convergence is 2 rounds at both SFs; the
    operator raises rather than truncating, and the oracle unrolls 8
    rounds of the same peel with MATERIALIZED CTEs (a fixpoint is
    idempotent, so extra rounds are no-ops)."""
    from picogeojson_spark.operators.graph import cooccurrence_edges, k_core

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return k_core(edges, k=60, max_rounds=8).orderBy("node")


def _q_graph_kcore_sql(k=60, rounds=8):
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item)"""]
    for i in range(1, rounds + 1):
        parts.append("""
n{i} AS MATERIALIZED (
  SELECT n FROM (
    SELECT u AS n FROM e{j} UNION ALL SELECT v FROM e{j}) s
  GROUP BY n HAVING COUNT(*) >= {k}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM e{j}
  WHERE u IN (SELECT n FROM n{i}) AND v IN (SELECT n FROM n{i}))"""
                     .format(i=i, j=i - 1, k=k))
    parts.append("""
SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v FROM e{r}) s
GROUP BY n ORDER BY node""".format(r=rounds))
    return ",".join(parts[:1] + []) + "," + ",".join(parts[1:-1]) + parts[-1]


_register("graph_kcore", q_graph_kcore, _q_graph_kcore_sql(), verified=5,
          plan_dump=True)


def q_orders_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping-priority top-k): segment filter ->
    customer⋈orders⋈lineitem (two broadcastable equi-joins after filter
    pushdown) -> per-order revenue in integer cent-percent -> global
    top-10 via TakeOrderedAndProject (orderBy+limit — no full sort
    materialization). Date emitted as epoch-micros integer so the hash
    is tz-proof."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")).select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        _ntz_epoch_us("o_orderdate").alias("odate_us"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")).select(
        "l_orderkey",
        (F.round(F.col("l_extendedprice") * 100).cast("long")
         * (100 - F.round(F.col("l_discount") * 100).cast("long")))
        .alias("rev_cp"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "odate_us", "o_orderpriority")
        .agg(F.sum("rev_cp").cast("long").alias("revenue_cp"))
        .orderBy(F.desc("revenue_cp"), F.asc("l_orderkey"))
        .limit(10)
    )


Q_ORDERS_PRIORITY_SQL = """
SELECT l_orderkey, CAST(epoch_us(o_orderdate) AS BIGINT) AS odate_us,
       o_orderpriority,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, odate_us, o_orderpriority
ORDER BY revenue_cp DESC, l_orderkey ASC
LIMIT 10
"""


_register("orders_priority", q_orders_priority, Q_ORDERS_PRIORITY_SQL,
          plan_dump=True)


def q_geo_quadbin(spark, sf_dir):
    """Density-adaptive quadtree binning over the clumped field: split
    until every leaf holds <= 25 points or level 6 — dense blobs shatter
    into fine cells, empty ocean stays coarse; the skew-balancing
    partitioner for spatial writes.  ONE corpus shuffle (finest
    histogram); coarser counts cascade by integer halving (exact — the
    tile_pyramid identity); the oracle computes every level DIRECTLY
    from the points, so hash-equality re-proves the cascade."""
    from picogeojson_spark.operators.spatial_cluster import adaptive_quadbin

    pts = _clumped_points(spark, sf_dir)
    return adaptive_quadbin(pts, cap=25, max_level=6).orderBy(
        "level", "x", "y")


def _q_geo_quadbin_sql(cap=25, max_level=6):
    lvl_counts = []
    for lv in range(max_level + 1):
        nx, ny = 1 << (lv + 1), 1 << lv
        lvl_counts.append("""
h{lv} AS (
  SELECT CAST(floor((lon + 180.0) / 360.0 * {nx}) AS BIGINT) AS x,
         CAST(floor((lat + 90.0) / 180.0 * {ny}) AS BIGINT) AS y,
         COUNT(*) AS cnt
  FROM pts GROUP BY 1, 2)""".format(lv=lv, nx=nx, ny=ny))
    anc_joins = []
    for lv in range(max_level):
        shift = 1 << (max_level - lv)
        anc_joins.append(
            "JOIN h{lv} a{lv} ON a{lv}.x = f.x // {s} AND a{lv}.y = f.y // {s}"
            .format(lv=lv, s=shift))
    leaf = str(max_level)
    for lv in range(max_level - 1, -1, -1):
        leaf = ("CASE WHEN a{lv}.cnt <= {cap} THEN {lv} ELSE {rest} END"
                .format(lv=lv, cap=cap, rest=leaf))
    return """
WITH pts AS ({points}),
{hists},
annotated AS (
  SELECT f.x, f.y, f.cnt, CAST({leaf} AS INT) AS leaf
  FROM h{maxl} f
  {joins})
SELECT leaf AS level,
       x // (1 << ({maxl} - leaf)) AS x,
       y // (1 << ({maxl} - leaf)) AS y,
       CAST(SUM(cnt) AS BIGINT) AS n_points
FROM annotated
GROUP BY 1, 2, 3 ORDER BY level, x, y
""".format(points=_CLUMPED_POINTS_SQL, hists=",".join(lvl_counts),
           leaf=leaf, maxl=max_level, joins=" ".join(anc_joins))


_register("geo_quadbin", q_geo_quadbin, _q_geo_quadbin_sql(), verified=5,
          plan_dump=True)


_CUSTOMER_DDL = ("c_custkey bigint, c_name string, c_nationkey int, "
                 "c_acctbal double, c_mktsegment string")


def q_stream_heatmap(spark, sf_dir):
    """STREAMING hotspot raster: the cell histogram runs as a complete-
    mode streaming aggregate over a customer file stream (identical
    expressions batch and stream); the 3x3 smoothing folds in batch on
    the memory sink — the stream_hll fold-on-sink pattern, since chained
    stateful aggregations are unsupported in streams. Full oracle: the
    SAME SQL as geo_heatmap, so stream==batch is proven by the hash."""
    from picogeojson_spark.operators.spatial_cluster import (
        cell_histogram,
        smooth_cell_histogram,
    )

    src = (
        spark.readStream.schema(_CUSTOMER_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "customer"))
    )
    pts = _clumped_points_from(src)
    cells = cell_histogram(pts, cell_udeg=2_000_000)
    sink = _run_stream(spark, cells, "stream_heatmap", "complete")
    return smooth_cell_histogram(sink).orderBy("cx", "cy")


_register("stream_heatmap", q_stream_heatmap, Q_GEO_HEATMAP_SQL, verified=5)


def q_events_abtest(spark, sf_dir):
    """A/B experiment readout: users hash-split into two arms (the
    deterministic md5 assignment every experimentation system uses so
    exposure is reproducible at any parallelism), conversion = any
    purchase by a view-exposed user; per-arm counts + conversion ppm +
    lift vs the pooled rate, all integer arithmetic. Corpus work is one
    per-user aggregate; everything after is 2-row."""
    ev = _t(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "view").cast("int"))
            .alias("exposed"),
            F.max((F.col("event_type") == "purchase").cast("int"))
            .alias("converted"),
        )
        .filter(F.col("exposed") == 1)
        .select(
            (F.conv(F.substring(
                F.md5(F.concat(F.lit("ab:"),
                               F.col("user_id").cast("string"))), 1, 8),
                16, 10).cast("long") % 2).alias("armno"),
            "converted",
        )
    )
    from pyspark.sql import Window

    arms = users.groupBy("armno").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    w = (Window.orderBy("armno")
         .rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    arms = arms.select(
        "armno", "n_users", "n_conv",
        F.sum("n_conv").over(w).cast("long").alias("tc"),
        F.sum("n_users").over(w).cast("long").alias("tn"),
    )
    return (
        arms.select(
            F.when(F.col("armno") == 0, "A").otherwise("B").alias("arm"),
            "n_users", "n_conv",
            F.expr("(n_conv * 1000000) div n_users").alias("conv_ppm"),
            (F.expr("(n_conv * 1000000) div n_users")
             - F.expr("(tc * 1000000) div tn")).cast("long")
            .alias("lift_ppm"),
        )
        .orderBy("arm")
    )


Q_EVENTS_ABTEST_SQL = """
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id),
armed AS (
  SELECT CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS armno,
         converted
  FROM users WHERE exposed = 1),
arms AS (
  SELECT armno, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv
  FROM armed GROUP BY armno),
tot AS (SELECT SUM(n_conv) AS c, SUM(n_users) AS n FROM arms)
SELECT CASE WHEN armno = 0 THEN 'A' ELSE 'B' END AS arm,
       n_users, n_conv,
       CAST((n_conv * 1000000) // n_users AS BIGINT) AS conv_ppm,
       CAST((n_conv * 1000000) // n_users
            - (t.c * 1000000) // t.n AS BIGINT) AS lift_ppm
FROM arms CROSS JOIN tot t
ORDER BY arm
"""


_register("events_abtest", q_events_abtest, Q_EVENTS_ABTEST_SQL, verified=5,
          plan_dump=True)


def q_geo_hull(spark, sf_dir):
    """Convex hull -> polygon measures composition: per-doc planted point
    clouds (4 rectangle corners + 3 strictly-interior points; every 7th
    doc a collinear run) -> monotone-chain hull ring (one applyInPandas
    stage) -> the polygon_measures HOF fold.  The oracle is a CLOSED-FORM
    derivation from doc_id alone (rectangle area/centroid/edge algebra —
    never runs a hull), so hash-equality proves the hull found exactly
    the corners and dropped interior + collinear points."""
    from picogeojson_spark.operators.hull import convex_hull_rings
    from picogeojson_spark.operators.measures import polygon_measures

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    x0 = ((i * 37) % 300 - 150).cast("double")
    y0 = ((i * 61) % 160 - 80).cast("double")
    w = (1 + i % 4).cast("double")
    h = (1 + i % 3).cast("double")
    coll = (i % 7) == 0

    def pt(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    rect_pts = F.array(
        pt(x0, y0), pt(x0 + w, y0), pt(x0 + w, y0 + h), pt(x0, y0 + h),
        pt(x0 + 0.25, y0 + 0.25), pt(x0 + 0.5, y0 + 0.25),
        pt(x0 + 0.75, y0 + 0.25),
    )
    coll_pts = F.array(*[
        pt(x0 + F.lit(float(j)), y0 + F.lit(0.5 * j)) for j in range(4)
    ])
    pts = (
        d.select("doc_id",
                 F.explode(F.when(coll, coll_pts).otherwise(rect_pts))
                 .alias("p"))
        .select("doc_id", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    )
    rings = convex_hull_rings(pts)
    m = polygon_measures(rings, ring_col="ring", id_col="doc_id")
    return m.select(
        "doc_id", "n_vertices",
        F.col("area2").cast("long").alias("area2"),
        F.col("cx_num").cast("long").alias("cx_num"),
        F.col("cy_num").cast("long").alias("cy_num"),
        (F.col("edge2_sum") * 4).cast("long").alias("edge2_x4"),
    ).orderBy("doc_id")


Q_GEO_HULL_SQL = """
WITH d AS (
  SELECT doc_id,
         CAST((doc_id * 37) % 300 - 150 AS DOUBLE) AS x0,
         CAST((doc_id * 61) % 160 - 80 AS DOUBLE) AS y0,
         CAST(1 + doc_id % 4 AS DOUBLE) AS w,
         CAST(1 + doc_id % 3 AS DOUBLE) AS h,
         doc_id % 7 = 0 AS coll
  FROM documents)
SELECT doc_id,
       CAST(CASE WHEN coll THEN 2 ELSE 4 END AS INT) AS n_vertices,
       CAST(CASE WHEN coll THEN 0 ELSE 2 * w * h END AS BIGINT) AS area2,
       CAST(CASE WHEN coll THEN 0
                 ELSE 6 * w * h * x0 + 3 * w * w * h END AS BIGINT)
         AS cx_num,
       CAST(CASE WHEN coll THEN 0
                 ELSE 6 * w * h * y0 + 3 * h * h * w END AS BIGINT)
         AS cy_num,
       CAST(CASE WHEN coll THEN 90
                 ELSE 8 * (w * w + h * h) END AS BIGINT) AS edge2_x4
FROM d ORDER BY doc_id
"""


_register("geo_hull", q_geo_hull, Q_GEO_HULL_SQL, verified=5)


def q_geo_resample(spark, sf_dir):
    """Trajectory resampling at fixed 0.5-degree arc-length intervals
    over the localized text-mined polylines: one per-doc cumulative-
    length window, per-segment index-range explode (ranges partition the
    integers — no duplicate samples), all-integer interpolation with
    non-negative dividends (div == // only on non-negatives, repo rule).
    The oracle replays length/cumsum/range/interpolation formula-for-
    formula."""
    from picogeojson_spark.operators.segjoin import (
        resample_trajectory,
        trajectory_segments,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _local_traj_text_col().alias("text"))
    segs = trajectory_segments(docs)
    return resample_trajectory(segs, step_u=500_000).orderBy(
        "doc_id", "sample_idx")


Q_GEO_RESAMPLE_SQL = r"""
WITH d AS (SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  SELECT doc_id, j,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS y,
         CAST(floor(lon * 1000000.0) AS BIGINT) AS x
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180),
seg AS (
  SELECT doc_id, j, x AS bx, y AS by,
         lag(x) OVER (PARTITION BY doc_id ORDER BY j) AS ax,
         lag(y) OVER (PARTITION BY doc_id ORDER BY j) AS ay
  FROM ok),
lens AS (
  SELECT doc_id, j AS seg_id, ax, ay, bx, by,
         CAST(floor(sqrt(CAST((bx - ax) * (bx - ax)
                             + (by - ay) * (by - ay) AS DOUBLE)))
              AS BIGINT) AS len
  FROM seg WHERE ax IS NOT NULL),
cums AS (
  SELECT doc_id, ax, ay, bx, by, len,
         SUM(len) OVER (PARTITION BY doc_id ORDER BY seg_id) AS cum
  FROM lens),
samp AS (
  SELECT doc_id, ax, ay, bx, by, len, cum - len AS cum_prev, jj
  FROM cums, LATERAL (
    SELECT unnest(range(CAST((cum - len + 499999) // 500000 AS BIGINT),
                        CAST((cum + 499999) // 500000 AS BIGINT))) AS jj) t)
SELECT doc_id, jj AS sample_idx,
       CAST(ax + CASE WHEN bx >= ax
             THEN (abs(bx - ax) * (jj * 500000 - cum_prev)) // len
             ELSE -((abs(bx - ax) * (jj * 500000 - cum_prev)) // len) END
            AS BIGINT) AS x,
       CAST(ay + CASE WHEN by >= ay
             THEN (abs(by - ay) * (jj * 500000 - cum_prev)) // len
             ELSE -((abs(by - ay) * (jj * 500000 - cum_prev)) // len) END
            AS BIGINT) AS y
FROM samp ORDER BY doc_id, sample_idx
""".format(txt=_LOCAL_TRAJ_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)")


_register("geo_resample", q_geo_resample, Q_GEO_RESAMPLE_SQL, verified=5)


def q_text_keywords(spark, sf_dir):
    """Per-document keyword extraction (tf-idf-bits top-3): (doc, token)
    multiplicities -> vocab-sized df aggregate -> integer idf =
    bitlen(N div df) (the repo's whole-bit log idiom — no float ln) ->
    score = tf * idf_bits -> per-doc top-3 via WindowGroupLimit (map-side
    rank pruning), ties lexicographic. The 1-row corpus-count scalar
    attaches to the VOCAB via attach_scalar (text_surprisal shape — the
    gate's structurally-verified scalar-attach BNLJ); the corpus
    pays one (doc, token) aggregate and one broadcastable token join."""
    from pyspark.sql import Window

    from picogeojson_spark.operators._util import attach_scalar

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("tok"),
    ).filter(F.col("tok") != "")
    dt = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("tf"))
    df_tbl = dt.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    n_docs = d.agg(F.count("*").cast("long").alias("n_docs"))
    vocab = attach_scalar(df_tbl, n_docs).select(
        "tok",
        F.length(F.bin(F.expr("n_docs div df"))).cast("long")
        .alias("idf_bits"),
    )
    scored = dt.join(vocab, "tok").select(
        "doc_id", "tok", (F.col("tf") * F.col("idf_bits")).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", F.col("score").cast("long")
                .alias("score"))
        .orderBy("doc_id", "rnk")
    )


Q_TEXT_KEYWORDS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents),
dt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks WHERE tok <> '' GROUP BY doc_id, tok),
dfs AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM dt GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
vocab AS (
  SELECT tok, CAST(length(bin(n_docs // df)) AS BIGINT) AS idf_bits
  FROM dfs CROSS JOIN n),
scored AS (
  SELECT dt.doc_id, dt.tok, dt.tf * v.idf_bits AS score
  FROM dt JOIN vocab v ON v.tok = dt.tok),
r AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC) AS rnk
  FROM scored)
SELECT doc_id, CAST(rnk AS INT) AS rnk, tok,
       CAST(score AS BIGINT) AS score
FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


_register("text_keywords", q_text_keywords, Q_TEXT_KEYWORDS_SQL, verified=5)


def q_graph_triangles_est(spark, sf_dir):
    """DOULION sampled triangle estimate (q=4): deterministic md5 edge
    coin -> exact degree-ordered count on the 1/q sample -> scale by q^3.
    The approximation lever for wedge-bound graphs (exact graph_triangles
    is the most expensive query in the suite BY THE ALGORITHM — the
    sample cuts wedge work ~q^1.5). Oracle replays coin + brute triple
    join + scaling."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        triangle_count_estimate,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return triangle_count_estimate(edges, q=4)


Q_GRAPH_TRIANGLES_EST_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e AS (SELECT DISTINCT a.item AS u, b.item AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
s AS (SELECT u, v FROM e
      WHERE CAST(('0x' || substring(md5(CAST(u AS VARCHAR) || ':'
                  || CAST(v AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM s e1
  JOIN s e2 ON e2.u = e1.v
  JOIN s e3 ON e3.u = e1.u AND e3.v = e2.v),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_edges FROM s),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_triangles FROM tri)
SELECT n_sampled_edges, n_sampled_triangles,
       CAST(n_sampled_triangles * 64 AS BIGINT) AS est_triangles
FROM ne CROSS JOIN nt
"""


_register("graph_triangles_est", q_graph_triangles_est,
          Q_GRAPH_TRIANGLES_EST_SQL, verified=5)


def q_web_history(spark, sf_dir):
    """SCD-2 recrawl history: every fetch of a canonical URL versioned
    with a validity interval (valid_from/valid_to/version/is_current) —
    the point-in-time complement of web_keep_latest, over the same messy
    URL + cdn-collision synthesis so real multi-version keys are
    exercised. ONE per-key window (recrawl-sized partitions)."""
    from picogeojson_spark.operators.web import canonicalize, scd2_history

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).withColumn("url", _messy_url_col())
    c = canonicalize(d).withColumn(
        "crawl_ts", F.expr("(doc_id * 7919) % 100000").cast("long"))
    return scd2_history(c).orderBy("doc_id")


Q_WEB_HISTORY_SQL = (
    "WITH " + _WEB_NORM_CTES
    + """,
w AS (
  SELECT doc_id, url_norm,
         CAST((doc_id * 7919) % 100000 AS BIGINT) AS crawl_ts
  FROM n)
SELECT doc_id, url_norm,
       crawl_ts AS valid_from,
       LEAD(crawl_ts) OVER (PARTITION BY url_norm
                            ORDER BY crawl_ts, doc_id) AS valid_to,
       CAST(ROW_NUMBER() OVER (PARTITION BY url_norm
                               ORDER BY crawl_ts, doc_id) AS INT)
         AS version,
       CAST(CASE WHEN LEAD(crawl_ts) OVER (PARTITION BY url_norm
                                           ORDER BY crawl_ts, doc_id)
                      IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM w ORDER BY doc_id
"""
)

_register("web_history", q_web_history, Q_WEB_HISTORY_SQL, verified=5)


def q_sample_epochs(spark, sf_dir):
    """Training-mixture epoch allocation (the Llama/DoReMi planning
    step): given per-source mixture weights (ppm) and a total token
    budget, each source's allocation is budget * weight and its EPOCH
    count (how many passes over the source, x1000 fixed-point) is
    alloc div tokens, capped at 4 epochs — upweighted small sources
    repeat, oversized sources subsample (epochs < 1000). Corpus work is
    ONE token-count aggregate; everything after is sources-sized. All
    integer arithmetic; weights and budget are plan literals."""
    budget = 2_000_000  # whitespace tokens
    cap_x1000 = 4_000
    d = _t(spark, sf_dir, "documents")
    toks = F.when(
        F.length(F.trim(F.col("text"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    src = d.groupBy("source").agg(
        F.sum(toks.cast("long")).alias("tokens"),
        F.count("*").cast("long").alias("n_docs"),
    )
    # deterministic per-source weight: 10000..109999 ppm band by md5
    w_ppm = (F.conv(F.substring(F.md5(F.concat(F.lit("mix:"),
                                               F.col("source"))), 1, 8),
                    16, 10).cast("long") % 100_000 + 10_000)
    alloc = F.expr("({b} * w_ppm) div 1000000".format(b=budget))
    return (
        src.withColumn("w_ppm", w_ppm)
        .withColumn("alloc_tokens", alloc.cast("long"))
        .select(
            "source", "tokens", "n_docs", "w_ppm", "alloc_tokens",
            F.least(
                F.expr("(alloc_tokens * 1000) div greatest(tokens, 1)"),
                F.lit(cap_x1000).cast("long")).cast("long")
            .alias("epochs_x1000"),
        )
        .orderBy("source")
    )


Q_SAMPLE_EPOCHS_SQL = r"""
WITH src AS (
  SELECT source,
         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
              AS BIGINT) AS tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
w AS (
  SELECT source, tokens, n_docs,
         CAST(('0x' || substring(md5('mix:' || source), 1, 8)) AS BIGINT)
           % 100000 + 10000 AS w_ppm
  FROM src)
SELECT source, tokens, n_docs, CAST(w_ppm AS BIGINT) AS w_ppm,
       CAST((2000000 * w_ppm) // 1000000 AS BIGINT) AS alloc_tokens,
       CAST(LEAST(((2000000 * w_ppm) // 1000000 * 1000)
                  // GREATEST(tokens, 1), 4000) AS BIGINT)
         AS epochs_x1000
FROM w ORDER BY source
"""


_register("sample_epochs", q_sample_epochs, Q_SAMPLE_EPOCHS_SQL, verified=5)


def q_geo_hexbin(spark, sf_dir):
    """Hexagonal binning raster: every clumped point assigned to its
    nearest center of two staggered integer lattices (the exact hexbin
    construction — the union lattice with h ~ sqrt(3)w is triangular, so
    Voronoi cells are regular hexagons), then ONE map-side-combined hash
    aggregate.  Assignment is pure integer codegen riding the scan; the
    oracle replays the whole nearest-center arithmetic, so hash-equality
    proves the candidate-pair shortcut (nearest-A vs nearest-B) finds the
    true nearest center for every point."""
    from picogeojson_spark.operators.hexbin import hex_histogram

    pts = _clumped_points(spark, sf_dir)
    return hex_histogram(pts, width_udeg=2_000_000).orderBy("hx", "hy")


Q_GEO_HEXBIN_SQL = """
WITH pts AS ({points}),
u AS (
  SELECT CAST(floor(lon * 1000000.0) AS BIGINT) AS x,
         CAST(floor(lat * 1000000.0) AS BIGINT) AS y
  FROM pts),
c AS (
  SELECT x, y,
         CAST(floor((x + 1000000) / 2000000.0) AS BIGINT) AS ia,
         CAST(floor((y + 1732000) / 3464000.0) AS BIGINT) AS ja,
         CAST(floor(x / 2000000.0) AS BIGINT) AS ib,
         CAST(floor(y / 3464000.0) AS BIGINT) AS jb
  FROM u),
a AS (
  SELECT x, y, ia, ja, ib, jb,
         (x - ia * 2000000) * (x - ia * 2000000)
           + (y - ja * 3464000) * (y - ja * 3464000) AS da,
         (x - (ib * 2000000 + 1000000)) * (x - (ib * 2000000 + 1000000))
           + (y - (jb * 3464000 + 1732000)) * (y - (jb * 3464000 + 1732000))
           AS db
  FROM c),
h AS (
  SELECT CASE WHEN da <= db THEN ia * 2 ELSE ib * 2 + 1 END AS hx,
         CASE WHEN da <= db THEN ja * 2 ELSE jb * 2 + 1 END AS hy
  FROM a)
SELECT CAST(hx AS BIGINT) AS hx, CAST(hy AS BIGINT) AS hy,
       CAST(hx * 1000000 AS BIGINT) AS hex_cx_udeg,
       CAST(hy * 1732000 AS BIGINT) AS hex_cy_udeg,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM h GROUP BY hx, hy ORDER BY hx, hy
""".format(points=_CLUMPED_POINTS_SQL)


_register("geo_hexbin", q_geo_hexbin, Q_GEO_HEXBIN_SQL, verified=5)


def q_geo_lisa(spark, sf_dir):
    """Local spatial autocorrelation (LISA) over the 2-degree occupied-
    cell raster, queen weights: per cell the exact-integer deviation
    dev_n = N*cnt - S (N-scaled so the mean never becomes a float), the
    neighbor lag, and local = dev_n * lag — the hotspot/outlier
    statistic.  ONE corpus shuffle (the histogram); globals are a 1-row
    broadcast scalar (allowlisted bm25 shape); adjacency is an 8-offset
    explode of the CELL table."""
    from picogeojson_spark.operators.spatial_cluster import local_moran

    pts = _clumped_points(spark, sf_dir)
    return local_moran(pts, cell_udeg=2_000_000).orderBy("cx", "cy")


_MORAN_LOC_CTES = """
pts AS ({points}),
pc AS (
  SELECT CAST(floor(CAST(floor(lon * 1000000.0) AS BIGINT) / 2000000.0)
              AS BIGINT) AS cx,
         CAST(floor(CAST(floor(lat * 1000000.0) AS BIGINT) / 2000000.0)
              AS BIGINT) AS cy
  FROM pts),
cells AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pc GROUP BY 1, 2),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(cnt) AS BIGINT) AS total_pts FROM cells),
d AS (SELECT cx, cy, cnt,
             CAST(g.n_cells * cnt - g.total_pts AS BIGINT) AS dev_n
      FROM cells CROSS JOIN g),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                        (1,-1),(1,0),(1,1)),
nb AS (SELECT a.cx + o.dx AS cx, a.cy + o.dy AS cy,
              CAST(SUM(a.dev_n) AS BIGINT) AS lag,
              CAST(COUNT(*) AS BIGINT) AS n_nbrs
       FROM d a CROSS JOIN offs o GROUP BY 1, 2),
loc AS (
  SELECT d.cx, d.cy, d.cnt,
         CAST(COALESCE(nb.n_nbrs, 0) AS BIGINT) AS n_nbrs,
         d.dev_n,
         CAST(COALESCE(nb.lag, 0) AS BIGINT) AS lag,
         CAST(d.dev_n * COALESCE(nb.lag, 0) AS BIGINT) AS local
  FROM d LEFT JOIN nb ON nb.cx = d.cx AND nb.cy = d.cy)
""".format(points=_CLUMPED_POINTS_SQL)


Q_GEO_LISA_SQL = (
    "WITH " + _MORAN_LOC_CTES
    + "SELECT * FROM loc ORDER BY cx, cy"
)


_register("geo_lisa", q_geo_lisa, Q_GEO_LISA_SQL, verified=5)


def q_geo_moran(spark, sf_dir):
    """Global Moran's I building blocks as ONE exact-integer row
    (n_cells, total_pts, w_pairs, num, den); I = (n_cells/w_pairs) *
    num/den — the N-scaling of dev_n cancels, and emitting the exact
    integers keeps the contract engine-deterministic (no float division
    in either engine)."""
    from picogeojson_spark.operators.spatial_cluster import moran_summary

    pts = _clumped_points(spark, sf_dir)
    return moran_summary(pts, cell_udeg=2_000_000)


Q_GEO_MORAN_SQL = (
    "WITH " + _MORAN_LOC_CTES
    + """SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cnt) AS BIGINT) AS total_pts,
       CAST(SUM(n_nbrs) AS BIGINT) AS w_pairs,
       CAST(SUM(local) AS BIGINT) AS num,
       CAST(SUM(dev_n * dev_n) AS BIGINT) AS den
FROM loc"""
)


_register("geo_moran", q_geo_moran, Q_GEO_MORAN_SQL, verified=5)


def q_geo_od_flows(spark, sf_dir):
    """Origin-destination flow matrix mined from travelogue text: each
    doc's consecutive valid mentions are movements, endpoints snap to
    10-degree cells, same-cell dwell drops, flows aggregate with trip and
    distinct-doc counts.  The planted mid-path 999.5 trap matters here
    too: a dropped mention must SPLICE the flow (prev valid -> next
    valid), not break it — the oracle replays the splice."""
    from picogeojson_spark.operators.geotext import od_flows

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _traj_text_col().alias("text"))
    return od_flows(docs, cell_udeg=10_000_000).orderBy(
        "from_cx", "from_cy", "to_cx", "to_cy")


Q_GEO_OD_FLOWS_SQL = r"""
WITH d AS (SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  SELECT doc_id, j,
         CAST(floor(CAST(floor(lon * 1000000.0) AS BIGINT) / 10000000.0)
              AS BIGINT) AS cx,
         CAST(floor(CAST(floor(lat * 1000000.0) AS BIGINT) / 10000000.0)
              AS BIGINT) AS cy
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180),
seg AS (
  SELECT doc_id, cx, cy,
         lag(cx) OVER (PARTITION BY doc_id ORDER BY j) AS pcx,
         lag(cy) OVER (PARTITION BY doc_id ORDER BY j) AS pcy
  FROM ok),
mv AS (
  SELECT * FROM seg
  WHERE pcx IS NOT NULL AND (pcx <> cx OR pcy <> cy))
SELECT pcx AS from_cx, pcy AS from_cy, cx AS to_cx, cy AS to_cy,
       CAST(COUNT(*) AS BIGINT) AS n_trips,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM mv GROUP BY 1, 2, 3, 4
ORDER BY from_cx, from_cy, to_cx, to_cy
""".format(txt=_TRAJ_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)")


_register("geo_od_flows", q_geo_od_flows, Q_GEO_OD_FLOWS_SQL, verified=5)


def q_text_readability(spark, sf_dir):
    """Flesch reading-ease + FK grade per document as exact integer
    milli-units (words / [.!?]+ sentences / [aeiouy]+ vowel-group
    syllables, all codegen regex counts — zero shuffles/UDFs/joins)."""
    from picogeojson_spark.operators.textstats import readability

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return readability(d).orderBy("doc_id")


Q_TEXT_READABILITY_SQL = r"""
WITH c AS (
  SELECT doc_id,
         GREATEST(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                  AS BIGINT), 1) AS n_words,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                  AS BIGINT), 1) AS n_sentences,
         GREATEST(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT), 1) AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(206835 - (1015000 * n_words) // (1000 * n_sentences)
                   - (84600 * n_syllables) // n_words AS BIGINT)
         AS fre_milli,
       CAST((390000 * n_words) // (1000 * n_sentences)
            + (11800 * n_syllables) // n_words - 15590 AS BIGINT)
         AS fkg_milli
FROM c ORDER BY doc_id
"""


_register("text_readability", q_text_readability, Q_TEXT_READABILITY_SQL,
          verified=5)


def q_graph_lpa(spark, sf_dir):
    """Label-propagation communities over the market-basket co-occurrence
    graph: synchronous min-tie-break variant (deterministic — the classic
    async/random LPA is not), 4 rounds.  Per round one label⋈edges
    equi-join + one map-side-combined (node,label) count + one top-1
    WindowGroupLimit; one-round-late persist handoff."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        label_propagation,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return label_propagation(edges, rounds=4).orderBy("node")


def _lpa_oracle_sql(rounds: int = 4) -> str:
    head = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e AS (SELECT DISTINCT a.item AS u, b.item AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
sym AS MATERIALIZED (SELECT u, v FROM e
                     UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym)"""
    rnd = """,
c{k} AS MATERIALIZED (
  SELECT s.u AS node, l.label, COUNT(*) AS cnt
  FROM sym s JOIN l{p} l ON l.node = s.v GROUP BY 1, 2),
l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM c{k}) t WHERE rn = 1)"""
    body = "".join(rnd.format(k=k, p=k - 1) for k in range(1, rounds + 1))
    return (head + body
            + "\nSELECT node, label FROM l{r} ORDER BY node".format(r=rounds))


_register("graph_lpa", q_graph_lpa, _lpa_oracle_sql(4), verified=5)


def q_text_phrase(spark, sf_dir):
    """Exact phrase search ("batch batch" — a repeated-token phrase, the
    adversarial case: overlapping matches must count) via the positional
    set-intersection plan: isin-filtered posexplode, ONE groupBy(doc)
    building shifted position sets, array_intersect merge.  The oracle is
    the INDEPENDENT formulation — a positional self-join — so
    hash-equality proves the set plan against the classic one."""
    from picogeojson_spark.operators.retrieval import phrase_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(d, ["batch", "batch"]).orderBy("doc_id")


Q_TEXT_PHRASE_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents),
e AS (
  SELECT doc_id, j, toks[j] AS w
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS j) s),
f AS (
  SELECT doc_id, w,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) - 1 AS pos
  FROM e WHERE w <> ''),
m AS (
  SELECT a.doc_id, a.pos
  FROM f a JOIN f b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.w = 'batch' AND b.w = 'batch')
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(pos) AS BIGINT) AS first_pos
FROM m GROUP BY doc_id ORDER BY doc_id
"""


_register("text_phrase", q_text_phrase, Q_TEXT_PHRASE_SQL, verified=5)


def q_sketch_quantiles(spark, sf_dir):
    """Bottom-k (KMV) quantile sketch over document lengths: the k=64
    smallest md5-of-key rows are a deterministic uniform sample
    (TakeOrderedAndProject — per-partition k-heaps, no global sort);
    exact order statistics over the bounded sample estimate the
    percentiles.  Mergeable (union + re-bottom-k; pinned by test)."""
    from picogeojson_spark.operators.sketches import quantile_sketch

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars"))
    return quantile_sketch(d, "n_chars", "doc_id", k=64).orderBy("pctl")


Q_SKETCH_QUANTILES_SQL = """
WITH s AS (
  SELECT CAST(length(text) AS BIGINT) AS v,
         CAST(('0x' || substring(md5('qs:' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) AS hk
  FROM documents ORDER BY hk LIMIT 64),
r AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v, hk) AS rn,
         COUNT(*) OVER () AS n
  FROM s),
p(pctl) AS (VALUES (1), (5), (25), (50), (75), (95), (99))
SELECT CAST(p.pctl AS INT) AS pctl, r.v AS est_value,
       CAST(r.n AS BIGINT) AS sample_n
FROM p JOIN r ON r.rn = (p.pctl * r.n + 99) // 100
ORDER BY pctl
"""


_register("sketch_quantiles", q_sketch_quantiles, Q_SKETCH_QUANTILES_SQL,
          verified=5)


def q_web_redirects(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling (4 rounds = 16
    hops): deterministic converging chains (u_i -> u_{i div 3}, depth ~6
    at 500 docs) plus a PLANTED 2-CYCLE (c10 <-> c11) that can never
    resolve — the oracle replays exactly 16 single steps with a
    depth-capped recursive walk (doubling with identity-extension
    composes exactly, so f^16 is f^16 either way)."""
    from picogeojson_spark.operators.web import resolve_redirects

    d = _t(spark, sf_dir, "documents")
    chain = d.filter(F.col("doc_id") % 3 != 0).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("u"), F.expr("doc_id div 3").cast("string"))
        .alias("dst"))
    cyc = d.filter(F.col("doc_id").isin(10, 11)).select(
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("c"), (F.lit(21) - F.col("doc_id")).cast("string"))
        .alias("dst"))
    return resolve_redirects(chain.unionAll(cyc), rounds=4).orderBy("src")


Q_WEB_REDIRECTS_SQL = """
WITH RECURSIVE
e AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
         'u' || CAST(doc_id // 3 AS VARCHAR) AS dst
  FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT 'c' || CAST(doc_id AS VARCHAR),
         'c' || CAST(21 - doc_id AS VARCHAR)
  FROM documents WHERE doc_id IN (10, 11)),
f AS (SELECT src AS node, MIN(dst) AS ptr FROM e GROUP BY src),
walk(node, ptr, d) AS (
  SELECT node, ptr, 1 FROM f
  UNION ALL
  SELECT w.node, COALESCE(f2.ptr, w.ptr), w.d + 1
  FROM walk w LEFT JOIN f f2 ON f2.node = w.ptr
  WHERE w.d < 16),
fin AS (SELECT node, ptr FROM walk WHERE d = 16)
SELECT fin.node AS src, fin.ptr AS final,
       (f3.node IS NULL) AS resolved
FROM fin LEFT JOIN f f3 ON f3.node = fin.ptr
ORDER BY src
"""


_register("web_redirects", q_web_redirects, Q_WEB_REDIRECTS_SQL, verified=5)


def _stay_text_col():
    """Deterministic dwell-heavy travelogue: 4-6 waypoints per doc in TWO
    stay groups of 3 (same 10-degree cell within a group, 0.5-degree
    jitter), plus the 999.5 trap planted MID-RUN for doc_id%4==1 so a
    dropped mention must not break a same-cell run."""
    i = F.col("doc_id")
    parts = [F.col("text")]
    for j in range(6):
        g, off = j // 3, 0.25 + 0.5 * (j % 3)
        lat = ((i * 61 + g * 53) % 340).cast("double") / 2 - 85 + F.lit(off)
        lon = ((i * 37 + g * 101) % 700).cast("double") / 2 - 175 + F.lit(off)
        word = F.concat(F.lit(" at "), lat.cast("string"), F.lit(", "),
                        lon.cast("string"), F.lit("."))
        parts.append(F.when(j < 4 + i % 3, word).otherwise(F.lit("")))
        if j == 1:
            parts.append(F.when(i % 4 == 1, F.lit(" stop 999.5, 12.25"))
                         .otherwise(F.lit("")))
    return F.concat(*parts)


_STAY_WAYPOINT_SQL = """
    || CASE WHEN {j} < 4 + doc_id % 3 THEN ' at '
      || CAST(CAST((doc_id * 61 + {gs}) % 340 AS DOUBLE) / 2 - 85 + {off}
              AS VARCHAR)
      || ', '
      || CAST(CAST((doc_id * 37 + {gl}) % 700 AS DOUBLE) / 2 - 175 + {off}
              AS VARCHAR)
      || '.' ELSE '' END
"""

_STAY_TEXT_SQL = "text" + "".join(
    _STAY_WAYPOINT_SQL.format(j=j, gs=(j // 3) * 53, gl=(j // 3) * 101,
                              off=0.25 + 0.5 * (j % 3))
    + (" || CASE WHEN doc_id % 4 = 1 THEN ' stop 999.5, 12.25'"
       " ELSE '' END " if j == 1 else "")
    for j in range(6)
)


def q_geo_staypoints(spark, sf_dir):
    """Stay-point detection (run-length dwell) over text-mined
    trajectories: maximal runs of consecutive same-10-degree-cell valid
    mentions with >= 2 members.  The synthesis plants two 3-mention stay
    groups per doc and the 999.5 trap MID-RUN (doc_id%4==1), so the hash
    proves the bounds filter splices runs rather than breaking them."""
    from picogeojson_spark.operators.geotext import staypoints

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _stay_text_col().alias("text"))
    return staypoints(docs, cell_udeg=10_000_000, min_pts=2).orderBy(
        "doc_id", "run_id")


Q_GEO_STAYPOINTS_SQL = r"""
WITH d AS (SELECT doc_id, {txt} AS text FROM documents),
ex AS (
  SELECT doc_id,
         regexp_extract_all(text, '{re}', 1) AS lats,
         regexp_extract_all(text, '{re}', 2) AS lons
  FROM d),
men AS (
  SELECT doc_id, j,
         CAST(lats[j] AS DOUBLE) AS lat, CAST(lons[j] AS DOUBLE) AS lon
  FROM ex, LATERAL (SELECT unnest(range(1, len(lats) + 1)) AS j) s),
ok AS (
  SELECT doc_id, j,
         CAST(floor(CAST(floor(lon * 1000000.0) AS BIGINT) / 10000000.0)
              AS BIGINT) AS cx,
         CAST(floor(CAST(floor(lat * 1000000.0) AS BIGINT) / 10000000.0)
              AS BIGINT) AS cy
  FROM men WHERE abs(lat) < 90 AND abs(lon) < 180),
lagc AS (
  SELECT doc_id, j, cx, cy,
         lag(cx) OVER (PARTITION BY doc_id ORDER BY j) AS pcx,
         lag(cy) OVER (PARTITION BY doc_id ORDER BY j) AS pcy
  FROM ok),
runs AS (
  SELECT doc_id, j, cx, cy,
         CAST(SUM(CASE WHEN pcx IS NULL OR pcx <> cx OR pcy <> cy
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY j) AS BIGINT) AS run_id
  FROM lagc)
SELECT doc_id, run_id, MIN(cx) AS cx, MIN(cy) AS cy,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(MIN(j) - 1 AS INT) AS first_idx,
       CAST(MAX(j) - 1 AS INT) AS last_idx
FROM runs GROUP BY doc_id, run_id HAVING COUNT(*) >= 2
ORDER BY doc_id, run_id
""".format(txt=_STAY_TEXT_SQL,
           re=r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)")


_register("geo_staypoints", q_geo_staypoints, Q_GEO_STAYPOINTS_SQL, verified=5)


def q_table_cdc(spark, sf_dir):
    """CDC changelog apply (MERGE INTO semantics): snapshot = docs with
    doc_id%5!=4; changes keyed doc_id div 2 (two change rows per key, so
    latest-wins is exercised everywhere), op 'D' for seq%7==0 else 'U'
    with a bumped n_chars payload.  Inserts (snapshot-absent keys),
    updates, deletes, delete-then-reinsert orderings and pass-through
    rows all occur in the synthesis."""
    from picogeojson_spark.operators.cdc import apply_changes

    d = _t(spark, sf_dir, "documents")
    snap = d.filter(F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("key"), "lang", "source", "n_chars")
    ch = d.filter(F.col("doc_id") % 3 != 2).select(
        F.expr("doc_id div 2").alias("key"),
        ((F.col("doc_id") * 37) % 97).cast("long").alias("ts"),
        F.col("doc_id").alias("seq"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        "lang", "source",
        (F.col("n_chars") + 1000).alias("n_chars"))
    return apply_changes(snap, ch, keys=("key",)).orderBy("key")


Q_TABLE_CDC_SQL = """
WITH snap AS (
  SELECT doc_id AS key, lang, source, n_chars
  FROM documents WHERE doc_id % 5 <> 4),
ch AS (
  SELECT doc_id // 2 AS key,
         CAST((doc_id * 37) % 97 AS BIGINT) AS ts,
         doc_id AS seq,
         CASE WHEN doc_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
         lang, source, n_chars + 1000 AS n_chars
  FROM documents WHERE doc_id % 3 <> 2),
latest AS (
  SELECT key, op, lang, source, n_chars FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                 ORDER BY ts DESC, seq DESC) AS rn
    FROM ch) WHERE rn = 1)
SELECT COALESCE(l.key, s.key) AS key,
       CASE WHEN l.op IS NULL THEN s.lang ELSE l.lang END AS lang,
       CASE WHEN l.op IS NULL THEN s.source ELSE l.source END AS source,
       CAST(CASE WHEN l.op IS NULL THEN s.n_chars ELSE l.n_chars END
            AS BIGINT) AS n_chars
FROM snap s FULL OUTER JOIN latest l ON s.key = l.key
WHERE l.op IS NULL OR l.op <> 'D'
ORDER BY key
"""


_register("table_cdc", q_table_cdc, Q_TABLE_CDC_SQL, verified=5)


def q_table_diff(spark, sf_dir):
    """Snapshot diff — the INVERSE of table_cdc's changelog apply
    (operators/cdc.py:snapshot_diff; Delta CDF / Iceberg changelog scan
    computed from plain snapshots): two derived document snapshots diff
    into a minimal I/U/D changelog via ONE full-outer key join + NULL-safe
    (IS DISTINCT FROM) payload comparison.  The synthesis plants every
    classification: inserts (keys absent from old), deletes (absent from
    new), value updates, value->NULL and NULL->value updates (the
    coalesce trap), NULL==NULL unchanged rows, and plain unchanged rows —
    both engines must omit exactly the same rows."""
    from picogeojson_spark.operators.cdc import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    old = d.filter(i % 10 != 0).select(
        "doc_id",
        F.when(i % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("lang")).alias("val"),
        F.col("n_chars").alias("n"),
    )
    new = d.filter(i % 7 != 0).select(
        "doc_id",
        F.when(i % 11 == 0, F.lit(None).cast("string"))
        .when(i % 3 == 0, F.upper(F.col("lang")))
        .otherwise(F.col("lang")).alias("val"),
        (F.col("n_chars") + F.when(i % 9 == 0, 5).otherwise(0))
        .cast("long").alias("n"),
    )
    return snapshot_diff(old, new, keys=["doc_id"]).orderBy("doc_id")


Q_TABLE_DIFF_SQL = """
WITH old AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS val,
         n_chars AS n
  FROM documents WHERE doc_id % 10 <> 0),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              WHEN doc_id % 3 = 0 THEN upper(lang)
              ELSE lang END AS val,
         CAST(n_chars + CASE WHEN doc_id % 9 = 0 THEN 5 ELSE 0 END
              AS BIGINT) AS n
  FROM documents WHERE doc_id % 7 <> 0),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'I'
              WHEN n.doc_id IS NULL THEN 'D'
              WHEN (o.val IS DISTINCT FROM n.val)
                OR (o.n IS DISTINCT FROM n.n) THEN 'U'
         END AS op,
         CASE WHEN n.doc_id IS NULL THEN o.val ELSE n.val END AS val,
         CASE WHEN n.doc_id IS NULL THEN o.n ELSE n.n END AS n
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT doc_id, op, val, CAST(n AS BIGINT) AS n
FROM j WHERE op IS NOT NULL ORDER BY doc_id
"""


_register("table_diff", q_table_diff, Q_TABLE_DIFF_SQL, verified=5,
          plan_dump=True)


def q_web_robots(spark, sf_dir):
    """Longest-prefix robots-rule matching: synthesized crawl URLs at
    path depths 1-3 over 7 hosts vs a 25-row rule table mixing universal
    '/' rules, depth-1 and depth-2 rules, allow and disallow.  Hosts
    1/2/3 carry no root rule and rules cover only s0-s3, so the
    no-matching-rule -> allowed-by-default arm is exercised alongside
    longest-wins layering."""
    from picogeojson_spark.operators.web import robots_match

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("h"), (i % 7).cast("string"), F.lit(".com"))
    path = F.concat(
        F.lit("/s"), (i % 5).cast("string"),
        F.when(i % 4 != 0,
               F.concat(F.lit("/p"), (i % 3).cast("string")))
        .otherwise(F.lit("")),
        F.when(i % 4 == 3,
               F.concat(F.lit("/x"), (i % 11).cast("string")))
        .otherwise(F.lit("")))
    urls = d.select("doc_id", host.alias("host"), path.alias("path"))
    rules = d.filter(i < 25).select(
        host.alias("host"),
        F.when(i % 6 == 0, F.lit("/"))
        .when(i % 2 == 1, F.concat(F.lit("/s"), (i % 4).cast("string")))
        .otherwise(F.concat(F.lit("/s"), (i % 4).cast("string"),
                            F.lit("/p"), (i % 3).cast("string")))
        .alias("prefix"),
        (i % 2 == 0).alias("allow"))
    return robots_match(urls, rules).orderBy("doc_id")


Q_WEB_ROBOTS_SQL = r"""
WITH u AS (
  SELECT doc_id,
         'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
         '/s' || CAST(doc_id % 5 AS VARCHAR)
           || CASE WHEN doc_id % 4 <> 0
                   THEN '/p' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 4 = 3
                   THEN '/x' || CAST(doc_id % 11 AS VARCHAR) ELSE '' END
           AS path
  FROM documents),
r AS (
  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
         CASE WHEN doc_id % 6 = 0 THEN '/'
              WHEN doc_id % 2 = 1
                THEN '/s' || CAST(doc_id % 4 AS VARCHAR)
              ELSE '/s' || CAST(doc_id % 4 AS VARCHAR)
                   || '/p' || CAST(doc_id % 3 AS VARCHAR) END AS prefix,
         doc_id % 2 = 0 AS allow
  FROM documents WHERE doc_id < 25),
cand AS (
  SELECT doc_id, host,
         unnest(list_distinct(list_filter(
           ['/',
            regexp_extract(path, '^((?:/[^/]*){1})', 1),
            regexp_extract(path, '^((?:/[^/]*){2})', 1),
            regexp_extract(path, '^((?:/[^/]*){3})', 1)],
           x -> x <> ''))) AS pfx
  FROM u),
hit AS (
  SELECT c.doc_id, r.prefix, r.allow,
         ROW_NUMBER() OVER (PARTITION BY c.doc_id
                            ORDER BY length(r.prefix) DESC,
                                     CAST(r.allow AS INT) DESC) AS rn
  FROM cand c JOIN r ON r.host = c.host AND r.prefix = c.pfx)
SELECT u.doc_id, u.host, u.path,
       h.prefix AS matched_prefix,
       COALESCE(h.allow, TRUE) AS allowed
FROM u LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h
  ON h.doc_id = u.doc_id
ORDER BY u.doc_id
"""


_register("web_robots", q_web_robots, Q_WEB_ROBOTS_SQL, verified=5)


def q_geo_cell_weights(spark, sf_dir):
    """Area-weighted rasterization: deterministic micro-degree boxes
    (0.13-4.8 degrees wide, 0.07-1.6 tall — sub-cell boxes, multi-cell
    boxes and cell-aligned edges all occur; doc_id%29==0 plants
    zero-width degenerates that must emit nothing) exploded into exact
    integer per-cell overlap areas on the 10-degree grid."""
    from picogeojson_spark.operators.tiling import bbox_cell_weights

    i = F.col("doc_id")
    lon0 = (((i * 37) % 250 - 150) * 1000000).cast("long")
    lat0 = (((i * 53) % 140 - 80) * 1000000).cast("long")
    wdt = F.when(i % 29 == 0, F.lit(0).cast("long")).otherwise(
        ((1 + i % 37) * 1300000).cast("long"))
    hgt = ((1 + i % 23) * 700000).cast("long")
    boxes = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        lon0.alias("lon_min_u"), lat0.alias("lat_min_u"),
        (lon0 + wdt).alias("lon_max_u"), (lat0 + hgt).alias("lat_max_u"))
    return bbox_cell_weights(boxes, cell_udeg=10_000_000).orderBy(
        "id", "cx", "cy")


Q_GEO_CELL_WEIGHTS_SQL = """
WITH b AS (
  SELECT doc_id AS id,
         CAST(((doc_id * 37) % 250 - 150) * 1000000 AS BIGINT) AS lon0,
         CAST(((doc_id * 53) % 140 - 80) * 1000000 AS BIGINT) AS lat0,
         CAST(CASE WHEN doc_id % 29 = 0 THEN 0
              ELSE (1 + doc_id % 37) * 1300000 END AS BIGINT) AS wdt,
         CAST((1 + doc_id % 23) * 700000 AS BIGINT) AS hgt
  FROM documents),
bb AS (
  SELECT id, lon0, lat0, lon0 + wdt AS lon1, lat0 + hgt AS lat1
  FROM b WHERE wdt > 0 AND hgt > 0),
g AS (
  SELECT *,
         CAST(floor(lon0 / 10000000.0) AS BIGINT) AS cx0,
         CAST(floor((lon1 - 1) / 10000000.0) AS BIGINT) AS cx1,
         CAST(floor(lat0 / 10000000.0) AS BIGINT) AS cy0,
         CAST(floor((lat1 - 1) / 10000000.0) AS BIGINT) AS cy1
  FROM bb),
cov AS (
  SELECT g.*, sx.cx, sy.cy
  FROM g,
       LATERAL (SELECT unnest(range(cx0, cx1 + 1)) AS cx) sx,
       LATERAL (SELECT unnest(range(cy0, cy1 + 1)) AS cy) sy)
SELECT id, cx, cy,
       CAST((LEAST(lon1, (cx + 1) * 10000000)
             - GREATEST(lon0, cx * 10000000))
          * (LEAST(lat1, (cy + 1) * 10000000)
             - GREATEST(lat0, cy * 10000000)) AS BIGINT) AS area_u2,
       CAST((lon1 - lon0) * (lat1 - lat0) AS BIGINT) AS box_area_u2
FROM cov ORDER BY id, cx, cy
"""


_register("geo_cell_weights", q_geo_cell_weights, Q_GEO_CELL_WEIGHTS_SQL,
          verified=5)


def q_web_components(spark, sf_dir):
    """Weakly-connected components of the inter-domain link graph — the
    webgraph partitioning step (site clusters / crawl sharding): the
    same messy-URL + markup synthesis as web_link_graph feeds
    domain_link_graph, whose DOMAIN-sized edge set runs through the
    large-star/small-star CC operator (O(log n) rounds, the
    dedup_clusters engine reused on string node ids).  Oracle: recursive
    min-over-transitive-closure on the replayed link graph."""
    from picogeojson_spark.operators.dedup import duplicate_clusters
    from picogeojson_spark.operators.web import domain_link_graph

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<p><a href="https://WWW.'), F.col("lang"),
        F.lit('-hub.ORG/'), i.cast("string"), F.lit('">t</a>'),
        F.when(i % 2 == 0, F.concat(
            F.lit(' <a href="http://cdn.'), F.col("source"),
            F.lit('.com:80/self">s</a>'))).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.concat(
            F.lit(" <a href='https://single."), F.col("lang"),
            F.lit(".net/skip'>q</a>"))).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(
            F.lit(' <a href="https://news.'), F.col("source"),
            F.lit('.io/x">n</a>'))).otherwise(F.lit("")),
    )
    pages = d.select("doc_id", "source", "lang").withColumns(
        {"url": _messy_url_col(), "html": html})
    edges = domain_link_graph(pages)
    cc = duplicate_clusters(edges, src="src_domain", dst="dst_domain")
    return cc.select(
        F.col("doc_id").alias("domain"),
        F.col("rep_id").alias("component")).orderBy("domain")


def _q_web_components_oracle():
    html = """
    '<p><a href="https://WWW.' || lang || '-hub.ORG/'
      || CAST(doc_id AS VARCHAR) || '">t</a>'
    || CASE WHEN doc_id % 2 = 0
            THEN ' <a href="http://cdn.' || source || '.com:80/self">s</a>'
            ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' <a href=''https://single.' || lang || '.net/skip''>q</a>'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' <a href="https://news.' || source || '.io/x">n</a>'
            ELSE '' END
    """
    return """
WITH RECURSIVE pages AS (
  SELECT doc_id, source, lang, {url} AS url, {html} AS html
  FROM documents),
links AS (
  SELECT url AS src_url,
         unnest(regexp_extract_all(html, '{href}', 1)) AS dst_url
  FROM pages),
abs_links AS (
  SELECT * FROM links
  WHERE regexp_matches(dst_url, '^[A-Za-z][A-Za-z0-9+.-]*://')),
doms AS (
  SELECT {src_dom} AS src_domain, {dst_dom} AS dst_domain
  FROM abs_links),
g AS (
  SELECT DISTINCT src_domain, dst_domain FROM doms
  WHERE src_domain <> dst_domain),
sym AS (
  SELECT src_domain AS a, dst_domain AS b FROM g
  UNION SELECT dst_domain, src_domain FROM g),
reach(s, t) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.s, e.b FROM reach r JOIN sym e ON r.t = e.a
  WHERE e.b <> r.s)
SELECT s AS domain, LEAST(s, MIN(t)) AS component
FROM reach GROUP BY s ORDER BY domain
""".format(url=_MESSY_URL_SQL, html=html, href='href="([^"]*)"',
           src_dom=_domain_sql("src_url"), dst_dom=_domain_sql("dst_url"))


_register("web_components", q_web_components, _q_web_components_oracle(),
          verified=5)


_PPR_SEEDS = (1, 2, 7)


def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (Haveliwala 2002) from a 3-customer seed set
    over the purchase graph: restart mass concentrated on the seeds
    (scale div 3 each, teleport base only to seeds), 4 rounds of the same
    integer fixed point as graph_pagerank — the related-nodes /
    retrieval-expansion primitive.  Oracle unrolls the seed-conditional
    iterations in SQL."""
    from picogeojson_spark.operators.graph import pagerank, purchase_graph

    edges = purchase_graph(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))
    return pagerank(edges, iterations=4, seeds=list(_PPR_SEEDS)).orderBy(
        F.desc("rank"), F.asc("node"))


def _ppr_sql(seeds=_PPR_SEEDS, iterations=4, damping_pct=85, scale=10**12):
    seed_list = ", ".join(str(s) for s in sorted(set(seeds)))
    r0_seed = scale // len(set(seeds))
    base_seed = (r0_seed * (100 - damping_pct)) // 100
    parts = [
        """
WITH e AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
         CAST(l_suppkey AS BIGINT) + 10000000 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
r0 AS (SELECT node,
              CAST(CASE WHEN node IN ({sl}) THEN {r0} ELSE 0 END
                   AS BIGINT) AS rank
       FROM nodes)""".format(sl=seed_list, r0=r0_seed)
    ]
    for i in range(1, iterations + 1):
        parts.append(
            """,
r{i} AS (
  SELECT n.node,
         CAST(CASE WHEN n.node IN ({sl}) THEN {b} ELSE 0 END
              + (COALESCE(c.contrib, 0) * {d}) // 100 AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS contrib
    FROM r{prev} r JOIN e ON r.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) c ON n.node = c.node)""".format(
                i=i, prev=i - 1, sl=seed_list, b=base_seed, d=damping_pct))
    parts.append(
        "\nSELECT node, rank FROM r{n} ORDER BY rank DESC, node ASC".format(
            n=iterations))
    return "".join(parts)


_register("graph_ppr", q_graph_ppr, _ppr_sql(), verified=5)


def q_stream_cdc(spark, sf_dir):
    """STREAMING CDC apply: the change stream reduces to latest-change-
    per-key as a complete-mode max-struct aggregate (keyed state bounded
    at one struct per key — (ts, seq) lexicographic pick is exactly the
    batch window's DESC/DESC rank because seq is unique per key); the
    snapshot MERGE folds in batch on the memory sink (merge_latest, the
    shared tail of apply_changes).  Oracle is the SAME SQL as table_cdc —
    the hash IS the stream==batch proof (stream_heatmap pattern)."""
    from picogeojson_spark.operators.cdc import merge_latest

    src = (
        spark.readStream.schema(_DOCS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "documents"))
    )
    i = F.col("doc_id")
    ch = src.filter(i % 3 != 2).select(
        F.expr("doc_id div 2").alias("key"),
        ((i * 37) % 97).cast("long").alias("ts"),
        i.alias("seq"),
        F.when(i % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "lang", "source",
        (F.col("n_chars") + 1000).alias("n_chars"))
    latest_s = ch.groupBy("key").agg(
        F.max(F.struct("ts", "seq", "op", "lang", "source", "n_chars"))
        .alias("w"))
    sink = _run_stream(spark, latest_s, "stream_cdc", "complete")
    latest = sink.select(
        "key", F.col("w.op").alias("op"), F.col("w.lang").alias("lang"),
        F.col("w.source").alias("source"),
        F.col("w.n_chars").alias("n_chars"))
    snap = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 != 4).select(
        F.col("doc_id").alias("key"), "lang", "source", "n_chars")
    return merge_latest(snap, latest, keys=("key",)).orderBy("key")


_register("stream_cdc", q_stream_cdc, Q_TABLE_CDC_SQL, verified=5)


def q_sketch_kmv(spark, sf_dir):
    """KMV bottom-k set-overlap sketch: audience overlap of two derived
    user sets (A = u(doc_id%400), B = u(doc_id%400+150): union 550,
    intersection 250) at k=64 — estimation mode, the direct-intersection
    complement of sketch_hll_overlap.  Oracle replays the md5 bottom-k
    samples and the integer estimator bit for bit."""
    from picogeojson_spark.operators.sketches import kmv_overlap

    d = _t(spark, sf_dir, "documents")
    a = d.select(F.concat(F.lit("u"), (F.col("doc_id") % 400)
                          .cast("string")).alias("v"))
    b = d.select(F.concat(F.lit("u"), (F.col("doc_id") % 400 + 150)
                          .cast("string")).alias("v"))
    return kmv_overlap(a, b, "v", k=64)


Q_SKETCH_KMV_SQL = """
WITH va AS (
  SELECT DISTINCT 'u' || CAST(doc_id % 400 AS VARCHAR) AS v
  FROM documents),
vb AS (
  SELECT DISTINCT 'u' || CAST(doc_id % 400 + 150 AS VARCHAR) AS v
  FROM documents),
sa AS (
  SELECT CAST(('0x' || substring(md5('kmv:' || v), 1, 8)) AS BIGINT)
           AS hk
  FROM va ORDER BY 1 LIMIT 64),
sb AS (
  SELECT CAST(('0x' || substring(md5('kmv:' || v), 1, 8)) AS BIGINT)
           AS hk
  FROM vb ORDER BY 1 LIMIT 64),
u AS (
  SELECT hk, MAX(a) AS a, MAX(b) AS b
  FROM (SELECT hk, 1 AS a, 0 AS b FROM sa
        UNION ALL SELECT hk, 0, 1 FROM sb)
  GROUP BY hk ORDER BY hk LIMIT 64),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sample_n,
         CAST(COALESCE(MAX(hk), 0) AS BIGINT) AS kth_hash,
         CAST(COALESCE(SUM(a * b), 0) AS BIGINT) AS overlap_n
  FROM u),
e AS (
  SELECT sample_n, kth_hash, overlap_n,
         CAST(CASE WHEN sample_n < 64 OR kth_hash <= 0 THEN sample_n
              ELSE (63 * 4294967296) // kth_hash END AS BIGINT)
           AS union_est
  FROM s)
SELECT sample_n, kth_hash, overlap_n, union_est,
       CAST(CASE WHEN sample_n > 0
            THEN (overlap_n * union_est) // sample_n ELSE 0 END
            AS BIGINT) AS inter_est,
       CAST(CASE WHEN sample_n > 0
            THEN (overlap_n * 1000000) // sample_n ELSE 0 END
            AS BIGINT) AS jaccard_ppm
FROM e
"""


_register("sketch_kmv", q_sketch_kmv, Q_SKETCH_KMV_SQL, verified=5)


def q_web_path_stats(spark, sf_dir):
    """Sitemap-tree rollup over the web_robots URL synthesis (depths
    1-3, 7 hosts): page counts + n_chars totals at every path-segment
    prefix — the crawl-budgeting table."""
    from picogeojson_spark.operators.web import path_prefix_stats

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("h"), (i % 7).cast("string"), F.lit(".com"))
    path = F.concat(
        F.lit("/s"), (i % 5).cast("string"),
        F.when(i % 4 != 0,
               F.concat(F.lit("/p"), (i % 3).cast("string")))
        .otherwise(F.lit("")),
        F.when(i % 4 == 3,
               F.concat(F.lit("/x"), (i % 11).cast("string")))
        .otherwise(F.lit("")))
    urls = d.select("doc_id", host.alias("host"), path.alias("path"),
                    "n_chars")
    return path_prefix_stats(urls, max_depth=4,
                             weight_col="n_chars").orderBy(
        "host", "prefix", "depth")


Q_WEB_PATH_STATS_SQL = r"""
WITH u AS (
  SELECT doc_id, n_chars,
         'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
         '/s' || CAST(doc_id % 5 AS VARCHAR)
           || CASE WHEN doc_id % 4 <> 0
                   THEN '/p' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 4 = 3
                   THEN '/x' || CAST(doc_id % 11 AS VARCHAR) ELSE '' END
           AS path
  FROM documents),
p AS (
  SELECT host, n_chars, 1 AS depth,
         regexp_extract(path, '^((?:/[^/]*){1})', 1) AS prefix FROM u
  UNION ALL
  SELECT host, n_chars, 2,
         regexp_extract(path, '^((?:/[^/]*){2})', 1) FROM u
  UNION ALL
  SELECT host, n_chars, 3,
         regexp_extract(path, '^((?:/[^/]*){3})', 1) FROM u
  UNION ALL
  SELECT host, n_chars, 4,
         regexp_extract(path, '^((?:/[^/]*){4})', 1) FROM u)
SELECT host, prefix, CAST(depth AS INT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       CAST(SUM(n_chars) AS BIGINT) AS weight_sum
FROM p WHERE prefix <> ''
GROUP BY host, prefix, depth
ORDER BY host, prefix, depth
"""


_register("web_path_stats", q_web_path_stats, Q_WEB_PATH_STATS_SQL)


# ===========================================================================
# Round-5 additions (SURVEY.md §2.19)
# ===========================================================================


def q_graph_bfs(spark, sf_dir):
    """Multi-source bounded-hop BFS (4 hops) over the market-basket
    co-occurrence graph from the ~1%-of-nodes seed set (item % 97 == 0):
    exact hop distance to the nearest seed per reachable node.  Frontier-
    only joins per round against the persisted symmetric edge table;
    the oracle unrolls the identical layer expansion."""
    from picogeojson_spark.operators.graph import bfs_hops, \
        cooccurrence_edges

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    seeds = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .filter(F.col("node") % 97 == 0)
    )
    return bfs_hops(edges, seeds, max_hops=4).orderBy("node")


def _q_graph_bfs_sql(max_hops=4):
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
e AS MATERIALIZED (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
d0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS hops
  FROM e WHERE u % 97 = 0),
f0 AS MATERIALIZED (SELECT node FROM d0)"""]
    for i in range(1, max_hops + 1):
        parts.append("""
f{i} AS MATERIALIZED (
  SELECT DISTINCT e.v AS node
  FROM f{j} f JOIN e ON e.u = f.node
  WHERE e.v NOT IN (SELECT node FROM d{j})),
d{i} AS MATERIALIZED (
  SELECT node, hops FROM d{j}
  UNION ALL SELECT node, CAST({i} AS BIGINT) AS hops FROM f{i})"""
                     .format(i=i, j=i - 1))
    parts.append("""
SELECT node, hops FROM d{h} ORDER BY node""".format(h=max_hops))
    return ",".join(parts[:-1]) + parts[-1]


_register("graph_bfs", q_graph_bfs, _q_graph_bfs_sql(), plan_dump=True)


def _eval_ranked(spark, sf_dir):
    """Deterministic ranked-retrieval corpus for the ranking-eval family:
    40 synthetic queries, a hash-noise score, graded relevance 0..3 from
    document length (real ties at every grade)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        (F.col("doc_id") % 40).alias("query_id"),
        "doc_id",
        ((F.col("doc_id") * 7919) % 100000).cast("long").alias("score"),
        F.when(F.col("n_chars") >= 450, 3)
        .when(F.col("n_chars") >= 350, 2)
        .when(F.col("n_chars") >= 250, 1)
        .otherwise(0).cast("int").alias("rel"),
    )


_EVAL_RANKED_SQL = """
SELECT doc_id % 40 AS query_id, doc_id,
       CAST((doc_id * 7919) % 100000 AS BIGINT) AS score,
       CAST(CASE WHEN n_chars >= 450 THEN 3
                 WHEN n_chars >= 350 THEN 2
                 WHEN n_chars >= 250 THEN 1 ELSE 0 END AS INT) AS rel
FROM documents"""


def q_eval_ndcg(spark, sf_dir):
    """Graded NDCG@10 per query (operators/evals.py:ndcg_at_k): integer
    gains (2^rel - 1) times a PRECOMPUTED literal discount table
    (floor(1e9/log2(rank+1)) — no runtime log2 on either engine), two
    WindowGroupLimit-pruned per-query rank windows + one aggregate;
    ndcg_ppm = dcg*1e6 div idcg."""
    from picogeojson_spark.operators.evals import ndcg_at_k

    return ndcg_at_k(_eval_ranked(spark, sf_dir), k=10).orderBy("query_id")


def _q_eval_ndcg_sql(k=10):
    from picogeojson_spark.operators.evals import _log2_discounts_ppb

    disc = _log2_discounts_ppb(k)
    case = ("CASE {c} " +
            " ".join("WHEN {r} THEN {d}".format(r=r + 1, d=d)
                     for r, d in enumerate(disc)) + " END")
    return """
WITH base AS ({ranked}),
rk AS (
  SELECT query_id,
         CAST((1 << rel) - 1 AS BIGINT) AS gain,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rk,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id ASC) AS irk
  FROM base),
dcg AS (
  SELECT query_id, CAST(SUM(gain * ({dcase})) AS BIGINT) AS dcg
  FROM rk WHERE rk <= {k} GROUP BY query_id),
idcg AS (
  SELECT query_id, CAST(SUM(gain * ({icase})) AS BIGINT) AS idcg
  FROM rk WHERE irk <= {k} GROUP BY query_id)
SELECT query_id, dcg, idcg,
       CAST(CASE WHEN idcg > 0 THEN (dcg * 1000000) // idcg END AS BIGINT)
         AS ndcg_ppm
FROM dcg JOIN idcg USING (query_id)
ORDER BY query_id
""".format(ranked=_EVAL_RANKED_SQL, k=k,
           dcase=case.format(c="rk"), icase=case.format(c="irk"))


_register("eval_ndcg", q_eval_ndcg, _q_eval_ndcg_sql(), plan_dump=True)


def q_eval_rank_at_k(spark, sf_dir):
    """Binary P@10 / R@10 / MRR per query (operators/evals.py:rank_at_k):
    one per-query rank window + one map-side-combined aggregate; all
    outputs ppm-scaled integer division (NULL-guarded recall/RR)."""
    from picogeojson_spark.operators.evals import rank_at_k

    ranked = _eval_ranked(spark, sf_dir).withColumn(
        "relevant", F.col("rel") >= 2)
    return rank_at_k(ranked, k=10).orderBy("query_id")


Q_EVAL_RANK_SQL = """
WITH base AS ({ranked}),
rk AS (
  SELECT query_id, rel >= 2 AS relevant,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rk
  FROM base),
agg AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN relevant AND rk <= 10 THEN 1 ELSE 0 END)
              AS BIGINT) AS hits_k,
         CAST(SUM(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         MIN(CASE WHEN relevant THEN rk END) AS first_rel
  FROM rk GROUP BY query_id)
SELECT query_id, hits_k, n_rel,
       CAST((hits_k * 1000000) // 10 AS BIGINT) AS p_at_k_ppm,
       CAST(CASE WHEN n_rel > 0 THEN (hits_k * 1000000) // n_rel END
            AS BIGINT) AS r_at_k_ppm,
       CAST(CASE WHEN first_rel IS NOT NULL THEN 1000000 // first_rel END
            AS BIGINT) AS rr_ppm
FROM agg ORDER BY query_id
""".format(ranked=_EVAL_RANKED_SQL)


_register("eval_rank_at_k", q_eval_rank_at_k, Q_EVAL_RANK_SQL, plan_dump=True)


def q_events_changepoint(spark, sf_dir):
    """CUSUM change-point detection per event type over the hourly
    rollup (operators/changepoint.py): the max-reset recurrence as its
    closed form — running sum minus running min (with the virtual S0=0
    prefix) — two windows over the tiny rollup, zero iteration; integer
    mean/slack, deviations never divided."""
    from picogeojson_spark.operators.changepoint import cusum_changepoints

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("{} div 3600000000".format(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )).cast("long").alias("hour_id"),
    )
    hourly = e.groupBy("event_type", "hour_id").agg(
        F.count("*").cast("long").alias("n"))
    return cusum_changepoints(
        hourly, key_col="event_type", ord_col="hour_id", val_col="n",
        slack_pct=10, threshold_x=3,
    ).select("event_type", "hour_id", "n", "mu", "level", "changed") \
        .orderBy("event_type", "hour_id")


Q_EVENTS_CHANGEPOINT_SQL = """
WITH e AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id FROM events),
hourly AS (
  SELECT event_type, hour_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2),
mu AS (
  SELECT event_type, CAST(SUM(n) // COUNT(*) AS BIGINT) AS mu
  FROM hourly GROUP BY 1),
s AS (
  SELECT h.event_type, h.hour_id, h.n, m.mu,
         CAST(SUM(h.n - m.mu - (m.mu * 10) // 100)
              OVER (PARTITION BY h.event_type ORDER BY h.hour_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
  FROM hourly h JOIN mu m USING (event_type))
SELECT event_type, hour_id, n, mu,
       CAST(s - LEAST(MIN(s) OVER w, 0) AS BIGINT) AS level,
       CAST(CASE WHEN s - LEAST(MIN(s) OVER w, 0) > 3 * mu
                 THEN 1 ELSE 0 END AS INTEGER) AS changed
FROM s
WINDOW w AS (PARTITION BY event_type ORDER BY hour_id
             ROWS UNBOUNDED PRECEDING)
ORDER BY event_type, hour_id
"""


_register("events_changepoint", q_events_changepoint, Q_EVENTS_CHANGEPOINT_SQL,
          plan_dump=True)


def q_table_compaction(spark, sf_dir):
    """Small-file compaction planner (operators/maintenance.py): a
    synthetic file manifest (32-day partition buckets x 80 file slots,
    deterministic integer sizes summed from orders) packed by the
    sorted-next-fit prefix-sum rule — bin = cumsum_before div 1 MiB —
    one manifest exchange + two windows, zero joins, O(manifest) not
    O(table).  Files already >= target stay 'keep' with NULL bin."""
    from picogeojson_spark.operators.maintenance import compaction_plan

    o = _t(spark, sf_dir, "orders")
    manifest = o.select(
        F.expr("div({}, 2764800000000)".format(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        )).cast("long").alias("part"),
        (F.col("o_orderkey") % 80).alias("file_id"),
        ((F.col("o_orderkey") * 131) % 65536).alias("_ob"),
    ).groupBy("part", "file_id").agg(
        F.sum("_ob").cast("long").alias("bytes"))
    return compaction_plan(manifest, target_bytes=1 << 20).select(
        "part", "file_id", "bytes", "bin", "n_in_bin", "bin_bytes",
        "action",
    ).orderBy("part", "file_id")


Q_TABLE_COMPACTION_SQL = """
WITH m AS (
  SELECT epoch_us(o_orderdate) // 2764800000000 AS part,
         o_orderkey % 80 AS file_id,
         CAST(SUM((o_orderkey * 131) % 65536) AS BIGINT) AS bytes
  FROM orders GROUP BY 1, 2),
s AS (SELECT *, bytes < 1048576 AS small FROM m),
p AS (
  SELECT part, file_id, bytes, small,
         CASE WHEN small THEN COALESCE(SUM(bytes) OVER w, 0) END
           AS before
  FROM s
  WINDOW w AS (PARTITION BY part, small
               ORDER BY bytes DESC, file_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
b AS (
  SELECT part, file_id, bytes, small,
         CASE WHEN small THEN before // 1048576 END AS bin
  FROM p)
SELECT part, file_id, bytes,
       CAST(bin AS BIGINT) AS bin,
       CAST(CASE WHEN small THEN COUNT(*) OVER wb END AS BIGINT)
         AS n_in_bin,
       CAST(CASE WHEN small THEN SUM(bytes) OVER wb END AS BIGINT)
         AS bin_bytes,
       CASE WHEN small THEN 'compact' ELSE 'keep' END AS action
FROM b
WINDOW wb AS (PARTITION BY part, small, bin)
ORDER BY part, file_id
"""


_register("table_compaction", q_table_compaction, Q_TABLE_COMPACTION_SQL,
          plan_dump=True)


def q_sketch_topk(spark, sf_dir):
    """Two-pass heavy hitters (operators/sketches.py:heavy_hitters):
    candidate terms from a 10% deterministic doc-hash sample, exact
    broadcast-semi-join recount of only those candidates over the full
    corpus — the full-vocabulary shuffle never happens.  Exact top-20 of
    the candidate set, sample pipeline replayed bit-for-bit by the
    oracle."""
    from picogeojson_spark.operators.sketches import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "documents"), k=20, sample_ppm=100000,
        cand_factor=4,
    ).orderBy("rnk")


Q_SKETCH_TOPK_SQL = r"""
WITH samp AS (
  SELECT text FROM documents
  WHERE CAST(('0x' || substring(md5('hh0:' || CAST(doc_id AS VARCHAR)),
                                1, 8)) AS BIGINT) % 1000000 < 100000),
sw AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM samp),
sc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sample
  FROM sw WHERE word <> '' GROUP BY word),
cand AS (
  SELECT word, n_sample FROM (
    SELECT word, n_sample,
           ROW_NUMBER() OVER (ORDER BY n_sample DESC, word ASC) AS r
    FROM sc) WHERE r <= 80),
fw AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents),
ec AS (
  SELECT word, n_sample, CAST(COUNT(*) AS BIGINT) AS n
  FROM fw JOIN cand USING (word)
  GROUP BY word, n_sample)
SELECT CAST(rnk AS INTEGER) AS rnk, word, n, n_sample
FROM (SELECT word, n, n_sample,
             ROW_NUMBER() OVER (ORDER BY n DESC, word ASC) AS rnk
      FROM ec)
WHERE rnk <= 20 ORDER BY rnk
"""


_register("sketch_topk", q_sketch_topk, Q_SKETCH_TOPK_SQL, plan_dump=True)


def q_text_collocations(spark, sf_dir):
    """Top-50 collocations by integer pointwise-lift
    (operators/textstats.py:collocations): lift_ppm = c_xy*N*1e6 div
    (c_x*c_y) — exp(PMI), so the ranking is the PMI ranking with zero
    runtime logarithms; min_count=5 prunes hapax pairs before the two
    unigram joins; decimal(38,0) keeps the product exact."""
    from picogeojson_spark.operators.textstats import collocations

    return collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=50,
    ).orderBy("rnk")


Q_TEXT_COLLOCATIONS_SQL = r"""
WITH toked AS (
  SELECT list_filter(string_split_regex(text, '\s+'),
                     t -> len(t) > 0) AS w
  FROM documents),
uc AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(w) AS word FROM toked) GROUP BY word),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uc),
big AS (
  SELECT unnest(list_transform(range(1, len(w)),
                j -> w[j] || ' ' || w[j + 1])) AS gram
  FROM toked WHERE len(w) >= 2),
bc AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM big GROUP BY gram HAVING COUNT(*) >= 5),
j AS (
  SELECT gram, c_xy, u1.c AS c_x, u2.c AS c_y
  FROM bc
  JOIN uc u1 ON split_part(gram, ' ', 1) = u1.word
  JOIN uc u2 ON split_part(gram, ' ', 2) = u2.word),
s AS (
  SELECT gram, c_xy, c_x, c_y,
         CAST((CAST(c_xy AS HUGEINT) * t.n_tokens * 1000000)
              // (CAST(c_x AS HUGEINT) * c_y) AS BIGINT) AS lift_ppm
  FROM j CROSS JOIN tot t)
SELECT CAST(rnk AS INTEGER) AS rnk, gram, c_xy, c_x, c_y, lift_ppm
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, gram ASC)
             AS rnk
      FROM s)
WHERE rnk <= 50 ORDER BY rnk
"""


_register("text_collocations", q_text_collocations, Q_TEXT_COLLOCATIONS_SQL,
          plan_dump=True)


def q_sample_balanced(spark, sf_dir):
    """Class-balanced downsample of the embedding corpus
    (operators/sampling.py:balanced_sample): every label keeps exactly
    min-class-size rows, first by (md5-hash, id) — deterministic, no
    RNG; n_min attaches through the sanctioned 1-row scalar join."""
    from picogeojson_spark.operators.sampling import balanced_sample

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return balanced_sample(e, key_col="label", id_col="vec_id").orderBy(
        "label", "vec_id")


Q_SAMPLE_BALANCED_SQL = """
WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
m AS (SELECT CAST(MIN(n) AS BIGINT) AS n_min FROM c),
r AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY CAST(('0x' || substring(
                     md5('s0:' || CAST(vec_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 1000000 ASC,
                    vec_id ASC) AS rk
  FROM embeddings)
SELECT vec_id, label FROM r CROSS JOIN m WHERE rk <= n_min
ORDER BY label, vec_id
"""


_register("sample_balanced", q_sample_balanced, Q_SAMPLE_BALANCED_SQL,
          plan_dump=True)


def q_geo_snap(spark, sf_dir):
    """Nearest-segment snap / map-matching (operators/snap.py): customer
    lattice points onto short synthetic 'road' segments anchored at
    part-key lattice points — radius-expanded bbox cell cover on the segment
    side, SINGLE-cell point join, exact integer-rational point-segment
    distance (decimal(38,0) interior case), rank by (floor(d2), seg_id).
    The oracle replays the same math brute-force (cross join) — the
    Spark plan itself is the cell equi-join."""
    from picogeojson_spark.operators.snap import snap_to_segments

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * 37) % 720) * 500000
         - 180000000 + 250000).cast("long").alias("px"),
        (((F.col("c_custkey") * 61) % 360) * 500000
         - 90000000 + 250000).cast("long").alias("py"),
    )
    s = _t(spark, sf_dir, "part")
    segs = s.select(
        F.col("p_partkey").alias("seg_id"),
        (((F.col("p_partkey") * 53) % 720) * 500000
         - 180000000 + 250000).cast("long").alias("ax"),
        (((F.col("p_partkey") * 29) % 360) * 500000
         - 90000000 + 250000).cast("long").alias("ay"),
    ).select(
        "seg_id", "ax", "ay",
        (F.col("ax") + ((F.col("seg_id") * 17) % 21 - 10) * 100000)
        .cast("long").alias("bx"),
        (F.col("ay") + ((F.col("seg_id") * 11) % 21 - 10) * 100000)
        .cast("long").alias("by"),
    )
    return snap_to_segments(pts, segs, radius_udeg=2000000).orderBy(
        "point_id")


Q_GEO_SNAP_SQL = """
WITH p AS (
  SELECT c_custkey AS point_id,
         CAST((c_custkey * 37) % 720 AS BIGINT) * 500000
           - 180000000 + 250000 AS px,
         CAST((c_custkey * 61) % 360 AS BIGINT) * 500000
           - 90000000 + 250000 AS py
  FROM customer),
s0 AS (
  SELECT p_partkey AS seg_id,
         CAST((p_partkey * 53) % 720 AS BIGINT) * 500000
           - 180000000 + 250000 AS ax,
         CAST((p_partkey * 29) % 360 AS BIGINT) * 500000
           - 90000000 + 250000 AS ay
  FROM part),
s AS (
  SELECT seg_id, ax, ay,
         ax + ((seg_id * 17) % 21 - 10) * 100000 AS bx,
         ay + ((seg_id * 11) % 21 - 10) * 100000 AS by
  FROM s0),
c AS (
  SELECT point_id, seg_id,
         (bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS l2,
         (px - ax) * (px - ax) + (py - ay) * (py - ay) AS ap2,
         (px - bx) * (px - bx) + (py - by) * (py - by) AS bp2,
         (px - ax) * (bx - ax) + (py - ay) * (by - ay) AS tnum
  FROM p CROSS JOIN s),
d AS (
  SELECT point_id, seg_id,
         CAST(CASE WHEN l2 = 0 OR tnum <= 0 THEN ap2
                   WHEN tnum >= l2 THEN bp2
                   ELSE (CAST(ap2 AS HUGEINT) * l2
                         - CAST(tnum AS HUGEINT) * tnum) // l2
              END AS BIGINT) AS d2_udeg2,
         CAST(CASE WHEN l2 = 0 OR tnum <= 0 THEN 0
                   WHEN tnum >= l2 THEN 1000000
                   ELSE (CAST(tnum AS HUGEINT) * 1000000) // l2
              END AS BIGINT) AS t_ppm
  FROM c),
r AS (
  SELECT point_id, seg_id, d2_udeg2, t_ppm,
         ROW_NUMBER() OVER (PARTITION BY point_id
                            ORDER BY d2_udeg2 ASC, seg_id ASC) AS rk
  FROM d WHERE d2_udeg2 <= 4000000000000)
SELECT point_id, seg_id, d2_udeg2, t_ppm FROM r WHERE rk = 1
ORDER BY point_id
"""


_register("geo_snap", q_geo_snap, Q_GEO_SNAP_SQL, plan_dump=True)


def q_web_mirror(spark, sf_dir):
    """Mirrored-host detection (operators/web.py:mirror_candidates):
    host pairs ranked by shared-content Jaccard over distinct doc
    fingerprints; boilerplate fingerprints (> 20 hosts) pruned before
    the bounded fingerprint self-join.  The corpus injects a mirror
    pathology (every 3rd doc draws from a 40-item md5-hashed content
    pool — hash-drawn because source = doc_id %% 20, so any polynomial
    pool id would alias each pool item to ONE host) so real cross-host
    sharing
    is exercised; the rest fingerprint as md5(trim(text))."""
    from picogeojson_spark.operators.web import mirror_candidates

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("host"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("m"), F.pmod(F.conv(F.substring(F.md5(
                   F.concat(F.lit("mp:"), F.col("doc_id").cast("string"))
               ), 1, 8), 16, 10).cast("long"), F.lit(40)).cast("string")))
        .otherwise(F.substring(F.md5(F.trim(F.col("text"))), 1, 16))
        .alias("fp"),
    )
    return mirror_candidates(
        d, min_shared=2, max_fp_hosts=20,
    ).orderBy("host_a", "host_b")


Q_WEB_MIRROR_SQL = """
WITH hf AS (
  SELECT DISTINCT source AS h,
         CASE WHEN doc_id % 3 = 0
              THEN 'm' || CAST(CAST(('0x' || substring(
                     md5('mp:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 40 AS VARCHAR)
              ELSE substring(md5(trim(text)), 1, 16) END AS f
  FROM documents),
sizes AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM hf GROUP BY h),
keep AS (
  SELECT f FROM hf GROUP BY f
  HAVING COUNT(*) >= 2 AND COUNT(*) <= 20),
pf AS (SELECT hf.h, hf.f FROM hf JOIN keep USING (f)),
shared AS (
  SELECT a.h AS host_a, b.h AS host_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM pf a JOIN pf b ON a.f = b.f AND a.h < b.h
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT host_a, host_b, shared, na.n AS n_a, nb.n AS n_b,
       CAST((shared * 1000000) // (na.n + nb.n - shared) AS BIGINT)
         AS jaccard_ppm
FROM shared
JOIN sizes na ON na.h = host_a
JOIN sizes nb ON nb.h = host_b
ORDER BY host_a, host_b
"""


_register("web_mirror", q_web_mirror, Q_WEB_MIRROR_SQL, plan_dump=True)


def q_stream_dedupe(spark, sf_dir):
    """STREAMING exact dedup: dropDuplicates on (user_id, event_type)
    over the replayed event file stream (one state row per key — the
    classic streaming-ingest dedup stage), sinking ONLY the key columns
    (first-arrival payload depends on file order; the key SET does not),
    then a batch rollup of distinct keys per type.  Exact-equality
    variant of dropDuplicatesWithinWatermark (which evicts key state at
    the watermark — the 100 TB deployment choice; here the unbounded
    variant keeps the oracle hash-exact).  The oracle is the batch
    COUNT(DISTINCT) — the hash IS the stream==batch proof."""
    src = (
        spark.readStream.schema(_EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "events"))
    )
    deduped = src.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"])
    sink = _run_stream(spark, deduped, "stream_dedupe", "append")
    return (
        sink.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_keys"))
        .orderBy("event_type")
    )


Q_STREAM_DEDUPE_SQL = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
FROM events GROUP BY event_type ORDER BY event_type
"""


_register("stream_dedupe", q_stream_dedupe, Q_STREAM_DEDUPE_SQL, bench=False)


def q_web_crawl_schedule(spark, sf_dir):
    """Politeness crawl scheduler (operators/web.py:crawl_schedule):
    md5 host-affinity worker assignment + per-host serialized fetch
    slots at a deterministic per-host crawl delay — one host exchange,
    one rank window, codegen hashes.  URLs come from the canonical
    messy-URL corpus."""
    from picogeojson_spark.operators.web import canonicalize, \
        crawl_schedule

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    ).withColumn("url", _messy_url_col())
    c = canonicalize(d).select(F.col("doc_id").alias("url_id"), "host")
    return crawl_schedule(c, n_workers=16, base_delay_ms=500).orderBy(
        "url_id")


Q_WEB_CRAWL_SCHEDULE_SQL = (
    "WITH " + _WEB_NORM_CTES + """,
uu AS (SELECT doc_id AS url_id, host FROM n),
sched AS (
  SELECT url_id, host,
         CAST(CAST(('0x' || substring(md5('wk:' || host), 1, 8))
              AS BIGINT) % 16 AS INTEGER) AS worker,
         CAST(500 + (CAST(('0x' || substring(md5('cd:' || host), 1, 8))
              AS BIGINT) % 8) * 250 AS BIGINT) AS delay_ms,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY url_id ASC) AS rn
  FROM uu)
SELECT url_id, host, worker, delay_ms,
       CAST((rn - 1) * delay_ms AS BIGINT) AS slot_ms
FROM sched ORDER BY url_id
""")


_register("web_crawl_schedule", q_web_crawl_schedule, Q_WEB_CRAWL_SCHEDULE_SQL,
          plan_dump=True)


def q_geo_gistar(spark, sf_dir):
    """Getis-Ord Gi* hot/cold spots over the 2-degree occupied-cell
    raster (operators/spatial_cluster.py:gi_star): exact-integer
    neighborhood-total statistic gi_num_n = N*block - w*S with the cell
    included in its own 3x3 block; same one-shuffle cell-histogram
    shape as geo_lisa, 9-offset cell explode."""
    from picogeojson_spark.operators.spatial_cluster import gi_star

    pts = _clumped_points(spark, sf_dir)
    return gi_star(pts, cell_udeg=2_000_000).orderBy("cx", "cy")


Q_GEO_GISTAR_SQL = """
WITH pts AS ({points}),
pc AS (
  SELECT CAST(floor(CAST(floor(lon * 1000000.0) AS BIGINT) / 2000000.0)
              AS BIGINT) AS cx,
         CAST(floor(CAST(floor(lat * 1000000.0) AS BIGINT) / 2000000.0)
              AS BIGINT) AS cy
  FROM pts),
cells AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pc GROUP BY 1, 2),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(cnt) AS BIGINT) AS total_pts FROM cells),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)),
nb AS (SELECT a.cx + o.dx AS cx, a.cy + o.dy AS cy,
              CAST(SUM(a.cnt) AS BIGINT) AS block,
              CAST(COUNT(*) AS BIGINT) AS w
       FROM cells a CROSS JOIN offs o GROUP BY 1, 2)
SELECT c.cx, c.cy, c.cnt, nb.w, nb.block,
       CAST(g.n_cells * nb.block - nb.w * g.total_pts AS BIGINT)
         AS gi_num_n,
       CAST(sign(g.n_cells * nb.block - nb.w * g.total_pts) AS INTEGER)
         AS hot
FROM cells c JOIN nb ON nb.cx = c.cx AND nb.cy = c.cy CROSS JOIN g
ORDER BY c.cx, c.cy
""".format(points=_CLUMPED_POINTS_SQL)


_register("geo_gistar", q_geo_gistar, Q_GEO_GISTAR_SQL, plan_dump=True)


# --------------------------------------------------------------------------
# IVFPQ (IVFADC) ANN — PQ codes inside IVF lists, exact refine of the ADC
# shortlist (appended)
# --------------------------------------------------------------------------

def q_ann_ivfpq(spark, sf_dir):
    """IVF + product quantization with exact shortlist refine (the FAISS
    IndexIVFPQ + IndexRefineFlat deployment shape). Every PQ stage is
    integer-exact by construction — codebook components and vectors are
    quantized at scale 1000, codes are argmin over exact integer L2, ADC
    tables are exact integer dots — so the DuckDB oracle reproduces every
    code, every shortlist, and (via the family's sequential-fold cosine)
    every refined score bit-for-bit. Coarse assignment shares ann_ivf's
    float argmax (same ulp-gap justification). Recall vs ann_topk is
    additionally floored at 0.8 in scripts/check_correctness.py; the 16x
    code compression (16 bytes vs 256 bytes float32 at dim=64) is
    asserted in tests/test_similarity_ivfpq.py."""
    from picogeojson_spark.operators.similarity import ann_ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    return ann_ivfpq_topk(
        queries, emb, k=3, nlist=16, nprobe=12, m_sub=16, ksub=64,
        scale=1000, shortlist=96,
    ).orderBy("query_id", "rank")


Q_ANN_IVFPQ_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ei AS (SELECT vec_id,
              list_transform(v, x -> CAST(round(x * 1000) AS BIGINT)) AS vi
       FROM e),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
              AS INTEGER) AS list_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
cassign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.v, c.c) DESC,
                                       c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c) t WHERE rn = 1),
qassign AS (
  SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_dot_product(e.v, c.c) DESC,
                                       c.list_id ASC) AS rn
    FROM e CROSS JOIN cents c WHERE e.vec_id % 10 = 0) t WHERE rn <= 12),
seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
              AS INTEGER) AS j, vi
  FROM ei ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 64),
cw AS (
  SELECT t.m, s.j,
         list_slice(s.vi, t.m * 4 + 1, t.m * 4 + 4) AS cv,
         list_dot_product(list_slice(s.vi, t.m * 4 + 1, t.m * 4 + 4),
                          list_slice(s.vi, t.m * 4 + 1, t.m * 4 + 4)) AS cw2
  FROM seeds s CROSS JOIN (SELECT CAST(r.range AS INTEGER) AS m
                           FROM range(0, 16) r) t),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.j AS code,
           ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.d2 ASC, d.j ASC) AS rn
    FROM (
      SELECT ei.vec_id, cw.m, cw.j,
             list_dot_product(list_slice(ei.vi, cw.m*4+1, cw.m*4+4),
                              list_slice(ei.vi, cw.m*4+1, cw.m*4+4))
             - 2 * list_dot_product(list_slice(ei.vi, cw.m*4+1, cw.m*4+4),
                                    cw.cv)
             + cw.cw2 AS d2
      FROM ei CROSS JOIN cw) d) z WHERE rn = 1),
qtbl AS (
  SELECT ei.vec_id AS query_id, cw.m, cw.j,
         cw.cw2 - 2 * list_dot_product(
             list_slice(ei.vi, cw.m*4+1, cw.m*4+4), cw.cv) AS tblv
  FROM ei CROSS JOIN cw WHERE ei.vec_id % 10 = 0),
adc AS (
  SELECT q.vec_id AS query_id, ca.vec_id AS neighbor_id,
         SUM(qt.tblv) AS adc_l2
  FROM qassign q
  JOIN cassign ca ON ca.list_id = q.list_id
  JOIN codes cd ON cd.vec_id = ca.vec_id
  JOIN qtbl qt ON qt.query_id = q.vec_id AND qt.m = cd.m AND qt.j = cd.code
  GROUP BY q.vec_id, ca.vec_id),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_l2 ASC, neighbor_id ASC) AS rn
    FROM adc) t WHERE rn <= 96),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v))
            * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM short s
  JOIN e a ON a.vec_id = s.query_id
  JOIN e b ON b.vec_id = s.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       CAST(round(cos * 1000000) AS BIGINT) AS cos_x1e6
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""

_register("ann_ivfpq", q_ann_ivfpq, Q_ANN_IVFPQ_SQL, plan_dump=True)



def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the market-basket
    co-occurrence graph: one degree aggregate, two hash equi-joins of the
    edge stream against it, one global aggregate -> 1 row of exact
    integer sufficient statistics + the coefficient in ppm (explicit
    floor division in decimal(38,0) — the numerator is negative on
    disassortative graphs, and Spark div truncates toward zero).  The
    oracle replays the identical integer form in HUGEINT."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        degree_assortativity,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return degree_assortativity(edges)


Q_GRAPH_ASSORTATIVITY_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e AS (SELECT DISTINCT a.item AS u, b.item AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
pe AS (SELECT du.deg AS ju, dv.deg AS jv
       FROM e JOIN deg du ON du.node = e.u
              JOIN deg dv ON dv.node = e.v),
stats AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         CAST(SUM(CAST(ju AS HUGEINT) * jv) AS HUGEINT) AS sp,
         CAST(SUM(CAST(ju AS HUGEINT) + jv) AS HUGEINT) AS sd,
         CAST(SUM(CAST(ju AS HUGEINT) * ju
                  + CAST(jv AS HUGEINT) * jv) AS HUGEINT) AS sq
  FROM pe),
nd AS (SELECT m, sp, sd, sq,
              (4 * m * sp - sd * sd) * 1000000 AS num,
              (2 * m * sq - sd * sd) AS den
       FROM stats)
SELECT CAST(m AS BIGINT) AS m_edges,
       CAST(sp AS BIGINT) AS sum_prod,
       CAST(sd AS BIGINT) AS sum_deg,
       CAST(sq AS BIGINT) AS sum_sq,
       CASE WHEN den = 0 THEN NULL
            ELSE CAST((num - ((num % den + den) % den)) // den AS BIGINT)
       END AS r_ppm
FROM nd
"""

_register("graph_assortativity", q_graph_assortativity,
          Q_GRAPH_ASSORTATIVITY_SQL, bench=False)


def q_graph_clustcoef(spark, sf_dir):
    """Per-node local clustering coefficient (Watts-Strogatz) over the
    co-occurrence graph restricted to the deterministic 1/4 vertex sample
    (l_partkey % 4 = 0 — vertex sampling is the documented way to bound
    the O(m^1.5) wedge stage; the operator itself is generic).  Reuses
    the brute-oracle-proven exactly-once triangle enumeration; degrees
    are a one-agg table; one LEFT hash join keeps zero-triangle nodes at
    cc_ppm = 0.  All operands non-negative -> truncating div IS floor on
    both engines."""
    from picogeojson_spark.operators.graph import (
        clustering_coefficients,
        cooccurrence_edges,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    edges = cooccurrence_edges(li)
    return clustering_coefficients(edges).orderBy("node")


Q_GRAPH_CLUSTCOEF_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem WHERE l_partkey % 4 = 0),
e AS (SELECT DISTINCT a.item AS u, b.item AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY u HAVING COUNT(*) >= 2),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
pern AS (SELECT a AS node FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri),
tcnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         FROM pern GROUP BY node)
SELECT d.node, d.deg,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST((COALESCE(t.n_triangles, 0) * 1000000)
            // ((d.deg * (d.deg - 1)) // 2) AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
ORDER BY d.node
"""

_register("graph_clustcoef", q_graph_clustcoef, Q_GRAPH_CLUSTCOEF_SQL,
          bench=False)



def q_eval_pr_curve(spark, sf_dir):
    """Precision/recall/F1 threshold sweep (operators/evals.py:pr_curve):
    ONE corpus aggregate to the score histogram, then a k-literal
    threshold explode over the HISTOGRAM (k x |scores|, never k x
    corpus) re-aggregated per threshold; every metric exact integer from
    the counts (F1 from counts, not rounded-P/R), NULL-guarded edges."""
    from picogeojson_spark.operators.evals import pr_curve

    return pr_curve(
        _eval_scored(spark, sf_dir),
        thresholds=[10, 25, 30, 31, 35, 50, 100],
    ).orderBy("threshold")


Q_EVAL_PR_CURVE_SQL = """
WITH sc AS ({scored}),
hist AS (
  SELECT score AS s,
         CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n0
  FROM sc GROUP BY score),
t(threshold) AS (VALUES (10), (25), (30), (31), (35), (50), (100)),
per_t AS (
  SELECT CAST(t.threshold AS BIGINT) AS threshold,
         CAST(SUM(CASE WHEN h.s >= t.threshold THEN h.n1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN h.s >= t.threshold THEN h.n0 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN h.s < t.threshold THEN h.n1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN h.s < t.threshold THEN h.n0 ELSE 0 END)
              AS BIGINT) AS tn
  FROM hist h CROSS JOIN t GROUP BY t.threshold)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN CAST((tp * 1000000) // (tp + fp) AS BIGINT) END
         AS precision_ppm,
       CASE WHEN tp + fn > 0
            THEN CAST((tp * 1000000) // (tp + fn) AS BIGINT) END
         AS recall_ppm,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST((2 * tp * 1000000) // (2 * tp + fp + fn) AS BIGINT)
       END AS f1_ppm
FROM per_t ORDER BY threshold
""".format(scored=_EVAL_SCORED_SQL)

_register("eval_pr_curve", q_eval_pr_curve, Q_EVAL_PR_CURVE_SQL, bench=False)


# Closed integer fence boxes in micro-degrees: overlapping (1/2, 3/8),
# nested (8 inside 3), polar/dateline-adjacent extremes (4, 5, 6, 7) —
# literal on BOTH sides (the planted-fixture convention).
_GEOFENCE_FENCES = [
    (1, -80_000_000, -40_000_001, -170_000_000, -100_000_001),
    (2, -50_000_000, 10_000_000, -120_000_000, -20_000_000),
    (3, 0, 35_000_000, -10_000_000, 60_000_000),
    (4, 20_000_000, 79_999_999, 40_000_000, 169_999_999),
    (5, -20_000_000, 20_000_000, 150_000_000, 169_999_999),
    (6, 60_000_000, 79_999_999, -170_000_000, -130_000_000),
    (7, -80_000_000, -60_000_000, 0, 30_000_000),
    (8, 5_000_000, 15_000_000, 5_000_000, 15_000_000),
]


def q_geo_geofence(spark, sf_dir):
    """Geofence enter/exit transitions (operators/geofence.py): events
    become per-user point streams on the deterministic prime-stride
    lattice (lat_u = (event_id*7919) %% 160M - 80M — nonneg operands, so
    Spark %% == DuckDB %%); 8 literal fence boxes (overlapping + nested)
    explode to broadcast cover cells; the corpus side never shuffles for
    the match; transitions are array_except diffs of consecutive
    per-point fence sets under the per-user lag window.  The oracle is
    the brute points×fences lag formulation — hash-equality proves the
    cell prefilter drops no transition and the set-diff emits exactly
    the state changes (first point inside => enter; no end-of-stream
    exit)."""
    from picogeojson_spark.operators.geofence import geofence_events

    e = _t(spark, sf_dir, "events")
    points = e.select(
        F.col("user_id").alias("entity_id"),
        F.col("event_id").alias("seq"),
        ((F.col("event_id") * 7919) % 160_000_000 - 80_000_000)
        .alias("lat_u"),
        ((F.col("event_id") * 104_729) % 340_000_000 - 170_000_000)
        .alias("lon_u"),
    )
    fences = spark.createDataFrame(
        _GEOFENCE_FENCES,
        "fence_id long, lat_min_u long, lat_max_u long, "
        "lon_min_u long, lon_max_u long")
    return geofence_events(points, fences, cell_udeg=10_000_000).orderBy(
        "entity_id", "seq", "fence_id", "event")


Q_GEO_GEOFENCE_SQL = """
WITH p AS (
  SELECT user_id AS entity_id, event_id AS seq,
         (event_id * 7919) % 160000000 - 80000000 AS lat_u,
         (event_id * 104729) % 340000000 - 170000000 AS lon_u
  FROM events),
f(fence_id, a0, a1, o0, o1) AS (VALUES {fences}),
pair AS (
  SELECT p.entity_id, p.seq, CAST(f.fence_id AS BIGINT) AS fence_id,
         (p.lat_u BETWEEN f.a0 AND f.a1
          AND p.lon_u BETWEEN f.o0 AND f.o1) AS inside
  FROM p CROSS JOIN f),
lagd AS (
  SELECT entity_id, seq, fence_id, inside,
         lag(inside) OVER (PARTITION BY entity_id, fence_id
                           ORDER BY seq) AS pin
  FROM pair)
SELECT entity_id, seq, fence_id,
       CASE WHEN inside THEN 'enter' ELSE 'exit' END AS event
FROM lagd
WHERE inside <> COALESCE(pin, FALSE)
ORDER BY entity_id, seq, fence_id, event
""".format(fences=", ".join(
    "({}, {}, {}, {}, {})".format(*row) for row in _GEOFENCE_FENCES))

_register("geo_geofence", q_geo_geofence, Q_GEO_GEOFENCE_SQL, bench=False)


def q_graph_featagg(spark, sf_dir):
    """GNN-style neighborhood feature aggregation (operators/graph.py:
    neighbor_feature_agg) over the market-basket co-occurrence graph
    with part retail price in integer cents as the node feature: exact
    1-hop (A·x) and 2-hop WALK (A²·x — paths back through the node
    count) sums via two hash equi-joins, never a neighborhood explode;
    ppm means in decimal(38,0) explicit floor.  Oracle replays the
    identical walk algebra in HUGEINT."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        neighbor_feature_agg,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    feats = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("feat"),
    )
    return neighbor_feature_agg(edges, feats).orderBy("node")


Q_GRAPH_FEATAGG_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e AS (SELECT DISTINCT a.item AS u, b.item AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
f AS (SELECT p_partkey AS node,
             CAST(floor(p_retailprice * 100) AS BIGINT) AS fv
      FROM part),
h1 AS (SELECT s.u, CAST(COUNT(*) AS BIGINT) AS deg,
              CAST(SUM(f.fv) AS BIGINT) AS h1_sum
       FROM sym s JOIN f ON f.node = s.v GROUP BY s.u),
h2 AS (SELECT s.u, CAST(SUM(h.deg) AS BIGINT) AS walk2,
              CAST(SUM(h.h1_sum) AS BIGINT) AS h2_sum
       FROM sym s JOIN h1 h ON h.u = s.v GROUP BY s.u)
SELECT h1.u AS node, f.fv AS feat, h1.deg, h1.h1_sum,
       CAST((CAST(h1.h1_sum AS HUGEINT) * 1000000) // h1.deg AS BIGINT)
         AS h1_mean_ppm,
       h2.walk2, h2.h2_sum,
       CAST((CAST(h2.h2_sum AS HUGEINT) * 1000000) // h2.walk2 AS BIGINT)
         AS h2_mean_ppm
FROM h1 JOIN h2 ON h2.u = h1.u JOIN f ON f.node = h1.u
ORDER BY node
"""

_register("graph_featagg", q_graph_featagg, Q_GRAPH_FEATAGG_SQL, bench=False)


def q_graph_sssp(spark, sf_dir):
    """Bounded-round weighted shortest paths (operators/graph.py:
    sssp_bounded — Bellman-Ford, 5 rounds) over the market-basket
    co-occurrence graph on the deterministic 1/2 vertex sample
    (l_partkey % 2 = 0 — bounds the per-round relaxation volume, the
    clustcoef sampling convention) with deterministic integer edge
    weights w = 1 + (u + v) % 7, from the ~2%-of-sampled-nodes seed
    set (item % 96 == 0).  Frontier-only relaxation per round against the persisted
    symmetric edge table; the oracle unrolls full relaxation (provably
    the same per-round fixed points)."""
    from picogeojson_spark.operators.graph import cooccurrence_edges, \
        sssp_bounded

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 2 == 0)
    edges = (
        cooccurrence_edges(li)
        .withColumn("w", (F.lit(1) + (F.col("u") + F.col("v")) % 7)
                    .cast("long"))
    )
    seeds = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .filter(F.col("node") % 96 == 0)
    )
    return sssp_bounded(edges, seeds, max_rounds=5).orderBy("node")


def _q_graph_sssp_sql(max_rounds=5):
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem WHERE l_partkey % 2 = 0),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
e AS MATERIALIZED (
  SELECT u, v, CAST(1 + (u + v) % 7 AS BIGINT) AS w FROM e0
  UNION ALL
  SELECT v AS u, u AS v, CAST(1 + (u + v) % 7 AS BIGINT) AS w FROM e0),
d0 AS MATERIALIZED (
  SELECT DISTINCT u AS node, CAST(0 AS BIGINT) AS dist
  FROM e WHERE u % 96 = 0)"""]
    for i in range(1, max_rounds + 1):
        parts.append("""
c{i} AS MATERIALIZED (
  SELECT e.v AS node, CAST(MIN(d.dist + e.w) AS BIGINT) AS dist
  FROM d{j} d JOIN e ON e.u = d.node GROUP BY e.v),
d{i} AS MATERIALIZED (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{j}
    UNION ALL SELECT node, dist FROM c{i}) GROUP BY node)"""
                     .format(i=i, j=i - 1))
    parts.append("""
SELECT node, dist FROM d{r} ORDER BY node""".format(r=max_rounds))
    return ",".join(parts[:-1]) + parts[-1]


_register("graph_sssp", q_graph_sssp, _q_graph_sssp_sql(), bench=False)


def q_events_survival(spark, sf_dir):
    """Kaplan-Meier retention curve (operators/survival.py: survival_km,
    censor margin 7 days, hour resolution): per-user birth/last-activity
    from the events stream, churn vs right-censoring against the global
    observation end, exact integer product-limit recurrence in ppm.  The
    only corpus-sized work is one groupBy(user) min/max; the recurrence
    runs over the bounded duration rollup.  Oracle replays the identical
    floor recurrence with a recursive CTE."""
    from picogeojson_spark.operators.survival import survival_km

    return survival_km(
        _t(spark, sf_dir, "events"), censor_margin_days=7, unit="hour"
    ).orderBy("t_days")


Q_EVENTS_SURVIVAL_SQL = """
WITH RECURSIVE
per AS (
  SELECT user_id,
         CAST(min(epoch_us(ts)) AS BIGINT) AS t0,
         CAST(max(epoch_us(ts)) AS BIGINT) AS t1
  FROM events GROUP BY user_id),
cut AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS cutoff FROM events),
durs AS (
  SELECT (p.t1 - p.t0) // 3600000000 AS t,
         CASE WHEN c.cutoff - p.t1 >= 604800000000 THEN 1 ELSE 0 END AS ev
  FROM per p CROSS JOIN cut c),
roll AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
                CAST(SUM(1 - ev) AS BIGINT) AS c
         FROM durs GROUP BY t),
ord AS (SELECT t, d, c, CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn
        FROM roll),
rec AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000 AS BIGINT) AS s,
         (SELECT CAST(SUM(d + c) AS BIGINT) FROM roll) AS n
  UNION ALL
  SELECT o.rn, (r.s * (r.n - o.d)) // r.n, r.n - o.d - o.c
  FROM rec r JOIN ord o ON o.rn = r.rn + 1)
SELECT o.t AS t_days, p.n AS n_risk, o.d AS n_events, o.c AS n_censored,
       cur.s AS surv_ppm
FROM ord o
JOIN rec cur ON cur.rn = o.rn
JOIN rec p ON p.rn = o.rn - 1
ORDER BY t_days
"""

_register("events_survival", q_events_survival, Q_EVENTS_SURVIVAL_SQL,
          bench=False)


def q_graph_ktruss(spark, sf_dir):
    """Bounded-round 4-truss peeling (operators/graph.py: k_truss, 3
    rounds) over the co-occurrence graph on the deterministic 1/4
    vertex sample (the clustcoef convention for bounding the O(m^1.5)
    wedge stage): drop edges with < 2 supporting triangles, recompute,
    3x; report survivors with support recomputed over the surviving
    set.  Early-exit at the fixed point is sound (extra oracle rounds
    are no-ops); the oracle unrolls the identical peel."""
    from picogeojson_spark.operators.graph import cooccurrence_edges, \
        k_truss

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    return k_truss(cooccurrence_edges(li), k=4, rounds=3).orderBy("u", "v")


def _q_graph_ktruss_sql(k=4, rounds=3):
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem WHERE l_partkey % 4 = 0),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item)"""]
    for i in range(rounds):
        parts.append("""
t{i} AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e{i} a JOIN e{i} b ON b.u = a.u AND b.v > a.v
  JOIN e{i} c ON c.u = a.v AND c.v = b.v),
s{i} AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT x AS u, y AS v FROM t{i}
    UNION ALL SELECT x AS u, z AS v FROM t{i}
    UNION ALL SELECT y AS u, z AS v FROM t{i}) GROUP BY u, v),
e{n} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i} e JOIN s{i} s ON s.u = e.u AND s.v = e.v
  WHERE s.sup >= {thr})""".format(i=i, n=i + 1, thr=k - 2))
    parts.append("""
tf AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e{R} a JOIN e{R} b ON b.u = a.u AND b.v > a.v
  JOIN e{R} c ON c.u = a.v AND c.v = b.v),
sf AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT x AS u, y AS v FROM tf
    UNION ALL SELECT x AS u, z AS v FROM tf
    UNION ALL SELECT y AS u, z AS v FROM tf) GROUP BY u, v)
SELECT e.u AS u, e.v AS v, CAST(COALESCE(sf.sup, 0) AS BIGINT) AS support
FROM e{R} e LEFT JOIN sf ON sf.u = e.u AND sf.v = e.v
ORDER BY e.u, e.v""".format(R=rounds))
    return ",".join(parts)


_register("graph_ktruss", q_graph_ktruss, _q_graph_ktruss_sql(), bench=False)


def q_geo_hausdorff(spark, sf_dir):
    """Trajectory-similarity join (operators/trajsim.py:
    hausdorff_pairs): entity pairs within 2e6 udeg symmetric discrete
    Hausdorff distance, exact squared-integer distances.  Entities are
    users (even ids), each with a bounded deterministic point set
    derived from its events (every 3rd event): 35 cluster bases 15-20
    degrees apart with sub-degree per-event jitter, so same-base pairs
    qualify and cross-base pairs must be pruned by the cell prefilter.
    The oracle is the BRUTE all-pairs max-min replay — hash equality
    proves the 3x3 cell prefilter drops no qualifying pair."""
    from picogeojson_spark.operators.trajsim import hausdorff_pairs

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 == 0))
    pts = ev.select(
        F.col("user_id").alias("entity"),
        ((F.col("user_id") % 3) * 20_000_000
         + ((F.col("event_id") * 37) % 40) * 25_000)
        .cast("long").alias("x_udeg"),
        ((F.col("user_id") % 7) * 100_000
         + ((F.col("event_id") * 53) % 40) * 25_000)
        .cast("long").alias("y_udeg"),
    )
    return hausdorff_pairs(pts, threshold_udeg=2_000_000).orderBy(
        "entity_a", "entity_b")


Q_GEO_HAUSDORFF_SQL = """
WITH p AS (
  SELECT DISTINCT user_id AS entity,
         CAST((user_id % 3) * 20000000
              + ((event_id * 37) % 40) * 25000 AS BIGINT) AS x,
         CAST((user_id % 7) * 100000
              + ((event_id * 53) % 40) * 25000 AS BIGINT) AS y
  FROM events WHERE user_id % 2 = 0 AND event_id % 3 = 0),
dm AS (
  SELECT a.entity AS ea, b.entity AS eb, a.x AS ax, a.y AS ay,
         MIN((a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y)) AS md
  FROM p a JOIN p b ON a.entity <> b.entity
  GROUP BY 1, 2, 3, 4),
h AS (SELECT ea, eb, MAX(md) AS hd FROM dm GROUP BY ea, eb)
SELECT h1.ea AS entity_a, h1.eb AS entity_b,
       CAST(GREATEST(h1.hd, h2.hd) AS BIGINT) AS hausdorff_sq
FROM h h1 JOIN h h2 ON h2.ea = h1.eb AND h2.eb = h1.ea
WHERE h1.ea < h1.eb AND GREATEST(h1.hd, h2.hd) <= 4000000000000
ORDER BY entity_a, entity_b
"""

_register("geo_hausdorff", q_geo_hausdorff, Q_GEO_HAUSDORFF_SQL, bench=False)


def q_events_cube(spark, sf_dir):
    """All-margins OLAP cube (operators/olap.py: cube_rollup) over
    (event_type, day): per-type, per-day, per-type-and-day and grand
    total in ONE Expand + ONE map-side-combined aggregate (one corpus
    scan for all 4 grouping sets).  Margin keys coalesce to sentinels;
    gflags is the explicit per-column grouping bitmask.  Day buckets
    are pure-NTZ epoch-microsecond floor-division (tz-independent);
    money in integer cents."""
    from picogeojson_spark.operators.olap import cube_rollup

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("div(timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts), 86400000000)")
        .cast("long").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cube_rollup(
        ev, ["event_type", "day"],
        {"n": F.count("*").cast("long"),
         "sum_cents": F.sum("cents").cast("long")},
    ).orderBy("gflags", "event_type", "day")


Q_EVENTS_CUBE_SQL = """
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(day, -1) AS day,
       CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gflags,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM e
GROUP BY CUBE (event_type, day)
ORDER BY gflags, event_type, day
"""

_register("events_cube", q_events_cube, Q_EVENTS_CUBE_SQL, bench=False)


def q_table_checksum(spark, sf_dir):
    """Order-invariant replica checksum (operators/checksum.py:
    shard_checksums) over orders: canonical '|'-joined rows (money in
    integer cents) -> 60-bit md5 prefixes -> per-shard decimal sums
    reduced mod a 31-bit prime.  One projection + one map-side-combined
    aggregate; 16 digest rows localize any divergence."""
    from picogeojson_spark.operators.checksum import shard_checksums

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return shard_checksums(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "cents"],
        F.col("o_orderkey"), n_shards=16,
    ).orderBy("shard")


Q_TABLE_CHECKSUM_SQL = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
h AS (
  SELECT ((o_orderkey % 16) + 16) % 16 AS shard,
         CAST(('0x' || substring(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             o_orderstatus || '|' ||
             CAST(cents AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM o)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(hv) % 2000000011 AS BIGINT) AS checksum
FROM h GROUP BY shard ORDER BY shard
"""

_register("table_checksum", q_table_checksum, Q_TABLE_CHECKSUM_SQL,
          bench=False)


def q_geo_dtw(spark, sf_dir):
    """Dynamic-time-warping trajectory similarity join
    (operators/trajsim.py: dtw_pairs): entity pairs whose exact DTW
    cost (optimal monotone warp, squared-integer step costs) is within
    budget, over the same deterministic event-derived trajectories as
    geo_hausdorff thinned to every 9th event, ORDERED by event_id.
    The DP runs as a nested JVM-side higher-order fold; candidates come
    from the provably complete cell prefilter (cell^2 >= max_cost).
    The oracle replays the identical row recurrence via its prefix-min
    closed form in a recursive CTE over ALL entity pairs — hash
    equality proves both the DP and prefilter completeness."""
    from picogeojson_spark.operators.trajsim import dtw_pairs

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 2 == 0) & (F.col("event_id") % 9 == 0))
    pts = ev.select(
        F.col("user_id").alias("entity"),
        F.col("event_id").alias("seq"),
        ((F.col("user_id") % 3) * 20_000_000
         + ((F.col("event_id") * 37) % 40) * 25_000)
        .cast("long").alias("x_udeg"),
        ((F.col("user_id") % 7) * 100_000
         + ((F.col("event_id") * 53) % 40) * 25_000)
        .cast("long").alias("y_udeg"),
    )
    return dtw_pairs(
        pts, max_cost=3_000_000_000_000, cell_udeg=2_000_000
    ).orderBy("entity_a", "entity_b")


Q_GEO_DTW_SQL = """
WITH RECURSIVE
p AS (
  SELECT user_id AS entity, event_id AS seq,
         CAST((user_id % 3) * 20000000
              + ((event_id * 37) % 40) * 25000 AS BIGINT) AS x,
         CAST((user_id % 7) * 100000
              + ((event_id * 53) % 40) * 25000 AS BIGINT) AS y
  FROM events WHERE user_id % 2 = 0 AND event_id % 9 = 0),
arr AS (
  SELECT entity,
         list(struct_pack(x := x, y := y) ORDER BY seq) AS pts
  FROM p GROUP BY entity),
pr AS (
  SELECT a.entity AS ea, b.entity AS eb, a.pts AS pa, b.pts AS pb,
         len(a.pts) AS n, len(b.pts) AS m
  FROM arr a JOIN arr b ON a.entity < b.entity),
rec AS (
  SELECT ea, eb, 1 AS i,
         list_transform(range(1, m + 1), j -> CAST(
           list_sum(list_transform(range(1, j + 1), t ->
             (pa[1].x - pb[t].x) * (pa[1].x - pb[t].x)
             + (pa[1].y - pb[t].y) * (pa[1].y - pb[t].y)))
           AS BIGINT)) AS row
  FROM pr
  UNION ALL
  SELECT r.ea, r.eb, r.i + 1,
         list_transform(range(1, p2.m + 1), j -> CAST(
           list_sum(list_transform(range(1, j + 1), t ->
             (p2.pa[r.i + 1].x - p2.pb[t].x)
               * (p2.pa[r.i + 1].x - p2.pb[t].x)
             + (p2.pa[r.i + 1].y - p2.pb[t].y)
               * (p2.pa[r.i + 1].y - p2.pb[t].y)))
           + list_min(list_transform(range(1, j + 1), l ->
               (CASE WHEN l = 1 THEN r.row[1]
                     ELSE least(r.row[l], r.row[l - 1]) END)
               - (CASE WHEN l = 1 THEN 0
                       ELSE list_sum(list_transform(range(1, l), t ->
                         (p2.pa[r.i + 1].x - p2.pb[t].x)
                           * (p2.pa[r.i + 1].x - p2.pb[t].x)
                         + (p2.pa[r.i + 1].y - p2.pb[t].y)
                           * (p2.pa[r.i + 1].y - p2.pb[t].y)))
                  END)))
           AS BIGINT)) AS row
  FROM rec r JOIN pr p2 ON p2.ea = r.ea AND p2.eb = r.eb
  WHERE r.i < p2.n)
SELECT r.ea AS entity_a, r.eb AS entity_b,
       CAST(r.row[p3.m] AS BIGINT) AS dtw_cost
FROM rec r JOIN pr p3 ON p3.ea = r.ea AND p3.eb = r.eb
WHERE r.i = p3.n AND r.row[p3.m] <= 3000000000000
ORDER BY entity_a, entity_b
"""

_register("geo_dtw", q_geo_dtw, Q_GEO_DTW_SQL, bench=False)


def q_eval_confusion(spark, sf_dir):
    """Multi-class confusion metrics (operators/evals.py:
    confusion_metrics) over a deterministic 5-class labeling of the
    documents table (pred shifted on doc_id % 7 / % 11 — ~23% error
    with asymmetric confusion): per-class tp/fp/fn and exact-integer
    P/R/F1 ppm, F1 from counts.  One (label,pred) aggregate bounds
    everything at k^2 cells."""
    from picogeojson_spark.operators.evals import confusion_metrics

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 5).alias("label"),
        ((F.col("doc_id") % 5
          + F.when(F.col("doc_id") % 7 == 0, 1)
          .when(F.col("doc_id") % 11 == 0, 2).otherwise(0)) % 5)
        .alias("pred"),
    )
    return confusion_metrics(d).orderBy("class")


Q_EVAL_CONFUSION_SQL = """
WITH d AS (
  SELECT doc_id % 5 AS label,
         (doc_id % 5 + CASE WHEN doc_id % 7 = 0 THEN 1
                            WHEN doc_id % 11 = 0 THEN 2
                            ELSE 0 END) % 5 AS pred
  FROM documents),
cells AS (SELECT label AS t, pred AS p, CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY 1, 2),
pt AS (SELECT t AS class,
              CAST(SUM(CASE WHEN p = t THEN n ELSE 0 END) AS BIGINT)
                AS tp_t,
              CAST(SUM(n) AS BIGINT) AS n_true
       FROM cells GROUP BY t),
pp AS (SELECT p AS class,
              CAST(SUM(CASE WHEN p = t THEN n ELSE 0 END) AS BIGINT)
                AS tp_p,
              CAST(SUM(n) AS BIGINT) AS n_pred
       FROM cells GROUP BY p),
j AS (SELECT COALESCE(pt.class, pp.class) AS class,
             COALESCE(pt.tp_t, pp.tp_p, 0) AS tp,
             COALESCE(n_true, 0) AS n_true,
             COALESCE(n_pred, 0) AS n_pred
      FROM pt FULL OUTER JOIN pp ON pp.class = pt.class)
SELECT class, CAST(tp AS BIGINT) AS tp,
       CAST(n_pred - tp AS BIGINT) AS fp,
       CAST(n_true - tp AS BIGINT) AS fn,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred,
       CASE WHEN n_pred > 0 THEN
         CAST((CAST(tp AS HUGEINT) * 1000000) // n_pred AS BIGINT)
       END AS precision_ppm,
       CASE WHEN n_true > 0 THEN
         CAST((CAST(tp AS HUGEINT) * 1000000) // n_true AS BIGINT)
       END AS recall_ppm,
       CASE WHEN n_true + n_pred > 0 THEN
         CAST((CAST(tp AS HUGEINT) * 2000000) // (n_true + n_pred)
              AS BIGINT)
       END AS f1_ppm
FROM j ORDER BY class
"""

_register("eval_confusion", q_eval_confusion, Q_EVAL_CONFUSION_SQL,
          bench=False)


def q_events_trend(spark, sf_dir):
    """Per-type daily-volume OLS trend (operators/forecast.py:
    group_trend): exact int64 sufficient statistics from the bounded
    (type, day) rollup, slope in ppm via the decimal(38,0) EXPLICIT
    floor (numerator negative on declining types).  Corpus-sized work
    is the one map-side-combined rollup; day buckets are pure-NTZ."""
    from picogeojson_spark.operators.forecast import group_trend

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("div(timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts), 86400000000)")
        .cast("long").alias("day"),
    )
    roll = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("y"))
    return group_trend(roll, "event_type", "day", "y").orderBy("key")


Q_EVENTS_TREND_SQL = """
WITH e AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
r AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS y
      FROM e GROUP BY 1, 2),
s AS (SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(day) AS BIGINT) AS sum_x,
             CAST(SUM(y) AS BIGINT) AS sum_y,
             CAST(SUM(day * y) AS BIGINT) AS sum_xy,
             CAST(SUM(day * day) AS BIGINT) AS sum_xx
      FROM r GROUP BY 1)
SELECT key, n, sum_x, sum_y, sum_xy, sum_xx,
       CASE WHEN CAST(n AS HUGEINT) * sum_xx
                 - CAST(sum_x AS HUGEINT) * sum_x > 0 THEN
         CAST((
           (CAST(1000000 AS HUGEINT)
              * (CAST(n AS HUGEINT) * sum_xy
                 - CAST(sum_x AS HUGEINT) * sum_y))
           - ((((CAST(1000000 AS HUGEINT)
                 * (CAST(n AS HUGEINT) * sum_xy
                    - CAST(sum_x AS HUGEINT) * sum_y))
                % (CAST(n AS HUGEINT) * sum_xx
                   - CAST(sum_x AS HUGEINT) * sum_x))
               + (CAST(n AS HUGEINT) * sum_xx
                  - CAST(sum_x AS HUGEINT) * sum_x))
              % (CAST(n AS HUGEINT) * sum_xx
                 - CAST(sum_x AS HUGEINT) * sum_x))
         ) // (CAST(n AS HUGEINT) * sum_xx
               - CAST(sum_x AS HUGEINT) * sum_x) AS BIGINT)
       END AS slope_ppm
FROM s ORDER BY key
"""

_register("events_trend", q_events_trend, Q_EVENTS_TREND_SQL, bench=False)


def q_geo_colocation(spark, sf_dir):
    """Spatio-temporal co-location mining (operators/trajsim.py:
    colocation_pairs): entity pairs sharing >= 3 distinct (2e6-udeg
    cell, daily bucket) space-time buckets over the deterministic
    event-derived points (every 3rd event, even users) — the co-travel
    / contact-tracing join.  Presence dedups FIRST (repeat pings count
    once per bucket); pure-NTZ time buckets; sharp boundaries are the
    contract."""
    from picogeojson_spark.operators.trajsim import colocation_pairs

    ev = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 == 0))
    pts = ev.select(
        F.col("user_id").alias("entity"),
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .cast("long").alias("ts_us"),
        ((F.col("user_id") % 3) * 20_000_000
         + ((F.col("event_id") * 37) % 40) * 25_000)
        .cast("long").alias("x_udeg"),
        ((F.col("user_id") % 7) * 100_000
         + ((F.col("event_id") * 53) % 40) * 25_000)
        .cast("long").alias("y_udeg"),
    )
    return colocation_pairs(
        pts, cell_udeg=2_000_000, bucket_us=86_400_000_000, min_events=3
    ).orderBy("entity_a", "entity_b")


Q_GEO_COLOCATION_SQL = """
WITH p AS (
  SELECT DISTINCT user_id AS entity,
         ((user_id % 3) * 20000000
          + ((event_id * 37) % 40) * 25000) // 2000000 AS cx,
         ((user_id % 7) * 100000
          + ((event_id * 53) % 40) * 25000) // 2000000 AS cy,
         epoch_us(ts) // 86400000000 AS tb
  FROM events WHERE user_id % 2 = 0 AND event_id % 3 = 0)
SELECT a.entity AS entity_a, b.entity AS entity_b,
       CAST(COUNT(*) AS BIGINT) AS n_cobuckets
FROM p a JOIN p b
  ON a.cx = b.cx AND a.cy = b.cy AND a.tb = b.tb
     AND a.entity < b.entity
GROUP BY 1, 2 HAVING COUNT(*) >= 3
ORDER BY entity_a, entity_b
"""

_register("geo_colocation", q_geo_colocation, Q_GEO_COLOCATION_SQL,
          bench=False)


def q_dedup_fuzzy(spark, sf_dir):
    """Fuzzy entity resolution at edit distance <= 1 (operators/
    dedup.py: ed1_pairs — SymSpell deletion-neighborhood blocking +
    exact built-in levenshtein refine) over supplier names: the blocked
    join finds every digit-substitution near-duplicate pair without an
    all-pairs comparison.  Oracle is the BRUTE all-pairs levenshtein —
    hash equality proves the deletion block is complete."""
    from picogeojson_spark.operators.dedup import ed1_pairs

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("doc_id"), F.col("s_name").alias("name"))
    return ed1_pairs(s).orderBy("id_a", "id_b")


Q_DEDUP_FUZZY_SQL = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS ed
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
ORDER BY id_a, id_b
"""

_register("dedup_fuzzy", q_dedup_fuzzy, Q_DEDUP_FUZZY_SQL, bench=False)


def q_events_cdf(spark, sf_dir):
    """Exact per-type empirical value CDF (operators/stats.py:
    value_cdf) over event values in integer cents: the quantile/CDF
    feature transform, one corpus histogram aggregate + windows sharing
    one hashpartitioning(key) exchange of the bounded histogram;
    cdf_ppm exact in decimal(38,0)."""
    from picogeojson_spark.operators.stats import value_cdf

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    return value_cdf(ev).orderBy("key", "v")


Q_EVENTS_CDF_SQL = """
WITH e AS (
  SELECT event_type AS key, CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
h AS (SELECT key, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e GROUP BY 1, 2),
c AS (SELECT key, v, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY v)
                  AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
      FROM h)
SELECT key, v, cnt, cum, n,
       CAST((CAST(cum AS HUGEINT) * 1000000) // n AS BIGINT) AS cdf_ppm
FROM c ORDER BY key, v
"""

_register("events_cdf", q_events_cdf, Q_EVENTS_CDF_SQL, bench=False)


def q_table_gini(spark, sf_dir):
    """Per-source document-length inequality (operators/stats.py:
    gini_concentration): exact Gini ppm of n_chars per source — the
    corpus-curation concentration read (is one source dominated by a
    few huge documents?).  One histogram aggregate + one bounded
    window; tie runs expanded by the closed-form position sum, all
    products in decimal(38,0)."""
    from picogeojson_spark.operators.stats import gini_concentration

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("key"),
        F.col("n_chars").cast("long").alias("v"),
    )
    return gini_concentration(d).orderBy("key")


Q_TABLE_GINI_SQL = """
WITH h AS (
  SELECT source AS key, CAST(n_chars AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1, 2),
c AS (SELECT key, v, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY v)
                  AS BIGINT) AS cum
      FROM h),
s AS (SELECT key, CAST(SUM(cnt) AS BIGINT) AS n,
             SUM(CAST(v AS HUGEINT) * cnt) AS sv,
             SUM(CAST(v AS HUGEINT)
                 * (CAST(cnt AS HUGEINT) * (cum - cnt)
                    + (CAST(cnt AS HUGEINT) * (cnt + 1)) // 2)) AS t
      FROM c GROUP BY key)
SELECT key, n, CAST(sv AS BIGINT) AS sum_v,
       CASE WHEN sv > 0 THEN
         CAST(((2 * t - (CAST(n AS HUGEINT) + 1) * sv) * 1000000)
              // (CAST(n AS HUGEINT) * sv) AS BIGINT)
       END AS gini_ppm
FROM s ORDER BY key
"""

_register("table_gini", q_table_gini, Q_TABLE_GINI_SQL, bench=False)


def q_graph_walks(spark, sf_dir):
    """Deterministic random-walk corpus (operators/graph.py:
    random_walks) — the DeepWalk/node2vec walk-generation stage over
    the symmetric market-basket co-occurrence graph: one 4-step walk
    per node, neighbor picked per step by the repo-standard md5 rank
    (md5 plays the RNG), so the corpus is a pure function of the edge
    set and the oracle replays the identical picks."""
    from picogeojson_spark.operators.graph import cooccurrence_edges, \
        random_walks

    und = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    sym = und.select(F.col("u").alias("src"), F.col("v").alias("dst")) \
        .union(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    return random_walks(sym, walk_length=4).orderBy("walk_id", "step")


def _q_graph_walks_sql(walk_length=4, salt="w0"):
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
e AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0
  UNION ALL SELECT v AS src, u AS dst FROM e0),
adj AS MATERIALIZED (
  SELECT src, dst,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
              AS BIGINT) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
  FROM e),
s0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS cur FROM e)"""]
    for t in range(1, walk_length + 1):
        parts.append("""
s{t} AS MATERIALIZED (
  SELECT s.walk_id, a.dst AS cur
  FROM s{p} s JOIN adj a
    ON s.cur = a.src
   AND a.rk = 1 + (CAST(('0x' || substring(md5(
         '{salt}:' || CAST(s.walk_id AS VARCHAR)
         || ':{t}:' || CAST(s.cur AS VARCHAR)), 1, 8)) AS BIGINT)
       % a.deg))""".format(t=t, p=t - 1, salt=salt))
    unions = ["SELECT walk_id, CAST(0 AS BIGINT) AS step,"
              " walk_id AS node FROM s0"]
    for t in range(1, walk_length + 1):
        unions.append("SELECT walk_id, CAST({t} AS BIGINT) AS step,"
                      " cur AS node FROM s{t}".format(t=t))
    return (",".join(parts)
            + "\nSELECT walk_id, step, node FROM (\n  "
            + "\n  UNION ALL ".join(unions)
            + ")\nORDER BY walk_id, step")


Q_GRAPH_WALKS_SQL = _q_graph_walks_sql()

_register("graph_walks", q_graph_walks, Q_GRAPH_WALKS_SQL, plan_dump=True)


def q_table_chi2(spark, sf_dir):
    """Chi-square association + Cramér's V² (operators/stats.py:
    chi2_association) between order priority and order status — the
    discrete-feature association read (leakage / drift checks).  The
    corpus collapses to the 5x3 observed-cell histogram in one
    map-side-combined aggregate; every statistic is a deterministic
    scaled integer."""
    from picogeojson_spark.operators.stats import chi2_association

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"))
    return chi2_association(o)


Q_TABLE_CHI2_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2),
m AS (
  SELECT a, b, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY a) AS BIGINT) AS ra,
         CAST(SUM(cnt) OVER (PARTITION BY b) AS BIGINT) AS cb
  FROM cells),
g AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
         CAST(SUM((CAST(cnt AS HUGEINT) * cnt * 1000000000000)
                  // (CAST(ra AS HUGEINT) * cb)) AS HUGEINT) AS t
  FROM m)
SELECT n, r, c, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       GREATEST(CAST(0 AS BIGINT),
                CAST((CAST(n AS HUGEINT) * t) // 1000000 AS BIGINT)
                - n * CAST(1000000 AS BIGINT)) AS chi2_ppm,
       CASE WHEN LEAST(r, c) > 1 THEN CAST(
         GREATEST(CAST(0 AS BIGINT),
                  CAST((CAST(n AS HUGEINT) * t) // 1000000 AS BIGINT)
                  - n * CAST(1000000 AS BIGINT))
         // (n * (LEAST(r, c) - 1)) AS BIGINT) END AS v2_ppm
FROM g
"""

_register("table_chi2", q_table_chi2, Q_TABLE_CHI2_SQL, plan_dump=True)


def q_orders_basket(spark, sf_dir):
    """Market-basket association rules (operators/basket.py:
    basket_rules) over order line items: support / directional
    confidence / lift in exact ppm per co-ordered part pair (>= 3
    co-orders).  Pair volume is linear in lineitem (bounded baskets);
    item counts join the vocab-bounded item table; the basket total is
    the sanctioned 1-row scalar attach."""
    from picogeojson_spark.operators.basket import basket_rules

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        F.col("l_partkey").alias("item"))
    return basket_rules(li, min_pairs=3).orderBy("u", "v")


Q_ORDERS_BASKET_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
            FROM lineitem),
pairs AS (
  SELECT a.item AS u, b.item AS v, CAST(COUNT(*) AS BIGINT) AS pair_n
  FROM li a JOIN li b ON a.bk = b.bk AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
items AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_i
          FROM li GROUP BY 1),
tot AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets FROM li)
SELECT p.u, p.v, p.pair_n,
       iu.n_i AS n_u, iv.n_i AS n_v,
       CAST((p.pair_n * 1000000) // t.n_baskets AS BIGINT) AS support_ppm,
       CAST((p.pair_n * 1000000) // iu.n_i AS BIGINT) AS conf_uv_ppm,
       CAST((p.pair_n * 1000000) // iv.n_i AS BIGINT) AS conf_vu_ppm,
       CAST((CAST(p.pair_n AS HUGEINT) * t.n_baskets * 1000000)
            // (CAST(iu.n_i AS HUGEINT) * iv.n_i) AS BIGINT) AS lift_ppm
FROM pairs p
JOIN items iu ON iu.item = p.u
JOIN items iv ON iv.item = p.v
CROSS JOIN tot t
ORDER BY u, v
"""

_register("orders_basket", q_orders_basket, Q_ORDERS_BASKET_SQL,
          plan_dump=True)


def q_text_vocab_stats(spark, sf_dir):
    """Per-source vocabulary profile (operators/textstats.py:
    vocab_stats): Heaps-law / lexical-diversity corpus read — total
    tokens, distinct vocabulary, hapax count, type-token and hapax
    ratios in exact ppm.  One tokenized explode into ONE map-side-
    combined (source, word) aggregate; ratios codegen on the bounded
    rollup."""
    from picogeojson_spark.operators.textstats import vocab_stats

    return vocab_stats(_t(spark, sf_dir, "documents")).orderBy("grp")


Q_TEXT_VOCAB_STATS_SQL = r"""
WITH w AS (
  SELECT source AS grp,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents),
freq AS (
  SELECT grp, word, CAST(COUNT(*) AS BIGINT) AS n
  FROM w WHERE word <> '' GROUP BY 1, 2),
voc AS (
  SELECT grp, CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM freq GROUP BY 1),
nd AS (SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY 1)
SELECT nd.grp, nd.n_docs,
       COALESCE(voc.n_tokens, 0) AS n_tokens,
       COALESCE(voc.vocab, 0) AS vocab,
       COALESCE(voc.hapax, 0) AS hapax,
       CASE WHEN COALESCE(voc.n_tokens, 0) > 0 THEN
         CAST((voc.vocab * 1000000) // voc.n_tokens AS BIGINT)
       END AS ttr_ppm,
       CASE WHEN COALESCE(voc.vocab, 0) > 0 THEN
         CAST((voc.hapax * 1000000) // voc.vocab AS BIGINT)
       END AS hapax_ppm
FROM nd LEFT JOIN voc ON nd.grp = voc.grp
ORDER BY nd.grp
"""

_register("text_vocab_stats", q_text_vocab_stats, Q_TEXT_VOCAB_STATS_SQL,
          plan_dump=True)


def q_table_benford(spark, sf_dir):
    """Benford first-digit screen (operators/profile.py:
    benford_deviation) over order totals in integer cents, grouped by
    order priority — the fabricated-numbers / data-quality read.  No
    float log10 anywhere: the Benford masses are integer ppm literals
    and the statistic is an exact total-variation distance."""
    from picogeojson_spark.operators.profile import benford_deviation

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"))
    return benford_deviation(o).orderBy("grp")


Q_TABLE_BENFORD_SQL = """
WITH src AS (
  SELECT o_orderpriority AS grp,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders),
hist AS (
  SELECT grp, CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
           AS digit,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM src WHERE v > 0 GROUP BY 1, 2),
tot AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
ben(digit, ben_ppm) AS (VALUES
  (1, 301029), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
  (6, 66946), (7, 57991), (8, 51152), (9, 45757)),
j AS (
  SELECT t.grp, t.n,
         abs(COALESCE(h.cnt, 0) * 1000000
             - CAST(b.ben_ppm AS BIGINT) * t.n) AS dev
  FROM tot t CROSS JOIN ben b
  LEFT JOIN hist h ON h.grp = t.grp AND h.digit = b.digit)
SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(dev) // (2 * MAX(n)) AS BIGINT) AS tv_ppm
FROM j GROUP BY grp ORDER BY grp
"""

_register("table_benford", q_table_benford, Q_TABLE_BENFORD_SQL,
          plan_dump=True)


def q_graph_reciprocity(spark, sf_dir):
    """Directed-graph reciprocity + degree extremes (operators/graph.py:
    graph_summary) over a deterministic event-derived interaction graph
    (user -> hashed counterpart): the first-read health summary before
    any iterative graph algorithm.  Every branch reduces to a 1-row
    aggregate combined through the sanctioned structural scalar-attach
    chain."""
    from picogeojson_spark.operators.graph import graph_summary

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 300).cast("long").alias("src"),
        ((F.col("user_id") * 7 + F.col("event_id") * 13) % 300)
        .cast("long").alias("dst"))
    return graph_summary(edges)


Q_GRAPH_RECIPROCITY_SQL = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT CAST(user_id % 300 AS BIGINT) AS src,
         CAST((user_id * 7 + event_id * 13) % 300 AS BIGINT) AS dst
  FROM events
  WHERE user_id % 300 <> (user_id * 7 + event_id * 13) % 300),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM
       (SELECT src AS x FROM e UNION SELECT dst FROM e)),
r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_recip FROM e a
      WHERE EXISTS (SELECT 1 FROM e b
                    WHERE b.src = a.dst AND b.dst = a.src)),
mo AS (SELECT CAST(MAX(d) AS BIGINT) AS max_out FROM
       (SELECT COUNT(*) AS d FROM e GROUP BY src)),
mi AS (SELECT CAST(MAX(d) AS BIGINT) AS max_in FROM
       (SELECT COUNT(*) AS d FROM e GROUP BY dst))
SELECT nn.n_nodes, m.n_edges, r.n_recip,
       CAST((r.n_recip * 1000000) // m.n_edges AS BIGINT)
         AS reciprocity_ppm,
       mo.max_out, mi.max_in
FROM m, nn, r, mo, mi
"""

_register("graph_reciprocity", q_graph_reciprocity, Q_GRAPH_RECIPROCITY_SQL,
          plan_dump=True)


def q_eval_kappa(spark, sf_dir):
    """Cohen's kappa (operators/evals.py: cohen_kappa) between the
    eval_confusion labeling pair — the chance-corrected agreement read
    that complements raw accuracy.  Corpus collapses in two map-side
    aggregates; the pe dot-product joins the two class-sized margin
    tables; negative-safe explicit-floor ppm."""
    from picogeojson_spark.operators.evals import cohen_kappa

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 5).alias("label"),
        ((F.col("doc_id") % 5
          + F.when(F.col("doc_id") % 7 == 0, 1)
          .when(F.col("doc_id") % 11 == 0, 2).otherwise(0)) % 5)
        .alias("pred"),
    )
    return cohen_kappa(d)


Q_EVAL_KAPPA_SQL = """
WITH d AS (
  SELECT doc_id % 5 AS label,
         (doc_id % 5 + CASE WHEN doc_id % 7 = 0 THEN 1
                            WHEN doc_id % 11 = 0 THEN 2
                            ELSE 0 END) % 5 AS pred
  FROM documents),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN label = pred THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree
      FROM d),
r AS (SELECT label AS c, CAST(COUNT(*) AS BIGINT) AS row_n
      FROM d GROUP BY 1),
c AS (SELECT pred AS c, CAST(COUNT(*) AS BIGINT) AS col_n
      FROM d GROUP BY 1),
pe AS (SELECT COALESCE(SUM(CAST(r.row_n AS HUGEINT) * c.col_n),
                       CAST(0 AS HUGEINT)) AS pe_num
       FROM r JOIN c ON r.c = c.c)
SELECT g.n, g.agree,
       CAST((g.agree * 1000000) // g.n AS BIGINT) AS po_ppm,
       CAST((pe.pe_num * 1000000)
            // (CAST(g.n AS HUGEINT) * g.n) AS BIGINT) AS pe_ppm,
       CASE WHEN CAST(g.n AS HUGEINT) * g.n - pe.pe_num <> 0 THEN CAST(
         ((CAST(1000000 AS HUGEINT)
           * (CAST(g.n AS HUGEINT) * g.agree - pe.pe_num))
          - ((((CAST(1000000 AS HUGEINT)
                * (CAST(g.n AS HUGEINT) * g.agree - pe.pe_num))
               % (CAST(g.n AS HUGEINT) * g.n - pe.pe_num))
              + (CAST(g.n AS HUGEINT) * g.n - pe.pe_num))
             % (CAST(g.n AS HUGEINT) * g.n - pe.pe_num)))
         // (CAST(g.n AS HUGEINT) * g.n - pe.pe_num) AS BIGINT)
       END AS kappa_ppm
FROM g, pe
"""

_register("eval_kappa", q_eval_kappa, Q_EVAL_KAPPA_SQL, plan_dump=True)


def q_events_acf(spark, sf_dir):
    """Exact per-type autocorrelation of the hourly event-count series
    at lags 1/2/3 (operators/forecast.py: autocorrelation) — the
    seasonality/persistence read behind forecasting and anomaly
    thresholds.  Corpus-sized work is ONE map-side-combined (type,
    hour) count aggregate; all ACF windows share one
    hashpartitioning(type) exchange of that bounded rollup; ppm floors
    negative-safe on both engines."""
    from picogeojson_spark.operators.forecast import autocorrelation

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 3600000000").cast("long").alias("hour_id"),
    )
    hourly = e.groupBy("event_type", "hour_id").agg(
        F.count("*").cast("long").alias("n_events"))
    return autocorrelation(
        hourly, key_col="event_type", t_col="hour_id", v_col="n_events"
    ).orderBy("key")


Q_EVENTS_ACF_SQL = """
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_id,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
base AS (
  SELECT event_type AS key, x,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         LEAD(x, 1) OVER (PARTITION BY event_type ORDER BY hour_id) AS x1,
         LEAD(x, 2) OVER (PARTITION BY event_type ORDER BY hour_id) AS x2,
         LEAD(x, 3) OVER (PARTITION BY event_type ORDER BY hour_id) AS x3
  FROM hourly),
g AS (
  SELECT key, CAST(MAX(n) AS BIGINT) AS n,
         SUM((CAST(n AS HUGEINT) * x - s)
             * (CAST(n AS HUGEINT) * x - s)) AS den,
         SUM(CASE WHEN x1 IS NOT NULL THEN
             (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x1 - s)
             END) AS num1,
         SUM(CASE WHEN x2 IS NOT NULL THEN
             (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x2 - s)
             END) AS num2,
         SUM(CASE WHEN x3 IS NOT NULL THEN
             (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x3 - s)
             END) AS num3
  FROM base GROUP BY key)
SELECT key, n,
       CASE WHEN den <> 0 AND num1 IS NOT NULL THEN CAST(
         ((1000000 * num1) - ((((1000000 * num1) % den) + den) % den))
         // den AS BIGINT) END AS acf1_ppm,
       CASE WHEN den <> 0 AND num2 IS NOT NULL THEN CAST(
         ((1000000 * num2) - ((((1000000 * num2) % den) + den) % den))
         // den AS BIGINT) END AS acf2_ppm,
       CASE WHEN den <> 0 AND num3 IS NOT NULL THEN CAST(
         ((1000000 * num3) - ((((1000000 * num3) % den) + den) % den))
         // den AS BIGINT) END AS acf3_ppm
FROM g ORDER BY key
"""

_register("events_acf", q_events_acf, Q_EVENTS_ACF_SQL, plan_dump=True)


def q_table_simpson(spark, sf_dir):
    """Per-source categorical diversity of document languages
    (operators/stats.py: simpson_diversity): Simpson + inverse-Simpson
    in exact ppm — the log-free domain-mix / source-balance read for
    corpus curation.  One map-side-combined (source, lang) aggregate;
    everything after runs on the vocab-bounded count table."""
    from picogeojson_spark.operators.stats import simpson_diversity

    d = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("key"), F.col("lang").alias("cat"))
    return simpson_diversity(d).orderBy("key")


Q_TABLE_SIMPSON_SQL = """
WITH cnt AS (
  SELECT source AS key, lang AS cat, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
g AS (
  SELECT key, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_cats,
         SUM(CAST(c AS HUGEINT) * (c - 1)) AS s2w,
         SUM(CAST(c AS HUGEINT) * c) AS s2
  FROM cnt GROUP BY key)
SELECT key, n, n_cats,
       CASE WHEN n >= 2 THEN CAST(
         1000000 - (CAST(1000000 AS HUGEINT) * s2w)
                   // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
       END AS simpson_ppm,
       CAST((CAST(1000000 AS HUGEINT) * n * n) // s2 AS BIGINT)
         AS inv_simpson_ppm
FROM g ORDER BY key
"""

_register("table_simpson", q_table_simpson, Q_TABLE_SIMPSON_SQL,
          plan_dump=True)


def q_events_runs(spark, sf_dir):
    """Runs-test randomness diagnostic (operators/forecast.py:
    runs_test) on the hourly event-count series per type: observed vs
    expected same-sign run counts around the exact integer mean —
    trending series read << 1e6, oscillating >> 1e6.  Same bounded-
    rollup shape as events_acf."""
    from picogeojson_spark.operators.forecast import runs_test

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 3600000000").cast("long").alias("hour_id"),
    )
    hourly = e.groupBy("event_type", "hour_id").agg(
        F.count("*").cast("long").alias("n_events"))
    return runs_test(
        hourly, key_col="event_type", t_col="hour_id", v_col="n_events"
    ).orderBy("key")


Q_EVENTS_RUNS_SQL = """
WITH hourly AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS t,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
base AS (
  SELECT key, t, x,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n,
         CAST(SUM(x) OVER (PARTITION BY key) AS BIGINT) AS s
  FROM hourly),
signed AS (
  SELECT key, t,
         CASE WHEN CAST(n AS HUGEINT) * x > s THEN 1
              WHEN CAST(n AS HUGEINT) * x < s THEN -1
              ELSE 0 END AS sign
  FROM base),
kept AS (SELECT * FROM signed WHERE sign <> 0),
marked AS (
  SELECT key, sign,
         CASE WHEN LAG(sign) OVER (PARTITION BY key ORDER BY t) IS NULL
                OR LAG(sign) OVER (PARTITION BY key ORDER BY t) <> sign
              THEN 1 ELSE 0 END AS boundary
  FROM kept),
g AS (
  SELECT key,
         CAST(SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(boundary) AS BIGINT) AS runs
  FROM marked GROUP BY key)
SELECT key, n1, n2, runs,
       CASE WHEN n1 > 0 AND n2 > 0 THEN CAST(
         (CAST(runs AS HUGEINT) * 1000000 * (n1 + n2))
         // (CAST(n1 AS HUGEINT) + n2 + 2 * CAST(n1 AS HUGEINT) * n2)
         AS BIGINT) END AS ratio_ppm
FROM g ORDER BY key
"""

_register("events_runs", q_events_runs, Q_EVENTS_RUNS_SQL, plan_dump=True)


def q_events_markov(spark, sf_dir):
    """Stationary distribution of the clickstream transition matrix
    (operators/forecast.py: markov_stationary): 6 rounds of fixed-point
    integer power iteration over the events_transitions count matrix —
    long-run state occupancy.  Corpus work is the one lag window +
    count aggregate; the iteration itself runs on the vocab-bounded
    matrix (broadcast-sized joins)."""
    from pyspark.sql import Window
    from picogeojson_spark.operators.forecast import markov_stationary

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
    )
    trans = pairs.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count("*").cast("long").alias("n"))
    return markov_stationary(trans, rounds=6).orderBy("state")


def _q_events_markov_sql(rounds=6, scale=10 ** 12):
    parts = ["""
WITH seq AS (
  SELECT event_type AS nxt,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
t AS MATERIALIZED (
  SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
states AS MATERIALIZED (
  SELECT prev AS state FROM t UNION SELECT nxt FROM t),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
rowt AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS row_total
         FROM t GROUP BY 1),
t2 AS MATERIALIZED (
  SELECT t.prev, t.nxt, t.n, r.row_total
  FROM t JOIN rowt r ON t.prev = r.prev),
sinks AS MATERIALIZED (
  SELECT state FROM states
  WHERE state NOT IN (SELECT prev FROM t)),
p0 AS MATERIALIZED (
  SELECT state, CAST({s} // kk.k AS BIGINT) AS mass
  FROM states, kk)""".format(s=scale)]
    for r in range(1, rounds + 1):
        parts.append("""
p{r} AS MATERIALIZED (
  SELECT s.state,
         CAST(COALESCE(i.infl, 0) + COALESCE(h.mass, 0) AS BIGINT) AS mass
  FROM states s
  LEFT JOIN (
    SELECT t2.nxt AS state,
           SUM((CAST(p.mass AS HUGEINT) * t2.n) // t2.row_total) AS infl
    FROM p{q} p JOIN t2 ON p.state = t2.prev GROUP BY 1) i
    ON s.state = i.state
  LEFT JOIN (
    SELECT p.state, p.mass FROM p{q} p
    JOIN sinks k ON p.state = k.state) h
    ON s.state = h.state)""".format(r=r, q=r - 1))
    parts.append("""
SELECT state, mass, CAST(mass // 1000000 AS BIGINT) AS p_ppm
FROM p{r} ORDER BY state""".format(r=rounds))
    return ",".join(parts[:-1]) + parts[-1]


Q_EVENTS_MARKOV_SQL = _q_events_markov_sql()

_register("events_markov", q_events_markov, Q_EVENTS_MARKOV_SQL,
          plan_dump=True)


def q_geo_union_area(spark, sf_dir):
    """EXACT rectangle-union area per group (operators/measures.py:
    rect_union_area): the sweep-line re-expressed relationally —
    coordinate-compressed slabs + gaps-and-islands interval merge, all
    equi-joins and windows, overlaps counted once.  Deterministic
    part-derived boxes with heavy overlap; areas exact integers."""
    from picogeojson_spark.operators.measures import rect_union_area

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    rects = p.select(
        F.col("p_brand").alias("grp"),
        k.cast("long").alias("rid"),
        (((k * 37) % 50) * 1000).cast("long").alias("x1"),
        (((k * 37) % 50) * 1000 + 500 + (k % 7) * 700)
        .cast("long").alias("x2"),
        (((k * 53) % 40) * 1000).cast("long").alias("y1"),
        (((k * 53) % 40) * 1000 + 800 + (k % 5) * 600)
        .cast("long").alias("y2"),
    )
    return rect_union_area(rects).orderBy("grp")


Q_GEO_UNION_AREA_SQL = """
WITH r AS (
  SELECT p_brand AS grp, CAST(p_partkey AS BIGINT) AS rid,
         CAST(((p_partkey * 37) % 50) * 1000 AS BIGINT) AS x1,
         CAST(((p_partkey * 37) % 50) * 1000
              + 500 + (p_partkey % 7) * 700 AS BIGINT) AS x2,
         CAST(((p_partkey * 53) % 40) * 1000 AS BIGINT) AS y1,
         CAST(((p_partkey * 53) % 40) * 1000
              + 800 + (p_partkey % 5) * 600 AS BIGINT) AS y2
  FROM part),
rr AS (SELECT * FROM r WHERE x2 > x1 AND y2 > y1),
edges AS (
  SELECT DISTINCT grp, x FROM (
    SELECT grp, x1 AS x FROM rr UNION ALL SELECT grp, x2 FROM rr)),
slabs AS (
  SELECT grp, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x)
              AS BIGINT) AS rx,
         CAST(LEAD(x) OVER (PARTITION BY grp ORDER BY x) - x
              AS BIGINT) AS width
  FROM edges),
spans AS (
  SELECT rr.grp, rr.rid, rr.y1, rr.y2,
         unnest(generate_series(e1.rx, e2.rx - 1)) AS rx
  FROM rr
  JOIN slabs e1 ON e1.grp = rr.grp AND e1.x = rr.x1
  JOIN slabs e2 ON e2.grp = rr.grp AND e2.x = rr.x2),
isl AS (
  SELECT grp, rx, y1, y2, rid,
         CASE WHEN MAX(y2) OVER w IS NULL
                OR y1 > MAX(y2) OVER w THEN 1 ELSE 0 END AS new_isl
  FROM spans
  WINDOW w AS (PARTITION BY grp, rx ORDER BY y1, y2, rid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl2 AS (
  SELECT grp, rx, y1, y2,
         CAST(SUM(new_isl) OVER (PARTITION BY grp, rx
                                 ORDER BY y1, y2, rid
                                 ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS island
  FROM isl),
cov AS (
  SELECT grp, rx, island,
         CAST(MAX(y2) - MIN(y1) AS BIGINT) AS cov_len
  FROM isl2 GROUP BY 1, 2, 3),
slab_cov AS (
  SELECT grp, rx, CAST(SUM(cov_len) AS BIGINT) AS cov
  FROM cov GROUP BY 1, 2),
area AS (
  SELECT s.grp, CAST(SUM(CAST(c.cov AS HUGEINT) * s.width) AS BIGINT)
           AS area
  FROM slab_cov c JOIN slabs s ON s.grp = c.grp AND s.rx = c.rx
  GROUP BY 1),
nr AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rects
       FROM rr GROUP BY 1)
SELECT nr.grp, nr.n_rects, COALESCE(area.area, 0) AS area
FROM nr LEFT JOIN area ON nr.grp = area.grp
ORDER BY nr.grp
"""

_register("geo_union_area", q_geo_union_area, Q_GEO_UNION_AREA_SQL,
          plan_dump=True)


def q_eval_mcc(spark, sf_dir):
    """Matthews correlation (operators/evals.py: mcc_signed) for a
    deterministic binary labeling pair over documents (~flips on %7 and
    %11) — the imbalance-robust confusion summary; MCC is irrational,
    so the exact signed-square rational form ships.  One aggregate to
    four counts; 1-row codegen after."""
    from picogeojson_spark.operators.evals import mcc_signed

    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 3 == 0).alias("label"),
        (((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 7 != 0))
         | (F.col("doc_id") % 11 == 0)).alias("pred"),
    )
    return mcc_signed(d)


Q_EVAL_MCC_SQL = """
WITH d AS (
  SELECT (doc_id % 3 = 0) AS label,
         ((doc_id % 3 = 0 AND doc_id % 7 <> 0) OR doc_id % 11 = 0)
           AS pred
  FROM documents),
g AS (
  SELECT
    CAST(SUM(CASE WHEN label AND pred THEN 1 ELSE 0 END) AS BIGINT)
      AS tp,
    CAST(SUM(CASE WHEN NOT label AND NOT pred THEN 1 ELSE 0 END)
         AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN NOT label AND pred THEN 1 ELSE 0 END) AS BIGINT)
      AS fp,
    CAST(SUM(CASE WHEN label AND NOT pred THEN 1 ELSE 0 END) AS BIGINT)
      AS fn
  FROM d)
SELECT tp, tn, fp, fn,
       CASE WHEN (CAST(tp AS HUGEINT) + fp) * (CAST(tp AS HUGEINT) + fn)
                 * (CAST(tn AS HUGEINT) + fp) * (CAST(tn AS HUGEINT) + fn)
                 <> 0 THEN CAST(
         (CASE WHEN CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn
                    < 0 THEN -1 ELSE 1 END)
         * ((CAST(1000000 AS HUGEINT)
             * (CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn)
             * (CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn))
            // ((CAST(tp AS HUGEINT) + fp) * (CAST(tp AS HUGEINT) + fn)
                * (CAST(tn AS HUGEINT) + fp)
                * (CAST(tn AS HUGEINT) + fn))) AS BIGINT)
       END AS mcc2_signed_ppm
FROM g
"""

_register("eval_mcc", q_eval_mcc, Q_EVAL_MCC_SQL, plan_dump=True)


def q_table_histogram(spark, sf_dir):
    """Per-type equi-width value histogram (operators/profile.py:
    equi_width_histogram, 16 bins) over event values in integer cents —
    the distribution-shape profiling read.  One map-side (key,value)
    aggregate; min/max rejoin by key on the bounded table; binning pure
    integer codegen."""
    from picogeojson_spark.operators.profile import equi_width_histogram

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.floor(F.col("value") * 100).cast("long").alias("v"))
    return equi_width_histogram(e, n_bins=16).orderBy("key", "bin")


Q_TABLE_HISTOGRAM_SQL = """
WITH src AS (
  SELECT event_type AS key, CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
h AS (SELECT key, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM src GROUP BY 1, 2),
rng AS (SELECT key, CAST(MIN(v) AS BIGINT) AS vmin,
               CAST(MAX(v) AS BIGINT) AS vmax
        FROM h GROUP BY 1),
b AS (
  SELECT h.key, h.cnt, r.vmin, r.vmax - r.vmin + 1 AS span,
         LEAST(15, ((h.v - r.vmin) * 16) // (r.vmax - r.vmin + 1))
           AS bin
  FROM h JOIN rng r ON h.key = r.key)
SELECT key, CAST(bin AS BIGINT) AS bin,
       CAST(vmin + (bin * span) // 16 AS BIGINT) AS bin_lo,
       CAST(GREATEST(vmin + (bin * span) // 16,
                     vmin + ((bin + 1) * span) // 16 - 1) AS BIGINT) AS bin_hi,
       CAST(SUM(cnt) AS BIGINT) AS cnt
FROM b GROUP BY key, bin, vmin, span
ORDER BY key, bin
"""

_register("table_histogram", q_table_histogram, Q_TABLE_HISTOGRAM_SQL,
          plan_dump=True)


def q_embed_pca(spark, sf_dir):
    """Dominant embedding direction (operators/pca.py: top_direction):
    8 integer power iterations on the exact quantized Gram matrix —
    the anisotropy / common-direction read of embedding curation.
    Corpus-sized work is the one Gram aggregate (tasks x d² shuffle);
    the iteration runs on the d²-row table with the sanctioned 1-row
    normalizer attach per round."""
    from picogeojson_spark.operators.pca import top_direction

    e = _t(spark, sf_dir, "embeddings")
    return top_direction(e, rounds=8).orderBy("i")


def _q_embed_pca_sql(rounds=8):
    parts = ["""
WITH q0 AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
         unnest(embedding) AS x
  FROM embeddings),
q AS MATERIALIZED (
  SELECT vec_id, CAST(i AS INTEGER) AS i,
         CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xi
  FROM q0),
g AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.xi * b.xi) AS BIGINT) AS g
  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
dims AS MATERIALIZED (SELECT DISTINCT i AS d FROM g),
v0 AS MATERIALIZED (
  SELECT d, CAST(1000000 AS HUGEINT) AS v FROM dims)"""]
    for r in range(1, rounds + 1):
        parts.append("""
w{r} AS (SELECT g.i AS d, SUM(CAST(g.g AS HUGEINT) * p.v) AS w
         FROM v{p} p JOIN g ON g.j = p.d GROUP BY 1),
m{r} AS (SELECT MAX(ABS(w)) AS wmax FROM w{r}),
v{r} AS MATERIALIZED (
  SELECT w.d,
         CASE WHEN m.wmax <> 0 THEN
           ((w.w * 1000000)
            - ((((w.w * 1000000) % m.wmax) + m.wmax) % m.wmax))
           // m.wmax
         ELSE 0 END AS v
  FROM w{r} w, m{r} m)""".format(r=r, p=r - 1))
    parts.append("""
SELECT d AS i, CAST(v AS BIGINT) AS v FROM v{r} ORDER BY i"""
                 .format(r=rounds))
    return ",".join(parts[:-1]) + parts[-1]


Q_EMBED_PCA_SQL = _q_embed_pca_sql()

_register("embed_pca", q_embed_pca, Q_EMBED_PCA_SQL, plan_dump=True)


def q_events_seasonal(spark, sf_dir):
    """Hour-of-day seasonal fingerprint per event type: 24-bucket
    count profile with exact ppm shares and peak-hour flags — the
    diurnal-pattern read behind crawl scheduling and anomaly baselines.
    Corpus-sized work is ONE map-side-combined (type, hod) aggregate;
    both windows share the bounded profile's hashpartitioning(type)
    exchange.  Pure-NTZ hour arithmetic (tz-independent)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                " div 3600000000") % 24).cast("long").alias("hod"),
    )
    prof = e.groupBy("event_type", "hod").agg(
        F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("event_type")
    return prof.select(
        "event_type", "hod", "cnt",
        F.expr("div(cnt * cast(1000000 as bigint), "
               "sum(cnt) over (partition by event_type))")
        .cast("long").alias("share_ppm"),
        (F.col("cnt") == F.max("cnt").over(w)).alias("is_peak"),
    ).orderBy("event_type", "hod")


Q_EVENTS_SEASONAL_SQL = """
WITH e AS (
  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod
  FROM events),
prof AS (
  SELECT event_type, CAST(hod AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM e GROUP BY 1, 2)
SELECT event_type, hod, cnt,
       CAST((cnt * 1000000)
            // SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT)
         AS share_ppm,
       cnt = MAX(cnt) OVER (PARTITION BY event_type) AS is_peak
FROM prof ORDER BY event_type, hod
"""

_register("events_seasonal", q_events_seasonal, Q_EVENTS_SEASONAL_SQL,
          plan_dump=True)


def q_table_drift_chi2(spark, sf_dir):
    """Two-sample numeric drift via the chi-square composition
    (operators/stats.py: chi2_association): split orders into two
    deterministic snapshots (orderkey parity) and compare their price
    distributions over 10 fixed-width buckets — the log-free PSI
    substitute (PSI needs float ln; the chi2/V² read is exact).
    Same one-aggregate shape as table_chi2."""
    from picogeojson_spark.operators.stats import chi2_association

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 2).cast("long").alias("a"),
        F.least(F.lit(9), F.expr(
            "div(cast(floor(o_totalprice * 100) as bigint), 5000000)"))
        .cast("long").alias("b"),
    )
    return chi2_association(o)


Q_TABLE_DRIFT_CHI2_SQL = """
WITH src AS (
  SELECT CAST(o_orderkey % 2 AS BIGINT) AS a,
         CAST(LEAST(9, CAST(floor(o_totalprice * 100) AS BIGINT)
                       // 5000000) AS BIGINT) AS b
  FROM orders),
cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM src GROUP BY 1, 2),
m AS (
  SELECT a, b, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY a) AS BIGINT) AS ra,
         CAST(SUM(cnt) OVER (PARTITION BY b) AS BIGINT) AS cb
  FROM cells),
g AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
         CAST(SUM((CAST(cnt AS HUGEINT) * cnt * 1000000000000)
                  // (CAST(ra AS HUGEINT) * cb)) AS HUGEINT) AS t
  FROM m)
SELECT n, r, c, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       GREATEST(CAST(0 AS BIGINT),
                CAST((CAST(n AS HUGEINT) * t) // 1000000 AS BIGINT)
                - n * CAST(1000000 AS BIGINT)) AS chi2_ppm,
       CASE WHEN LEAST(r, c) > 1 THEN CAST(
         GREATEST(CAST(0 AS BIGINT),
                  CAST((CAST(n AS HUGEINT) * t) // 1000000 AS BIGINT)
                  - n * CAST(1000000 AS BIGINT))
         // (n * (LEAST(r, c) - 1)) AS BIGINT) END AS v2_ppm
FROM g
"""

_register("table_drift_chi2", q_table_drift_chi2, Q_TABLE_DRIFT_CHI2_SQL,
          plan_dump=True)


def q_text_code_detect(spark, sf_dir):
    """Code-vs-prose routing signals (operators/textstats.py:
    code_signals) over documents with deterministic code-ish markup
    injected on doc_id % 4 == 0 (so both classes exist): exact
    translate-based symbol/digit densities, is_code at the 2%
    threshold.  Pure narrow codegen — zero shuffles."""
    from picogeojson_spark.operators.textstats import code_signals

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("if (x[0] >= 1) { y = f(2); } // "),
                        F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    return code_signals(d).orderBy("doc_id")


Q_TEXT_CODE_DETECT_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN 'if (x[0] >= 1) { y = f(2); } // ' || text
              ELSE text END AS text
  FROM documents),
b AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(translate(text, ';{}()=<>[]', ''))
              AS BIGINT) AS n_sym,
         CAST(length(text) - length(translate(text, '0123456789', ''))
              AS BIGINT) AS n_digit
  FROM d)
SELECT doc_id, n_chars, n_sym, n_digit,
       CAST(CASE WHEN n_chars > 0
                 THEN (n_sym * 1000000) // n_chars ELSE 0 END
            AS BIGINT) AS sym_ppm,
       CAST(CASE WHEN n_chars > 0
                 THEN (n_digit * 1000000) // n_chars ELSE 0 END
            AS BIGINT) AS digit_ppm,
       (CASE WHEN n_chars > 0
             THEN (n_sym * 1000000) // n_chars ELSE 0 END) >= 20000
         AS is_code
FROM b ORDER BY doc_id
"""

_register("text_code_detect", q_text_code_detect, Q_TEXT_CODE_DETECT_SQL,
          plan_dump=True)


def q_orders_backlog(spark, sf_dir):
    """Open-order backlog curve (operators/stats.py:
    interval_concurrency): each order is active from o_orderdate to its
    last line-item ship date (pure-NTZ integer day ids — tz-safe); the
    sweep counts +1/-1 day events and emits the exact concurrency at
    every breakpoint.  Corpus collapses to the day vocabulary in one
    aggregate; the running sum runs over that bounded table."""
    from picogeojson_spark.operators.stats import interval_concurrency

    day = ("timestampdiff(MICROSECOND,"
           " TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
           " div 86400000000")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(day.format("o_orderdate")).cast("long").alias("d1"))
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.expr(day.format("l_shipdate")).cast("long"))
        .alias("d2"))
    iv = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("d1").alias("t1"), F.col("d2").alias("t2"))
    return interval_concurrency(iv).orderBy("t")


Q_ORDERS_BACKLOG_SQL = """
WITH iv AS (
  SELECT epoch_us(o.o_orderdate) // 86400000000 AS t1,
         li.d2 AS t2
  FROM orders o
  JOIN (SELECT l_orderkey,
               MAX(epoch_us(l_shipdate) // 86400000000) AS d2
        FROM lineitem GROUP BY 1) li
    ON o.o_orderkey = li.l_orderkey
  WHERE li.d2 >= epoch_us(o.o_orderdate) // 86400000000),
d AS (
  SELECT t, CAST(SUM(d) AS BIGINT) AS delta FROM (
    SELECT t1 AS t, 1 AS d FROM iv
    UNION ALL SELECT t2 + 1, -1 FROM iv)
  GROUP BY t)
SELECT CAST(t AS BIGINT) AS t, delta,
       CAST(SUM(delta) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS active
FROM d ORDER BY t
"""

_register("orders_backlog", q_orders_backlog, Q_ORDERS_BACKLOG_SQL,
          plan_dump=True)


def q_events_anomaly_mad(spark, sf_dir):
    """Median/MAD robust outlier hours per event type (operators/
    forecast.py: robust_anomaly, k=3) over the hourly count series —
    the spike detector one huge outlier cannot mask.  Division-free
    exact integer comparison; two bounded rank windows."""
    from picogeojson_spark.operators.forecast import robust_anomaly

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 3600000000").cast("long").alias("hour_id"),
    )
    hourly = e.groupBy("event_type", "hour_id").agg(
        F.count("*").cast("long").alias("n_events"))
    return robust_anomaly(
        hourly, key_col="event_type", t_col="hour_id",
        v_col="n_events", k=3,
    ).orderBy("key", "t")


Q_EVENTS_ANOMALY_MAD_SQL = """
WITH hourly AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS t,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
r1 AS (
  SELECT key, t, v,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY v) AS _r,
         COUNT(*) OVER (PARTITION BY key) AS _n
  FROM hourly),
med AS (
  SELECT key, CAST(MIN(CASE WHEN _r = (_n + 1) // 2 THEN v END)
                   AS BIGINT) AS med
  FROM r1 GROUP BY key),
dev AS (
  SELECT h.key, h.t, h.v, m.med, abs(h.v - m.med) AS _dev
  FROM hourly h JOIN med m ON h.key = m.key),
r2 AS (
  SELECT key, _dev,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY _dev) AS _r,
         COUNT(*) OVER (PARTITION BY key) AS _n
  FROM dev),
mad AS (
  SELECT key, CAST(MIN(CASE WHEN _r = (_n + 1) // 2 THEN _dev END)
                   AS BIGINT) AS mad
  FROM r2 GROUP BY key)
SELECT d.key, d.t, d.v, d.med, md.mad
FROM dev d JOIN mad md ON d.key = md.key
WHERE d._dev > 3 * md.mad
ORDER BY d.key, d.t
"""

_register("events_anomaly_mad", q_events_anomaly_mad, Q_EVENTS_ANOMALY_MAD_SQL,
          bench=False)


def q_table_abc(spark, sf_dir):
    """ABC/Pareto classification of parts by revenue (operators/
    olap.py: abc_classes): the 80-15-5 inventory cut in exact
    cross-multiplied integers.  Corpus work is one map-side-combined
    part-revenue rollup; the rank/cumsum windows run over that
    dimension-sized table."""
    from picogeojson_spark.operators.olap import abc_classes

    rev = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_partkey").alias("key")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100)).cast("long")
        .alias("v"))
    return abc_classes(rev).orderBy("rnk")


Q_TABLE_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey AS key,
         CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS v
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT key, v,
         CAST(ROW_NUMBER() OVER (ORDER BY v DESC, key ASC)
              AS BIGINT) AS rnk,
         CAST(SUM(v) OVER (ORDER BY v DESC, key ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(v) OVER () AS BIGINT) AS total
  FROM rev)
SELECT key, v, rnk, cum,
       CASE WHEN (cum - v) * 100 < 80 * total THEN 'A'
            WHEN (cum - v) * 100 < 95 * total THEN 'B'
            ELSE 'C' END AS cls
FROM ranked ORDER BY rnk
"""

_register("table_abc", q_table_abc, Q_TABLE_ABC_SQL, bench=False)


def q_eval_lift(spark, sf_dir):
    """Cumulative gains / decile-lift table (operators/evals.py:
    gains_table): rank-by-score-desc cut into 10 equal-population
    buckets computed from the score HISTOGRAM (one corpus aggregate;
    rank/total windows over the bounded histogram, never over rows —
    the auc_exact discipline); tie groups never straddle buckets so
    the cut is deterministic; lift/capture/depth in exact ppm."""
    from picogeojson_spark.operators.evals import gains_table

    return gains_table(_eval_scored(spark, sf_dir), k=10).orderBy("bucket")


Q_EVAL_LIFT_SQL = """
WITH sc AS ({scored}),
hist AS (
  SELECT score AS s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM sc GROUP BY score),
r AS (
  SELECT s, n, n1,
         CAST(SUM(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) - n
              AS BIGINT) AS above,
         CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
         CAST(SUM(n1) OVER () AS BIGINT) AS p_tot
  FROM hist),
g AS (
  SELECT CAST(above * 10 // n_tot AS INT) AS bucket,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(SUM(n1) AS BIGINT) AS pos,
         MAX(n_tot) AS n_tot, MAX(p_tot) AS p_tot
  FROM r GROUP BY 1),
c AS (
  SELECT bucket, n_rows, pos,
         CAST(SUM(n_rows) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_rows,
         CAST(SUM(pos) OVER (ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_pos,
         n_tot, p_tot
  FROM g)
SELECT bucket, n_rows, pos, cum_rows, cum_pos,
       CAST(cum_rows * 1000000 // n_tot AS BIGINT) AS depth_ppm,
       CAST(CASE WHEN p_tot > 0 THEN cum_pos * 1000000 // p_tot END
            AS BIGINT) AS capture_ppm,
       CAST(CASE WHEN p_tot > 0
                 THEN cum_pos * n_tot * 1000000 // (cum_rows * p_tot) END
            AS BIGINT) AS lift_ppm
FROM c ORDER BY bucket
""".format(scored=_EVAL_SCORED_SQL)

_register("eval_lift", q_eval_lift, Q_EVAL_LIFT_SQL, plan_dump=True)


def q_eval_brier(spark, sf_dir):
    """Brier score + skill vs climatology (operators/evals.py:
    brier_score): the proper-scoring companion to AUC — exact integer
    sum of squared milli-probability errors, scaled divisions in
    decimal(38,0), negative skill via the explicit floor spelling; the
    corpus collapses in ONE map-side-combined aggregate."""
    from picogeojson_spark.operators.evals import brier_score

    p = _eval_scored(spark, sf_dir).select(
        F.expr("least(1000L, score * 16)").alias("p"), "label")
    return brier_score(p, scale=1000)


Q_EVAL_BRIER_SQL = """
WITH sc AS ({scored}),
pr AS (
  SELECT greatest(0, least(1000, score * 16)) AS p,
         CASE WHEN label THEN 1000 ELSE 0 END AS ys
  FROM sc),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ys > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(SUM((p - ys) * (p - ys)) AS BIGINT) AS ssq
  FROM pr),
nd AS (
  SELECT n, pos, ssq,
         1000000 * CAST(pos AS HUGEINT) * (n - pos) AS refp,
         1000000 * (1000000 * CAST(pos AS HUGEINT) * (n - pos)
                    - CAST(ssq AS HUGEINT) * n) AS num
  FROM g)
SELECT n, pos, ssq,
       CAST(CASE WHEN n > 0
                 THEN CAST(ssq AS HUGEINT) * 1000000 // (n * 1000000) END
            AS BIGINT) AS brier_ppm,
       CAST(CASE WHEN refp <> 0
                 THEN ((num) - (((num) % refp + refp) % refp)) // refp
            END AS BIGINT) AS skill_ppm
FROM nd
""".format(scored=_EVAL_SCORED_SQL)

_register("eval_brier", q_eval_brier, Q_EVAL_BRIER_SQL, plan_dump=True)


def q_events_burstiness(spark, sf_dir):
    """Fano factor (index of dispersion) per event type over the hourly
    count series (operators/forecast.py:dispersion_index) — the
    burstiness companion to the runs test: Poisson ~1e6 ppm, bursty
    above, clockwork below.  Zero-count hours enter through the exact
    span closed form (never an explode of the span); ONE map-side
    rollup + ONE per-key aggregate; pure-NTZ hour ids."""
    from picogeojson_spark.operators.forecast import dispersion_index

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 3600000000").cast("long").alias("hour_id"),
    )
    hourly = e.groupBy("event_type", "hour_id").agg(
        F.count("*").cast("long").alias("n_events"))
    return dispersion_index(
        hourly, key_col="event_type", t_col="hour_id", v_col="n_events",
    ).orderBy("key")


Q_EVENTS_BURSTINESS_SQL = """
WITH hourly AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS t,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
g AS (
  SELECT key, CAST(MAX(t) - MIN(t) + 1 AS BIGINT) AS n_slots,
         CAST(COUNT(*) AS BIGINT) AS nz_slots,
         CAST(SUM(v) AS BIGINT) AS total,
         SUM(v * v) AS svv
  FROM hourly GROUP BY key)
SELECT key, n_slots, nz_slots, total,
       CAST(CASE WHEN total > 0 THEN
         (1000000 * (n_slots * svv - total * total))
         // (n_slots * total) END AS BIGINT) AS fano_ppm
FROM g ORDER BY key
"""

_register("events_burstiness", q_events_burstiness, Q_EVENTS_BURSTINESS_SQL,
          plan_dump=True)


def q_text_zipf(spark, sf_dir):
    """Rank-frequency Zipf profile in doubling rank buckets
    (operators/textstats.py:zipf_profile): floor(log2(rank)) computed
    exactly as binary digit count (no float log); one tokenized explode
    to ONE map-side-combined word aggregate, rank/bucket/total windows
    all over the VOCAB-bounded frequency table."""
    from picogeojson_spark.operators.textstats import zipf_profile

    return zipf_profile(_t(spark, sf_dir, "documents")).orderBy("bucket")


Q_TEXT_ZIPF_SQL = r"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
  FROM documents),
freq AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM w WHERE word <> '' GROUP BY 1),
ranked AS (
  SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word ASC)
                 AS BIGINT) AS rank
  FROM freq),
b AS (
  SELECT CAST(length(bin(rank)) - 1 AS INT) AS bucket,
         CAST(MIN(rank) AS BIGINT) AS rank_lo,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(n) AS BIGINT) AS tokens
  FROM ranked GROUP BY 1),
c AS (
  SELECT bucket, rank_lo, n_types, tokens,
         CAST(SUM(tokens) OVER () AS BIGINT) AS tot,
         CAST(SUM(tokens) OVER (ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM b)
SELECT bucket, rank_lo, n_types, tokens,
       CAST(tokens * 1000000 // tot AS BIGINT) AS share_ppm,
       CAST(cum * 1000000 // tot AS BIGINT) AS cum_share_ppm
FROM c ORDER BY bucket
"""

_register("text_zipf", q_text_zipf, Q_TEXT_ZIPF_SQL, plan_dump=True)


def q_table_fd(spark, sf_dir):
    """Functional-dependency discovery (operators/profile.py:
    fd_profile): candidate (det, dep) pairs over orders — key FDs hold
    exactly, non-key candidates report g3 error (min rows to delete,
    Kivinen-Mannila) in exact ppm.  Per candidate ONE map-side-combined
    (det, dep) aggregate + bounded rollups; NULL det is its own group
    (documented)."""
    from picogeojson_spark.operators.profile import fd_profile

    return fd_profile(
        _t(spark, sf_dir, "orders"),
        [("o_orderkey", "o_custkey"),
         ("o_custkey", "o_orderpriority"),
         ("o_orderpriority", "o_orderstatus")],
    ).orderBy("det", "dep")


_FD_BLOCK_SQL = """
SELECT '{det}' AS det, '{dep}' AS dep,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups,
       CAST(SUM(rows_ - plur) AS BIGINT) AS g3_rows,
       CAST(SUM(rows_) AS BIGINT) AS n_rows,
       CAST(CASE WHEN SUM(rows_) > 0 THEN
         SUM(rows_ - plur) * 1000000 // SUM(rows_) END AS BIGINT)
         AS error_ppm,
       SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (
  SELECT _d, CAST(SUM(n) AS BIGINT) AS rows_,
         CAST(COUNT(*) AS BIGINT) AS ndep,
         CAST(MAX(n) AS BIGINT) AS plur
  FROM (SELECT {det} AS _d, {dep} AS _v,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1, 2)
  GROUP BY _d)
"""

Q_TABLE_FD_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _FD_BLOCK_SQL.format(det=d, dep=p) for d, p in [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderpriority", "o_orderstatus"),
        ])
    + ") ORDER BY det, dep"
)

_register("table_fd", q_table_fd, Q_TABLE_FD_SQL, plan_dump=True)


def q_web_url_templates(spark, sf_dir):
    """Structural URL templating (operators/web.py:url_templates): the
    site-map read that collapses digit-bearing paths into patterns.
    URLs are synthesized deterministically from doc_id (four path
    shapes, www/query variants) so the oracle can re-derive every
    template ARITHMETICALLY — the hash equality proves the operator's
    whole regex parse/mask chain against ground truth.  Two-level
    exact-distinct aggregate; host-total + rank windows share one
    exchange; WindowGroupLimit top-k."""
    from picogeojson_spark.operators.web import url_templates

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    path = (
        F.when(did % 4 == 0,
               F.concat(F.lit("/p"), (did % 11).cast("string")))
        .when(did % 4 == 1,
              F.concat(F.lit("/article/"), (did % 997).cast("string"),
                       F.lit("/view")))
        .when(did % 4 == 2,
              F.concat(F.lit("/s"), (did % 5).cast("string"),
                       F.lit("/item"), (did % 97).cast("string")))
        .otherwise(F.lit("/about"))
    )
    url = F.concat(
        F.lit("https://"),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("h"), (did % 7).cast("string"), F.lit(".com"),
        path,
        F.when(did % 4 == 0,
               F.concat(F.lit("?page="), (did % 13).cast("string")))
        .otherwise(F.lit("")),
    )
    return url_templates(d.select(url.alias("url")), top_k=3).orderBy(
        "host", "rnk")


Q_WEB_URL_TEMPLATES_SQL = """
WITH u AS (
  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN '/p{n}'
           WHEN 1 THEN '/article/{n}/view'
           WHEN 2 THEN '/s{n}/item{n}'
           ELSE '/about' END AS template,
         'https://'
           || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
           || 'h' || CAST(doc_id % 7 AS VARCHAR) || '.com'
           || CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN '/p' || CAST(doc_id % 11 AS VARCHAR)
                WHEN 1 THEN '/article/' || CAST(doc_id % 997 AS VARCHAR)
                            || '/view'
                WHEN 2 THEN '/s' || CAST(doc_id % 5 AS VARCHAR)
                            || '/item' || CAST(doc_id % 97 AS VARCHAR)
                ELSE '/about' END
           || CASE WHEN doc_id % 4 = 0
                   THEN '?page=' || CAST(doc_id % 13 AS VARCHAR)
                   ELSE '' END AS url
  FROM documents),
pu AS (
  SELECT host, template, url, CAST(COUNT(*) AS BIGINT) AS n
  FROM u GROUP BY 1, 2, 3),
pt AS (
  SELECT host, template, CAST(SUM(n) AS BIGINT) AS n_pages,
         CAST(COUNT(*) AS BIGINT) AS n_urls
  FROM pu GROUP BY 1, 2),
r AS (
  SELECT host, template, n_pages, n_urls,
         CAST(SUM(n_pages) OVER (PARTITION BY host) AS BIGINT) AS tot,
         CAST(ROW_NUMBER() OVER (PARTITION BY host
                                 ORDER BY n_pages DESC, template ASC)
              AS INT) AS rnk
  FROM pt)
SELECT host, template, n_pages, n_urls,
       CAST(n_pages * 1000000 // tot AS BIGINT) AS share_ppm, rnk
FROM r WHERE rnk <= 3 ORDER BY host, rnk
"""

_register("web_url_templates", q_web_url_templates, Q_WEB_URL_TEMPLATES_SQL,
          plan_dump=True)


def q_graph_closeness(spark, sf_dir):
    """Bounded-hop closeness centrality for a seed sample (operators/
    graph.py:closeness_sample): per-seed BFS waves carried as
    (seed, node) frontier pairs — landmark centrality (Eppstein-Wang
    style, md5-free hash sample) with within-reach closeness and exact
    integer harmonic centrality.  Frontier-only equi-joins per round
    against the persisted symmetric co-occurrence edge table; the
    oracle unrolls the identical per-seed layer expansion."""
    from picogeojson_spark.operators.graph import closeness_sample, \
        cooccurrence_edges

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    seeds = (
        edges.select(F.col("u").alias("seed"))
        .union(edges.select(F.col("v").alias("seed")))
        .distinct()
        .filter(F.col("seed") % 97 == 0)
    )
    return closeness_sample(edges, seeds, max_hops=3).orderBy("seed")


def _q_graph_closeness_sql(max_hops=3):
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
e AS MATERIALIZED (
  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
s AS MATERIALIZED (
  SELECT DISTINCT u AS seed FROM e WHERE u % 97 = 0),
d0 AS MATERIALIZED (
  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS hops FROM s),
f0 AS MATERIALIZED (SELECT seed, node FROM d0)"""]
    for i in range(1, max_hops + 1):
        parts.append("""
f{i} AS MATERIALIZED (
  SELECT DISTINCT f.seed, e.v AS node
  FROM f{j} f JOIN e ON e.u = f.node
  WHERE NOT EXISTS (SELECT 1 FROM d{j} d
                    WHERE d.seed = f.seed AND d.node = e.v)),
d{i} AS MATERIALIZED (
  SELECT seed, node, hops FROM d{j}
  UNION ALL SELECT seed, node, CAST({i} AS BIGINT) AS hops FROM f{i})"""
                     .format(i=i, j=i - 1))
    parts.append("""
SELECT seed, CAST(COUNT(*) AS BIGINT) AS reached,
       CAST(SUM(hops) AS BIGINT) AS sum_hops,
       CAST(CASE WHEN SUM(hops) > 0 THEN
         (COUNT(*) - 1) * 1000000 // SUM(hops) END AS BIGINT)
         AS closeness_ppm,
       CAST(SUM(CASE WHEN hops > 0 THEN 1000000 // hops ELSE 0 END)
            AS BIGINT) AS harmonic_x1e6
FROM d{h} GROUP BY seed ORDER BY seed""".format(h=max_hops))
    return ",".join(parts[:-1]) + parts[-1]


Q_GRAPH_CLOSENESS_SQL = _q_graph_closeness_sql()

_register("graph_closeness", q_graph_closeness, Q_GRAPH_CLOSENESS_SQL,
          plan_dump=True)


def q_embed_outliers(spark, sf_dir):
    """Embedding-space outlier screen (operators/pca.py:
    centroid_outliers): top-25 farthest vectors from the exact-floored
    quantized centroid — curation read for mis-embedded docs.  Centroid
    is a d-bounded aggregate packed by a keys=[] global aggregate and
    attached via the structural scalar attach; distances are JVM-side
    HOF folds; top-k is TakeOrderedAndProject."""
    from picogeojson_spark.operators.pca import centroid_outliers

    return centroid_outliers(_t(spark, sf_dir, "embeddings"), k=25)


Q_EMBED_OUTLIERS_SQL = """
WITH q0 AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
         unnest(embedding) AS x
  FROM embeddings),
q AS MATERIALIZED (
  SELECT vec_id, CAST(i AS INTEGER) AS i,
         CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xi
  FROM q0),
d AS (
  SELECT i, CAST(SUM(xi) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q GROUP BY i),
c AS (
  SELECT i, ((s) - (((s) % n + n) % n)) // n AS cv FROM d),
sc AS (
  SELECT q.vec_id,
         CAST(SUM((q.xi - c.cv) * (q.xi - c.cv)) AS BIGINT) AS dist2
  FROM q JOIN c ON q.i = c.i GROUP BY q.vec_id)
SELECT vec_id, dist2 FROM sc
ORDER BY dist2 DESC, vec_id ASC LIMIT 25
"""

_register("embed_outliers", q_embed_outliers, Q_EMBED_OUTLIERS_SQL,
          plan_dump=True)


def q_eval_regression(spark, sf_dir):
    """Regression-model evaluation (operators/evals.py:
    regression_metrics): exact integer MAE/SSE and division-free R^2
    (negative-safe explicit floor, NULL on constant target) for a
    deterministic length predictor.  ONE map-side-combined aggregate
    to five counters; 1-row decimal codegen after."""
    from picogeojson_spark.operators.evals import regression_metrics

    d = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars") + F.col("doc_id") % 21 - 10).cast("long")
        .alias("pred"),
        F.col("n_chars").cast("long").alias("y"),
    )
    return regression_metrics(d)


Q_EVAL_REGRESSION_SQL = """
WITH sc AS (
  SELECT n_chars + doc_id % 21 - 10 AS pred, n_chars AS y
  FROM documents),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(abs(pred - y)) AS BIGINT) AS sae,
         CAST(SUM((pred - y) * (pred - y)) AS BIGINT) AS sse,
         SUM(y) AS sy, SUM(y * y) AS syy
  FROM sc),
nd AS (
  SELECT n, sae, sse,
         n * syy - sy * sy AS sst,
         1000000 * ((n * syy - sy * sy) - n * sse) AS num
  FROM g)
SELECT n, sae, sse,
       CAST(CASE WHEN n > 0 THEN sae * 1000 // n END AS BIGINT)
         AS mae_x1000,
       CAST(CASE WHEN sst <> 0
                 THEN ((num) - (((num) % sst + sst) % sst)) // sst
            END AS BIGINT) AS r2_ppm
FROM nd
"""

_register("eval_regression", q_eval_regression, Q_EVAL_REGRESSION_SQL,
          plan_dump=True)


def q_graph_negsample(spark, sf_dir):
    """Deterministic link-prediction negative sampling (operators/
    graph.py:negative_sample): k=2 md5 draws per node over the
    market-basket co-occurrence graph; real nodes only, self and true
    edges excluded; fixed-trials (dropped collisions) so every row is
    a pure function of (edges, k, salt).  |nodes| x k candidate table,
    one semi-join + one anti-join; max_id via the structural scalar
    attach.  The oracle replays the identical md5 picks."""
    from picogeojson_spark.operators.graph import cooccurrence_edges, \
        negative_sample

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return negative_sample(edges, k=2, salt="ns0").orderBy("u", "j")


Q_GRAPH_NEGSAMPLE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.item AS u, b.item AS v
  FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)),
mx AS (SELECT MAX(node) AS m FROM nodes),
cand AS (
  SELECT n.node AS u, t.j,
         CAST(('0x' || substring(md5(
           'ns0:' || CAST(n.node AS VARCHAR)
           || ':' || CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
           % (mx.m + 1) AS neg
  FROM nodes n, mx, (SELECT unnest(range(0, 2)) AS j) t)
SELECT u, CAST(j AS INT) AS j, CAST(neg AS BIGINT) AS neg
FROM cand
WHERE neg IN (SELECT node FROM nodes)
  AND neg <> u
  AND NOT EXISTS (SELECT 1 FROM e0
                  WHERE (e0.u = cand.u AND e0.v = cand.neg)
                     OR (e0.u = cand.neg AND e0.v = cand.u))
ORDER BY u, j
"""

_register("graph_negsample", q_graph_negsample, Q_GRAPH_NEGSAMPLE_SQL,
          plan_dump=True)


def q_graph_skipgram(spark, sf_dir):
    """Skip-gram training pairs from the deterministic walk corpus
    (operators/graph.py:skipgram_pairs over random_walks): the DeepWalk
    data-prep chain walks -> (center, context) pair counts (negatives
    via graph_negsample).  One bounded offset explode + ONE hash
    equi-join on (walk_id, step) + ONE map-side-combined pair
    aggregate; the oracle replays the identical md5 walk picks and
    pairs them."""
    from picogeojson_spark.operators.graph import cooccurrence_edges, \
        random_walks, skipgram_pairs

    und = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    sym = und.select(F.col("u").alias("src"), F.col("v").alias("dst")) \
        .union(und.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    walks = random_walks(sym, walk_length=4, salt="w0")
    return skipgram_pairs(walks, window=2).orderBy("center", "context")


def _q_graph_skipgram_sql(walk_length=4, salt="w0", window=2):
    base = _q_graph_walks_sql(walk_length, salt)
    head, tail = base.split("\nSELECT walk_id, step, node FROM (\n", 1)
    inner = tail.rsplit(")\nORDER BY walk_id, step", 1)[0]
    offs = [d for d in range(-window, window + 1) if d != 0]
    return (head
            + ",\nwalks AS MATERIALIZED (\n" + inner + "),\n"
            + "offs AS (SELECT unnest([" + ", ".join(map(str, offs))
            + "]) AS d)\n"
            + """SELECT a.node AS center, b.node AS context,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM walks a
JOIN offs o ON TRUE
JOIN walks b ON b.walk_id = a.walk_id AND b.step = a.step + o.d
GROUP BY 1, 2 ORDER BY center, context""")


Q_GRAPH_SKIPGRAM_SQL = _q_graph_skipgram_sql()

_register("graph_skipgram", q_graph_skipgram, Q_GRAPH_SKIPGRAM_SQL,
          plan_dump=True)


def q_geo_knn_classify(spark, sf_dir):
    """kNN majority-vote classification (operators/knn.py:
    knn_classify): customers labelled by the dominant class of their 3
    nearest suppliers (label = suppkey % 5) — votes DESC, nearest rank
    ASC, label ASC tie chain, fully deterministic.  knn_join's
    cell-pruned join + one label equi-join + one (query,label)
    aggregate + WindowGroupLimit top-1."""
    from picogeojson_spark.operators.knn import knn_classify

    q = _points_from_customer(spark, sf_dir).withColumnRenamed(
        "point_id", "query_id")
    cand = _cand_points_from_supplier(spark, sf_dir).withColumn(
        "label", F.concat(F.lit("c"),
                          (F.col("neighbor_id") % 5).cast("string")))
    return knn_classify(q, cand, k=3, level=4, radius=2).orderBy(
        "query_id")


Q_GEO_KNN_CLASSIFY_SQL = """
WITH q AS (SELECT point_id AS query_id, lon, lat FROM ({points})),
     c AS ({cands}),
     d AS (
       SELECT q.query_id, c.neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY q.query_id
                                 ORDER BY (q.lon - c.lon) * (q.lon - c.lon)
                                        + (q.lat - c.lat) * (q.lat - c.lat) ASC,
                                          c.neighbor_id ASC) AS rank
       FROM q CROSS JOIN c),
     v AS (
       SELECT query_id, 'c' || CAST(neighbor_id % 5 AS VARCHAR) AS label,
              CAST(COUNT(*) AS BIGINT) AS votes,
              CAST(MIN(rank) AS INTEGER) AS nearest_rank
       FROM d WHERE rank <= 3 GROUP BY 1, 2),
     p AS (
       SELECT query_id, label, votes, nearest_rank,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY votes DESC, nearest_rank ASC,
                                          label ASC) AS r
       FROM v)
SELECT query_id, label, votes, nearest_rank
FROM p WHERE r = 1 ORDER BY query_id
""".format(points=_POINTS_SQL, cands=_CANDS_SQL)

_register("geo_knn_classify", q_geo_knn_classify, Q_GEO_KNN_CLASSIFY_SQL,
          plan_dump=True)


def q_sketch_ams(spark, sf_dir):
    """AMS F2 (self-join-size / skew) sketch (operators/sketches.py:
    ams_f2): 16 one-counter estimators over events.user_id, signs from
    bit r of ONE md5 per row, lower-median + floor-mean finalization —
    exact integers, mergeable (Z vectors add).  ONE map-side-combined
    aggregate; the oracle replays the identical bit-sign sums."""
    from picogeojson_spark.operators.sketches import ams_f2

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"))
    return ams_f2(e, k=16, salt="ams0")


def _q_sketch_ams_sql(k=16, salt="ams0"):
    zs = ",\n         ".join(
        "CAST(SUM(1 - 2 * ((h >> {r}) & 1)) AS BIGINT) AS z{r}"
        .format(r=r) for r in range(k))
    arr = ", ".join("z{r} * z{r}".format(r=r) for r in range(k))
    tot = " + ".join(
        ("CAST(z0 AS HUGEINT) * z0" if r == 0
         else "CAST(z{r} AS HUGEINT) * z{r}".format(r=r))
        for r in range(k))
    return """
WITH h AS (
  SELECT CAST(('0x' || substring(md5('{salt}:'
           || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM events),
z AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         {zs}
  FROM h)
SELECT n_rows,
       CAST(list_sort([{arr}])[{m}] AS BIGINT) AS f2_median,
       CAST(({tot}) // {k} AS BIGINT) AS f2_mean
FROM z
""".format(salt=salt, zs=zs, arr=arr, m=k // 2, tot=tot, k=k)


Q_SKETCH_AMS_SQL = _q_sketch_ams_sql()

_register("sketch_ams", q_sketch_ams, Q_SKETCH_AMS_SQL, plan_dump=True)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric shingle-containment pairs at t=0.9 (operators/
    dedup.py:containment_pairs): the syndication/quotation read Jaccard
    misses — src-side prefix filter (rarest sz-ceil(t*sz)+1 shingles),
    full dst postings, exact array-intersect verify; every post-prefix
    stage candidate-bounded.  The brute all-pairs oracle doubles as the
    completeness proof."""
    from picogeojson_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(docs, n=3, t_num=9, t_den=10).orderBy(
        "src", "dst")


Q_DEDUP_CONTAINMENT_SQL = """
WITH sh AS ({shingles}),
     sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
     inter AS (
       SELECT a.doc_id AS src, b.doc_id AS dst, COUNT(*) AS inter_sz
       FROM sh a JOIN sh b ON a.shingle = b.shingle
                          AND a.doc_id <> b.doc_id
       GROUP BY 1, 2)
SELECT src, dst, CAST(inter_sz AS BIGINT) AS inter_sz,
       CAST(s.sz AS BIGINT) AS src_sz,
       CAST(inter_sz * 1000000 // s.sz AS BIGINT) AS containment_ppm
FROM inter JOIN sizes s ON s.doc_id = src
WHERE inter_sz * 10 >= 9 * s.sz
ORDER BY src, dst
""".format(shingles=_SHINGLES_SQL)

_register("dedup_containment", q_dedup_containment, Q_DEDUP_CONTAINMENT_SQL,
          plan_dump=True)


def q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling plumbing with an exact oracle (operators/
    multimodal.py:frame_sample): the per-frame fan-out is JVM-side
    (sequence + explode from the typed metadata — never in Python);
    only the per-frame extraction is an Arrow-batched pandas UDF.  The
    injected frame_fn hashes ASCII (payload:ts) so DuckDB predicts
    every frame digest exactly — the production seam point is the same
    one an ffmpeg seek+decode plugs into."""
    import hashlib as _hl

    from picogeojson_spark.operators.multimodal import frame_sample

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"), F.lit(64).alias("height"),
            ((F.col("doc_id") % 30) * 1000).cast("int")
            .alias("duration_ms"),
            F.lit("av1").alias("codec"),
        ).alias("meta"),
    )

    def ascii_frame(p, t):
        return _hl.sha256(p + (":" + str(t)).encode()).hexdigest().encode()

    frames = frame_sample(media, every_ms=1000, max_frames=16,
                          frame_fn=ascii_frame)
    return frames.select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.decode(F.col("frame"), "UTF-8").alias("frame_sha"),
    ).orderBy("media_id", "frame_idx")


Q_MULTIMODAL_FRAMES_SQL = """
WITH v AS (
  SELECT doc_id AS media_id, text,
         CAST(doc_id % 30 AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 3 = 2),
f AS (
  SELECT media_id, text,
         unnest(range(0, least(n_frames, 16))) AS frame_idx
  FROM v WHERE n_frames >= 1)
SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS ts_ms,
       sha256(text || ':' || CAST(frame_idx * 1000 AS VARCHAR))
         AS frame_sha
FROM f ORDER BY media_id, frame_idx
"""

_register("multimodal_frames", q_multimodal_frames, Q_MULTIMODAL_FRAMES_SQL,
          plan_dump=True)


def q_geo_silhouette(spark, sf_dir):
    """Simplified silhouette for the kmeans centroid model (operators/
    spatial_cluster.py:centroid_silhouette): per point a = nearest-
    centroid distance, b = second nearest, s = (b-a)/max(a,b) in exact
    ppm; floor(sqrt(int64)) distances (the kmeans inertia rule);
    encoded (dist,cid) min ties to the smaller id.  Centroids are
    literals (the mllib broadcast shape) so the whole per-point stage
    is codegen with NO join; rollup is ONE k-group aggregate."""
    from picogeojson_spark.operators.spatial_cluster import \
        centroid_silhouette

    pts = _points_from_customer(spark, sf_dir).select(
        F.floor(F.col("lat") * 1000000.0).cast("long").alias("lat_u"),
        F.floor(F.col("lon") * 1000000.0).cast("long").alias("lon_u"),
    )
    return centroid_silhouette(pts, _KMEANS_SEEDS).orderBy("cid")


def _q_geo_silhouette_sql(seeds=None):
    seeds = seeds or _KMEANS_SEEDS
    k = len(seeds)
    ds, encs = [], []
    for cid, (cla, clo) in enumerate(seeds):
        d = ("CAST(floor(sqrt(CAST((lat_u - ({cla})) * (lat_u - ({cla}))"
             " + (lon_u - ({clo})) * (lon_u - ({clo})) AS DOUBLE)))"
             " AS BIGINT)").format(cla=int(cla), clo=int(clo))
        ds.append(d)
        encs.append("({d}) * {k} + {cid}".format(d=d, k=k, cid=cid))
    return """
WITH p AS (
  SELECT CAST(floor((CAST((c_custkey * 61) % 360 AS DOUBLE) / 2 - 90
                     + 0.25) * 1000000.0) AS BIGINT) AS lat_u,
         CAST(floor((CAST((c_custkey * 37) % 720 AS DOUBLE) / 2 - 180
                     + 0.25) * 1000000.0) AS BIGINT) AS lon_u
  FROM customer),
d AS (
  SELECT CAST(list_sort([{encs}])[1] % {k} AS INT) AS cid,
         list_sort([{ds}])[1] AS a,
         list_sort([{ds}])[2] AS b
  FROM p),
s AS (
  SELECT cid,
         CASE WHEN greatest(a, b) > 0
              THEN (b - a) * 1000000 // greatest(a, b)
              ELSE 0 END AS s
  FROM d)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_s_ppm,
       CAST(MIN(s) AS BIGINT) AS min_s_ppm,
       CAST(MAX(s) AS BIGINT) AS max_s_ppm
FROM s GROUP BY cid ORDER BY cid
""".format(encs=", ".join(encs), ds=", ".join(ds), k=k)


Q_GEO_SILHOUETTE_SQL = _q_geo_silhouette_sql()

_register("geo_silhouette", q_geo_silhouette, Q_GEO_SILHOUETTE_SQL,
          plan_dump=True)


def q_eval_ngram_overlap(spark, sf_dir):
    """BLEU-style clipped 1/2-gram precision (operators/textstats.py:
    ngram_overlap) of a deterministic candidate (every 7th token
    dropped) against the original document text — the generation /
    distillation eval read.  Map-side (doc, gram) counts, ONE clip
    join per n, positional bigram self-join; corpus rollup via the
    structural scalar-attach chain."""
    from picogeojson_spark.operators.textstats import ngram_overlap

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.filter(toks, lambda x, i: (i + 1) % 7 != 0), " ")
        .alias("cand"),
        F.col("text").alias("ref"),
    )
    return ngram_overlap(d)


Q_EVAL_NGRAM_OVERLAP_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS rtoks
  FROM documents),
kept AS (
  SELECT doc_id, i, rtoks[i + 1] AS tok
  FROM base, LATERAL (SELECT unnest(range(0, len(rtoks))) AS i) t
  WHERE (i + 1) % 7 <> 0),
kagg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cand
  FROM kept GROUP BY doc_id),
cand AS (
  SELECT b.doc_id, COALESCE(k.cand, '') AS cand,
         lower(trim(b.text)) AS ref
  FROM base b LEFT JOIN kagg k ON b.doc_id = k.doc_id),
ct AS (
  SELECT doc_id, i AS pos, ctoks[i + 1] AS tok
  FROM (SELECT doc_id,
               regexp_split_to_array(cand, '\s+') AS ctoks
        FROM cand),
       LATERAL (SELECT unnest(range(0, len(ctoks))) AS i) t
  WHERE ctoks[i + 1] <> ''),
rt AS (
  SELECT doc_id, i AS pos, rtoks[i + 1] AS tok
  FROM base, LATERAL (SELECT unnest(range(0, len(rtoks))) AS i) t
  WHERE rtoks[i + 1] <> ''),
c1 AS (SELECT doc_id, tok AS gram, COUNT(*) AS n FROM ct GROUP BY 1, 2),
r1 AS (SELECT doc_id, tok AS gram, COUNT(*) AS n FROM rt GROUP BY 1, 2),
c2 AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS gram, COUNT(*) AS n
  FROM ct a JOIN ct b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2),
r2 AS (
  SELECT a.doc_id, a.tok || ' ' || b.tok AS gram, COUNT(*) AS n
  FROM rt a JOIN rt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2),
j1 AS (
  SELECT CAST(COALESCE(SUM(LEAST(c.n, COALESCE(r.n, 0))), 0) AS BIGINT)
           AS p1_num,
         CAST(COALESCE(SUM(c.n), 0) AS BIGINT) AS p1_den
  FROM c1 c LEFT JOIN r1 r ON c.doc_id = r.doc_id AND c.gram = r.gram),
j2 AS (
  SELECT CAST(COALESCE(SUM(LEAST(c.n, COALESCE(r.n, 0))), 0) AS BIGINT)
           AS p2_num,
         CAST(COALESCE(SUM(c.n), 0) AS BIGINT) AS p2_den
  FROM c2 c LEFT JOIN r2 r ON c.doc_id = r.doc_id AND c.gram = r.gram),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs, p1_num, p1_den,
       CAST(CASE WHEN p1_den > 0 THEN p1_num * 1000000 // p1_den END
            AS BIGINT) AS p1_ppm,
       p2_num, p2_den,
       CAST(CASE WHEN p2_den > 0 THEN p2_num * 1000000 // p2_den END
            AS BIGINT) AS p2_ppm
FROM nd, j1, j2
"""

_register("eval_ngram_overlap", q_eval_ngram_overlap, Q_EVAL_NGRAM_OVERLAP_SQL,
          plan_dump=True)


def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the LPA partition (operators/graph.py:
    modularity over label_propagation): the partition-quality number —
    exact rational Q in ppm (negative-safe explicit floor).  Two label
    equi-joins on the edge stream (assortativity discipline), bounded
    rollups to 1-row scalars, structural scalar-attach chain; the
    oracle replays the unrolled LPA rounds then the same HUGEINT
    algebra."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        label_propagation,
        modularity,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    labels = label_propagation(edges, rounds=4)
    return modularity(edges, labels)


def _q_graph_modularity_sql(rounds=4):
    base = _lpa_oracle_sql(rounds)
    tail = "\nSELECT node, label FROM l{r} ORDER BY node".format(r=rounds)
    prefix = base.rsplit(tail, 1)[0]
    return prefix + """,
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM e),
intra AS (
  SELECT CAST(COALESCE(SUM(ec), 0) AS BIGINT) AS intra_edges FROM (
    SELECT lu.label, COUNT(*) AS ec
    FROM e JOIN l{r} lu ON lu.node = e.u
           JOIN l{r} lv ON lv.node = e.v
    WHERE lu.label = lv.label GROUP BY 1)),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY u),
comm AS (
  SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS dc
  FROM deg JOIN l{r} l ON l.node = deg.node GROUP BY 1),
cs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         COALESCE(SUM(CAST(dc AS HUGEINT) * dc), 0) AS sum_deg_sq
  FROM comm),
nd AS (
  SELECT m_edges, n_communities, intra_edges, sum_deg_sq,
         1000000 * (4 * CAST(m_edges AS HUGEINT) * intra_edges
                    - sum_deg_sq) AS num,
         4 * CAST(m_edges AS HUGEINT) * m_edges AS den
  FROM m, intra, cs)
SELECT m_edges, n_communities, intra_edges,
       CAST(sum_deg_sq AS BIGINT) AS sum_deg_sq,
       CAST(CASE WHEN den <> 0
                 THEN ((num) - (((num) % den + den) % den)) // den
            END AS BIGINT) AS q_ppm
FROM nd
""".format(r=rounds)


Q_GRAPH_MODULARITY_SQL = _q_graph_modularity_sql()

_register("graph_modularity", q_graph_modularity, Q_GRAPH_MODULARITY_SQL,
          plan_dump=True)


def q_events_wau(spark, sf_dir):
    """DAU/WAU/MAU + stickiness per observed day (operators/cohort.py:
    rolling_active_users): corpus collapses to the distinct (user, day)
    rollup, each window explodes that rollup forward w days (bounded
    literal sequence — never a range join) and re-distincts; pure-NTZ
    integer day ids (tz variants green)."""
    from picogeojson_spark.operators.cohort import rolling_active_users

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 86400000000").cast("long").alias("day_id"),
    )
    return rolling_active_users(e, week=7, month=30).orderBy("day_id")


Q_EVENTS_WAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
  FROM events),
days AS (SELECT DISTINCT d FROM ud),
w AS (
  SELECT dy.d AS day_id,
         CAST(COUNT(DISTINCT CASE WHEN ud.d = dy.d THEN ud.u END)
              AS BIGINT) AS dau,
         CAST(COUNT(DISTINCT CASE WHEN ud.d >= dy.d - 6 THEN ud.u END)
              AS BIGINT) AS wau,
         CAST(COUNT(DISTINCT ud.u) AS BIGINT) AS mau
  FROM days dy JOIN ud ON ud.d BETWEEN dy.d - 29 AND dy.d
  GROUP BY dy.d)
SELECT day_id, dau, wau, mau,
       CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
FROM w ORDER BY day_id
"""

_register("events_wau", q_events_wau, Q_EVENTS_WAU_SQL, plan_dump=True)


def q_text_garbage(spark, sf_dir):
    """Encoding-garbage / mojibake screen (operators/textstats.py:
    garbage_signals): control-char, U+FFFD, and multibyte-density
    signals via the translate/replace-strip discipline (regex-free,
    locale-free).  Garbage is PLANTED deterministically (doc_id%7: a
    C0 control + replacement char; doc_id%5: accented chars) so both
    engines see identical damage.  Pure narrow codegen projection."""
    from picogeojson_spark.operators.textstats import garbage_signals

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("\x01�")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("ééé")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return garbage_signals(d).orderBy("doc_id")


def _q_text_garbage_sql():
    ctrl = " || ".join(
        "chr({})".format(c)
        for c in list(range(1, 9)) + [11, 12] + list(range(14, 32)))
    return """
WITH t AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 7 = 0
                   THEN chr(1) || chr(65533) ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN 'ééé' ELSE '' END AS x
  FROM documents),
c AS (
  SELECT doc_id,
         CAST(length(x) AS BIGINT) AS n_chars,
         CAST(strlen(x) AS BIGINT) AS n_bytes,
         CAST(strlen(x) - length(x) AS BIGINT) AS multibyte_bytes,
         CAST(length(x) - length(translate(x, {ctrl}, ''))
              AS BIGINT) AS control_n,
         CAST(length(x) - length(replace(x, chr(65533), ''))
              AS BIGINT) AS repl_n
  FROM t)
SELECT doc_id, n_chars, n_bytes, multibyte_bytes, control_n, repl_n,
       (control_n > 0 OR repl_n > 0
        OR multibyte_bytes * 1000000 > 300000 * n_bytes) AS is_garbage
FROM c ORDER BY doc_id
""".format(ctrl=ctrl)


Q_TEXT_GARBAGE_SQL = _q_text_garbage_sql()

_register("text_garbage", q_text_garbage, Q_TEXT_GARBAGE_SQL, plan_dump=True)


def q_table_fk(spark, sf_dir):
    """Referential-integrity orphan profile (operators/expectations.py:
    fk_orphans) for three FK candidates — two clean TPC-H keys plus a
    simulated lost-shard parent (supplier rows with s_suppkey%3=0
    dropped) that MUST report orphans.  Child collapses to its key
    histogram first; anti-join runs at key cardinality; structural
    scalar attach combines the 1-row rollups."""
    from picogeojson_spark.operators.expectations import fk_orphans

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 3 != 0)
    parts = [
        fk_orphans(li, o, "l_orderkey", "o_orderkey"),
        fk_orphans(o, c, "o_custkey", "c_custkey"),
        fk_orphans(li, s, "l_suppkey", "s_suppkey",
                   fk_name="l_suppkey->supplier(lost-shard)"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fk")


_FK_BLOCK_SQL = """
SELECT '{label}' AS fk,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
        WHERE {ck} IS NOT NULL) AS n_child,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}
        WHERE {ck} IS NULL) AS n_null,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS orphan_rows,
       CAST(COUNT(*) AS BIGINT) AS orphan_keys,
       CAST(CASE WHEN (SELECT COUNT(*) FROM {child}
                       WHERE {ck} IS NOT NULL) > 0
            THEN COALESCE(SUM(n), 0) * 1000000
                 // (SELECT COUNT(*) FROM {child}
                     WHERE {ck} IS NOT NULL) END AS BIGINT)
         AS orphan_ppm
FROM (
  SELECT {ck} AS k, CAST(COUNT(*) AS BIGINT) AS n
  FROM {child} WHERE {ck} IS NOT NULL GROUP BY 1) kk
WHERE NOT EXISTS (SELECT 1 FROM ({parent}) p WHERE p.pk = kk.k)
"""

Q_TABLE_FK_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join([
        _FK_BLOCK_SQL.format(
            label="l_orderkey->o_orderkey", child="lineitem",
            ck="l_orderkey",
            parent="SELECT o_orderkey AS pk FROM orders"),
        _FK_BLOCK_SQL.format(
            label="o_custkey->c_custkey", child="orders",
            ck="o_custkey",
            parent="SELECT c_custkey AS pk FROM customer"),
        _FK_BLOCK_SQL.format(
            label="l_suppkey->supplier(lost-shard)", child="lineitem",
            ck="l_suppkey",
            parent="SELECT s_suppkey AS pk FROM supplier"
                   " WHERE s_suppkey % 3 <> 0"),
    ])
    + ") ORDER BY fk"
)

_register("table_fk", q_table_fk, Q_TABLE_FK_SQL, plan_dump=True)


def q_events_interarrival(spark, sf_dir):
    """Inter-arrival gap percentiles per event type (operators/
    forecast.py:interarrival_quantiles): per (type, user) successive
    time differences, exact discrete p50/p90/p99 via the
    group_quantiles primitive; gap multiset (and so every percentile)
    invariant under tie order; pure-NTZ microsecond arithmetic."""
    from picogeojson_spark.operators.forecast import \
        interarrival_quantiles

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.col("user_id").alias("entity"),
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .cast("long").alias("t"),
    )
    return interarrival_quantiles(e).orderBy("key")


def _q_events_interarrival_sql():
    from picogeojson_spark.operators.stats import quantiles_oracle_sql

    src = ("SELECT key, gap FROM ("
           "SELECT event_type AS key, "
           "epoch_us(ts) - lag(epoch_us(ts)) OVER ("
           "PARTITION BY event_type, user_id ORDER BY epoch_us(ts)"
           ") AS gap FROM events) WHERE gap IS NOT NULL")
    return quantiles_oracle_sql(src, "gap", "key")


Q_EVENTS_INTERARRIVAL_SQL = _q_events_interarrival_sql()

_register("events_interarrival", q_events_interarrival,
          Q_EVENTS_INTERARRIVAL_SQL, plan_dump=True)


def q_stream_ams(spark, sf_dir):
    """STREAMING AMS F2 sketch — the mergeability proof in the
    streaming dimension: the SAME ams_f2 operator (one global
    aggregate of k bit-sign sums + array finalization) runs unchanged
    over the replayed event file stream in complete mode (state = one
    row of k counters; Z vectors ADD across microbatches exactly
    because the sketch is mergeable).  Oracle is the SAME SQL as
    sketch_ams — the hash IS the stream==batch proof (stream_decay
    pattern)."""
    from picogeojson_spark.operators.sketches import ams_f2

    src = (
        spark.readStream.schema(_EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stream_dir(sf_dir, "events"))
    )
    sk = ams_f2(src.select(F.col("user_id").alias("key")),
                k=16, salt="ams0")
    return _run_stream(spark, sk, "stream_ams", "complete")


_register("stream_ams", q_stream_ams, Q_SKETCH_AMS_SQL)


def q_multimodal_dedup(spark, sf_dir):
    """Exact binary-payload dedup (operators/multimodal.py:
    media_dedup): recrawled/mirrored assets collapse on the payload's
    content hash (md5 of hex — engine-portable at ANY payload length;
    base64 was probed to MIME-chunk on the Spark side past 57 bytes;
    payload bytes never shuffle, only hashes).  Duplicates are planted
    deterministically (payload keyed by doc_id % 200).  ONE map-side-
    combined aggregate; smallest id wins as canonical."""
    from picogeojson_spark.operators.multimodal import media_dedup

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.concat(F.lit("asset-"),
                          (F.col("doc_id") % 200).cast("string"),
                          F.lit("-payload")), "UTF-8").alias("payload"),
    )
    return media_dedup(media, min_copies=2).orderBy("payload_md5")


Q_MULTIMODAL_DEDUP_SQL = """
WITH m AS (
  SELECT doc_id AS media_id,
         md5(hex(encode('asset-' || CAST(doc_id % 200 AS VARCHAR)
                        || '-payload'))) AS payload_md5
  FROM documents)
SELECT payload_md5, CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(media_id) AS BIGINT) AS canonical_id
FROM m GROUP BY payload_md5
HAVING COUNT(*) >= 2
ORDER BY payload_md5
"""

_register("multimodal_dedup", q_multimodal_dedup, Q_MULTIMODAL_DEDUP_SQL,
          plan_dump=True)


def q_graph_degrees(spark, sf_dir):
    """Doubling-bucket degree distribution (operators/graph.py:
    degree_profile) of the market-basket co-occurrence graph — the
    hub/power-law read that decides skew strategy; floor(log2) as
    binary digit count (zipf_profile rule, no float logs).  One
    symmetrize + ONE map-side degree aggregate; bucket rollup + total
    window on the <= 64-row table."""
    from picogeojson_spark.operators.graph import (
        cooccurrence_edges,
        degree_profile,
    )

    edges = cooccurrence_edges(_t(spark, sf_dir, "lineitem"))
    return degree_profile(edges).orderBy("bucket")


Q_GRAPH_DEGREES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
            FROM lineitem),
e0 AS (SELECT DISTINCT a.item AS u, b.item AS v
       FROM li a JOIN li b ON a.ok = b.ok AND a.item < b.item),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
  GROUP BY node),
b AS (
  SELECT CAST(length(bin(d)) - 1 AS INT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1)
SELECT bucket, CAST(pow(2, bucket) AS BIGINT) AS deg_lo, n_nodes,
       CAST(n_nodes * 1000000 // (SUM(n_nodes) OVER ()) AS BIGINT)
         AS share_ppm
FROM b ORDER BY bucket
"""

_register("graph_degrees", q_graph_degrees, Q_GRAPH_DEGREES_SQL,
          plan_dump=True)


def q_embed_norms(spark, sf_dir):
    """Embedding-norm health profile (operators/pca.py:norm_profile):
    squared L2 norms in the exact quantized space, doubling buckets
    (bucket -1 = exact zero) — the collapsed/exploded-norm encoder
    diagnostic.  JVM-side HOF norm fold + ONE map-side bucket
    aggregate; vectors never shuffle."""
    from picogeojson_spark.operators.pca import norm_profile

    return norm_profile(_t(spark, sf_dir, "embeddings")).orderBy(
        "bucket")


Q_EMBED_NORMS_SQL = """
WITH q0 AS (
  SELECT vec_id, unnest(embedding) AS x FROM embeddings),
n2 AS (
  SELECT vec_id,
         CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                  * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
              AS BIGINT) AS norm2
  FROM q0 GROUP BY vec_id),
b AS (
  SELECT CASE WHEN norm2 = 0 THEN -1
              ELSE CAST(length(bin(norm2)) - 1 AS INT) END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM n2 GROUP BY 1)
SELECT bucket,
       CAST(CASE WHEN bucket >= 0 THEN pow(2, bucket) ELSE 0 END
            AS BIGINT) AS norm2_lo,
       n_vecs,
       CAST(n_vecs * 1000000 // (SUM(n_vecs) OVER ()) AS BIGINT)
         AS share_ppm
FROM b ORDER BY bucket
"""

_register("embed_norms", q_embed_norms, Q_EMBED_NORMS_SQL, plan_dump=True)


def q_eval_ks(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift statistic (operators/
    evals.py:ks_statistic): max CDF gap cross-multiplied to pure
    integers over the score HISTOGRAM (auc_exact discipline — never a
    row sort), with the gap's location (smallest argmax score).  The
    binning-free companion to table_drift_chi2."""
    from picogeojson_spark.operators.evals import ks_statistic

    d = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 3 == 0, F.lit("a")).otherwise(
            F.lit("b")).alias("sample"),
        (F.expr("div(n_chars, 10)")
         + F.when(F.col("doc_id") % 3 == 0, F.col("doc_id") % 9)
         .otherwise(F.lit(0))).cast("long").alias("score"),
    )
    return ks_statistic(d, "a", "b")


Q_EVAL_KS_SQL = """
WITH sc AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'a' ELSE 'b' END AS g,
         CAST(n_chars // 10
              + CASE WHEN doc_id % 3 = 0 THEN doc_id % 9 ELSE 0 END
              AS BIGINT) AS s
  FROM documents),
hist AS (
  SELECT s,
         CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM sc GROUP BY s),
d AS (
  SELECT s,
         CAST(SUM(ca) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_b,
         CAST(SUM(ca) OVER () AS BIGINT) AS n_a,
         CAST(SUM(cb) OVER () AS BIGINT) AS n_b
  FROM hist),
d2 AS (
  SELECT s, n_a, n_b, abs(cum_a * n_b - cum_b * n_a) AS dd,
         MAX(abs(cum_a * n_b - cum_b * n_a)) OVER () AS dmax
  FROM d)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(CASE WHEN MAX(n_a) > 0 AND MAX(n_b) > 0
            THEN MAX(dmax) * 1000000 // (MAX(n_a) * MAX(n_b)) END
            AS BIGINT) AS ks_ppm,
       CAST(CASE WHEN MAX(n_a) > 0 AND MAX(n_b) > 0
            THEN MIN(CASE WHEN dd = dmax THEN s END) END
            AS BIGINT) AS ks_at
FROM d2
"""

_register("eval_ks", q_eval_ks, Q_EVAL_KS_SQL, plan_dump=True)


def q_orders_lag_quantiles(spark, sf_dir):
    """Order-to-ship lag percentiles per priority (operators/stats.py:
    group_quantiles over the per-lineitem day lag): the SLA read —
    exact discrete p50/p90/p99 on pure-NTZ integer day ids; one
    equi-join + the shared one-exchange quantile shape."""
    from picogeojson_spark.operators.stats import group_quantiles

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)"
               " div 86400000000").cast("long").alias("_sd"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderpriority").alias("prio"),
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
               " div 86400000000").cast("long").alias("_od"),
    )
    lag = li.join(o, on="l_orderkey").select(
        "prio", (F.col("_sd") - F.col("_od")).alias("lag_days"))
    return group_quantiles(lag, "lag_days", "prio").orderBy("prio")


def _q_orders_lag_sql():
    from picogeojson_spark.operators.stats import quantiles_oracle_sql

    src = ("SELECT o.o_orderpriority AS prio, "
           "epoch_us(l.l_shipdate) // 86400000000"
           " - epoch_us(o.o_orderdate) // 86400000000 AS lag_days "
           "FROM lineitem l JOIN orders o"
           " ON l.l_orderkey = o.o_orderkey")
    return quantiles_oracle_sql(src, "lag_days", "prio")


Q_ORDERS_LAG_SQL = _q_orders_lag_sql()

_register("orders_lag_quantiles", q_orders_lag_quantiles, Q_ORDERS_LAG_SQL,
          plan_dump=True)


def q_dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size distribution (operators/dedup.py:
    cluster_size_histogram over duplicate_clusters): the dedup-audit
    read — removable mass per cluster size over the verified
    minhash/LSH pair graph.  Two map-side-combined aggregates on top
    of the O(log n) large-star/small-star components."""
    from picogeojson_spark.operators.dedup import (
        cluster_size_histogram,
        duplicate_clusters,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4,
                              threshold=0.5)
    return cluster_size_histogram(duplicate_clusters(pairs)).orderBy(
        "size")


def _q_dedup_cluster_sizes_sql():
    base = _dedup_clusters_sql()
    head = base.rsplit("SELECT s AS doc_id", 1)[0]
    return head.rstrip() + """,
clusters AS (
  SELECT s AS doc_id, LEAST(s, MIN(t)) AS rep
  FROM reach GROUP BY s),
csz AS (
  SELECT rep, CAST(COUNT(*) AS BIGINT) AS size
  FROM clusters GROUP BY rep)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(size * COUNT(*) AS BIGINT) AS docs
FROM csz GROUP BY size ORDER BY size
"""


Q_DEDUP_CLUSTER_SIZES_SQL = _q_dedup_cluster_sizes_sql()

_register("dedup_cluster_sizes", q_dedup_cluster_sizes,
          Q_DEDUP_CLUSTER_SIZES_SQL, plan_dump=True)


def q_geo_compact(spark, sf_dir):
    """Quadtree cell-set compaction (operators/tiling.py:compact_cells
    — the H3 `compact` analog): the customer-lattice coverage at a
    z=6 equirectangular grid collapses to its minimal mixed-resolution
    form (full 4-child blocks promote, recursively, down to z=2).
    Bounded rounds; per round ONE parent aggregate + ONE anti-join on
    a monotonically shrinking set; the oracle unrolls the identical
    rounds."""
    from picogeojson_spark.operators.tiling import compact_cells

    p = _points_from_customer(spark, sf_dir)
    cells = p.select(
        F.expr("least(63L, greatest(0L,"
               " cast(floor((lon + 180) / 360 * 64) as bigint)))")
        .alias("x"),
        F.expr("least(63L, greatest(0L,"
               " cast(floor((lat + 90) / 180 * 64) as bigint)))")
        .alias("y"),
    )
    return compact_cells(cells, z_max=6, z_min=2).orderBy("z", "x", "y")


def _q_geo_compact_sql(z_max=6, z_min=2):
    parts = ["""
WITH p AS ({points}),
c{zm} AS MATERIALIZED (
  SELECT DISTINCT
         least(63, greatest(0, CAST(floor((lon + 180) / 360 * 64)
                                    AS BIGINT))) AS x,
         least(63, greatest(0, CAST(floor((lat + 90) / 180 * 64)
                                    AS BIGINT))) AS y
  FROM p)""".format(points=_POINTS_SQL, zm=z_max)]
    for z in range(z_max, z_min, -1):
        parts.append("""
f{z} AS MATERIALIZED (
  SELECT x // 2 AS px, y // 2 AS py FROM c{z}
  GROUP BY 1, 2 HAVING COUNT(*) = 4),
k{z} AS (
  SELECT CAST({z} AS INTEGER) AS z, x, y FROM c{z}
  WHERE NOT EXISTS (SELECT 1 FROM f{z}
                    WHERE f{z}.px = c{z}.x // 2
                      AND f{z}.py = c{z}.y // 2)),
c{p} AS MATERIALIZED (SELECT px AS x, py AS y FROM f{z})""".format(
            z=z, p=z - 1))
    unions = ["SELECT CAST({zn} AS INTEGER) AS z, x, y FROM c{zn}"
              .format(zn=z_min)]
    for z in range(z_max, z_min, -1):
        unions.append("SELECT z, x, y FROM k{z}".format(z=z))
    return (",".join(parts)
            + "\nSELECT z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT)"
              " AS y FROM (\n  "
            + "\n  UNION ALL ".join(unions)
            + ")\nORDER BY z, x, y")


Q_GEO_COMPACT_SQL = _q_geo_compact_sql()

_register("geo_compact", q_geo_compact, Q_GEO_COMPACT_SQL, plan_dump=True)


def q_geo_uncompact(spark, sf_dir):
    """Round-trip identity of the compaction pair (operators/
    tiling.py: compact_cells + uncompact_cells): the customer-lattice
    z=6 cover compacts to its minimal mixed-resolution form, then
    expands back — and the ORACLE IS THE ORIGINAL CELL SET, so the
    driver hash proves compact∘uncompact = identity cross-engine.
    Bounded promote rounds one way, one bounded descendant explode +
    distinct the other."""
    from picogeojson_spark.operators.tiling import (
        compact_cells,
        uncompact_cells,
    )

    p = _points_from_customer(spark, sf_dir)
    cells = p.select(
        F.expr("least(63L, greatest(0L,"
               " cast(floor((lon + 180) / 360 * 64) as bigint)))")
        .alias("x"),
        F.expr("least(63L, greatest(0L,"
               " cast(floor((lat + 90) / 180 * 64) as bigint)))")
        .alias("y"),
    )
    compacted = compact_cells(cells, z_max=6, z_min=2)
    return uncompact_cells(compacted, z_target=6).orderBy("x", "y")


Q_GEO_UNCOMPACT_SQL = """
SELECT DISTINCT
       least(63, greatest(0, CAST(floor((lon + 180) / 360 * 64)
                                  AS BIGINT))) AS x,
       least(63, greatest(0, CAST(floor((lat + 90) / 180 * 64)
                                  AS BIGINT))) AS y
FROM ({points})
ORDER BY x, y
""".format(points=_POINTS_SQL)

_register("geo_uncompact", q_geo_uncompact, Q_GEO_UNCOMPACT_SQL,
          plan_dump=True)


def q_text_lexicon(spark, sf_dir):
    """Rule-based lexicon scoring (operators/textstats.py:
    lexicon_score): the Snorkel-style weak-labeling stage — exact
    token-match counts against two broadcast-literal word lists
    ('fast'/'vector' vs 'slow'/'scan'), signed net polarity with the
    explicit negative-safe floor.  One tokenized explode + ONE
    map-side-combined per-doc aggregate (isin literals — never a
    join); LEFT join to the doc spine charges empty docs."""
    from picogeojson_spark.operators.textstats import lexicon_score

    return lexicon_score(
        _t(spark, sf_dir, "documents"),
        positive=["fast", "vector"],
        negative=["slow", "scan"],
    ).orderBy("doc_id")


Q_TEXT_LEXICON_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN w IN ('fast', 'vector') THEN 1 ELSE 0 END)
              AS BIGINT) AS pos_n,
         CAST(SUM(CASE WHEN w IN ('slow', 'scan') THEN 1 ELSE 0 END)
              AS BIGINT) AS neg_n
  FROM toks WHERE w <> '' GROUP BY doc_id),
j AS (
  SELECT d.doc_id,
         COALESCE(a.n_tokens, 0) AS n_tokens,
         COALESCE(a.pos_n, 0) AS pos_n,
         COALESCE(a.neg_n, 0) AS neg_n
  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id)
SELECT doc_id, n_tokens, pos_n, neg_n,
       CAST(CASE WHEN n_tokens > 0
            THEN (1000000 * (pos_n - neg_n)
                  - (((1000000 * (pos_n - neg_n)) % n_tokens + n_tokens)
                     % n_tokens)) // n_tokens END AS BIGINT) AS net_ppm,
       CASE WHEN pos_n > neg_n THEN 'pos'
            WHEN pos_n < neg_n THEN 'neg'
            ELSE 'neutral' END AS label
FROM j ORDER BY doc_id
"""

_register("text_lexicon", q_text_lexicon, Q_TEXT_LEXICON_SQL, plan_dump=True)


def q_table_keys(spark, sf_dir):
    """Candidate-key uniqueness profile (operators/profile.py:
    key_uniqueness) over orders columns — value-histogram distinct
    counts (never countDistinct over raw rows), NULLs reported via the
    nonnull gap; per candidate ONE map-side aggregate + 1-row
    rollup."""
    from picogeojson_spark.operators.profile import key_uniqueness

    return key_uniqueness(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderpriority"],
    ).orderBy("col")


_KEYS_BLOCK_SQL = """
SELECT '{c}' AS col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)
                      > 0
            THEN COUNT(DISTINCT {c}) * 1000000
                 // SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END)
            END AS BIGINT) AS uniq_ppm,
       COUNT(DISTINCT {c})
         = SUM(CASE WHEN {c} IS NOT NULL THEN 1 ELSE 0 END) AS is_unique
FROM orders
"""

Q_TABLE_KEYS_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        _KEYS_BLOCK_SQL.format(c=c)
        for c in ["o_orderkey", "o_custkey", "o_orderpriority"])
    + ") ORDER BY col"
)

_register("table_keys", q_table_keys, Q_TABLE_KEYS_SQL, plan_dump=True)


def q_events_new_users(spark, sf_dir):
    """Daily new-vs-returning split (operators/cohort.py:
    new_vs_returning): first-ever-active-day flag via one per-user
    aggregate on the distinct (user, day) rollup + one user-key
    equi-join + one daily aggregate; pure-NTZ day ids."""
    from picogeojson_spark.operators.cohort import new_vs_returning

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND,"
               " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 86400000000").cast("long").alias("day_id"),
    )
    return new_vs_returning(e).orderBy("day_id")


Q_EVENTS_NEW_USERS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
  FROM events),
first AS (SELECT u, MIN(d) AS fd FROM ud GROUP BY u),
f AS (
  SELECT ud.d, ud.d = first.fd AS is_new
  FROM ud JOIN first ON ud.u = first.u)
SELECT CAST(d AS BIGINT) AS day_id,
       CAST(COUNT(*) AS BIGINT) AS dau,
       CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(COUNT(*) - SUM(CASE WHEN is_new THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users,
       CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS new_share_ppm
FROM f GROUP BY d ORDER BY day_id
"""

_register("events_new_users", q_events_new_users, Q_EVENTS_NEW_USERS_SQL,
          plan_dump=True)
