"""End-to-end Spark pipeline tests: synth pages -> mine/parse/explode ->
cell index -> PIP join / kNN / tiles, each checked against a driver-side
O(n²) oracle built on the same kernel."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from picogeojson_spark.geo import loads as kloads
from picogeojson_spark.geo.pip import points_in_geometry
from picogeojson_spark.operators import (
    assign_tiles_points,
    filter_by_props,
    filter_by_type,
    knn_join,
    mine_features,
    pip_join,
    with_reextracted_text,
)
from picogeojson_spark.sources.synth import make_page, pages_dataframe

N_PAGES = 240


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_dataframe(spark, N_PAGES, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def features(spark, pages):
    df = mine_features(pages).cache()
    df.count()
    return df


def test_text_byte_identity(spark, pages):
    """BASELINE.json invariant: extractor output in the engine matches the
    stored text byte-for-byte, per url."""
    df = with_reextracted_text(pages)
    mismatches = df.filter("text != text_reextracted").count()
    assert mismatches == 0


def test_mined_features_match_oracle(spark, features):
    """Every embedded GeoJSON block is found and parsed identically to a
    driver-side run of the same kernel over the same text, and the mined
    ``cells`` (a JVM cover of the mined bbox) equal the Python cover."""
    from pyspark.sql.types import _parse_datatype_string

    from picogeojson_spark.operators.features import (
        FEATURES_SCHEMA_DDL,
        _doc_id,
        _feature_rows,
        mine_candidates,
    )
    from picogeojson_spark.geo import codec

    assert features.schema == _parse_datatype_string(FEATURES_SCHEMA_DDL)
    got = {
        (r["url"], r["feature_idx"]): (r["geom_type"], r["geometry_json"],
                                       r["cells"])
        for r in features.collect()
    }
    expected = {}
    n_err = 0
    for i in range(N_PAGES):
        page = make_page(i)
        parsed_docs = []
        for raw in mine_candidates(page["text"]):
            try:
                parsed_docs.append((codec.loads(raw), None, raw))
            except Exception as e:  # noqa: BLE001
                parsed_docs.append((None, str(e), raw))
        for row in _feature_rows(page["url"], _doc_id(page["url"]), parsed_docs, 12, 32):
            expected[(row["url"], row["feature_idx"])] = (
                row["geom_type"],
                row["geometry_json"],
                row["cells"],
            )
            if row["parse_error"] is not None:
                n_err += 1
    assert got == expected
    assert len(expected) > N_PAGES * 0.5  # corpus actually contains geometry
    assert sum(len(v[2] or ()) for v in expected.values()) > len(expected)


@pytest.mark.parametrize("literal", ["NaN", "Infinity", "1e400"])
def test_non_finite_coordinates_become_error_rows(spark, literal):
    """A candidate whose coordinates parse to NaN or ±inf has no cell: it
    must yield one parse_error row, and the page's other features must
    survive (not fail the mining task)."""
    text = ('<p>{"type": "Point", "coordinates": [%s, 1.0]} and '
            '{"type": "Point", "coordinates": [2.0, 3.0]}</p>' % literal)
    pages = spark.createDataFrame([("http://x/nan", text)],
                                  "url string, text string")
    rows = sorted(mine_features(pages, partitions=1).collect(),
                  key=lambda r: r.feature_idx)
    assert [r.geom_type for r in rows] == ["Point", "Point"]
    bad, good = rows
    assert bad.parse_error.split(":")[0] in ("ValueError", "OverflowError")
    assert bad.cells is None and bad.geometry_json is None
    assert good.parse_error is None
    assert (good.lon, good.lat) == (2.0, 3.0) and good.cells


def test_filter_helpers(spark, features):
    pts = filter_by_type(features, "Point")
    assert pts.filter("geom_type != 'Point'").count() == 0
    sub = filter_by_props(features, {"kind": "city"})
    rows = sub.select("props").collect()
    assert all(r["props"]["kind"] == "city" for r in rows)


GRID_POLYS = []
for gx in range(-18, 18, 6):
    for gy in range(-9, 9, 6):
        GRID_POLYS.append(
            {
                "type": "Polygon",
                "coordinates": [
                    [
                        [gx * 10.0, gy * 10.0],
                        [gx * 10.0 + 20.0, gy * 10.0],
                        [gx * 10.0 + 20.0, gy * 10.0 + 20.0],
                        [gx * 10.0, gy * 10.0 + 20.0],
                        [gx * 10.0, gy * 10.0],
                    ]
                ],
            }
        )


def _poly_table(spark):
    # irregular polygons (with a hole) + the reference's dateline polygon, cut
    from picogeojson_spark.geo import cut_dateline, make_polygon, to_dict
    from picogeojson_spark.geo.codec import SerializeOptions

    opts = SerializeOptions(antimeridian_cutting=False, write_bbox=False)
    polys = []
    for i, g in enumerate(GRID_POLYS):
        polys.append((i, json.dumps(g)))
    hole_poly = {
        "type": "Polygon",
        "coordinates": [
            [[0, 0], [40, 0], [40, 40], [0, 40], [0, 0]],
            [[10, 10], [30, 10], [30, 30], [10, 30], [10, 10]],
        ],
    }
    polys.append((100, json.dumps(to_dict(kloads(json.dumps(hole_poly)), opts, root=False))))
    dateline = make_polygon(
        [[(172, -20), (-179, -20), (-177, -25), (172, -25), (172, -20)]]
    )
    polys.append((101, json.dumps(to_dict(cut_dateline(dateline), opts, root=False))))
    return spark.createDataFrame(polys, "poly_id long, geometry_json string")


def test_pip_join_matches_oracle(spark, features):
    points = (
        filter_by_type(features, "Point")
        .select(
            (F.pmod(features.doc_id, F.lit(2**40)) * 100 + features.feature_idx).alias("point_id"),
            "lon",
            "lat",
        )
        .cache()
    )
    polys = _poly_table(spark)
    got = {(r.point_id, r.poly_id) for r in pip_join(points, polys).collect()}

    pts = points.collect()
    xs = np.array([p.lon for p in pts])
    ys = np.array([p.lat for p in pts])
    pids = [p.point_id for p in pts]
    expected = set()
    for r in polys.collect():
        mask = points_in_geometry(xs, ys, json.loads(r.geometry_json))
        for i in np.nonzero(mask)[0]:
            expected.add((pids[int(i)], r.poly_id))
    assert got == expected
    assert len(expected) > 0


def test_tile_pyramid_rollup_equals_direct_assignment(spark):
    """The parent=child>>1 cascade must equal assigning tiles DIRECTLY at
    every zoom — including poles (mercator clamp), the dateline, and
    exact tile-boundary points."""
    import numpy as np

    from picogeojson_spark.operators.tiling import (
        assign_tiles_points,
        tile_pyramid,
    )

    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.uniform(-180, 180, 4000),
                          [-180.0, 180.0, 0.0, 90.0, -90.0, 179.999]])
    lat = np.concatenate([rng.uniform(-90, 90, 4000),
                          [90.0, -90.0, 0.0, 85.06, -85.06, 66.6]])
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "point_id long, lon double, lat double",
    )
    got = {
        (r.tile_z, r.tile_x, r.tile_y): r.n_points
        for r in tile_pyramid(pts, z_min=3, z_max=9).collect()
    }
    want = {}
    for z in range(3, 10):
        for r in (assign_tiles_points(pts, z)
                  .groupBy("tile_z", "tile_x", "tile_y")
                  .agg(F.count("*").alias("n")).collect()):
            want[(r.tile_z, r.tile_x, r.tile_y)] = r.n
    assert got == want


def test_cell_expr_matches_numpy_kernel(spark):
    """The JVM cell expression must be BIT-identical to geo.cells.cell_of
    for every level pip_join uses — random lattice + the ±180/±90 edges
    (where floor lands exactly on nx/ny and the clip must engage)."""
    import numpy as np

    from picogeojson_spark.geo.cells import cell_of
    from picogeojson_spark.operators.pip_join import MIN_LEVEL, cell_expr

    rng = np.random.default_rng(11)
    lon = np.concatenate([
        rng.uniform(-180, 180, 20000),
        np.array([-180.0, 180.0, 0.0, -179.999999, 179.999999,
                  -1e-12, 1e-12, 45.5, -45.5, 179.5]),
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, 20000),
        np.array([-90.0, 90.0, 0.0, -89.999999, 89.999999,
                  -1e-12, 1e-12, 22.25, -22.25, 89.5]),
    ])
    pdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)],
        "lon double, lat double",
    )
    for lv in range(MIN_LEVEL, 11):
        got = np.array([
            r.c for r in pdf.select(
                cell_expr("lon", "lat", lv).alias("c")
            ).collect()
        ])
        want = cell_of(lon, lat, lv)
        assert (got == want).all(), "level {} diverged".format(lv)
    # a null coordinate has no cell (greatest/least alone would clip it to
    # a grid edge)
    nulls = spark.createDataFrame([(None, 10.0), (5.0, None), (None, None)],
                                  "lon double, lat double")
    for lv in (MIN_LEVEL, 12):
        assert [r.c for r in nulls.select(
            cell_expr("lon", "lat", lv).alias("c")).collect()] == [None] * 3


def test_point_ancestors_skip_null_coordinates(spark):
    """A point with a null coordinate has no ancestor cell, so no row."""
    from picogeojson_spark.geo.cells import DEFAULT_LEVEL, cell_of
    from picogeojson_spark.operators.pip_join import (
        MIN_LEVEL,
        point_ancestors_df,
    )

    pts = spark.createDataFrame(
        [(1, None, 10.0), (2, 5.0, None), (3, None, None), (4, 5.0, 10.0)],
        "point_id long, lon double, lat double")
    got = sorted((r.point_id, r.cell) for r in point_ancestors_df(pts).collect())
    assert got == sorted((4, int(cell_of(5.0, 10.0, lv)))
                         for lv in range(MIN_LEVEL, DEFAULT_LEVEL + 1))


def _boundary_boxes(level, max_cells):
    """Boxes whose level-``level`` cover has max_cells - 1, max_cells or
    max_cells + 1 cells: cell-centred edges and exact cell edges."""
    from picogeojson_spark.geo.cells import grid_shape

    nx, ny = grid_shape(level)
    w, h = 360.0 / nx, 180.0 / ny
    out = []
    for t in (max_cells - 1, max_cells, max_cells + 1):
        for kx in range(1, t + 1):
            ky = t // kx
            if kx * ky != t or kx > nx or ky > ny:
                continue
            x0, y0 = (nx - kx) // 3, (ny - ky) // 2
            out.append((-180.0 + (x0 + 0.5) * w, -90.0 + (y0 + 0.5) * h,
                        -180.0 + (x0 + kx - 0.5) * w, -90.0 + (y0 + ky - 0.5) * h))
            out.append((-180.0 + x0 * w, -90.0 + y0 * h,
                        -180.0 + (x0 + kx - 1) * w, -90.0 + (y0 + ky - 1) * h))
    return out


def test_cover_expr_matches_numpy_kernel(spark):
    """The JVM cover must be BIT-identical to geo.cells.cover_bbox_ints —
    same cells, same order, same level pick — for random boxes of every
    size, inverted boxes, the ±180/±90 edges, degenerate point boxes,
    boxes at the max_cells boundary of levels 1-12, and null bboxes."""
    from picogeojson_spark.geo.cells import cover_bbox_ints
    from picogeojson_spark.operators.features import BBOX_DDL
    from picogeojson_spark.operators.pip_join import cover_expr

    rng = np.random.default_rng(17)
    boxes = []
    for _ in range(1500):
        a, b = sorted(rng.uniform(-180, 180, 2))
        c, d = sorted(rng.uniform(-90, 90, 2))
        boxes.append((a, c, b, d))
        x, y = rng.uniform(-180, 180), rng.uniform(-90, 90)
        size = float(rng.choice([1e-9, 1e-3, 0.05, 0.5, 5.0, 50.0, 400.0]))
        boxes.append((x, y, min(x + size, 180.0), min(y + size / 2, 90.0)))
        boxes.append((x, y, x, y))
        # inverted axes: the 4-value bbox of a 3-D MultiPolygon
        boxes.append((b, c, a, d))
        boxes.append((a, d, b, c))
        boxes.append((b, d, a, c))
    edges_x = [-180.0, -179.999999, -1e-12, 0.0, 1e-12, 179.999999, 180.0]
    edges_y = [-90.0, -89.999999, -1e-12, 0.0, 1e-12, 89.999999, 90.0]
    for x in edges_x:
        for y in edges_y:
            boxes.append((x, y, x, y))
            boxes.append((x, y, 180.0, 90.0))
            boxes.append((-180.0, -90.0, x, y))
    for level in range(1, 13):
        for max_cells in (32, 64):
            boxes.extend(_boundary_boxes(level, max_cells))
    boxes = [tuple(float(v) for v in b) for b in boxes]
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(boxes)]
        + [(len(boxes), None), (len(boxes) + 1, (1.0, None, 2.0, 3.0))],
        "i int, " + BBOX_DDL).cache()
    params = [(12, 32, 0), (12, 64, 6), (10, 64, 3)]
    params += [(lv, m, 0) for lv in range(1, 13) for m in (32, 64)]
    for level, max_cells, min_level in params:
        got = dict(df.select(
            "i", cover_expr("bbox", level, max_cells, min_level).alias("c")
        ).collect())
        assert got.pop(len(boxes)) is None and got.pop(len(boxes) + 1) is None
        bad = [b for i, b in enumerate(boxes) if got[i] != cover_bbox_ints(
            *b, level, max_cells, min_level=min_level)]
        assert not bad, ((level, max_cells, min_level), len(bad), bad[:3])
    df.unpersist()


def _random_polygon(rng, dims):
    """A random star-shaped ring around a random centre, 2-D or 3-D."""
    cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
    r = float(rng.choice([0.001, 0.1, 1.0, 8.0]))
    ang = np.sort(rng.uniform(0, 2 * np.pi, int(rng.integers(3, 9))))
    ring = [[float(np.clip(cx + r * np.cos(a), -180, 180)),
             float(np.clip(cy + r * np.sin(a), -90, 90))] for a in ang]
    if dims == 3:
        ring = [p + [float(rng.uniform(0, 100))] for p in ring]
    return [ring + [ring[0]]]


def _poly_cover_inputs(seed):
    """The 10-degree world grid plus random 2-D and 3-D Polygons and
    MultiPolygons, as (id, geometry_json)."""
    rng = np.random.default_rng(seed)
    geoms = []
    for gx in range(36):
        for gy in range(18):
            x0, y0 = gx * 10.0 - 180.0, gy * 10.0 - 90.0
            geoms.append({"type": "Polygon", "coordinates": [[
                [x0, y0], [x0 + 10.0, y0], [x0 + 10.0, y0 + 10.0],
                [x0, y0 + 10.0], [x0, y0]]]})
    for i in range(200):
        dims = 2 + i % 2
        if i % 4 < 2:
            geoms.append({"type": "Polygon",
                          "coordinates": _random_polygon(rng, dims)})
        else:
            geoms.append({"type": "MultiPolygon", "coordinates": [
                _random_polygon(rng, dims)
                for _ in range(int(rng.integers(1, 4)))]})
    return [(pid, json.dumps(g)) for pid, g in enumerate(geoms)]


def test_polygon_cover_df_matches_python_cover(spark):
    """The JVM-expanded polygon cover has exactly the rows the Python
    cover emitted: the 10-degree world grid, and random 2-D and 3-D
    Polygons and MultiPolygons."""
    from picogeojson_spark.geo.bounds import geometry_bbox
    from picogeojson_spark.geo.cells import cover_bbox_ints
    from picogeojson_spark.operators.pip_join import MIN_LEVEL, polygon_cover_df

    polys = _poly_cover_inputs(23)
    want = []
    for pid, gj in polys:
        bb = geometry_bbox(json.loads(gj))
        nd = len(bb) // 2
        want.extend((c, pid, gj) for c in cover_bbox_ints(
            bb[0], bb[1], bb[nd], bb[nd + 1], 12, 64, min_level=MIN_LEVEL))
    df = spark.createDataFrame(polys, "poly_id long, geometry_json string")
    cover = polygon_cover_df(df)
    assert cover.columns == ["cell", "poly_id", "geometry_json"]
    assert sorted(tuple(r) for r in cover.collect()) == sorted(want)


def test_unselected_cells_are_pruned(spark):
    """A query that does not select ``cells`` runs no cover expression."""
    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    mined = mine_features(spark.createDataFrame(
        [("http://x/1", '{"type": "Point", "coordinates": [1.0, 2.0]}')],
        "url string, text string"))
    assert "flatten(" in optimized(mined.select("cells"))
    plan = optimized(mined.select("geom_type", "lon", "lat"))
    assert "flatten(" not in plan and "aggregate(" not in plan
    assert "MapInPandas" in plan


def test_point_ancestors_plan_has_no_python(spark, features):
    """The point side of pip_join must be pure codegen — no Python stage."""
    from picogeojson_spark.operators.pip_join import point_ancestors_df

    pts = spark.createDataFrame([(1, 10.0, 20.0)],
                                "point_id long, lon double, lat double")
    plan = point_ancestors_df(pts)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan


def test_pip_join_broadcast_autosizing(spark, features):
    """Default broadcast_polys=None sizes the cover side: a tiny polygon
    table gets the forced-broadcast plan (point side never shuffles), while
    one over the budget is left unhinted so AQE decides from runtime sizes
    — and the output is identical either way."""
    points = filter_by_type(features, "Point").select(
        (F.pmod(features.doc_id, F.lit(2**40)) * 100 + features.feature_idx).alias("point_id"),
        "lon",
        "lat",
    ).limit(120)
    polys = _poly_table(spark)

    auto_small = pip_join(points, polys)
    assert "ResolvedHint" in auto_small._jdf.queryExecution().analyzed().toString()

    # simulate the country-scale-table regime by zeroing the budget
    auto_big = pip_join(points, polys, broadcast_budget_bytes=0)
    assert "ResolvedHint" not in auto_big._jdf.queryExecution().analyzed().toString()

    forced = {(r.point_id, r.poly_id)
              for r in pip_join(points, polys, broadcast_polys=True).collect()}
    assert {(r.point_id, r.poly_id) for r in auto_big.collect()} == forced
    assert {(r.point_id, r.poly_id) for r in auto_small.collect()} == forced
    assert len(forced) > 0


def test_pip_join_salted_equals_plain(spark, features):
    points = filter_by_type(features, "Point").select(
        (F.pmod(features.doc_id, F.lit(2**40)) * 100 + features.feature_idx).alias("point_id"),
        "lon",
        "lat",
    )
    polys = _poly_table(spark)
    plain = {(r.point_id, r.poly_id) for r in pip_join(points, polys).collect()}
    salted = {
        (r.point_id, r.poly_id)
        for r in pip_join(points, polys, salt=4, broadcast_polys=False).collect()
    }
    assert plain == salted


def test_knn_matches_bruteforce(spark, features):
    pts = (
        filter_by_type(features, "Point")
        .select(
            (F.pmod(features.doc_id, F.lit(2**40)) * 100 + features.feature_idx).alias("point_id"),
            "lon",
            "lat",
        )
        .limit(150)
        .cache()
    )
    queries = pts.select(pts.point_id.alias("query_id"), "lon", "lat")
    cands = pts.select(pts.point_id.alias("neighbor_id"), "lon", "lat")
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_join(queries, cands, k=3, level=6, radius=1).collect()
    }

    # the scale tail (query-side ring expansion) must be exactly as correct
    # as the small-scale direct-brute tail: force it by zeroing the budget
    expanded = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_join(queries, cands, k=3, level=6, radius=1,
                          brute_pairs_budget=0).collect()
    }
    assert expanded == got

    # lifecycle: the default (localCheckpoint) mode must not register
    # anything in the SQL CacheManager — that registry pins plans until an
    # explicit unpersist, which is exactly the long-lived-session leak.
    # (pts.cache() above is RDD-level via DataFrame.cache -> clear it first
    # to make the manager state unambiguous.)
    pts.unpersist()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    knn_join(queries, cands, k=3, level=6, radius=1).count()
    assert cache_mgr.isEmpty(), "default knn_join must not pin a cache entry"
    # persist mode trades that safety for speed and must hand the caller
    # the cleanup handle
    cached = knn_join(queries, cands, k=3, level=6, radius=1, cache="persist")
    cached.count()
    assert not cache_mgr.isEmpty()
    assert cached._knn_cached is not None
    cached._knn_cached.unpersist()
    assert cache_mgr.isEmpty()

    rows = pts.collect()
    expected = {}
    for q in rows:
        dists = sorted(
            ((q.lon - c.lon) ** 2 + (q.lat - c.lat) ** 2, c.point_id) for c in rows
        )
        for rank, (_, nid) in enumerate(dists[:3], start=1):
            expected[(q.point_id, rank)] = nid
    assert got == expected


def _brute_knn(qs, cs, k):
    """Python oracle: dist2 asc, neighbor_id asc, top-k per query."""
    out = {}
    for qid, qlon, qlat in qs:
        scored = sorted(
            ((qlon - clon) ** 2 + (qlat - clat) ** 2, nid) for nid, clon, clat in cs
        )
        for rank, (d2, nid) in enumerate(scored[:k], start=1):
            out[(qid, rank)] = nid
    return out


def test_knn_wide_ring_wrap_no_duplicates(spark):
    # regression (ADVICE r2): at a coarse level the expansion ring can exceed
    # the grid width (level=2 -> nx=8; two doublings reach radius 4, ring
    # width 9). Un-capped pmod offsets then map two offsets to the same cell,
    # duplicating (query, neighbor) pairs and corrupting the top-k.
    qs = [(i, -170.25 + 3.0 * i, 10.25) for i in range(6)]
    cs = [(100, 150.25, -60.25), (101, 100.25, 50.25),
          (102, 0.25, 0.25), (103, -90.25, 80.25), (104, 179.25, -10.25)]
    queries = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    cands = spark.createDataFrame(cs, "neighbor_id long, lon double, lat double")
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_join(queries, cands, k=3, level=2, radius=1,
                          brute_pairs_budget=0, max_expansions=2).collect()
    }
    assert got == _brute_knn(qs, cs, 3)


def test_knn_full_coverage_keeps_unsettled_queries(spark):
    # regression (ADVICE r2): with fewer candidates than k no query ever
    # "settles" (found < k); once the expansion ring covers the whole planet
    # the result is globally exact and must be returned — the old break
    # dropped these queries from the output entirely.
    qs = [(i, -120.25 + 40.0 * i, -30.25 + 20.0 * i) for i in range(4)]
    cs = [(100, 10.25, 10.25), (101, -170.25, 60.25), (102, 90.25, -70.25)]
    queries = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    cands = spark.createDataFrame(cs, "neighbor_id long, lon double, lat double")
    rows = knn_join(queries, cands, k=5, level=2, radius=1,
                    brute_pairs_budget=0, max_expansions=3).collect()
    got = {(r.query_id, r.rank): r.neighbor_id for r in rows}
    assert got == _brute_knn(qs, cs, 5)  # every query, all 3 neighbours
    assert len(rows) == len(qs) * len(cs)


def test_tile_assignment_points(spark, features):
    pts = filter_by_type(features, "Point").select("doc_id", "feature_idx", "lon", "lat")
    got = assign_tiles_points(pts, z=10).collect()
    from picogeojson_spark.geo.tiles import tile_xy

    for r in got:
        x, y = tile_xy(np.array([r.lon]), np.array([r.lat]), 10)
        assert (r.tile_x, r.tile_y) == (int(x[0]), int(y[0])), (r.lon, r.lat)


def _column_tiles(points, z):
    """``assign_tiles_points`` as Column objects (three ``withColumn``s),
    the spelling the parsed tile text replaced: the oracle of its plan
    and values."""
    from picogeojson_spark.geo.tiles import MAX_MERC_LAT

    n = 2**z
    lat = F.greatest(F.least(F.col("lat"), F.lit(MAX_MERC_LAT)),
                     F.lit(-MAX_MERC_LAT))
    rad = F.radians(lat)
    x = F.greatest(
        F.least(F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0)
                        * F.lit(float(n))), F.lit(n - 1)),
        F.lit(0))
    y = F.greatest(
        F.least(F.floor(
            (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
             / F.lit(3.141592653589793)) / F.lit(2.0) * F.lit(float(n))),
            F.lit(n - 1)),
        F.lit(0))
    return (points.withColumn("tile_z", F.lit(z))
            .withColumn("tile_x", x.cast("long"))
            .withColumn("tile_y", y.cast("long")))


def test_assign_tiles_points_matches_column_spelling(spark):
    """The parsed tile text has the Column spelling's optimized plan (ids
    masked) and its bit-identical x/y, which equal ``geo.tiles.tile_xy``:
    random points plus the ±180 edges, one ulp below 180, the poles and
    the Mercator clamp latitude."""
    import re

    from picogeojson_spark.geo.tiles import MAX_MERC_LAT, tile_xy

    rng = np.random.default_rng(29)
    below = float(np.nextafter(180.0, 0.0))
    lon = np.concatenate([rng.uniform(-180, 180, 5000),
                          [-180.0, 180.0, below, -below, 0.0, 0.0, 0.0, 0.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          [0.0, 0.0, 45.0, -45.0, 90.0, -90.0,
                           MAX_MERC_LAT, -MAX_MERC_LAT]])
    base = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "point_id long, a double, b double").cache()
    # computed coordinates, as in the gate's points: how Catalyst collapses
    # the tile columns into this projection shows in the plan
    pts = base.select("point_id", (F.col("a") + 0.0).alias("lon"),
                      (F.col("b") + 0.0).alias("lat"))

    def plan(df):
        return re.sub(r"#\d+L?", "#", df._jdf.queryExecution()
                      .optimizedPlan().toString())

    for z in (0, 7, 10, 18):
        got, want = assign_tiles_points(pts, z), _column_tiles(pts, z)
        assert got.columns == want.columns
        for cols in (got.columns, ["point_id", "tile_z", "tile_x", "tile_y"]):
            assert plan(got.select(cols)) == plan(want.select(cols))
        rows = got.orderBy("point_id").collect()
        assert rows == want.orderBy("point_id").collect()
        x, y = tile_xy(lon, lat, z)
        assert [(r.tile_z, r.tile_x, r.tile_y) for r in rows] == [
            (z, int(a), int(b)) for a, b in zip(x, y)]
    base.unpersist()


def test_assign_tiles_points_builds_in_few_py4j_calls(spark):
    """Building the tile columns is one projection of parsed text, not a
    Column tree of a few hundred py4j round trips."""
    pts = spark.createDataFrame([(1, 10.0, 20.0)],
                                "point_id long, lon double, lat double")
    assign_tiles_points(pts, 10)  # warm the imports
    client = spark.sparkContext._gateway._gateway_client
    real, calls = client.send_command, []

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    client.send_command = spy
    try:
        assign_tiles_points(pts, 10)
    finally:
        del client.send_command
    assert 0 < len(calls) <= 60, len(calls)


def test_tile_cover_features_matches_numpy_cover(spark):
    """The JVM tile cover emits the ``(id, z, x, y)`` multiset of
    ``geo.tiles.tile_cover_bbox``: random, point, clamped (beyond the
    Mercator latitude and the ±180 edges) and inverted boxes; a null bbox
    covers nothing."""
    from picogeojson_spark.geo.tiles import tile_cover_bbox, tile_unpack
    from picogeojson_spark.operators.features import BBOX_DDL
    from picogeojson_spark.operators.tiling import tile_cover_features

    rng = np.random.default_rng(31)
    boxes = []
    for _ in range(300):
        a, b = sorted(rng.uniform(-180, 180, 2))
        c, d = sorted(rng.uniform(-90, 90, 2))
        x, y = rng.uniform(-180, 180), rng.uniform(-85, 85)
        size = float(rng.choice([1e-6, 0.01, 0.3, 2.0]))
        boxes += [(x, y, x + size, y + size), (x, y, x, y),
                  (b, c, a, d), (a, d, b, c)]       # inverted axes
        if len(boxes) < 40:
            boxes.append((a, c, b, d))
    boxes += [(-180.0, -90.0, 180.0, 90.0), (179.0, 86.0, 180.0, 90.0),
              (-180.0, -90.0, -179.0, -86.0), (170.0, 80.0, 185.0, 95.0)]
    rows = [(i, 7, (float(a), float(b), float(c), float(d)))
            for i, (a, b, c, d) in enumerate(boxes)] + [(len(boxes), 7, None)]
    df = spark.createDataFrame(rows, "doc_id int, feature_idx int, " + BBOX_DDL)
    for z in (0, 3, 9):
        got = tile_cover_features(df, z)
        assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
            ("doc_id", "bigint"), ("feature_idx", "bigint"),
            ("tile_z", "bigint"), ("tile_x", "bigint"), ("tile_y", "bigint")]
        want = []
        for i, b in enumerate(boxes):
            zz, xx, yy = tile_unpack(tile_cover_bbox(*b, z))
            want += [(i, 7, int(a), int(c), int(e))
                     for a, c, e in zip(zz, xx, yy)]
        assert sorted(tuple(r) for r in got.collect()) == sorted(want), z


def test_poly_join_cover_matches_python_cover(spark):
    """poly_join's fixed-level JVM cover has, per polygon, the cells of
    ``cover_bbox_ints(..., level, max_cells, min_level=level)`` over the
    kernel bbox (``cover_bbox``'s cells; unlike ``cover_bbox`` it gives
    the doubly inverted bbox of a 3-D MultiPolygon an empty cover)."""
    from picogeojson_spark.geo.bounds import geometry_bbox
    from picogeojson_spark.geo.cells import cover_bbox_ints
    from picogeojson_spark.operators.poly_join import _fixed_cover

    polys = _poly_cover_inputs(37)
    df = spark.createDataFrame(polys, "a_id long, geometry_json string")
    for level in (3, 6):
        want = []
        for pid, gj in polys:
            bb = geometry_bbox(json.loads(gj))
            nd = len(bb) // 2
            want += [(c, pid, gj) for c in cover_bbox_ints(
                bb[0], bb[1], bb[nd], bb[nd + 1], level, 8192,
                min_level=level)]
        cover = _fixed_cover(df, "a_id", level, 8192)  # the whole grid
        assert cover.columns == ["cell", "a_id", "geometry_json"]
        assert sorted(tuple(r) for r in cover.collect()) == sorted(want)


def test_poly_join_auto_level_matches_python_extents(spark):
    """``level=None`` picks ``choose_poly_level`` over the largest Python
    bbox extents of both sides (an inverted axis counts as 0)."""
    from picogeojson_spark.geo.bounds import geometry_bbox
    from picogeojson_spark.operators.poly_join import (
        _auto_level,
        choose_poly_level,
    )

    polys = _poly_cover_inputs(41)
    half = len(polys) // 2
    dfa = spark.createDataFrame(polys[half:], "a_id long, geometry_json string")
    dfb = spark.createDataFrame(polys[:half], "b_id long, geometry_json string")
    w = h = 0.0
    for _, gj in polys:
        bb = geometry_bbox(json.loads(gj))
        nd = len(bb) // 2
        w, h = max(w, bb[nd] - bb[0]), max(h, bb[nd + 1] - bb[1])
    for max_cells in (64, 4096):
        assert _auto_level(dfa, dfb, max_cells) == choose_poly_level(
            w, h, max_cells)


def test_poly_join_over_budget_polygon_fails_loudly(spark):
    """A polygon whose fixed-level cover exceeds ``max_cells`` fails the
    query with its id in the message, never a silent truncation."""
    from picogeojson_spark.operators.poly_join import polygon_intersection_join

    def square(x0, y0, w):
        return json.dumps({"type": "Polygon", "coordinates": [[
            [x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w],
            [x0, y0]]]})

    dfa = spark.createDataFrame([(1, square(0.0, 0.0, 0.5)),
                                 (4242, square(10.0, 10.0, 30.0))],
                                "a_id long, geometry_json string")
    dfb = spark.createDataFrame([(7, square(0.25, 0.25, 0.5))],
                                "b_id long, geometry_json string")
    with pytest.raises(Exception) as err:
        polygon_intersection_join(dfa, dfb, level=8, max_cells=16).collect()
    assert "polygon 4242 covers" in str(err.value)
    assert "use a coarser level" in str(err.value)
