"""pip_join refine geometry cache: LRU eviction, bounded re-parses.

Spark-free: `_refine_batches` is a plain generator over pandas frames, so
the >cap-polygons scenario runs in milliseconds and the parse counter is
asserted exactly (no accumulator plumbing needed).
"""

import json

import pandas as pd

from picogeojson_spark.operators.pip_join import _refine_batches


def _poly_json(pid):
    # unit square shifted by pid so each polygon is distinct
    x = float(pid)
    ring = [[x, 0.0], [x + 1.0, 0.0], [x + 1.0, 1.0], [x, 1.0], [x, 0.0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


def _batch(poly_ids):
    rows = []
    for pid in poly_ids:
        # one inside point + one outside point per polygon
        rows.append(
            {"point_id": 2 * pid, "lon": pid + 0.5, "lat": 0.5,
             "poly_id": pid, "geometry_json": _poly_json(pid)}
        )
        rows.append(
            {"point_id": 2 * pid + 1, "lon": pid + 0.5, "lat": 5.0,
             "poly_id": pid, "geometry_json": _poly_json(pid)}
        )
    return pd.DataFrame(rows)


def test_refine_correct_pairs():
    stats = {}
    out = pd.concat(list(_refine_batches(iter([_batch(range(10))]),
                                         cache_cap=4, stats=stats)))
    assert sorted(out["point_id"]) == [2 * p for p in range(10)]
    assert sorted(out["poly_id"]) == list(range(10))
    assert stats["parses"] == 10


def test_lru_keeps_hot_set_across_batches():
    # 3 batches over the same 8 polygons with cap 8: parse each ONCE total
    stats = {}
    batches = [_batch(range(8)) for _ in range(3)]
    list(_refine_batches(iter(batches), cache_cap=8, stats=stats))
    assert stats["parses"] == 8


def test_lru_evicts_but_never_reparses_per_batch():
    # The pre-LRU behavior stopped caching at cap: every polygon past cap
    # re-parsed on EVERY batch. With LRU + batches that fit in cap, each
    # batch's distinct polygons parse at most once per batch even when the
    # total distinct count exceeds cap.
    cap = 16
    batches = [_batch(range(i * cap, (i + 1) * cap)) for i in range(6)]
    # revisit the last batch's polygons: still cached (LRU kept the hot set)
    batches.append(_batch(range(5 * cap, 6 * cap)))
    stats = {}
    list(_refine_batches(iter(batches), cache_cap=cap, stats=stats))
    assert stats["parses"] == 6 * cap  # the revisit batch cost zero parses


def test_many_polygons_beyond_cap_bounded_parses():
    # > cap distinct polygons in one batch, then the SAME batch again.
    # Each batch groups by poly_id, so parses per batch <= distinct polys;
    # the second pass re-parses only evicted entries (here: all, since
    # 5000 > 4096-style cap), but NEVER more than distinct-per-batch —
    # the old stop-caching code had the same worst case but hit it for
    # every batch even when the working set FIT the cache (covered by
    # test_lru_keeps_hot_set_across_batches).
    cap = 64
    n = 200
    stats = {}
    list(_refine_batches(iter([_batch(range(n)), _batch(range(n))]),
                         cache_cap=cap, stats=stats))
    assert stats["parses"] <= 2 * n
    # tail of the first batch survives into the second batch's head? No —
    # sequential ids mean the first batch ends with [n-cap, n) cached and
    # the second batch starts at 0: full re-parse is expected and bounded.
    assert stats["parses"] == 2 * n


def _groupby_refine(batches, cache_cap, stats):
    """The refine as it was written with a pandas ``groupby``: the oracle
    for the sort-sliced one (same rows, same order, same parses)."""
    import collections

    import numpy as np

    from picogeojson_spark.geo.pip import points_in_geometry

    geom_cache = collections.OrderedDict()
    stats.setdefault("parses", 0)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        keep_pid, keep_poly = [], []
        for poly_id, grp in pdf.groupby("poly_id", sort=False):
            geom = geom_cache.get(poly_id)
            if geom is None:
                geom = json.loads(grp["geometry_json"].iloc[0])
                stats["parses"] += 1
                geom_cache[poly_id] = geom
                if len(geom_cache) > cache_cap:
                    geom_cache.popitem(last=False)
            else:
                geom_cache.move_to_end(poly_id)
            xs = grp["lon"].to_numpy(dtype=np.float64)
            ys = grp["lat"].to_numpy(dtype=np.float64)
            mask = points_in_geometry(xs, ys, geom)
            if mask.any():
                pids = grp["point_id"].to_numpy()[mask]
                keep_pid.extend(int(p) for p in pids)
                keep_poly.extend([int(poly_id)] * int(mask.sum()))
        yield pd.DataFrame({"point_id": keep_pid, "poly_id": keep_poly})


def _random_geometry(pid):
    """Polygon, Polygon with a hole, or MultiPolygon around a pid-keyed
    centre, so a repeated poly_id always names the same geometry."""
    cx, cy = (pid % 7) * 3.0, (pid // 7) * 3.0

    def square(x, y, r):
        return [[x - r, y - r], [x + r, y - r], [x + r, y + r], [x - r, y + r],
                [x - r, y - r]]

    kind = pid % 3
    if kind == 0:
        return {"type": "Polygon", "coordinates": [square(cx, cy, 1.0)]}
    if kind == 1:
        return {"type": "Polygon", "coordinates": [
            square(cx, cy, 1.2), square(cx, cy, 0.5)[::-1]]}
    return {"type": "MultiPolygon", "coordinates": [
        [square(cx - 0.6, cy, 0.4)], [square(cx + 0.6, cy, 0.4)]]}


def _random_candidates(rng, n, poly_pool):
    pids = rng.choice(poly_pool, n)
    return pd.DataFrame({
        "point_id": rng.integers(0, 10**12, n),
        "lon": (pids % 7) * 3.0 + rng.uniform(-1.5, 1.5, n),
        "lat": (pids // 7) * 3.0 + rng.uniform(-1.5, 1.5, n),
        "poly_id": pids,
        "geometry_json": [json.dumps(_random_geometry(int(p))) for p in pids],
    })


def test_sort_sliced_refine_equals_groupby_refine():
    """Random candidate batches (holes, MultiPolygons, poly_ids repeated
    across batches, an empty batch): the same pairs in the same order and
    the same parse count as the groupby refine, at a cache cap that
    evicts."""
    import numpy as np

    rng = np.random.default_rng(29)
    pool = np.arange(40)
    batches = [_random_candidates(rng, int(rng.integers(1, 300)), pool)
               for _ in range(12)]
    batches.insert(5, batches[0].iloc[:0])
    for cap in (4, 64):
        want_stats, got_stats = {}, {}
        want = list(_groupby_refine(iter(batches), cap, want_stats))
        got = list(_refine_batches(iter(batches), cache_cap=cap, stats=got_stats))
        assert len(got) == len(want) == len(batches) - 1
        for g, w in zip(got, want):
            assert list(g.columns) == ["point_id", "poly_id"]
            assert g["point_id"].tolist() == w["point_id"].tolist()
            assert g["poly_id"].tolist() == w["poly_id"].tolist()
        assert got_stats == want_stats
    assert sum(len(w) for w in want) > 0
