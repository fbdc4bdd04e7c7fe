"""The mining kernel's layer split, timed without Spark.

On a fixed sample of pages this replays the mining UDF's per-page body
(``operators.features.mine_features``): the candidate scan, the parse call
the UDF makes, and the UDF's own row explosion ``_feature_rows``, with the
dateline cut, bbox, cell cover and geometry emission it calls timed in
place. It also times the codec's string round trip (``loads``/``dumps`` at
reference defaults) and the point-in-polygon kernel against the spine's
grid polygons.
"""

from __future__ import annotations

import collections
import contextlib
import json
import time
import types

#: pages of each spine input replayed through the kernels
KERNEL_PAGES = 3000
#: the parse call of the mining UDF, replayed here as is
MINING_PARSE_CALL = "codec.parse_object(obj, _listify=False)"


class _Timers:
    def __init__(self):
        self.busy = collections.Counter()
        self.calls = collections.Counter()

    def call(self, name, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.busy[name] += time.perf_counter() - t0
            self.calls[name] += 1

    def wrap(self, name, fn):
        return lambda *args, **kwargs: self.call(name, fn, *args, **kwargs)


@contextlib.contextmanager
def _timed_row_explosion(t):
    """Time the kernels ``_feature_rows`` calls by swapping timed wrappers
    into the names it looks up in the features module: ``cut_dateline``,
    ``_bbox2d`` (``geometry_bbox`` reduced to 2-D), ``cover_bbox_ints`` and
    ``codec.to_dict``."""
    from picogeojson_spark.geo import codec
    from picogeojson_spark.operators import features

    codec_view = types.SimpleNamespace(**vars(codec))
    codec_view.to_dict = t.wrap("geo.codec.to_dict", codec.to_dict)
    swaps = [
        (features, "cut_dateline", t.wrap("geo.dateline.cut_dateline",
                                          features.cut_dateline)),
        (features, "cover_bbox_ints", t.wrap("geo.cells.cover_bbox_ints",
                                             features.cover_bbox_ints)),
        (features, "codec", codec_view),
        (features, "_bbox2d", t.wrap("geo.bounds.geometry_bbox",
                                     features._bbox2d)),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in swaps]
    try:
        for mod, name, fn in swaps:
            setattr(mod, name, fn)
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def kernel_split(pages, grid_geometries, rows_out=None):
    """Per-layer busy seconds and call counts over ``pages`` ((url, text)
    pairs), mined as the UDF mines them.

    ``grid_geometries`` maps poly_id -> geometry dict for the grid the spine
    joins against; every mined Point off the grid lines is tested against
    its grid cell's polygon, batched per polygon like the refine stage does.
    ``rows_out``, a list, receives the mined feature rows.
    """
    from picogeojson_spark.geo import codec
    from picogeojson_spark.geo.cells import DEFAULT_LEVEL
    from picogeojson_spark.geo.pip import points_in_geometry
    from picogeojson_spark.operators import features

    import numpy as np

    from .inputs import grid_poly_id

    t = _Timers()
    cells_out = dumps_errors = 0
    points = collections.defaultdict(list)
    for url, text in pages:
        doc_id = features._doc_id(url)
        cands = t.call("features.iter_candidates",
                       lambda s: list(features.iter_candidates(s)), text)
        parsed_docs = []
        for raw, obj in cands:
            try:
                tree = (t.call("geo.codec.parse_object", codec.parse_object,
                               obj, _listify=False)
                        if obj is not None else codec.loads(raw))
                parsed_docs.append((tree, None, raw))
            except (TypeError, ValueError, KeyError, IndexError) as e:
                parsed_docs.append((None, "{}: {}".format(type(e).__name__, e), raw))
                continue
            # the emit side's string round trip at reference defaults; like
            # the reference, dumps cannot bbox a FeatureCollection that mixes
            # 2-D and 3-D features, which the corpus has
            back = t.call("geo.codec.loads", codec.loads, raw)
            try:
                t.call("geo.codec.dumps", codec.dumps, back)
            except IndexError:
                dumps_errors += 1
        with _timed_row_explosion(t):
            rows = list(features._feature_rows(url, doc_id, parsed_docs,
                                               DEFAULT_LEVEL, 32))
        for row in rows:
            cells_out += len(row["cells"] or ())
            if row["geom_type"] == "Point":
                pid = grid_poly_id(row["lon"], row["lat"])
                if pid is not None:
                    points[pid].append((row["lon"], row["lat"]))
        if rows_out is not None:
            rows_out.extend(rows)
    hits = 0
    for pid, pts in points.items():
        xy = np.asarray(pts, dtype=np.float64)
        mask = t.call("geo.pip.points_in_geometry", points_in_geometry,
                      xy[:, 0], xy[:, 1], grid_geometries[pid])
        hits += int(mask.sum())
    out = {}
    for name in t.calls:
        out[name + ".busy_s"] = t.busy[name]
        out[name + ".calls"] = t.calls[name]
    out["geo.cells.cover_bbox_ints.cells_out"] = cells_out
    out["geo.codec.dumps.errors"] = dumps_errors
    out["geo.pip.points_in_geometry.points"] = sum(len(p) for p in points.values())
    out["geo.pip.points_in_geometry.hits"] = hits
    return out


def grid_geometries(polygons_table):
    """poly_id -> geometry dict from the spine's polygon parquet table."""
    return {int(pid): json.loads(gj) for pid, gj in zip(
        polygons_table.column("poly_id").to_pylist(),
        polygons_table.column("geometry_json").to_pylist())}
