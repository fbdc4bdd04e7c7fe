"""Hierarchical spatial cell index (H3/S2-style), from-scratch in numpy.

Design: an equirectangular quadtree. Level ``L`` divides the world into
``2^(L+1) x 2^L`` square-degree cells (360°/2^(L+1) wide, 180°/2^L tall).
A cell id packs ``(level, x, y)`` into one int64::

    cell_id = (level << 58) | (x << 29) | y        # L<=28, x<2^29, y<2^28

Properties the engine relies on:

- **hierarchy**: ``parent(cell)`` is a constant-time bit operation, so a
  coarse-level rollup never reshuffles;
- **k-ring**: neighbours are ``x±1 (mod 2^(L+1)), y±1 (clamped)`` — constant
  time, longitude wrap handled, no cross-face special cases;
- **covering**: a bbox covers a dense ``x``-range × ``y``-range of cells, so
  polygon covers are rectangle enumerations (vectorized);
- **SQL-checkable**: the id is plain floor/shift arithmetic, so DuckDB can
  recompute it for the correctness oracle.

This module is the one owner of the grid's arithmetic. The numpy kernel
below is the reference; its SQL twin (:func:`axis_sql`, :func:`cell_sql`,
:func:`ancestors_sql`, :func:`cover_sql`) spells the same operations as
Spark SQL text, which the operators parse with ``F.expr`` so the JVM
computes the cells (no pyspark import here). Operators never respell the
formulas; differential tests pin the twin bit-identical to the kernel.

Trade-off vs true S2 (cube-face quadtree): cells shrink in area toward the
poles. For web-mined geodata (population-weighted) the skew-handling path
(salting + AQE) absorbs the imbalance; the scheme is only a *pruning* index —
join results are refined by the exact winding-number PIP kernel and are
therefore cell-scheme-independent.

Geometries must be dateline-normalized (``cut_dateline``) before covering;
kernel bboxes never wrap because the reference bbox is a plain min/max
(``/root/reference/picogeojson/bbox.py:64-79``).
"""

from __future__ import annotations

import numpy as np

LEVEL_SHIFT = 58
X_SHIFT = 29
MAX_LEVEL = 28
DEFAULT_LEVEL = 12  # ~4.4 km x 4.4 km at the equator


def grid_shape(level: int):
    return 2 ** (level + 1), 2**level


def cell_to_level_xy(cell):
    cell = np.asarray(cell, dtype=np.int64)
    level = cell >> LEVEL_SHIFT
    x = (cell >> X_SHIFT) & ((1 << (LEVEL_SHIFT - X_SHIFT)) - 1)
    y = cell & ((1 << X_SHIFT) - 1)
    return level, x, y


def cell_of(lon, lat, level: int = DEFAULT_LEVEL):
    """Vectorized point -> cell id."""
    nx, ny = grid_shape(level)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return (np.int64(level) << LEVEL_SHIFT) | (x << X_SHIFT) | y


def parent(cell, levels_up: int = 1):
    level, x, y = cell_to_level_xy(cell)
    new_level = level - levels_up
    return (
        (new_level << LEVEL_SHIFT)
        | ((x >> levels_up) << X_SHIFT)
        | (y >> levels_up)
    )


def k_ring(cell: int, k: int):
    """All cell ids within Chebyshev distance ``k`` (lon-wrapped, lat-clamped)."""
    level, x, y = cell_to_level_xy(np.int64(cell))
    level = int(level)
    nx, ny = grid_shape(level)
    dx = np.arange(-k, k + 1)
    dy = np.arange(-k, k + 1)
    xs = np.mod(int(x) + dx, nx)
    ys = int(y) + dy
    ys = ys[(ys >= 0) & (ys < ny)]
    gx, gy = np.meshgrid(xs, ys)
    out = (
        (np.int64(level) << LEVEL_SHIFT)
        | (gx.ravel().astype(np.int64) << X_SHIFT)
        | gy.ravel().astype(np.int64)
    )
    return np.unique(out)


def ring_at(cell: int, k: int):
    """Cells at exactly Chebyshev distance ``k`` (the expansion frontier)."""
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    inner = set(k_ring(cell, k - 1).tolist())
    return np.asarray(
        sorted(set(k_ring(cell, k).tolist()) - inner), dtype=np.int64
    )


def _bbox_cell_range(xmin, ymin, xmax, ymax, level):
    """Pure-int clipped (x0, x1, y0, y1) grid range — covers are tiny, so
    plain arithmetic beats numpy dispatch ~10x here (profiled)."""
    import math

    nx, ny = grid_shape(level)
    x0 = min(max(int(math.floor((xmin + 180.0) / 360.0 * nx)), 0), nx - 1)
    x1 = min(max(int(math.floor((xmax + 180.0) / 360.0 * nx)), 0), nx - 1)
    y0 = min(max(int(math.floor((ymin + 90.0) / 180.0 * ny)), 0), ny - 1)
    y1 = min(max(int(math.floor((ymax + 90.0) / 180.0 * ny)), 0), ny - 1)
    return x0, x1, y0, y1


def cover_bbox(xmin, ymin, xmax, ymax, level: int = DEFAULT_LEVEL,
               max_cells: int = 4096, min_level: int = 0):
    """Cell ids covering a (non-wrapping) lon/lat bbox at ``level``.

    If the rectangle would exceed ``max_cells``, the level is walked up until
    it fits — coarser cells over-select but never under-select, so pruning
    stays correct. The walk stops at ``min_level`` even if the budget is
    exceeded there (join code must keep this aligned with the point-side
    ancestor floor, or pairs would be silently missed).
    """
    level, (x0, x1, y0, y1) = _fit_cover_level(
        xmin, ymin, xmax, ymax, level, max_cells, min_level
    )
    tag = level << LEVEL_SHIFT
    return np.fromiter(
        (tag | (x << X_SHIFT) | y
         for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)),
        dtype=np.int64,
        count=(x1 - x0 + 1) * (y1 - y0 + 1),
    )


def _fit_cover_level(xmin, ymin, xmax, ymax, level, max_cells, min_level):
    """Coarsest-fitting cover level + its grid range. Jumps straight to the
    level the bbox SIZE predicts (each level halves both axis counts, so the
    cell count shrinks ~4x per step) and fixes up edge effects with at most
    a step or two — the per-level linear walk dominated the mining profile
    (~4 range computations per feature)."""
    orig = level
    x0, x1, y0, y1 = _bbox_cell_range(xmin, ymin, xmax, ymax, level)
    n = (x1 - x0 + 1) * (y1 - y0 + 1)
    if n > max_cells:
        # each level down divides the count by ~4; predict the jump
        import math

        jump = max(int(math.log(n / max_cells, 4)), 1)
        level = max(level - jump, min_level)
        x0, x1, y0, y1 = _bbox_cell_range(xmin, ymin, xmax, ymax, level)
        while level > min_level and (x1 - x0 + 1) * (y1 - y0 + 1) > max_cells:
            level -= 1
            x0, x1, y0, y1 = _bbox_cell_range(xmin, ymin, xmax, ymax, level)
        # exact first-fit semantics: if edge effects made the prediction
        # overshoot, climb back to the FINEST level that still fits (what
        # the pre-jump linear walk returned)
        while level < orig:
            nxt = _bbox_cell_range(xmin, ymin, xmax, ymax, level + 1)
            if (nxt[1] - nxt[0] + 1) * (nxt[3] - nxt[2] + 1) > max_cells:
                break
            level += 1
            x0, x1, y0, y1 = nxt
    return level, (x0, x1, y0, y1)


def cover_bbox_ints(xmin, ymin, xmax, ymax, level: int = DEFAULT_LEVEL,
                    max_cells: int = 4096, min_level: int = 0):
    """:func:`cover_bbox` as a plain ``list[int]`` — the mining UDF consumes
    python ints row by row, so the numpy array round-trip is pure overhead
    there (profiled). Same cells, same order."""
    level, (x0, x1, y0, y1) = _fit_cover_level(
        xmin, ymin, xmax, ymax, level, max_cells, min_level
    )
    tag = level << LEVEL_SHIFT
    return [tag | (x << X_SHIFT) | y
            for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]


def cell_bounds(cell):
    """(lon_min, lat_min, lon_max, lat_max) of a cell."""
    level, x, y = cell_to_level_xy(cell)
    nx = 2 ** (level.astype(np.int64) + 1) if hasattr(level, "astype") else 2 ** (level + 1)
    ny = 2**level
    w = 360.0 / nx
    h = 180.0 / ny
    lon0 = -180.0 + x * w
    lat0 = -90.0 + y * h
    return lon0, lat0, lon0 + w, lat0 + h


# --------------------------------------------------------------- SQL twin


def axis_sql(col: str, offset: float, span: float, n: str, top: str = None
             ) -> str:
    """SQL text of one grid axis of :func:`_bbox_cell_range`:
    ``min(max(floor((v + offset) / span * n), 0), top)`` with ``n`` (a
    double) and ``top`` (``n - 1``, a bigint) given as SQL text;
    ``top=None`` leaves the floor unclamped. The double arithmetic runs in
    the kernel's order (add, divide, multiply, floor — IEEE-754 binary64 on
    both sides; the ``D`` suffix keeps the literals doubles, not decimals).
    No null check: ``greatest``/``least`` skip nulls, so callers guard the
    whole expression once (:func:`null_guard_sql`)."""
    v = "floor(({c} + {o!r}D) / {s!r}D * {n})".format(
        c=col, o=offset, s=span, n=n)
    if top is None:
        return v
    return "least(greatest({}, 0L), {})".format(v, top)


def cell_xy_sql(lon: str, lat: str, level: int, clamp: bool = True):
    """SQL text of :func:`cell_of`'s grid ``(x, y)`` over the columns named
    ``lon`` and ``lat`` at a literal level (no null guard). ``clamp=False``
    leaves the floors unclamped, so ``lon = 180`` gives ``x = nx``."""
    nx, ny = grid_shape(level)

    def axis(col, offset, span, n):
        return axis_sql("`{}`".format(col), offset, span,
                        "{!r}D".format(float(n)),
                        "{}L".format(n - 1) if clamp else None)

    return axis(lon, 180.0, 360.0, nx), axis(lat, 90.0, 180.0, ny)


def null_guard_sql(cols, body: str) -> str:
    """``body``, or NULL when any of the numeric SQL expressions ``cols``
    is null: one check for a whole expression, however often the body
    repeats its inputs."""
    return "IF({} IS NULL, NULL, {})".format(" + ".join(cols), body)


def _packed_cell_sql(lon: str, lat: str, level: int) -> str:
    x, y = cell_xy_sql(lon, lat, level)
    return "{tag}L | shiftleft({x}, {xs}) | {y}".format(
        tag=int(level) << LEVEL_SHIFT, xs=X_SHIFT, x=x, y=y)


def cell_sql(lon: str, lat: str, level: int) -> str:
    """SQL text of :func:`cell_of` over the columns named ``lon`` and
    ``lat``: the :func:`axis_sql` arithmetic at a literal level, the same
    bit packing, and NULL for a null coordinate."""
    return null_guard_sql(["`{}`".format(lon), "`{}`".format(lat)],
                          _packed_cell_sql(lon, lat, level))


def ancestors_sql(lon: str, lat: str, min_level: int, level: int) -> str:
    """SQL text of the array of a point's cells at ``min_level..level``
    (coarsest first), NULL for a null coordinate."""
    return null_guard_sql(
        ["`{}`".format(lon), "`{}`".format(lat)],
        "array({})".format(", ".join(_packed_cell_sql(lon, lat, lv)
                                     for lv in range(min_level, level + 1))))


def cover_sql(bbox: str, level: int, max_cells: int, min_level: int = 0) -> str:
    """SQL text of :func:`cover_bbox_ints` over the bbox struct column
    named ``bbox`` (``xmin, ymin, xmax, ymax``): the same cell ids in the
    same order (x outer, y inner), as ``array<bigint>``; null where
    ``bbox`` or one of its fields is null. Like the kernel it expects
    finite values (callers reject non-finite boxes in Python first, with
    :func:`_bbox_cell_range`), and an inverted axis (``xmin > xmax``, as
    in the 4-value bbox the kernel gives a 3-D MultiPolygon) covers no
    cell, as Python's empty ``range`` does.

    The level is the finest in ``level..min_level`` whose cover fits in
    ``max_cells`` cells, else ``min_level``: one first-fit ``aggregate``
    over the levels. That is :func:`_fit_cover_level`'s answer because
    ``nx`` is a power of two — ``floor(2t) >> 1 == floor(t)``, so a coarser
    level never has more cells. The level is then bound once
    (``transform`` over a one-element array) for the cell enumeration.
    Each axis is :func:`axis_sql` at ``n = 2^(lv+1)`` (x) or ``2^lv`` (y),
    exact in double."""
    if not min_level <= level:
        raise ValueError("cover_sql needs min_level <= level")

    def axis(field, offset, span, shift):
        n = "shiftleft(1L, lv + {})".format(shift)
        return axis_sql("`{}`.`{}`".format(bbox, field), offset, span,
                        "double({})".format(n), "{} - 1L".format(n))

    x0, x1 = (axis(f, 180.0, 360.0, 1) for f in ("xmin", "xmax"))
    y0, y1 = (axis(f, 90.0, 180.0, 0) for f in ("ymin", "ymax"))
    fits = "({x1} - {x0} + 1L) * ({y1} - {y0} + 1L) <= {m}L".format(
        x0=x0, x1=x1, y0=y0, y1=y1, m=int(max_cells))
    pick = ("aggregate(sequence({l}, {ml}, -1), -1, (acc, lv) -> "
            "IF(acc >= 0, acc, IF(lv = {ml} OR {fits}, lv, -1)))").format(
                l=int(level), ml=int(min_level), fits=fits)
    # an inverted axis is an empty range, as in Python (``sequence`` would
    # count down)
    cells = ("IF({x0} <= {x1} AND {y0} <= {y1}, "
             "flatten(transform(sequence({x0}, {x1}), cx -> "
             "transform(sequence({y0}, {y1}), cy -> "
             "shiftleft(bigint(lv), {ls}) | shiftleft(cx, {xs}) | cy))), "
             "array())").format(
                 x0=x0, x1=x1, y0=y0, y1=y1, ls=LEVEL_SHIFT, xs=X_SHIFT)
    return null_guard_sql(
        ["`{}`.`{}`".format(bbox, f) for f in ("xmin", "ymin", "xmax", "ymax")],
        "transform(array({}), lv -> {})[0]".format(pick, cells))
