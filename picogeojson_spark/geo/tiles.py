"""Web-Mercator XYZ tile assignment (raster-tile ↔ vector), numpy-vectorized.

Standard slippy-map scheme: at zoom ``z`` the world is ``2^z x 2^z`` tiles in
EPSG:3857; latitude clamped to ±85.05112878°. The formulas are kept as plain
``floor``/``ln``/``tan`` arithmetic so a SQL engine (the DuckDB correctness
oracle) reproduces the exact same doubles:

    xt = floor((lon + 180) / 360 * 2^z)
    yt = floor((1 - ln(tan(radians(lat)) + 1/cos(radians(lat))) / pi) / 2 * 2^z)

tile_id packs ``(z, x, y)`` like the cell id: ``(z << 58) | (x << 29) | y``.

This module is the one owner of the tile arithmetic: :func:`tile_xy` is the
numpy reference and :func:`tile_xy_sql` its Spark SQL twin (text the
operators parse with ``F.expr``; no pyspark import here). Operators never
respell the formulas; differential tests pin the twin bit-identical.
"""

from __future__ import annotations

import numpy as np

MAX_MERC_LAT = 85.05112878
Z_SHIFT = 58
X_SHIFT = 29


def tile_xy(lon, lat, z: int):
    """Vectorized point -> (x, y) tile indices at zoom ``z``."""
    n = 2**z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_MERC_LAT, MAX_MERC_LAT)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    rad = np.radians(lat)
    y = np.clip(
        np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * n),
        0,
        n - 1,
    ).astype(np.int64)
    return x, y


def tile_xy_sql(lon: str, lat: str, z: int):
    """SQL text of :func:`tile_xy` over the double SQL expressions ``lon``
    and ``lat`` (a column name needs its backticks): ``(x, y)`` as bigint,
    the same IEEE-754 double operations in
    the same order (latitude clamp, floor, clamp to ``0..n-1``; the ``D``
    suffix keeps the literals doubles)."""
    n = 2**z
    lat_c = "greatest(least({}, {m!r}D), {nm!r}D)".format(
        lat, m=MAX_MERC_LAT, nm=-MAX_MERC_LAT)
    x = "floor(({} + 180.0D) / 360.0D * {n!r}D)".format(lon, n=float(n))
    y = ("floor((1.0D - ln(tan(radians({c})) + 1.0D / cos(radians({c}))) "
         "/ {pi!r}D) / 2.0D * {n!r}D)").format(c=lat_c, pi=np.pi, n=float(n))
    return tuple("greatest(least({}, {}L), 0L)".format(v, n - 1)
                 for v in (x, y))


def tile_id(z, x, y):
    return (np.int64(z) << Z_SHIFT) | (np.int64(x) << X_SHIFT) | np.int64(y)


def tile_of(lon, lat, z: int):
    x, y = tile_xy(lon, lat, z)
    return tile_id(z, x, y)


def tile_cover_bbox(xmin, ymin, xmax, ymax, z: int):
    """Tile ids covering a (non-wrapping) lon/lat bbox at zoom ``z``.

    Mercator ``y`` decreases with latitude, so the y-range comes from
    (ymax -> y0, ymin -> y1).
    """
    x0, y1 = tile_xy(xmin, ymin, z)
    x1, y0 = tile_xy(xmax, ymax, z)
    xs = np.arange(int(x0), int(x1) + 1, dtype=np.int64)
    ys = np.arange(int(y0), int(y1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return (
        (np.int64(z) << Z_SHIFT)
        | (gx.ravel() << X_SHIFT)
        | gy.ravel()
    )


def tile_unpack(tid):
    tid = np.asarray(tid, dtype=np.int64)
    z = tid >> Z_SHIFT
    x = (tid >> X_SHIFT) & ((1 << (Z_SHIFT - X_SHIFT)) - 1)
    y = tid & ((1 << X_SHIFT) - 1)
    return z, x, y
