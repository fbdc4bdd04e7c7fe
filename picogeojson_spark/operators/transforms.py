"""DataFrame-level geometry transforms (SURVEY §2.2-2.3 Spark mappings).

``transform_features`` applies a position->position function to every
coordinate of every row through the kernel ``transform`` (which re-runs ring
closure + winding enforcement exactly like the reference's per-type
``transform`` methods, ``types.py:56-116``). ``map_features_df`` is the
DataFrame realization of ``GeoJSON.map_features`` (conditional rebuild by
geometry type / property subset — intended semantics, see
``geo/query.py``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import codec
from ..geo.algebra import transform as kernel_transform


def translate(dx: float, dy: float):
    """Position function: planar shift (keeps any extra dimensions)."""

    def fn(pos):
        out = [pos[0] + dx, pos[1] + dy]
        out.extend(pos[2:])
        return out

    return fn


def transform_features(features: DataFrame, position_fn,
                       geometry_col: str = "geometry_json",
                       out_col: str = "geometry_json") -> DataFrame:
    """Apply ``position_fn`` to every position of every geometry row."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def tf(geoms):
        out = []
        for g in geoms:
            if g is None:
                out.append(None)
                continue
            d = json.loads(g)
            d.setdefault("crs", None)
            out.append(
                codec.dumps(kernel_transform(d, position_fn),
                            antimeridian_cutting=False, write_bbox=False)
            )
        return pd.Series(out)

    return features.withColumn(out_col, tf(F.col(geometry_col)))


def map_features_df(features: DataFrame, geometry_fn,
                    geometry_type: str = None, properties: dict = None) -> DataFrame:
    """Conditionally rewrite geometries: rows matching the type/property
    predicates get ``geometry_fn(geometry_dict) -> geometry_dict``; other
    rows pass through unchanged (GeoJSON.map_features intended semantics)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..geo.query import propmatch

    @pandas_udf("string")
    def mf(geoms, props_json):
        out = []
        for g, pj in zip(geoms, props_json):
            if g is None:
                out.append(None)
                continue
            d = json.loads(g)
            ok = geometry_type is None or d["type"] == geometry_type
            if ok and properties is not None:
                p = json.loads(pj) if pj else {}
                ok = propmatch(p, properties)
            if not ok:
                out.append(g)
                continue
            d.setdefault("crs", None)
            out.append(
                codec.dumps(geometry_fn(d), antimeridian_cutting=False,
                            write_bbox=False)
            )
        return pd.Series(out)

    return features.withColumn(
        "geometry_json",
        mf(F.col("geometry_json"), F.coalesce(F.col("props_json"), F.lit(""))),
    )
