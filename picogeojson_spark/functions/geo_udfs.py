"""Arrow-batched UDF entry points around the geometry kernel.

Every UDF here is a thin batched wrapper: JSON string columns in, derived
columns out, with the kernel doing the per-document work (SURVEY §2.10 —
the reference's user-callable surface becomes vectorized pandas UDFs).
"""

from __future__ import annotations


def parse_normalize_udf():
    """geometry_json -> struct(geom_type, first_x, first_y, second_x,
    second_y, xmin, ymin, xmax, ymax, n_vertices) after kernel parse
    (ring closure + winding enforcement + CRS defaulting)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..geo import codec
    from ..geo.bounds import geometry_bbox

    schema = (
        "geom_type string, first_x double, first_y double, second_x double, "
        "second_y double, xmin double, ymin double, xmax double, ymax double, "
        "n_vertices int"
    )

    @pandas_udf(schema)
    def parse_normalize(geojson):
        rows = []
        for s in geojson:
            try:
                g = codec.loads(s)
                bb = geometry_bbox(g)
                ndim = len(bb) // 2
                if g["type"] == "Point":
                    ring = [g["coordinates"], g["coordinates"]]
                elif g["type"] == "Polygon":
                    ring = g["coordinates"][0]
                else:
                    ring = (
                        g["coordinates"]
                        if not isinstance(g["coordinates"][0][0], (list, tuple))
                        else g["coordinates"][0]
                    )
                rows.append(
                    {
                        "geom_type": g["type"],
                        "first_x": float(ring[0][0]),
                        "first_y": float(ring[0][1]),
                        "second_x": float(ring[1][0]),
                        "second_y": float(ring[1][1]),
                        "xmin": float(bb[0]),
                        "ymin": float(bb[1]),
                        "xmax": float(bb[ndim]),
                        "ymax": float(bb[ndim + 1]),
                        "n_vertices": len(ring),
                    }
                )
            except Exception as e:  # noqa: BLE001
                rows.append(
                    {
                        "geom_type": "error:{}".format(type(e).__name__),
                        "first_x": None, "first_y": None, "second_x": None,
                        "second_y": None, "xmin": None, "ymin": None,
                        "xmax": None, "ymax": None, "n_vertices": None,
                    }
                )
        return pd.DataFrame(rows)

    return parse_normalize


def dateline_cut_udf():
    """geometry_json -> struct(out_type, n_parts, cross_lat) after the
    serialize path's antimeridian cut (kernel semantics incl. the
    round(...,8) crossing latitude)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..geo import codec
    from ..geo.dateline import cut_dateline

    @pandas_udf("out_type string, n_parts int, cross_lat double")
    def dateline_cut(geojson):
        rows = []
        for s in geojson:
            g = codec.loads(s)
            cut = cut_dateline(g)
            if cut["type"] == "MultiLineString":
                parts = cut["coordinates"]
                # the split vertex is the appended (±180, y) point
                cross = parts[0][-1][1]
            elif cut["type"] == "MultiPolygon":
                parts = cut["coordinates"]
                cross = None
            else:
                parts = [cut["coordinates"]]
                cross = None
            rows.append(
                {"out_type": cut["type"], "n_parts": len(parts), "cross_lat": cross}
            )
        return pd.DataFrame(rows)

    return dateline_cut
