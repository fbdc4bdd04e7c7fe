"""pages -> features: the engine's spine.

Lazy DataFrame plan::

    pages --mapInPandas--> (url, doc_id, feature_idx, geom_type,
                            geometry_json, props, props_json, feature_id,
                            crs, bbox, lon, lat, parse_error)
          --select--> the same columns + cells = cover_expr(bbox)

One Arrow batch UDF fuses extract→mine→parse→normalize→cut→bbox (the
reference's whole read path runs per document inside the batch; see SURVEY
§3.1), so there is exactly one JVM↔Python crossing and no shuffle. The only
shuffles in downstream pipelines are the joins/aggregations themselves.
The bbox cell cover ``cells`` is a JVM expression over the mined ``bbox``
(``pip_join.cover_expr``, bit-identical to ``geo.cells.cover_bbox_ints``),
so Catalyst prunes it from every query that does not select it.

Mining: a string-aware balanced-brace scanner finds top-level JSON object
candidates in ``text``; candidates whose ``"type"`` member is an RFC-7946
type name are strict-parsed by the kernel (winding enforcement, ring
closure, CRS defaulting — ``/root/reference/picogeojson/deserializer.py``
semantics). Well-formed-looking candidates that fail strict parsing yield a
``parse_error`` row instead of raising.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import codec
from ..geo.algebra import ATOMIC_TYPES  # noqa: F401  (re-export convenience)
from ..geo.bounds import geometry_bbox
from ..geo.cells import DEFAULT_LEVEL, _bbox_cell_range, cover_bbox_ints
from ..geo.dateline import cut_dateline
from ..sources.extract import extract_text
from .pip_join import cover_expr

_TYPE_HINT = re.compile(
    r'"type"\s*:\s*"(?:Point|MultiPoint|LineString|MultiLineString|Polygon|'
    r'MultiPolygon|GeometryCollection|Feature|FeatureCollection)"'
)

BBOX_DDL = "bbox struct<xmin: double, ymin: double, xmax: double, ymax: double>"

#: the columns of ``mine_features``, in order. ``cells`` is computed in the
#: JVM from ``bbox`` after the mining UDF (see the module docstring); the
#: UDF itself returns every other column.
FEATURES_SCHEMA_DDL = (
    "url string, doc_id long, feature_idx int, geom_type string, "
    "geometry_json string, props map<string,string>, props_json string, "
    "feature_id string, crs string, " + BBOX_DDL + ", "
    "lon double, lat double, cells array<long>, parse_error string"
)
_UDF_SCHEMA_DDL = FEATURES_SCHEMA_DDL.replace("cells array<long>, ", "")
_UDF_COLUMNS = [
    "url", "doc_id", "feature_idx", "geom_type", "geometry_json", "props",
    "props_json", "feature_id", "crs", "bbox", "lon", "lat", "parse_error",
]


def _scan_balanced(s: str, start: int) -> int:
    """Return the index one past the matching '}' for the '{' at ``start``,
    honoring JSON string literals and escapes; -1 if unbalanced."""
    depth = 0
    in_str = False
    esc = False
    i = start
    n = len(s)
    while i < n:
        c = s[i]
        if in_str:
            if esc:
                esc = False
            elif c == "\\":
                esc = True
            elif c == '"':
                in_str = False
        else:
            if c == '"':
                in_str = True
            elif c == "{":
                depth += 1
            elif c == "}":
                depth -= 1
                if depth == 0:
                    return i + 1
        i += 1
    return -1


_DECODER = json.JSONDecoder()


def iter_candidates(text: str):
    """Yield (raw substring, parsed dict | None) for every top-level JSON
    object that looks like GeoJSON.

    Fast path: ``JSONDecoder.raw_decode`` at each '{' finds the span AND
    parses it in one C-speed pass (3.2x the per-char Python scan on the
    synth corpus, measured). Invalid-JSON-but-brace-balanced blocks fall
    back to the scan and yield ``(span, None)`` so the parse_error contract
    (invalid candidates become error rows, not silent drops) is unchanged —
    candidate-for-candidate equivalent to the scan-only miner by
    construction (valid JSON consumes exactly its balanced span).
    """
    i = 0
    n = len(text)
    while i < n:
        j = text.find("{", i)
        if j < 0:
            return
        try:
            obj, end = _DECODER.raw_decode(text, j)
        except ValueError:
            end = _scan_balanced(text, j)
            if end < 0:
                i = j + 1
                continue
            span = text[j:end]
            if _TYPE_HINT.search(span):
                yield span, None
                i = end
            else:
                i = j + 1
            continue
        raw = text[j:end]
        if _TYPE_HINT.search(raw):
            yield raw, obj
            i = end
        else:
            i = j + 1


def mine_candidates(text: str):
    """Yield top-level JSON object substrings that look like GeoJSON."""
    for raw, _obj in iter_candidates(text):
        yield raw


_GEOM_OPTS = codec.SerializeOptions(antimeridian_cutting=False, write_bbox=False)

# ``json.dumps`` with any non-default option builds a new encoder per call;
# these are the two it would build, made once
_dumps_sorted = json.JSONEncoder(sort_keys=True).encode
_dumps_compact = json.JSONEncoder(separators=(",", ":")).encode


def _flat_props(props):
    if not isinstance(props, dict):
        return None, None
    flat = {}
    for k, v in props.items():
        flat[str(k)] = v if isinstance(v, str) else _dumps_sorted(v)
    return flat, _dumps_sorted(props)


def _bbox2d(geom):
    bb = geometry_bbox(geom)
    if bb is None:
        return None
    ndim = len(bb) // 2
    return (float(bb[0]), float(bb[1]), float(bb[ndim]), float(bb[ndim + 1]))


def _feature_rows(url, doc_id, parsed_docs, level, max_cells):
    """Explode parsed documents into canonical feature rows.

    ``max_cells=None`` leaves ``cells`` None (the mining UDF: the cover is
    ``cover_expr`` in the JVM) but still checks the bbox at ``level``, so a
    non-finite one becomes the same ``parse_error`` row as with a cover."""
    idx = 0
    for parsed, err, raw in parsed_docs:
        if err is not None:
            yield {
                "url": url, "doc_id": doc_id, "feature_idx": idx,
                "geom_type": None, "geometry_json": None, "props": None,
                "props_json": None, "feature_id": None, "crs": None,
                "bbox": None, "lon": None, "lat": None, "cells": None,
                "parse_error": err,
            }
            idx += 1
            continue
        if parsed["type"] == "FeatureCollection":
            units = [(f, f.get("crs")) for f in parsed["features"]]
        else:
            units = [(parsed, parsed.get("crs"))]
        for unit, crs in units:
            if unit["type"] == "Feature":
                geom = unit["geometry"]
                flat, pjson = _flat_props(unit.get("properties"))
                fid = unit.get("id")
                fid = None if fid is None else str(fid)
            else:
                geom = unit
                flat, pjson, fid = None, None, None
            try:
                cut = cut_dateline(geom)
                bb = _bbox2d(cut)
                if bb is None:
                    cells = None
                elif max_cells is None:
                    _bbox_cell_range(bb[0], bb[1], bb[2], bb[3], level)
                    cells = None
                else:
                    cells = cover_bbox_ints(
                        bb[0], bb[1], bb[2], bb[3], level, max_cells)
            except (TypeError, ValueError, KeyError, IndexError,
                    OverflowError) as e:
                # degenerate shapes the reference itself cannot serialize
                # (e.g. mixed-dimensionality GeometryCollections) and
                # non-finite coordinates (NaN, Infinity, 1e400), which have
                # no cell, surface as error rows, never as task failures
                yield {
                    "url": url, "doc_id": doc_id, "feature_idx": idx,
                    "geom_type": geom.get("type"), "geometry_json": None,
                    "props": flat, "props_json": pjson, "feature_id": fid,
                    "crs": None, "bbox": None, "lon": None, "lat": None,
                    "cells": None,
                    "parse_error": "{}: {}".format(type(e).__name__, e),
                }
                idx += 1
                continue
            if bb is None:
                lon = lat = None
            else:
                lon = (bb[0] + bb[2]) / 2.0
                lat = (bb[1] + bb[3]) / 2.0
            if geom["type"] == "Point":
                lon, lat = float(geom["coordinates"][0]), float(geom["coordinates"][1])
            yield {
                "url": url, "doc_id": doc_id, "feature_idx": idx,
                "geom_type": geom["type"],
                "geometry_json": _dumps_compact(
                    codec.to_dict(cut, _GEOM_OPTS, root=False)),
                "props": flat, "props_json": pjson, "feature_id": fid,
                "crs": _dumps_sorted(crs) if crs is not None else None,
                "bbox": bb, "lon": lon, "lat": lat, "cells": cells,
                "parse_error": None,
            }
            idx += 1


def mine_features(
    pages: DataFrame,
    level: int = DEFAULT_LEVEL,
    max_cells: int = 32,
    use_html: bool = False,
    partitions: int = None,
) -> DataFrame:
    """pages -> canonical features DataFrame (one fused Arrow UDF).

    ``use_html=True`` re-extracts text from the ``html`` column through the
    shared extractor instead of trusting the ``text`` column.

    ``partitions``: the mining stage is CPU-bound in Python, but Spark sizes
    scan partitions by *bytes* (maxPartitionBytes coalesces small files into
    a handful of splits), which would cap UDF parallelism far below the core
    count. Pass the cluster's task slots (the default, None, uses
    ``defaultParallelism``: one mining task per slot) to repartition the
    (cheap) text upstream of the (expensive) parse. Pass 0 to keep the scan
    partitioning untouched.

    ``cells`` is ``cover_expr(bbox, level, max_cells)``, evaluated in the
    JVM only by queries that select it.
    """
    import pandas as pd

    cols = ["url", "html"] if use_html else ["url", "text"]
    if partitions is None:
        # one task per slot: with the per-task zip re-reads gone, a second
        # wave of smaller tasks no longer pays for its set-up (see CLAUDE.md)
        partitions = pages.sparkSession.sparkContext.defaultParallelism
    if partitions:
        pages = pages.repartition(partitions)

    def run(batches):
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf[cols[1]]):
                text = extract_text(bytes(payload)) if use_html else payload
                doc_id = _doc_id(url)
                parsed_docs = []
                for raw, obj in iter_candidates(text):
                    try:
                        tree = (codec.parse_object(obj, _listify=False)
                                if obj is not None else codec.loads(raw))
                        parsed_docs.append((tree, None, raw))
                    except (TypeError, ValueError, KeyError, IndexError) as e:
                        parsed_docs.append(
                            (None, "{}: {}".format(type(e).__name__, e), raw)
                        )
                rows.extend(_feature_rows(url, doc_id, parsed_docs, level, None))
            yield pd.DataFrame(rows, columns=_UDF_COLUMNS)

    mined = pages.select(*cols).mapInPandas(run, schema=_UDF_SCHEMA_DDL)
    # the cast only relaxes containsNull=false to the DDL's array<bigint>
    cells = cover_expr("bbox", level, max_cells).cast("array<bigint>")
    return mined.select(*_UDF_COLUMNS[:-1], cells.alias("cells"), "parse_error")


def _doc_id(url: str) -> int:
    """Deterministic 63-bit id from the url (FNV-1a, engine-side only)."""
    h = 1469598103934665603
    for b in url.encode("utf-8"):
        h = ((h ^ b) * 1099511628211) & 0x7FFFFFFFFFFFFFFF
    return h


def with_reextracted_text(pages: DataFrame) -> DataFrame:
    """Recompute ``text`` from ``html`` via the shared extractor (UDF), kept
    alongside the stored column for the byte-identity invariant check."""
    from pyspark.sql.functions import pandas_udf

    # NB: no type hints — PEP-563 stringified annotations confuse pyspark's
    # eval-type inference under `from __future__ import annotations`
    @pandas_udf("string")
    def reextract(html):
        return html.map(lambda b: extract_text(bytes(b)))

    return pages.withColumn("text_reextracted", reextract(F.col("html")))


def filter_by_type(features: DataFrame, geom_type: str) -> DataFrame:
    """`GeoJSON.extract` as a DataFrame filter (SURVEY §2.2)."""
    return features.filter(F.col("geom_type") == F.lit(geom_type))


def filter_by_props(features: DataFrame, required: dict) -> DataFrame:
    """`propmatch` as conjunctive map-column predicates (SURVEY §2.2)."""
    out = features
    for k, v in required.items():
        want = v if isinstance(v, str) else json.dumps(v, sort_keys=True)
        out = out.filter(F.element_at(F.col("props"), k) == F.lit(want))
    return out
