"""picogeojson_spark — a PySpark-native spatial-join + tiling engine.

Mines RFC-7946 GeoJSON out of Common-Crawl-style page tables, indexes
geometries into hierarchical cells, and answers point-in-polygon joins, kNN,
and raster-tile↔vector assignment — with per-row geometry semantics matching
fortyninemaps/picogeojson v0.8.0 exactly (the ``geo`` kernel), and execution
expressed as Spark DataFrame plans with Arrow-batched pandas UDFs.
"""

from .session import install_zip_invalidation_guard

__version__ = "0.1.0"

# every Python worker that unpickles an engine UDF imports this package, so
# the guard covers all of the engine's Python stages
install_zip_invalidation_guard()
