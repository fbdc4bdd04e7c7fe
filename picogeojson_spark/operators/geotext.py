"""Geotagging: mine coordinate mentions out of page text, cell-indexed.

The graft's core combination — web TEXT in, GEO index out: a conservative
"lat, lon" decimal-pair regex runs in the scan stage (whole-stage codegen,
no UDF), pairs re-join via ``arrays_zip`` + ``posexplode`` (mention order
preserved), out-of-range pairs are dropped (the classic 999.5 trap), and
survivors get the engine's hierarchical cell id — ready for pip_join /
kNN / tiling like any other point table.

Scale shape: pure per-row expressions until the explode; output is
mention-sized, never text-sized; zero shuffles inside the operator. The
regex is restricted to the Java/RE2-agreeing dialect subset (repo rule),
so the DuckDB oracle replays extraction bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.cells import cell_sql

COORD_RE = r"(-?[0-9]{1,3}\.[0-9]+)\s*,\s*(-?[0-9]{1,3}\.[0-9]+)"


def extract_coordinates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 8,
) -> DataFrame:
    """One row per valid coordinate mention:
    ``(doc_id, idx, lat, lon, cell)`` with ``idx`` the mention's order in
    the document, bounds-validated (|lat| < 90, |lon| < 180 strictly), and
    ``cell`` the hierarchical cell id at ``level``
    (``geo.cells.cell_sql``, bit-identical to ``geo.cells.cell_of``: a
    mention one ulp below lon 180 still gets the last grid column)."""
    lats = F.regexp_extract_all(F.col(text_col), F.lit(COORD_RE), 1)
    lons = F.regexp_extract_all(F.col(text_col), F.lit(COORD_RE), 2)
    exploded = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.arrays_zip(lats.alias("a"), lons.alias("o")))
            .alias("idx", "p"),
        )
        .select(
            "doc_id",
            F.col("idx").cast("int").alias("idx"),
            F.col("p.a").cast("double").alias("lat"),
            F.col("p.o").cast("double").alias("lon"),
        )
        .filter((F.abs(F.col("lat")) < 90.0) & (F.abs(F.col("lon")) < 180.0))
    )
    return exploded.withColumn("cell", F.expr(cell_sql("lon", "lat", level)))

def trajectory_measures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document TRAJECTORY built from its ordered coordinate mentions —
    the geotagging bridge turned into movement analytics: a page narrating
    "went from 12.25, 40.75 to 13.25, 41.75 ..." becomes a polyline whose
    measures come out as exact integers.

    Output (docs with >= 2 valid mentions only): ``doc_id``, ``n_pts``,
    ``path_len_u`` (sum over consecutive-mention segments of
    ``floor(sqrt(dx^2 + dy^2))`` in planar micro-degree units),
    ``disp_u`` (same metric, first mention straight to last), and the
    trajectory bbox ``(lat_min_u, lat_max_u, lon_min_u, lon_max_u)``.

    Determinism contract (the reason every emitted value is an integer):
    coordinates become micro-degrees via ``floor(lat * 1e6)`` — both
    engines parse the same decimal text to the same IEEE double, the
    multiply and floor are correctly-rounded IEEE ops, so the integers are
    bit-identical cross-engine even OFF the test lattice; each segment
    length is ``floor(sqrt())`` of an integer-valued radicand (exact up to
    2^53, correctly-rounded beyond), the same trick ``temperature_sample``
    pins.  Floats never reach the output.

    Scale shape: extraction is scan-stage codegen; ONE shuffle total — the
    per-doc window (lag) hash-partitions by doc_id and the following
    groupBy(doc_id) reuses that exchange.  Output is document-sized.
    """
    from pyspark.sql import Window

    m = extract_coordinates(docs, id_col, text_col).select(
        "doc_id", "idx",
        F.floor(F.col("lat") * 1000000.0).cast("long").alias("lat_u"),
        F.floor(F.col("lon") * 1000000.0).cast("long").alias("lon_u"),
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    seg = (
        m.withColumn("plat", F.lag("lat_u").over(w))
        .withColumn("plon", F.lag("lon_u").over(w))
    )
    dx = F.col("lon_u") - F.col("plon")
    dy = F.col("lat_u") - F.col("plat")
    seg_len = F.when(
        F.col("plat").isNull(), F.lit(0).cast("long")
    ).otherwise(F.floor(F.sqrt((dx * dx + dy * dy).cast("double"))))
    out = (
        seg.withColumn("seg_len", seg_len)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pts"),
            F.sum("seg_len").cast("long").alias("path_len_u"),
            F.min_by("lat_u", "idx").alias("first_lat"),
            F.min_by("lon_u", "idx").alias("first_lon"),
            F.max_by("lat_u", "idx").alias("last_lat"),
            F.max_by("lon_u", "idx").alias("last_lon"),
            F.min("lat_u").cast("long").alias("lat_min_u"),
            F.max("lat_u").cast("long").alias("lat_max_u"),
            F.min("lon_u").cast("long").alias("lon_min_u"),
            F.max("lon_u").cast("long").alias("lon_max_u"),
        )
        .filter(F.col("n_pts") >= 2)
    )
    ddx = F.col("last_lon") - F.col("first_lon")
    ddy = F.col("last_lat") - F.col("first_lat")
    return out.select(
        "doc_id", "n_pts", "path_len_u",
        F.floor(F.sqrt((ddx * ddx + ddy * ddy).cast("double")))
        .cast("long").alias("disp_u"),
        "lat_min_u", "lat_max_u", "lon_min_u", "lon_max_u",
    )


def staypoints(
    docs: DataFrame,
    cell_udeg: int = 10_000_000,
    min_pts: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stay-point detection over text-mined trajectories (the dwell
    complement of ``od_flows``): a maximal run of CONSECUTIVE valid
    mentions that snap to the same coarse cell is a stay; runs with at
    least ``min_pts`` mentions are emitted as
    ``(doc_id, run_id, cx, cy, n_mentions, first_idx, last_idx)``.

    Consecutive means consecutive among VALID mentions — a bounds-dropped
    mention (the 999.5 trap) splices the sequence, so a stay is never
    broken by a dropped mention between two same-cell neighbours.

    Scale shape: extraction is scan-stage codegen; ONE shuffle total —
    the per-doc window hash-partitions by doc_id, the second window
    (running sum -> run ids) reuses the same partitioning AND sort, and
    the (doc_id, run_id) groupBy is satisfied by the doc_id clustering.
    Output is stay-sized, never mention- or text-sized.
    """
    from pyspark.sql import Window

    m = extract_coordinates(docs, id_col=id_col, text_col=text_col)
    cx = F.floor(F.floor(F.col("lon") * 1e6).cast("long")
                 / F.lit(float(cell_udeg))).cast("long")
    cy = F.floor(F.floor(F.col("lat") * 1e6).cast("long")
                 / F.lit(float(cell_udeg))).cast("long")
    w = Window.partitionBy("doc_id").orderBy("idx")
    cells = (
        m.select("doc_id", "idx", cx.alias("cx"), cy.alias("cy"))
        .withColumn("pcx", F.lag("cx").over(w))
        .withColumn("pcy", F.lag("cy").over(w))
    )
    new_run = F.when(
        F.col("pcx").isNull()
        | (F.col("pcx") != F.col("cx")) | (F.col("pcy") != F.col("cy")),
        1,
    ).otherwise(0)
    runs = cells.withColumn(
        "run_id", F.sum(new_run).over(w).cast("long"))
    return (
        runs.groupBy("doc_id", "run_id")
        .agg(
            F.min("cx").alias("cx"),
            F.min("cy").alias("cy"),
            F.count("*").cast("long").alias("n_mentions"),
            F.min("idx").cast("int").alias("first_idx"),
            F.max("idx").cast("int").alias("last_idx"),
        )
        .filter(F.col("n_mentions") >= int(min_pts))
    )


def od_flows(
    docs: DataFrame,
    cell_udeg: int = 10_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Origin-destination flow matrix from text-mined trajectories: each
    document's consecutive valid coordinate mentions are movements; both
    endpoints snap to a coarse cell and flows aggregate to
    ``(from_cx, from_cy, to_cx, to_cy, n_trips, n_docs)`` (same-cell
    hops dropped — they are dwell, not flow).

    Scale shape: mentions are mention-sized, never text-sized; ONE
    per-doc window shuffle orders the polyline (trajectory partitions
    are waypoint-sized), then ONE map-side-combined aggregate on the
    flow key whose reduce side is OD-matrix-sized.  ``n_docs`` is a
    COUNT(DISTINCT doc) inside the same aggregate (Spark plans a
    two-phase partial-distinct — still no extra corpus pass).
    """
    from pyspark.sql import Window

    m = extract_coordinates(docs, id_col=id_col, text_col=text_col)
    cx = F.floor(F.floor(F.col("lon") * 1e6).cast("long")
                 / F.lit(float(cell_udeg))).cast("long")
    cy = F.floor(F.floor(F.col("lat") * 1e6).cast("long")
                 / F.lit(float(cell_udeg))).cast("long")
    w = Window.partitionBy(id_col).orderBy("idx")
    cells = (
        m.select(id_col, "idx", cx.alias("cx"), cy.alias("cy"))
        .withColumn("pcx", F.lag("cx").over(w))
        .withColumn("pcy", F.lag("cy").over(w))
    )
    mv = cells.filter(
        F.col("pcx").isNotNull()
        & ((F.col("pcx") != F.col("cx")) | (F.col("pcy") != F.col("cy"))))
    return (
        mv.groupBy(
            F.col("pcx").alias("from_cx"), F.col("pcy").alias("from_cy"),
            F.col("cx").alias("to_cx"), F.col("cy").alias("to_cy"))
        .agg(F.count("*").cast("long").alias("n_trips"),
             F.countDistinct(id_col).cast("long").alias("n_docs"))
    )


def trajectory_turns(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Turn-classification statistics over text-mined trajectories: every
    interior waypoint P_i of a document's polyline classifies by the sign
    of the integer cross product (P_i - P_{i-1}) x (P_{i+1} - P_i) —
    ``left`` (> 0), ``right`` (< 0), and for collinear segments the dot
    product splits ``straight`` (> 0) from ``reversal`` (U-turn, < 0).

    Determinism contract: coordinates are ``floor(lat * 1e6)``
    micro-degree BIGINTs (the trajectory_measures rule), so cross and dot
    are EXACT 64-bit integer arithmetic on both engines — differences are
    < 2^29 micro-degrees, products < 2^58, sums < 2^59.  No floats touch
    the classification, so it is bit-identical cross-engine even off the
    test lattice.  Consecutive duplicate points are collapsed first
    (zero-length segments have no direction); cross = 0 AND dot = 0 is
    impossible for the surviving non-zero segments.

    Output (docs with >= 3 distinct-consecutive points):
    ``doc_id, n_interior, n_left, n_right, n_straight, n_reversal,
    net_turns`` (= n_left - n_right, the winding tendency).

    Scale shape: extraction is scan-stage codegen; ONE shuffle total —
    the per-doc window hash-partitions by doc_id; the dedup filter
    preserves that partitioning AND sort, so the lag/lead window and the
    final groupBy(doc_id) both reuse the exchange.  Output is
    document-sized.
    """
    from pyspark.sql import Window

    m = extract_coordinates(docs, id_col=id_col, text_col=text_col).select(
        "doc_id", "idx",
        F.floor(F.col("lat") * 1000000.0).cast("long").alias("lat_u"),
        F.floor(F.col("lon") * 1000000.0).cast("long").alias("lon_u"),
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    dd = (
        m.withColumn("dlat", F.lag("lat_u").over(w))
        .withColumn("dlon", F.lag("lon_u").over(w))
        .filter(
            F.col("dlat").isNull()
            | (F.col("dlat") != F.col("lat_u"))
            | (F.col("dlon") != F.col("lon_u"))
        )
        .select("doc_id", "idx", "lat_u", "lon_u")
    )
    t = (
        dd.withColumn("plat", F.lag("lat_u").over(w))
        .withColumn("plon", F.lag("lon_u").over(w))
        .withColumn("nlat", F.lead("lat_u").over(w))
        .withColumn("nlon", F.lead("lon_u").over(w))
        .filter(F.col("plat").isNotNull() & F.col("nlat").isNotNull())
    )
    v1x = F.col("lon_u") - F.col("plon")
    v1y = F.col("lat_u") - F.col("plat")
    v2x = F.col("nlon") - F.col("lon_u")
    v2y = F.col("nlat") - F.col("lat_u")
    cross = v1x * v2y - v1y * v2x
    dot = v1x * v2x + v1y * v2y
    kind = (
        F.when(cross > 0, F.lit("left"))
        .when(cross < 0, F.lit("right"))
        .when(dot > 0, F.lit("straight"))
        .otherwise(F.lit("reversal"))
    )
    out = (
        t.withColumn("kind", kind)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_interior"),
            F.sum(F.when(F.col("kind") == "left", 1).otherwise(0))
            .cast("long").alias("n_left"),
            F.sum(F.when(F.col("kind") == "right", 1).otherwise(0))
            .cast("long").alias("n_right"),
            F.sum(F.when(F.col("kind") == "straight", 1).otherwise(0))
            .cast("long").alias("n_straight"),
            F.sum(F.when(F.col("kind") == "reversal", 1).otherwise(0))
            .cast("long").alias("n_reversal"),
        )
    )
    return out.withColumn(
        "net_turns", (F.col("n_left") - F.col("n_right")).cast("long"))
