"""k-nearest-neighbour join via k-ring expansion + exact tail fallback.

Scale design (SURVEY §2.11): both sides are indexed into cells at ``level``;
each query joins candidates whose cell lies within Chebyshev distance ``r``
of the query cell (the candidate side explodes a (2r+1)² neighbourhood once —
cheap for the small-r common case), then a window takes the top-k by
distance. Exactness guard: any candidate outside the searched ring is at
least ``r * cell_size`` degrees away, so queries whose k-th neighbour is
farther than that (or that found < k) are re-run by brute force against the
full candidate set — a tiny, provably-exact tail.

Distance is squared planar degrees ``(Δlon)² + (Δlat)²`` with ties broken by
candidate id — the same formula the SQL oracle uses, so output rows match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..geo.cells import cell_xy_sql, grid_shape, null_guard_sql


def _with_cell_xy(df: DataFrame, id_col: str, level: int) -> DataFrame:
    """Attach the clamped cell (x, y) grid coordinates of ``lon``/``lat``
    (``geo.cells.cell_xy_sql``), computed JVM-side; null for a null
    coordinate."""
    x, y = cell_xy_sql("lon", "lat", level)
    return (df.withColumn("cx", F.expr(null_guard_sql(["`lon`"], x)))
            .withColumn("cy", F.expr(null_guard_sql(["`lat`"], y))))


def _dist2(qlon, qlat, clon, clat):
    return (qlon - clon) * (qlon - clon) + (qlat - clat) * (qlat - clat)


def _ring_dxs(radius: int, nx: int) -> range:
    """Longitude offsets for a ring of half-width ``radius`` on an ``nx``-wide
    wrapped grid, capped so the ring never spans more than ``nx`` distinct
    columns. Without the cap, once ``2*radius+1 > nx`` two offsets pmod to the
    same cell and the ring join emits duplicate (query, neighbor) pairs —
    row_number then ranks the same neighbor twice and silently pushes the true
    k-th neighbor out of the top-k."""
    if 2 * radius + 1 >= nx:
        return range(0, nx)  # any nx consecutive offsets cover each column once
    return range(-radius, radius + 1)


def _offsets_array(dxs, dys):
    """(dx, dy) ring offsets as ONE parsed SQL literal — building the same
    array from per-element F.struct/F.lit calls costs hundreds of Py4J round
    trips of driver time for a wide ring (measured ~0.3 s at radius 4)."""
    items = ",".join(
        f"named_struct('dx',{dx},'dy',{dy})" for dx in dxs for dy in dys
    )
    return F.expr(f"array({items})")


def choose_level(n_candidates: int, k: int, radius: int) -> int:
    """Pick the coarsest cell level whose (2r+1)² ring is expected to hold
    comfortably more than k candidates under uniform density — queries then
    settle without the brute-force tail. Skewed densities only cost extra
    ring candidates (dense areas) or tail fallbacks (sparse areas); output
    stays exact either way."""
    import math

    target = max(4 * k, 16)
    x = max(n_candidates * (2 * radius + 1) ** 2 / target, 2.0)
    level = int((math.log2(x) - 1) // 2)
    return max(2, min(level, 14))


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    level: int = None,
    radius: int = 1,
    cache: str = "checkpoint",
    max_expansions: int = 2,
    brute_pairs_budget: int = 50_000_000,
) -> DataFrame:
    """Exact kNN -> DataFrame(query_id, rank, neighbor_id, dist2).

    ``queries``: (query_id, lon, lat); ``candidates``: (neighbor_id, lon, lat).
    A candidate at the same coordinates as the query is its own neighbour
    (no self-exclusion — callers can filter ``query_id != neighbor_id``).
    ``level=None`` auto-tunes from the candidate count (one cheap count job).

    ``cache`` controls how the ring-candidate intermediate (consumed three
    times: settled filter, anti-join, output) is materialized:

    - ``"checkpoint"`` (default): ``localCheckpoint(eager=True)`` — the
      operator owns the lifecycle; blocks are freed by the ContextCleaner
      when the result DataFrame is garbage-collected, so long-lived
      sessions cannot leak. Trade: lineage is severed (executor loss needs
      a re-run) and it measures ~25% slower than persist at sf0.1.
    - ``"persist"``: fastest, but the cache entry outlives the call — the
      handle is exposed as ``result._knn_cached`` and the CALLER must
      ``.unpersist()`` it after consuming the result.
    - ``"none"``: no materialization (consumers recompute the ring join).

    Tail strategy (adaptive): when the first pass leaves queries unsettled,
    the fallback brute-forces directly if ``n_unsettled * n_candidates <=
    brute_pairs_budget`` (exact and cheapest at small scale), otherwise it
    runs up to ``max_expansions`` rounds of query-side ring doubling — the
    shrinking unsettled set is the exploding side, so no cross join at
    scale — and only brute-forces the provably-tiny remnant. In persist
    mode ``result._knn_cached.unpersist()`` releases every cached stage.
    """
    if cache not in ("checkpoint", "persist", "none"):
        raise ValueError("cache must be checkpoint|persist|none: " + cache)
    n_cand = None
    if level is None:
        n_cand = candidates.count()
        level = choose_level(n_cand, k, radius)
    nx, ny = grid_shape(level)
    cell_deg = 180.0 / (2**level)

    q = _with_cell_xy(queries, "query_id", level).select(
        F.col("query_id"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
        "cx", "cy",
    )
    c = _with_cell_xy(candidates, "neighbor_id", level).select(
        F.col("neighbor_id"), F.col("lon").alias("clon"), F.col("lat").alias("clat"),
        "cx", "cy",
    )

    # candidate side explodes its (2r+1)^2 neighbourhood (lon-wrapped) so the
    # ring lookup is a plain equi-join on (cx, cy)
    off = _offsets_array(_ring_dxs(radius, nx), range(-radius, radius + 1))
    c_ex = (
        c.withColumn("o", F.explode(off))
        .select(
            "neighbor_id", "clon", "clat",
            F.pmod(F.col("cx") + F.col("o.dx"), F.lit(nx)).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < ny))
    )

    # LEFT join: a query whose ring holds no candidate keeps one null-neighbor
    # row, so the settled-stats aggregate below sees EVERY query — the
    # all-settled fast path then needs no separate queries.count() job, and
    # zero-candidate queries are counted into the unsettled tail exactly
    joined = q.join(c_ex, on=["cx", "cy"], how="left").select(
        "query_id", "qlon", "qlat", "neighbor_id", "clon", "clat",
        _dist2(F.col("qlon"), F.col("qlat"), F.col("clon"), F.col("clat")).alias("dist2"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc_nulls_last(),
                                               F.col("neighbor_id").asc_nulls_last())
    ringed = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dist2")
    )
    # ringed feeds three consumers (settled filter, anti-join, output) —
    # see the ``cache`` docstring for the lifecycle trade-offs
    if cache == "persist":
        ringed = ringed.persist()
    elif cache == "checkpoint":
        ringed = ringed.localCheckpoint(eager=True)

    # exactness guard: a query is settled iff it found k neighbours and its
    # k-th distance is within the ring guarantee radius. Settledness reads
    # straight off the materialized top-k: rows are ordered by dist2 asc, so
    # the rank==k row's own dist2 IS the k-th distance, and that row exists
    # (with non-null dist2) iff the query matched >= k real candidates — no
    # groupBy exchange, just filters over the cached blocks.
    guard = float(radius * cell_deg) ** 2
    settled_row = (
        (F.col("rank") == k)
        & F.col("dist2").isNotNull()
        & (F.col("dist2") <= F.lit(guard))
    )

    # ONE cheap driver action over the materialized ringed blocks decides the
    # whole tail: the left ring join gave every query a rank-1 row, so
    # n_queries == count(rank==1) and n_rest == n_queries - n_settled exactly
    agg_row = ringed.agg(
        F.sum(settled_row.cast("int")).alias("n_settled"),
        F.sum((F.col("rank") == 1).cast("int")).alias("n_queries"),
    ).first()
    n_settled = int(agg_row["n_settled"] or 0)
    n_rest = int(agg_row["n_queries"] or 0) - n_settled

    if n_rest == 0:
        # fast path: the ring pass IS the exact answer (no null-neighbor rows
        # can exist — every query settled, hence matched >= k candidates) —
        # no settled join, no anti-join, no empty cross join in the plan
        if cache == "persist":
            ringed._knn_cached = _CacheHandles([ringed])
        return ringed

    settled_ids = ringed.filter(settled_row).select("query_id")
    # NO broadcast hint on settled_ids: it has one row per settled query,
    # which at production scale is the full query cardinality — forcing a
    # broadcast would collect it to the driver. AQE broadcasts it anyway
    # whenever it is actually small (runtime stats), so small cases lose
    # nothing and large ones stay shuffle joins
    settled = ringed.join(settled_ids, on="query_id")

    # tail for the rest: QUERY-side ring expansion before any brute force.
    # The unsettled set shrinks every round while the expansion radius
    # doubles, so each round the exploding side is the SMALL one (each
    # unsettled query emits its (2R+1)^2 ring cells and equi-joins the
    # unexploded candidate table) — no cross join unless expansions run out,
    # and by then the remnant is provably tiny or the data is pathological
    # (k > candidate count, empty planet regions at max radius).
    rest = queries.join(settled_ids, on="query_id", how="left_anti")
    parts = [settled]
    cached_stages = [ringed]
    radius_r = radius
    # adaptive tail: a small tail brute-forces directly (old fast path);
    # only a big tail pays the ring-expansion machinery
    if n_cand is None:
        n_cand = candidates.count()
    if n_rest * n_cand <= brute_pairs_budget:
        max_expansions = 0
    for _ in range(max_expansions):
        radius_r *= 2
        q_r = _with_cell_xy(rest, "query_id", level).select(
            "query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
            "cx", "cy",
        )
        offs = _offsets_array(_ring_dxs(radius_r, nx),
                              range(-radius_r, radius_r + 1))
        q_ex = (
            q_r.withColumn("o", F.explode(offs))
            .select(
                "query_id", "qlon", "qlat",
                F.pmod(F.col("cx") + F.col("o.dx"), F.lit(nx)).alias("cx"),
                (F.col("cy") + F.col("o.dy")).alias("cy"),
            )
            .filter((F.col("cy") >= 0) & (F.col("cy") < ny))
        )
        joined_r = q_ex.join(c, on=["cx", "cy"]).select(
            "query_id", "neighbor_id",
            _dist2(F.col("qlon"), F.col("qlat"),
                   F.col("clon"), F.col("clat")).alias("dist2"),
        )
        topk_r = (
            joined_r.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "dist2")
        )
        if cache == "persist":
            topk_r = topk_r.persist()
            cached_stages.append(topk_r)
        elif cache == "checkpoint":
            topk_r = topk_r.localCheckpoint(eager=True)
        # whole-planet coverage: the searched ring now contains EVERY cell
        # (x wraps fully, y spans [0, ny)), so topk_r is the globally-exact
        # answer for every remaining query — settled-guard irrelevant, and
        # queries with fewer than k neighbours on the whole planet keep
        # their (shorter) result instead of vanishing
        if 2 * radius_r + 1 >= nx and radius_r >= ny - 1:
            parts.append(topk_r)
            rest = rest.limit(0)
            break
        guard_r = float(radius_r * cell_deg) ** 2
        # inner join here — no null rows; rank==k row exists iff found >= k
        settled_r = topk_r.filter(
            (F.col("rank") == k) & (F.col("dist2") <= F.lit(guard_r))
        ).select("query_id")
        parts.append(topk_r.join(settled_r, on="query_id"))
        rest = rest.join(settled_r, on="query_id", how="left_anti")

    # brute-force remnant (provably-exact; empty in non-pathological runs)
    brute = rest.select(
        "query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    ).crossJoin(
        candidates.select(
            "neighbor_id", F.col("lon").alias("clon"), F.col("lat").alias("clat")
        )
    ).select(
        "query_id",
        "neighbor_id",
        _dist2(F.col("qlon"), F.col("qlat"), F.col("clon"), F.col("clat")).alias("dist2"),
    )
    brute_k = (
        brute.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "dist2")
    )
    parts.append(brute_k)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if cache == "persist":
        # cleanup handle covering every cached stage (see ``cache`` docstring)
        out._knn_cached = _CacheHandles(cached_stages)
    return out


def _hav_udeg(qlon, qlat, clon, clat):
    """Great-circle central angle as INTEGER micro-degrees:
    ``floor(degrees(2*asin(least(1, sqrt(h)))) * 1e6 + 0.5)`` with the
    classic haversine ``h``. The scaled-integer contract (repo-wide
    practice: distances as scaled ints) makes ranking, tie-breaks and the
    oracle hash robust to last-ulp libm differences between Spark's
    java.lang.Math and DuckDB's C libm — a flip would need the true value
    within ~1 ulp of a rounding boundary. The ``least(1, ...)`` clamp keeps
    rounding from pushing asin's argument past 1 (NaN)."""
    s_lat = F.sin(F.radians(clat - qlat) / 2)
    s_lon = F.sin(F.radians(clon - qlon) / 2)
    h = s_lat * s_lat + F.cos(F.radians(qlat)) * F.cos(F.radians(clat)) * s_lon * s_lon
    deg = F.degrees(F.lit(2.0) * F.asin(F.least(F.lit(1.0), F.sqrt(h))))
    return F.floor(deg * F.lit(1000000.0) + F.lit(0.5)).cast("long")


def hav_udeg_sql(qlon, qlat, clon, clat):
    """The DuckDB spelling of :func:`_hav_udeg` — same operations in the
    same order (squares written as products, not pow, so both engines run
    the identical multiply)."""
    return (
        "CAST(floor(degrees(2 * asin(least(1.0, sqrt("
        "sin(radians({clat} - {qlat}) / 2) * sin(radians({clat} - {qlat}) / 2)"
        " + cos(radians({qlat})) * cos(radians({clat}))"
        " * sin(radians({clon} - {qlon}) / 2) * sin(radians({clon} - {qlon}) / 2)"
        ")))) * 1000000.0 + 0.5) AS BIGINT)"
    ).format(qlon=qlon, qlat=qlat, clon=clon, clat=clat)


def knn_join_haversine(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    level: int = None,
    radius: int = 1,
) -> DataFrame:
    """Exact great-circle kNN -> (query_id, rank, neighbor_id, dist_udeg).

    Same ring-join shape as the planar :func:`knn_join` (candidate side
    explodes its (2r+1)^2 neighbourhood once, window takes top-k), but the
    metric is the haversine central angle in integer micro-degrees
    (:func:`_hav_udeg`) and the exactness guard is PER QUERY: a candidate
    outside the searched ring is separated by either >= r*cd degrees of
    latitude (central angle >= r*cd directly) or >= r*cd degrees of
    longitude with its latitude within the ring band, whose central angle
    is >= acos(1 - (1 - cos(r*cd)) * cos(qlat) * cos(band)) where band =
    min(90, |qlat| + (r+1)*cd) — both true lower bounds, so queries whose
    k-th neighbour beats min(of the two) are provably settled. Near the
    poles the longitude bound collapses to 0 (meridians converge), so polar
    queries fall through to the exact brute-force tail — the correct
    trade: poles are a measure-zero sliver of a production corpus, and
    output stays exact everywhere. The planar operator's planar-degrees
    contract is untouched.
    """
    if level is None:
        level = choose_level(candidates.count(), k, radius)
    nx, ny = grid_shape(level)
    cd = 180.0 / (2 ** level)

    q = _with_cell_xy(queries, "query_id", level).select(
        "query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
        "cx", "cy",
    )
    c = _with_cell_xy(candidates, "neighbor_id", level).select(
        F.col("neighbor_id"), F.col("lon").alias("clon"),
        F.col("lat").alias("clat"), "cx", "cy",
    )
    off = _offsets_array(_ring_dxs(radius, nx), range(-radius, radius + 1))
    c_ex = (
        c.withColumn("o", F.explode(off))
        .select(
            "neighbor_id", "clon", "clat",
            F.pmod(F.col("cx") + F.col("o.dx"), F.lit(nx)).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < ny))
    )
    joined = q.join(c_ex, on=["cx", "cy"], how="left").select(
        "query_id", "qlat", "neighbor_id",
        _hav_udeg(F.col("qlon"), F.col("qlat"),
                  F.col("clon"), F.col("clat")).alias("dist_udeg"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_udeg").asc_nulls_last(),
        F.col("neighbor_id").asc_nulls_last())
    ringed = (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .localCheckpoint(eager=True)
    )

    # per-query guard in micro-degrees (floor - 1: strictly conservative
    # against the scaled-integer rounding)
    d_deg = float(radius * cd)
    band = F.least(F.lit(90.0), F.abs(F.col("qlat")) + F.lit((radius + 1) * cd))
    cos_sig = F.lit(1.0) - (
        (F.lit(1.0) - F.cos(F.radians(F.lit(d_deg))))
        * F.cos(F.radians(F.col("qlat"))) * F.cos(F.radians(band))
    )
    lon_lb = F.degrees(F.acos(
        F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cos_sig))))
    guard_udeg = (
        F.floor(F.least(F.lit(d_deg), lon_lb) * F.lit(1000000.0) + F.lit(0.5))
        - F.lit(1)
    ).cast("long")
    settled_row = (
        (F.col("rank") == k)
        & F.col("dist_udeg").isNotNull()
        & (F.col("dist_udeg") <= guard_udeg)
    )

    out_cols = ["query_id", "rank", "neighbor_id", "dist_udeg"]
    agg_row = ringed.agg(
        F.sum(settled_row.cast("int")).alias("n_settled"),
        F.sum((F.col("rank") == 1).cast("int")).alias("n_queries"),
    ).first()
    if int(agg_row["n_queries"] or 0) == int(agg_row["n_settled"] or 0):
        return ringed.select(*out_cols)

    settled_ids = ringed.filter(settled_row).select("query_id")
    settled = ringed.join(settled_ids, on="query_id").select(*out_cols)

    # exact brute tail for the (polar / sparse-ring) remnant — the shrinking
    # side of the cross join; production-scale polar traffic would add the
    # planar operator's ring-expansion rounds before this
    rest = queries.join(settled_ids, on="query_id", how="left_anti")
    brute = rest.select(
        "query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    ).crossJoin(
        candidates.select(
            "neighbor_id", F.col("lon").alias("clon"),
            F.col("lat").alias("clat"))
    ).select(
        "query_id",
        "neighbor_id",
        _hav_udeg(F.col("qlon"), F.col("qlat"),
                  F.col("clon"), F.col("clat")).alias("dist_udeg"),
    )
    brute_k = (
        brute.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )
    return settled.unionByName(brute_k)


class _CacheHandles:
    """Unpersists every cached stage of a persist-mode knn_join."""

    def __init__(self, dfs):
        self._dfs = list(dfs)

    def unpersist(self, blocking: bool = False):
        for df in self._dfs:
            df.unpersist(blocking)
        return self


def distance_join_haversine(
    queries: DataFrame,
    candidates: DataFrame,
    d_udeg: int,
    level: int = None,
    radius: int = None,
) -> DataFrame:
    """Exact within-radius great-circle join: every (query, candidate) pair
    whose haversine central angle is <= ``d_udeg`` integer micro-degrees ->
    ``(query_id, neighbor_id, dist_udeg)``.

    Same cell-ring shape as :func:`knn_join_haversine` — the candidate side
    explodes its (2r+1)^2 neighbourhood once, pairs come from one equi-join
    on (cx, cy) — but the settledness test is simpler than kNN's: it
    depends only on the QUERY's latitude. A candidate outside the ring is
    separated by at least ``guard(qlat)`` (the same two true lower bounds:
    r*cd degrees of latitude, or the longitude-direction bound
    acos(1 - (1-cos(r*cd)) * cos(qlat) * cos(band))), so a query with
    ``d_udeg <= guard_udeg`` provably has ALL its matches inside the ring.
    High-latitude queries where the longitude bound collapses below
    ``d_udeg`` fall to an exact brute tail (skipped entirely when no query
    needs it — the common case away from the poles).

    Scale shape: one candidate-side explode (bounded (2r+1)^2 fan-out), one
    equi-join, one filter — no theta join, no window. The ring join's
    output is exactly the candidate set within ~r cells, so shuffle volume
    tracks true pair density, not |Q| x |C|.
    """
    import math

    if d_udeg <= 0:
        raise ValueError("d_udeg must be a positive integer of micro-degrees")
    d_deg = d_udeg / 1e6
    if level is None:
        # cell size ~ search radius => ring radius lands at 1-2
        level = max(2, min(14, int(math.log2(180.0 / max(d_deg, 1e-9)))))
    nx, ny = grid_shape(level)
    cd = 180.0 / (2 ** level)
    if radius is None:
        radius = int(d_deg / cd) + 1

    d_lit = F.lit(int(d_udeg)).cast("long")
    band = F.least(F.lit(90.0), F.abs(F.col("lat")) + F.lit((radius + 1) * cd))
    cos_sig = F.lit(1.0) - (
        (F.lit(1.0) - F.cos(F.radians(F.lit(float(radius * cd)))))
        * F.cos(F.radians(F.col("lat"))) * F.cos(F.radians(band))
    )
    lon_lb = F.degrees(F.acos(
        F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cos_sig))))
    guard_udeg = (
        F.floor(F.least(F.lit(float(radius * cd)), lon_lb)
                * F.lit(1000000.0) + F.lit(0.5)) - F.lit(1)
    ).cast("long")

    q_all = queries.withColumn("_settled", guard_udeg >= d_lit)
    n_tail = q_all.filter(~F.col("_settled")).count()

    q = _with_cell_xy(q_all.filter(F.col("_settled")), "query_id", level).select(
        "query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
        "cx", "cy",
    )
    c = _with_cell_xy(candidates, "neighbor_id", level).select(
        F.col("neighbor_id"), F.col("lon").alias("clon"),
        F.col("lat").alias("clat"), "cx", "cy",
    )
    off = _offsets_array(_ring_dxs(radius, nx), range(-radius, radius + 1))
    c_ex = (
        c.withColumn("o", F.explode(off))
        .select(
            "neighbor_id", "clon", "clat",
            F.pmod(F.col("cx") + F.col("o.dx"), F.lit(nx)).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < ny))
    )
    ringed = (
        q.join(c_ex, on=["cx", "cy"])
        .select(
            "query_id", "neighbor_id",
            _hav_udeg(F.col("qlon"), F.col("qlat"),
                      F.col("clon"), F.col("clat")).alias("dist_udeg"),
        )
        .filter(F.col("dist_udeg") <= d_lit)
    )
    if n_tail == 0:
        return ringed

    brute = (
        q_all.filter(~F.col("_settled"))
        .select("query_id", F.col("lon").alias("qlon"),
                F.col("lat").alias("qlat"))
        .crossJoin(candidates.select(
            "neighbor_id", F.col("lon").alias("clon"),
            F.col("lat").alias("clat")))
        .select(
            "query_id", "neighbor_id",
            _hav_udeg(F.col("qlon"), F.col("qlat"),
                      F.col("clon"), F.col("clat")).alias("dist_udeg"),
        )
        .filter(F.col("dist_udeg") <= d_lit)
    )
    return ringed.unionByName(brute)


def idw_interpolate(
    queries: DataFrame,
    candidates: DataFrame,
    value_col: str = "value",
    k: int = 4,
    scale: int = 10**9,
    qscale: int = 16,
    **knn_kwargs,
):
    """Inverse-distance-weighted interpolation: estimate a measurement at
    every query point from its k nearest candidate stations —
    ``(query_id, idw_value, w_sum, n_used)``.

    Pure composition: the heavy lifting is :func:`knn_join` (ring
    equi-join + exact tail); the station values attach by ONE
    neighbor-keyed equi-join (station table ≪ corpus — AQE broadcasts);
    the blend is a map-side-combined aggregate.

    Exactness contract (cross-engine): distances quantize to integers via
    ``round(dist2 * qscale)`` (exact when coordinates sit on the repo's
    dyadic lattice), weights are ``scale div (d2i + 1)`` in integer
    arithmetic (the +1 makes a station exactly at the query point a huge
    but finite weight), and the estimate is ``sum(v*w) div sum(w)``.
    Overflow bound: |value| * scale * k must stay under 2^63 — the
    defaults allow |value| <= ~2e5 at k <= 4.
    """
    nn = knn_join(queries, candidates.select("neighbor_id", "lon", "lat"),
                  k=k, **knn_kwargs)
    vals = candidates.select("neighbor_id", F.col(value_col).alias("__v"))
    j = nn.join(vals, "neighbor_id").select(
        "query_id", "__v",
        F.round(F.col("dist2") * F.lit(int(qscale))).cast("long")
        .alias("__d2i"),
    ).select(
        "query_id", "__v",
        F.expr("{s} div (__d2i + 1)".format(s=int(scale))).alias("__w"),
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.sum(F.col("__v") * F.col("__w")).cast("long").alias("__num"),
            F.sum("__w").cast("long").alias("w_sum"),
            F.count("*").cast("int").alias("n_used"),
        )
        .select(
            "query_id",
            F.expr("__num div greatest(w_sum, 1)").cast("long")
            .alias("idw_value"),
            "w_sum", "n_used",
        )
    )


def knn_classify(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    label_col: str = "label",
    **knn_kwargs,
):
    """k-nearest-neighbor majority-vote classification — the geo-ML
    read on top of :func:`knn_join` (assign a point the dominant class
    of its k nearest labelled sites: land-use from tagged POIs,
    region from labelled anchors).  ``candidates`` carries
    ``(neighbor_id, lon, lat, <label_col>)``.  Output one row per
    query: ``(query_id, label, votes, nearest_rank)`` where the winner
    is decided by votes DESC, then the label's nearest rank ASC (the
    closer class wins ties), then label ASC — fully deterministic.

    Scale shape: knn_join's cell-pruned join produces the k*|queries|
    neighbor rows; the label attach is ONE hash equi-join on
    neighbor_id; the vote is ONE map-side-combined (query, label)
    aggregate; the winner pick is a WindowGroupLimit top-1 on the
    k-bounded vote table.
    """
    nn = knn_join(
        queries, candidates.select("neighbor_id", "lon", "lat"),
        k=k, **knn_kwargs)
    lab = candidates.select(
        "neighbor_id", F.col(label_col).alias("_lbl"))
    votes = (
        nn.join(lab, on="neighbor_id")
        .groupBy("query_id", "_lbl")
        .agg(F.count("*").cast("long").alias("votes"),
             F.min("rank").cast("int").alias("nearest_rank"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("nearest_rank").asc(),
        F.col("_lbl").asc())
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("_lbl").alias("label"), "votes",
                "nearest_rank")
    )
