"""Seeded input generation for the benchmark workloads, with a disk cache.

The program under test receives only the files written here. Spine pages
come from the repo's own corpus generator (``sources.synth``); graph links
are made here. The expected results ("truth") are computed independently of
the engine's operators: from the JSON each page carries, read back with the
stdlib decoder, and from the links by plain-Python BFS and PageRank.

Inputs are cached under ``<cache_root>/<workload>-s<seed>-n<size>/`` with a
``manifest.json`` holding the file paths and the truth, so a repeated
(workload, seed, size) pays generation once and every run's set-up covers
the same work.
"""

from __future__ import annotations

import collections
import json
import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: input sizes, fixed per workload (the cache key carries them)
SPINE_PAGES = 8000
GRAPH_NODES = 4000
GRAPH_LINKS = 16000

#: spine polygon side: the 10-degree world grid, 36 x 18 = 648 polygons
GRID_NX, GRID_NY, GRID_SIZE = 36, 18, 10.0
#: tile zoom the spine assigns points to
TILE_Z = 10
#: point ids are page_no * POINT_ID_STRIDE + feature_idx
POINT_ID_STRIDE = 100

#: graph workload parameters
BFS_HOPS = 3
#: a path of this many pages hangs off the first seed, so every hop up to
#: BFS_HOPS finds new nodes and bfs_hops always runs BFS_HOPS full rounds
CHAIN = BFS_HOPS + 2
PAGERANK_ROUNDS = 8
PAGERANK_DAMPING_PCT = 85
PAGERANK_SCALE = 10**12
DIGEST_MOD = 1_000_000_007

GEOM_TYPES = ("Point", "MultiPoint", "LineString", "MultiLineString",
              "Polygon", "MultiPolygon", "GeometryCollection")
_DECODER = json.JSONDecoder()


def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Return the manifest for (workload, seed), generating it if absent."""
    size = {"spine": SPINE_PAGES, "graph": GRAPH_LINKS}[workload]
    key_dir = os.path.join(cache_root, "{}-s{}-n{}".format(workload, seed, size))
    manifest_path = os.path.join(key_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        _generate(workload, seed, size, key_dir)
    with open(manifest_path) as f:
        manifest = json.load(f)
    manifest["paths"] = {k: os.path.join(key_dir, v)
                         for k, v in manifest["paths"].items()}
    return manifest


def _generate(workload, seed, size, key_dir):
    tmp_dir = key_dir + ".tmp{}".format(os.getpid())
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    manifest = {"spine": _make_spine, "graph": _make_graph}[workload](
        tmp_dir, seed)
    manifest["workload"], manifest["seed"], manifest["size"] = workload, seed, size
    with open(os.path.join(tmp_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(key_dir, ignore_errors=True)
    os.rename(tmp_dir, key_dir)


# ------------------------------------------------------------------ spine

def page_docs(text):
    """The GeoJSON documents a corpus page carries, in text order.

    ``sources.synth`` pages put each document either inline in the prose
    (``data: {...}``) or in a geo+json script, whose payloads the extractor
    appends after the prose, one per line. Both are read back with the
    stdlib JSON decoder, independently of the engine's candidate scanner.
    """
    prose, _, payloads = text.partition("\n")
    docs, pos = [], 0
    while True:
        i = prose.find("data: {", pos)
        if i < 0:
            break
        doc, pos = _DECODER.raw_decode(prose, i + len("data: "))
        docs.append(doc)
    docs.extend(json.loads(line) for line in payloads.split("\n") if line)
    return docs


def feature_geometries(docs):
    """The geometry of each feature row the miner emits for ``docs``, in
    order: one row per bare geometry, per Feature and per member of a
    FeatureCollection (a GeometryCollection is one row)."""
    out = []
    for doc in docs:
        for unit in doc["features"] if doc["type"] == "FeatureCollection" else [doc]:
            out.append(unit["geometry"] if unit["type"] == "Feature" else unit)
    return out


def grid_poly_id(lon, lat):
    """Arithmetic truth for the grid polygon containing (lon, lat), or None
    for a point on a meridian grid line: the refine's edge rule (upward
    edges count strictly left of the edge, downward ones not) puts such a
    point in neither neighbour. A point on a parallel belongs to the cell
    north of it, which the floor below already gives."""
    if lon % GRID_SIZE == 0.0:
        return None
    px = int(math.floor((lon + 180.0) / GRID_SIZE))
    py = int(math.floor((lat + 90.0) / GRID_SIZE))
    return px + GRID_NX * py


def tile_x(lon, z=TILE_Z):
    n = 2 ** z
    return min(max(math.floor((lon + 180.0) / 360.0 * float(n)), 0), n - 1)


def _is_3d_point(geom):
    return geom["type"] == "Point" and len(geom["coordinates"]) > 2


def _make_spine(out_dir, seed):
    """Pages from the repo's corpus generator (``sources.synth``, the
    FIXTURES.md section 1 mix: all nine types, 3-D positions, crs members,
    nested GeometryCollections, holes, unclosed and wrong-winding rings,
    dateline crossers, hot spots), seeded by ``seed``. The truth is counted
    from the documents each page carries (``page_docs``). ``emit_*`` count
    the rows other than 3-D Points, and the pages with such rows: the write
    probe assembles those only (see ``Spine.traced_extras``)."""
    from picogeojson_spark.sources.synth import make_page

    urls, texts = [], []
    by_type = collections.Counter()
    truth = collections.Counter()
    for page_no in range(SPINE_PAGES):
        page = make_page(page_no, seed)
        urls.append(page["url"])
        texts.append(page["text"])
        geoms = feature_geometries(page_docs(page["text"]))
        flat = [g for g in geoms if not _is_3d_point(g)]
        truth["emit_rows"] += len(flat)
        truth["emit_pages"] += bool(flat)
        for idx, geom in enumerate(geoms):
            by_type[geom["type"]] += 1
            if geom["type"] != "Point":
                continue
            lon, lat = geom["coordinates"][:2]
            truth["point_id_sum"] += page_no * POINT_ID_STRIDE + idx
            truth["tile_x_sum"] += tile_x(lon)
            pid = grid_poly_id(lon, lat)
            if pid is not None:
                truth["pairs"] += 1
                truth["poly_id_sum"] += pid
    pages_path = os.path.join(out_dir, "pages.parquet")
    pq.write_table(pa.table({"url": urls, "text": texts}), pages_path,
                   row_group_size=1000)
    polys_path = os.path.join(out_dir, "grid_polygons.parquet")
    pq.write_table(grid_polygons_table(), polys_path)
    truth.update({"feature_rows": sum(by_type.values()), "error_rows": 0,
                  "point_rows": by_type["Point"]})
    truth.update({"rows_" + t: by_type[t] for t in GEOM_TYPES})
    return {
        "paths": {"pages": "pages.parquet", "polygons": "grid_polygons.parquet"},
        "rows": SPINE_PAGES,
        "truth": dict(truth),
    }


def grid_polygons_table():
    ids, geoms = [], []
    for pid in range(GRID_NX * GRID_NY):
        x0 = (pid % GRID_NX) * GRID_SIZE - 180.0
        y0 = (pid // GRID_NX) * GRID_SIZE - 90.0
        ring = [[x0, y0], [x0 + GRID_SIZE, y0], [x0 + GRID_SIZE, y0 + GRID_SIZE],
                [x0, y0 + GRID_SIZE], [x0, y0]]
        ids.append(pid)
        geoms.append(json.dumps({"type": "Polygon", "coordinates": [ring]}))
    return pa.table({"poly_id": pa.array(ids, pa.int64()), "geometry_json": geoms})


# ------------------------------------------------------------------ graph

def _make_graph(out_dir, seed):
    """A page-link graph: mostly links to popular pages (power-law in-degree)
    plus local links between neighbouring page ids, and one paginated
    archive (a path of CHAIN pages) linked from the first seed."""
    rng = random.Random(seed)
    links = set()
    while len(links) < GRAPH_LINKS:
        src = rng.randrange(GRAPH_NODES)
        if rng.random() < 0.6:
            dst = min(int(rng.paretovariate(1.1)) - 1, GRAPH_NODES - 1)
        else:
            dst = (src + rng.randint(1, 20)) % GRAPH_NODES
        if dst != src:
            links.add((src, dst))
    nodes = sorted({n for e in links for n in e})
    seeds = sorted(rng.sample(nodes, max(1, len(nodes) // 100)))
    path = [seeds[0]] + list(range(GRAPH_NODES, GRAPH_NODES + CHAIN))
    links.update(zip(path, path[1:]))
    links = sorted(links)
    links_path = os.path.join(out_dir, "links.parquet")
    pq.write_table(pa.table({"src": pa.array([s for s, _ in links], pa.int64()),
                             "dst": pa.array([d for _, d in links], pa.int64())}),
                   links_path)
    seeds_path = os.path.join(out_dir, "seeds.parquet")
    pq.write_table(pa.table({"node": pa.array(seeds, pa.int64())}), seeds_path)
    hops = bfs_truth(links, seeds, BFS_HOPS)
    ranks = pagerank_truth(links, PAGERANK_ROUNDS, PAGERANK_DAMPING_PCT,
                           PAGERANK_SCALE)
    return {
        "paths": {"links": "links.parquet", "seeds": "seeds.parquet"},
        "rows": len(links),
        "truth": {
            "bfs_nodes": len(hops), "bfs_hops_sum": sum(hops.values()),
            "bfs_max_hop": max(hops.values()),
            "pr_nodes": len(ranks), "pr_rank_sum": sum(ranks.values()),
            "pr_digest": rank_digest(ranks.items()),
        },
    }


def bfs_truth(links, seeds, max_hops):
    """Hop distance from the nearest seed over the undirected link graph."""
    adj = collections.defaultdict(set)
    for u, v in links:
        adj[u].add(v)
        adj[v].add(u)
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    for h in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        frontier = nxt
    return dist


def pagerank_truth(links, rounds, damping_pct, scale):
    """Integer fixed-point PageRank: r0 = scale div n, each round
    r = (r0 * (100 - d)) div 100 + (sum of in-neighbour r div outdeg) * d div 100.
    All quantities are non-negative, so Python floor division equals the
    truncating ``div`` of the engine."""
    nodes = sorted({n for e in links for n in e})
    outdeg = collections.Counter(s for s, _ in links)
    r0 = scale // len(nodes)
    base = r0 * (100 - damping_pct) // 100
    rank = dict.fromkeys(nodes, r0)
    for _ in range(rounds):
        contrib = collections.Counter()
        for s, d in links:
            contrib[d] += rank[s] // outdeg[s]
        rank = {n: base + contrib[n] * damping_pct // 100 for n in nodes}
    return rank


def rank_digest(node_ranks):
    """Order-free digest of (node, rank) pairs, computable in Spark SQL as
    ``sum(pmod(rank * 31 + node, DIGEST_MOD))``."""
    return sum((r * 31 + n) % DIGEST_MOD for n, r in node_ranks)
