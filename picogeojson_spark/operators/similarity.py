"""Similarity search over embedding columns (array<float>).

- ``ann_bruteforce_topk``: exact cosine top-k via JVM-side higher-order
  functions (``zip_with`` + ``aggregate`` — no Python in the hot path) and a
  window; the baseline every approximate method is judged against.
- ``ann_lsh_topk``: random-hyperplane LSH bucketing as the scale path —
  hyperplane components derive deterministically from (plane, dim) via md5,
  so buckets are reproducible across engines and runs. Exactness is restored
  per-bucket (full scoring inside the bucket); recall vs brute force is a
  measured, tested property.
- ``cosine_pairs``: all pairs with cosine >= threshold (near-dup detection
  on embeddings).

Numeric determinism: scores are computed in float64 with a fixed
left-to-right ``aggregate`` fold — the same sequential order DuckDB's
``list_dot_product`` uses, so oracle comparisons are exact when inputs are
cast to double on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._util import spread_small_scans as _spread


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a):
    return F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )


def ann_bruteforce_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, cos_x1e6)."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(_norm2(F.col("qv"))))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", F.sqrt(_norm2(F.col("cv"))))
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "neighbor_id",
            F.round(F.col("cos") * 1e6).cast("long").alias("cos_x1e6"),
        )
    )


def _hyperplane_components(plane: int, dim: int):
    """Deterministic pseudo-random hyperplane components: c_j for dimension
    j is (int(md5("{plane}:{j}")[:6], 16) % 1000 - 500) / 500 — the same
    arithmetic the DuckDB oracle runs in SQL (md5 + hex substring), computed
    once on the driver so the per-row plan folds 64 CONSTANT doubles
    instead of re-deriving 64 md5s per row per plane (measured ~10x on the
    signature stage)."""
    import hashlib

    return [
        (int(hashlib.md5("{}:{}".format(plane, j).encode()).hexdigest()[:6], 16)
         % 1000 - 500) / 500.0
        for j in range(dim)
    ]


def _hyperplane_sign(vec_col, plane: int, dim: int):
    """Reference implementation of one plane's sign bit as a JVM expression:
    sequential left-to-right double fold — bit-identical to DuckDB's
    list_dot_product. The production path (:func:`_band_keys`) computes the
    same folds vectorized in numpy; a test pins the two paths equal."""
    comps = F.array(*[F.lit(c) for c in _hyperplane_components(plane, dim)])
    dot = F.aggregate(
        F.zip_with(vec_col, comps, lambda x, c: x.cast("double") * c),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (dot >= 0).cast("int")


def _band_keys(df: DataFrame, id_col: str, id_alias: str, vec_col: str,
               planes: int, bands: int, dim: int) -> DataFrame:
    """(id, band, key) rows: per input row, one signature per band, where
    band ``b``'s key packs the sign bits of global planes
    ``[b*planes, (b+1)*planes)``. Narrow map — no shuffle.

    The plane dots are computed in ONE Arrow batch UDF with an explicit
    sequential loop over the dim axis (``acc += v[:, j] * c[p, j]``) —
    vectorized across rows but bit-identical to a left-to-right double fold,
    i.e. to DuckDB's ``list_dot_product`` in the oracle. (The previous
    expression-tree version evaluated the fold through interpreted
    higher-order-function lambdas per row per plane — the signature stage
    dominated the whole query.)"""
    import numpy as np
    import pandas as pd

    total = planes * bands
    comps = np.asarray(
        [_hyperplane_components(p, dim) for p in range(total)],
        dtype=np.float64,
    )  # (total, dim)

    def keys(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # (n, dim)
            n = len(v)
            # sequential fold over dims, vectorized over rows: exactly the
            # double arithmetic of aggregate(zip_with(...)) / list_dot_product
            acc = np.zeros((n, total), dtype=np.float64)
            for j in range(dim):
                acc += v[:, j, None] * comps[None, :, j]
            bits = (acc >= 0).astype(np.int64)  # (n, total)
            weights = np.asarray([1 << i for i in range(planes)], dtype=np.int64)
            band_keys = (
                bits.reshape(n, bands, planes) * weights[None, None, :]
            ).sum(axis=2)  # (n, bands)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_alias: np.repeat(ids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int64), n),
                    "key": band_keys.reshape(-1),
                }
            )

    # tiny scan inputs would run this CPU-heavy UDF on 1-2 tasks; no-op at
    # production scan sizes (see spread_small_scans)
    return _spread(df.select(id_col, vec_col)).mapInPandas(
        keys, schema="{} long, band long, key long".format(id_alias)
    )


def _exact_cos_for_pairs(pairs: DataFrame, a_id: str, b_id: str,
                         va_col: str, vb_col: str) -> DataFrame:
    """(a, b, va, vb) -> (a, b, cos) with cosine computed by a sequential
    fold over the dim axis, vectorized across pairs — bit-identical to the
    ``_dot``/``_norm2`` expression folds and to DuckDB's list_dot_product,
    but ~10x faster than interpreted higher-order-function lambdas."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.asarray(list(pdf[va_col]), dtype=np.float64)
            vb = np.asarray(list(pdf[vb_col]), dtype=np.float64)
            n, dim = va.shape
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for j in range(dim):
                dot += va[:, j] * vb[:, j]
                na += va[:, j] * va[:, j]
                nb += vb[:, j] * vb[:, j]
            cos = dot / (np.sqrt(na) * np.sqrt(nb))
            yield pd.DataFrame(
                {a_id: pdf[a_id], b_id: pdf[b_id], "cos": cos}
            )

    return pairs.mapInPandas(
        score, schema="{} long, {} long, cos double".format(a_id, b_id)
    )


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    planes: int = 8,
    bands: int = 1,
    dim: int = None,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed cosine top-k, OR-of-bands: ``bands`` independent
    signatures of ``planes`` hyperplanes each; a corpus vector is a candidate
    if it shares ANY band signature with the query (the standard recall
    repair over a single AND-bucket — one unlucky plane split no longer
    hides a true neighbour). Candidates are deduped before scoring, and
    scoring is exact cosine, so returned pair scores are bit-identical to
    the brute-force baseline.

    Scale shape: band keys are a narrow JVM-side map; the only exchanges are
    the (band, key) equi-join and the two id-joins that re-attach vectors to
    the deduped candidate pairs — no cross join anywhere. Recall vs
    ``ann_bruteforce_topk`` is measured in the correctness gate."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    qk = _band_keys(queries, query_id, "query_id", vec_col, planes, bands, dim)
    ck = _band_keys(corpus, corpus_id, "neighbor_id", vec_col, planes, bands, dim)
    cand = (
        qk.join(ck, on=["band", "key"])
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    pairs = cand.join(q, on="query_id").join(c, on="neighbor_id")
    scored = _exact_cos_for_pairs(pairs, "query_id", "neighbor_id", "qv", "cv")
    return cosine_topk_tail(scored, k)


def cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    planes: int = 4,
    bands: int = 3,
    dim: int = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed embedding near-dup pairs: hyperplane-LSH bands gate the
    candidate set (pairs sharing >=1 band signature), then exact cosine
    verifies ``>= threshold`` — the same candidates->verify shape as
    ``minhash_lsh_pairs`` (dedup.py), applied to the embedding column.

    Scale shape: no cross join — the all-pairs work is confined to rows that
    collide in a band bucket, so cost tracks true-near-duplicate density
    instead of n². The trade is recall: a qualifying pair split by every
    band is missed (candidate-gated semantics, reproduced exactly by the
    SQL oracle; raise ``bands`` to trade compute for recall)."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])

    keys = _band_keys(embeddings, id_col, "vid", vec_col, planes, bands, dim)
    cand = (
        keys.alias("x")
        .join(keys.alias("y"), on=["band", "key"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("id_a"), F.col("y.vid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs = cand.join(a, on="id_a").join(b, on="id_b")
    return (
        _exact_cos_for_pairs(pairs, "id_a", "id_b", "va", "vb")
        .filter(F.col("cos") >= threshold)
        .select(
            "id_a", "id_b",
            F.round(F.col("cos") * 1e6).cast("long").alias("cos_x1e6"),
        )
    )


def cosine_pairs(embeddings: DataFrame, threshold: float,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All (a < b) pairs with cosine >= threshold (embedding near-dups).

    Exact all-pairs semantics — O(n²) by definition, so this is the
    small-scale / test-oracle path; the scale path is
    :func:`cosine_pairs_lsh` (bucket-gated candidates, no cross join)."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        _exact_cos_for_pairs(pairs, "id_a", "id_b", "va", "vb")
        .filter(F.col("cos") >= threshold)
        .select(
            "id_a", "id_b",
            F.round(F.col("cos") * 1e6).cast("long").alias("cos_x1e6"),
        )
    )


def ann_bruteforce_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    query_batch_rows: int = 100_000,
) -> DataFrame:
    """numpy-matmul brute-force cosine top-k (the fast exact path).

    Distributed over the CORPUS: the (small, designated) query side is
    broadcast as one float64 matrix, and every corpus partition computes a
    single matmul against its own shard plus a per-shard top-k; a global
    window then merges the per-shard winners. The corpus — the side that is
    unbounded at production scale — is never collected to the driver and
    never has to fit in any single memory.

    A query set above ``query_batch_rows`` is split into chunks, each chunk
    broadcast and scored in its own corpus pass, results unioned (each query
    lives in exactly one chunk, so the global window is unaffected). This
    bounds BOTH the per-chunk broadcast and the nq x batch cos matrix an
    executor allocates per Arrow batch — an unchunked 1M-query matrix would
    otherwise OOM the workers long before the driver.

    Per-shard top-k then global top-k is exact: a global winner is
    necessarily a winner of its own shard. Tie-break identical to
    ``ann_bruteforce_topk``: cos desc, neighbor id asc. Scores emitted as
    ``cos_x1e6`` like the expression variant (same per-pair arithmetic, so
    values are bit-identical to the single-matrix path).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id, vec_col).collect()  # small side only
    sc = corpus.sparkSession.sparkContext

    def make_shard_topk(bc):
        def shard_topk(batches):
            ids, qm, qn = bc.value
            nq = len(ids)
            for pdf in batches:
                if len(pdf) == 0 or nq == 0:
                    continue
                c_mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
                c_ids = pdf[corpus_id].to_numpy(dtype=np.int64)
                cn = np.sqrt((c_mat * c_mat).sum(axis=1))
                cos = (qm @ c_mat.T) / (qn[:, None] * cn[None, :])
                kk = min(k, len(c_ids))
                # lexicographic: primary cos desc, secondary id asc
                order = np.lexsort(
                    (c_ids[None, :].repeat(nq, 0), -cos), axis=1
                )[:, :kk]
                sel_cos = np.take_along_axis(cos, order, axis=1)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(ids, kk),
                        "neighbor_id": c_ids[order].reshape(-1),
                        "cos": sel_cos.reshape(-1),
                        "cos_x1e6": np.round(
                            sel_cos.reshape(-1) * 1e6).astype(np.int64),
                    }
                )

        return shard_topk

    out = None
    for start in range(0, max(len(q_rows), 1), query_batch_rows):
        chunk = q_rows[start:start + query_batch_rows]
        q_ids = np.asarray([r[0] for r in chunk], dtype=np.int64)
        q_mat = (np.asarray([r[1] for r in chunk], dtype=np.float64)
                 if chunk else np.zeros((0, 0)))
        q_norms = np.sqrt((q_mat * q_mat).sum(axis=1))
        bc = sc.broadcast((q_ids, q_mat, q_norms))
        # deliberately NOT spread: each shard's cost is one (q x shard)
        # matmul, and numpy wants big batches — splitting a small corpus
        # into per-core slivers pays python-worker overhead per sliver for
        # matmuls that were already sub-millisecond (measured 2x slower)
        shards = corpus.select(
            F.col(corpus_id).alias(corpus_id), vec_col
        ).mapInPandas(
            make_shard_topk(bc),
            schema="query_id long, neighbor_id long, cos double, cos_x1e6 long",
        )
        out = shards if out is None else out.unionByName(shards)

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "neighbor_id", "cos_x1e6")
    )


def ivf_centroids(
    corpus: DataFrame,
    nlist: int,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic IVF coarse quantizer: the ``nlist`` corpus vectors with
    the smallest md5(id) form the centroid set (a reproducible pseudo-random
    sample — no RNG state, identical across runs/engines), L2-normalized so
    nearest-centroid-by-dot == nearest-by-cosine.

    Returns (ids, matrix) as numpy arrays; callers broadcast the matrix. At
    production scale, centroids train once offline (k-means over a sample)
    and persist as a tiny side table — the query path is unchanged.
    """
    import numpy as np

    seeds = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("cid").cast("string")))
        .orderBy("h")
        .limit(nlist)
        .collect()
    )
    mat = (np.asarray([r["v"] for r in seeds], dtype=np.float64)
           if seeds else np.zeros((0, 0)))
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0  # a zero seed vector must not poison assignments
    mat = mat / norms[:, None]
    return np.asarray([r["cid"] for r in seeds], dtype=np.int64), mat


def ivf_kmeans_centroids(
    corpus: DataFrame,
    nlist: int,
    iters: int = 5,
    sample: int = 50000,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic Lloyd's k-means quantizer (the production IVF path).

    Trains on a bounded md5-ordered sample (standard offline-training shape:
    the sample and the init are both deterministic, so centroids are
    reproducible across runs with no RNG state). Returns an L2-normalized
    (nlist, dim) float64 matrix like :func:`ivf_centroids`. On clustered
    embeddings this quantizer concentrates true neighbours into few lists —
    measured in tests: same nprobe, substantially higher recall than the
    md5-sample quantizer; on uniform data the two are equivalent.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("cid").cast("string")))
        .orderBy("h")
        .limit(sample)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if len(x) == 0:
        return np.zeros((0, 0))
    cents = x[:nlist].copy()
    for _ in range(iters):
        n = np.sqrt((cents * cents).sum(axis=1))
        n[n == 0] = 1.0
        cn = cents / n[:, None]
        assign = np.argmax(x @ cn.T, axis=1)
        for c in range(min(nlist, len(cents))):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
            # empty cluster: keep the previous centroid (deterministic)
    n = np.sqrt((cents * cents).sum(axis=1))
    n[n == 0] = 1.0
    return cents / n[:, None]


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF-bucketed cosine top-k (approximate: searches ``nprobe`` inverted
    lists per query).

    Scale shape: the corpus is partitioned into ``nlist`` inverted lists by
    nearest centroid (one vectorized matmul per Arrow batch — the centroid
    matrix is a broadcast of nlist*D doubles, tiny). Each query probes its
    ``nprobe`` nearest lists, so per-query scored candidates shrink by
    ~nlist/nprobe vs brute force while the scoring itself stays exact
    (full cosine inside the probed lists — same JVM-side expression as the
    brute-force baseline, so scores for returned pairs are bit-identical).
    At 100 TB the list assignment is a narrow map (no shuffle); the
    list-id equi-join is the only exchange and AQE handles hot lists.
    """
    if centroids is not None:
        cmat = centroids  # e.g. ivf_kmeans_centroids (trained offline)
    else:
        _, cmat = ivf_centroids(corpus, nlist, corpus_id, vec_col)
    bc = corpus.sparkSession.sparkContext.broadcast(cmat)

    q = ivf_assign(
        queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).alias("v")),
        bc, "query_id", nprobe,
    ).select("query_id", "list_id", F.col("v").alias("qv"))

    c = ivf_assign(
        corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(vec_col).alias("v")),
        bc, "neighbor_id", 1,
    ).select("neighbor_id", "list_id", F.col("v").alias("cv"))

    scored = _exact_cos_for_pairs(
        q.join(c, on="list_id"), "query_id", "neighbor_id", "qv", "cv"
    )
    return cosine_topk_tail(scored, k)


def semdedup(
    embeddings: DataFrame,
    threshold: float,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space, then drop near-duplicates WITHIN each cluster — the
    cluster assignment bounds the quadratic pair work to cluster-mates, the
    trade that makes embedding-level dedup tractable at corpus scale
    (``nlist`` grows with the corpus so expected cluster size stays flat).

    Keep rule (deterministic, unlike the paper's random representative): a
    vector is dropped iff some SMALLER-id cluster-mate has cosine >=
    ``threshold`` to it — exactly one representative (the minimum id)
    survives from every within-cluster duplicate chain, and the rule is a
    pure function of (ids, vectors), reproducible by the SQL oracle.

    Output: one ``(vec_id, list_id, kept)`` row per input vector.

    Scale shape: centroid assignment is a narrow broadcast-matmul map (same
    ``ivf_assign`` as the IVF family); the only exchanges are the list_id
    self-equi-join and the drop-set anti-join. Hot clusters are AQE's skew
    case; raising ``nlist`` is the structural lever.
    """
    if centroids is None:
        _, cmat = ivf_centroids(embeddings, nlist, id_col, vec_col)
    else:
        cmat = centroids
    bc = embeddings.sparkSession.sparkContext.broadcast(cmat)
    assign = ivf_assign(
        embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v")),
        bc, "vec_id", 1,
    )
    a = assign.select("list_id", F.col("vec_id").alias("id_a"),
                      F.col("v").alias("va"))
    b = assign.select("list_id", F.col("vec_id").alias("id_b"),
                      F.col("v").alias("vb"))
    pairs = a.join(b, on="list_id").filter(F.col("id_a") < F.col("id_b"))
    dropped = (
        _exact_cos_for_pairs(pairs, "id_a", "id_b", "va", "vb")
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assign.select("vec_id", "list_id")
        .join(dropped, on="vec_id", how="left")
        .select(
            "vec_id", "list_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def ivf_assign(df: DataFrame, bc, id_name: str, probes: int) -> DataFrame:
    """(id, v) -> one (id, list_id, v) row per probed inverted list, via a
    vectorized matmul against the broadcast centroid matrix. Shared by the
    ad-hoc ``ann_ivf_topk`` path and the persistent index build/query paths
    so their list assignments are identical by construction."""
    import numpy as np
    import pandas as pd

    def run(batches):
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0 or C.size == 0:
                continue
            v = np.asarray(list(pdf["v"]), dtype=np.float64)
            vn = np.sqrt((v * v).sum(axis=1))
            vn[vn == 0] = 1.0
            sims = (v @ C.T) / vn[:, None]
            # probes can exceed the centroid count when the corpus has
            # fewer than nlist rows — clamp so id-repeat and the argsort
            # slice stay the same length
            kk = min(probes, C.shape[0])
            # lexicographic tie-break: sim desc, list id asc (np.argsort
            # is stable, so sorting -sims keeps index order on ties)
            lists = np.argsort(-sims, kind="stable", axis=1)[:, :kk]
            yield pd.DataFrame(
                {
                    id_name: pdf[id_name].repeat(kk).values,
                    "list_id": lists.reshape(-1).astype("int32"),
                    "v": [row for row in pdf["v"].repeat(kk)],
                }
            )

    return _spread(df).mapInPandas(
        run, schema="{} long, list_id int, v array<float>".format(id_name)
    )


def cosine_topk_tail(scored: DataFrame, k: int) -> DataFrame:
    """Shared (query_id, neighbor_id, cos) -> ranked top-k with the family's
    canonical tie-break (cos desc, neighbor_id asc) and scaled-integer
    score output."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", "neighbor_id",
            F.round(F.col("cos") * 1e6).cast("long").alias("cos_x1e6"),
        )
    )


def decontaminate_embed(
    corpus: DataFrame,
    evals: DataFrame,
    threshold_x1e6: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus vector,
    its similarity to the nearest EVAL vector and how many eval vectors sit
    within the contamination threshold ->
    ``(vec_id, max_cos_x1e6, n_hits, contaminated)``.

    This is the n-gram decontamination operator's (``dedup.decontam``)
    semantic twin: paraphrased eval leakage that shares no 8-gram still
    lands next to the eval item in embedding space.

    Scale shape — the standard exact-decontam asymmetry: eval benchmarks
    are tiny (thousands) while the corpus is unbounded, so the eval matrix
    is collected once (bounded, documented) and broadcast; every corpus
    partition scores its own shard against it in Arrow batches with the
    sequential dim-axis fold (bit-identical to list_dot_product in the
    oracle), then reduces to per-row max/count — NO join, NO shuffle on
    the corpus, output exactly corpus-sized. The threshold compares the
    ROUNDED integer score (``cos_x1e6 >= threshold_x1e6``) so both engines
    take the same branch everywhere.
    """
    import numpy as np
    import pandas as pd

    if threshold_x1e6 is None or not (-1_000_000 <= threshold_x1e6 <= 1_000_000):
        raise ValueError("threshold_x1e6 must be in [-1e6, 1e6]")
    e_rows = evals.select(vec_col).collect()  # bounded eval side only
    e_mat = np.asarray([r[0] for r in e_rows], dtype=np.float64)
    if e_mat.size == 0:
        return corpus.select(
            F.col(id_col).alias("vec_id"),
            F.lit(None).cast("long").alias("max_cos_x1e6"),
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(0).cast("int").alias("contaminated"),
        )
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(e_mat)

    def score(batches):
        em = bc.value
        en = np.sqrt((em * em).sum(axis=1))
        dim = em.shape[1]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            n = cm.shape[0]
            dot = np.zeros((n, em.shape[0]))
            cn2 = np.zeros(n)
            # sequential fold over the dim axis: same add order per pair
            # as aggregate(zip_with(...)) and DuckDB list_dot_product
            for j in range(dim):
                dot += cm[:, j][:, None] * em[:, j][None, :]
                cn2 += cm[:, j] * cm[:, j]
            cos = dot / (np.sqrt(cn2)[:, None] * en[None, :])
            cx = np.round(cos * 1e6).astype(np.int64)
            hits = (cx >= int(threshold_x1e6)).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "max_cos_x1e6": cx.max(axis=1),
                    "n_hits": hits,
                    "contaminated": (hits > 0).astype(np.int32),
                }
            )

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score,
        schema=("vec_id long, max_cos_x1e6 long, n_hits long,"
                " contaminated int"),
    )


# ---------------------------------------------------------------------------
# IVFPQ (IVFADC): product-quantized codes inside IVF inverted lists
# ---------------------------------------------------------------------------

def pq_codebook(
    corpus: DataFrame,
    m_sub: int = 8,
    ksub: int = 16,
    scale: int = 1000,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic product-quantization codebook.

    The ``ksub`` corpus vectors with the smallest ``md5(id)`` (the same
    md5-deterministic sample rule the IVF coarse quantizer
    :func:`ivf_centroids` uses) donate their sub-vectors as codewords,
    one codeword set per subspace. Components are quantized to integers
    at ``scale`` (``round(x * scale)``), so every downstream distance /
    dot-product is EXACT integer arithmetic — bit-identical across numpy,
    Spark expressions, and a DuckDB oracle, with no float fold-order
    caveats anywhere in the PQ path.

    Returns an int64 array of shape ``(m_sub, ksub, dsub)`` where
    ``dsub = dim // m_sub`` (dim must divide evenly). At production scale
    the codebook trains once offline on the bounded sample and persists
    as a tiny side table (m_sub*ksub*dsub ints — ~64 KB at 8x256x8), the
    standard FAISS IndexIVFPQ deployment shape.
    """
    import numpy as np

    if ksub > 256:
        raise ValueError("ksub > 256 breaks the 8-bit code contract")
    rows = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(vec_col).alias("v"))
        .withColumn("h", F.md5(F.col("cid").cast("string")))
        .orderBy("h")
        .limit(ksub)
        .collect()  # bounded: ksub <= 256 rows
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    if x.size == 0:
        return np.zeros((m_sub, 0, 0), dtype=np.int64)
    xi = np.round(x * scale).astype(np.int64)
    dim = xi.shape[1]
    if dim % m_sub:
        raise ValueError("dim {} not divisible by m_sub {}".format(dim, m_sub))
    dsub = dim // m_sub
    return np.stack(
        [xi[:, m * dsub:(m + 1) * dsub] for m in range(m_sub)]
    )  # (m_sub, ksub, dsub)


def ann_ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    ksub: int = 16,
    scale: int = 1000,
    shortlist: int = 0,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + product-quantization top-k (IVFADC, Jegou et al. 2011 —
    the missing rung between ``ann_ivf_topk`` and a disk-resident index).

    With ``shortlist=r > 0`` (the production shape, FAISS
    ``IndexRefineFlat``): ADC ranks a per-query shortlist of ``r``
    candidates from the compressed codes, and ONLY those ``nq * r`` rows
    join back to the float corpus for exact rescoring — output columns
    then match the ann family (``cos_x1e6``, cos desc tie neighbor asc).
    The expensive float fetch is bounded by the shortlist, never the
    list contents; everything before it runs on 8-byte codes. With
    ``shortlist=0`` the raw ADC ranking is returned (``adc_l2_x``).

    Scale story: the corpus float vectors are READ ONCE and never
    shuffled — each corpus partition maps to ``(neighbor_id, list_id,
    codes)`` where ``codes`` is m_sub uint8-range ints (8 bytes/vector
    vs 256 bytes of float32 at dim=64: a 32x compression, asserted in
    tests). Only that compressed form crosses the one list_id exchange.
    Queries carry a per-query ADC lookup table (m_sub*ksub ints) built
    in the same Arrow batch as their coarse probe; candidate scoring is
    pure JVM expression work — m_sub table lookups per pair, no floats,
    no Python.

    Scoring is asymmetric-distance (ADC) on quantized integers:
    ``adc_l2_x`` = sum_m (|c_m|^2 - 2 * q_m . c_m) over the corpus row's
    codewords — exactly ||q_int - x_hat||^2 minus the per-query constant
    |q_int|^2, which is rank-invariant (omitted so the emitted score
    needs no extra pass; it can therefore be negative). Rank: adc_l2_x
    asc, neighbor_id asc. All arithmetic is int64 on values << 2^53, so
    a DuckDB oracle reproduces every code, every table entry, and every
    rank exactly.

    The coarse layer reuses :func:`ivf_centroids` semantics verbatim
    (same argmax, same tie-break) so list pruning is identical to
    ``ann_ivf_topk`` at equal nlist/nprobe; PQ only changes what is
    scored inside the probed lists. Recall vs the exact baseline is a
    measured property (gated with a floor in scripts/check_correctness.py
    like ann_lsh/ann_ivf).
    """
    import numpy as np
    import pandas as pd

    _, cmat = ivf_centroids(corpus, nlist, corpus_id, vec_col)
    cb = pq_codebook(corpus, m_sub, ksub, scale, corpus_id, vec_col)
    eff_ksub = cb.shape[1]
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((cmat, cb))
    dsub = cb.shape[2]

    def encode_corpus(batches):
        C, CB = bc.value
        for pdf in batches:
            if len(pdf) == 0 or C.size == 0 or CB.size == 0:
                continue
            v = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            vn = np.sqrt((v * v).sum(axis=1))
            vn[vn == 0] = 1.0
            # coarse assignment: identical math to ivf_assign(probes=1)
            sims = (v @ C.T) / vn[:, None]
            lists = np.argsort(-sims, kind="stable", axis=1)[:, 0]
            vi = np.round(v * scale).astype(np.int64)
            codes = np.empty((len(vi), len(CB)), dtype=np.int64)
            for m in range(len(CB)):
                sub = vi[:, m * dsub:(m + 1) * dsub]
                d2 = ((sub[:, None, :] - CB[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d2, axis=1)  # first min -> j asc
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[corpus_id].to_numpy(dtype=np.int64),
                    "list_id": lists.astype(np.int32),
                    "codes": list(codes.astype(np.int32)),
                }
            )

    def encode_queries(batches):
        C, CB = bc.value
        kk = min(nprobe, C.shape[0]) if C.size else 0
        # per-codeword |c|^2, folded into the table so scoring is one
        # lookup-sum: tbl[m, j] = |c_mj|^2 - 2 * q_m . c_mj
        cw2 = (CB * CB).sum(axis=2) if CB.size else None  # (m_sub, ksub)
        for pdf in batches:
            if len(pdf) == 0 or kk == 0 or CB.size == 0:
                continue
            v = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            vn = np.sqrt((v * v).sum(axis=1))
            vn[vn == 0] = 1.0
            sims = (v @ C.T) / vn[:, None]
            lists = np.argsort(-sims, kind="stable", axis=1)[:, :kk]
            vi = np.round(v * scale).astype(np.int64)
            tbl = np.empty((len(vi), len(CB), eff_ksub), dtype=np.int64)
            for m in range(len(CB)):
                sub = vi[:, m * dsub:(m + 1) * dsub]
                tbl[:, m, :] = cw2[m][None, :] - 2 * (sub @ CB[m].T)
            flat = tbl.reshape(len(vi), -1)
            yield pd.DataFrame(
                {
                    "query_id": pdf[query_id].to_numpy(
                        dtype=np.int64).repeat(kk),
                    "list_id": lists.reshape(-1).astype(np.int32),
                    "tbl": [row for row in np.repeat(flat, kk, axis=0)],
                }
            )

    c = _spread(corpus.select(corpus_id, vec_col)).mapInPandas(
        encode_corpus,
        schema="neighbor_id long, list_id int, codes array<int>",
    )
    q = _spread(queries.select(query_id, vec_col)).mapInPandas(
        encode_queries,
        schema="query_id long, list_id int, tbl array<long>",
    )

    # each corpus row lives in exactly one list, so a (query, neighbor)
    # pair appears at most once across the nprobe probes — no distinct.
    # codes/tbl are materialized attributes (mapInPandas outputs), so the
    # lookup lambda indexes plain array columns — no CollapseProject
    # expression-inlining hazard (CLAUDE.md HOF note).
    joined = q.join(c, on="list_id")
    score = F.aggregate(
        F.sequence(F.lit(0), F.lit(len(cb) - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc + F.element_at(
            F.col("tbl"),
            (m * eff_ksub + F.element_at(F.col("codes"), m + 1) + 1
             ).cast("int"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_l2_x").asc(), F.col("neighbor_id").asc()
    )
    ranked = (
        joined.withColumn("adc_l2_x", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (shortlist if shortlist > 0 else k))
    )
    if shortlist <= 0:
        return ranked.select(
            "query_id", F.col("rank").cast("int").alias("rank"),
            "neighbor_id", F.col("adc_l2_x").cast("long").alias("adc_l2_x"))

    # refine: exact rescoring of the ADC shortlist only (nq * shortlist
    # rows — the float corpus is touched by an equi-join on neighbor_id,
    # never scanned per query)
    cand = ranked.select("query_id", "neighbor_id")
    qv = queries.select(F.col(query_id).alias("query_id"),
                        F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"))
    pairs = cand.join(qv, on="query_id").join(cv, on="neighbor_id")
    return cosine_topk_tail(
        _exact_cos_for_pairs(pairs, "query_id", "neighbor_id", "qv", "cv"), k
    )
