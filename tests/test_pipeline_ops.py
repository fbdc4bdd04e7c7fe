"""Tests for dedup / similarity / textstats / multimodal / checkpoint /
streaming operators against small driver-side oracles."""

import itertools
import json
import math
import os

import pytest
from pyspark.sql import functions as F

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en"),
    (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
    (3, "the quick brown fox jumps over a sleepy dog", "en"),  # near dup
    (4, "der schnelle braune fuchs springt und der hund", "de"),
    (5, "completely different text about spark engines and data", "en"),
    (6, "le renard brun saute par dessus le chien et le chat", "fr"),
    (7, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def _py_shingles(text, n):
    toks = text.lower().strip().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_exact_duplicates(spark, docs):
    from picogeojson_spark.operators.dedup import exact_duplicates

    got = {(r.rep_id, r.dup_id) for r in exact_duplicates(docs).collect()}
    assert got == {(1, 2), (1, 7)}


def test_ngram_jaccard_pairs(spark, docs):
    from picogeojson_spark.operators.dedup import ngram_jaccard_pairs

    got = {
        (r.doc_a, r.doc_b): (r.inter_sz, r.union_sz)
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    expected = {}
    for (a, ta, _), (b, tb, _) in itertools.combinations(DOCS, 2):
        sa, sb = _py_shingles(ta, 3), _py_shingles(tb, 3)
        inter = len(sa & sb)
        union = len(sa | sb)
        if union and inter >= 0.3 * union and a < b:
            expected[(a, b)] = (inter, union)
    assert got == expected
    assert (1, 3) in got  # the near-dup pair survives


def test_minhash_lsh_recalls_near_dups(spark, docs):
    from picogeojson_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    lsh = {
        (r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert lsh <= exact  # LSH + verify never yields false positives
    # identical docs always collide in every band
    assert (1, 2) in lsh and (1, 7) in lsh


def test_simhash_pairs_equals_bruteforce_hamming(spark, docs):
    """Block-bucketed pairs == all-pairs bit_count(xor) <= d, for every
    (bits, bands, d) combo the pigeonhole guarantee covers."""
    from picogeojson_spark.operators.dedup import simhash, simhash_pairs

    for bits, bands, d in [(16, 4, 3), (32, 4, 3), (32, 8, 5)]:
        hashes = {r.doc_id: r.simhash
                  for r in simhash(docs, bits=bits).collect()}
        ids = sorted(hashes)
        want = {
            (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(hashes[a] ^ hashes[b]).count("1") <= d
        }
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(docs, max_hamming=d, bits=bits,
                                   bands=bands).collect()
        }
        assert got == want, (bits, bands, d)


def test_simhash_pairs_rejects_lossy_banding(spark, docs):
    from picogeojson_spark.operators.dedup import simhash_pairs

    with pytest.raises(ValueError):
        simhash_pairs(docs, max_hamming=4, bands=4)


def test_duplicate_clusters_matches_union_find(spark):
    """Large-star/small-star connected components == a driver union-find
    on randomized graphs (chains, forests, dense blobs)."""
    import random

    from picogeojson_spark.operators.dedup import duplicate_clusters

    rng = random.Random(7)
    for n, m in [(12, 6), (80, 40), (150, 300)]:
        edges = [
            (rng.randrange(n) * 3 + 1, rng.randrange(n) * 3 + 1)
            for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in edges for x in e})
        parent = {v: v for v in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for v in nodes:
            comps.setdefault(find(v), []).append(v)
        want = {v: min(members) for members in comps.values() for v in members}

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id: r.rep_id for r in duplicate_clusters(df).collect()}
        assert got == want


def test_duplicate_clusters_chain_and_empty(spark):
    """A long path graph (worst diameter for naive label propagation)
    converges to a single min-rep cluster; empty input stays empty."""
    from picogeojson_spark.operators.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {r.doc_id: r.rep_id for r in duplicate_clusters(df).collect()}
    assert got == {i: 1 for i in range(1, 41)}

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert duplicate_clusters(empty).count() == 0


def test_duplicate_clusters_over_minhash(spark, docs):
    """End-to-end: exact dups 1/2/7 form one cluster with rep 1."""
    from picogeojson_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(docs, threshold=0.3)
    reps = {r.doc_id: r.rep_id
            for r in duplicate_clusters(pairs).collect()}
    assert reps[1] == reps[2] == reps[7] == 1


def test_simhash_close_for_near_dups(spark, docs):
    from picogeojson_spark.operators.dedup import simhash

    s = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert s[1] == s[2] == s[7]  # identical text, identical simhash

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(s[1], s[3]) < hamming(s[1], s[5])


def test_fingerprint_stability(spark, docs):
    from picogeojson_spark.operators.dedup import fingerprint

    fp = {r.doc_id: (r.fp_min, r.fp_max) for r in fingerprint(docs, n=3).collect()}
    assert fp[1] == fp[2] == fp[7]
    assert fp[1] != fp[5]


def test_token_count_and_quality(spark, docs):
    from picogeojson_spark.operators.textstats import quality_score, token_count

    tc = {r.doc_id: r.ws_tokens for r in token_count(docs).collect()}
    for did, text, _ in DOCS:
        assert tc[did] == len(text.split()), did

    # only the mid-sentence ' the ' counts (space-padded substring semantics)
    q = {r.doc_id: r.n_stopwords for r in quality_score(docs).collect()}
    assert q[1] == 1


def test_lang_id(spark, docs):
    from picogeojson_spark.operators.textstats import lang_id

    got = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[4] == "de"
    assert got[6] == "fr"


EMB = [
    (
        i,
        # distinct by construction: the i/64 term breaks the modular period,
        # so no two vectors are exact duplicates (no cos==1.0 ties)
        [float((i * 7 + j * 3) % 11 - 5) / 5.0 + (i / 64.0 if j == 0 else 0.0)
         for j in range(8)],
        i % 3,
    )
    for i in range(1, 41)
]


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.createDataFrame(
        EMB, "vec_id long, embedding array<float>, label int"
    )


def _cos(a, b):
    # mimic float32 storage then float64 math, like the Spark path
    import numpy as np

    a = np.asarray(a, dtype=np.float32).astype(np.float64)
    b = np.asarray(b, dtype=np.float32).astype(np.float64)
    return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))


def test_ann_bruteforce_matches_numpy(spark, embeddings):
    from picogeojson_spark.operators.similarity import ann_bruteforce_topk

    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_bruteforce_topk(embeddings, embeddings, k=3).collect()
    }
    for qid, qv, _ in EMB:
        scored = sorted(
            ((-_cos(qv, cv), cid) for cid, cv, _ in EMB)
        )
        for rank, (_, cid) in enumerate(scored[:3], start=1):
            assert got[(qid, rank)] == cid, (qid, rank)


def test_ann_lsh_beats_random(spark, embeddings):
    from picogeojson_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_lsh_topk,
    )

    brute = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(embeddings, embeddings, k=3).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(embeddings, embeddings, k=3, planes=4).collect()
    }
    # self-match always lands in the same bucket
    assert all((i, i) in lsh for i in range(1, 41))
    recall = len(lsh & brute) / len(brute)
    assert recall > 0.3, recall


def test_cosine_pairs_threshold(spark, embeddings):
    from picogeojson_spark.operators.similarity import cosine_pairs

    got = {(r.id_a, r.id_b) for r in cosine_pairs(embeddings, 0.99).collect()}
    expected = {
        (a, b)
        for (a, va, _), (b, vb, _) in itertools.combinations(EMB, 2)
        if _cos(va, vb) >= 0.99
    }
    assert got == expected


def test_ann_lsh_multiband_recall_dominates_single_band(spark, embeddings):
    """OR-of-bands must recover strictly more (or equal) true neighbours
    than any single AND bucket, and its candidate-gated scores must equal
    the exact baseline's for every returned pair."""
    from picogeojson_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_lsh_topk,
    )

    brute = {
        (r.query_id, r.neighbor_id): r.cos_x1e6
        for r in ann_bruteforce_topk(embeddings, embeddings, k=3).collect()
    }
    one_band = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(embeddings, embeddings, k=3, planes=3,
                              bands=1).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id): r.cos_x1e6
        for r in ann_lsh_topk(embeddings, embeddings, k=3, planes=3,
                              bands=6).collect()
    }
    # self-match always collides in every band
    assert all((i, i) in multi for i in range(1, 41))
    r1 = len(one_band & set(brute)) / len(brute)
    rn = len(set(multi) & set(brute)) / len(brute)
    assert rn >= r1, (rn, r1)
    assert rn > 0.8, rn
    # exact scoring inside the gate: every returned true pair scores
    # identically to brute force
    for pair, score in multi.items():
        if pair in brute:
            assert score == brute[pair], pair


@pytest.mark.parametrize("planes,bands,dim", [(3, 4, 8), (2, 5, 5), (4, 2, 7)])
def test_band_keys_match_expression_reference(spark, planes, bands, dim):
    """The vectorized numpy signature path must produce bit-identical band
    keys to the expression-fold reference (sequential left-to-right double
    adds — the arithmetic the DuckDB oracle also runs), across dims that
    don't align with any vector width."""
    from picogeojson_spark.operators.similarity import (
        _band_keys,
        _hyperplane_sign,
    )

    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 5.0 + (i / 64.0 if j == 0 else 0.0)
             for j in range(dim)])
        for i in range(1, 41)
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    fast = {
        (r.vid, r.band): r.key
        for r in _band_keys(embs, "vec_id", "vid", "embedding",
                            planes, bands, dim).collect()
    }

    ref_cols = []
    for b in range(bands):
        sig = None
        for i in range(planes):
            bit = _hyperplane_sign(F.col("embedding"), b * planes + i, dim) * (2**i)
            sig = bit if sig is None else sig + bit
        ref_cols.append(sig.alias("k{}".format(b)))
    ref = {}
    for r in embs.select(F.col("vec_id").alias("vid"), *ref_cols).collect():
        for b in range(bands):
            ref[(r.vid, b)] = r["k{}".format(b)]
    assert fast == ref


def test_cosine_pairs_lsh_gated_subset_with_exact_scores(spark, embeddings):
    from picogeojson_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    exact = {
        (r.id_a, r.id_b): r.cos_x1e6
        for r in cosine_pairs(embeddings, 0.8).collect()
    }
    gated = {
        (r.id_a, r.id_b): r.cos_x1e6
        for r in cosine_pairs_lsh(embeddings, 0.8, planes=3, bands=6).collect()
    }
    # candidate-gated semantics: subset of the exact pair set, scores equal
    assert set(gated) <= set(exact)
    for pair, score in gated.items():
        assert score == exact[pair], pair
    # identical vectors share every band signature -> a true duplicate can
    # never be missed; near-identical (cos>=0.999) pairs collide w.h.p. too
    must_find = {p for p, s in exact.items() if s >= 999000}
    assert must_find <= set(gated), must_find - set(gated)


def test_ann_np_corpus_never_collected_and_distributed_plan(spark, embeddings):
    """The brute-force matmul path must not pull the corpus to the driver:
    only the (small) query side may be collected, and the plan must be a
    distributed MapInPandas over the corpus scan (no cartesian product)."""
    import io
    from contextlib import redirect_stdout

    from picogeojson_spark.operators.similarity import ann_bruteforce_topk_np

    corpus = embeddings.select(
        F.col("vec_id").alias("cid"), "embedding"
    ).repartition(7)
    queries = embeddings.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    # patch the CONCRETE DataFrame class (pyspark 4's pyspark.sql.DataFrame
    # is a facade; instances are classic/connect subclasses)
    cls = type(corpus)
    collected_cols = []
    orig = cls.collect

    def spy(self):
        collected_cols.append(tuple(self.columns))
        return orig(self)

    cls.collect = spy
    try:
        out = ann_bruteforce_topk_np(
            queries, corpus, k=3, query_id="qid", corpus_id="cid"
        )
    finally:
        cls.collect = orig
    assert collected_cols == [("qid", "embedding")], collected_cols

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_np_sharded_merge_exact(spark, embeddings):
    """Per-shard top-k + global window must equal the single-shard result
    regardless of corpus partitioning."""
    from picogeojson_spark.operators.similarity import ann_bruteforce_topk_np

    one = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_x1e6)
        for r in ann_bruteforce_topk_np(
            embeddings, embeddings.coalesce(1), k=4
        ).collect()
    }
    many = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_x1e6)
        for r in ann_bruteforce_topk_np(
            embeddings, embeddings.repartition(13), k=4
        ).collect()
    }
    assert one == many


def test_ann_np_query_batching_exact(spark, embeddings):
    """A query set above query_batch_rows is chunked into several broadcast
    passes; the unioned result must equal the single-pass result exactly."""
    from picogeojson_spark.operators.similarity import ann_bruteforce_topk_np

    one = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_x1e6)
        for r in ann_bruteforce_topk_np(embeddings, embeddings, k=3).collect()
    }
    chunked = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_x1e6)
        for r in ann_bruteforce_topk_np(
            embeddings, embeddings, k=3, query_batch_rows=7
        ).collect()
    }
    assert one == chunked


def test_ivf_kmeans_beats_md5_sample_on_clustered_data(spark):
    """On CLUSTERED embeddings (the realistic regime) the k-means quantizer
    concentrates each cluster into one inverted list, so the same nprobe
    yields far higher recall than the md5-sample quantizer — the measured
    justification for ivf_kmeans_centroids as the production path."""
    from picogeojson_spark.operators.similarity import (
        ann_bruteforce_topk_np,
        ann_ivf_topk,
        ivf_kmeans_centroids,
    )
    from picogeojson_spark.sources import clustered_embeddings

    # 8 well-separated cluster centers on coordinate axes, 30 points each,
    # deterministic small offsets (shared with the gate's kmeans-recall check)
    emb = clustered_embeddings(spark)
    queries = emb.filter(F.col("vec_id") % 8 == 0)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk_np(queries, emb, k=3).collect()
    }
    md5_ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(queries, emb, k=3, nlist=8, nprobe=2).collect()
    }
    km = ivf_kmeans_centroids(emb, nlist=8, iters=5)
    km_ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(queries, emb, k=3, nlist=8, nprobe=2,
                              centroids=km).collect()
    }
    r_md5 = len(md5_ivf & exact) / len(exact)
    r_km = len(km_ivf & exact) / len(exact)
    assert r_km >= r_md5, (r_km, r_md5)
    assert r_km >= 0.9, r_km

    # determinism: retraining yields identical centroids
    km2 = ivf_kmeans_centroids(emb, nlist=8, iters=5)
    import numpy as np

    assert np.array_equal(km, km2)


def test_ivf_nprobe_exceeding_centroid_count(spark):
    """Regression (ADVICE r2): a corpus smaller than nlist yields fewer
    centroids than nprobe — the assign UDF must clamp the probe count
    instead of crashing on mismatched column lengths, and the search is
    then exhaustive (recall 1.0)."""
    from picogeojson_spark.operators.similarity import (
        ann_bruteforce_topk_np,
        ann_ivf_topk,
    )

    rows = [(i, [float((i * 3 + j) % 5), float(i + 1), 0.5 * j, 1.0])
            for i in range(3) for j in [0]]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_topk(emb, emb, k=2, nlist=16, nprobe=8).collect()
    }
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_bruteforce_topk_np(emb, emb, k=2).collect()
    }
    assert got == exact


def test_lsh_candidate_volume_tracks_cluster_structure(spark):
    """PLANS.md claims the LSH gate's cost tracks collision density: on
    clustered embeddings the candidate set must concentrate on intra-cluster
    pairs (the true near-dup mass) instead of admitting a uniform fraction
    of all pairs. Measured here: intra-cluster pairs dominate candidates
    AND every above-threshold pair is found (identical vectors aside,
    cluster members are each other's near-dups by construction)."""
    from picogeojson_spark.operators.similarity import (
        _band_keys,
        cosine_pairs,
        cosine_pairs_lsh,
    )

    rows = []
    vid = 0
    for c in range(8):
        for m in range(30):
            vid += 1
            v = [0.0] * 16
            v[c * 2] = 10.0
            v[(c * 2 + 1) % 16] = 3.0
            v[(c + m) % 16] += ((m * 7) % 5) * 0.1
            rows.append((vid, v, c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cluster int"
    )

    keys = _band_keys(emb, "vec_id", "vid", "embedding", 6, 4, 16)
    cand = (
        keys.alias("x").join(keys.alias("y"), on=["band", "key"])
        .filter(F.col("x.vid") < F.col("y.vid"))
        .select(F.col("x.vid").alias("a"), F.col("y.vid").alias("b"))
        .distinct()
        .collect()
    )
    cluster_of = {r[0]: r[2] for r in rows}
    intra = sum(1 for r in cand if cluster_of[r.a] == cluster_of[r.b])
    # 240 vectors -> 28,680 unordered pairs, of which 3,480 (12.1%) are
    # intra-cluster. Three measured properties of the gate on clustered
    # data (vs ~65% admitted on uniform data at comparable configs):
    n_pairs = 240 * 239 // 2
    assert intra == 3480, intra                 # every true-cluster pair kept
    assert len(cand) < 0.25 * n_pairs, len(cand)  # volume collapses (18%)
    base_rate = 3480 / n_pairs
    assert intra / len(cand) > 4 * base_rate    # 5.4x enrichment measured

    exact = {
        (r.id_a, r.id_b) for r in cosine_pairs(emb, 0.99).collect()
    }
    gated = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_lsh(emb, 0.99, planes=6, bands=4,
                                  dim=16).collect()
    }
    assert exact, "threshold should catch intra-cluster near-dups"
    recall = len(gated & exact) / len(exact)
    assert recall >= 0.95, recall


def test_hash_split_deterministic_and_stable_under_growth(spark, docs):
    """Split membership is a pure function of the id: re-running over a
    GROWN corpus never moves an existing row between splits (the
    leakage-safety property), fractions land near targets, and bad
    fractions raise."""
    from picogeojson_spark.operators.dedup import hash_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    first = {r.doc_id: r.split for r in hash_split(docs, fr).collect()}
    assert set(first.values()) <= {"train", "val", "test"}

    grown = docs.unionByName(
        spark.createDataFrame([(100 + i, "new doc {}".format(i), "en")
                               for i in range(50)],
                              "doc_id long, text string, lang string")
    )
    second = {r.doc_id: r.split for r in hash_split(grown, fr).collect()}
    for did, split in first.items():
        assert second[did] == split, did

    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(docs, {"a": 0.9, "b": 0.2})


def test_gopher_quality_flags(spark):
    from picogeojson_spark.operators.textstats import gopher_quality_flags

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # clean
            (2, "spam spam spam spam spam spam spam spam"),      # repetitive
            (3, "hi"),                                           # too short
            (4, ""),                                             # empty
            (5, "a b c d e f g h"),                              # 1-char words
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}

    r1 = rows[1]
    assert r1.n_words == 9 and r1.total_2grams == 8 and r1.distinct_2grams == 8
    assert r1.mean_word_len_x1e6 == (35 * 1000000) // 9
    assert r1.dup_2gram_frac_x1e6 == 0 and r1.keep

    r2 = rows[2]  # "spam spam" x7 duplicate 2-grams -> 6/7 duplicated
    assert r2.total_2grams == 7 and r2.distinct_2grams == 1
    assert r2.dup_2gram_frac_x1e6 == (6 * 1000000) // 7
    assert not r2.keep

    assert rows[3].n_words == 1 and not rows[3].keep
    assert rows[4].n_words == 0 and not rows[4].keep
    assert rows[5].mean_word_len_x1e6 == 1000000 and not rows[5].keep


def test_top_terms_crafted_docs(spark):
    """Pins top_terms semantics: per-group top-k by count desc with
    LEXICOGRAPHIC tie-break, lower-cased whitespace tokenization, empty
    tokens dropped, and per-group (not global) k."""
    from picogeojson_spark.operators.textstats import top_terms

    docs = spark.createDataFrame(
        [
            (1, "en", "Apple banana APPLE cherry banana apple"),
            (2, "en", "  cherry   banana\tdate  "),   # mixed whitespace
            (3, "fr", "zebra yak zebra"),
            (4, "fr", "yak xylo"),
            (5, "de", ""),                            # empty doc: no terms
        ],
        "doc_id long, lang string, text string",
    )
    rows = [(r.lang, r.rnk, r.word, r.n)
            for r in top_terms(docs, k=2).orderBy("lang", "rnk").collect()]
    # en: apple=3, banana=3 (tie -> 'apple' first lexicographically)
    # fr: yak=2, zebra=2 (tie -> 'yak' first); xylo=1 cut by k=2
    assert rows == [
        ("en", 1, "apple", 3),
        ("en", 2, "banana", 3),
        ("fr", 1, "yak", 2),
        ("fr", 2, "zebra", 2),
    ]
    # k is per group: k=1 keeps exactly one word per group
    one = top_terms(docs, k=1).collect()
    assert {(r.lang, r.word) for r in one} == {("en", "apple"), ("fr", "yak")}


def test_multimodal_plumbing(spark):
    from picogeojson_spark.operators.multimodal import (
        decode_image,
        extract_media_features,
        fake_features,
        synth_media,
    )

    media = synth_media(spark, 30)
    rows = media.collect()
    assert len(rows) == 30
    assert rows[0].meta.width > 0

    feats = extract_media_features(media).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r.features for r in feats}
    for r in rows:
        assert by_id[r.media_id] == fake_features(bytes(r.payload))

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_multimodal_decoder_injection(spark):
    """A production env with codec libs activates the real decode path by
    injecting a callable through the public API — no code change."""
    import hashlib

    from picogeojson_spark.operators.multimodal import (
        decode_media,
        extract_media_features,
        fake_features,
        synth_media,
    )

    media = synth_media(spark, 20)
    raw = {r.media_id: bytes(r.payload) for r in media.collect()}

    def fake_decoder(payload, kind):
        return hashlib.sha256(kind.encode() + payload).digest()

    decoded = decode_media(media, decoder=fake_decoder).collect()
    assert len(decoded) == 20
    for r in decoded:
        assert bytes(r.decoded) == fake_decoder(raw[r.media_id], r.kind)
        assert r.n_bytes == len(raw[r.media_id])

    # decode+featurize fusion: features computed over DECODED bytes
    feats = extract_media_features(media, decoder=fake_decoder).collect()
    for r in feats:
        expect = fake_features(fake_decoder(raw[r.media_id], r.kind))
        assert r.features == expect

    # no decoder injected -> the honest env stub surfaces as the task error
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)):
        decode_media(media).collect()


def test_resumable_job_checkpoints(spark, tmp_path):
    from picogeojson_spark.plans.checkpoint import ResumableJob

    out = str(tmp_path / "job_out")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("val")
    )
    job = ResumableJob(spark, out, buckets=8, waves=4)
    s1 = job.run(df, key_col="id")
    assert s1["buckets_run"] == 8
    assert s1["rows"] == 1000
    assert job.read_output().count() == 1000
    # lineage written with per-task rows/sec
    lineage_files = os.listdir(os.path.join(out, "_lineage"))
    assert len(lineage_files) == 4
    with open(os.path.join(out, "_lineage", lineage_files[0])) as f:
        lin = json.load(f)
    assert lin["tasks"] and "rows_per_sec" in lin["tasks"][0]

    # resume: nothing left to do, output unchanged
    s2 = ResumableJob(spark, out, buckets=8, waves=4).run(df, key_col="id")
    assert s2["buckets_run"] == 0
    assert job.read_output().count() == 1000


def test_resumable_job_partial_resume(spark, tmp_path):
    from picogeojson_spark.plans.checkpoint import ResumableJob

    out = str(tmp_path / "job_partial")
    df = spark.range(0, 500).select(F.col("id"), (F.col("id") % 7).alias("val"))
    job = ResumableJob(spark, out, buckets=8, waves=4)
    # simulate a prior run that completed buckets 0..3 with their data
    pre = ResumableJob(spark, out, buckets=8, waves=1)
    bucketed = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("id")), F.lit(8))
    ).filter(F.col("bucket") < 4)
    bucketed.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(out, "data")
    )
    for b in range(4):
        pre._mark_done(b)

    s = job.run(df, key_col="id")
    assert s["buckets_done_before"] == 4
    assert s["buckets_run"] == 4
    assert job.read_output().count() == 500


def test_streaming_mine(spark, tmp_path):
    from picogeojson_spark.sources.synth import pages_dataframe
    from picogeojson_spark.streaming.pages_stream import run_stream_to_memory

    pages_dir = str(tmp_path / "pages_stream")
    pages_dataframe(spark, 60, partitions=3).write.parquet(pages_dir)

    q = run_stream_to_memory(spark, pages_dir, query_name="feat_counts_t")
    try:
        q.processAllAvailable()
        counts = {
            r.geom_type: r["count"]
            for r in spark.sql("select * from feat_counts_t").collect()
        }
    finally:
        q.stop()
    from picogeojson_spark.operators import mine_features

    batch = {
        r.geom_type: r["count"]
        for r in mine_features(spark.read.parquet(pages_dir))
        .groupBy("geom_type")
        .count()
        .collect()
    }
    assert counts == batch
    assert sum(counts.values()) > 0


def test_streaming_knn_foreach_batch_equals_batch(spark, tmp_path):
    """foreachBatch kNN: per-micro-batch batch kNN against a static
    candidate table accumulates exactly the single-batch result (kNN is
    per-query independent)."""
    from pyspark.sql import functions as F

    from picogeojson_spark.operators import filter_by_type, mine_features
    from picogeojson_spark.operators.knn import knn_join
    from picogeojson_spark.sources.synth import pages_dataframe
    from picogeojson_spark.streaming.pages_stream import stream_knn_foreach_batch

    pages_dir = str(tmp_path / "pages_knn")
    out = str(tmp_path / "knn_out")
    ckpt = str(tmp_path / "knn_ckpt")
    # several files so availableNow runs multiple micro-batches
    pages_dataframe(spark, 120, partitions=6).write.parquet(pages_dir)

    cands = spark.createDataFrame(
        [(i, float((i * 37) % 360 - 180) + 0.25, float((i * 61) % 170 - 85) + 0.25)
         for i in range(40)],
        "neighbor_id long, lon double, lat double",
    )
    q = stream_knn_foreach_batch(spark, pages_dir, cands, out, ckpt, k=3,
                                 max_files_per_trigger=2)
    q.awaitTermination(180)
    stream_rows = {
        (r.query_id, r.rank): r.neighbor_id
        for r in spark.read.parquet(out).collect()
    }

    pts = filter_by_type(mine_features(spark.read.parquet(pages_dir)), "Point").select(
        (F.pmod(F.col("doc_id"), F.lit(2**40)) * 100
         + F.col("feature_idx")).alias("query_id"),
        "lon", "lat",
    )
    batch_rows = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_join(pts, cands, k=3, level=6).collect()
    }
    assert stream_rows == batch_rows
    assert stream_rows


def test_streaming_pip_join_equals_batch(spark, tmp_path):
    """Stream-static spatial join: mined Point features joined to a static
    polygon table produce EXACTLY the batch pip_join pairs over the same
    parquet (the two paths share every operator)."""
    from pyspark.sql import functions as F

    from picogeojson_spark.operators import filter_by_type, mine_features, pip_join
    from picogeojson_spark.sources.synth import pages_dataframe
    from picogeojson_spark.streaming.pages_stream import stream_pip_join

    import __spark_entry__ as em

    pages_dir = str(tmp_path / "pages_sjoin")
    pages_dataframe(spark, 80, partitions=3).write.parquet(pages_dir)
    polys = em._grid_polygons(spark)

    q = (
        stream_pip_join(spark, pages_dir, polys)
        .writeStream.format("memory")
        .queryName("stream_pip_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        stream_pairs = {
            (r.point_id, r.poly_id)
            for r in spark.sql("select * from stream_pip_t").collect()
        }
    finally:
        q.stop()

    pts = filter_by_type(mine_features(spark.read.parquet(pages_dir)), "Point").select(
        (F.pmod(F.col("doc_id"), F.lit(2**40)) * 100
         + F.col("feature_idx")).alias("point_id"),
        "lon", "lat",
    )
    batch_pairs = {(r.point_id, r.poly_id) for r in pip_join(pts, polys).collect()}
    assert stream_pairs == batch_pairs
    assert stream_pairs


def test_streaming_windowed_watermark(spark, tmp_path):
    from picogeojson_spark.sources.synth import pages_dataframe
    from picogeojson_spark.streaming.pages_stream import stream_windowed_counts

    pages_dir = str(tmp_path / "pages_wm")
    pages_dataframe(spark, 40, partitions=2).write.parquet(pages_dir)

    counts = stream_windowed_counts(spark, pages_dir, window="6 hours",
                                    watermark="1 hour")
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_counts_t")
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode only emits windows the watermark has closed; with a
        # finite input nothing may close — assert the query ran stateful
        # processing without error and tracks watermark progress
        prog = q.lastProgress
        assert prog is not None
        assert q.exception() is None
    finally:
        q.stop()


def test_bucketed_join_is_exchange_free(spark):
    import contextlib
    import io

    from picogeojson_spark.plans.bucketing import read_table, write_bucketed

    import shutil

    for t in ("t_bucket_a", "t_bucket_b"):
        spark.sql("DROP TABLE IF EXISTS {}".format(t))
        shutil.rmtree("spark-warehouse/{}".format(t), ignore_errors=True)
    a = spark.range(0, 5000).selectExpr("id as cell", "id * 2 as va")
    b = spark.range(0, 5000).selectExpr("id as cell", "id * 3 as vb")
    write_bucketed(a, "t_bucket_a", "cell", buckets=8)
    write_bucketed(b, "t_bucket_b", "cell", buckets=8)
    # force the non-broadcast plan: the point of bucketing is eliminating
    # the shuffle Exchange on fact-to-fact joins too big to broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "t_bucket_a").join(
            read_table(spark, "t_bucket_b"), on="cell"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_cosine_pairs_lsh_plan_has_no_cross_join(spark, embeddings):
    """The bucketed near-dup path must never plan an all-pairs join — that
    is the entire point of the LSH gate (plan-regression guard for the
    PLANS.md claim)."""
    import contextlib
    import io

    from picogeojson_spark.operators.similarity import cosine_pairs_lsh

    out = cosine_pairs_lsh(embeddings, 0.5, planes=3, bands=4, dim=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_np_matches_expression_path(spark, embeddings):
    from picogeojson_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_bruteforce_topk_np,
    )

    expr = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_x1e6)
        for r in ann_bruteforce_topk(embeddings, embeddings, k=4).collect()
    }
    fast = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_x1e6)
        for r in ann_bruteforce_topk_np(embeddings, embeddings, k=4).collect()
    }
    assert expr == fast


def test_ann_ivf_beats_random_and_self_matches(spark, embeddings):
    from picogeojson_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    brute = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(embeddings, embeddings, k=3).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(embeddings, embeddings, k=3, nlist=8,
                              nprobe=3).collect()
    }
    # a vector's own list is always its first probe -> self-match guaranteed
    assert all((i, i) in ivf for i in range(1, 41))
    recall = len(ivf & brute) / len(brute)
    assert recall > 0.5, recall

    # determinism: a second run returns the identical pair set
    ivf2 = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_topk(embeddings, embeddings, k=3, nlist=8,
                              nprobe=3).collect()
    }
    assert ivf == ivf2


def test_cell_partitioned_layout_prunes_and_matches(spark, tmp_path):
    import numpy as np

    from picogeojson_spark.geo.cells import cell_of
    from picogeojson_spark.plans.spatial_layout import (
        read_bbox_pruned,
        write_cell_partitioned,
    )

    # deterministic world-spread points on the quarter lattice
    rows = [
        (i,
         float((i * 13) % 720) / 2.0 - 180.0 + 0.25,
         float((i * 17) % 360) / 2.0 - 90.0 + 0.25)
        for i in range(2000)
    ]
    pts = spark.createDataFrame(rows, "point_id long, lon double, lat double")
    pts = pts.withColumn("cell", F.udf(lambda lo, la: int(cell_of(lo, la)), "long")(
        F.col("lon"), F.col("lat")))
    path = str(tmp_path / "pts_by_cell")
    write_cell_partitioned(pts, path)

    bbox = (-10.0, -5.0, 20.0, 15.0)
    got = {
        r.point_id for r in read_bbox_pruned(spark, path, *bbox).collect()
    }
    expect = {
        i for i, lon, lat in rows
        if bbox[0] <= lon <= bbox[2] and bbox[1] <= lat <= bbox[3]
    }
    assert got == expect and got

    # directory-level prune actually happened: the executed plan carries a
    # partition filter on cell_p and scans a strict subset of partitions
    df = read_bbox_pruned(spark, path, *bbox)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "cell_p" in plan and "PartitionFilters" in plan, plan[:2000]
    n_dirs = len({f.rsplit("/", 2)[1] for f in spark.read.parquet(path).inputFiles()})
    kept = df.select(F.countDistinct("cell_p")).first()[0]
    assert kept < n_dirs, (kept, n_dirs)


def test_cell_partitioned_read_crosses_dateline(spark, tmp_path):
    from picogeojson_spark.geo.cells import cell_of
    from picogeojson_spark.plans.spatial_layout import (
        read_bbox_pruned,
        write_cell_partitioned,
    )

    rows = [
        (i,
         float((i * 13) % 720) / 2.0 - 180.0 + 0.25,
         float((i * 17) % 360) / 2.0 - 90.0 + 0.25)
        for i in range(2000)
    ]
    pts = spark.createDataFrame(rows, "point_id long, lon double, lat double")
    pts = pts.withColumn("cell", F.udf(lambda lo, la: int(cell_of(lo, la)), "long")(
        F.col("lon"), F.col("lat")))
    path = str(tmp_path / "pts_dl")
    write_cell_partitioned(pts, path)

    # xmin > xmax: the bbox wraps across the antimeridian
    got = {r.point_id
           for r in read_bbox_pruned(spark, path, 170.0, -10.0, -170.0, 10.0).collect()}
    expect = {i for i, lon, lat in rows
              if (lon >= 170.0 or lon <= -170.0) and -10.0 <= lat <= 10.0}
    assert got == expect and got


def test_stream_dedup_exact_cross_batch_and_restart(spark, tmp_path):
    """applyInPandasWithState dedup: in-batch dups collapse, and state in
    the checkpoint survives a stream restart (cross-run dedup)."""
    from picogeojson_spark.streaming.stateful import stream_dedup_exact

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema("url string, text string").parquet(src)
        q = (
            stream_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.url, r.h) for r in spark.read.parquet(out).collect()}

    spark.createDataFrame(
        [("u1", "alpha text"), ("u2", "beta text"), ("u3", "alpha text")],
        "url string, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    first = run_once()
    # u1/u3 share a hash -> exactly one emitted; u2 distinct -> emitted
    assert len(first) == 2
    assert {u for u, _ in first} <= {"u1", "u2", "u3"} and ("u2" in {u for u, _ in first})

    spark.createDataFrame(
        [("u4", "alpha text"), ("u5", "gamma text")],
        "url string, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    second = run_once()
    new = second - first
    # the re-crawl of "alpha text" (u4) is dropped by checkpointed state;
    # only the genuinely new content (u5) comes through
    assert {u for u, _ in new} == {"u5"}, new


def test_stream_band_keys_match_batch_minhash(spark, docs):
    """The streaming per-row band keys must equal the batch operator's
    (concat of md5-min signature groups) doc for doc, band for band."""
    from picogeojson_spark.operators.dedup import minhash_signatures
    from picogeojson_spark.streaming.stateful import _band_keys_udf

    got = {
        (r.doc_id, r.band): r.key
        for r in docs.select("doc_id", "text").mapInPandas(
            _band_keys_udf(3, 16, 4, "doc_id", "text"),
            schema="doc_id long, band int, key string",
        ).collect()
    }
    sigs = minhash_signatures(docs, 3, 16).collect()
    want = {}
    for r in sigs:
        for b in range(4):
            want[(r.doc_id, b)] = "".join(
                r["sig_{}".format(b * 4 + i)] for i in range(4)
            )
    assert got == want


def test_stream_dedup_minhash_cross_batch(spark, tmp_path):
    """Near-dup candidates flow in-batch AND across restarts (checkpointed
    band-key state): a re-crawl of known content is flagged against the
    original representative."""
    from picogeojson_spark.streaming.stateful import stream_dedup_minhash

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(
            "doc_id long, text string").parquet(src)
        q = (
            stream_dedup_minhash(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.doc_id, r.rep_id)
                for r in spark.read.parquet(out).collect()}

    base = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(1, base), (2, base),
         (5, "completely different text about spark engines and data")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    first = run_once()
    # identical docs collide in every band; rep is the min id in the batch
    assert first == {(2, 1)}

    spark.createDataFrame(
        [(9, base), (10, "unrelated fresh content nothing shared here")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    second = run_once()
    # the re-crawl (9) is flagged against the checkpointed rep (1);
    # fresh content stays silent
    assert second - first == {(9, 1)}


def test_asof_join_semantics(spark):
    from picogeojson_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 101, 50), (1, 102, 100), (1, 103, 10), (2, 201, 70)],
        "k long, lid long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 901, 40), (1, 902, 100), (2, 903, 80)],
        "k long, rid long, ts long",
    )
    got = {
        (r.lid, r.r_rid)
        for r in asof_join(left, right, by="k", ts_col="ts",
                           right_value_cols=["rid"]).collect()
    }
    # lid 102 at ts=100 matches rid 902 at ts=100 (inclusive >=);
    # lid 103 at ts=10 has no prior right row (dropped, inner);
    # lid 201 at ts=70 precedes k=2's only right row at 80 (dropped)
    assert got == {(101, 901), (102, 902)}, got

    left_mode = {
        (r.lid, r.r_rid)
        for r in asof_join(left, right, by="k", ts_col="ts",
                           right_value_cols=["rid"], how="left").collect()
    }
    assert left_mode == {(101, 901), (102, 902), (103, None), (201, None)}


def test_asof_join_null_right_values_carry_one_row(spark):
    """A NULL in a right value column must NOT be backfilled from an older
    right row — the payload travels as one struct, so the output row is
    exactly the single as-of match; and an all-NULL payload still counts
    as matched under how='inner' (the struct, not its first field, marks
    the match)."""
    from picogeojson_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 11, 30), (1, 12, 15)], "k long, lid long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 10, 7, "x"), (1, 20, None, "y")],
        "k long, ts long, a int, b string",
    )
    got = {
        (r.lid, r.r_a, r.r_b)
        for r in asof_join(left, right, by="k", ts_col="ts",
                           right_value_cols=["a", "b"]).collect()
    }
    # lid 11 at ts=30 matches the ts=20 row WHOLE: (NULL, 'y') — a
    # per-column carry would stitch (7, 'y') from two different rows
    assert got == {(11, None, "y"), (12, 7, "x")}, got

    # inner mode keeps a matched row whose FIRST value column is NULL
    right2 = spark.createDataFrame(
        [(1, 10, None, None)], "k long, ts long, a int, b string"
    )
    inner = asof_join(left, right2, by="k", ts_col="ts",
                      right_value_cols=["a", "b"]).collect()
    assert {(r.lid, r.r_a, r.r_b) for r in inner} == {
        (11, None, None), (12, None, None)
    }


def test_stream_dedup_ttl_expires_state(spark, tmp_path):
    """ProcessingTime TTL: after the timeout elapses the key's state is
    removed (the timed-out invocation), so a re-arrival of the same content
    re-emits — and state stops growing without bound.

    One CONTINUOUS query (processingTime trigger): with a processing-time
    timeout an availableNow query never self-terminates — it idles firing
    empty timer batches forever — so the batch-restart harness the other
    dedup test uses would hang/leak here. Timers fire in later batches of
    the same run instead."""
    import time

    from picogeojson_spark.streaming.stateful import stream_dedup_exact

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def add(rows):
        spark.createDataFrame(rows, "url string, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def urls_seen():
        try:
            return {r.url for r in spark.read.parquet(out).collect()}
        except Exception:  # noqa: BLE001 - sink dir not created yet
            return set()

    def wait_for(url, deadline_s=90):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if url in urls_seen():
                return True
            time.sleep(0.5)
        return False

    add([("u1", "alpha text")])
    stream = spark.readStream.schema("url string, text string").parquet(src)
    q = (
        stream_dedup_exact(stream, ttl_minutes=0.005)  # 300 ms
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        assert wait_for("u1")
        time.sleep(2)  # let u1's 300 ms TTL lapse; timer batch removes state
        add([("u2", "beta text")])
        assert wait_for("u2")
        time.sleep(2)
        # without expiry u4 ("alpha text" again) would be dropped forever
        add([("u3", "gamma text"), ("u4", "alpha text")])
        assert wait_for("u4")
    finally:
        q.stop()
        q.awaitTermination(60)


def test_polygon_intersection_join(spark):
    import json as _json

    from picogeojson_spark.geo.polyjoin import polygons_intersect
    from picogeojson_spark.operators.poly_join import polygon_intersection_join

    def rect(x0, y0, w, h, hole=None):
        rings = [[[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h],
                  [x0, y0]]]
        if hole:
            hx0, hy0, hw, hh = hole
            rings.append([[hx0, hy0], [hx0, hy0 + hh], [hx0 + hw, hy0 + hh],
                          [hx0 + hw, hy0], [hx0, hy0]])
        return {"type": "Polygon", "coordinates": rings}

    # kernel cases first
    plus_v = rect(-1.0, -5.0, 2.0, 10.0)     # tall bar
    plus_h = rect(-5.0, -1.0, 10.0, 2.0)     # wide bar: edges cross, no
    assert polygons_intersect(plus_v, plus_h)  # vertex inside either
    donut = rect(0.0, 0.0, 40.0, 40.0, hole=(10.0, 10.0, 20.0, 20.0))
    inside_hole = rect(15.0, 15.0, 5.0, 5.0)
    assert not polygons_intersect(donut, inside_hole)
    assert polygons_intersect(donut, rect(5.0, 5.0, 3.0, 3.0))
    assert not polygons_intersect(rect(0, 0, 2, 2), rect(10, 10, 2, 2))
    # degenerate input (no ring with >=2 points): no crash; the test
    # degrades to vertex containment
    dot = {"type": "Polygon", "coordinates": [[[1.0, 1.0]]]}
    assert polygons_intersect(dot, rect(0, 0, 2, 2))      # vertex inside
    assert not polygons_intersect(dot, rect(10, 10, 2, 2))
    empty = {"type": "Polygon", "coordinates": []}
    assert not polygons_intersect(empty, rect(0, 0, 2, 2))

    # operator vs O(n^2) kernel oracle on a lattice world (A quarters,
    # B offset eighths -> no degenerate touching)
    A = [(i, rect((i * 13) % 300 / 2.0 - 90 + 0.25,
                  (i * 17) % 200 / 2.0 - 60 + 0.25, 5.5, 3.5))
         for i in range(120)]
    B = [(j, rect((j * 29) % 280 / 2.0 - 70 + 0.125,
                  (j * 31) % 120 / 2.0 - 30 + 0.125, 12.25, 7.25))
         for j in range(25)]
    dfa = spark.createDataFrame([(i, _json.dumps(g)) for i, g in A],
                                "a_id long, geometry_json string")
    dfb = spark.createDataFrame([(j, _json.dumps(g)) for j, g in B],
                                "b_id long, geometry_json string")
    got = {(r.a_id, r.b_id)
           for r in polygon_intersection_join(dfa, dfb, level=6).collect()}
    expected = {(i, j) for i, ga in A for j, gb in B
                if polygons_intersect(ga, gb)}
    assert got == expected and got


def test_morton_key_matches_python_reference(spark):
    from picogeojson_spark.geo.cells import cell_of
    from picogeojson_spark.plans.spatial_layout import morton_key

    def py_morton(x, y):
        out = 0
        for b in range(29):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    pts = [(i, float((i * 13) % 720) / 2 - 180 + 0.25,
            float((i * 17) % 360) / 2 - 90 + 0.25) for i in range(200)]
    df = spark.createDataFrame(pts, "i long, lon double, lat double")
    df = df.withColumn("cell", F.udf(lambda lo, la: int(cell_of(lo, la)), "long")(
        "lon", "lat")).withColumn("z", morton_key("cell"))
    for r in df.collect():
        c = r["cell"]
        x = (c >> 29) & ((1 << 29) - 1)
        y = c & ((1 << 29) - 1)
        assert r["z"] == py_morton(x, y), (x, y)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Differential vs pandas.merge_asof (an independent implementation of
    as-of semantics): 50 random cases batched into one Spark job via a
    composite (case, k) key. Unique (key, ts) per side avoids the
    tie-among-equal-right-ts ambiguity both implementations leave open."""
    import random

    import pandas as pd

    from picogeojson_spark.operators.asof import asof_join

    rng = random.Random(424242)
    left_rows, right_rows = [], []
    for case in range(50):
        for side, rows in (("l", left_rows), ("r", right_rows)):
            seen = set()
            for _ in range(rng.randint(0, 12)):
                key = (case * 10 + rng.randint(0, 2), rng.randint(0, 60))
                if key in seen:
                    continue
                seen.add(key)
                rows.append((key[0], len(rows) + 1, key[1]))

    left = spark.createDataFrame(left_rows, "k long, lid long, ts long")
    right = spark.createDataFrame(
        [(k, i + 9000, ts) for k, i, ts in right_rows], "k long, rid long, ts long"
    )
    got = {
        (r.k, r.lid, r.r_rid)
        for r in asof_join(left, right, by="k", ts_col="ts",
                           right_value_cols=["rid"], how="left").collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "lid", "ts"]).sort_values("ts")
    rp = pd.DataFrame(
        [(k, i + 9000, ts) for k, i, ts in right_rows],
        columns=["k", "rid", "ts"],
    ).sort_values("ts")
    if len(lp) and len(rp):
        m = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward",
                          allow_exact_matches=True)
        expected = {
            (int(r.k), int(r.lid), None if pd.isna(r.rid) else int(r.rid))
            for r in m.itertuples()
        }
    else:
        expected = {(int(k), int(l), None) for k, l, _ in left_rows}
    assert got == expected


def test_poly_join_auto_level_equals_fixed(spark):
    import json as _json

    from picogeojson_spark.operators.poly_join import polygon_intersection_join

    def rect(x0, y0, w, h):
        return {"type": "Polygon",
                "coordinates": [[[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                                 [x0, y0 + h], [x0, y0]]]}

    A = [(i, _json.dumps(rect((i * 13) % 300 / 2.0 - 90 + 0.25,
                              (i * 17) % 200 / 2.0 - 60 + 0.25, 5.5, 3.5)))
         for i in range(60)]
    B = [(j, _json.dumps(rect((j * 29) % 280 / 2.0 - 70 + 0.125,
                              (j * 31) % 120 / 2.0 - 30 + 0.125, 12.25, 7.25)))
         for j in range(15)]
    dfa = spark.createDataFrame(A, "a_id long, geometry_json string")
    dfb = spark.createDataFrame(B, "b_id long, geometry_json string")
    auto = {(r.a_id, r.b_id)
            for r in polygon_intersection_join(dfa, dfb).collect()}
    fixed = {(r.a_id, r.b_id)
             for r in polygon_intersection_join(dfa, dfb, level=6).collect()}
    assert auto == fixed and auto


def test_multimodal_resize_and_frame_sample(spark):
    import hashlib

    from picogeojson_spark.operators.multimodal import (
        fake_resize,
        frame_sample,
        resize_media,
        synth_media,
    )

    media = synth_media(spark, 30)
    resized = resize_media(media, 128, 96)
    rows = {r.media_id: r for r in resized.collect()}
    orig = {r.media_id: r for r in media.collect()}
    for mid, r in rows.items():
        if r.kind == "image":
            assert (r.meta.width, r.meta.height) == (128, 96)
            assert bytes(r.payload) == fake_resize(bytes(orig[mid].payload),
                                                   128, 96)
        else:
            assert bytes(r.payload) == bytes(orig[mid].payload)
            assert r.meta == orig[mid].meta

    frames = frame_sample(media, every_ms=1000, max_frames=4).collect()
    assert frames and all(f.frame_idx < 4 and f.ts_ms == f.frame_idx * 1000
                          for f in frames)
    # frame bytes are the deterministic fake of (payload, ts)
    f0 = frames[0]
    expect = hashlib.sha256(
        bytes(orig[f0.media_id].payload) + int(f0.ts_ms).to_bytes(8, "big")
    ).digest()
    assert bytes(f0.frame) == expect
    # every video with duration>0 contributed at least one frame
    vids = {m for m, r in orig.items()
            if r.kind == "video" and r.meta.duration_ms > 0}
    assert vids <= {f.media_id for f in frames}
    # and a zero-duration clip contributes NONE (no ts=0 frame beyond the
    # media's actual duration)
    zero = {m for m, r in orig.items()
            if r.kind == "video" and r.meta.duration_ms == 0}
    assert not (zero & {f.media_id for f in frames})


def test_frame_sample_frame_fn_seam(spark):
    """The injectable frame_fn (the decoder= seam) replaces the fake
    digest with zero code change — the production ffmpeg plug point."""
    from picogeojson_spark.operators.multimodal import frame_sample, \
        synth_media

    media = synth_media(spark, 12)
    got = frame_sample(media, every_ms=1000, max_frames=2,
                       frame_fn=lambda p, t: b"F%d:%d" % (len(p), t))
    rows = got.collect()
    orig = {m.media_id: m for m in media.collect()}
    assert rows and all(
        bytes(r.frame) == b"F%d:%d" % (
            len(bytes(orig[r.media_id].payload)), r.ts_ms)
        for r in rows)


def test_resumable_job_cleans_stale_partial_buckets(spark, tmp_path):
    """A crash between data write and marker write must not duplicate rows
    on resume (stale unmarked bucket dirs are removed before re-running)."""
    import os

    from picogeojson_spark.plans.checkpoint import ResumableJob

    out = str(tmp_path / "job_out")
    df = spark.range(0, 200).select(
        F.col("id").cast("string").alias("url"), F.col("id").alias("v")
    )

    # first run: complete
    job = ResumableJob(spark, out, buckets=8, waves=2)
    s1 = job.run(df, key_col="url")
    assert s1["rows"] == 200

    # simulate a crashed wave: write partial junk into one bucket dir and
    # remove its marker
    victim = 3
    os.remove(os.path.join(out, "_done", "bucket_{}".format(victim)))
    stale = os.path.join(out, "data", "bucket={}".format(victim))
    assert os.path.isdir(stale)

    job2 = ResumableJob(spark, out, buckets=8, waves=2)
    s2 = job2.run(df, key_col="url")
    assert s2["buckets_done_before"] == 7 and s2["buckets_run"] == 1

    # total output is exactly the input — no duplicates from the re-run
    assert job2.read_output().count() == 200
    assert job2.read_output().select("url").distinct().count() == 200


def test_top_terms(spark, docs):
    from picogeojson_spark.operators.textstats import top_terms

    rows = top_terms(docs, k=2).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.rnk, r.word, r.n))
    # python oracle
    import collections
    expected = {}
    for _, text, lang in DOCS:
        for w in text.lower().strip().split():
            expected.setdefault(lang, collections.Counter())[w] += 1
    for lang, counter in expected.items():
        top = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        got = sorted(by_lang[lang])
        assert [(i + 1, w, n) for i, (w, n) in enumerate(top)] == got, lang


def _py_gram_occurrences(text, n):
    toks = text.lower().strip().split()
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_ngram_span_stats(spark, docs):
    """Python-brute oracle: dup grams = grams occurring in >=2 distinct docs."""
    import collections

    from picogeojson_spark.operators.dedup import ngram_span_stats

    n = 3
    per_doc = {d: _py_gram_occurrences(t, n) for d, t, _ in DOCS}
    doc_sets = collections.defaultdict(set)
    for d, grams in per_doc.items():
        for g in grams:
            doc_sets[g].add(d)
    dup = {g for g, ds in doc_sets.items() if len(ds) >= 2}
    expected = {}
    for d, grams in per_doc.items():
        if not grams:
            continue
        tot = len(grams)
        dn = sum(1 for g in grams if g in dup)
        expected[d] = (tot, dn, dn * 1000000 // tot)

    got = {
        r.doc_id: (r.total_ngrams, r.dup_ngrams, r.dup_frac_x1e6)
        for r in ngram_span_stats(docs, n=n).collect()
    }
    assert got == expected
    # the exact-dup trio must be fully duplicated spans
    assert got[1][2] == 1000000 and got[2][2] == 1000000 and got[7][2] == 1000000
    # the unique doc has zero duplicated spans... unless it shares with near-dup
    assert got[5][1] == 0


def test_ngram_span_stats_repeated_gram_multiset(spark):
    """Occurrences are a multiset: a gram repeated inside ONE doc but present
    in another counts each occurrence as duplicated."""
    from picogeojson_spark.operators.dedup import ngram_span_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b x")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.total_ngrams, r.dup_ngrams)
           for r in ngram_span_stats(df, n=2).collect()}
    # doc 1 grams: [a b, b a, a b, b a, a b] -> 'a b' x3 duplicated (doc 2 has it)
    assert got[1] == (5, 3)
    assert got[2] == (2, 1)


def test_contamination_flags(spark):
    from picogeojson_spark.operators.dedup import contamination_flags

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
            (3, "alpha beta gamma zeta eta"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix alpha beta gamma suffix"), (101, "nothing shared here ok")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_hits, r.contaminated)
           for r in contamination_flags(train, bench, n=3).collect()}
    # train doc 1 shares exactly the distinct 3-gram 'alpha beta gamma'
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (1, True)


def test_repetition_top_ngram(spark):
    from picogeojson_spark.operators.textstats import repetition_top_ngram

    df = spark.createDataFrame(
        [
            # 'spam ham' occurs 3x (chars 7 each occurrence, word_chars 26)
            (1, "spam ham spam ham spam ham eggs"),
            # tie between 'aa bb' and 'bb aa' (both 2x) -> lexicographic wins
            (2, "aa bb aa bb aa"),
            (3, "single"),  # < n tokens -> no row
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_top_ngram(df, n=2).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert r1.top_gram == "spam ham" and r1.top_n == 3
    word_chars = len("spamhamspamhamspamhameggs")
    assert r1.rep_frac_x1e6 == 3 * len("spamham") * 1000000 // word_chars
    r2 = rows[2]
    assert r2.top_gram == "aa bb" and r2.top_n == 2


def test_pack_token_shards_matches_serial_prefix_sum(spark):
    import random

    from picogeojson_spark.operators.packing import pack_token_shards

    rng = random.Random(7)
    data = [(i * 3 + 1, rng.randrange(0, 500)) for i in range(200)]
    df = spark.createDataFrame(data, "doc_id long, w long").repartition(7)
    # tiny bucket_width forces many buckets -> exercises the two-level scan
    got = {
        r.doc_id: (r.weight, r.start_offset, r.shard_id)
        for r in pack_token_shards(
            df, budget=1000, weight_col="w", bucket_width=16
        ).collect()
    }
    run = 0
    for doc_id, w in sorted(data):
        assert got[doc_id] == (w, run, run // 1000)
        run += w
    assert len(got) == len(data)


def test_pack_token_shards_validates_budget(spark):
    from picogeojson_spark.operators.packing import pack_token_shards

    df = spark.createDataFrame([(1, 5)], "doc_id long, w long")
    with pytest.raises(ValueError):
        pack_token_shards(df, budget=0, weight_col="w")


def test_semdedup_keep_rule_and_cluster_gating(spark):
    """Within-cluster near-dups drop all but the min id; an identical pair
    split ACROSS clusters survives (the SemDeDup trade — cluster-bounded
    pair work), and the keep rule is deterministic."""
    import numpy as np

    from picogeojson_spark.operators.similarity import semdedup

    cents = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    rows = [
        (1, [1.0, 0.02]),    # cluster 0
        (2, [1.0, 0.021]),   # cluster 0, near-dup of 1 -> dropped
        (3, [1.0, 0.5]),     # cluster 0 boundary-ish but still near 1? keep rule below
        (4, [0.02, 1.0]),    # cluster 1
        (5, [0.021, 1.0]),   # cluster 1, near-dup of 4 -> dropped
        (6, [1.0, 1.0001]),  # cluster 1 (barely) — near-identical to 7
        (7, [1.0001, 1.0]),  # cluster 0 (barely) — cross-cluster twin of 6
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: (r.list_id, r.kept)
           for r in semdedup(df, threshold=0.999, centroids=cents).collect()}
    assert len(got) == 7
    # min-id representative survives, its near-dup does not
    assert got[1][1] is True and got[2][1] is False
    assert got[4][1] is True and got[5][1] is False
    # 3 is far from 1/2 at this threshold -> kept
    assert got[3][1] is True
    # cross-cluster twins both survive: the pair was never scored
    assert got[6][0] != got[7][0]
    assert got[6][1] is True and got[7][1] is True


def test_semdedup_chain_keeps_exactly_min(spark):
    """A duplicate chain a~b~c in one cluster keeps only the smallest id
    (every non-min member has SOME smaller near-dup)."""
    import numpy as np

    from picogeojson_spark.operators.similarity import semdedup

    cents = np.asarray([[1.0, 0.0]])
    df = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [1.0, 0.0]), (12, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.kept
           for r in semdedup(df, threshold=0.99, centroids=cents).collect()}
    assert got == {10: True, 11: False, 12: False}


def test_bm25_ranking_semantics(spark):
    """tf raises rank; length normalization favors the shorter doc at equal
    tf; rarer terms outweigh common ones (idf); n_hit counts matched
    query terms."""
    from picogeojson_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "rare common filler filler"),
            (2, "common filler filler filler"),
            (3, "common common filler filler filler filler filler filler"),
            (4, "filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_topk(docs, ["rare", "common"], k=10)
           .collect()}
    assert 4 not in out  # no query term -> no row
    assert out[1].n_hit == 2 and out[2].n_hit == 1 and out[3].n_hit == 1
    # doc 1 holds the only 'rare' occurrence -> top rank
    assert out[1].rank == 1
    # doc 2 (tf=1, dl=4) beats doc 3 (tf=2 but dl=8): length norm + idf
    assert out[2].score_x1e6 > 0 and out[3].score_x1e6 > 0
    ranks = sorted((r.rank, r.doc_id) for r in out.values())
    assert [d for _, d in ranks][0] == 1


def test_bm25_empty_terms_raises(spark):
    from picogeojson_spark.operators.retrieval import bm25_topk

    with pytest.raises(ValueError):
        bm25_topk(spark.range(1).withColumnRenamed("id", "doc_id")
                  .withColumn("text", F.lit("x")), [])


def _pagerank_replica(edges, iterations=8, damping_pct=85, scale=10**12):
    """Pure-Python integer replica of operators.graph.pagerank."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    r0 = scale // n
    base = (r0 * (100 - damping_pct)) // 100
    ranks = {v: r0 for v in nodes}
    for _ in range(iterations):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + ranks[s] // outdeg[s]
        ranks = {v: base + (contrib.get(v, 0) * damping_pct) // 100
                 for v in nodes}
    return ranks


def test_pagerank_matches_integer_replica(spark):
    """Spark fixed-point PageRank == the serial integer replica, exactly
    (the determinism contract: no float accumulation anywhere)."""
    from picogeojson_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 1), (1, 3), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    log = []
    got = {r.node: r["rank"]
           for r in pagerank(df, iterations=6, iteration_log=log).collect()}
    assert got == _pagerank_replica(edges, iterations=6)
    # one log entry per round (scripts/graph_jitter_probe.py reads them)
    assert [e["round"] for e in log] == list(range(6))
    assert all(e["wall_s"] >= 0 and e["gc_ms"] >= 0 for e in log)


def test_pagerank_hub_and_dangling(spark):
    """A node every other node links to ranks highest; a dangling sink
    (no out-edges) still appears with base + damped in-mass; source-only
    nodes settle at the base rank."""
    from picogeojson_spark.operators.graph import pagerank

    edges = [(i, 100) for i in range(1, 6)] + [(1, 200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df, iterations=4).collect()}
    assert len(got) == 7
    assert got[100] == max(got.values())  # the hub
    assert got[200] > got[2] == got[3] == got[4] == got[5]  # leaf sources


def _ppr_replica(edges, seeds, iterations=4, damping_pct=85,
                 scale=10**12):
    """Pure-Python integer replica of personalized pagerank."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    seeds = sorted(set(seeds))
    r0 = scale // len(seeds)
    base = (r0 * (100 - damping_pct)) // 100
    ranks = {v: (r0 if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        contrib = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + ranks[s] // outdeg[s]
        ranks = {v: (base if v in seeds else 0)
                 + (contrib.get(v, 0) * damping_pct) // 100
                 for v in nodes}
    return ranks


def test_personalized_pagerank_matches_replica(spark):
    from picogeojson_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 1), (1, 3), (6, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r["rank"]
           for r in pagerank(df, iterations=5, seeds=[1, 4]).collect()}
    assert got == _ppr_replica(edges, [1, 4], iterations=5)
    # mass is concentrated near the seeds; the disconnected 6->7 island
    # gets exactly zero
    assert got[6] == 0 and got[7] == 0


def test_personalized_all_seeds_equals_uniform(spark):
    """seeds == all nodes reduces EXACTLY to uniform pagerank (same r0,
    same base, same integer updates)."""
    from picogeojson_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    uni = {r.node: r["rank"] for r in pagerank(df, iterations=4).collect()}
    per = {r.node: r["rank"]
           for r in pagerank(df, iterations=4,
                             seeds=[1, 2, 3]).collect()}
    assert uni == per


# ------------------------------------------------------- unigram surprisal

def test_unigram_surprisal_hand_computed(spark):
    """Hand-check: corpus 'a a a b' (total=4, bitlen=3): cnt(a)=3
    (bitlen 2, surp 1), cnt(b)=1 (bitlen 1, surp 2)."""
    from picogeojson_spark.operators.textstats import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b"), (3, "   ")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["surprisal_sum"],
                         r["mean_surprisal_x1000"])
           for r in unigram_surprisal(docs).collect()}
    assert got[1] == (3, 3, 1000)      # 3 occurrences of 'a', 1 bit each
    assert got[2] == (1, 2, 2000)      # 1 occurrence of 'b', 2 bits
    assert got[3] == (0, 0, 0)         # tokenless doc scores zero


def test_unigram_surprisal_rare_scores_higher(spark):
    """A rare-token doc must outscore a common-token doc."""
    from picogeojson_spark.operators.textstats import unigram_surprisal

    rows = [(i, "the the the the") for i in range(20)] + [(99, "zyzzyva")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_surprisal_x1000"]
           for r in unigram_surprisal(docs).collect()}
    assert got[99] > got[0]


def test_unigram_surprisal_matches_duckdb(spark):
    import duckdb

    from picogeojson_spark.operators.textstats import (
        unigram_surprisal,
        unigram_surprisal_oracle_sql,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "beta beta"), (3, ""),
         (4, "alpha zeta")], "doc_id long, text string")
    con = duckdb.connect()
    con.register("d", docs.toPandas())
    want = con.execute(
        unigram_surprisal_oracle_sql("SELECT doc_id, text FROM d")).df()
    got = unigram_surprisal(docs).orderBy("doc_id").toPandas()
    for c in ("doc_id", "n_tokens", "surprisal_sum", "mean_surprisal_x1000"):
        assert list(got[c]) == list(want[c]), c


# ------------------------------------------------- adaptive quality threshold

def test_quality_adaptive_keeps_top_fraction(spark):
    """20 docs, distinct scores -> keep_pct=30 keeps exactly the top 6
    (pos = (70*20+99) div 100 = 14, cutoff = 14th score ascending...
    assert via brute-force python replay rather than hand arithmetic."""
    from picogeojson_spark.operators.textstats import (
        quality_percentile_flags,
    )

    rows = [(i, "en", ("word " * i) + ("x" * 40) + " the and of ")
            for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = quality_percentile_flags(docs, keep_pct=30).collect()
    scores = {r["doc_id"]: r["score"] for r in out}
    n = len(scores)
    pos = (70 * n + 99) // 100
    cutoff = sorted(scores.values())[pos - 1]
    for r in out:
        assert r["cutoff"] == cutoff
        assert r["keep"] == (r["score"] >= cutoff), r


def test_quality_adaptive_per_group_cutoffs_differ(spark):
    """Two langs with different score distributions get different cutoffs
    — the point of adaptive (per-group) thresholding."""
    from picogeojson_spark.operators.textstats import (
        quality_percentile_flags,
    )

    rows = [(i, "en", "the and of " * (i % 5 + 1) + "pad " * 20)
            for i in range(1, 30)]
    rows += [(100 + i, "de", "nothing stoppy here at all " * (i % 3 + 1))
             for i in range(1, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    cut = {r["lang"]: r["cutoff"]
           for r in quality_percentile_flags(docs, keep_pct=50).collect()}
    assert cut["en"] != cut["de"]


def test_quality_adaptive_matches_duckdb(spark):
    import duckdb

    from picogeojson_spark.operators.textstats import (
        quality_percentile_flags,
        quality_percentile_oracle_sql,
    )

    rows = [(i, ["en", "de"][i % 2],
             "the and of words " * (i % 7 + 1) + "tail" * (i % 3))
            for i in range(1, 40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    con = duckdb.connect()
    con.register("docs_v", docs.toPandas())
    want = con.execute(quality_percentile_oracle_sql(
        "SELECT doc_id, lang, text FROM docs_v", keep_pct=30)).df()
    got = (quality_percentile_flags(docs, keep_pct=30)
           .orderBy("doc_id").toPandas())
    for c in ("doc_id", "lang", "score", "cutoff", "keep"):
        assert list(got[c]) == list(want[c]), c


def test_quality_adaptive_validation(spark):
    import pytest as _pytest

    from picogeojson_spark.operators.textstats import (
        quality_percentile_flags,
    )

    docs = spark.createDataFrame([(1, "en", "x")],
                                 "doc_id long, lang string, text string")
    with _pytest.raises(ValueError):
        quality_percentile_flags(docs, keep_pct=0)
    with _pytest.raises(ValueError):
        quality_percentile_flags(docs, keep_pct=101)


# ---------------------------------------------------------- token drift

def test_token_drift_flags_shifted_token(spark):
    """A token present only in snapshot B must outrank stable tokens."""
    from picogeojson_spark.operators.textstats import token_drift

    a = spark.createDataFrame(
        [(1, "stable words here " * 5)], "doc_id long, text string")
    b = spark.createDataFrame(
        [(2, "stable words here " * 5 + "newterm " * 10)],
        "doc_id long, text string")
    rows = token_drift(a, b, k=3).collect()
    assert rows[0]["tok"] == "newterm" and rows[0]["rank"] == 1
    assert rows[0]["cnt_a"] == 0 and rows[0]["cnt_b"] == 10


def test_token_drift_scale_free(spark):
    """Duplicating snapshot B's rows must not change any ppm rate or
    score (rates are per-million, not raw counts)."""
    from picogeojson_spark.operators.textstats import token_drift

    a = spark.createDataFrame(
        [(1, "alpha beta gamma alpha")], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(2, "alpha beta beta delta")], "doc_id long, text string")
    b2 = b1.union(b1).union(b1)
    r1 = [(r["tok"], r["rate_a_ppm"], r["rate_b_ppm"], r["drift_score"])
          for r in token_drift(a, b1, k=10).collect()]
    r2 = [(r["tok"], r["rate_a_ppm"], r["rate_b_ppm"], r["drift_score"])
          for r in token_drift(a, b2, k=10).collect()]
    assert r1 == r2


def test_token_drift_matches_duckdb(spark):
    import duckdb

    from picogeojson_spark.operators.textstats import (
        token_drift,
        token_drift_oracle_sql,
    )

    rows = [(i, "tok{} tok{} common filler words".format(i % 7, i % 3))
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    con = duckdb.connect()
    con.register("dv", docs.toPandas())
    want = [tuple(r) for r in con.execute(token_drift_oracle_sql(
        "SELECT text FROM dv WHERE doc_id % 2 = 0",
        "SELECT text FROM dv WHERE doc_id % 2 = 1", k=20)).fetchall()]
    got = [tuple(r) for r in token_drift(a, b, k=20).collect()]
    assert got == want and got


# ------------------------------------------------------------------ HITS

def _hits_replica(edges, iterations=4, scale=10**9):
    """Pure-Python integer replica of operators.graph.hits."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    hub = {v: scale for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(iterations):
        raw = {}
        for s, d in edges:
            raw[d] = raw.get(d, 0) + hub[s]
        div = max(1, sum(raw.values()) // scale)
        auth = {v: raw.get(v, 0) // div for v in nodes}
        raw = {}
        for s, d in edges:
            raw[s] = raw.get(s, 0) + auth[d]
        div = max(1, sum(raw.values()) // scale)
        hub = {v: raw.get(v, 0) // div for v in nodes}
    return {v: (hub[v], auth[v]) for v in nodes}


def test_hits_matches_integer_replica(spark):
    """Spark integer HITS == the serial integer replica, exactly."""
    from picogeojson_spark.operators.graph import hits

    edges = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 1), (1, 3), (6, 7),
             (4, 3), (5, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r["hub"], r["auth"])
           for r in hits(df, iterations=4).collect()}
    assert got == _hits_replica(edges, iterations=4)


def test_hits_hub_authority_structure(spark):
    """Pages linked by many hubs score as authorities; pages linking to
    many authorities score as hubs; mutual reinforcement beats degree."""
    from picogeojson_spark.operators.graph import hits

    # hubs 1-3 all cite authorities 100, 101; stray edge 4 -> 200
    edges = [(h, a) for h in (1, 2, 3) for a in (100, 101)] + [(4, 200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r["hub"], r["auth"]) for r in hits(df).collect()}
    assert got[100][1] == got[101][1] > got[200][1]
    assert got[1][0] == got[2][0] == got[3][0] > got[4][0]
    # pure authorities have zero hub mass, pure hubs zero authority
    assert got[100][0] == 0 and got[1][1] == 0


# ---------------------------------------------------- bigram LM surprisal

def test_bigram_surprisal_hand_computed(spark):
    """Corpus doc1='a b a b', doc2='a c': bigrams are (a b)x2, (b a)x1,
    (a c)x1. Prefix counts: a->3, b->1. surp(a b)=bitlen(3)-bitlen(2)=0,
    surp(b a)=bitlen(1)-bitlen(1)=0, surp(a c)=bitlen(3)-bitlen(1)=1."""
    from picogeojson_spark.operators.textstats import bigram_surprisal

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo"), (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["surprisal_sum"],
                         r["mean_surprisal_x1000"])
           for r in bigram_surprisal(docs).collect()}
    assert got[1] == (3, 0, 0)
    assert got[2] == (1, 1, 1000)
    assert got[3] == (0, 0, 0)   # one token: no bigram
    assert got[4] == (0, 0, 0)


def test_bigram_surprisal_rare_transition_beats_common(spark):
    """A rare continuation of a COMMON prefix scores high: 'cat sat'x8
    gives surp(cat sat) = bitlen(9) - bitlen(8) = 0 while the one
    'cat the' gets surp = bitlen(9) - bitlen(1) = 3."""
    from picogeojson_spark.operators.textstats import bigram_surprisal

    rows = [(i, "cat sat") for i in range(8)] + [(99, "cat the")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_surprisal_x1000"]
           for r in bigram_surprisal(docs).collect()}
    assert got[0] == 0
    assert got[99] == 3000


# ------------------------------------------------- embedding decontamination

def test_decontam_embed_known_geometry(spark):
    """Hand-built vectors: eval = x-axis. A corpus copy of it is
    contaminated at cos 1.0, an orthogonal vector is clean, a 45-degree
    vector sits at cos ~0.707 (contaminated at 0.7, clean at 0.8)."""
    from picogeojson_spark.operators.similarity import decontaminate_embed

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [5.0, 5.0]),
         (4, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    evals = corpus.filter(F.col("vec_id") == 1)
    got = {r["vec_id"]: r for r in
           decontaminate_embed(corpus, evals, 700_000).collect()}
    assert got[1]["max_cos_x1e6"] == 1_000_000 and got[1]["contaminated"] == 1
    assert got[2] ["contaminated"] == 0 and got[2]["max_cos_x1e6"] == 0
    assert got[3]["max_cos_x1e6"] == 707_107 and got[3]["contaminated"] == 1
    assert got[4]["max_cos_x1e6"] == -1_000_000 and got[4]["n_hits"] == 0
    strict = {r["vec_id"]: r["contaminated"] for r in
              decontaminate_embed(corpus, evals, 800_000).collect()}
    assert strict == {1: 1, 2: 0, 3: 0, 4: 0}


def test_decontam_embed_counts_multiple_hits(spark):
    from picogeojson_spark.operators.similarity import decontaminate_embed

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    evals = spark.createDataFrame(
        [(10, [2.0, 0.0]), (11, [1.0, 0.1]), (12, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    r = decontaminate_embed(corpus, evals, 900_000).collect()[0]
    assert r["n_hits"] == 2 and r["contaminated"] == 1


def test_decontam_embed_empty_eval_set(spark):
    from picogeojson_spark.operators.similarity import decontaminate_embed

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    evals = corpus.filter(F.col("vec_id") < 0)
    r = decontaminate_embed(corpus, evals, 500_000).collect()[0]
    assert (r["n_hits"], r["contaminated"], r["max_cos_x1e6"]) == (0, 0, None)


# ----------------------------------------------------- compression ratio

def test_compression_ratio_matches_python_zlib(spark):
    """Row-for-row parity with a serial zlib replay (the op's exactness
    evidence — DuckDB has no DEFLATE, so the contract query is rows-only)."""
    import zlib

    from picogeojson_spark.operators.textstats import compression_ratio

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, "spam " * 500),
        (3, ""),
        (4, "x"),
        (5, "Zab4!kQ9#mD2@pL7"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["raw_len"], r["comp_len"], r["ratio_ppm"],
                         r["low_entropy"])
           for r in compression_ratio(docs).collect()}
    for i, t in rows:
        b = t.encode("utf-8")
        c = len(zlib.compress(b, 6))
        ratio = (c * 1_000_000) // len(b) if b else 1_000_000
        assert got[i] == (len(b), c, ratio, int(ratio < 300_000)), i


def test_compression_ratio_orders_redundancy(spark):
    """Template spam compresses far better than prose; random-ish short
    text barely compresses; only the spam is flagged."""
    from picogeojson_spark.operators.textstats import compression_ratio

    docs = spark.createDataFrame(
        [(1, "buy now " * 400),
         (2, "It was the best of times, it was the worst of times, it was"
             " the age of wisdom, it was the age of foolishness, light and"
             " dark, hope and despair, spring and winter together at once.")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    assert got[1]["ratio_ppm"] < got[2]["ratio_ppm"]
    assert got[1]["low_entropy"] == 1 and got[2]["low_entropy"] == 0


# ----------------------------------------------- streaming sessionization

def test_stream_sessions_equals_batch(spark, tmp_path):
    """session_window streaming sessions == a batch session_window over
    the same events, and the per-user event/cents totals == the lag-based
    batch sessionizer's (boundary rules differ only on EXACT-gap ties,
    which this fixture includes to pin the end-exclusive rule)."""
    from picogeojson_spark.streaming.pages_stream import (
        stream_sessionize_events,
    )

    GAP = 1800000000  # 30 min in us
    rows = []
    # user 1: an EXACT-gap follow-up plus a gap+1 break — pins the
    # boundary rule: exactly 30 min MERGES, 30 min + 1 us splits
    t0 = 1_600_000_000_000_000
    rows += [(1, 1, t0, 5.0), (2, 1, t0 + 60_000_000, 7.0),
             (3, 1, t0 + 60_000_000 + GAP, 1.0),
             (4, 1, t0 + 60_000_000 + 2 * GAP + 1, 9.0)]
    # user 2: one long chained session
    rows += [(10 + i, 2, t0 + i * (GAP - 1), 2.0) for i in range(4)]
    import datetime

    def ntz(us):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=us)

    ev = spark.createDataFrame(
        [(eid, ntz(us), uid, "view", v, "") for eid, uid, us, v in rows],
        "event_id bigint, ts timestamp_ntz, user_id bigint,"
        " event_type string, value double, props string")
    d = str(tmp_path / "events_stream")
    # ONE time-sorted file (out-of-order part files would late-drop under
    # the 0s watermark — the file source batches per file)
    ev.orderBy("ts", "event_id").coalesce(1).write.mode(
        "overwrite").parquet(d)
    # flush sentinels as a second file
    (ev.select("user_id").distinct().select(
        F.lit(-1).cast("bigint").alias("event_id"),
        F.expr("TIMESTAMP_NTZ '2099-01-01 00:00:00'").alias("ts"),
        "user_id", F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"), F.lit("").alias("props"))
     .coalesce(1).write.mode("append").parquet(d))

    src = (spark.readStream
           .schema("event_id bigint, ts timestamp_ntz, user_id bigint,"
                   " event_type string, value double, props string")
           .option("maxFilesPerTrigger", 1).parquet(d))
    agg = stream_sessionize_events(src)
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("t_sessions_q").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r["user_id"], r["start_us"]): (r["n_rows"], r["cents_sum"])
           for r in spark.table("t_sessions_q")
           .filter(F.col("n_flush") == 0).collect()}
    # user 1: the exact-gap row MERGES (3 events); the gap+1 row splits
    assert got[(1, t0)] == (3, 1300)
    assert got[(1, t0 + 60_000_000 + 2 * GAP + 1)] == (1, 900)
    # user 2: gap-1 diffs chain into ONE session of 4
    assert got[(2, t0)] == (4, 800)
    assert len(got) == 3

    # batch session_window over the same events == the streamed result
    batch = (
        ev.withColumn("ts_i", F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"))
        .groupBy("user_id", F.session_window("ts_i", "30 minutes"))
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
             F.expr("min(timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))")
             .alias("start_us"))
    )
    bgot = {(r["user_id"], r["start_us"]): (r["n"], r["c"])
            for r in batch.collect()}
    assert bgot == got


def test_readability_hand_computed(spark):
    from picogeojson_spark.operators.textstats import readability

    docs = spark.createDataFrame(
        [
            # "the cat sat." -> 3 words, 1 sentence, 3 syllable groups
            (1, "the cat sat."),
            # empty text -> all floors kick in (1,1,1)
            (2, "   "),
            # multi-sentence, shared punctuation run counts once
            (3, "go!! stop? now."),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in readability(docs).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (3, 1, 3)
    # fre = 206835 - 1015000*3//1000 - 84600*3//3 = 206835 - 3045 - 84600
    assert r1.fre_milli == 206835 - 3045 - 84600
    assert r1.fkg_milli == 390000 * 3 // 1000 + 11800 * 3 // 3 - 15590
    r2 = rows[2]
    assert (r2.n_words, r2.n_sentences, r2.n_syllables) == (1, 1, 1)
    assert rows[3].n_sentences == 3
