"""ams_f2 + containment_pairs: md5 replay, mergeability direction,
variance sanity; containment hand cases, asymmetry, completeness vs
brute, threshold boundary."""

import hashlib

import pytest
from pyspark.sql import functions as F

from picogeojson_spark.operators.dedup import containment_pairs
from picogeojson_spark.operators.sketches import ams_f2

pytestmark = pytest.mark.usefixtures("spark")


def _py_ams(keys, k, salt):
    zs = [0] * k
    for kv in keys:
        h = int(hashlib.md5((salt + ":" + str(kv)).encode())
                .hexdigest()[:8], 16)
        for r in range(k):
            zs[r] += 1 - 2 * ((h >> r) & 1)
    ests = sorted(z * z for z in zs)
    return ests[k // 2 - 1], sum(ests) // k


def test_ams_md5_replay(spark):
    keys = ["k%d" % (i % 7) for i in range(100)] + ["hot"] * 50
    df = spark.createDataFrame([(x,) for x in keys], "key string")
    r = ams_f2(df, k=16, salt="t").collect()[0]
    med, mean = _py_ams(keys, 16, "t")
    assert (r.n_rows, r.f2_median, r.f2_mean) == (150, med, mean)


def test_ams_single_key_exact(spark):
    # one distinct key: every estimator is (+-n)^2 = n^2 = F2 exactly
    df = spark.createDataFrame([("x",)] * 9, "key string")
    r = ams_f2(df, k=8, salt="s").collect()[0]
    assert r.f2_median == 81 and r.f2_mean == 81


def test_ams_estimates_scale_with_skew(spark):
    # same n, different F2: skewed input must estimate higher
    flat = [("k%d" % i,) for i in range(64)]
    skew = [("k0",)] * 64
    df_f = spark.createDataFrame(flat, "key string")
    df_s = spark.createDataFrame(skew, "key string")
    ef = ams_f2(df_f, k=16, salt="v").collect()[0].f2_median
    es = ams_f2(df_s, k=16, salt="v").collect()[0].f2_median
    assert es == 64 * 64  # exact for single key
    assert ef < es


def test_ams_k_bounds(spark):
    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError):
        ams_f2(df, k=0)
    with pytest.raises(ValueError):
        ams_f2(df, k=1)
    with pytest.raises(ValueError):
        ams_f2(df, k=33)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_subset_detected_jaccard_blind(spark):
    # doc 1 (4 shingles) fully inside doc 2 (12 shingles):
    # containment 1.0 but jaccard 4/12 = 0.33
    small = "a b c d e f"                       # 4 3-gram shingles
    big = small + " g h i j k l m n"            # 12 shingles
    out = containment_pairs(_docs(spark, [(1, small), (2, big)]),
                            n=3, t_num=9, t_den=10).collect()
    rows = {(r.src, r.dst): r for r in out}
    assert (1, 2) in rows and (2, 1) not in rows
    r = rows[(1, 2)]
    assert r.inter_sz == 4 and r.src_sz == 4
    assert r.containment_ppm == 1000000


def test_containment_threshold_boundary(spark):
    # src has 10 shingles, 9 shared: C = 0.9 -> kept at t=9/10,
    # dropped at t=19/20
    src_words = " ".join("w%d" % i for i in range(12))      # 10 shingles
    dst_words = " ".join("w%d" % i for i in range(11)) + " z y x"
    # dst shares shingles w0..w8 window: compute via operator itself
    d = _docs(spark, [(1, src_words), (2, dst_words)])
    keep = {(r.src, r.dst): r.containment_ppm
            for r in containment_pairs(d, n=3, t_num=9, t_den=10)
            .collect()}
    assert keep.get((1, 2)) == 900000
    strict = containment_pairs(d, n=3, t_num=19, t_den=20).collect()
    assert not any(r.src == 1 and r.dst == 2 for r in strict)


def test_containment_brute_completeness(spark):
    # 30 random-ish docs; operator output must equal the brute pairs
    def text(i):
        base = ["t%d" % ((i * j + j * j) % 17) for j in range(8)]
        return " ".join(base)

    rows = [(i, text(i)) for i in range(30)]
    got = {(r.src, r.dst, r.inter_sz)
           for r in containment_pairs(_docs(spark, rows), n=3,
                                      t_num=7, t_den=10).collect()}

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    expect = set()
    for i, ti in rows:
        for j, tj in rows:
            if i == j:
                continue
            a, b = sh(ti), sh(tj)
            inter = len(a & b)
            if 10 * inter >= 7 * len(a):
                expect.add((i, j, inter))
    assert got == expect and expect


def test_containment_rejects_bad_threshold(spark):
    with pytest.raises(ValueError):
        containment_pairs(_docs(spark, [(1, "a b c")]), t_num=0)
