"""gains_table + brier_score: hand-computed buckets/lift, tie handling,
python brute replays, perfect/inverted/one-class edges, clamping,
negative-skill floor."""

import pytest
from pyspark.sql import functions as F

from picogeojson_spark.operators.evals import brier_score, gains_table

pytestmark = pytest.mark.usefixtures("spark")


def _sdf(spark, rows):
    return spark.createDataFrame(rows, "score long, label boolean")


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "p long, label boolean")


def _py_gains(rows, k):
    """Brute replay: sort by score desc, bucket by strictly-above count."""
    from collections import Counter

    n_tot = len(rows)
    p_tot = sum(1 for _, y in rows if y)
    hist = Counter()
    for s, y in rows:
        n, n1 = hist.get(s, (0, 0))
        hist[s] = (n + 1, n1 + (1 if y else 0))
    out = {}
    for s in sorted(hist, reverse=True):
        above = sum(n for t, (n, _) in hist.items() if t > s)
        b = above * k // n_tot
        n, n1 = hist[s]
        r = out.setdefault(b, [0, 0])
        r[0] += n
        r[1] += n1
    res = []
    cum_rows = cum_pos = 0
    for b in sorted(out):
        n, n1 = out[b]
        cum_rows += n
        cum_pos += n1
        lift = (cum_pos * n_tot * 10**6 // (cum_rows * p_tot)
                if p_tot else None)
        cap = cum_pos * 10**6 // p_tot if p_tot else None
        res.append((b, n, n1, cum_rows, cum_pos,
                    cum_rows * 10**6 // n_tot, cap, lift))
    return res


def test_gains_hand_two_buckets(spark):
    # scores 4,3 (pos) | 2,1 (neg): top half captures all positives
    rows = [(4, True), (3, True), (2, False), (1, False)]
    got = [tuple(r) for r in
           gains_table(_sdf(spark, rows), k=2).orderBy("bucket").collect()]
    assert got == [
        (0, 2, 2, 2, 2, 500000, 1000000, 2000000),
        (1, 2, 0, 4, 2, 1000000, 1000000, 1000000),
    ]


def test_gains_ties_stay_in_one_bucket(spark):
    # 3 rows share score 5; with k=3 the tied group must NOT straddle:
    # above=1 for the group -> bucket floor(3*1/4)=0 for all three
    rows = [(9, True), (5, True), (5, False), (5, False)]
    got = gains_table(_sdf(spark, rows), k=3).orderBy("bucket").collect()
    assert [r.bucket for r in got] == [0]  # 9 has above=0 -> bucket 0 too
    assert got[0].n_rows == 4 and got[0].cum_pos == 2


def test_gains_single_bucket_lift_is_unity(spark):
    rows = [(i, i % 3 == 0) for i in range(20)]
    got = gains_table(_sdf(spark, rows), k=1).collect()
    assert len(got) == 1 and got[0].lift_ppm == 1000000
    assert got[0].capture_ppm == 1000000 and got[0].depth_ppm == 1000000


def test_gains_no_positives_null(spark):
    rows = [(i, False) for i in range(8)]
    got = gains_table(_sdf(spark, rows), k=4).orderBy("bucket").collect()
    assert all(r.lift_ppm is None and r.capture_ppm is None for r in got)
    assert [r.depth_ppm for r in got] == [250000, 500000, 750000, 1000000]


def test_gains_brute_differential(spark):
    rows = [((i * 37) % 23, (i * 7) % 3 == 1) for i in range(200)]
    got = [tuple(r) for r in
           gains_table(_sdf(spark, rows), k=10).orderBy("bucket").collect()]
    assert got == _py_gains(rows, 10)


def test_gains_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        gains_table(_sdf(spark, [(1, True)]), k=0)


def test_brier_perfect_and_inverted(spark):
    perfect = [(1000, True), (1000, True), (0, False)]
    r = brier_score(_pdf(spark, perfect)).collect()[0]
    assert (r.n, r.pos, r.ssq, r.brier_ppm, r.skill_ppm) == (
        3, 2, 0, 0, 1000000)
    inverted = [(0, True), (0, True), (1000, False)]
    r = brier_score(_pdf(spark, inverted)).collect()[0]
    assert r.brier_ppm == 1000000
    # ref = 2*1/9; brier = 1 -> skill = 1 - 9/2 = -3.5
    assert r.skill_ppm == -3500000


def test_brier_hand_value(spark):
    # p=700 on a positive: (700-1000)^2 = 90000; p=200 neg: 40000
    rows = [(700, True), (200, False)]
    r = brier_score(_pdf(spark, rows)).collect()[0]
    assert r.ssq == 130000
    assert r.brier_ppm == 130000 * 10**6 // (2 * 10**6)
    # ref = 1e6*1*1 = 1e6; num = 1e6*(1e6 - 130000*2) = 1e6*740000
    assert r.skill_ppm == 740000


def test_brier_climatology_is_zero_skill(spark):
    # base rate 1/2, predict 500 everywhere -> brier == ref -> skill 0
    rows = [(500, True), (500, False), (500, True), (500, False)]
    r = brier_score(_pdf(spark, rows)).collect()[0]
    assert r.skill_ppm == 0


def test_brier_clamps_out_of_range(spark):
    rows = [(5000, True), (-40, False)]
    r = brier_score(_pdf(spark, rows)).collect()[0]
    assert r.ssq == 0 and r.brier_ppm == 0


def test_brier_one_class_null_skill(spark):
    rows = [(900, True), (800, True)]
    r = brier_score(_pdf(spark, rows)).collect()[0]
    assert r.skill_ppm is None and r.brier_ppm is not None


def test_brier_negative_skill_floor_exact(spark):
    # engineered so the skill numerator is negative and NOT divisible:
    # floor must round toward -inf on both engines
    rows = [(0, True)] * 3 + [(1000, False)] * 2 + [(0, False)] * 2
    r = brier_score(_pdf(spark, rows), scale=1000).collect()[0]
    n, pos, ssq = 7, 3, 3 * 10**6 + 2 * 10**6
    ref = 10**6 * pos * (n - pos)
    num = 10**6 * (ref - ssq * n)
    assert r.skill_ppm == num // ref  # python // floors
    assert num % ref != 0 and r.skill_ppm < 0


def test_brier_custom_scale(spark):
    rows = [(3, True), (1, False)]
    r = brier_score(_pdf(spark, rows), scale=4).collect()[0]
    assert r.ssq == 1 + 1
    assert r.brier_ppm == 2 * 10**6 // (2 * 16)
    with pytest.raises(ValueError):
        brier_score(_pdf(spark, rows), scale=0)


def test_brier_oracle_matches_spark_past_int64(spark, tmp_path):
    """eval_brier's DuckDB oracle vs its Spark query on 20k documents,
    about half of them positive: pos * (n - pos) is ~1e8, so the scaled
    skill numerator (~1e20) is past INT64 and must run in HUGEINT."""
    import duckdb

    import __spark_entry__ as entry

    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, (i * 7919) % 600) for i in range(20000)],
        "doc_id long, n_chars long",
    ).write.parquet(path)
    got = [tuple(r) for r in entry.q_eval_brier(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "read_parquet('{}/*.parquet')".format(path))
    want = con.execute(entry.oracle_sql()["eval_brier"]).fetchall()
    n, pos = got[0][:2]
    assert n == 20000 and pos * (n - pos) > 9 * 10**7
    assert got == want
