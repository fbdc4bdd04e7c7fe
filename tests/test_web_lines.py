"""Round-3 batch B operators: duplicate-line removal, mixture balancing,
hashed linear quality, URL canonicalization."""

import hashlib

import pytest
from pyspark.sql import functions as F

from picogeojson_spark.operators.lines import hot_lines, remove_duplicate_lines
from picogeojson_spark.operators.sampling import BUCKETS, mixture_sample
from picogeojson_spark.operators.textstats import (
    hashed_linear_weights,
    linear_quality,
)
from picogeojson_spark.operators.web import canonicalize, domain_stats


# ---------------------------------------------------------------- lines ----

@pytest.fixture(scope="module")
def line_docs(spark):
    rows = [
        (1, "unique alpha\nSHARED FOOTER\n \nbody one"),
        (2, "unique beta\nSHARED FOOTER\nbody two"),
        (3, "solo gamma\nrepeat me\nrepeat me\nbody three"),
        (4, "SHARED FOOTER"),          # becomes empty after removal
        (5, ""),                        # empty doc: 1 empty line, kept
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_lines_counts_distinct_docs(spark, line_docs):
    hot = {r.line_h: r.n_docs for r in hot_lines(line_docs, 2).collect()}
    footer = hashlib.md5(b"SHARED FOOTER").hexdigest()
    repeat = hashlib.md5(b"repeat me").hexdigest()
    assert hot == {footer: 3}
    # 'repeat me' occurs twice but only in ONE doc -> not boilerplate
    assert repeat not in hot


def test_remove_duplicate_lines_semantics(spark, line_docs):
    got = {r.doc_id: r for r in
           remove_duplicate_lines(line_docs, 2).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # footer struck, whitespace-only line preserved verbatim, order kept
    assert got[1].text_clean == "unique alpha\n \nbody one"
    assert (got[1].n_lines, got[1].n_kept) == (4, 3)
    assert got[2].text_clean == "unique beta\nbody two"
    # within-doc repetition survives
    assert got[3].text_clean == "solo gamma\nrepeat me\nrepeat me\nbody three"
    # fully-boilerplate doc still present, emptied
    assert (got[4].n_kept, got[4].text_clean) == (0, "")
    # empty doc: its single empty line never participates and is kept
    assert (got[5].n_lines, got[5].n_kept, got[5].text_clean) == (1, 1, "")


def test_remove_duplicate_lines_matches_serial_replica(spark):
    import random

    rng = random.Random(7)
    vocab = ["nav bar", "cookie notice", "footer", "x", "y", "z"]
    docs = []
    for i in range(60):
        lines = [
            rng.choice(vocab) + ("" if rng.random() < 0.5 else " %d" % i)
            for _ in range(rng.randrange(1, 6))
        ]
        docs.append((i, "\n".join(lines)))
    # serial replica
    from collections import defaultdict

    seen = defaultdict(set)
    for i, text in docs:
        for ln in text.split("\n"):
            if ln.strip():
                seen[ln].add(i)
    hot = {ln for ln, d in seen.items() if len(d) >= 2}
    want = {}
    for i, text in docs:
        kept = [ln for ln in text.split("\n") if ln not in hot]
        want[i] = (len(text.split("\n")), len(kept), "\n".join(kept))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_lines, r.n_kept, r.text_clean)
           for r in remove_duplicate_lines(df, 2).collect()}
    assert got == want


# -------------------------------------------------------------- mixture ----

def _bucket(value, salt):
    h = hashlib.md5("{}:{}".format(salt, value).encode()).hexdigest()
    return int(h[:8], 16) % BUCKETS


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    rows = [(i, "big" if i < 800 else "small") for i in range(900)]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mixture_sample_keeps_small_sources_whole(spark, mixed_corpus):
    got = mixture_sample(mixed_corpus, cap=200).groupBy("source").count()
    counts = {r.source: r["count"] for r in got.collect()}
    assert counts["small"] == 100          # n=100 <= cap: kept entirely
    assert 140 <= counts["big"] <= 260     # expected 200 of 800


def test_mixture_sample_matches_replica_and_is_growth_stable(spark,
                                                            mixed_corpus):
    thr_big = min(BUCKETS, BUCKETS * 200 // 800)
    want_big = {i for i in range(800) if _bucket(i, "mix0") < thr_big}
    got = {r.doc_id for r in
           mixture_sample(mixed_corpus, cap=200)
           .filter(F.col("source") == "big").collect()}
    assert got == want_big
    # growing ANOTHER source never churns this source's membership
    grown = mixed_corpus.union(
        mixed_corpus.sparkSession.createDataFrame(
            [(10000 + i, "small") for i in range(900)],
            "doc_id long, source string",
        )
    )
    got2 = {r.doc_id for r in
            mixture_sample(grown, cap=200)
            .filter(F.col("source") == "big").collect()}
    assert got2 == want_big


# ------------------------------------------------------- linear quality ----

def test_linear_quality_matches_serial_replica(spark):
    docs = [
        (1, "the quick brown fox"),
        (2, "THE QUICK  brown\tfox"),   # case/whitespace folding
        (3, ""),                          # token-less doc
        (4, "solo"),
    ]
    w = hashed_linear_weights(64)
    assert len(w) == 64 and all(-1000 <= x <= 1000 for x in w)

    def score(text):
        toks = [t for t in text.lower().strip().split() if t]
        return sum(
            w[int(hashlib.md5(("w0:" + t).encode()).hexdigest()[:8], 16) % 64]
            for t in toks
        ), len(toks)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.score, r.n_tokens, r.keep)
           for r in linear_quality(df, 64).collect()}
    for i, text in docs:
        s, n = score(text)
        assert got[i] == (s, n, s >= 0), (i, text)
    # docs 1 and 2 tokenize identically -> identical scores
    assert got[1] == got[2]


# ------------------------------------------------------------------ web ----

def test_canonicalize_pathologies(spark):
    cases = [
        # (raw, url_norm, host, domain)
        ("HTTP://WWW.Foo.COM:80/A/b#frag",
         "http://foo.com/A/b", "foo.com", "foo.com"),
        ("https://news.foo.com:443/a?q=1", "https://news.foo.com/a?q=1",
         "news.foo.com", "foo.com"),
        ("http://m.foo.org:8080/x", "http://m.foo.org:8080/x",
         "m.foo.org", "foo.org"),
        ("https://user:pw@foo.NET/x/", "https://foo.net/x/",
         "foo.net", "foo.net"),
        ("https://cdn.foo.com", "https://cdn.foo.com/",
         "cdn.foo.com", "foo.com"),
        ("http://localhost:9999/z", "http://localhost:9999/z",
         "localhost", "localhost"),
        # path case preserved; query preserved; only ONE www label strips
        ("https://www.www.foo.com/", "https://www.foo.com/",
         "www.foo.com", "foo.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _, _) in enumerate(cases)],
        "doc_id long, url string",
    )
    got = {r.doc_id: (r.url_norm, r.host, r.domain)
           for r in canonicalize(df).collect()}
    for i, (_, n, h, d) in enumerate(cases):
        assert got[i] == (n, h, d), cases[i]


def test_domain_stats_counts_hosts(spark):
    df = spark.createDataFrame(
        [(1, "https://a.foo.com/1", 10), (2, "https://b.foo.com/2", 20),
         (3, "https://a.foo.com/3", 5), (4, "http://bar.org/", 7)],
        "doc_id long, url string, n_chars long",
    )
    got = {r.domain: (r.n_pages, r.n_hosts, r.total_size)
           for r in domain_stats(df, size_col="n_chars").collect()}
    assert got == {"foo.com": (3, 2, 35), "bar.org": (1, 1, 7)}


def test_keep_latest_per_key(spark):
    """Latest crawl per key survives; max-ts then id-desc tie-break."""
    from pyspark.sql import functions as F  # noqa: F811

    from picogeojson_spark.operators.web import keep_latest

    rows = [
        (1, "u1", 10), (2, "u1", 30), (3, "u1", 20),   # u1 -> id 2
        (4, "u2", 5), (5, "u2", 5),                    # tie -> id 5
        (6, "u3", 1),                                  # singleton
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url_norm string, crawl_ts long")
    got = {r["url_norm"]: r["doc_id"] for r in keep_latest(df).collect()}
    assert got == {"u1": 2, "u2": 5, "u3": 6}


def test_schedule_frontier_politeness(spark):
    """No domain exceeds per_domain fetches in any window; high priority
    lands in window 0; huge domains stretch instead of starving others."""
    import pytest as _pytest

    from picogeojson_spark.operators.web import schedule_frontier

    rows = ([("u{}".format(i), "big.com", i) for i in range(7)]
            + [("v1", "small.org", 100), ("v2", "small.org", 50)])
    df = spark.createDataFrame(
        rows, "url_norm string, domain string, priority long")
    out = schedule_frontier(df, per_domain=2).collect()
    from collections import Counter

    per_win = Counter((r["domain"], r["fetch_window"]) for r in out)
    assert max(per_win.values()) <= 2
    # both domains have their best URL in window 0
    w0 = {(r["domain"]) for r in out if r["fetch_window"] == 0}
    assert w0 == {"big.com", "small.org"}
    # 7 urls at 2/window -> windows 0..3
    assert max(r["fetch_window"] for r in out
               if r["domain"] == "big.com") == 3
    with _pytest.raises(ValueError):
        schedule_frontier(df, per_domain=0)


# ------------------------------------------------------- anchor text stats

def test_anchor_text_stats(spark):
    """Trim+lower, modal anchor with lexicographic tie-break, relative and
    empty anchors dropped, multiple anchors per page extracted."""
    from picogeojson_spark.operators.web import anchor_text_stats

    pages = spark.createDataFrame(
        [
            ("u1", '<a href="https://a.com/1">Home</a>'
                   ' <a href="https://a.com/2" rel="x"> HOME </a>'),
            ("u2", '<a href="https://a.com/3">about</a>'
                   ' <a href="/rel">skip</a>'
                   ' <a href="https://b.org/x"></a>'),
            ("u3", '<a href="https://b.org/y">B site</a>'),
            ("u4", "<p>no links</p>"),
        ],
        "url string, html string")
    got = {r["dst_domain"]: r for r in anchor_text_stats(pages).collect()}
    assert set(got) == {"a.com", "b.org"}
    a = got["a.com"]
    assert (a["n_anchors"], a["n_distinct_anchors"]) == (3, 2)
    assert (a["top_anchor"], a["top_anchor_cnt"]) == ("home", 2)
    b = got["b.org"]
    assert (b["n_anchors"], b["top_anchor"], b["top_anchor_cnt"]) == \
        (1, "b site", 1)


def test_anchor_text_tie_breaks_lexicographic(spark):
    from picogeojson_spark.operators.web import anchor_text_stats

    pages = spark.createDataFrame(
        [("u", '<a href="https://t.io/1">zeta</a>'
               ' <a href="https://t.io/2">alpha</a>')],
        "url string, html string")
    r = anchor_text_stats(pages).collect()[0]
    assert (r["top_anchor"], r["top_anchor_cnt"]) == ("alpha", 1)


# ------------------------------------------------------------- geotagging

def test_extract_coordinates(spark):
    """Mentions in order, bounds validation (lat 999.5 and lon 200.5
    dropped), negative coords, cell arithmetic vs python, the grid edge."""
    from picogeojson_spark.operators.geotext import extract_coordinates

    docs = spark.createDataFrame(
        [
            (1, "hq at 40.25, -74.75 and store (12.5,99.25)"),
            (2, "bogus 999.5, 12.25 then ok -0.25 , 0.75"),
            (3, "lon out of range 10.25, 200.5"),
            (4, "no coords at all 5 , 7"),
            (5, "edge 89.99999999999999, 179.99999999999997"),
        ],
        "doc_id long, text string")
    got = [(r["doc_id"], r["idx"], r["lat"], r["lon"], r["cell"])
           for r in extract_coordinates(docs, level=8)
           .orderBy("doc_id", "idx").collect()]

    def cell(lat, lon):
        import math
        return (8 << 58) | (math.floor((lon + 180) / 360 * 512) << 29) \
            | math.floor((lat + 90) / 180 * 256)

    assert got == [
        (1, 0, 40.25, -74.75, cell(40.25, -74.75)),
        (1, 1, 12.5, 99.25, cell(12.5, 99.25)),
        (2, 1, -0.25, 0.75, cell(-0.25, 0.75)),  # idx 0 was the bogus pair
        # one ulp inside the bounds the floor reaches nx, ny: the cell is
        # clamped onto the grid's last column and row, as in cell_of
        (5, 0, 89.99999999999999, 179.99999999999997,
         (8 << 58) | (511 << 29) | 255),
    ]


def test_extract_coordinates_empty_and_clean(spark):
    from picogeojson_spark.operators.geotext import extract_coordinates

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert extract_coordinates(docs).count() == 0
    clean = spark.createDataFrame([(1, "plain words only")],
                                  "doc_id long, text string")
    assert extract_coordinates(clean).count() == 0


def test_scd2_history_intervals(spark):
    from picogeojson_spark.operators.web import scd2_history

    rows = [
        (1, "a.com/x", 100), (2, "a.com/x", 300), (3, "a.com/x", 200),
        (4, "b.com/y", 50),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url_norm string, crawl_ts long")
    out = {r.doc_id: r for r in scd2_history(df).collect()}
    # versions in ts order: 100 -> 200 -> 300
    assert (out[1].version, out[3].version, out[2].version) == (1, 2, 3)
    assert out[1].valid_to == 200 and out[3].valid_to == 300
    assert out[2].valid_to is None and out[2].is_current == 1
    assert out[1].is_current == 0 and out[3].is_current == 0
    assert out[4] == out[4].__class__(
        doc_id=4, url_norm="b.com/y", valid_from=50, valid_to=None,
        version=1, is_current=1)


def test_resolve_redirects_chain_and_cycle(spark):
    from picogeojson_spark.operators.web import resolve_redirects

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),          # chain -> d
         ("x", "y"), ("y", "x"),                      # 2-cycle
         ("dup", "z1"), ("dup", "z0")],               # min-dst rule
        "src string, dst string")
    out = {r.src: (r.final, r.resolved)
           for r in resolve_redirects(edges, rounds=3).collect()}
    assert out["a"] == ("d", True)
    assert out["b"] == ("d", True)
    assert out["c"] == ("d", True)
    assert out["dup"] == ("z0", True)
    # cycle members land back inside the cycle after 8 hops, unresolved
    assert out["x"] == ("x", False)
    assert out["y"] == ("y", False)


def test_resolve_redirects_long_chain_needs_enough_rounds(spark):
    from picogeojson_spark.operators.web import resolve_redirects

    # chain of 9 hops: n0 -> n1 -> ... -> n9
    edges = spark.createDataFrame(
        [("n%d" % i, "n%d" % (i + 1)) for i in range(9)],
        "src string, dst string")
    # 3 rounds = 8 hops: n0 lands on n8 (still a source) -> unresolved
    out3 = {r.src: (r.final, r.resolved)
            for r in resolve_redirects(edges, rounds=3).collect()}
    assert out3["n0"] == ("n8", False)
    # 4 rounds = 16 hops: resolved to the terminal
    out4 = {r.src: (r.final, r.resolved)
            for r in resolve_redirects(edges, rounds=4).collect()}
    assert out4["n0"] == ("n9", True)


def test_resolve_redirects_cache_hygiene(spark):
    from picogeojson_spark.operators.web import resolve_redirects

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    resolve_redirects(edges, rounds=2).collect()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "resolve_redirects leaked persisted DataFrames"


def test_robots_match_longest_then_allow(spark):
    from picogeojson_spark.operators.web import robots_match

    urls = spark.createDataFrame(
        [(1, "a.com", "/s/p/x"),     # deep path, layered rules
         (2, "a.com", "/s"),         # matches only the short rule
         (3, "a.com", "/other"),     # no rule -> allowed
         (4, "b.com", "/s/p"),       # same path, other host: no rule
         (5, "a.com", "/tie/q")],    # equal-length allow vs disallow
        "doc_id long, host string, path string")
    rules = spark.createDataFrame(
        [("a.com", "/s", False),
         ("a.com", "/s/p", True),
         ("a.com", "/tie", False),
         ("a.com", "/tie", True)],
        "host string, prefix string, allow boolean")
    out = {r.doc_id: (r.matched_prefix, r.allowed)
           for r in robots_match(urls, rules).collect()}
    assert out[1] == ("/s/p", True)      # longest wins over /s disallow
    assert out[2] == ("/s", False)
    assert out[3] == (None, True)
    assert out[4] == (None, True)
    assert out[5] == ("/tie", True)      # allow beats disallow on tie


def test_robots_match_root_rule_and_depth_cap(spark):
    from picogeojson_spark.operators.web import robots_match

    urls = spark.createDataFrame(
        [(1, "a.com", "/"), (2, "a.com", "/x/y/z/w/v/u/t/s/r/q")],
        "doc_id long, host string, path string")
    rules = spark.createDataFrame(
        [("a.com", "/", False),
         ("a.com", "/x/y/z/w/v/u/t/s/r", True)],
        "host string, prefix string, allow boolean")
    out = {r.doc_id: (r.matched_prefix, r.allowed)
           for r in robots_match(urls, rules, max_depth=9).collect()}
    assert out[1] == ("/", False)
    assert out[2] == ("/x/y/z/w/v/u/t/s/r", True)
    # with max_depth too small the deep allow rule is invisible and the
    # URL falls back to the universal '/' disallow (robots semantics:
    # 'Disallow: /' governs every path).
    out3 = {r.doc_id: (r.matched_prefix, r.allowed)
            for r in robots_match(urls, rules, max_depth=3).collect()}
    assert out3[2] == ("/", False)


def test_path_prefix_stats_tree(spark):
    from picogeojson_spark.operators.web import path_prefix_stats

    urls = spark.createDataFrame(
        [(1, "a.com", "/d/api/v2", 10),
         (2, "a.com", "/d/api", 20),
         (3, "a.com", "/d", 30),
         (4, "a.com", "/", 40),
         (5, "b.com", "/d", 50)],
        "doc_id long, host string, path string, n_chars long")
    out = {(r.host, r.prefix, r.depth): (r.n_pages, r.weight_sum)
           for r in path_prefix_stats(urls, weight_col="n_chars")
           .collect()}
    assert out[("a.com", "/d", 1)] == (3, 60)       # all three /d pages
    assert out[("a.com", "/d/api", 2)] == (2, 30)
    assert out[("a.com", "/d/api/v2", 3)] == (1, 10)
    assert out[("a.com", "/", 1)] == (1, 40)
    assert out[("b.com", "/d", 1)] == (1, 50)
    assert len(out) == 5


def test_path_prefix_stats_depth_cap_and_no_weight(spark):
    from picogeojson_spark.operators.web import path_prefix_stats

    urls = spark.createDataFrame(
        [(1, "a.com", "/a/b/c/d/e")], "doc_id long, host string, path string")
    rows = path_prefix_stats(urls, max_depth=2).collect()
    assert sorted((r.prefix, r.depth, r.n_pages) for r in rows) == [
        ("/a", 1, 1), ("/a/b", 2, 1)]
    assert "weight_sum" not in rows[0].asDict()
