"""Benchmark for the picogeojson_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload spine --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds 10] [--trace 0]

One run is one fresh process with one ``local[k]`` Spark session, ``k`` fixed
per workload (``local_k`` in workloads.py):

1. build (or reuse) the seeded input under ``.perfbench_cache/``; this is
   outside every measurement;
2. set-up, timed as ``setup_s``: ``get_spark`` plus the workload's
   ``warmup_passes`` checked warm-up passes;
3. closed loop: warm passes back to back until ``--seconds`` have passed
   (at least one), each checked against the generator's truth;
   ``rows_per_s`` and ``cpu_s_per_krow`` come from the median pass wall and
   the median process-tree CPU of a pass;
4. with ``--trace 1``: one more pass with spans and job groups, the traced
   layer probes, and the stage ledger from Spark's event log.

The last stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1`` (0 for a layer the workload does
not run). Everything else a run learns (pass walls, spans, stage rows,
session conf, nproc, CPU litmus, hypervisor steal) goes to
``.perfbench_out/<run>.json``.
``--all`` runs every workload in its own process and prints
``<workload>/<metric> value unit`` lines plus failed/attempted passes.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

#: a run that sees this many failed passes in a row stops measuring
MAX_FAILED_IN_A_ROW = 3


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def session_conf(tmp_dir, event_dir=None):
    """The fixed session conf: small driver heap (inputs are small), no UI
    or console progress, scratch space inside the checkout."""
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp_dir,
        "spark.driver.extraJavaOptions": "-Xms1g -Djava.io.tmpdir=" + tmp_dir,
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            # one plain file (Spark 4 rolls the log into a directory by default)
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_dir,
        })
    return conf


def _stop(spark):
    """Stop the session and the JVM, and wait until both have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, workload, seed, seconds, trace):
        from .procstat import cpu_litmus_s, steal_s
        from .inputs import prepare
        from .workloads import WORKLOADS

        self.name = "{}-s{}-t{}".format(workload, seed, int(trace))
        self.seconds, self.trace = seconds, trace
        self.out_dir = os.path.join(OUT_DIR, self.name)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.tmp_dir = os.path.join(self.out_dir, "tmp")
        os.makedirs(self.tmp_dir)
        # Spark, the JVM and the Python workers keep their scratch files here
        os.environ["TMPDIR"] = self.tmp_dir
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp_dir
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.wl = WORKLOADS[workload](prepare(workload, seed, CACHE_DIR))
        self.attempted = self.failed = 0
        self.failed_in_a_row = 0
        self.problems = []
        self.art = {"workload": workload, "seed": seed, "seconds": seconds,
                    "trace": int(trace), "nproc": os.cpu_count(),
                    "local_k": self.wl.local_k, "rows_per_pass": self.wl.rows,
                    "litmus_start_s": cpu_litmus_s(), "steal_start_s": steal_s()}

    def checked_pass(self, spark, tracer=None, keep=None):
        """Run and check one pass; -> wall seconds."""
        t0 = time.perf_counter()
        try:
            bad = self.wl.run_pass(spark, tracer, keep)
        except Exception:  # a crashed pass is a failed pass; keep measuring
            bad = [traceback.format_exc()]
        wall = time.perf_counter() - t0
        self.attempted += 1
        if bad:
            self.failed += 1
            self.failed_in_a_row += 1
            self.problems.extend(bad)
            print("pass failed: " + "; ".join(bad), file=sys.stderr)
        else:
            self.failed_in_a_row = 0
        return wall

    def execute(self):
        from picogeojson_spark.session import get_spark

        from .procstat import cpu_litmus_s, peak_rss_by_pid_mb, steal_s, tree_cpu_s

        event_dir = None
        if self.trace:
            event_dir = os.path.join(self.out_dir, "eventlog")
            os.makedirs(event_dir)
        conf = session_conf(self.tmp_dir, event_dir)
        k = self.wl.local_k
        self.art["conf"] = dict(conf, master="local[{}]".format(k),
                                shuffle_partitions=2 * k)
        t0 = time.perf_counter()
        spark = get_spark(master="local[{}]".format(k), shuffle_partitions=2 * k,
                          extra_conf=conf)
        m = {"session.get_spark.wall_s": time.perf_counter() - t0}
        try:
            spark.sparkContext.setLogLevel("ERROR")
            app_id = spark.sparkContext.applicationId
            self.art["warmup_walls_s"] = [self.checked_pass(spark)
                                          for _ in range(self.wl.warmup_passes)]
            m["setup_s"] = time.perf_counter() - t0
            walls, cpus = [], []
            t_loop = time.perf_counter()
            while self.failed_in_a_row < MAX_FAILED_IN_A_ROW:
                cpu0 = tree_cpu_s()
                walls.append(self.checked_pass(spark))
                cpus.append(tree_cpu_s() - cpu0)
                if time.perf_counter() - t_loop >= self.seconds:
                    break
            # medians over the passes: one pass slowed by a noisy neighbour
            # does not move them
            m["rows_per_s"] = self.wl.rows / statistics.median(walls)
            m["cpu_s_per_krow"] = statistics.median(cpus) / (self.wl.rows / 1000.0)
            rss = peak_rss_by_pid_mb()
            m["peak_rss_mb"] = sum(rss.values())
            self.art["peak_rss_by_pid_mb"] = rss
            self.art["pass_walls_s"] = walls
            self.art["pass_tree_cpu_s"] = cpus
            if self.trace:
                m.update(self.traced(spark, statistics.median(walls)))
        finally:
            _stop(spark)
        if self.trace:
            m.update(self.stage_ledger(event_dir, app_id))
        m["box.nproc"] = os.cpu_count()
        m["box.litmus_start_s"] = self.art["litmus_start_s"]
        m["box.litmus_end_s"] = self.art["litmus_end_s"] = cpu_litmus_s()
        m["box.steal_s"] = steal_s() - self.art["steal_start_s"]
        return m

    def traced(self, spark, untraced_wall):
        from .trace import Tracer

        tracer = Tracer(spark.sparkContext, "pass")
        keep = {}
        with tracer.span("pass") as root:
            self.checked_pass(spark, tracer, keep)
        wall = root["end"] - root["start"]
        self.pass_span = root
        extra = Tracer(spark.sparkContext, "extra")
        m = {"trace.pass_wall_s": wall, "trace.overhead_s": wall - untraced_wall}
        m.update(self.wl.pass_metrics(tracer, keep))
        layer, bad = self.wl.traced_extras(spark, extra, keep, self.tmp_dir)
        m.update(layer)
        if bad:
            self.failed += 1
            self.attempted += 1
            self.problems.extend(bad)
            print("traced probe check failed: " + "; ".join(bad), file=sys.stderr)
        self.art["spans"] = tracer.spans + extra.spans
        return m

    def stage_ledger(self, event_dir, app_id):
        from . import eventlog

        logs = [p for p in glob.glob(os.path.join(event_dir, "*" + app_id + "*"))
                if not p.endswith(".inprogress")]
        events = eventlog.read_events(logs[0])
        rows = [r for r in eventlog.stages(events)
                if (r["group"] or "").startswith("pass:")]
        self.art["stages"] = rows
        root = self.pass_span
        return eventlog.ledger(rows, root["end"] - root["start"])


def run_one(args):
    """-> exit code; prints the result line."""
    sys.path.insert(0, ROOT)
    try:
        import picogeojson_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print("cannot import the engine from {}: {}".format(ROOT, e), file=sys.stderr)
        return 2
    spec = _spec()
    run = Run(args.workload, args.seed, args.seconds, args.trace)
    measured = run.execute()
    run.art["measured"] = measured
    run.art["problems"] = run.problems
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for mdef in wanted:
        value = measured.get(mdef["name"])
        if value is None and not args.trace:
            raise KeyError("end-to-end metric not measured: " + mdef["name"])
        metrics[mdef["name"]] = {"value": value or 0, "unit": mdef["unit"]}
    result = {"correct": run.failed == 0 and run.attempted > 0,
              "attempted": run.attempted, "failed": run.failed,
              "metrics": metrics}
    run.art["result"] = result
    with open(os.path.join(OUT_DIR, run.name + ".json"), "w") as f:
        json.dump(run.art, f, indent=1, default=str)
    shutil.rmtree(run.out_dir, ignore_errors=True)
    print("{}: litmus {:.3f}s -> {:.3f}s, steal {:.2f}s, {} passes, failed {}/{}".format(
        run.name, run.art["litmus_start_s"], run.art["litmus_end_s"],
        measured["box.steal_s"], len(run.art["pass_walls_s"]), run.failed,
        run.attempted), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args):
    """Every workload in its own process; prints ``<workload>/<metric>``."""
    ok = True
    for wdef in _spec()["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wdef["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print("{}: exited {} without a result".format(wdef["name"], proc.returncode))
            ok = False
            continue
        res = json.loads(lines[-1])
        for name, mv in res["metrics"].items():
            print("{}/{} {:.6g} {}".format(wdef["name"], name, mv["value"], mv["unit"]))
        print("{}/checks failed {} / attempted {} passes{}".format(
            wdef["name"], res["failed"], res["attempted"],
            "" if res["correct"] else "  INCORRECT"))
        ok = ok and res["correct"]
    return 0 if ok else 1


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=("spine", "graph"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all", action="store_true",
                   help="run every workload and print <workload>/<metric> lines")
    args = p.parse_args(argv)
    if args.all:
        return run_all(args)
    if args.workload is None:
        p.error("--workload is required without --all")
    return run_one(args)


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: make the sibling modules importable as a package
        sys.path.insert(0, ROOT)
        __package__ = "perfbench"
        import perfbench  # noqa: F401
    sys.exit(main())
