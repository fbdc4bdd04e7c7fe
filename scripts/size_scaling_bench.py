"""Input-size scaling evidence: the identical spine (pages -> mine ->
PIP-join -> tile-assign) at 200k / 800k / 2M pages on local[32].

Complements scripts/scaling_bench.py (parallelism scaling at fixed input):
this one holds parallelism fixed and grows the input, showing per-page cost
FALLING as fixed costs amortize — the property that matters for the
10^12-row target. Results -> BENCH/BASELINE.md "Input-size scaling".

Run with the machine otherwise idle; take best-of-N across idle windows
(single runs swing 2x with hypervisor neighbors — see CLAUDE.md).

Usage: python scripts/size_scaling_bench.py [sizes...]   (default 200000 800000 2000000)
"""

from __future__ import annotations

import glob
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [200000, 800000, 2000000]

    from picogeojson_spark.operators import mine_features
    from picogeojson_spark.session import get_spark
    from picogeojson_spark.sources import pages_dataframe

    from bench import run_spine

    spark = get_spark(
        master="local[32]",
        shuffle_partitions=64,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "24g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def ensure(n):
        path = "/tmp/scaling_pages_{}".format(n)
        if not glob.glob(path + "/_SUCCESS"):
            pages_dataframe(spark, n, partitions=64).write.mode(
                "overwrite"
            ).parquet(path)
        return path

    def spine(path):
        t0 = time.time()
        run_spine(spark, path)
        return time.time() - t0

    mine_features(spark.read.parquet(ensure(sizes[0])).limit(2000)).count()
    for n in sizes:
        p = ensure(n)
        best = min(spine(p), spine(p))
        print("{:8d} pages: {:6.2f}s -> {:7.0f} pages/sec".format(
            n, best, n / best))
    spark.stop()


if __name__ == "__main__":
    main()
