"""Dump formatted physical plans of the headline queries -> BENCH/PLANS_DUMP.md.

Evidence artifact for the plan-audit claims in PLANS.md: every claim about
PushedFilters / BroadcastHashJoin / single-shuffle windows / MapInPandas
placement can be checked against the actual `.explain("formatted")` output
captured here (re-generate any time: `python scripts/dump_plans.py [sf_dir]`).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def headline():
    """The dumped queries: every registry query with ``plan_dump`` set, in
    registration order.  Imports the entry module but starts no Spark."""
    import __spark_entry__ as entry

    return [q.name for q in entry.registry() if q.plan_dump]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from picogeojson_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(master="local[8]",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    out = ["# Formatted physical plans (generated by scripts/dump_plans.py)",
           "", "Scale factor dir: `{}`. AQE is enabled, so runtime-replanned".format(sf_dir),
           "stages may appear as AdaptiveSparkPlan; the static plan below is",
           "what Catalyst chose before runtime stats.", ""]
    for name in headline():
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out.append("## {}".format(name))
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")

    path = os.path.join(REPO, "BENCH", "PLANS_DUMP.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
