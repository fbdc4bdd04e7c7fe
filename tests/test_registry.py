"""The query registry of __spark_entry__: one ``_register`` call per query
feeds queries(), oracle_sql(), the bench suite and the plan dump.  Reads
the registry only; no Spark session is started."""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
import dump_plans  # noqa: E402


def _by_name():
    return {q.name: q for q in entry.registry()}


def test_names_are_unique():
    names = [q.name for q in entry.registry()]
    assert len(names) == len(set(names)) == len(entry.queries())
    with pytest.raises(ValueError, match="registered twice"):
        entry._register(names[0], entry.registry()[0].fn)


def test_oracles_follow_queries_order():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert list(oracles) == [n for n in qs if n in oracles]
    assert set(qs) - set(oracles) == {"stream_counts", "text_compress"}


def test_bench_and_plan_dump_lists_resolve():
    qs = entry.queries()
    suite, dumped = bench.bench_queries(), dump_plans.headline()
    assert suite and set(suite) <= set(qs)
    assert dumped and set(dumped) <= set(qs)
    assert [n for n in dumped if n.startswith("stream_")] == []


def test_unverified_queries_lead_in_registration_order():
    reg = _by_name()
    order = [q.name for q in entry.registry()]
    assert list(entry.queries()) == (
        [n for n in order if reg[n].verified is None]
        + [n for n in order if reg[n].verified is not None])
    for r in (3, 4, 5):
        with open(os.path.join(REPO, "CORRECTNESS_r0{}.json".format(r))) as f:
            for name in json.load(f):
                assert reg[name].verified == r, name
