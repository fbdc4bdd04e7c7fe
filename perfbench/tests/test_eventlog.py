import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_fixture_stages_are_classified_by_their_operators():
    # the fixture is a trimmed real log of
    # range.mapInPandas.groupBy.count.join(range).count under one job group
    rows = eventlog.stages(eventlog.read_events(FIXTURE))
    assert [(r["stage"], r["cls"]) for r in rows] == [
        (0, "scan"), (1, "python_udf"), (3, "join"), (6, "aggregate")]
    assert {r["group"] for r in rows} == {"g1:udf"}
    udf = rows[1]
    assert (udf["py_bytes_in"], udf["py_bytes_out"]) == (17216, 16704)
    assert udf["shuffle_bytes"] == 825
    assert udf["cpu_s"] == pytest.approx(1.13266795)
    assert udf["end"] - udf["start"] == pytest.approx(4.622)


@pytest.mark.parametrize("names, cls", [
    (["Scan parquet", "MapInPandas", "Exchange"], "python_udf"),
    (["ArrowEvalPython", "BroadcastHashJoin"], "python_udf"),
    (["InMemoryTableScan", "BroadcastHashJoin", "HashAggregate"], "join"),
    (["SortMergeJoin"], "join"),
    (["InMemoryTableScan", "HashAggregate", "Exchange"], "aggregate"),
    (["Scan parquet", "Exchange"], "scan"),
    (["Range"], "scan"),
    (["AQEShuffleRead", "Exchange"], "exchange"),
    ([], "exchange"),
])
def test_classify_precedence(names, cls):
    assert eventlog.classify(names) == cls


def test_union_length_merges_overlaps():
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_length([]) == 0


def test_ledger_driver_gap_is_wall_minus_stage_union():
    rows = eventlog.stages(eventlog.read_events(FIXTURE))
    start = min(r["start"] for r in rows)
    end = max(r["end"] for r in rows)
    wall = end - start + 1.0
    led = eventlog.ledger(rows, wall)
    covered = eventlog.union_length([(r["start"], r["end"]) for r in rows])
    assert led["driver_gap_s"] == pytest.approx(wall - covered)
    assert led["stage.python_udf.bytes_in"] == 17216
    assert led["stage.exchange.shuffle_bytes"] == 825 + 59
    assert set(k.split(".")[1] for k in led if k.startswith("stage.")
               and k.endswith(".wall_s")) == set(eventlog.CLASSES)

