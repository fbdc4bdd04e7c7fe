"""The workloads' output checks: the truth the generator computes, and the
comparison each pass makes against it."""

import inspect

import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.kernels import MINING_PARSE_CALL, grid_geometries, kernel_split
from perfbench.run import _stop
from perfbench.workloads import WORKLOADS, _checks


@pytest.fixture
def small_inputs(monkeypatch):
    monkeypatch.setattr(inputs, "SPINE_PAGES", 400)
    monkeypatch.setattr(inputs, "GRAPH_NODES", 300)
    monkeypatch.setattr(inputs, "GRAPH_LINKS", 1200)


def test_checks_report_each_mismatch():
    assert _checks({"a": 1, "b": 2}, {"a": 1, "b": 2}) == []
    assert _checks({"a": 1, "b": 3}, {"a": 1, "b": 2}) == ["b: 3 != 2"]
    assert _checks({}, {"a": 1}) == ["a: None != 1"]


def test_pagerank_truth_by_hand():
    # r0 = 100, base = 15; contributions 0:50, 1:100+50, 2:100
    links = [(0, 1), (1, 2), (2, 0), (2, 1)]
    assert inputs.pagerank_truth(links, 1, 85, 300) == {0: 57, 1: 142, 2: 100}


def test_bfs_truth_by_hand():
    links = [(0, 1), (1, 2), (2, 3), (5, 6)]
    assert inputs.bfs_truth(links, [0], 2) == {0: 0, 1: 1, 2: 2}
    assert inputs.bfs_truth(links, [0, 6], 1) == {0: 0, 1: 1, 6: 0, 5: 1}


def test_grid_and_tile_arithmetic():
    assert inputs.grid_poly_id(-179.5, -89.5) == 0
    assert inputs.grid_poly_id(179.5, 89.5) == 36 * 18 - 1
    assert inputs.grid_poly_id(5.0, 5.0) == 18 + 36 * 9
    # on a parallel: the cell to the north; on a meridian: no cell
    assert inputs.grid_poly_id(5.0, 10.0) == 18 + 36 * 10
    assert inputs.grid_poly_id(10.0, 5.0) is None
    assert inputs.grid_poly_id(-180.0, 5.0) is None
    assert inputs.tile_x(-180.0) == 0 and inputs.tile_x(179.99) == 1023
    assert inputs.tile_x(0.0) == 512


def test_inputs_are_a_pure_function_of_the_seed(tmp_path, small_inputs):
    a = inputs.prepare("spine", 3, str(tmp_path / "a"))
    b = inputs.prepare("spine", 3, str(tmp_path / "b"))
    c = inputs.prepare("spine", 4, str(tmp_path / "a"))
    assert a["truth"] == b["truth"] != c["truth"]
    assert pq.read_table(a["paths"]["pages"]).equals(pq.read_table(b["paths"]["pages"]))
    again = inputs.prepare("spine", 3, str(tmp_path / "a"))   # served from cache
    assert again == a


def test_page_docs_reads_inline_and_script_blocks():
    text = ('doc 1 Page 1 filler data: {"type":"Point","coordinates":[1,2]} '
            'more filler\n{"type":"Feature","geometry":{"type":"Point",'
            '"coordinates":[3,4,5]},"properties":{}}\n{"type":"FeatureCollection",'
            '"features":[{"type":"Feature","geometry":null,"properties":{}}]}')
    docs = inputs.page_docs(text)
    assert [d["type"] for d in docs] == ["Point", "Feature", "FeatureCollection"]
    assert [g and g["type"] for g in inputs.feature_geometries(docs)] == [
        "Point", "Point", None]


def _spine_sample(tmp_path, seed):
    m = inputs.prepare("spine", seed, str(tmp_path))
    tab = pq.read_table(m["paths"]["pages"])
    pages = list(zip(tab.column("url").to_pylist(), tab.column("text").to_pylist()))
    return m, pages


def test_spine_truth_agrees_with_the_kernel(tmp_path, small_inputs):
    """The generator's row counts are what the engine's own kernels mine,
    and every point off the grid lines lies in the grid polygon its
    arithmetic id names."""
    m, pages = _spine_sample(tmp_path, 5)
    rows = []
    k = kernel_split(pages, grid_geometries(pq.read_table(m["paths"]["polygons"])),
                     rows)
    truth = m["truth"]
    assert len(rows) == truth["feature_rows"] > 0
    for t in inputs.GEOM_TYPES:
        assert sum(r["geom_type"] == t for r in rows) == truth["rows_" + t] > 0, t
    assert k["geo.pip.points_in_geometry.points"] == truth["pairs"] > 0
    assert k["geo.pip.points_in_geometry.hits"] == truth["pairs"]
    assert k["geo.codec.to_dict.calls"] == truth["feature_rows"]


def test_kernel_split_replays_the_mining_udf(spark, tmp_path, small_inputs):
    """The kernel split makes the UDF's parse call and yields the rows
    ``mine_features`` yields for the same pages."""
    from picogeojson_spark.operators import features

    assert MINING_PARSE_CALL in inspect.getsource(features.mine_features)
    m, pages = _spine_sample(tmp_path, 6)
    rows = []
    kernel_split(pages, grid_geometries(pq.read_table(m["paths"]["polygons"])), rows)
    cols = ["url", "feature_idx", "geom_type", "geometry_json", "lon", "lat", "cells"]
    mined = features.mine_features(spark.read.parquet(m["paths"]["pages"]))
    got = sorted(tuple(r[c] for c in cols) for r in mined.select(*cols).collect())
    want = sorted(tuple(r[c] for c in cols) for r in rows)
    assert got == want


@pytest.fixture(scope="module")
def spark():
    from picogeojson_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.ui.showConsoleProgress": "false",
                              "spark.driver.memory": "1g"})
    yield s
    _stop(s)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_pass_checks_pass_on_truth_and_fail_on_a_wrong_one(
        workload, spark, tmp_path, small_inputs):
    m = inputs.prepare(workload, 11, str(tmp_path))
    wl = WORKLOADS[workload](m)
    assert wl.run_pass(spark) == []
    key = wl.PASS_KEYS[0]
    wl.truth = dict(m["truth"], **{key: m["truth"][key] + 1})
    bad = wl.run_pass(spark)
    assert len(bad) == 1 and bad[0].startswith(key + ":")


def test_pagerank_check(spark, tmp_path, small_inputs):
    wl = WORKLOADS["graph"](inputs.prepare("graph", 12, str(tmp_path)))
    links = spark.read.parquet(wl.m["paths"]["links"])
    log = []
    assert wl.pagerank_pass(links, log) == []
    assert len(log) == inputs.PAGERANK_ROUNDS
    wl.truth = dict(wl.truth, pr_digest=wl.truth["pr_digest"] + 1)
    assert wl.pagerank_pass(links) == [
        "pr_digest: {} != {}".format(wl.truth["pr_digest"] - 1, wl.truth["pr_digest"])]


@pytest.mark.parametrize("max_hop, rounds", [(1, 2), (2, 3), (3, 3)])
def test_bfs_rounds_come_from_the_pass_output(max_hop, rounds):
    class _NoSpans:
        def busy_s(self, name):
            return 0.0

        def jobs(self, name):
            return 0

    wl = WORKLOADS["graph"]({"rows": 1, "truth": {}, "paths": {}})
    got = wl.pass_metrics(_NoSpans(), {"bfs_max_hop": max_hop})
    assert inputs.BFS_HOPS == 3 and got["graph.bfs_hops.rounds"] == rounds
