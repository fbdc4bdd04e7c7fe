"""The compat facade mirrors the reference's public API surface name-for-name
and behavior-for-behavior on the reference's own fixtures."""

import json
import os

import pytest

from picogeojson_spark.geo import compat

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fixture(name):
    with open(os.path.join(FIXTURES, name)) as f:
        return f.read()


def test_fromstring_tostring_roundtrip(oracle):
    for name in ["point.json", "polygon.json", "featurecollection.json",
                 "geometrycollection.json", "feature.json"]:
        text = _fixture(name)
        ours = compat.fromstring(text)
        theirs = oracle.fromstring(text)
        assert json.loads(compat.tostring(ours.raw)) == json.loads(
            oracle.tostring(theirs.raw))


def test_query_surface_matches(oracle):
    text = _fixture("featurecollection.json")
    ours = compat.fromstring(text)
    theirs = oracle.fromstring(text)
    assert [g["type"] for g in ours.extract_features()] == [
        type(f).__name__ for f in theirs.extract_features()]
    gc = _fixture("geometrycollection.json")
    assert [p["coordinates"] for p in compat.fromstring(gc).points] == [
        p.coordinates for p in oracle.fromstring(gc).points]


def test_fromfile_and_tofile(tmp_path, oracle):
    path = os.path.join(FIXTURES, "multipolygon.json")
    ours = compat.fromfile(path)
    theirs = oracle.fromfile(path)
    out = tmp_path / "out.json"
    compat.tofile(ours.raw, str(out), write_bbox=False)
    assert json.loads(out.read_text()) == json.loads(
        oracle.tostring(theirs.raw, write_bbox=False))
    # file-object variant
    with open(path) as fh:
        assert compat.fromfile(fh).raw == ours.raw
    with pytest.raises(TypeError):
        compat.fromfile(12345)


def test_merge_burst_same_names(oracle):
    docs = [_fixture("point.json"), _fixture("point.json")]
    m = compat.merge([compat.fromstring(d).raw for d in docs])
    rm = oracle.transformations.merge([oracle.fromstring(d).raw for d in docs])
    assert m["type"] == type(rm).__name__ == "MultiPoint"
    assert [b["type"] for b in compat.burst(m)] == [
        type(b).__name__ for b in oracle.transformations.burst(rm)]
