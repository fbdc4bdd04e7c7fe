"""scripts/scaling.py: the report math on fixed leg results, the family
table's shape, and every family's generators and ops at a tiny size on
the shared session."""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scaling  # noqa: E402


def test_report_math():
    legs = ((8, 100), (8, 400), (2, 400))
    results = [
        {"op": {"input_rows": 100, "rows": 7, "seconds": 1.0}},
        {"op": {"input_rows": 400, "rows": 28, "seconds": 2.0}},
        {"op": {"input_rows": 400, "rows": 28, "seconds": 5.0}},
    ]
    out = scaling.report("fam", legs, results)
    assert out["family"] == "fam"
    assert out["legs"] == [{"master": "local[8]", "n": 100},
                           {"master": "local[8]", "n": 400},
                           {"master": "local[2]", "n": 400}]
    op = out["ops"]["op"]
    assert op["input_rows"] == [100, 400, 400]
    assert op["rows"] == [7, 28, 28]
    assert op["seconds"] == [1.0, 2.0, 5.0]
    assert op["rows_per_s"] == [100.0, 200.0, 80.0]
    # cost per input row: 2/400 s at 4x the input vs 1/100 s
    assert op["per_row_cost_ratio"] == 0.5
    # 200 vs 80 rows/s on 4x the cores
    assert op["parallel_eff"] == 0.625


def test_every_family_has_generators_and_ops():
    assert set(scaling.FAMILIES) == {
        "spine", "dedup", "cluster", "geo", "newops", "session5",
        "session6", "composition"}
    for name, fam in scaling.FAMILIES.items():
        assert fam.small_n > 0, name
        assert fam.tables and fam.ops, name
        for gen, rows in fam.tables.values():
            assert callable(gen) and rows(40, 10) > 0, name
        ops = [op.name for op in fam.ops]
        assert len(ops) == len(set(ops)), name
        # the input of every op is a table the family generates (geo
        # renames columns in prepare, not tables)
        assert {op.input for op in fam.ops} <= set(fam.tables), name


#: below these sizes the geo join finds no pair and link prediction no
#: shared neighbour
_TINY = {"geo": 20_000, "newops": 20_000}


@pytest.mark.parametrize("family", sorted(scaling.FAMILIES))
def test_family_runs_at_tiny_size(spark, tmp_path, family):
    n = _TINY.get(family, 1000)
    paths = scaling.generate(spark, family, n, n, str(tmp_path))
    tables = scaling.load(spark, family, paths)
    for op in scaling.FAMILIES[family].ops:
        rows = op.run(tables)
        assert isinstance(rows, int) and rows > 0, (op.name, rows)
