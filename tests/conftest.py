import json
import os
import sys
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "tests", "fixtures")
REFERENCE = "/root/reference"
sys.path.insert(0, REPO)


def _load_reference():
    """Import the read-only reference as a test oracle (ujson shimmed).

    When the reference checkout is absent, the requesting test is skipped
    before ``sys.modules`` or ``sys.path`` is touched."""
    if not os.path.isdir(os.path.join(REFERENCE, "picogeojson")):
        pytest.skip(f"reference oracle not present at {REFERENCE}")
    if "ujson" not in sys.modules:
        shim = types.ModuleType("ujson")
        shim.loads = json.loads
        shim.load = json.load
        shim.dumps = lambda o, indent=None: json.dumps(o)
        sys.modules["ujson"] = shim
    sys.path.insert(0, REFERENCE)
    import picogeojson  # noqa: PLC0415

    return picogeojson


@pytest.fixture(scope="session")
def oracle():
    return _load_reference()


@pytest.fixture(scope="session")
def fixture_docs():
    docs = {}
    for name in os.listdir(FIXTURES):
        if name.endswith(".json"):
            with open(os.path.join(FIXTURES, name)) as f:
                docs[name[:-5]] = f.read()
    return docs


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("picogeojson-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()
