"""The package zip that ``session.ensure_shipped`` adds to a session.

Each process builds its own zip once, in a private temp directory, and
ships that path on every later call: two processes (say, from two
checkouts) never rewrite each other's zip.
"""

import os
import subprocess
import sys
import types
import zipfile

from picogeojson_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_one_zip_per_process():
    added = []
    fake = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=added.append))
    session.ensure_shipped(fake)
    session.ensure_shipped(fake)
    assert len(added) == 2 and added[0] == added[1]
    assert os.path.basename(added[0]) == "picogeojson_spark.zip"
    with zipfile.ZipFile(added[0]) as zf:
        assert "picogeojson_spark/session.py" in zf.namelist()


def test_two_processes_two_zips():
    code = ("import os; from picogeojson_spark.session import shipped_zip_path;"
            " p = shipped_zip_path(); assert os.path.isfile(p); print(p)")
    env = dict(os.environ, PYTHONPATH=REPO)
    paths = [subprocess.run([sys.executable, "-c", code], env=env, check=True,
                            capture_output=True, text=True).stdout.strip()
             for _ in range(2)]
    assert paths[0] != paths[1]
    assert session.shipped_zip_path() not in paths
    # each process removes its own zip at exit
    assert not any(os.path.exists(os.path.dirname(p)) for p in paths)
