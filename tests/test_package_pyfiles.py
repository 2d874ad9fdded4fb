"""--py-files artifact: deterministic bytes, complete package contents."""

import hashlib
import os
import subprocess
import sys
import zipfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from package_pyfiles import PKG, REPO, build  # noqa: E402


def test_zip_is_deterministic_and_complete(tmp_path):
    a = build(str(tmp_path / "a.zip"))
    b = build(str(tmp_path / "b.zip"))
    ha = hashlib.sha256(open(a, "rb").read()).hexdigest()
    hb = hashlib.sha256(open(b, "rb").read()).hexdigest()
    assert ha == hb  # stable artifact hash across rebuilds of the same tree

    with zipfile.ZipFile(a) as zf:
        names = set(zf.namelist())
    # every package module ships; no caches sneak in
    for root, dirs, files in os.walk(os.path.join(REPO, PKG)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, f), REPO)
                assert rel in names
    assert not any("__pycache__" in n for n in names)
    assert all(n.startswith(PKG + "/") for n in names)


WORKER_IMPORT = """
import sys
sys.path.insert(0, {repo!r})
from sbm_communitydetection_spark.operators.components import connected_components
from sbm_communitydetection_spark.session import get_spark

spark = get_spark(app_name="worker_import", cores=2, shuffle_partitions=2, driver_memory="1g")
edges = spark.createDataFrame([(0, 1, 1), (1, 2, 1), (5, 6, 1)], "src long, dst long, weight long")
rows = sorted(tuple(r) for r in connected_components(spark, edges).collect())
print("CC:" + repr(rows))
"""


def test_workers_import_the_package_outside_the_repository(tmp_path):
    """A script started in another directory, which puts only the
    repository on its own sys.path, still runs Python UDFs that import
    package helpers (CC's per-partition union-find): get_spark gives the
    workers the package's parent directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", WORKER_IMPORT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=tmp_path,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "CC:[(0, 0), (1, 0), (2, 0), (5, 5), (6, 5)]" in out.stdout, out.stdout[-2000:]
