"""Driver and Python workers import the package from the same checkout."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_spark_entry_puts_its_own_directory_first(tmp_path, monkeypatch):
    """A copy of the checkout runs its own package, not another one's."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    copy = shutil.copy(ROOT / "__spark_entry__.py", tmp_path)
    spec = importlib.util.spec_from_file_location("_entry_copy", copy)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert sys.path[0] == str(tmp_path)


def test_workers_get_the_package_directory(spark):
    """The package's parent directory leads the workers' PYTHONPATH, once,
    however often the session is fetched."""
    from landlensdb_spark.session import get_spark

    get_spark()
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert paths[0] == str(ROOT) and paths.count(str(ROOT)) == 1


_DRIVER = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from landlensdb_spark.session import get_spark
sc = get_spark("import-path", master="local[1]").sparkContext
probe = lambda _: (__import__("landlensdb_spark").__file__, os.environ["PYTHONPATH"])
print(json.dumps([sc.environment["PYTHONPATH"], sc.parallelize([0], 1).map(probe).first()]))
sc.stop()
"""


def test_driver_outside_the_checkout_keeps_the_deployment_path(tmp_path):
    """A driver started elsewhere, with no PYTHONPATH of its own: its workers
    import this checkout's package, and a worker PYTHONPATH the deployment
    set (here by --conf) is kept behind it, not replaced."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.executorEnv.PYTHONPATH=/shipped/deps pyspark-shell"
    )
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    driver_path, (pkg, worker_path) = json.loads(out.stdout.strip().splitlines()[-1])
    assert driver_path.split(os.pathsep) == [str(ROOT), "/shipped/deps"]
    assert Path(pkg).resolve().parent.parent == ROOT
    assert "/shipped/deps" in worker_path.split(os.pathsep)
