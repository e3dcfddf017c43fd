"""Session factory tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_ship_package_builds_one_zip_per_process(tmp_path):
    """Two sessions in one process ship the same zip, built once, and
    the zip's directory is gone once the process exits (it used to leave
    one ``fotmob_pkg_*`` directory per session)."""
    probe = """
import glob, json, os, tempfile
from fotmobdatapipeline_spark import session

shipped = []
for app in ("ship-a", "ship-b"):
    spark = session.get_spark(app_name=app, shuffle_partitions=1)
    session.ship_package(spark)
    session.ship_package(spark)  # idempotent within a session
    shipped.append([f for f in spark.sparkContext.listFiles if f.endswith(".zip")])
    spark.stop()
print(json.dumps({
    "dirs": glob.glob(os.path.join(tempfile.gettempdir(), "fotmob_pkg_*")),
    "shipped": shipped,
    "exists": [os.path.isfile(f.removeprefix("file:")) for s in shipped for f in s],
}))
"""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join([str(REPO), os.environ.get("PYTHONPATH", "")]),
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, env=env, cwd=tmp_path,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    (first,), (second,) = got["shipped"]
    assert first == second and first.endswith("/fotmobdatapipeline_spark.zip")
    assert got["exists"] == [True, True]
    assert len(got["dirs"]) == 1 and first.removeprefix("file:").startswith(got["dirs"][0])
    assert not list(tmp_path.glob("fotmob_pkg_*")), "zip directory left after exit"
