"""``get_spark``'s default shuffle width, and that it leaves a live
session alone.

The shared ``spark`` fixture pins its own width, so the default is checked
in a fresh process: the session is built once per JVM and its
``spark.sql.shuffle.partitions`` is fixed at that point.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from graphdb_td2_spark.session import get_spark
spark = get_spark("session-width-probe")
print("WIDTH:" + spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_default_shuffle_width_is_cpu_count(tmp_path):
    """With no ``shuffle_partitions``, the width is ``SPARK_GRAFT_CPUS``
    itself, not raised to a floor."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="3", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _SNIPPET.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,  # keeps the warehouse and metastore out of the repo
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    width = out.stdout.split("WIDTH:")[1].splitlines()[0]
    assert width == "3"


def test_get_spark_returns_live_session_unchanged(spark, monkeypatch):
    """A second ``get_spark()`` (the CLI, a server) hands back the running
    session without rewriting its confs: the fixture's width 8 stays."""
    from graphdb_td2_spark.session import get_spark

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert get_spark() is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
