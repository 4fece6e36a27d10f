"""Session defaults: the driver heap is sized from the box, and building
a session changes nothing else in the process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from commercial_rfp_data_pipeline_spark.session import default_driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GiB = 2**30


def test_default_driver_memory_is_a_quarter_of_ram_at_least_1g():
    assert default_driver_memory(16 * GiB) == "4096m"
    assert default_driver_memory(15 * GiB + 512 * 2**20) == "3968m"
    assert default_driver_memory(256 * GiB) == "65536m"
    assert default_driver_memory(2 * GiB) == "1024m"
    assert default_driver_memory(0) == "1024m"


_PROBE = """
import json, os, sys
sys.path.insert(0, {root!r})
from pyspark import SparkFiles
from commercial_rfp_data_pipeline_spark.session import get_spark
before = (list(sys.path), os.environ.get("PYTHONPATH"))
spark = get_spark(app_name="session_probe", master="local[1]")
# SparkContext itself puts its SparkFiles root on sys.path
own = SparkFiles.getRootDirectory()
after = ([p for p in sys.path if p != own], os.environ.get("PYTHONPATH"))
mem = spark.conf.get("spark.driver.memory")
spark.stop()
print(json.dumps({{"same": before == after, "after": after, "mem": mem}}))
"""


def test_get_spark_leaves_sys_path_and_pythonpath_alone():
    """A fresh interpreter, so no earlier session in this one hides an
    edit. The one entry pyspark's SparkContext adds (its SparkFiles
    root) is not ours. ``SPARK_DRIVER_MEMORY`` still overrides the sized
    default."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=ROOT)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["same"], got["after"]
    assert got["mem"] == "1g"
