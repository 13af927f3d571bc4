"""The suite's grow-and-replay helper for streaming-maintained tables."""

from __future__ import annotations

import os
import subprocess
import sys

from nyc_etl_pipeline_spark.suite.maintained import grow

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_grow_replays_batch_zero_and_builds_once(tmp_path):
    written, planned = [], []

    def part(b):
        planned.append(b)
        return f"slice{b}"

    def make_writer(wh):
        return lambda df, b: written.append((df, b))

    wh = grow(None, str(tmp_path), "test_schedule", make_writer, part, 3)
    assert written == [("slice0", 0), ("slice1", 1), ("slice2", 2), ("slice0", 0)]
    again = grow(None, str(tmp_path), "test_schedule", make_writer, part, 3)
    assert again.root == wh.root
    assert planned == [0, 1, 2, 0]  # a memoised table plans no batch


_CHILD = """
import sys
from nyc_etl_pipeline_spark import get_spark
from nyc_etl_pipeline_spark.suite.events import q195_maintained_mart

spark = get_spark(master="local[1]", shuffle_partitions=2)
q195_maintained_mart(spark, sys.argv[1]).collect()
"""


def test_suite_temp_warehouses_removed_at_exit(tmp_path, sf_dir):
    """A process that grew a maintained table leaves nothing in its
    temp dir once it exits."""
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=REPO_ROOT,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir], env=env, check=True,
        capture_output=True, timeout=300,
    )
    assert os.listdir(tmp_path) == []
