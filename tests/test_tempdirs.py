"""A process that starts a session and builds the queries that write
temp files (the shipped package zip, the WARC roundtrip, the incremental
stream state, entry()'s pipeline workdir) leaves its temp dir empty when
it exits."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path.insert(0, {root!r})
import __spark_entry__ as e
from tilemaker_spark.session import get_spark

spark = get_spark("tempdirs", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
assert e._q_warc_scan(spark, {sf!r}).count() > 0
assert e._q_incremental_merge(spark, {sf!r}).count() > 0
assert e.entry(spark).count() > 0
"""


def test_a_process_leaves_no_temp_files(sf_dir, tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_CPUS": "2",
           "SPARK_DRIVER_MEM": "1g"}
    run = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=ROOT, sf=sf_dir)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert sorted(os.listdir(tmp)) == []
