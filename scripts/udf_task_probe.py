"""Per-task latency from Python task launch to UDF entry.

Runs an identity Python task over 8 partitions in several rounds of one
session, with ``tilemaker_spark`` imported in the workers, and prints
each task's delay from its ``launchTime`` (status REST API) to the start
of the task body: the fixed cost every engine UDF pays before its own
code runs. Round 1 starts the Python workers; later rounds reuse them.

    python scripts/udf_task_probe.py [rounds]    # default 4
"""

import json
import os
import statistics
import sys
import time
import urllib.parse
import urllib.request
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tilemaker_spark  # noqa: E402
from tilemaker_spark.session import get_spark  # noqa: E402

PARTITIONS = 8


def identity(index, rows):
    entered = time.time()
    for _ in rows:
        pass
    # referencing the package makes the worker import it while it
    # unpickles the task, as it does for every engine UDF
    yield index, entered, tilemaker_spark.__file__


def launch_times(sc, stage_id):
    """partition index -> launch time (epoch s) of the stage's tasks."""
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    url = (f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
           f"/stages/{stage_id}/0/taskList?length={PARTITIONS}")
    deadline = time.monotonic() + 10
    while True:  # the listener may not have seen every task finish yet
        with urllib.request.urlopen(url, timeout=10) as r:
            done = [t for t in json.loads(r.read())
                    if t["status"] == "SUCCESS"]
        if len(done) == PARTITIONS or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    return {t["index"]: datetime.strptime(t["launchTime"],
                                          "%Y-%m-%dT%H:%M:%S.%f%Z")
            .replace(tzinfo=timezone.utc).timestamp() for t in done}


def main(rounds: int) -> None:
    spark = get_spark("udf_task_probe")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    rdd = sc.parallelize(range(PARTITIONS), PARTITIONS)
    warm = []
    for r in range(1, rounds + 1):
        sc.setJobGroup(f"probe{r}", f"probe{r}")
        out = rdd.mapPartitionsWithIndex(identity).collect()
        if r == 1:
            print("workers import tilemaker_spark from",
                  sorted({origin for _, _, origin in out}))
        (job,) = sc.statusTracker().getJobIdsForGroup(f"probe{r}")
        (stage,) = sc.statusTracker().getJobInfo(job).stageIds
        launched = launch_times(sc, stage)
        ms = sorted(round((t - launched[i]) * 1e3) for i, t, _ in out
                    if i in launched)
        warm += ms if r > 1 else []
        print(f"round {r} ({'warm' if r > 1 else 'cold'}): launch->UDF "
              f"entry ms median={statistics.median(ms):.0f} all={ms}")
    if warm:
        print(f"warm rounds: median={statistics.median(warm):.0f} ms "
              f"min={min(warm)} max={max(warm)} over {len(warm)} tasks")
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 4)
