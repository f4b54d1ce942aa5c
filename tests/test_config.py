"""Config: get_spark builds or returns a session and runs no job."""

import os
import subprocess
import sys
import textwrap

from prase_spark.config import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_of_get_spark(spark, group):
    # the fixture's own arguments: getOrCreate returns the running session
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        assert get_spark("prase_spark_tests", master="local[4]", shuffle_partitions=8) is spark
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_get_spark_on_running_session_runs_no_job(spark):
    assert _jobs_of_get_spark(spark, "get_spark_running_session") == []


def test_get_spark_runs_no_job():
    # a fresh JVM: the suite's shared session would hide what get_spark
    # itself submits
    script = textwrap.dedent(
        """
        from prase_spark.config import get_spark

        sc = get_spark("no_job", master="local[1]").sparkContext
        print("JOBS", len(sc.statusTracker().getJobIdsForGroup(None)))
        sc.stop()
        """
    )
    env = dict(os.environ, PRASE_DRIVER_MEM="1g", PRASE_DRIVER_XMS="256m")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "JOBS 0" in proc.stdout.splitlines()
