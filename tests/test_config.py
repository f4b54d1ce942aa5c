"""Config: explicit env flag values, and a session that runs no job."""

import os
import subprocess
import sys
import textwrap
import threading

import pytest

from prase_spark.concurrency import materialize_concurrently
from prase_spark.config import env_flag, get_spark

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


# PRASE_NO_SESSION_WARMUP used to skip get_spark's warmup jobs. The knob is
# retired with the warmups: env_flag still parses its values as before, and
# get_spark submits no job whatever it is set to.
@pytest.mark.parametrize(
    "raw, skip",
    [
        (None, False), ("", False), ("0", False), ("false", False), ("False", False),
        ("no", False), ("off", False), ("1", True), ("true", True), ("YES", True), ("on", True),
    ],
)
def test_session_warmup_flag_parsed_by_value(spark, monkeypatch, raw, skip):
    if raw is None:
        monkeypatch.delenv("PRASE_NO_SESSION_WARMUP", raising=False)
    else:
        monkeypatch.setenv("PRASE_NO_SESSION_WARMUP", raw)
    assert env_flag("PRASE_NO_SESSION_WARMUP") is skip
    assert _jobs_of_get_spark(spark, f"retired_warmup_knob_{raw}") == []


def test_session_warmup_flag_rejects_unknown_values(spark, monkeypatch):
    monkeypatch.setenv("PRASE_NO_SESSION_WARMUP", "maybe")
    with pytest.raises(ValueError, match="PRASE_NO_SESSION_WARMUP"):
        env_flag("PRASE_NO_SESSION_WARMUP")
    # get_spark no longer reads the knob, so an unknown value cannot fail it
    assert _jobs_of_get_spark(spark, "retired_warmup_knob_maybe") == []


@pytest.mark.parametrize(
    "raw, serial",
    [
        (None, False), ("", False), ("0", False), ("false", False), ("False", False),
        ("no", False), ("off", False), ("1", True), ("true", True), ("Yes", True),
        ("YES", True), ("on", True),
    ],
)
def test_serial_checkpoints_flag_parsed_by_value(spark, monkeypatch, raw, serial):
    if raw is None:
        monkeypatch.delenv("PRASE_SERIAL_CHECKPOINTS", raising=False)
    else:
        monkeypatch.setenv("PRASE_SERIAL_CHECKPOINTS", raw)
    ran_on = set()
    materialize_concurrently(*[lambda: ran_on.add(threading.get_ident())] * 2)
    assert (ran_on == {threading.get_ident()}) is serial


def test_serial_checkpoints_flag_rejects_unknown_values(monkeypatch):
    monkeypatch.setenv("PRASE_SERIAL_CHECKPOINTS", "maybe")
    with pytest.raises(ValueError, match="PRASE_SERIAL_CHECKPOINTS"):
        materialize_concurrently(lambda: 1, lambda: 2)


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
