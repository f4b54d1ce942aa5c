"""Config parsing: explicit env flag values, warmup sized from the master."""

import threading

import pytest

from prase_spark.concurrency import materialize_concurrently
from prase_spark.config import _task_slots, env_flag


@pytest.mark.parametrize(
    "raw, skip",
    [
        (None, False), ("", False), ("0", False), ("false", False), ("False", False),
        ("no", False), ("off", False), ("1", True), ("true", True), ("YES", True), ("on", True),
    ],
)
def test_session_warmup_flag_parsed_by_value(monkeypatch, raw, skip):
    if raw is None:
        monkeypatch.delenv("PRASE_NO_SESSION_WARMUP", raising=False)
    else:
        monkeypatch.setenv("PRASE_NO_SESSION_WARMUP", raw)
    assert env_flag("PRASE_NO_SESSION_WARMUP") is skip


def test_session_warmup_flag_rejects_unknown_values(monkeypatch):
    monkeypatch.setenv("PRASE_NO_SESSION_WARMUP", "maybe")
    with pytest.raises(ValueError, match="PRASE_NO_SESSION_WARMUP"):
        env_flag("PRASE_NO_SESSION_WARMUP")


@pytest.mark.parametrize(
    "raw, serial",
    [(None, False), ("0", False), ("off", False), ("1", True), ("true", True), ("Yes", True)],
)
def test_serial_checkpoints_flag_parsed_by_value(monkeypatch, raw, serial):
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


@pytest.mark.parametrize(
    "master, slots",
    [
        ("local", 1), ("local[4]", 4), ("local[32]", 32), ("local[16,3]", 16),
        ("local[*]", 7), ("yarn", 7), ("spark://host:7077", 7),
    ],
)
def test_warmup_slots_follow_the_master(monkeypatch, master, slots):
    # the env CPU count must not leak into the slot count
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert _task_slots(master, default=7) == slots
