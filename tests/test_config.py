"""Session config parsing: explicit env values, warmup sized from the master."""

import pytest

from prase_spark.config import _skip_session_warmup, _task_slots


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
    assert _skip_session_warmup() is skip


def test_session_warmup_flag_rejects_unknown_values(monkeypatch):
    monkeypatch.setenv("PRASE_NO_SESSION_WARMUP", "maybe")
    with pytest.raises(ValueError, match="PRASE_NO_SESSION_WARMUP"):
        _skip_session_warmup()


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
