"""Scheduler strings + retry (SURVEY §2.8 T3/T5):
streaming/scheduler.py vs the reference's cli_scheduler /
repeat_handler / retry_handler behavior."""

import pytest

from cryptowalletcommunitydetection_spark.streaming.scheduler import (
    SchedulerSpec,
    retry,
    retry_call,
)


def test_parse_reference_strings():
    # jobs/lending_wallets_job.py:20
    sp = SchedulerSpec.parse("^true@3600/$#true")
    assert sp == SchedulerSpec(True, 3600, 0, None, True)
    # cli/exchange_deposit_wallets.py:69 shape
    sp = SchedulerSpec.parse("^false@86400/120$1700000000#false")
    assert sp == SchedulerSpec(False, 86400, 120, 1700000000, False)
    # one-shot (no interval)
    sp = SchedulerSpec.parse("^true@/$#true")
    assert sp.interval is None and sp.next_fire(0) is None
    with pytest.raises(ValueError):
        SchedulerSpec.parse("true@3600/$#true")  # missing ^
    with pytest.raises(ValueError):
        SchedulerSpec.parse("^maybe@3600/$#true")


def test_parse_python_formatted_reference_string():
    # cli/exchange_deposit_wallets.py:69 f-string-interpolates Python
    # values: a capitalized bool and None for the missing end time
    sp = SchedulerSpec.parse("^True@86400/0$None#false")
    assert sp == SchedulerSpec(True, 86400, 0, None, False)
    sp = SchedulerSpec.parse("^FALSE@None/None$None#TRUE")
    assert sp == SchedulerSpec(False, None, 0, None, True)


def test_next_fire_interval_aligned():
    """round_timestamp(now, interval) + interval (+ delay) — the
    repeat_handler boundary (utils/repeat_handler.py:54-61)."""
    sp = SchedulerSpec.parse("^true@3600/$#true")
    assert sp.next_fire(0) == 3600
    assert sp.next_fire(3599) == 3600
    assert sp.next_fire(3600) == 7200  # strictly after: next boundary
    assert sp.next_fire(7205) == 10800
    spd = SchedulerSpec.parse("^true@3600/60$#true")
    assert spd.next_fire(0) == 60       # boundary 0's delayed fire
    assert spd.next_fire(60) == 3660
    # round-5 regression: a caller inside the (boundary, boundary+delay)
    # gap must get the PENDING delayed fire, not skip the window
    assert spd.next_fire(3620) == 3660
    spe = SchedulerSpec.parse("^true@3600/$7200#true")
    assert spe.next_fire(0) == 3600
    assert spe.next_fire(3600) == 7200
    assert spe.next_fire(7200) is None  # past end


def test_due_windows_catch_up():
    sp = SchedulerSpec.parse("^true@3600/$#true")
    assert sp.due_windows(0, 7300) == [(0, 3600), (3600, 7200)]
    assert sp.due_windows(3700, 7199) == []  # window [3600,7200) incomplete
    # round-5 regression: a mid-window cursor resumes at the NEXT
    # aligned boundary — never re-emits its window's synced prefix
    assert sp.due_windows(3700, 11000) == [(7200, 10800)]
    spe = SchedulerSpec.parse("^true@3600/$7200#true")
    assert spe.due_windows(0, 90000) == [(0, 3600), (3600, 7200)]
    assert SchedulerSpec.parse("^true@/$#true").due_windows(0, 10**6) == []


def test_processing_time_trigger_mapping():
    assert SchedulerSpec.parse("^true@900/$#true").processing_time_trigger() \
        == {"processingTime": "900 seconds"}
    assert SchedulerSpec.parse("^true@/$#true").processing_time_trigger() \
        == {"availableNow": True}


def test_run_loop_with_fake_clock():
    """The repeat_handler loop end to end, no wall-clock: run_now fires
    immediately, then each interval boundary fires once; the fake
    clock jumps to whatever the loop sleeps to."""
    t = {"now": 100.0}
    slept = []

    def clock():
        return t["now"]

    def sleeper(s):
        slept.append(round(s, 3))
        t["now"] += s

    fires = []
    sp = SchedulerSpec.parse("^true@60/$#true")
    n = sp.run(fires.append, clock=clock, sleeper=sleeper, max_fires=3)
    assert n == 3
    assert fires == [100, 120, 180]  # now, then aligned boundaries
    assert slept == [20.0, 60.0]


def test_run_respects_end_timestamp():
    t = {"now": 0.0}
    fires = []
    sp = SchedulerSpec.parse("^false@60/$130#true")
    n = sp.run(
        fires.append, clock=lambda: t["now"],
        sleeper=lambda s: t.__setitem__("now", t["now"] + s),
    )
    assert n == 2 and fires == [60, 120]  # 180 > end -> stop


def test_retry_call_retries_then_raises():
    calls = []
    slept = []

    def flaky(x):
        calls.append(x)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        retry_call(flaky, 7, tries=3, sleeper=slept.append)
    assert calls == [7, 7, 7]  # RETRIES_LIMIT semantics
    assert len(slept) == 2 and all(0 <= s < 10.0 for s in slept)
    # deterministic jitter: identical reruns sleep identically
    slept2 = []
    with pytest.raises(RuntimeError):
        retry_call(flaky, 7, tries=3, sleeper=slept2.append)
    assert slept2 == slept


def test_retry_decorator_succeeds_midway():
    state = {"n": 0}

    @retry(tries=3, sleeper=lambda s: None)
    def sometimes():
        state["n"] += 1
        if state["n"] < 3:
            raise ValueError("not yet")
        return "ok"

    assert sometimes() == "ok"
    assert state["n"] == 3


def test_retry_jitter_is_keyed_per_caller():
    """Concurrent callers (batched_enrich's partitions) sleep different
    amounts; the same caller sleeps the same amounts on a rerun."""

    def flaky():
        raise RuntimeError("boom")

    def sleeps(key):
        slept = []
        with pytest.raises(RuntimeError):
            retry_call(flaky, tries=3, sleeper=slept.append, jitter_key=key)
        return slept

    part0, part1 = sleeps(0), sleeps(1)
    assert part0 != part1
    assert all(a != b for a, b in zip(part0, part1))
    assert sleeps(0) == part0
