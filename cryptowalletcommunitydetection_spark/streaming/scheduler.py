"""Scheduler strings + retry (SURVEY §2.8 T3/T5) — the reference's
forever-loop machinery rebuilt as pure, testable scheduling math.

The reference drives every recurring job through `cli_scheduler`
scheduler strings — ``^{run_now}@{interval}/{delay}${end}#{retry}``,
built at cli/exchange_deposit_wallets.py:69 and
jobs/lending_wallets_job.py:20 — and a sleep-until-next-interval loop
(utils/repeat_handler.py:11-46, jobs/cli_job.py:24-58) whose next fire
is the interval-aligned boundary after "now"
(``round_timestamp(now, interval) + interval``). Retries are an
app-level decorator: 3 tries with a jittered sleep
(utils/retry_handler.py:12-29).

Engine stance: the LOOP itself belongs to the platform (cron,
Structured Streaming's ``Trigger.processingTime``) — a driver that
sleeps forever is an anti-pattern on a cluster. What the engine keeps
is everything testable around it: parsing the reference's scheduler
strings, the interval-aligned next-fire computation, the catch-up
window enumeration a resumed driver needs, the mapping onto a
streaming trigger, and a deterministic-jitter retry helper (hash-
derived jitter, the same no-RNG-state convention as the walk
transitions — reruns sleep identically). ``run`` drives a real loop
with injectable clock/sleep so tests execute the full scheduling path
without wall-clock time.
"""

from __future__ import annotations

import hashlib
import time as _time
from dataclasses import dataclass
from typing import Callable


@dataclass(frozen=True)
class SchedulerSpec:
    """Parsed ``^{run_now}@{interval}/{delay}${end}#{retry}`` string.

    ``interval``/``delay``/``end_timestamp`` are seconds (``None`` =
    absent — an absent interval means run once, the reference's
    "not repeat" branch at utils/repeat_handler.py:27-29)."""

    run_now: bool
    interval: int | None = None
    delay: int = 0
    end_timestamp: int | None = None
    retry: bool = True

    @classmethod
    def parse(cls, s: str) -> "SchedulerSpec":
        """Parse the reference's scheduler-string format, e.g.
        ``^true@3600/$#true`` (hourly, no delay, no end, retry) or
        ``^false@86400/120$1700000000#false``."""
        if not s.startswith("^"):
            raise ValueError(f"scheduler string must start with '^': {s!r}")
        body = s[1:]

        def split1(text, sep):
            a, _, b = text.partition(sep)
            return a, b

        run_part, rest = split1(body, "@")
        interval_part, rest = split1(rest, "/")
        delay_part, rest = split1(rest, "$")
        end_part, retry_part = split1(rest, "#")
        # the reference builds the string with an f-string over Python
        # values, so booleans arrive as "True"/"False" and a missing
        # number as "None"
        truthy = {"true": True, "false": False, "": True}
        run_part, retry_part = run_part.lower(), retry_part.lower()
        if run_part not in truthy or retry_part not in truthy:
            raise ValueError(f"bad boolean field in scheduler string {s!r}")

        def number(text):
            return None if text.lower() in ("", "none") else int(text)

        delay = number(delay_part)
        return cls(
            run_now=truthy[run_part],
            interval=number(interval_part),
            delay=0 if delay is None else delay,
            end_timestamp=number(end_part),
            retry=truthy[retry_part],
        )

    def next_fire(self, now: int) -> int | None:
        """The earliest fire time ``k*interval + delay`` STRICTLY after
        ``now`` — the reference's interval-aligned
        ``round_timestamp(now, interval) + interval``
        (utils/repeat_handler.py:54-61) shifted by the scheduler
        string's delay. Computed over delay-shifted coordinates so a
        caller landing INSIDE the (boundary, boundary+delay) gap still
        gets that boundary's pending delayed fire rather than skipping
        a window (round-5 review). None when the spec does not repeat
        or the fire time passes ``end_timestamp``."""
        if self.interval is None:
            return None
        nxt = (
            (now - self.delay) // self.interval * self.interval
            + self.interval + self.delay
        )
        if self.end_timestamp is not None and nxt > self.end_timestamp:
            return None
        return nxt

    def due_windows(self, last_synced: int, now: int) -> list[tuple[int, int]]:
        """Catch-up enumeration for a resumed driver: every complete
        ``[lo, lo + interval)`` window between the persisted cursor and
        ``now`` (the reference re-enters its loop and processes windows
        one wake-up at a time; a batch driver wants them all at once,
        e.g. to hand to IncrementalRunner.run_until)."""
        if self.interval is None:
            return []
        out = []
        # first ALIGNED boundary at/after the cursor: flooring an
        # unaligned cursor would re-emit its window's already-synced
        # prefix into the sinks (round-5 review) — a mid-window cursor
        # resumes at the next boundary instead
        lo = -(-last_synced // self.interval) * self.interval
        while lo + self.interval <= now:
            hi = lo + self.interval
            if self.end_timestamp is not None and hi > self.end_timestamp:
                break
            out.append((lo, hi))
            lo = hi
        return out

    def processing_time_trigger(self) -> dict:
        """The Structured Streaming mapping: kwargs for
        ``DataStreamWriter.trigger`` — ``processingTime`` for repeating
        specs, ``availableNow`` for one-shot (the engine's catch-up
        semantics, streaming/incremental.py)."""
        if self.interval is None:
            return {"availableNow": True}
        return {"processingTime": f"{self.interval} seconds"}

    def run(
        self,
        process: Callable[[int], int | None],
        clock: Callable[[], float] = _time.time,
        sleeper: Callable[[float], None] = _time.sleep,
        max_fires: int | None = None,
    ) -> int:
        """Drive ``process(fire_time)`` on the spec's schedule; returns
        the number of fires. The reference's repeat_handler loop with
        the platform boundary made injectable: pass a fake clock/sleep
        in tests (or never call this on a cluster driver — use
        ``processing_time_trigger``/cron and ``due_windows`` instead).
        ``process`` failures follow the spec's ``retry`` flag through
        ``retry_call`` (3 tries, reference RETRIES_LIMIT)."""
        fires = 0
        now = int(clock())
        if self.run_now:
            if self.retry:
                retry_call(process, now, sleeper=sleeper)
            else:
                process(now)
            fires += 1
        while max_fires is None or fires < max_fires:
            nxt = self.next_fire(int(clock()))
            if nxt is None:
                break
            wait = nxt - clock()
            if wait > 0:
                sleeper(wait)
            if self.retry:
                retry_call(process, nxt, sleeper=sleeper)
            else:
                process(nxt)
            fires += 1
        return fires


def retry_call(
    fn: Callable,
    *args,
    tries: int = 3,
    max_sleep: float = 10.0,
    sleeper: Callable[[float], None] = _time.sleep,
    jitter_key: object = "",
    **kwargs,
):
    """T5 — the reference's retry decorator as a call helper: up to
    ``tries`` attempts (RETRIES_LIMIT = 3, utils/retry_handler.py:10),
    re-raising the last error, sleeping a jittered ``[0, max_sleep)``
    between attempts. The jitter is DETERMINISTIC — derived from
    md5(fn name | jitter_key | attempt) instead of ``random.random()``
    — so reruns behave identically (the engine's no-RNG-state
    convention; the reference's 10·random() sleep is irreproducible).
    ``jitter_key`` tells concurrent callers of the same ``fn`` apart
    (``batched_enrich`` passes the partition id): without it they would
    all sleep the same amount and retry in lockstep."""
    if tries < 1:
        raise ValueError("tries must be >= 1")
    last = None
    for attempt in range(tries):
        try:
            return fn(*args, **kwargs)
        except Exception as ex:  # noqa: BLE001 — mirror reference semantics
            last = ex
            if attempt == tries - 1:
                raise
            key = f"{getattr(fn, '__name__', 'fn')}|{jitter_key}|{attempt}".encode()
            h = int.from_bytes(hashlib.md5(key).digest()[:8], "big")
            sleeper((h % (1 << 53)) / float(1 << 53) * max_sleep)
    raise last  # pragma: no cover — unreachable


def retry(tries: int = 3, max_sleep: float = 10.0,
          sleeper: Callable[[float], None] = _time.sleep):
    """Decorator form of ``retry_call`` (the reference's
    ``@retry_handler`` shape, utils/retry_handler.py:12-29)."""

    def deco(fn):
        def wrapped(*args, **kwargs):
            return retry_call(
                fn, *args, tries=tries, max_sleep=max_sleep,
                sleeper=sleeper, **kwargs,
            )

        wrapped.__name__ = getattr(fn, "__name__", "fn")
        return wrapped

    return deco
