"""Learned availability schedules (SURVEY A2/A3/T2; parity targets
odin_common/src/schedule.rs:35-95, odin_hrrr/src/schedule.rs:75-171).

The distributed part — the per-hour arrival-minute histogram — is a
DataFrame aggregation (`operators.aggregations.hourly_minute_histogram`,
catalog q12/q13). What lives here is the tiny driver-side tail the
reference computes in-process: compacting a histogram into a per-hour
event schedule and finding the next event time — the values a T2
driver loop sleeps on between Trigger.AvailableNow runs.
"""

from __future__ import annotations

import datetime as dt


def schedule_from_histogram(
    minute_counts: dict[int, int], min_count: int = 1, merge_within: int = 2
) -> list[int]:
    """Compact an arrival-minute histogram into the list of scheduled
    minutes (schedule_from_hourly_histogram, schedule.rs:58-80):
    keep minutes observed ≥ min_count times, merging neighbors within
    `merge_within` minutes into the earliest of the run."""
    mins = sorted(m for m, c in minute_counts.items() if c >= min_count)
    out: list[int] = []
    for m in mins:
        if out and m - out[-1] <= merge_within:
            continue
        out.append(m)
    return out


def next_event(
    now: dt.datetime, schedule_minutes: list[int], slack_sec: int = 0
) -> dt.datetime:
    """Next scheduled wall-clock instant strictly after `now`
    (get_next_hourly_event_dtg, schedule.rs:83-95). `slack_sec` delays
    the trigger past the learned minute (download latency allowance)."""
    if not schedule_minutes:
        raise ValueError("empty schedule")
    base = now.replace(minute=0, second=0, microsecond=0)
    for hour_offset in (0, 1):
        hour = base + dt.timedelta(hours=hour_offset)
        for m in schedule_minutes:
            cand = hour + dt.timedelta(minutes=m, seconds=slack_sec)
            if cand > now:
                return cand
    # schedule minutes all ≤ now's minute in both hours — next day-hour
    return base + dt.timedelta(hours=2, minutes=schedule_minutes[0], seconds=slack_sec)
