"""Measurement helpers shared by the workloads: process-tree CPU from
/proc, the percentile publishing rule, and freshness accounting from a
file-stream checkpoint. Pure functions over plain data, so they are
unit-tested without Spark (test_accounting.py)."""

from __future__ import annotations

import json
import math
import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime + stime + cutime + cstime in ticks) of one process,
    or None when it exited between the listing and the read."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces or ')'; the fields after the LAST ')'
    # start at field 3 (state), so field n sits at index n - 3
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds of `root_pid` and all its live descendants, counting
    each process's own time plus that of children it has reaped.

    A child that exits between two readings moves its whole lifetime into
    its parent's cutime/cstime, so the DIFFERENCE of two readings is the
    tree's CPU over the interval, as long as every exited process was
    reaped by a process inside the tree (true for the JVM and the Python
    worker daemon, which reap their own children)."""
    root = os.getpid() if root_pid is None else root_pid
    stats: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def percentile(values, q: float) -> float | None:
    """Nearest-rank q-quantile, published only when at least ten samples
    lie beyond it; None otherwise (a p90 needs >= 100 samples)."""
    n = len(values)
    k = max(1, math.ceil(q * n))
    if n - k < 10:
        return None
    return sorted(values)[k - 1]


def file_batches(checkpoint_dir: str) -> dict[str, list[int]]:
    """Map each file a file-stream source took in to the batch ids that
    took it, from the source's metadata log `sources/0/<batchId>` (and the
    `<n>.compact` files that fold earlier batches together). Each log file
    is a version line followed by one JSON entry per file. A correct run
    maps every file to exactly one batch."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    seen: dict[str, set[int]] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    seen.setdefault(os.path.basename(e["path"]), set()).add(int(e["batchId"]))
    return {p: sorted(b) for p, b in seen.items()}


def freshness(
    due_s: dict[int, float],
    tick_batch: dict[int, int],
    commit_s: dict[int, float],
) -> list[float]:
    """Per-tick freshness: from the tick's DUE time at the generator (not
    the time it was actually sent, so a stalled generator still counts
    the wait it imposed) to the return of the sink call that committed
    the batch holding the tick. Ticks missing a batch or a commit are
    skipped here; the caller counts them as failed."""
    out = []
    for tick, due in sorted(due_s.items()):
        b = tick_batch.get(tick)
        if b is not None and b in commit_s:
            out.append(commit_s[b] - due)
    return out


def batch_lag(
    due_s: dict[int, float],
    tick_batch: dict[int, int],
    commit_s: dict[int, float],
) -> dict[int, float]:
    """Per committed batch: from the due time of the LAST tick it holds to
    the return of the sink call that committed it. Unlike a tick's
    freshness it holds no wait for the trigger, so it is the batch's own
    cost: file listing, state update and sink."""
    last: dict[int, float] = {}
    for tick, b in tick_batch.items():
        if b in commit_s and tick in due_s:
            last[b] = max(last.get(b, due_s[tick]), due_s[tick])
    return {b: commit_s[b] - d for b, d in sorted(last.items())}


def lateness(due_s: dict[int, float], sent_s: dict[int, float]) -> list[float]:
    """How late the generator started each tick relative to its due time."""
    return [sent_s[t] - due_s[t] for t in sorted(sent_s)]
