"""Unit tests for the benchmark's accounting helpers (no Spark needed):

    python3 -m pytest perfbench/test_accounting.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import accounting as acc  # noqa: E402

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_live_busy_child():
    child = subprocess.Popen(
        [sys.executable, "-c", BUSY.format(s=5.0)], stdout=subprocess.DEVNULL
    )
    try:
        c0 = acc.tree_cpu_s()
        time.sleep(1.0)
        used = acc.tree_cpu_s() - c0
    finally:
        child.kill()
        child.wait()
    # one busy core for one second; the child may briefly share its core
    assert 0.5 <= used <= 1.5


def test_tree_cpu_keeps_a_reaped_childs_time():
    c0 = acc.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BUSY.format(s=0.8)], check=True)
    used = acc.tree_cpu_s() - c0  # the child is gone; its time is in cutime
    assert 0.8 <= used <= 1.5


def test_tree_cpu_of_an_unrelated_root_excludes_us():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        time.sleep(0.3)
        c0 = acc.tree_cpu_s(child.pid)
        t = time.process_time()
        while time.process_time() - t < 0.5:  # burn CPU in THIS process
            pass
        assert acc.tree_cpu_s(child.pid) - c0 < 0.1
    finally:
        child.kill()
        child.wait()


def test_percentile_needs_ten_samples_beyond():
    assert acc.percentile(list(range(1, 100)), 0.9) is None  # 99 samples
    assert acc.percentile(list(range(1, 101)), 0.9) == 90  # 10 beyond
    assert acc.percentile(list(range(1, 21)), 0.5) == 10
    assert acc.percentile(list(range(1, 20)), 0.5) is None
    assert acc.percentile([5.0] * 50 + [1.0] * 50, 0.5) == 1.0


def _log(path, batch, files):
    with open(path, "w") as f:
        f.write("v1\n")
        for name in files:
            e = {"path": f"file:///x/bronze/{name}", "timestamp": 1, "batchId": batch}
            f.write(json.dumps(e) + "\n")


def test_file_batches_reads_plain_and_compacted_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _log(log / "0", 0, ["a.json"])
    _log(log / "1", 1, ["b.json", "c.json"])
    # a compact file repeats earlier entries; repeats are not duplicates
    with open(log / "1.compact", "w") as f:
        f.write("v1\n")
        for name, b in (("a.json", 0), ("b.json", 1), ("c.json", 1)):
            f.write(json.dumps({"path": f"file:///x/bronze/{name}", "timestamp": 1, "batchId": b}) + "\n")
    _log(log / "2", 2, ["c.json"])  # c.json taken twice: must show up
    (log / ".2.crc").write_text("junk")
    got = acc.file_batches(str(tmp_path))
    assert got == {"a.json": [0], "b.json": [1], "c.json": [1, 2]}


def test_freshness_runs_from_due_time_not_send_time():
    due = {1: 10.0, 2: 10.5, 3: 11.0}
    tick_batch = {1: 0, 2: 0, 3: 1}
    commits = {0: 12.0, 1: 13.5}
    assert acc.freshness(due, tick_batch, commits) == [2.0, 1.5, 2.5]
    # a tick whose batch never committed is left out (the caller fails it)
    assert acc.freshness(due, {1: 0, 2: 7}, commits) == [2.0]


def test_batch_lag_runs_from_the_last_tick_of_each_batch():
    due = {1: 10.0, 2: 10.5, 3: 11.0, 4: 11.5}
    tick_batch = {1: 0, 2: 0, 3: 1, 4: 1}
    commits = {0: 12.0, 1: 13.5}
    assert acc.batch_lag(due, tick_batch, commits) == {0: 1.5, 1: 2.0}
    # an uncommitted batch has no lag
    assert acc.batch_lag(due, {1: 0, 2: 7}, commits) == {0: 2.0}


def test_lateness():
    assert acc.lateness({1: 1.0, 2: 2.0}, {1: 1.25, 2: 2.0}) == [0.25, 0.0]


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
