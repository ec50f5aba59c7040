"""The instruments of a traced run (`--trace 1`).

Spans are timed from the benchmark's side of each call into a package
layer; a span given a phase also tags the Spark jobs it launches with a
job group, so Spark's status store can split executor time, GC,
shuffle and spill by phase afterwards. A disabled tracer records
nothing and makes no Spark calls."""

from __future__ import annotations

import time
from collections import defaultdict
from statistics import median
from contextlib import contextmanager
from datetime import datetime
from time import perf_counter

from pyspark.sql.streaming.listener import StreamingQueryListener

PHASES = ("warm", "split", "sink", "build", "run")
_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.span_jobs: dict[str, list[int]] = defaultdict(list)
        self._groups: dict[str, list[str]] = defaultdict(list)
        self.self_s = 0.0  # bookkeeping time spent inside timed regions
        self._n = 0
        self._log = _ProgressLog()
        if enabled:
            spark.streams.addListener(self._log)

    @contextmanager
    def span(self, layer: str, phase: str | None = None):
        """Time one call into `layer`. With a phase, the call's Spark jobs
        run under their own job group; the previous group is restored
        afterwards, because a foreachBatch sink runs on the streaming
        engine's thread, whose group the engine owns."""
        if not self.enabled:
            yield
            return
        t0 = perf_counter()
        group = old = None
        if phase is not None:
            self._n += 1
            group = f"perfbench:{phase}:{self._n}"
            old = self.sc.getLocalProperty(_GROUP_PROP)
            self.sc.setLocalProperty(_GROUP_PROP, group)
            self._groups[phase].append(group)
        t1 = perf_counter()
        try:
            yield
        finally:
            t2 = perf_counter()
            self.spans[layer].append(t2 - t1)
            if group is not None:
                self.sc.setLocalProperty(_GROUP_PROP, old)
                self.span_jobs[layer].append(len(self._jobs(group)))
            self.self_s += (t1 - t0) + (perf_counter() - t2)

    def progress_since(self, wall_s: float) -> list:
        """StreamingQueryProgress of every micro-batch, of any query, that
        started at or after `wall_s` (time.time()). Listener events arrive
        asynchronously, so wait until they stop arriving first."""
        if not self.enabled:
            return []
        n = -1
        deadline = time.time() + 5.0
        while n != len(self._log.progress) and time.time() < deadline:
            n = len(self._log.progress)
            time.sleep(0.5)
        return [p for p in self._log.progress if _epoch_s(p.timestamp) >= wall_s]

    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def phase_exec(self) -> dict[str, float]:
        """exec.{cpu_s,gc_s,py_s,shuffle_bytes,spill_bytes}.<phase> summed
        over the stages of every job tagged with the phase. py_s is task
        wall time not spent on JVM CPU: the Python workers of pandas-UDF
        and state stages, plus any I/O wait."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = {}
        for phase in PHASES:
            cpu = gc = py = shuffle = spill = 0.0
            stages = set()
            for group in self._groups.get(phase, ()):
                for job in self._jobs(group):
                    info = tracker.getJobInfo(job)
                    if info is not None:
                        stages.update(info.stageIds)
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                run_s = sd.executorRunTime() / 1e3
                cpu_s = sd.executorCpuTime() / 1e9
                cpu += cpu_s
                gc += sd.jvmGcTime() / 1e3
                py += max(0.0, run_s - cpu_s)
                shuffle += sd.shuffleWriteBytes()
                spill += sd.diskBytesSpilled()
            out[f"exec.cpu_s.{phase}"] = cpu
            out[f"exec.gc_s.{phase}"] = gc
            out[f"exec.py_s.{phase}"] = py
            out[f"exec.shuffle_bytes.{phase}"] = shuffle
            out[f"exec.spill_bytes.{phase}"] = spill
        return out


class _ProgressLog(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_metrics(progress) -> dict[str, float]:
    """trigger.* and state.* from the data-carrying micro-batches among
    `progress` (StreamingQueryProgress objects)."""
    prog = [p for p in progress if p.numInputRows > 0]
    out = {}
    for key in ("addBatch", "getBatch", "queryPlanning", "latestOffset", "walCommit"):
        vals = [p.durationMs.get(key, 0) for p in prog]
        out[f"trigger.{key}_ms_p50"] = median(vals) if vals else 0.0
    out["trigger.batches"] = len(prog)
    out["trigger.rows_per_batch_p50"] = median([p.numInputRows for p in prog]) if prog else 0.0
    ops = [p.stateOperators[0] for p in prog if p.stateOperators]
    out["state.rows_total"] = max((o.numRowsTotal for o in ops), default=0)
    out["state.memory_bytes"] = max((o.memoryUsedBytes for o in ops), default=0)
    return out


def trigger_total_s(queries) -> float:
    """Summed triggerExecution time of every micro-batch of the queries."""
    return sum(
        p.durationMs.get("triggerExecution", 0) for q in queries for p in (q.recentProgress or [])
    ) / 1e3
