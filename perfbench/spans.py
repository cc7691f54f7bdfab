"""Spans and counters read from outside the program.

A span records name, start, end, parent and run id; spans stay in memory
and are written as JSON when the run ends. Each span runs its Spark jobs
under its own job group, and its stage counters are read back from the
status store once it ends. Streaming counters come from a
``StreamingQueryListener``, which sees every micro-batch (``recentProgress``
keeps only the last 100).

``NullTracer`` has the same interface and records nothing, so the measured
code paths are identical with tracing on and off.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

STAGE_KEYS = (
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


def stage_counters(spark, group: str) -> dict:
    """Totals over the completed stages of every job in ``group``.

    ``peak_exec_mem_bytes`` is the largest stage value; Spark reports a
    stage's peak execution memory as the sum of its tasks' peaks.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(STAGE_KEYS, 0)
    out["jobs"] = 0
    out["stages"] = 0
    tracker = sc.statusTracker()
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.length()):
            sd = attempts.apply(i)
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(
                out["peak_exec_mem_bytes"], sd.peakExecutionMemory()
            )
    return out


class _ProgressLog(StreamingQueryListener):
    def __init__(self):
        self.progress = defaultdict(list)
        self.terminated = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress[str(event.progress.runId)].append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, minus: str | None = None):
        yield

    def stream_progress(self, query) -> list:
        return list(query.recentProgress)

    def close(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.bookkeeping_s = 0.0
        self._log = _ProgressLog()
        spark.streams.addListener(self._log)

    @contextmanager
    def span(self, name: str, minus: str | None = None):
        """``minus`` names an earlier sibling span that measured a prefix of
        this span's work on its own (for example the parse alone before
        parse plus dedup); its time and counters are subtracted."""
        sc = self.spark.sparkContext
        rec = {
            "id": self._next_id,
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "minus": minus,
            "start": time.perf_counter() - self.t0,
        }
        self._next_id += 1
        group = f"{self.run_id}:{rec['id']}"
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                sc.setJobGroup(f"{self.run_id}:{outer['id']}", outer["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            t0 = time.perf_counter()
            rec["stages"] = stage_counters(self.spark, group)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t0

    def stream_progress(self, query, timeout_s: float = 30.0) -> list:
        """Every progress event of a finished query, from the listener."""
        run = str(query.runId)
        deadline = time.monotonic() + timeout_s
        while run not in self._log.terminated and time.monotonic() < deadline:
            time.sleep(0.05)
        return self._log.progress.pop(run, [])

    def close(self) -> None:
        self.spark.streams.removeListener(self._log)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children cover, minus the
    duration of the sibling named by ``minus``."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += dur[s["id"]]
    out = {}
    for s in spans:
        t = dur[s["id"]] - child[s["id"]]
        if s["minus"]:
            t -= dur[_sibling(spans, s)["id"]]
        out[s["id"]] = t
    return out


def self_counters(spans: list[dict]) -> dict[int, dict]:
    """Stage counters with the ``minus`` sibling's additive counters taken off."""
    out = {}
    for s in spans:
        c = dict(s["stages"])
        if s["minus"]:
            base = _sibling(spans, s)["stages"]
            for k in STAGE_KEYS:
                if k != "peak_exec_mem_bytes":
                    c[k] -= base[k]
        out[s["id"]] = c
    return out


def _sibling(spans, s):
    """The latest span before ``s`` with the same parent and name ``minus``."""
    for o in reversed(spans[: spans.index(s)]):
        if o["parent"] == s["parent"] and o["name"] == s["minus"]:
            return o
    raise KeyError(f"span {s['name']!r} has no earlier sibling {s['minus']!r}")
