"""Measurement probes: process-tree memory and CPU from /proc, Spark's status
store per stage, and an in-memory span recorder.

Nothing here starts a process. The memory sampler runs one thread that
the caller stops with ``stop()``, which joins it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the parenthesised command name; index i is
            # field i+3 of proc(5)
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids() -> list[int]:
    """This process and every live descendant: the benchmark's Python
    driver, the driver JVM, PySpark's worker daemon and its workers."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_mb() -> tuple[float, dict]:
    """Resident memory of the tree as summed PSS, and its split by
    command name. PSS splits pages shared between processes among them:
    plain RSS would count the JVM twice whenever it forks a helper, and
    every worker's pages shared with PySpark's daemon once per worker."""
    by_comm: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        by_comm[comm] = by_comm.get(comm, 0.0) + int(line.split()[1]) / 1024
                        break
        except OSError:
            pass  # the process exited
    return sum(by_comm.values()), by_comm


def tree_cpu_s() -> float:
    """User+system CPU of the whole tree, reaped children included —
    Python-worker time is invisible to Spark's executorCpuTime."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


class MemorySampler:
    """Peak resident memory (PSS) of the process tree, sampled every
    ``period_s``."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, split = tree_pss_mb()
        if total > self.peak_mb:
            self.peak_mb, self.peak_split = total, split

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_mb


def cpu_probe_ops_per_s(seconds: float = 0.25) -> float:
    """Busy-loop rate of this interpreter: a covariate for how much CPU
    the host delivered. Recorded only; it never gates a run."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        sum(i * i for i in range(2000))
        n += 1
    return n / (time.perf_counter() - t0)


class StageLedger:
    """Reads Spark's status store (live with the UI disabled) and
    returns the stages and jobs finished since the previous ``take``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.take()

    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def take(self) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        jvm = self._sc._jvm
        store = self._store()
        empty = jvm.java.util.ArrayList()
        stages = store.stageList(
            empty, False, False, self._sc._gateway.new_array(jvm.double, 0), empty
        )
        new = []
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages or s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(key)
            new.append(self._stage_dict(store, s))
        jobs = store.jobsList(empty)
        n_jobs = 0
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid not in self._seen_jobs:
                self._seen_jobs.add(jid)
                n_jobs += 1
        return {"stages": new, "jobs": n_jobs}

    def _stage_dict(self, store, s) -> dict:
        skew = 1.0
        quant = self._sc._gateway.new_array(self._sc._jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        summ = store.taskSummary(s.stageId(), s.attemptId(), quant)
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            skew = mx / med if med > 0 else 1.0
        return {
            "tasks": s.numCompleteTasks(),
            "tasks_failed": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "jvm_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
            "task_skew": skew,
        }


def sum_stages(stages: list[dict], key: str) -> float:
    return float(sum(s[key] for s in stages))


def busiest_skew(stages: list[dict]) -> float:
    """Task-time skew (max / median) of the stage with the most run time."""
    if not stages:
        return 1.0
    return max(stages, key=lambda s: s["run_s"])["task_skew"]


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and
    written out once, by ``dump``. Each span also records the process
    tree's CPU seconds and the Spark stages that finished inside it,
    its children's stages included."""

    def __init__(self, run_id: str, ledger: StageLedger):
        self.run_id = run_id
        self.ledger = ledger
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "stages": [], "jobs": 0,
        }
        # stages that finished before this span belong to its parent
        before = self.ledger.take()
        if rec["parent"] is not None:
            self.spans[rec["parent"]]["stages"] += before["stages"]
            self.spans[rec["parent"]]["jobs"] += before["jobs"]
        self.spans.append(rec)
        self._stack.append(rec["id"])
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s() - cpu0
            done = self.ledger.take()
            rec["stages"] += done["stages"]
            rec["jobs"] += done["jobs"]
            self._stack.pop()
            if rec["parent"] is not None:
                parent = self.spans[rec["parent"]]
                parent["stages"] += rec["stages"]
                parent["jobs"] += rec["jobs"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def quantile(values: list[float], q: float) -> float:
    """Inclusive quantile; a single value is its own quantile."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[int(round(q * 100)) - 1])
