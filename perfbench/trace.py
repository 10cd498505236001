"""Span recorder, Spark job-group counters and a /proc memory sampler.

Spans are recorded from the benchmark's own code, around its calls into
each layer's public functions. With tracing off a span is only a pair of
clock reads (the benchmark needs the duration either way). With tracing
on, each span also runs its Spark jobs under a job group of its own, so
`SparkContext.statusTracker()` can attribute jobs, tasks and failed
tasks to it once the run is over; the spans stay in memory until then.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

ROOT_GROUP = "perfbench-root"


class Recorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self._stack: list[dict] = []
        self._request = 0
        # time spent in the recorder's own bookkeeping while the program
        # runs: the tracing overhead
        self.overhead_s = 0.0

    def attach(self, sc) -> None:
        """Start assigning job groups once a SparkContext exists."""
        self.sc = sc
        if self.enabled:
            sc.setJobGroup(ROOT_GROUP, "outside any span")

    def new_request(self) -> int:
        self._request += 1
        return self._request

    @contextmanager
    def span(self, name: str, request: int = 0):
        """Time one call into a layer. Yields a dict whose "dur" is set on
        exit; the layer is the name's first dotted part."""
        t_in = time.perf_counter()
        rec = {"name": name, "layer": name.split(".", 1)[0], "request": request, "dur": None}
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t_in
            return
        parent = self._stack[-1] if self._stack else None
        rec.update(id=len(self.spans), parent=parent["id"] if parent else None,
                   child_s=0.0, group=f"perfbench-{len(self.spans)}")
        if request == 0 and parent is not None:
            rec["request"] = parent["request"]
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        rec["start"] = t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = t1
            rec["dur"] = t1 - t0
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["dur"]
            if self.sc is not None:
                self.sc.setJobGroup(parent["group"] if parent else ROOT_GROUP, "")
            self.overhead_s += time.perf_counter() - t1

    def resolve_counters(self) -> None:
        """Fill jobs / tasks / failed_tasks for every span from the status
        tracker. Runs after the workload, so its cost is not overhead."""
        if not self.enabled or self.sc is None:
            return
        try:  # let the listener bus deliver the last job-end events
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older/other JVM APIs: fall back to a grace period
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tasks = failed = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
                        failed += stage.numFailedTasks
            rec.update(jobs=jobs, tasks=tasks, failed_tasks=failed)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: self time (span minus its children) and counters."""
        out: dict[str, dict[str, float]] = {}
        for rec in self.spans:
            agg = out.setdefault(rec["layer"], {"self_s": 0.0, "jobs": 0, "tasks": 0,
                                                "failed_tasks": 0})
            agg["self_s"] += rec["dur"] - rec["child_s"]
            for key in ("jobs", "tasks", "failed_tasks"):
                agg[key] += rec.get(key, 0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "layer", "request", "parent", "start", "end", "dur",
                "jobs", "tasks", "failed_tasks")
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({k: rec.get(k) for k in keys}) + "\n")


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(pid: int) -> list[int]:
    """pid and every process below it (JVM, Python daemon, its workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def rss_by_process(pids: list[int]) -> dict[int, int]:
    """Resident bytes per live pid."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


class PeakRss:
    """Samples the summed resident set of this process tree every
    `interval` seconds on a daemon thread; `peak_mb` is the maximum and
    `at_peak` the per-process figures (MB) of that sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = rss_by_process(descendants(me))
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted((round(v / 2**20) for v in rss.values()), reverse=True)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling; `peak_mb` keeps the peak seen so far."""
        self._stop.set()
        self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    return (v[(n - 1) // 2] + v[n // 2]) / 2


def tail(values: list[float], beyond: int = 10) -> dict | None:
    """Highest percentile with at least `beyond` samples above it, with its
    sample count; None when there are too few samples for one."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based rank; `beyond` samples lie above it
    return {"value": sorted(values)[rank - 1], "percentile": round(100.0 * rank / n, 1), "n": n}
