"""Measurement probes that sit outside the package under test.

* ``ProcTree``: CPU seconds and worker RSS of this process and every
  descendant (the Spark JVM and its Python workers), read from ``/proc``.
  Spark's ``executorCpuTime`` excludes the Python workers, so it cannot
  stand in for this.
* ``RssSampler``: a background thread that records the peak summed RSS of
  the Python worker processes while one timed operation runs.
* ``Tracer``: in-memory spans (name, start, end, parent) written out once
  at the end of a run.
* ``StageRollup``: per-phase stage metrics from Spark's status REST API,
  via ``metrics.StageMetricsCollector`` for totals and
  ``metrics.stage_snapshot`` for the per-stage rows that the job
  description attributes to a workload phase.
* ``calib_probe``: the fixed single-thread numpy workload of ``bench.py``'s
  ``calib_sec``, which makes host drift visible next to the numbers.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was started, from ``/proc``."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / _CLK


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    comm = head.split("(", 1)[1]
    fields = tail.split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 14-17 of
    # the full line, i.e. 11-14 here
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks


class ProcTree:
    """This process and its descendants, classified as driver, JVM or
    Python worker."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def members(self) -> dict[int, tuple[str, int]]:
        """pid -> (kind, cpu ticks) for every live process of the tree."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (_, ppid, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        out = {}
        for pid in tree:
            if pid not in stats:
                continue
            comm, _, ticks = stats[pid]
            kind = "driver" if pid == self.root else ("jvm" if comm == "java" else "worker")
            out[pid] = (kind, ticks)
        return out

    def cpu_s(self) -> dict[str, float]:
        """Cumulative CPU seconds by kind (reaped children count toward the
        process that waited for them, so a delta over an interval loses
        nothing when workers exit)."""
        acc = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        for kind, ticks in self.members().values():
            acc[kind] += ticks / _CLK
        return acc

    def worker_pids(self) -> list[int]:
        return [pid for pid, (kind, _) in self.members().items() if kind == "worker"]

    def descendants(self) -> list[int]:
        return [pid for pid in self.members() if pid != self.root]


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of the Python workers while the ``with`` body runs."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.02) -> None:
        self._tree = tree
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    def _run(self) -> None:
        pids = self._tree.worker_pids()
        n = 0
        while not self._stop.is_set():
            # re-list the tree now and then: workers can be forked mid-op
            if n % 10 == 0:
                pids = self._tree.worker_pids()
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))
            n += 1
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool, t0: float) -> None:
        self.enabled = enabled
        self._t0 = t0
        self._stack: list[int] = []
        self.spans: list[dict] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self._tr = tracer
        self._name = name
        self._attrs = attrs

    def __enter__(self) -> _Span:
        tr = self._tr
        if tr.enabled:
            self._id = len(tr.spans)
            tr.spans.append(
                {
                    "id": self._id,
                    "name": self._name,
                    "parent": tr._stack[-1] if tr._stack else None,
                    "start_s": time.perf_counter() - tr._t0,
                    "end_s": None,
                    **self._attrs,
                }
            )
            tr._stack.append(self._id)
        return self

    def __exit__(self, *exc) -> None:
        tr = self._tr
        if tr.enabled:
            tr.spans[self._id]["end_s"] = time.perf_counter() - tr._t0
            tr._stack.pop()


class StageRollup:
    """Stage metrics of one bracketed phase.  ``begin()`` moves the
    collector's baseline to now; ``end(prefix)`` waits until the status
    store has settled, then returns the collector's totals since
    ``begin()`` and the new stages grouped by job description (the phase
    label ``Ctx.phase`` set), keeping those that start with ``prefix``."""

    def __init__(self, spark) -> None:
        from gorilla_stream_spark.metrics import StageMetricsCollector

        self._spark = spark
        self._sc = spark.sparkContext
        self._collector = StageMetricsCollector(spark)

    def begin(self) -> None:
        self._collector.collect(top=0)

    def end(self, prefix: str) -> dict:
        from gorilla_stream_spark.metrics import stage_snapshot

        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + 10
        # the tracker reads the same status store as the REST API, and a
        # job's end event follows its stages' completion events
        while (tracker.getActiveJobsIds() or tracker.getActiveStageIds()) and (
            time.monotonic() < deadline
        ):
            time.sleep(0.02)
        totals = self._collector.collect(top=0)
        totals.pop("top_stages", None)
        grouped: dict[str, list[dict]] = {}
        for s in stage_snapshot(self._spark):
            desc = s.get("description") or ""
            if desc.startswith(prefix):
                grouped.setdefault(desc, []).append(s)
        return {"totals": totals, "stages": grouped}

    def task_quantiles(self, stage: dict, quantiles=(0.5, 1.0)) -> list[float] | None:
        """Task run-time quantiles (s) of one stage from the REST API, or
        None when the API cannot answer."""
        base = self._sc.uiWebUrl
        app = self._sc.applicationId
        q = ",".join(str(x) for x in quantiles)
        url = (f"{base}/api/v1/applications/{app}/stages/{stage['stageId']}/"
               f"{stage['attemptId']}/taskSummary?quantiles={q}")
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                summary = json.loads(r.read().decode())
            return [v / 1000.0 for v in summary["executorRunTime"]]
        except (OSError, ValueError, KeyError):
            return None


def calib_probe() -> float:
    """``bench.py``'s ``calib_sec``: fixed single-thread numpy work, no
    Spark, no I/O.  Returns seconds."""
    import numpy as np

    t0 = time.perf_counter()
    rng = np.random.default_rng(4242)
    a = rng.integers(0, 1 << 20, size=1 << 23).astype(np.int64)
    for _ in range(3):
        b = np.sort(a)
        _ = np.diff(b).clip(0).cumsum()
        _ = (a * 2654435761 % 4294967291).sum()
    return time.perf_counter() - t0
