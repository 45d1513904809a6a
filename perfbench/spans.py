"""Per-layer spans around calls into the engine's modules.

A span covers one call. Jobs belong to the span whose calls allocated their
ids: the benchmark runs one layer call at a time on its main thread, so the
job ids allocated between a span's start and end are that call's, including
jobs submitted from the call's own driver threads (which a job group would
miss).

Work inside a registration stage (its kNN joins and DSM grids) is lazy and
partly runs on driver threads, so it counts to the stage whose action runs
it; spans inside the engine would be needed to split it further.

Job and stage figures come from the Spark status store, which is kept with
the UI off. CPU comes from /proc, because ``executorCpuTime`` counts only
JVM threads and misses the Python workers.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

COUNTERS = ("wall_s", "jobs", "task_s", "jvm_cpu_s", "py_cpu_s", "shuffle_bytes", "driver_s")
_TICK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """CPU and memory of a process and all its descendants, from /proc."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _stats(self) -> dict[int, tuple[int, str, list[str]]]:
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    s = fh.read()
            except OSError:
                continue
            comm = s[s.index("(") + 1 : s.rindex(")")]
            rest = s[s.rindex(")") + 2 :].split()
            out[int(name)] = (int(rest[1]), comm, rest)
        return out

    def pids(self, stats=None) -> list[int]:
        stats = stats or self._stats()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _c, _r) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        todo, seen = [self.root], []
        while todo:
            p = todo.pop()
            seen.append(p)
            todo.extend(kids.get(p, ()))
        return seen

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into the JVM and the Python processes
        (driver and workers). Exited children count through their parent's
        cutime/cstime."""
        stats = self._stats()
        acc = {"jvm": 0.0, "py": 0.0}
        for pid in self.pids(stats):
            if pid not in stats:
                continue
            _pp, comm, r = stats[pid]
            ticks = int(r[11]) + int(r[12]) + int(r[13]) + int(r[14])
            acc["jvm" if comm == "java" else "py"] += ticks / _TICK
        return acc

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak resident set."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total / 1024.0


@dataclass
class Span:
    layer: str
    t0: float
    j0: int
    cpu0: dict
    t1: float = 0.0
    j1: int = 0
    cpu1: dict | None = None


class Tracer:
    """Collects the spans of one pass; :meth:`layer_totals` sums them per layer."""

    def __init__(self, spark, tree: ProcTree):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._tree = tree
        self._open = False
        self._seen_stages: set[int] = set()
        self.spans: list[Span] = []

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, layer: str):
        if self._open or threading.current_thread() is not threading.main_thread():
            yield
            return
        s = Span(layer, time.time(), self.next_job(), self._tree.cpu())
        self._open = True
        try:
            yield
        finally:
            self._open = False
            s.t1, s.j1, s.cpu1 = time.time(), self.next_job(), self._tree.cpu()
            self.spans.append(s)

    def _job(self, jid: int, timeout: float = 10.0):
        """Job record from the status store, once the listener has seen it end."""
        deadline = time.time() + timeout
        while True:
            try:
                j = self._store.job(jid)
                if j.completionTime().isDefined():
                    return j
            except Exception:  # noqa: BLE001 - py4j error: not in the store yet
                j = None
            if time.time() > deadline:
                return j
            time.sleep(0.02)

    def _figures(self, s: Span) -> dict[str, float]:
        out = {k: 0.0 for k in COUNTERS}
        out.update(
            wall_s=s.t1 - s.t0,
            jobs=float(s.j1 - s.j0),
            py_cpu_s=s.cpu1["py"] - s.cpu0["py"],
        )
        ivs = []
        for jid in range(s.j0, s.j1):
            j = self._job(jid)
            if j is None:
                continue
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                a = j.submissionTime().get().getTime() / 1e3
                b = j.completionTime().get().getTime() / 1e3
                ivs.append((max(a, s.t0), min(b, s.t1)))
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                # a stage shared by several jobs runs once: count it once
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - py4j error: never attempted
                    continue
                out["task_s"] += st.executorRunTime() / 1e3
                out["jvm_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += float(st.shuffleWriteBytes())
        covered, end = 0.0, float("-inf")
        for a, b in sorted(ivs):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out["driver_s"] = max(out["wall_s"] - covered, 0.0)
        return out

    def layer_totals(self) -> tuple[dict[str, dict[str, float]], list[tuple[str, int]]]:
        """Counters summed per layer over the pass's spans, and the
        (layer, jobs) of each call."""
        tot: dict[str, dict[str, float]] = {}
        calls = []
        for s in self.spans:
            f = self._figures(s)
            acc = tot.setdefault(s.layer, {k: 0.0 for k in COUNTERS})
            for k in COUNTERS:
                acc[k] += f[k]
            calls.append((s.layer, int(f["jobs"])))
        return tot, calls
