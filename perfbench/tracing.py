"""Tracing and resource sampling for the benchmark.

``Tracer`` records spans (name, start, end, parent, op id) in memory. When
it is given a session, every span also tags the Spark jobs it submits with
its own job group and, at span end, reads Spark's status store for those
jobs (jobs, stages, tasks, executor run time, GC, shuffle and spill bytes).
A disabled tracer is a no-op context manager, so the untraced run pays
nothing.

``RssSampler`` polls ``/proc`` for the resident memory of this process and
all of its descendants (the JVM and its Python workers) and keeps the peak.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

STAGE_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
              "shuffle_bytes", "spill_bytes", "job_s")


def _zero() -> dict:
    return dict.fromkeys(STAGE_KEYS, 0)


class StatusStore:
    """Per-job-group counters from ``statusStore()`` (the app status store
    the UI is built on; it is populated even with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._empty = jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(jvm.double, 0)

    def set_group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(gid, gid, False)

    def counts(self, gid: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = _zero()
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(gid):
            jd = store.job(jid)
            out["jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((jd.submissionTime().get().getTime(),
                                  jd.completionTime().get().getTime()))
            it = jd.stageIds().iterator()
            while it.hasNext():
                sds = store.stageData(it.next(), False, self._empty, False, self._no_q)
                it2 = sds.iterator()
                while it2.hasNext():
                    sd = it2.next()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["task_s"] += sd.executorRunTime() / 1e3
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        # job_s: time with at least one job running (AQE submits some jobs
        # concurrently, so their durations may overlap)
        covered = None
        for a, b in sorted(intervals):
            if covered is not None:
                a = max(a, covered)
            out["job_s"] += max(0, b - a) / 1e3
            covered = b if covered is None else max(covered, b)
        return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.store: StatusStore | None = None
        self.t0 = time.perf_counter()

    def attach(self, spark) -> None:
        if self.enabled:
            self.store = StatusStore(spark)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self.t0,
        }
        gid = f"perfbench-span-{sp['id']}"
        if self.store:
            self.store.set_group(gid)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self.store:
                self.store.set_group(
                    f"perfbench-span-{self._stack[-1]['id']}" if self._stack else None
                )
                sp["spark"] = self.store.counts(gid)
            self.spans.append(sp)

    # ------------------------------------------------------------------
    def finish(self) -> None:
        """Self time (span minus its direct children) and subtree Spark
        counters, filled in for every span."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)

        def total(s):
            if "spark_total" in s:
                return s["spark_total"]
            t = dict(s.get("spark") or _zero())
            for c in kids.get(s["id"], []):
                for k, v in total(c).items():
                    t[k] += v
            s["spark_total"] = t
            return t

        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["self"] = s["dur"] - sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            total(s)
        self.children = kids

    def check_nesting(self) -> str | None:
        """Children's self times must sum to no more than their parent."""
        for s in self.spans:
            ch = self.children.get(s["id"], [])
            if sum(c["self"] for c in ch) > s["dur"] + 1e-6:
                return f"span {s['name']}#{s['id']}: children self {sum(c['self'] for c in ch):.6f} > {s['dur']:.6f}"
            if any(c["self"] < -1e-6 for c in ch):
                return f"span {s['name']}#{s['id']}: negative self time"
        return None

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def process_tree(pid_root: int) -> set[int]:
    """``pid_root`` and all of its live descendants, from ``/proc``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
            parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    tree, frontier = {pid_root}, [pid_root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            st = fh.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (MB) of this process tree, sampled every
    ``period`` seconds on a daemon thread until ``stop()``."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._t.start()
        return self

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._t.join()
            self.sample()
        return self.peak_kb / 1024.0
