"""Spans, Spark status-store reads and host readings for the benchmark.

Everything here observes the engine from outside: the benchmark wraps
its own calls in spans, reads Spark's in-memory status store after each
action, and reads /proc. No engine module is modified.
"""

from __future__ import annotations

import contextlib
import os
import time
import uuid


class Tracer:
    """In-memory spans (name, start, end, parent) sharing one run id,
    written out once when the run ends. A disabled tracer records
    nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent, **attrs) -> None:
        """A span measured elsewhere (Spark stages), on this clock."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "start": start, "end": end, **attrs}
            )

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Duration of every ``name`` span minus the part of it that its
        direct children cover (children never overlap: one thread)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        return sum(
            (s["end"] - s["start"]) - kids.get(s["id"], 0.0)
            for s in self.spans
            if s["name"] == name
        )

    def dump(self) -> dict:
        return {"run_id": self.run_id, "spans": self.spans}


# ------------------------------------------------------------ spark status


_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("jvm_gc_s", "jvmGcTime", 1e-3),
    ("tasks", "numTasks", 1),
    ("input_records", "inputRecords", 1),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class SparkStatus:
    """Per-action stage metrics from the Spark driver's AppStatusStore
    (reachable with spark.ui.enabled=false). Run each action under its
    own job group, then call :meth:`collect` with that group: it drains
    the listener bus first, so the action's stage-completion events are
    in the store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._gw = self.sc._gateway
        self._empty = self.sc._jvm.java.util.ArrayList()
        self._no_q = self._gw.new_array(self._gw.jvm.double, 0)
        # JVM epoch milliseconds -> this process's perf_counter clock
        self._offset = time.time() - time.perf_counter()

    def collect(self, group: str, tracer: Tracer, parent) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
        longest = (0.0, None)
        jobs = (tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group))
        sids = sorted({s for job in jobs if job for s in job.stageIds})
        for sid in sids:
            attempts = store.stageData(
                sid, False, self._empty, False, self._no_q
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if str(st.status()) != "COMPLETE":
                    continue  # skipped stages: their work ran earlier
                for k, field, mul in _STAGE_FIELDS:
                    out[k] += getattr(st, field)() * mul
                run_s = st.executorRunTime() * 1e-3
                if run_s > longest[0]:
                    longest = (run_s, (sid, st.attemptId()))
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    tracer.add(
                        f"spark.stage.{sid}",
                        sub.get().getTime() / 1000.0 - self._offset,
                        done.get().getTime() / 1000.0 - self._offset,
                        parent,
                        tasks=st.numTasks(),
                    )
        out["task_skew"] = self._skew(store, longest[1])
        return out

    def _skew(self, store, key) -> float:
        """max / median task run time in the given stage (1.0 = even)."""
        if key is None:
            return 0.0
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(key[0], key[1], q)
        if not summ.isDefined():
            return 0.0
        run = summ.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 0.0


# ------------------------------------------------------------------- host


def cpu_times() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v) - v[3] - v[4], v[7]


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of
    ``pid`` and every live descendant: the engine's JVM and Python
    workers as well as this process."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return total / _TICK


class PassMeter:
    """Host readings over one timed pass: the process tree's CPU
    seconds, the hypervisor steal fraction of busy CPU time, and the
    1-minute load average at its end."""

    def __enter__(self):
        self._b0, self._s0 = cpu_times()
        self._c0 = tree_cpu_s(os.getpid())
        return self

    def __exit__(self, *exc):
        self.cpu_s = tree_cpu_s(os.getpid()) - self._c0
        b1, s1 = cpu_times()
        busy = b1 - self._b0
        self.steal_frac = (s1 - self._s0) / busy if busy > 0 else 0.0
        self.load1 = os.getloadavg()[0]
        return False

    def record(self) -> dict:
        return {"cpu_s": self.cpu_s, "steal_frac": round(self.steal_frac, 5),
                "load1": round(self.load1, 3)}


def descendants(pid: int) -> list[int]:
    """Every live process whose ancestry leads to ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def vm_hwm_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of ``pids`` in MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
