"""In-memory spans, process counters and Spark job counts for the benchmark.

Spans are recorded only from the benchmark's own files, around the calls it
makes into ``visigoth_spark`` and around the public functions it wraps. A
span has a name, a start, an end, a parent and an operation id; self time is
the span's duration minus the time its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds incl. reaped children) from /proc."""
    clk = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, float]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        procs[int(ent)] = (int(fields[1]),
                           sum(int(x) for x in fields[11:15]) / clk)
    return procs


def _descendants(procs: dict[int, tuple[int, float]]) -> list[int]:
    me = os.getpid()
    out = []
    for pid in procs:
        p = procs[pid][0]
        while p > 1:
            if p == me:
                out.append(pid)
                break
            p = procs.get(p, (0, 0.0))[0]
    return out


def tree_cpu_seconds() -> float:
    """CPU seconds (user + sys) of this process and every live descendant
    (the Spark JVM and its Python workers), plus what reaped children
    already used. Read from /proc, so hypervisor steal does not count."""
    procs = _proc_table()
    return sum(procs[p][1] for p in [os.getpid(), *_descendants(procs)])


def live_descendants() -> list[int]:
    return _descendants(_proc_table())


def driver_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


class SparkJobs:
    """Counts Spark jobs and tasks per benchmark operation through job
    groups and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        counts = {"jobs": 0, "tasks": 0}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                counts["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        counts["tasks"] += stage.numTasks


class Tracer:
    """Spans kept in memory; ``enabled`` is switched per operation so one
    run can time traced and untraced operations side by side."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent]["op"] if parent is not None else name
        rec = {"name": name, "op": op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> list[float]:
        """Self time of every span, indexed like ``spans``."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def nesting_error(self) -> float:
        """Largest share of an operation's root wall by which one of its
        spans breaks nesting: it starts before or ends after its parent, or
        its children cover more than its own duration (negative self time).
        When it is 0, the self times of an operation sum to its root's
        wall."""
        selfs = self.self_times()
        wall = {s["op"]: s["end"] - s["start"]
                for s in self.spans if s["parent"] is None}
        worst = 0.0
        for s, t in zip(self.spans, selfs):
            bad = max(0.0, -t)
            if s["parent"] is not None:
                p = self.spans[s["parent"]]
                bad += (max(0.0, p["start"] - s["start"])
                        + max(0.0, s["end"] - p["end"]))
            if wall[s["op"]] > 0:
                worst = max(worst, bad / wall[s["op"]])
        return worst

    def root_self_share(self) -> float:
        """Share of the operations' wall that no child span covers: the
        time spent outside every instrumented call."""
        roots = [(s["end"] - s["start"], t) for s, t in
                 zip(self.spans, self.self_times()) if s["parent"] is None]
        return sum(t for _, t in roots) / sum(w for w, _ in roots)
