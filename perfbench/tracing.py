"""Spans, process-tree CPU and memory, and the Spark event-log summary.

Spans are recorded by the benchmark around its calls into the engine's
public functions; the engine itself is not instrumented.  Every span
always measures its wall time (two clock reads), so the same code path
produces the end-to-end numbers.  A *traced* span additionally

* tags the Spark jobs it starts with ``setJobGroup(<span id>)``, so the
  uncompressed event log can be split per span afterwards, and
* reads ``/proc`` before and after, splitting CPU three ways: the JVM, the
  Python workers (the ``pyspark.daemon`` tree under the JVM, which Spark's
  task metrics cannot see) and this driver process.

Spans are kept in memory and summarised when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_KB_MIB = 1.0 / 1024  # /proc reports memory in kB


# --------------------------------------------------------------------------
# /proc


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) of ``pid``, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    f = raw[raw.rindex(")") + 2 :].split()
    return int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def _pss_mib(pid: int) -> float:
    """Proportional set size: pages shared between processes (the Python
    workers forked from one daemon) are split among them, not counted
    once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * _KB_MIB
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (one pass over /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class ProcTree:
    """CPU seconds of the driver, the JVM and the Python-worker tree."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        t = os.times()
        jvm = _stat(self.jvm_pid)
        py = 0.0
        for p in descendants(self.jvm_pid):
            st = _stat(p)
            if st is not None:
                # own time plus reaped workers: each CPU second counted once
                py += st[1] + st[2]
        return {
            "driver": t.user + t.system,
            "jvm": jvm[1] if jvm else 0.0,
            "pyworker": py,
        }


class RssSampler:
    """Σ PSS over the driver and all its descendants (the JVM and, under
    it, the Python workers), sampled every ``interval`` s by a child
    process - sampling from a thread of the driver would take the driver's
    GIL for ~20 ms a tick and slow every timed driver call.  Keeps the
    largest sum seen at one sample."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mib = 0.0
        self._proc: subprocess.Popen | None = None

    def start(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--rss-sampler",
             str(os.getpid()), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def driver_rss_mib(self) -> float:
        with open("/proc/self/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20

    def stop(self) -> float:
        """End the sampler (it exits on stdin EOF), wait for it and keep
        its peak."""
        if self._proc is not None:
            try:
                out, _ = self._proc.communicate(timeout=30)
                self.peak_mib = float(out.strip() or 0.0)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()
            self._proc = None
        return self.peak_mib


def _sample_main(root: int, interval: float) -> None:
    """The sampler process: sample until stdin closes, then print the peak."""
    me = os.getpid()
    done = threading.Event()
    threading.Thread(
        target=lambda: (sys.stdin.read(), done.set()), daemon=True
    ).start()

    def total() -> float:
        pids = [root] + [p for p in descendants(root) if p != me]
        return sum(_pss_mib(p) for p in pids)

    peak = total()
    while not done.wait(interval):
        peak = max(peak, total())
    print(max(peak, total()), flush=True)


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu0: dict | None = None
    cpu1: dict | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  ``traced=False`` keeps only wall times."""

    def __init__(self) -> None:
        self.traced = False
        self.sc = None
        self.proc: ProcTree | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # driver seconds spent tagging job groups and reading /proc
        self.bookkeeping_s = 0.0

    def attach(self, sc, traced: bool) -> None:
        self.sc = sc
        self.traced = traced

    def group(self, span: Span | None) -> str:
        return f"pb-{span.id}" if span is not None else "pb-root"

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced:
            t = time.perf_counter()
            self.sc.setJobGroup(self.group(sp), f"{layer}.{name}")
            sp.cpu0 = self.proc.cpu()
            self.bookkeeping_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.traced:
                sp.cpu1 = self.proc.cpu()
                self.sc.setJobGroup(self.group(parent), "")
                self.bookkeeping_s += time.perf_counter() - sp.end
            self._stack.pop()

    def mark(self) -> int:
        """Index of the next span; spans from here on form one pass."""
        return len(self.spans)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    out = {s.id: s.wall for s in spans}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            out[s.parent] -= s.wall
    return out


def self_cpu(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per-span CPU split (driver/jvm/pyworker) minus its children's."""
    inc = {
        s.id: {k: s.cpu1[k] - s.cpu0[k] for k in s.cpu0}
        for s in spans
        if s.cpu0 is not None
    }
    out = {i: dict(v) for i, v in inc.items()}
    for s in spans:
        if s.id in inc and s.parent in out:
            for k, v in inc[s.id].items():
                out[s.parent][k] -= v
    return out


# --------------------------------------------------------------------------
# event log


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    # stage id -> task durations (s)
    stage_tasks: dict = field(default_factory=dict)

    def skew(self) -> float:
        """max/median task time over the group's stages with >= 2 tasks."""
        worst = 0.0
        for durs in self.stage_tasks.values():
            if len(durs) >= 2:
                med = statistics.median(durs)
                if med > 0:
                    worst = max(worst, max(durs) / med)
        return worst


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: job/task counts, task time, CPU, shuffle, spill, I/O.

    Reads every uncompressed event-log file under ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "pb-root"
                    groups.setdefault(g, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "pb-root")
                    gs = groups.setdefault(g, GroupStats())
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    gs.tasks += 1
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    gs.task_s += run_s
                    gs.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    gs.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    gs.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    gs.spill_b += m.get("Disk Bytes Spilled", 0)
                    gs.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    gs.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    gs.stage_tasks.setdefault(ev["Stage ID"], []).append(dur)
    return groups


if __name__ == "__main__" and sys.argv[1:2] == ["--rss-sampler"]:
    _sample_main(int(sys.argv[2]), float(sys.argv[3]))
