"""Spans, and CPU / memory of the benchmark's process tree.

A span is (id, parent, name, start, end) with wall-clock epoch seconds, so
the Spark event log (epoch milliseconds) can be joined onto it. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid


class Tracer:
    """Records nested spans; tags the Spark jobs submitted inside each one
    when ``sc`` is set (job description and job tag carry the span name)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        tag = f"perfbench-{self.run_id}-{rec['id']}"
        if self.sc is not None:
            self.sc.setJobDescription(f"perfbench:{name}")
            self.sc.addJobTag(tag)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(tag)
                outer = self.spans[self._stack[-1]]["name"] if self._stack else None
                self.sc.setJobDescription(f"perfbench:{outer}" if outer else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU of the tree, including reaped children (Python
    workers that the Spark daemon already waited for)."""
    total = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share the hypervisor gave to
    other guests during a run, recorded to explain outlying runs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)
