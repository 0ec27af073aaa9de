"""Per-span totals from a Spark event log.

Reads the JSON-lines event log (a single file, or the ``eventlog_v2_*``
directory of rolled ``events_<n>_*`` files) and assigns every job to the
innermost span open at its submission time and every task to the innermost
span open at its launch time. Wall-clock attribution rather than job tags,
because jobs submitted from plain Python threads (harmonize's invariant
suite) do not inherit the submitting thread's local properties.

Run as a script to print the per-span table of a traced run:
``python3 perfbench/eventlog.py <eventlog> <spans.jsonl>``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

FIELDS = ("jobs", "task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes", "gc_s", "python_udf_s")
_PY_UDF = "time to run Python workers"  # SQL metric, milliseconds


def log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "**", "events_*"), recursive=True)
    return sorted(files, key=lambda f: int(re.search(r"events_(\d+)_",
                                                     os.path.basename(f))[1]))


def read_events(path: str):
    for name in log_files(path):
        with open(name) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None
                                            or s["start"] >= best["start"]):
            best = s
    return best


def per_span(events, spans: list[dict]) -> dict[int, dict]:
    """{span id: {field: total}} for every span that owns work."""
    out: dict[int, dict] = {}

    def acc(t_ms: float) -> dict | None:
        s = _innermost(spans, t_ms / 1000.0)
        if s is None:
            return None
        return out.setdefault(s["id"], dict.fromkeys(FIELDS, 0))

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            a = acc(e["Submission Time"])
            if a is not None:
                a["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            a = acc(e["Task Info"]["Launch Time"])
            m = e.get("Task Metrics")
            if a is None or not m:
                continue
            a["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            a["gc_s"] += m["JVM GC Time"] / 1e3
            a["spill_bytes"] += m["Disk Bytes Spilled"]
            rd = m["Shuffle Read Metrics"]
            a["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            wr = m["Shuffle Write Metrics"]
            a["shuffle_write_bytes"] += wr["Shuffle Bytes Written"]
            for acc_upd in e["Task Info"].get("Accumulables", []):
                if acc_upd.get("Name") == _PY_UDF:
                    a["python_udf_s"] += int(acc_upd["Update"]) / 1e3
    return out


def rollup(spans: list[dict], totals: dict[int, dict], key) -> dict[str, dict]:
    """Sum span totals into groups named by ``key(span)`` (None: skip)."""
    out: dict[str, dict] = {}
    for s in spans:
        k = key(s)
        if k is None or s["id"] not in totals:
            continue
        g = out.setdefault(k, dict.fromkeys(FIELDS, 0))
        for f in FIELDS:
            g[f] += totals[s["id"]][f]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    totals = per_span(read_events(argv[0]), spans)
    print(f"{'span':40s} " + " ".join(f"{c:>19s}" for c in FIELDS))
    for s in spans:
        t = totals.get(s["id"])
        if t:
            depth = 0
            p = s["parent"]
            while p is not None:
                depth, p = depth + 1, spans[p]["parent"]
            label = ("  " * depth + s["name"])[:40]
            print(f"{label:40s} " + " ".join(f"{t[c]:19.3f}" for c in FIELDS))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
