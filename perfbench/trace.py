"""Spans recorded from the benchmark's own files around calls into each
layer, and the fold of Spark's event log into per-span counters.

A span has a name, start, end, parent span and trace id (the epoch or the
query pass). While a span is open, the Spark job group of the calling
thread is the span's name, so the event log attributes every job, and the
CPU and shuffle bytes of its tasks, to the innermost open span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: str):
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "name": name, "trace": trace, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setJobGroup(name, f"{name} {trace}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                outer = self.spans[self._open[-1]]
                self.sc.setJobGroup(outer["name"], f"{outer['name']} {outer['trace']}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its children."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        self_s = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": self_s[s["id"]]}) + "\n")


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Executor CPU seconds, shuffle bytes written and task count per span
    instance (job description "<span> <trace>"), from every uncompressed
    event log file under ``log_dir``."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"cpu_s": 0.0, "shuffle_bytes": 0.0, "tasks": 0})
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = (props.get("spark.job.description")
                             or props.get("spark.jobGroup.id") or "(none)")
                    for sid in ev.get("Stage IDs", []):
                        group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = out[group_of_stage.get(ev.get("Stage ID"), "(none)")]
                    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["tasks"] += 1
    return dict(out)
