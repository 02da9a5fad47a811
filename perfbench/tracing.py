"""Tracing for the benchmark's traced run.

Spans are kept in memory, one per call into a layer, and reduced at the
end to self time per layer. Spark's own numbers come from the event log
of the traced session: each job is charged to the innermost span open
when it was submitted (the client is single-threaded and closed-loop, so
spans never overlap except by nesting).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (name, start, end, parent, op). `op` is the id of the
    unit of work the span belongs to, set by the loop. Disabled, `span` is a
    bare yield, so the untraced run pays nothing but the call."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {"name": name, "parent": parent, "op": self.op, "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def patch(self, module, layer: str, names: list[str]) -> None:
        """Replace module-level functions by span-wrapped ones; `unpatch`
        restores them. Used to see inside a public call whose internals
        call other layers through module globals."""
        for n in names:
            fn = getattr(module, n)

            def wrapped(*a, _fn=fn, **k):
                with self.span(layer):
                    return _fn(*a, **k)

            self._patched.append((module, n, fn))
            setattr(module, n, wrapped)

    def unpatch(self) -> None:
        for module, n, fn in reversed(self._patched):
            setattr(module, n, fn)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def owner(self, t_ms: float) -> dict | None:
        """The innermost span open at epoch-millisecond t_ms."""
        t = t_ms / 1000.0
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase milliseconds of a DataFrame's QueryExecution (after an
    action ran on it). The tracker's phases() is a Scala map; py4j cannot
    call .get(k) on it, so walk its iterator."""
    it = df._jdf.queryExecution().tracker().phases().iterator()  # noqa: SLF001
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def read_event_log(evdir: str) -> dict:
    """Jobs, stages and task metrics from an uncompressed Spark event log."""
    files = []
    for name in os.listdir(evdir):
        p = os.path.join(evdir, name)
        if os.path.isdir(p):
            files += sorted(os.path.join(p, f) for f in os.listdir(p) if f.startswith("events_"))
        elif not name.startswith("."):
            files.append(p)
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for p in files:
        with open(p) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"],
                        "stages": [si["Stage ID"] for si in e["Stage Infos"]],
                    }
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(e["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def spark_by_layer(tracer: Tracer, log: dict) -> dict[str, dict]:
    """Per span name: jobs, stages that ran, tasks, shuffle bytes written,
    executor run and GC seconds, and the worst stage task skew
    (max / median task run time)."""
    out: dict[str, dict] = {}
    zero = lambda: {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,  # noqa: E731
                    "executor_run_s": 0.0, "gc_s": 0.0, "task_skew": 1.0}
    for jid, j in log["jobs"].items():
        s = tracer.owner(j["submit"])
        if s is None:
            continue
        acc = out.setdefault(s["name"], zero())
        acc["jobs"] += 1
        for sid in j["stages"]:
            ts = log["tasks"].get(sid)
            if not ts:  # skipped: its shuffle output was reused
                continue
            acc["stages"] += 1
            acc["tasks"] += len(ts)
            acc["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in ts)
            acc["executor_run_s"] += sum(t["run_ms"] for t in ts) / 1000.0
            acc["gc_s"] += sum(t["gc_ms"] for t in ts) / 1000.0
            if len(ts) >= 2:
                runs = [t["run_ms"] for t in ts]
                skew = max(runs) / max(statistics.median(runs), 1.0)
                acc["task_skew"] = max(acc["task_skew"], skew)
    return out
