"""Spans, self times and Spark event-log folding for the traced run.

Pure Python (no Spark import), so the arithmetic is testable on canned
inputs (``perfbench/tests/test_spans.py``).

A span is one call into a layer: name, start, end, parent and the
trace id shared by every span of one pass. Spans are kept in memory
and folded when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

Every span also names the Spark job group its jobs run under (the span
name), so the event log's task metrics fold onto the same layers.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

MB = 1e6

# per-task metrics summed per job group: (output key, path in "Task
# Metrics", scale); times are ms except CPU time (ns)
_TASK_METRICS = (
    ("task_s", ("Executor Run Time",), 1e-3),
    ("cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Remote Bytes Read"), 1 / MB),
    ("shuffle_read_mb", ("Shuffle Read Metrics", "Local Bytes Read"), 1 / MB),
    ("shuffle_write_mb", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1 / MB),
    ("spill_mb", ("Memory Bytes Spilled",), 1 / MB),
    ("spill_mb", ("Disk Bytes Spilled",), 1 / MB),
)
# the Python-worker SQL metrics of Arrow stages (task accumulables)
_PY_METRICS = {
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent_mb", 1 / MB),
    "data returned from Python workers": ("py_recv_mb", 1 / MB),
}
GROUP_KEYS = ("jobs", "tasks") + tuple(dict.fromkeys(k for k, _, _ in _TASK_METRICS))
PY_KEYS = tuple(k for k, _ in _PY_METRICS.values())


# ------------------------------------------------------------ intervals


def union(intervals) -> list[tuple[float, float]]:
    """Merge (start, end) intervals into disjoint sorted ones."""
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def subtract(a, b) -> list[tuple[float, float]]:
    """The part of interval set ``a`` not covered by ``b``."""
    out = []
    for s, e in union(a):
        cur = s
        for bs, be in union(b):
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
        if cur < e:
            out.append((cur, e))
    return out


# ------------------------------------------------------------ spans


class Tracer:
    """Records nested spans. ``set_group(name)`` is called with the span
    name on entry and with the parent's name (or None) on exit, so every
    Spark job a layer call starts runs under that layer's job group."""

    active = True

    def __init__(self, set_group=lambda name: None, clock=time.time, trace_id: str = "t0"):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.set_group = set_group
        self._clock = clock
        self.trace_id = trace_id

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": self.trace_id,
            "start": self._clock(),
            "end": None,
            "rows_out": 0,
        }
        self._stack.append(rec)
        self.set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()
            self.spans.append(rec)
            self.set_group(parent["name"] if parent else None)

    def materialize(self, df, rec: dict):
        """Persist and count a layer's output inside its span, so later
        layers read it instead of re-running upstream work."""
        df = df.persist()
        rec["rows_out"] += df.count()
        return df


class NullTracer:
    """The untraced run: spans cost nothing and outputs stay lazy."""

    active = False

    @contextmanager
    def span(self, name: str):
        yield {"rows_out": 0}

    def materialize(self, df, rec: dict):
        return df


def self_intervals(spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """span id -> the part of its interval no child span covers."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: subtract([(s["start"], s["end"])], children.get(s["id"], []))
        for s in spans
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    return {i: length(iv) for i, iv in self_intervals(spans).items()}


# ------------------------------------------------------------ event log


def _dig(d: dict, path) -> float:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def fold_event_log(lines) -> tuple[dict, list]:
    """Fold a Spark JSON event log by job group.

    Returns ``(groups, jobs)``: ``groups[g]`` sums the task metrics of
    every stage first submitted by a job of group ``g`` (a stage reused
    by a later job is skipped there and runs no tasks); ``jobs`` is a
    list of ``(group, start_s, end_s)`` job intervals in epoch seconds.
    """
    stage_group: dict[int, str | None] = {}
    job_rows: dict[int, list] = {}
    groups: dict[str | None, dict] = {}

    def acc(g):
        return groups.setdefault(g, dict.fromkeys(GROUP_KEYS + PY_KEYS, 0))

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_rows[ev["Job ID"]] = [g, ev["Submission Time"] / 1e3, None]
            acc(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_rows:
            job_rows[ev["Job ID"]][2] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = acc(stage_group.get(ev.get("Stage ID")))
            m["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for key, path, scale in _TASK_METRICS:
                m[key] += _dig(tm, path) * scale
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                hit = _PY_METRICS.get(a.get("Name"))
                if hit:
                    m[hit[0]] += float(a.get("Update") or 0) * hit[1]
    jobs = [(g, s, e) for g, s, e in job_rows.values() if e is not None]
    return groups, jobs


def layer_metrics(spans: list[dict], groups: dict, jobs: list) -> dict[str, dict]:
    """Per layer (span name): wall/self time, rows out, the folded task
    metrics of its job group, and ``driver_s`` — self time covered by
    none of the layer's own jobs (plan build, py4j, driver loops)."""
    own = self_intervals(spans)
    out: dict[str, dict] = {}
    for s in spans:
        name = s["name"]
        m = out.setdefault(
            name, {"wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0, "rows_out": 0}
        )
        m["wall_s"] += s["end"] - s["start"]
        m["self_s"] += length(own[s["id"]])
        busy = [(js, je) for g, js, je in jobs if g == name]
        m["driver_s"] += length(subtract(own[s["id"]], busy))
        m["rows_out"] += s["rows_out"]
    for name, m in out.items():
        g = groups.get(name) or dict.fromkeys(GROUP_KEYS + PY_KEYS, 0)
        m.update(g)
    return out
