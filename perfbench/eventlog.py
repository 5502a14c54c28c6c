"""Per-layer metrics from a Spark event log plus benchmark-side layer spans.

The benchmark wraps each call into a layer's public function in a span
``(layer, start, end)`` and sets the Spark job description to
``layer:<name>`` for its duration; ``CheckpointManager.checkpoint`` labels
its own write jobs ``pass:<name>``, which count towards ``checkpoint``.
After the session stops, the event log is parsed and every job, stage and
task is attributed to a layer by that description, and to a traced unit
by its time window.

A layer's ``wall_s`` is its self time: its spans minus the child
``checkpoint`` spans nested inside them. ``driver_s`` is the part of that
self time not covered by any of the layer's jobs.
"""

from __future__ import annotations

import json

LAYERS = (
    "side_tables",
    "cleaning",
    "blocking",
    "scoring",
    "second_pass",
    "clustering",
    "checkpoint",
)

# (field, unit) reported for every layer
LAYER_FIELDS = (
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("task_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("max_task_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("gc_s", "s"),
    ("driver_s", "s"),
    ("rows_out", "count"),
)


def layer_of(description: str | None) -> str | None:
    if not description:
        return None
    if description.startswith("layer:"):
        return description[len("layer:"):]
    if description.startswith("pass:"):
        return "checkpoint"
    return None


def _union(intervals):
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _intersect(xs, ys):
    out = []
    for a, b in _union(xs):
        for c, d in _union(ys):
            lo, hi = max(a, c), min(b, d)
            if lo < hi:
                out.append((lo, hi))
    return out


def _subtract(xs, ys):
    out = []
    for a, b in _union(xs):
        cur = a
        for c, d in _union(ys):
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


class EventLog:
    """Jobs and tasks of one application, with their layer."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        stage_layer: dict[int, str | None] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    self.jobs[e["Job ID"]] = {
                        "layer": layer_of(desc),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif ev == "SparkListenerJobEnd":
                    job = self.jobs.get(e["Job ID"])
                    if job is not None:
                        job["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageSubmitted":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    stage_layer[e["Stage Info"]["Stage ID"]] = layer_of(desc)
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append(
                        {
                            "layer": stage_layer.get(e["Stage ID"]),
                            "finish": info.get("Finish Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "task_s": m.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
                        }
                    )

    def unit_metrics(self, spans, window) -> dict[str, float]:
        """``<layer>.<field>`` for every layer (rows_out excepted) over one
        traced unit: ``spans`` are its (layer, start, end) and ``window``
        its (start, end)."""
        w0, w1 = window
        ckpt = [(a, b) for name, a, b in spans if name == "checkpoint"]
        out: dict[str, float] = {}
        for layer in LAYERS:
            own = [(a, b) for name, a, b in spans if name == layer]
            self_iv = own if layer == "checkpoint" else _subtract(own, ckpt)
            jobs = [
                j
                for j in self.jobs.values()
                if j["layer"] == layer and w0 <= j["start"] <= w1
            ]
            job_iv = [(j["start"], j["end"] or j["start"]) for j in jobs]
            tasks = [
                t for t in self.tasks if t["layer"] == layer and w0 <= t["finish"] <= w1
            ]
            wall = _length(self_iv)
            covered = _length(_intersect(job_iv, self_iv))
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.cpu_s"] = sum(t["cpu_s"] for t in tasks)
            out[f"{layer}.task_s"] = sum(t["task_s"] for t in tasks)
            out[f"{layer}.jobs"] = len(jobs)
            out[f"{layer}.tasks"] = len(tasks)
            out[f"{layer}.max_task_s"] = max((t["task_s"] for t in tasks), default=0.0)
            out[f"{layer}.shuffle_write_mb"] = sum(t["shuffle_write_mb"] for t in tasks)
            out[f"{layer}.gc_s"] = sum(t["gc_s"] for t in tasks)
            out[f"{layer}.driver_s"] = max(wall - covered, 0.0)
            if layer == "checkpoint":
                out["checkpoint.write_s"] = _length(job_iv)
        return out
