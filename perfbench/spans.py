"""Spans recorded by the benchmark around each layer call, and the Spark
event log aggregated per job label.

A span is (name, start, end, parent, run id). Spans stay in memory and are
written once when the run ends. A span's self time is its duration minus
the time its child spans cover. Spans that carry a `label` also set Spark's
job description for the jobs launched inside them, so the event log can be
cut along the same boundaries.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

PY_ACCUMS = {
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent_mb", 1e-6),
    "data returned from Python workers": ("py_returned_mb", 1e-6),
}
SPARK_FIELDS = ("task_s", "cpu_s", "gc_s", "util", "straggler_ratio",
                *(v[0] for v in PY_ACCUMS.values()),
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "jobs", "stages", "tasks")


class Tracer:
    def __init__(self, spark_context=None):
        """With a SparkContext, labelled spans set the job description of
        the jobs they launch; without one, labels are not sent to Spark."""
        self.sc = spark_context
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, label: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if label is None and parent is not None:
            label = self.spans[parent]["label"]
        rec = {"name": name, "label": label, "parent": parent,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_label(label)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_label(self.spans[parent]["label"]
                            if parent is not None else None)

    @property
    def labelled(self) -> bool:
        """True when this tracer labels Spark jobs (a traced operation)."""
        return self.sc is not None

    def _set_label(self, label: str | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(label)

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        covered = sum(c["end"] - c["start"] for c in self.children(idx))
        return (s["end"] - s["start"]) - covered

    def label_wall(self, label: str) -> float:
        """Wall time covered by the outermost spans carrying `label`."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["label"] == label and s["end"] is not None and
                   (s["parent"] is None or self.spans[s["parent"]]["label"] != label))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, "
                           f"found {len(files)}")
    return files[0]


def spark_by_label(path: str, labels: list[str], walls: dict[str, float],
                   ops: dict[str, int], cores: int) -> dict[str, float]:
    """Per-label totals from an uncompressed Spark event log, divided by
    the number of operations of that label (`ops`): task, CPU and GC
    seconds, Python-worker time and bytes, shuffle and spill, job, stage
    and task counts; plus utilisation (task seconds over cores x the
    labelled wall) and the straggler ratio (summed per-stage max task time
    over summed per-stage median task time)."""
    job_label: dict[int, str] = {}
    stage_label: dict[int, str] = {}
    tot = {lb: defaultdict(float) for lb in labels}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                lb = (ev.get("Properties") or {}).get("spark.job.description")
                if lb in tot:
                    job_label[ev["Job ID"]] = lb
                    tot[lb]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_label.setdefault(st, lb)
            elif '"SparkListenerStageCompleted"' in line:
                ev = json.loads(line)
                lb = stage_label.get(ev["Stage Info"]["Stage ID"])
                if lb is not None:
                    tot[lb]["stages"] += 1
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                lb = stage_label.get(ev.get("Stage ID"))
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                if lb is None or not info or info.get("Failed"):
                    continue
                t = tot[lb]
                dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                stage_tasks[ev["Stage ID"]].append(dur)
                t["tasks"] += 1
                t["task_s"] += dur
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                rd = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_mb"] += (rd.get("Local Bytes Read", 0)
                                         + rd.get("Remote Bytes Read", 0)) / 1e6
                for acc in info.get("Accumulables", []):
                    key = PY_ACCUMS.get(acc.get("Name"))
                    if key and acc.get("Update") is not None:
                        t[key[0]] += float(acc["Update"]) * key[1]
    out: dict[str, float] = {}
    for lb in labels:
        t, n = tot[lb], max(ops.get(lb, 0), 1)
        stages = [d for st, d in stage_tasks.items() if stage_label[st] == lb]
        med = sum(statistics.median(d) for d in stages)
        t["straggler_ratio"] = sum(max(d) for d in stages) / med if med else 0.0
        wall = walls.get(lb, 0.0)
        t["util"] = t["task_s"] / (cores * wall) if wall else 0.0
        for k in SPARK_FIELDS:
            per_op = k not in ("util", "straggler_ratio")
            out[f"spark.{lb}.{k}"] = t[k] / n if per_op else t[k]
    return out
