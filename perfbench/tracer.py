"""Spans around the benchmark's calls into the engine, and the Spark
counters behind each call.

A span is recorded at every public call the benchmark makes: name,
start, end, parent and pass id, kept in memory and written out when the
run ends. With tracing on, each leaf span also

- tags its Spark jobs with ``sc.setJobGroup`` (group = span id);
- reads the group's job ids back from ``StatusTracker``;

and, after the session stops, :func:`read_event_log` turns the run's
event log into per-span jobs, executed stages, shuffle bytes, spill, GC
and executor CPU (the TaskEnd parse of ``tools/bench_scaling.py``,
keyed by job group instead of summed over the whole application).

Jobs that a call submits from a thread of its own (the durable
checkpoint's async writer) carry no job group; they are attributed to
the leaf span whose time window holds their submission, which is exact
here because the benchmark runs one call at a time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "gc_s", "executor_cpu_s",
)


class Tracer:
    """Records spans; tags Spark jobs only when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = None
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, pass_id: int | None = None, tag: bool = True):
        """Time one call. ``tag``: this is a leaf call whose Spark jobs
        should carry the span's job group (tracing on only)."""
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "pass": pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "wall_s": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"span-{sid}"
        tagging = self.enabled and tag and self._sc is not None
        if tagging:
            self._sc.setJobGroup(group, name, interruptOnCancel=False)
            rec["group"] = group
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if tagging:
                rec["tracker_jobs"] = len(
                    self._sc.statusTracker().getJobIdsForGroup(group)
                )
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def leaves(self) -> list[dict]:
        """Finished tagged spans."""
        return [s for s in self.spans if "group" in s and s["end"] is not None]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1, sort_keys=True)
            f.write("\n")


def _event_log_files(log_dir: str) -> list[str]:
    # plain files are single-file logs; Spark's rolling layout keeps
    # events_* files under eventlog_v2_<app>/
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return sorted(files + glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))


def read_event_log(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """span id -> counters (see COUNTERS) for every tagged span."""
    by_group = {s["group"]: s["id"] for s in spans if "group" in s}
    windows = sorted(
        (s["start"] * 1e3, s["end"] * 1e3, s["id"]) for s in spans if "group" in s
    )
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    task_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    executed: set[int] = set()

    def span_of(props: dict, submitted_ms: float) -> int | None:
        group = props.get("spark.jobGroup.id")
        if group in by_group:
            return by_group[group]
        for lo, hi, sid in windows:
            if lo <= submitted_ms <= hi:
                return sid
        return None

    for path in _event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties") or {}, ev.get("Submission Time", 0))
                    if sid is None:
                        continue
                    job_span[ev["Job ID"]] = sid
                    for st in ev.get("Stage IDs", []):
                        stage_span.setdefault(st, sid)
                elif kind == "SparkListenerStageCompleted":
                    executed.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sums = task_sums[ev["Stage ID"]]
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    sums["shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ) / 1e6
                    sums["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 1e6
                    sums["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    sums["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sums["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9

    out: dict[int, dict] = {
        s["id"]: {k: 0.0 for k in COUNTERS} for s in spans if "group" in s
    }
    for sid in job_span.values():
        out[sid]["jobs"] += 1
    for stage, sid in stage_span.items():
        if stage in executed:
            out[sid]["stages"] += 1
        for k, v in task_sums.get(stage, {}).items():
            out[sid][k] += v
    return out
