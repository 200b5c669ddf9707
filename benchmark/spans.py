"""Spans around the package's public calls, and per-layer counters
from Spark's event log.

A :class:`Tracer` wraps each call in a span (name, layer, start,
end, parent). When tracing is on it also tags every Spark job the
call issues with ``setJobGroup("<workload>.<layer>.<step>")``; after
the session stops, :func:`parse_event_log` reads the uncompressed
event log and ``Workload.layer_metrics`` (``workloads.py``) folds its
task and stage records into per-layer counters. With tracing off the spans still time the
calls (the end-to-end metrics come from them) but no job is tagged
and no log is written.

Lazy frames: ``build_invoices`` and ``read_invoice_csv`` return plans
that run inside the next call. The stages of that call up to the
first one that materializes a cache (:func:`plan_owner`) are charged
to the layer that built the plan; no work is re-run to split it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    workload: str
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, layer: str, step: str):
        """Time one public call; tag its jobs when tracing."""
        name = f"{self.workload}.{layer}.{step}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.time(), parent=parent.name if parent else None)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(parent.name, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f, indent=1)


# --- event log ----------------------------------------------------------------

@dataclass
class Stage:
    sid: int
    group: str | None = None
    submit: float = 0.0
    done: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_w: int = 0
    shuffle_r: int = 0
    spill: int = 0
    peak_mem: int = 0
    in_rows: int = 0
    out_bytes: int = 0
    scans: tuple[str, ...] = ()  # one entry per file-scan operator
    caches: tuple[int, ...] = ()  # persisted RDDs this stage computes


@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float = 0.0
    stages: tuple[int, ...] = ()


def parse_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stage-attempt totals from the one event log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_group: dict[int, str | None] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = Job(ev["Job ID"], group, ev["Submission Time"] / 1e3,
                                         stages=tuple(ev["Stage IDs"]))
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.group = stage_group.get(st.sid)
                st.submit = info.get("Submission Time", 0) / 1e3
                st.done = info.get("Completion Time", 0) / 1e3
                rdds = info.get("RDD Info", [])
                scopes = {(sc["id"], sc["name"].strip()) for sc in
                          (json.loads(r["Scope"]) for r in rdds if r.get("Scope"))}
                st.scans = tuple(sorted(n for _, n in scopes if n.startswith("Scan ")))
                st.caches = tuple(
                    r["RDD ID"] for r in rdds
                    if (r.get("Storage Level") or {}).get("Use Memory")
                    or (r.get("Storage Level") or {}).get("Use Disk")
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks += 1
                st.run_s += m["Executor Run Time"] / 1e3
                st.cpu_s += m["Executor CPU Time"] / 1e9
                st.gc_s += m["JVM GC Time"] / 1e3
                st.shuffle_w += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                st.shuffle_r += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.spill += m["Disk Bytes Spilled"]
                st.peak_mem = max(st.peak_mem, m["Peak Execution Memory"])
                st.in_rows += m["Input Metrics"]["Records Read"]
                st.out_bytes += m["Output Metrics"]["Bytes Written"]
    for st in stages.values():
        if st.group is None:
            st.group = stage_group.get(st.sid)
    return jobs, stages


def plan_owner(stages: dict[int, Stage], group: str) -> set[int]:
    """Stages of ``group`` that compute the lazy frame a call caches
    on its first action: every stage up to and including the first
    one that materializes a persisted RDD. (Adaptive execution runs
    each shuffle stage as its own job, so stage lineage does not
    link them; submission order does.)"""
    mine = sorted(s.sid for s in stages.values() if s.group == group)
    first = next((sid for sid in mine if stages[sid].caches), None)
    return set() if first is None else {sid for sid in mine if sid <= first}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped_union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    return union_s([(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi])
