"""Spans around the benchmark's calls into the engine, and the Spark
counters attributed to them.

A span is opened by the benchmark around one call into a layer's public
function. While it is open, Spark jobs run under a job group named after
the span, so two public Spark surfaces can attribute work to it:

* ``SparkContext.statusTracker()`` gives the exact job, stage and task
  counts of each group (harvested before the session stops);
* the Spark event log gives per-task metrics (executor run time, GC
  time, spill, shuffle bytes), joined to the group through the
  ``spark.jobGroup.id`` property of each submitted stage.

With tracing off, ``Tracer.span`` is a no-op: no job groups are set and
no event log is written. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
# spans the workloads' requests open (set-up spans aside)
OP_SPANS = ("spatial_join.zonal_fused", "pixels.lookup_fused", "knn.knn_tiles",
            "catalog.scan_bbox", "catalog.append", "reproject.warp", "algebra.polygonize")


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    session: int
    start: float
    end: float = 0.0
    # (jobs, stages, tasks) from the status tracker; None until harvested
    counts: tuple[int, int, int] | None = None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None
        self._session = 0

    def bind(self, spark) -> None:
        """Attach to a freshly started session (None: detach before the
        current one stops)."""
        self._sc = spark.sparkContext if spark is not None else None
        self._session += spark is not None

    @contextmanager
    def paused(self):
        """Record nothing inside (set-up of probes, ratio queries)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"perfbench-{idx}", parent, self._session, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent] if parent is not None else None)

    def _set_group(self, sp: Span | None) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc.setLocalProperty(GROUP_KEY, None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(sp.group, sp.name)

    def harvest(self, timeout_s: float = 30.0) -> None:
        """Read exact job/stage/task counts for every span of the bound
        session from the status tracker. Call before the session stops;
        waits until the listener bus has marked each job finished."""
        if not self.enabled or self._sc is None:
            return
        st = self._sc.statusTracker()
        todo = [s for s in self.spans if s.session == self._session and s.counts is None]
        deadline = time.monotonic() + timeout_s
        for sp in todo:
            jobs = st.getJobIdsForGroup(sp.group)
            infos = [st.getJobInfo(j) for j in jobs]
            while any(i is None or i.status in ("RUNNING", "UNKNOWN") for i in infos):
                if time.monotonic() > deadline:
                    raise RuntimeError(f"spark jobs of span {sp.name} did not finish")
                time.sleep(0.05)
                infos = [st.getJobInfo(j) for j in jobs]
            stages = {s for i in infos for s in i.stageIds}
            ran = [si for si in (st.getStageInfo(s) for s in stages)
                   if si is not None and si.numCompletedTasks > 0]
            sp.counts = (len(jobs), len(ran), sum(si.numCompletedTasks for si in ran))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _empty_group() -> dict:
    return {"run_ms": 0, "gc_ms": 0, "spill_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "tasks": 0}


def parse_event_log(lines) -> dict[str, dict]:
    """Per job group task totals from the JSON lines of ONE Spark event
    log (stage ids restart with every application, so files are parsed
    separately and their groups merged by the caller).

    Returns {group: {run_ms, gc_ms, spill_bytes, shuffle_write_bytes,
    shuffle_read_bytes, tasks}}; tasks of stages without a group are
    filed under the empty-string group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:  # tasks that failed before reporting metrics
                continue
            g = out.setdefault(stage_group.get(ev["Stage ID"], ""), _empty_group())
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g["tasks"] += 1
    return out


def read_event_logs(log_dir: str) -> dict[str, dict]:
    merged: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for grp, tot in parse_event_log(f).items():
                acc = merged.setdefault(grp, _empty_group())
                for k, v in tot.items():
                    acc[k] += v
    return merged


# ---------------------------------------------------------------------------
# per-span summary
# ---------------------------------------------------------------------------

def self_seconds(spans: list[Span]) -> list[float]:
    """Each span's duration minus the time its direct children cover
    (children of one client thread never overlap)."""
    child = [0.0] * len(spans)
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] += sp.end - sp.start
    return [sp.end - sp.start - c for sp, c in zip(spans, child)]


@dataclass
class SpanSummary:
    n: int
    wall_s: float  # median instance duration
    self_s: float  # median instance self time
    jobs: float
    stages: float
    tasks: float
    shuffle_write_mb: float
    shuffle_read_mb: float
    task_busy_s: float  # median instance sum of executor run time
    core_util: float  # sum busy / sum(wall x cores) over instances
    gc_s: float  # totals over instances
    spill_mb: float


def summarize(spans: list[Span], groups: dict[str, dict], cores: int) -> dict[str, SpanSummary]:
    selfs = self_seconds(spans)
    by_name: dict[str, list[int]] = {}
    for i, sp in enumerate(spans):
        by_name.setdefault(sp.name, []).append(i)
    med = statistics.median
    out = {}
    for name, idx in by_name.items():
        ev = [groups.get(spans[i].group, _empty_group()) for i in idx]
        counts = [spans[i].counts or (0, 0, 0) for i in idx]
        walls = [spans[i].end - spans[i].start for i in idx]
        busy = [e["run_ms"] / 1000.0 for e in ev]
        out[name] = SpanSummary(
            n=len(idx),
            wall_s=med(walls),
            self_s=med(selfs[i] for i in idx),
            jobs=med(c[0] for c in counts),
            stages=med(c[1] for c in counts),
            tasks=med(c[2] for c in counts),
            shuffle_write_mb=med(e["shuffle_write_bytes"] for e in ev) / 1e6,
            shuffle_read_mb=med(e["shuffle_read_bytes"] for e in ev) / 1e6,
            task_busy_s=med(busy),
            core_util=sum(busy) / (sum(walls) * cores) if sum(walls) > 0 else 0.0,
            gc_s=sum(e["gc_ms"] for e in ev) / 1000.0,
            spill_mb=sum(e["spill_bytes"] for e in ev) / 1e6,
        )
    return out
