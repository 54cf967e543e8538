"""Traced-run machinery: a span recorder around the benchmark's calls into
the engine, Spark job-group tagging, and a parser for Spark's JSON event
log that maps stages to layer groups.

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYER_GROUPS = ("extract", "pip", "knn", "tiles", "lineage")
UNTRACED_GROUP = "untraced"
# Checkpoint stage written by run_flagship -> the layer group doing its work.
STAGE_GROUP = {"points": "extract", "pip": "pip", "tiles": "tiles"}
# the write command's "Arguments: <path>, ..." line in the formatted plan
STAGE_WRITE = re.compile(r"Arguments: file:\S*/stages/(\w+),")


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str | None = None


@dataclass
class Tracer:
    """Records spans and tags the Spark jobs they start with a job group
    ``<group>#<pass>``, so the event log can be cut by layer and pass."""

    spark: object
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    pass_no: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = Span(sid, name, time.monotonic(), 0.0, parent, self.run_id, group)
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(f"{group}#{self.pass_no}", name)
        try:
            yield rec
        finally:
            rec.end = time.monotonic()
            self._stack.pop()
            if group is not None:
                sc.setJobGroup(self._enclosing_group(), "")

    def _enclosing_group(self) -> str:
        for sid in reversed(self._stack):
            if self.spans[sid].group is not None:
                return f"{self.spans[sid].group}#{self.pass_no}"
        return UNTRACED_GROUP

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.span_id)
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span.end - span.start) - covered

    def median_self(self, name: str) -> float:
        vals = [self.self_time(s) for s in self.spans if s.name == name]
        return statistics.median(vals) if vals else 0.0

    def median_wall(self, name: str) -> float:
        vals = [s.end - s.start for s in self.spans if s.name == name]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1)


def _zero_counters() -> dict[str, float]:
    return {
        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0,
        "queue_wait_s": 0.0, "spill_mb": 0.0, "tasks": 0, "failed_tasks": 0,
    }


def _join_nodes(plan: dict, out: list[int]) -> None:
    """Accumulator ids of the 'number of output rows' metric of every join
    node in a plan tree."""
    if "Join" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.append(m["accumulatorId"])
    for child in plan.get("children", []):
        _join_nodes(child, out)


def parse_event_log(path: str, n_passes: int) -> dict:
    """Per-layer-group task counters (averaged over ``n_passes`` traced
    passes), the PIP prejoin candidate count and the refine-stage task
    skew, from one Spark JSON event log."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_stage: dict[int, str] = {}
    root_exec: dict[int, int] = {}
    stage_exec: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    join_accums: dict[int, set[int]] = {}
    accum_total: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or UNTRACED_GROUP
                ex = props.get("spark.sql.execution.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                    if ex is not None:
                        stage_exec[sid] = int(ex)
                if ex is not None:
                    exec_group.setdefault(int(ex), group)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                ex = ev["executionId"]
                root_exec[ex] = ev.get("rootExecutionId", ex)
                ids: list[int] = []
                _join_nodes(ev["sparkPlanInfo"], ids)
                join_accums.setdefault(ex, set()).update(ids)
                m = STAGE_WRITE.search(ev.get("physicalPlanDescription", ""))
                if m and m.group(1) in STAGE_GROUP:
                    exec_stage[ex] = m.group(1)

    def layer_of(raw_group: str, ex: int | None) -> tuple[str, int]:
        """Layer group and pass of a job group; checkpoint writes inside a
        run_flagship call go to the layer whose stage they write."""
        name, _, pass_no = raw_group.partition("#")
        # a write runs its query as a nested execution under the command's
        stage = exec_stage.get(ex, exec_stage.get(root_exec.get(ex)))
        if name == "lineage" and stage is not None:
            name = STAGE_GROUP[stage]
        return name, int(pass_no or -1)

    def group_of(stage_id: int) -> tuple[str, int]:
        return layer_of(stage_group.get(stage_id, UNTRACED_GROUP), stage_exec.get(stage_id))

    counters = {g: _zero_counters() for g in LAYER_GROUPS}
    pip_stage_tasks: dict[tuple[int, int], list[float]] = {}
    for ev in tasks:
        group, pass_no = group_of(ev["Stage ID"])
        info = ev["Task Info"]
        failed = bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success"
        if group == "pip" and not failed:
            # SQL metrics of the PIP tasks only: a cached input's plan
            # (e.g. the pages synthesizer's cross join) shares the tree
            for acc in info.get("Accumulables", []):
                try:
                    accum_total[acc["ID"]] = accum_total.get(acc["ID"], 0) + int(acc["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
        if group not in counters:
            continue
        c = counters[group]
        m = ev.get("Task Metrics") or {}
        c["tasks"] += 1
        c["failed_tasks"] += int(failed)
        c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        c["fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
        c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        launch = info.get("Launch Time", 0)
        submitted = stage_submit.get(ev["Stage ID"], launch)
        c["queue_wait_s"] += max(0, launch - submitted) / 1e3
        if group == "pip":
            dur = (info.get("Finish Time", launch) - launch) / 1e3
            pip_stage_tasks.setdefault((pass_no, ev["Stage ID"]), []).append(dur)

    per_pass = max(1, n_passes)
    for c in counters.values():
        for k in c:
            c[k] = c[k] / per_pass

    # Refine skew: per pass, the pip stage with the most task time; its
    # slowest task over its median task.
    skews = []
    for p in sorted({p for p, _s in pip_stage_tasks}):
        stages = [v for (pp, _s), v in pip_stage_tasks.items() if pp == p]
        busiest = max(stages, key=sum)
        med = statistics.median(busiest)
        if med > 0:
            skews.append(max(busiest) / med)

    candidates = []
    for ex, group in exec_group.items():
        if layer_of(group, ex)[0] != "pip":
            continue
        vals = [accum_total.get(a, 0) for a in join_accums.get(ex, ())]
        if vals:
            candidates.append(max(vals))
    return {
        "counters": counters,
        "task_skew": statistics.median(skews) if skews else 0.0,
        "candidates": statistics.median(candidates) if candidates else 0,
    }
