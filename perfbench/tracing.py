"""Tracing for the benchmark's traced runs.

Spans are recorded around the calls the benchmark makes into each layer's
public functions (and, through :meth:`Tracer.wrap`, around module
attributes the flows call internally). They stay in memory and are written
out once, at the end of the run. Spark-side counters come from the event
log, attributed to the benchmark's phases: each phase sets a job group, and
jobs started on threads that do not inherit it (the curation thread pools)
are attributed by the phase whose time window holds their submission and
counted as untagged.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

SPARK_COUNTERS = (
    "jobs", "tasks", "executor_cpu_s", "core_utilisation", "no_job_s",
    "task_wait_s", "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)


class Tracer:
    """Spans (name, start, end, parent, run id) for one benchmark run.

    Disabled, every method is a pass-through, so the same flow code runs
    traced and untraced."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.phases: list[tuple[str, float, float]] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.time(),
            "end": None, "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def phase(self, spark, name: str):
        """A top-level span whose Spark jobs carry job group ``name``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(name, name)
        start = time.time()
        try:
            with self.span(name):
                yield
        finally:
            self.phases.append((name, start, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records span ``name``
        while tracing is enabled; :meth:`unwrap_all` restores it."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, since: float = 0.0) -> float:
        """Summed duration of the closed spans called ``name`` that started
        at or after ``since``."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["end"] is not None
            and s["start"] >= since
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def read_event_log(event_dir: str) -> dict:
    """Jobs, stage submissions and task ends from the (single, finished)
    uncompressed event log in ``event_dir``. Times are epoch seconds."""
    logs = [p for p in glob.glob(os.path.join(event_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {logs}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    tasks: list[dict] = []
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind in ("SparkListenerStageSubmitted",
                          "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit.setdefault(
                        info["Stage ID"], info["Submission Time"] / 1000.0
                    )
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": ti["Launch Time"] / 1000.0,
                    "failed": bool(ti.get("Failed")),
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stage_job": stage_job,
            "stage_submit": stage_submit, "tasks": tasks}


def spark_counters(
    log: dict, phases: list[tuple[str, float, float]], cores: int, reps: int,
) -> tuple[dict[str, dict[str, float]], int]:
    """Spark counters per phase name, per traced repetition (summed over
    the phase's occurrences and divided by ``reps``; core utilisation is
    executor run time over wall × cores of all occurrences), plus the
    number of jobs inside traced phases that carried no job group.

    A job belongs to the phase whose window holds its submission time;
    a task belongs to its stage's job."""
    def owner(t: float) -> int | None:
        for i, (_, s, e) in enumerate(phases):
            if s <= t <= e:
                return i
        return None

    job_phase = {j: owner(v["submit"]) for j, v in log["jobs"].items()}
    per: dict[int, dict[str, float]] = {
        i: dict.fromkeys(SPARK_COUNTERS, 0.0) for i in range(len(phases))
    }
    job_spans: dict[int, list[tuple[float, float]]] = {
        i: [] for i in range(len(phases))
    }
    untagged = 0
    for j, v in log["jobs"].items():
        i = job_phase[j]
        if i is None:
            continue
        per[i]["jobs"] += 1
        name, s, e = phases[i]
        job_spans[i].append((max(v["submit"], s), min(v["end"] or e, e)))
        if v["group"] != name:
            untagged += 1
    for t in log["tasks"]:
        j = log["stage_job"].get(t["stage"])
        i = job_phase.get(j) if j is not None else None
        if i is None:
            continue
        c = per[i]
        c["tasks"] += 1
        c["executor_cpu_s"] += t["cpu_s"]
        c["core_utilisation"] += t["run_s"]
        submit = log["stage_submit"].get(t["stage"], t["launch"])
        c["task_wait_s"] += max(0.0, t["launch"] - submit)
        c["shuffle_write_bytes"] += t["shuffle_write"]
        c["spill_bytes"] += t["spill"]
        c["failed_tasks"] += 1 if t["failed"] else 0
    out: dict[str, dict[str, float]] = {}
    wall: dict[str, float] = {}
    for i, (name, s, e) in enumerate(phases):
        c = per[i]
        c["no_job_s"] = (e - s) - _union_length(job_spans[i])
        acc = out.setdefault(name, dict.fromkeys(SPARK_COUNTERS, 0.0))
        for k in SPARK_COUNTERS:
            acc[k] += c[k]
        wall[name] = wall.get(name, 0.0) + (e - s)
    for name, acc in out.items():
        # executor run time summed above, over wall × cores of the phase
        acc["core_utilisation"] /= max(wall[name], 1e-9) * cores
        for k in SPARK_COUNTERS:
            if k != "core_utilisation":
                acc[k] /= reps
    return out, untagged
