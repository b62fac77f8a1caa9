"""Tracing for the benchmark's traced run, entirely from outside the program.

Three sources, all recorded around calls the benchmark makes:

* spans: wall-clock intervals kept in memory (name, start, end, parent,
  run id) and written as JSON when the run ends;
* Spark job groups: every call runs under a group named `<run>|<op>`, so
  each job, stage and task in the event log can be charged to one op of
  one run;
* the Spark event log (uncompressed, non-rolling) parsed after the
  session stops: task run time, GC time, shuffle bytes written, spill,
  failed tasks, and the SQL accumulators of join nodes.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Spark conf that makes the event log parseable line by line
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

GROUP_KEY = "spark.jobGroup.id"
EXEC_KEY = "spark.sql.execution.id"
CALLSITE_KEY = "callSite.short"
SEP = "|"


def group_id(run: str, op: str) -> str:
    return f"{run}{SEP}{op}"


class Tracer:
    """In-memory spans plus the job group of the current call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, run: str, group: str | None = None):
        """Time a call; with `group`, its Spark jobs run under that job
        group and the caller's group is restored afterwards."""
        prev = self.sc.getLocalProperty(GROUP_KEY)
        if group is not None:
            self.sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "run": run}
            )
            if group is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def of(self, run: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["run"] == run and s["name"] == name]


# ---------------------------------------------------------------------------
# event-log parsing
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    props: dict
    submit_ms: int
    end_ms: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.submit_ms) / 1000.0


@dataclass
class Task:
    run_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int
    failed: bool
    accums: dict = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)          # job id -> Job
    stage_props: dict = field(default_factory=dict)   # stage id -> properties
    tasks: dict = field(default_factory=dict)         # stage id -> [Task]
    join_rows_accums: dict = field(default_factory=dict)  # exec id -> {acc id}


def _join_output_accums(plan: dict, out: set) -> None:
    """Accumulator ids of `number of output rows` on every join node."""
    name = plan.get("nodeName", "")
    if name.endswith("Join") or name == "CartesianProduct":
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _join_output_accums(c, out)


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                log.jobs[e["Job ID"]] = Job(
                    e["Job ID"], e.get("Properties") or {}, e["Submission Time"]
                )
            elif ev == "SparkListenerJobEnd":
                job = log.jobs.get(e["Job ID"])
                if job is not None:
                    job.end_ms = e["Completion Time"]
            elif ev == "SparkListenerStageSubmitted":
                log.stage_props[e["Stage Info"]["Stage ID"]] = e.get("Properties") or {}
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                failed = info.get("Failed", False) or info.get("Killed", False)
                accums = {}
                if not failed:
                    for a in info.get("Accumulables", []):
                        if a.get("Metadata") == "sql" and "Update" in a:
                            accums[a["ID"]] = int(a["Update"])
                log.tasks.setdefault(e["Stage ID"], []).append(
                    Task(
                        run_ms=m.get("Executor Run Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill=m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        failed=failed,
                        accums=accums,
                    )
                )
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _join_output_accums(
                    e["sparkPlanInfo"],
                    log.join_rows_accums.setdefault(int(e["executionId"]), set()),
                )
    return log


@dataclass
class OpStats:
    """Task-level totals of one set of Spark jobs."""

    jobs: int = 0
    job_wall_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    join_rows: int = 0
    task_skew: float = 0.0


def summarize(log: EventLog, select) -> OpStats:
    """Totals over the jobs and stages whose properties satisfy `select`.

    task_skew is max/median task run time in the selected stage with the
    most summed run time (the stage that dominates the op)."""
    st = OpStats()
    for job in log.jobs.values():
        if select(job.props):
            st.jobs += 1
            st.job_wall_s += job.wall_s
    heaviest: list[Task] = []
    for sid, props in log.stage_props.items():
        if not select(props):
            continue
        tasks = log.tasks.get(sid, [])
        exec_id = props.get(EXEC_KEY)
        join_ids = log.join_rows_accums.get(int(exec_id), set()) if exec_id else set()
        for t in tasks:
            st.tasks += 1
            st.failed_tasks += t.failed
            st.busy_s += t.run_ms / 1000.0
            st.gc_s += t.gc_ms / 1000.0
            st.shuffle_write_mb += t.shuffle_write / 2**20
            st.spill_mb += t.spill / 2**20
            st.join_rows += sum(v for k, v in t.accums.items() if k in join_ids)
        if sum(t.run_ms for t in tasks) > sum(t.run_ms for t in heaviest):
            heaviest = tasks
    runs = [t.run_ms for t in heaviest if not t.failed]
    if runs:
        st.task_skew = max(runs) / max(1.0, statistics.median(runs))
    return st


def find_event_log(log_dir: str) -> str:
    import glob
    import os

    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
