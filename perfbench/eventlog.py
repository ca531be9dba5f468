"""Reader for Spark's JSON event log, reduced to what the benchmark's
per-layer metrics need: jobs (with their description, which carries the
benchmark span that issued them), stages, per-task executor metrics and
the PythonSQLMetrics of Arrow/pandas UDF nodes.

Spark writes either one file per application or, with rolling logs (the
Spark 4 default), a directory `eventlog_v2_<app>` of `events_<n>_<app>`
files; `read_events` accepts either, or a directory holding one of them.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

# PythonSQLMetrics (Spark 4.x) accumulable names -> short keys. Timings
# are milliseconds, sizes bytes, summed over the tasks that ran the node.
PYTHON_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
}

_SPAN_RE = re.compile(r"\bspan=(\d+)\b")


@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    input_records: int
    python: dict

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: list = field(default_factory=list)

    @property
    def wall_ms(self) -> int:
        return max(self.complete_ms - self.submit_ms, 0)

    def total(self, attr: str) -> int:
        return sum(getattr(t, attr) for t in self.tasks)

    def python_total(self, key: str) -> int:
        return sum(t.python.get(key, 0) for t in self.tasks)


@dataclass
class Job:
    job_id: int
    submit_ms: int
    description: str | None
    sql_id: int | None
    stage_ids: list
    end_ms: int | None = None

    @property
    def span_id(self) -> int | None:
        m = _SPAN_RE.search(self.description or "")
        return int(m.group(1)) if m else None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)      # job id -> Job
    stages: dict = field(default_factory=dict)    # stage id -> Stage
    sql_roots: dict = field(default_factory=dict)  # execution id -> root id

    def job_stages(self, job: Job) -> list:
        # a job lists stages it skipped (reused shuffle output) too; only
        # stages that ran have a completion event
        return [self.stages[s] for s in job.stage_ids if s in self.stages]

    def root_execution(self, job: Job) -> int | None:
        if job.sql_id is None:
            return None
        return self.sql_roots.get(job.sql_id, job.sql_id)


def _event_files(path: str) -> list:
    if os.path.isfile(path):
        return [path]
    names = sorted(os.listdir(path))
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:
        rolled.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in rolled]
    subdirs = [n for n in names if os.path.isdir(os.path.join(path, n))]
    files = [n for n in names if os.path.isfile(os.path.join(path, n))
             and not n.startswith(".")]
    if len(subdirs) + len(files) != 1:
        raise ValueError(f"expected one event log under {path}, "
                         f"found {subdirs + files}")
    return _event_files(os.path.join(path, (subdirs + files)[0]))


def read_events(path: str):
    """Yield each event dict of the application log at `path`."""
    for fn in _event_files(path):
        with open(fn) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    python = {}
    # A Python node's accumulables are consecutive ids: its "start" entry
    # (present only when the task started a worker) precedes its
    # "initialize" entry. A reused worker starts its initialize clock
    # when it begins waiting for the next task, so its value is mostly
    # idle time: initialize counts only on nodes that started a worker.
    started = False
    for acc in sorted(info.get("Accumulables", []), key=lambda a: a.get("ID", 0)):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is None:
            continue
        update = int(acc.get("Update") or 0)
        if key == "boot_ms":
            started = update > 0
        elif key == "init_ms":
            update, started = (update if started else 0), False
        python[key] = python.get(key, 0) + update
    return Task(
        launch_ms=int(info.get("Launch Time", 0)),
        finish_ms=int(info.get("Finish Time", 0)),
        run_ms=int(m.get("Executor Run Time", 0)),
        cpu_ns=int(m.get("Executor CPU Time", 0)),
        gc_ms=int(m.get("JVM GC Time", 0)),
        shuffle_write_bytes=int(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
        input_records=int((m.get("Input Metrics") or {}).get("Records Read", 0)),
        python=python,
    )


def parse(events) -> EventLog:
    log = EventLog()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                submit_ms=int(ev.get("Submission Time", 0)),
                description=props.get("spark.job.description"),
                sql_id=int(sql_id) if sql_id not in (None, "") else None,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = int(ev.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            stage = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            stage.tasks.append(_task(ev))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            stage.submit_ms = int(info.get("Submission Time", 0))
            stage.complete_ms = int(info.get("Completion Time", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            eid = int(ev["executionId"])
            log.sql_roots[eid] = int(ev.get("rootExecutionId", eid))
    return log


def load(path: str) -> EventLog:
    return parse(read_events(path))


# -- interval arithmetic shared by the per-layer metrics ---------------------

def union_ms(intervals) -> int:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def task_skew(stages) -> float:
    """max / median task duration in the stage with the most executor
    run time (1.0 for a single-task or empty set)."""
    stages = [s for s in stages if s.tasks]
    if not stages:
        return 1.0
    heaviest = max(stages, key=lambda s: s.total("run_ms"))
    durations = [t.duration_ms for t in heaviest.tasks]
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0
