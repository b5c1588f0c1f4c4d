"""Parser for an uncompressed Spark event log (JSON lines).

Produces the ``transport.*`` and ``stage.*`` per-layer metrics, the job
counts behind ``driver.jobs`` / ``pipeline.jobs_per_bucket`` /
``graph.<op>_jobs``, and the per-micro-batch job counts behind
``maintain.jobs_per_batch``.

Stages are attributed structurally, not by name:

* a *Python stage* is one whose tasks report ``data sent to Python
  workers`` (the fused ``mapInPandas`` extraction stage);
* its shuffle READ is the salted repartition that feeds it
  (``stage.repartition_shuffle_bytes``), its shuffle WRITE is the partial
  dedup aggregation (``stage.dedup_shuffle_bytes``);
* the *dedup stage* is the stage whose shuffle read bytes equal a Python
  stage's shuffle write bytes (AQE submits it as a job of its own, so
  parent stage ids do not connect the two).

Spark 4 writes a rolling log by default: ``eventlog_v2_<app>/events_*``.
``load_events`` accepts either a single file or such a directory.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
_PY_ACCUMS = (PY_SENT, PY_RETURNED, PY_START, PY_INIT, PY_RUN)
_BATCH_RE = re.compile(r"batch = (\d+)")


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, files in os.walk(path):
        for name in files:
            if name.startswith(("events_", "local-", "app-")) \
                    and not name.endswith(".crc"):
                out.append(os.path.join(root, name))

    def order(p: str):
        # rolling logs: events_<index>_<app>
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)
    return sorted(out, key=order)


def load_events(path: str) -> list[dict]:
    events = []
    for fname in _event_files(path):
        with open(fname) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


@dataclass
class Stage:
    stage_id: int
    job_id: int | None = None
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    spill_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    py: dict = field(default_factory=lambda: dict.fromkeys(_PY_ACCUMS, 0))

    @property
    def is_python(self) -> bool:
        return self.py[PY_SENT] > 0


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    description: str
    stage_ids: list[int]
    ended_ms: int = 0
    stage_names: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return max(self.ended_ms - self.submitted_ms, 0) / 1e3


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    @classmethod
    def parse(cls, events: list[dict]) -> "EventLog":
        jobs: dict[int, Job] = {}
        stages: dict[int, Stage] = {}
        stage_job: dict[int, int] = {}
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(e["Job ID"], int(e.get("Submission Time", 0)),
                          props.get("spark.job.description") or "",
                          list(e.get("Stage IDs", [])))
                job.stage_names = [si.get("Stage Name", "")
                                   for si in e.get("Stage Infos", ())]
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd" and e.get("Job ID") in jobs:
                jobs[e["Job ID"]].ended_ms = int(e.get("Completion Time", 0))
            elif kind == "SparkListenerTaskEnd":
                info = e.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    continue
                sid = e["Stage ID"]
                st = stages.setdefault(sid, Stage(sid))
                m = e.get("Task Metrics") or {}
                st.run_ms.append(int(m.get("Executor Run Time", 0)))
                st.cpu_ns += int(m.get("Executor CPU Time", 0))
                st.spill_bytes += (int(m.get("Memory Bytes Spilled", 0))
                                   + int(m.get("Disk Bytes Spilled", 0)))
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += (int(rd.get("Remote Bytes Read", 0))
                                          + int(rd.get("Local Bytes Read", 0)))
                wr = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += int(wr.get("Shuffle Bytes Written", 0))
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") in st.py:
                        st.py[acc["Name"]] += int(acc.get("Update") or 0)
        for sid, st in stages.items():
            st.job_id = stage_job.get(sid)
        return cls(jobs, stages)

    def window(self, start_ms: float, end_ms: float) -> "EventLog":
        """Only the jobs submitted within [start_ms, end_ms] and their
        stages."""
        jobs = {j: job for j, job in self.jobs.items()
                if start_ms <= job.submitted_ms <= end_ms}
        stages = {s: st for s, st in self.stages.items() if st.job_id in jobs}
        return EventLog(jobs, stages)

    def collect_seconds(self, source_file: str) -> float:
        """Wall time of the jobs behind ``collect()`` calls made from
        ``source_file`` (Spark names such a stage ``collect at <file>:<line>``)."""
        return sum(j.seconds for j in self.jobs.values()
                   if any(n.startswith("collect at") and source_file in n
                          for n in j.stage_names))

    def jobs_per_stream_batch(self) -> dict[int, int]:
        """Job count per Structured Streaming batch id, read from the
        ``batch = N`` line the stream puts in each job description."""
        out: dict[int, int] = defaultdict(int)
        for j in self.jobs.values():
            m = _BATCH_RE.search(j.description)
            if m:
                out[int(m.group(1))] += 1
        return dict(out)

    def layer_metrics(self) -> dict[str, float]:
        """Totals over every stage in this log (call on a ``window``)."""
        stages = list(self.stages.values())
        py = [s for s in stages if s.is_python]
        py_writes = {s.shuffle_write_bytes for s in py
                     if s.shuffle_write_bytes > 0}
        dedup = [s for s in stages if not s.is_python
                 and s.shuffle_read_bytes in py_writes]
        skews = []
        for s in py:
            if s.run_ms and statistics.median(s.run_ms) > 0:
                skews.append(max(s.run_ms) / statistics.median(s.run_ms))

        def py_sum(name: str) -> int:
            return sum(s.py[name] for s in py)
        return {
            "transport.py_start_s": py_sum(PY_START) / 1e3,
            "transport.py_init_s": py_sum(PY_INIT) / 1e3,
            "transport.py_run_s": py_sum(PY_RUN) / 1e3,
            "transport.bytes_to_py": float(py_sum(PY_SENT)),
            "transport.bytes_from_py": float(py_sum(PY_RETURNED)),
            "stage.repartition_shuffle_bytes":
                float(sum(s.shuffle_read_bytes for s in py)),
            "stage.dedup_shuffle_bytes":
                float(sum(s.shuffle_write_bytes for s in py)),
            "stage.dedup_run_s": sum(sum(s.run_ms) for s in dedup) / 1e3,
            "stage.spill_bytes": float(sum(s.spill_bytes for s in stages)),
            "stage.map_task_skew":
                statistics.median(skews) if skews else 0.0,
            "stage.jvm_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        }
