"""Spark event-log reader and the span fold of the traced benchmark run.

The traced run starts the session with ``spark.eventLog.enabled`` and
rolling logs, so Spark writes a v2 directory
(``eventlog_v2_<app>/events_<n>_<app>.zstd``), compressed with the
session's ``spark.io.compression.codec`` (zstd).  The benchmark reads it
after ``spark.stop()`` has closed it, and folds it into spans:

- one parent span per timed public call (the benchmark's own call log:
  name, start, end — the job group it set is ``<workload>.<call>``);
- one child span per stage that ran inside that call's interval, named by
  its call site (the SQL execution's description when the stage belongs to
  one, the stage name otherwise), with the stage's task metrics.

Calls run one at a time from one client thread, so a job belongs to the
call whose interval holds its submission time.  That also covers jobs a
streaming query submits from its own thread, which carry the query's run
id as their job group instead of the benchmark's.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

_SITE_PATH = re.compile(r" at (?:\S*/)?([^/\s]+:\d+)")


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, in write order.  Accepts a v2 rolling
    directory (or its parent) and single-file logs."""
    files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    if files:
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def read_events(log_dir: str):
    """Yield every event (a dict) of the log under ``log_dir``."""
    import pyarrow as pa

    for path in event_files(log_dir):
        if path.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                data = s.read()
        else:
            with open(path, "rb") as f:
                data = f.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                yield json.loads(line)


def short_site(name: str) -> str:
    """``collect at /a/b/encode_job.py:91`` → ``collect at encode_job.py:91``."""
    return _SITE_PATH.sub(lambda m: f" at {m.group(1)}", name, count=1)


@dataclass
class Stage:
    stage_id: int
    name: str
    submit_ms: int
    complete_ms: int
    metrics: dict[str, float]
    rdd_ids: frozenset[int]

    def m(self, key: str) -> float:
        return self.metrics.get(key, 0.0)


@dataclass
class Job:
    job_id: int
    group: str | None
    exec_id: int | None
    submit_ms: int
    stage_ids: list[int]
    stage_rdds: dict[int, frozenset[int]]


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    exec_desc: dict[int, str] = field(default_factory=dict)


def _rdd_ids(stage_info: dict) -> frozenset[int]:
    return frozenset(r["RDD ID"] for r in stage_info.get("RDD Info", []))


def fold_log(events) -> Log:
    """Index the events that the span fold needs."""
    log = Log()
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            log.jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                exec_id=int(eid) if eid is not None else None,
                submit_ms=e["Submission Time"],
                stage_ids=list(e["Stage IDs"]),
                stage_rdds={
                    s["Stage ID"]: _rdd_ids(s) for s in e.get("Stage Infos", [])
                },
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            metrics = {
                a["Name"][len("internal.metrics."):]: float(a["Value"])
                for a in si.get("Accumulables", [])
                if a.get("Name", "").startswith("internal.metrics.")
                and a.get("Value") is not None
            }
            prev = log.stages.get(si["Stage ID"])
            if prev is not None:  # a retried attempt: the stage ran twice
                for k, v in prev.metrics.items():
                    metrics[k] = metrics.get(k, 0.0) + v
            log.stages[si["Stage ID"]] = Stage(
                stage_id=si["Stage ID"],
                name=si.get("Stage Name", ""),
                submit_ms=prev.submit_ms if prev else si["Submission Time"],
                complete_ms=si["Completion Time"],
                metrics=metrics,
                rdd_ids=_rdd_ids(si),
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            log.exec_desc[e["executionId"]] = e.get("description", "")
    return log


@dataclass
class CallTrace:
    """What the event log says about one timed call."""

    name: str
    start_ms: float
    end_ms: float
    jobs: list[Job]
    stages: list[Stage]
    reused_stages: list[int]

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0

    def total(self, key: str) -> float:
        return sum(s.m(key) for s in self.stages)


def attribute(log: Log, calls: list[dict]) -> list[CallTrace]:
    """Fold jobs and stages into the calls (dicts with ``name``,
    ``start_ms``, ``end_ms``, in call order).

    A stage a job lists but that never ran was skipped: its shuffle output
    already existed.  Adaptive execution does that inside one call (each
    exchange runs as its own job first); a skipped stage whose RDDs ran in
    an EARLIER call means this call reused that call's work, and is
    reported in ``reused_stages``.
    """
    traces = []
    owner: dict[int, int] = {}  # rdd id -> index of the call that ran it
    for idx, c in enumerate(calls):
        jobs = sorted(
            (j for j in log.jobs.values() if c["start_ms"] <= j.submit_ms <= c["end_ms"]),
            key=lambda j: j.job_id,
        )
        ran = [log.stages[s] for j in jobs for s in j.stage_ids if s in log.stages]
        ran = sorted({s.stage_id: s for s in ran}.values(), key=lambda s: s.submit_ms)
        for s in ran:
            for r in s.rdd_ids:
                owner.setdefault(r, idx)
        reused = sorted(
            {
                sid
                for j in jobs
                for sid in j.stage_ids
                if sid not in log.stages
                and any(owner.get(r, idx) < idx for r in j.stage_rdds.get(sid, ()))
            }
        )
        for s in ran:
            job = next(j for j in jobs if s.stage_id in j.stage_ids)
            if job.exec_id is not None and log.exec_desc.get(job.exec_id):
                s.name = log.exec_desc[job.exec_id]
            s.name = short_site(s.name)
        traces.append(
            CallTrace(c["name"], c["start_ms"], c["end_ms"], jobs, ran, reused)
        )
    return traces


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def encode_split(call: CallTrace) -> dict[str, float]:
    """Split an encode call's wall into its phases, in seconds.

    - ``shuffle_write``: stages that write at least half as many shuffle
      records as they read (the repartition of every input row by part id);
    - ``kernel_stage``: stages that read shuffle and write output files
      (the Arrow codec kernel and the blob sink, one stage);
    - ``stats_scan``: other stages that read at least half as many input
      records as the shuffle-write stages do (the planning aggregate);
    - ``metadata``: every other stage (plan rows, running marker, manifest
      read-back and append);
    - ``driver_self``: the wall no stage covers.
    """

    def read(s: Stage) -> float:
        return s.m("input.recordsRead") + s.m("shuffle.read.recordsRead")

    shuffle_write = [
        s
        for s in call.stages
        if s.m("shuffle.write.recordsWritten") > 0
        and s.m("shuffle.write.recordsWritten") >= 0.5 * read(s)
    ]
    kernel = [
        s
        for s in call.stages
        if s.m("shuffle.read.recordsRead") > 0 and s.m("output.bytesWritten") > 0
    ]
    scan_floor = 0.5 * max((read(s) for s in shuffle_write), default=float("inf"))
    taken = {s.stage_id for s in shuffle_write + kernel}
    stats = [
        s
        for s in call.stages
        if s.stage_id not in taken and s.m("input.recordsRead") >= scan_floor
    ]
    taken |= {s.stage_id for s in stats}
    meta = [s for s in call.stages if s.stage_id not in taken]

    def span_s(stages) -> float:
        return _union_ms((s.submit_ms, s.complete_ms) for s in stages) / 1000.0

    return {
        "stats_scan_s": span_s(stats),
        "shuffle_write_s": span_s(shuffle_write),
        "kernel_stage_s": span_s(kernel),
        "metadata_s": span_s(meta),
        "driver_self_s": max(0.0, call.wall_s - span_s(call.stages)),
    }


def spans(traces: list[CallTrace], trace_id: str) -> list[dict]:
    """Parent span per call, child span per stage, as plain dicts."""
    out = []
    for i, t in enumerate(traces):
        parent = f"{trace_id}/{i}"
        out.append(
            {
                "trace": trace_id,
                "span": parent,
                "parent": None,
                "name": t.name,
                "start_ms": t.start_ms,
                "end_ms": t.end_ms,
                "jobs": len(t.jobs),
                "reused_stages": t.reused_stages,
            }
        )
        for s in t.stages:
            out.append(
                {
                    "trace": trace_id,
                    "span": f"{parent}/s{s.stage_id}",
                    "parent": parent,
                    "name": s.name,
                    "start_ms": s.submit_ms,
                    "end_ms": s.complete_ms,
                    "metrics": s.metrics,
                }
            )
    return out
