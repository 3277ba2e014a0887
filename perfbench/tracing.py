"""Spans around the benchmark's calls into the engine, and the Spark
event-log post-pass that turns them into per-layer numbers.

A span is recorded from the benchmark's side of each public call: it
sets a Spark job group before the call, clears it after, and keeps
(name, group, start, end) in memory.  Nothing is written until the run
ends.  After ``spark.stop()`` the event log (Spark 4.1 writes rolling
zstd files, which ``pyarrow`` decodes) is read once, and every job is
attributed to a span:

* by its job group, when the job was submitted from the calling thread;
* else by submission time inside a span's window — jobs the engine
  submits from its own threads (the builder's concurrent stats writes)
  do not inherit the caller's job group.

Tasks then follow their stage to the job that submitted it.
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import json
import os
import re
import statistics
import time
from dataclasses import asdict, dataclass, field
from typing import Iterable, Iterator

# the per-span metrics, in print order (``useful_task_ratio`` is added
# for query spans only)
SPAN_FIELDS = (
    "calls", "wall_ms", "jobs", "tasks", "executor_run_ms", "wait_ms",
    "shuffle_bytes", "io_bytes", "failed_tasks",
)
FIELD_UNITS = {
    "calls": "count", "wall_ms": "ms", "jobs": "count", "tasks": "count",
    "executor_run_ms": "ms", "wait_ms": "ms", "shuffle_bytes": "bytes",
    "io_bytes": "bytes", "failed_tasks": "count", "useful_task_ratio": "ratio",
}


@dataclass
class Span:
    name: str
    group: str
    start_ms: float
    end_ms: float


class Tracer:
    """Records spans when ``enabled``; a no-op context otherwise, so the
    untraced runs that give the end-to-end numbers set no job groups."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        group = f"perfbench-{len(self.spans)}"
        self.sc.setJobGroup(group, name)
        start = time.time() * 1000.0
        try:
            yield
        finally:
            end = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, group, start, end))


# -- event log -------------------------------------------------------------

_ROLLED = re.compile(r"events_(\d+)_")


def log_files(log_dir: str) -> list[str]:
    """The rolled event-log parts ``eventlog_v2_*/events_<n>_*`` under
    ``log_dir``, in write order."""
    return sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(_ROLLED.search(os.path.basename(p)).group(1)),
    )


def read_events(log_dir: str) -> Iterator[dict]:
    """Every listener event of the (finished) log, in order."""
    import pyarrow as pa

    for path in log_files(log_dir):
        with pa.input_stream(path, compression="zstd") as f:
            for line in f.read().decode("utf-8").splitlines():
                if line.strip():
                    yield json.loads(line)


# -- attribution -----------------------------------------------------------

@dataclass
class _Acc:
    jobs: int = 0
    tasks: int = 0
    useful_tasks: int = 0
    executor_run_ms: float = 0.0
    wait_ms: float = 0.0
    shuffle_bytes: int = 0
    io_bytes: int = 0
    failed_tasks: int = 0


@dataclass
class Attribution:
    per_span: list[_Acc]          # parallel to the spans list
    unattributed_jobs: int = 0
    job_span: dict[int, int] = field(default_factory=dict)


def _scheduler_delay(info: dict, m: dict) -> float:
    """Spark UI's scheduler delay: task duration not spent deserializing,
    running, serializing or fetching the result."""
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    got = info.get("Getting Result Time", 0)
    getting = finish - got if got else 0
    busy = (
        m.get("Executor Run Time", 0)
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + getting
    )
    return max(0.0, float(finish - launch - busy))


def attribute(events: Iterable[dict], spans: list[Span]) -> Attribution:
    """Fold jobs and their tasks into the spans that caused them."""
    by_group = {s.group: i for i, s in enumerate(spans)}
    order = sorted(range(len(spans)), key=lambda i: spans[i].start_ms)
    starts = [spans[i].start_ms for i in order]

    def at(t_ms: float) -> int | None:
        j = bisect.bisect_right(starts, t_ms) - 1
        if j >= 0 and t_ms <= spans[order[j]].end_ms:
            return order[j]
        return None

    out = Attribution(per_span=[_Acc() for _ in spans])
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            idx = by_group.get(props.get("spark.jobGroup.id"))
            if idx is None:
                idx = at(ev.get("Submission Time", 0))
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job
            if idx is None:
                out.unattributed_jobs += 1
                continue
            out.job_span[job] = idx
            out.per_span[idx].jobs += 1
        elif kind == "SparkListenerTaskEnd":
            idx = out.job_span.get(stage_job.get(ev.get("Stage ID")))
            if idx is None:
                continue
            acc = out.per_span[idx]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            outp = m.get("Output Metrics") or {}
            acc.tasks += 1
            acc.executor_run_ms += m.get("Executor Run Time", 0)
            acc.wait_ms += _scheduler_delay(info, m) + sr.get("Fetch Wait Time", 0)
            acc.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            acc.io_bytes += inp.get("Bytes Read", 0) + outp.get("Bytes Written", 0)
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                acc.failed_tasks += 1
            records = (
                inp.get("Records Read", 0) + outp.get("Records Written", 0)
                + sr.get("Total Records Read", 0)
                + sw.get("Shuffle Records Written", 0)
            )
            if records > 0:
                acc.useful_tasks += 1
    return out


def span_metrics(
    spans: list[Span], attr: Attribution, names: list[str], query_spans: set[str]
) -> dict[str, tuple[float, str]]:
    """``<span>.<field>`` -> (value, unit) for every name in ``names``:
    the per-call median of each field over the calls made (0 when the
    span was not called in this run), and for ``query_spans`` the share
    of tasks that read or wrote at least one record."""
    out: dict[str, tuple[float, str]] = {}
    for name in names:
        idx = [i for i, s in enumerate(spans) if s.name == name]
        rows = [
            {"wall_ms": spans[i].end_ms - spans[i].start_ms,
             **asdict(attr.per_span[i])}
            for i in idx
        ]
        out[f"{name}.calls"] = (float(len(rows)), "count")
        for f in SPAN_FIELDS[1:]:
            v = statistics.median(r[f] for r in rows) if rows else 0.0
            out[f"{name}.{f}"] = (float(v), FIELD_UNITS[f])
        if name in query_spans:
            tasks = sum(attr.per_span[i].tasks for i in idx)
            useful = sum(attr.per_span[i].useful_tasks for i in idx)
            out[f"{name}.useful_task_ratio"] = (
                useful / tasks if tasks else 0.0, "ratio"
            )
    return out
