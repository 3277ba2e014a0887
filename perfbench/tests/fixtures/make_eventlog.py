"""Record the event-log fixture the tracing tests parse.

    python3 perfbench/tests/fixtures/make_eventlog.py

Runs a tiny local Spark app with the event log on: a span whose two
jobs carry its job group, one job outside any span, and a span whose
only job comes from a helper thread (no job group).  The log Spark
writes (rolling, zstd) is then trimmed to the events and fields the
parser reads — no environment, hosts or call sites — and written back
as zstd next to this script with the spans in ``spans.json``.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parents[2]))

KEEP_EVENTS = {"SparkListenerJobStart", "SparkListenerTaskEnd"}
KEEP_TASK_INFO = ("Launch Time", "Finish Time", "Getting Result Time", "Failed")
KEEP_METRICS = (
    "Executor Deserialize Time", "Executor Run Time", "Result Serialization Time",
    "Input Metrics", "Output Metrics", "Shuffle Read Metrics", "Shuffle Write Metrics",
)


def _trim(ev: dict) -> dict:
    if ev["Event"] == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {
            "Event": ev["Event"], "Job ID": ev["Job ID"],
            "Submission Time": ev["Submission Time"], "Stage IDs": ev["Stage IDs"],
            "Properties": {k: v for k, v in props.items()
                           if k == "spark.jobGroup.id"},
        }
    info = ev.get("Task Info") or {}
    metrics = ev.get("Task Metrics") or {}
    return {
        "Event": ev["Event"], "Stage ID": ev["Stage ID"],
        "Stage Attempt ID": ev.get("Stage Attempt ID", 0),
        "Task End Reason": {"Reason": ev["Task End Reason"]["Reason"]},
        "Task Info": {k: info[k] for k in KEEP_TASK_INFO if k in info},
        "Task Metrics": {k: metrics[k] for k in KEEP_METRICS if k in metrics},
    }


def main() -> None:
    import pyarrow as pa
    from pyspark.sql import SparkSession

    from perfbench import tracing

    work = Path(tempfile.mkdtemp(prefix="perfbench-fixture-"))
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{work}")
            .getOrCreate()
        )
        tracer = tracing.Tracer(spark.sparkContext, enabled=True)
        with tracer.span("grouped"):
            spark.range(1000, numPartitions=2).count()
            spark.range(10, numPartitions=1).count()
        time.sleep(0.2)
        spark.range(5, numPartitions=1).count()        # outside any span
        time.sleep(0.2)
        with tracer.span("threaded"):
            t = threading.Thread(target=lambda: spark.range(50, numPartitions=2).count())
            t.start()
            t.join(timeout=120)
        spark.stop()

        events = [_trim(e) for e in tracing.read_events(str(work))
                  if e.get("Event") in KEEP_EVENTS]
        out = HERE / "eventlog"
        shutil.rmtree(out, ignore_errors=True)
        app = out / "eventlog_v2_local-fixture"
        app.mkdir(parents=True)
        body = "".join(json.dumps(e) + "\n" for e in events).encode()
        with pa.output_stream(str(app / "events_1_local-fixture.zstd"),
                              compression="zstd") as f:
            f.write(body)
        (out / "spans.json").write_text(json.dumps(
            [{"name": s.name, "group": s.group, "start_ms": s.start_ms,
              "end_ms": s.end_ms} for s in tracer.spans], indent=1) + "\n")
        print(f"wrote {len(events)} events to {app}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
