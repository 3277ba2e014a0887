"""Span -> job attribution and event-log parsing."""

import json
from pathlib import Path

from perfbench import tracing
from perfbench.tracing import Span

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog"


def _job(job, t, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _task(stage, launch=0, finish=10, run=6, records=1, failed=False,
          fetch_wait=0, shuffle_write=0, read_bytes=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Getting Result Time": 0, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run, "Executor Deserialize Time": 1,
            "Result Serialization Time": 0,
            "Input Metrics": {"Bytes Read": read_bytes, "Records Read": records},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_wait,
                                     "Total Records Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write,
                                      "Shuffle Records Written": 0},
        },
    }


SPANS = [Span("wand.search", "perfbench-0", 100.0, 200.0),
         Span("builder.build", "perfbench-1", 300.0, 400.0)]


def test_jobs_attributed_by_group_first():
    # submitted inside span 0's window but tagged with span 1's group:
    # the group wins
    attr = tracing.attribute([_job(0, 150, [0], group="perfbench-1")], SPANS)
    assert attr.job_span == {0: 1}


def test_untagged_jobs_fall_back_to_time_window():
    events = [
        _job(0, 150, [0]),            # inside span 0
        _job(1, 300, [1]),            # at span 1's start edge
        _job(2, 400, [2]),            # at span 1's end edge
        _job(3, 250, [3]),            # between spans
        _job(4, 50, [4], group="other-group"),  # foreign group, no window
    ]
    attr = tracing.attribute(events, SPANS)
    assert attr.job_span == {0: 0, 1: 1, 2: 1}
    assert attr.unattributed_jobs == 2
    assert [a.jobs for a in attr.per_span] == [1, 2]


def test_tasks_follow_their_stage_to_the_submitting_job():
    events = [
        _job(0, 150, [0, 1], group="perfbench-0"),
        _task(0, run=5, read_bytes=100),
        _task(1, launch=0, finish=20, run=6, records=0, fetch_wait=3,
              shuffle_write=64),
        # job 1 re-lists stage 1 (skipped) — later tasks of new stage 2
        _job(1, 350, [1, 2], group="perfbench-1"),
        _task(2, failed=True),
        _task(99),                    # stage of no known job: ignored
    ]
    attr = tracing.attribute(events, SPANS)
    a, b = attr.per_span
    assert (a.tasks, a.useful_tasks, a.failed_tasks) == (2, 1, 0)
    assert a.executor_run_ms == 11
    # scheduler delay: (10-5-1) + (20-6-1), plus 3 ms shuffle fetch wait
    assert a.wait_ms == 4 + 13 + 3
    assert (a.shuffle_bytes, a.io_bytes) == (64, 100)
    assert (b.tasks, b.failed_tasks) == (1, 1)


def test_span_metrics_are_per_call_medians_and_zero_when_not_called():
    spans = [Span("wand.search", f"g{i}", 100.0 * i, 100.0 * i + w)
             for i, w in enumerate([10.0, 30.0, 20.0])]
    events = [_job(i, 100 * i + 1, [i], group=f"g{i}") for i in range(3)]
    events += [_task(0), _task(1), _task(1), _task(2, records=0)]
    attr = tracing.attribute(events, spans)
    m = tracing.span_metrics(spans, attr, ["wand.search", "phrase.phrase"],
                             {"wand.search", "phrase.phrase"})
    assert m["wand.search.calls"] == (3.0, "count")
    assert m["wand.search.wall_ms"] == (20.0, "ms")
    assert m["wand.search.tasks"] == (1.0, "count")
    assert m["wand.search.useful_task_ratio"] == (0.75, "ratio")
    assert m["phrase.phrase.calls"] == (0.0, "count")
    assert m["phrase.phrase.jobs"] == (0.0, "count")
    assert m["phrase.phrase.useful_task_ratio"] == (0.0, "ratio")


def test_rolled_parts_are_read_in_write_order(tmp_path):
    import pyarrow as pa

    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for n in (1, 2, 10):  # 10 sorts before 2 as text
        with pa.output_stream(str(app / f"events_{n}_local-1.zstd"), compression="zstd") as f:
            f.write((json.dumps(_job(n, n, [n])) + "\n").encode())
    assert [e["Job ID"] for e in tracing.read_events(str(tmp_path))] == [1, 2, 10]


def test_recorded_zstd_log_attributes_by_group_and_by_window():
    """A log Spark 4.1 wrote (rolling, zstd), trimmed to the events the
    parser reads; ``spans.json`` holds the spans recorded with it."""
    spans = [Span(**s) for s in json.loads((FIXTURE / "spans.json").read_text())]
    files = tracing.log_files(str(FIXTURE))
    assert files and all(f.endswith(".zstd") for f in files)
    events = list(tracing.read_events(str(FIXTURE)))
    assert any(e["Event"] == "SparkListenerTaskEnd" for e in events)
    attr = tracing.attribute(events, spans)
    by_name = {s.name: attr.per_span[i] for i, s in enumerate(spans)}
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    # "grouped": two count() calls on the calling thread (three jobs
    # under AQE), each tagged with the span's group
    grouped = [j for j in jobs if j["Properties"].get("spark.jobGroup.id") == "perfbench-0"]
    assert len(grouped) == 3 and by_name["grouped"].jobs == 3
    # "threaded": one count() from a helper thread, whose jobs carry no
    # group — attributed through the span's time window
    assert by_name["threaded"].jobs == 2
    assert all(not jobs[i]["Properties"] for i, s in attr.job_span.items() if s == 1)
    for acc in attr.per_span:
        assert acc.tasks >= acc.jobs and acc.failed_tasks == 0
        assert acc.executor_run_ms >= 0 and acc.useful_tasks <= acc.tasks
    # the job run between the spans belongs to neither
    assert attr.unattributed_jobs == 1
