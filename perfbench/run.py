"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run starts its own Spark JVM on
``local[<nproc>]``, makes its inputs from ``--seed``, times a closed
loop for ``--seconds``, checks the outputs and stops the JVM.  Every
metric is printed by name with its unit; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``.  All scratch data
lives under ``.perfbench_work/`` in the repository and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, str(ROOT))

from perfbench import stats, tracing  # noqa: E402

SPAN_NAMES = [
    "builder.build", "wand.search", "wand.search_and", "wand.prefix",
    "phrase.phrase", "phrase.near", "pipeline.analyze_documents",
    "neardup.add", "neardup.probe", "stylometry.compare_profiles",
]
QUERY_SPANS = {
    "wand.search", "wand.search_and", "wand.prefix", "phrase.phrase",
    "phrase.near", "pipeline.analyze_documents",
}
# what an "op" and an "item" are in each workload
OP_NAMES = {"serve": ("query", "queries"), "report": ("report batch", "documents")}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["serve", "report"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _git_sha() -> str | None:
    """The checked-out commit, or None outside a git checkout."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def _prepare_env(work: Path, trace: bool) -> None:
    """Point everything the JVM and its Python workers write into the
    run's scratch directory, and (traced runs only) turn on the event
    log — set here, before the JVM starts, not in the engine's session
    factory."""
    for sub in ("local", "tmp", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_SCRATCH"] = str(work / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    submit = [
        # no hsperfdata file in the system temp dir
        "--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in submit + ["pyspark-shell"]
    )


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _steal(a: tuple, b: tuple) -> float:
    total = sum(y - x for x, y in zip(a, b))
    return (b[7] - a[7]) / total if len(a) > 7 and total > 0 else 0.0


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _index_bytes(index_dir: Path) -> dict[str, int]:
    """Bytes at rest per index part: the WAND segments, the merged
    postings, the ingest runs."""
    parts = {"segments": 0, "merged": 0, "runs": 0}
    for child in index_dir.iterdir():
        for part in parts:
            if child.name.startswith(part):
                parts[part] += _dir_bytes(child) if child.is_dir() else child.stat().st_size
    return parts


def main(argv=None) -> int:
    args = _args(argv)
    t_start = time.perf_counter()
    try:
        import docinsight_spark  # noqa: F401  (the engine must be present)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work, bool(args.trace))
    try:
        return _run(args, work, t_start, WORKLOADS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run's dir is left
        except OSError:
            pass


def end_to_end(setup_s: float, out, lat_ms: list[float]) -> dict:
    """The result metrics of an untraced run: name -> (value, unit)."""
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (stats.median(lat_ms) if lat_ms else float("nan"), "ms"),
        "throughput_per_s": (out.items / out.timed_s, "1/s"),
        "index_bytes_per_input_byte": (
            _dir_bytes(Path(out.index_dir)) / out.input_bytes, "ratio"),
    }


def per_layer(spans, attr, out, e2e: dict) -> dict:
    """The result metrics of a traced run: the spans' per-call figures,
    bytes at rest, and the traced run's own end-to-end figures (against
    the untraced medians they give the tracing overhead)."""
    layer = tracing.span_metrics(spans, attr, SPAN_NAMES, QUERY_SPANS)
    for part, n in _index_bytes(Path(out.index_dir)).items():
        layer[f"builder.bytes.{part}"] = (float(n), "bytes")
    store = Path(out.store_dir) if out.store_dir else None
    layer["neardup.bytes.store"] = (
        float(_dir_bytes(store)) if store and store.is_dir() else 0.0, "bytes")
    for name in ("setup_s", "op_p50_ms", "throughput_per_s"):
        layer[f"trace.{name}"] = e2e[name]
    layer["trace.unattributed_jobs"] = (float(attr.unattributed_jobs), "count")
    return layer


def _run(args, work: Path, t_start: float, workloads) -> int:
    from docinsight_spark.hostload import _read_stat, loadavg
    from docinsight_spark.session import get_spark

    nproc = os.cpu_count() or 1
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=nproc)
    jvm_start_s = time.perf_counter() - t_start
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        phases = workloads[args.workload](
            spark, tracer, str(work), args.seed, args.seconds)
        out = next(phases)                      # set-up: datagen, build, warm-up
        setup_s = time.perf_counter() - t_start
        stat0 = _read_stat()
        out = next(phases)                      # the timed loop, then the checks
        stat1 = _read_stat()
        rss_mb = _vm_hwm_mb(jvm_pid)
        spark_version = spark.version
    finally:
        _stop_jvm(spark)

    lat_ms = [x * 1000.0 for x in out.latencies_s]
    op, items = OP_NAMES[args.workload]
    if not lat_ms:
        print(f"perfbench: no {op} completed", file=sys.stderr)
    e2e = end_to_end(setup_s, out, lat_ms)
    tail = stats.tail(lat_ms)
    # printed, not result metrics: an error rate of 0 has no spread to
    # bound, the JVM's peak RSS follows heap growth more than the work,
    # and one build per run spreads more than a bound of 0.25 allows
    named = {
        "error_rate": (out.failed / out.attempted if out.attempted else 0.0, "ratio"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
        "build_files_per_s": (out.built_files / out.build_s, "files/s"),
    }
    if args.workload == "serve":
        named["serve_p50_ms"] = e2e["op_p50_ms"]
        named["serve_tail_ms"] = (tail[1] if tail else None, "ms")
        named["serve_qps"] = e2e["throughput_per_s"]
    else:
        named["report_docs_per_s"] = e2e["throughput_per_s"]
        named["report_batch_p50_ms"] = e2e["op_p50_ms"]

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "steal_pct": 100.0 * _steal(stat0, stat1), "loadavg": loadavg(),
        "spark": spark_version, "python": platform.python_version(),
        "git_sha": _git_sha(),
        "op": op, "items": items, "ops_timed": len(lat_ms), "latencies_ms": lat_ms,
        "tail_percentile": tail[0] if tail else None,
        "tail_rule": "highest percentile with >= 10 samples beyond; null under 20 samples",
        "timed_s": out.timed_s, "jvm_start_s": jvm_start_s,
        "build_s": out.build_s, "built_files": out.built_files,
        "input_bytes": out.input_bytes, **out.extra,
    }
    for name, (v, unit) in {**e2e, **named}.items():
        print(f"metric {name} = {v} {unit}")
    for name, ok, detail in out.checks:
        verdict = {True: "ok", False: "FAILED", None: "observed"}[ok]
        print(f"check {name}: {verdict} ({detail})")
    correct = bool(lat_ms) and all(ok is not False for _, ok, _ in out.checks)

    if args.trace:
        attr = tracing.attribute(
            tracing.read_events(str(work / "eventlog")), tracer.spans)
        metrics = per_layer(tracer.spans, attr, out, e2e)
        for name, (v, unit) in metrics.items():
            print(f"layer {name} = {v} {unit}")
    else:
        metrics = e2e
    print("record " + json.dumps(record, sort_keys=True))
    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
