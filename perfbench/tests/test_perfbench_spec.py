"""The runner's result metrics are exactly the ones BENCHMARK.json lists."""

import json
from pathlib import Path
from types import SimpleNamespace

from perfbench import run, tracing

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def _outcome(tmp_path):
    idx = tmp_path / "index"
    (idx / "segments").mkdir(parents=True)
    (idx / "segments" / "part-0.parquet").write_bytes(b"x" * 300)
    (idx / "_meta.json").write_text("{}")
    return SimpleNamespace(items=9, timed_s=14.5, index_dir=str(idx),
                           input_bytes=1000, store_dir="")


def _names_units(metrics: dict) -> dict:
    return {k: u for k, (_, u) in metrics.items()}


def test_end_to_end_metrics_match_the_spec(tmp_path):
    e2e = run.end_to_end(40.0, _outcome(tmp_path), [1500.0, 1600.0, 1550.0])
    assert _names_units(e2e) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e["op_p50_ms"][0] == 1550.0
    assert e2e["index_bytes_per_input_byte"][0] == (300 + 2) / 1000


def test_per_layer_metrics_match_the_spec(tmp_path):
    out = _outcome(tmp_path)
    e2e = run.end_to_end(40.0, out, [1500.0])
    attr = tracing.attribute([], [])
    layer = run.per_layer([], attr, out, e2e)
    assert _names_units(layer) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert layer["builder.bytes.segments"] == (300.0, "bytes")
    assert layer["trace.op_p50_ms"] == (1500.0, "ms")


def test_spec_bounds_and_setup_metric():
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
    assert SPEC["paths"] == ["perfbench"]
    assert {w["name"] for w in SPEC["workloads"]} == set(run.OP_NAMES)
