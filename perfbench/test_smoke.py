"""Smoke test of the benchmark: every workload, untraced and traced, on
tiny inputs.  Asserts that each run passes its own output checks and
emits every metric BENCHMARK.json names, with its unit, plus the
workload's named metrics in the report line.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

NAMED = {
    "ingest_load": {
        "ingest_rows_per_s", "load_p50_ms", "validate_cells_per_s",
        "store_bytes_per_input_byte", "stream_rows_per_s", "stream_batch_p50_ms",
        "lookup_p50_ms", "lookup_p90_ms", "scan_p50_ms", "scan_p90_ms", "merge_p50_ms",
    },
    "curation_build": {"curation_docs_per_s"},
}

LAYER_TIMES = {
    "ingest_load": {
        "ingest.parse_s", "ingest.enrich_s", "keys.salt_s", "cellstore.to_cells_s",
        "cellstore.write_s", "validate.compare_s", "cellstore.lookup_s",
        "cellstore.scan_s", "cellstore.merge_s", "stream.add_batch_ms", "stream.commit_ms",
    },
    "curation_build": {"driver.build_s"},
}


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    assert lines[-2].startswith("report "), lines[-2:]
    return json.loads(lines[-1]), json.loads(lines[-2][len("report "):])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted(workload: str, trace: int) -> None:
    result, report = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"]), m["name"]
    assert NAMED[workload] <= set(report["named"])
    for named in report["named"].values():
        assert named["unit"]
    meta = report["meta"]
    for key in ("seed", "input_rows", "input_bytes", "nproc", "master", "driver_heap",
                "spark", "pyarrow", "python", "external_busy_cores"):
        assert key in meta, key
    if trace:
        assert LAYER_TIMES[workload] <= set(report["per_layer"])
        assert report["self_times"]
        for k in ("trace.overhead_s", "trace.span_coverage"):
            assert k in report["per_layer"]


def test_fails_without_the_package(tmp_path) -> None:
    """Where only the benchmark is present the run must exit non-zero
    and print no result."""
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (tmp_path / "perfbench" / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_load", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
