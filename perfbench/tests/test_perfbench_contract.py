"""The printed metrics match BENCHMARK.json, and a checkout without the
package fails without printing a result."""

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

import run
from probes import SparkDelta
from tracer import Tracer
from workloads import OpRecord, Outcome

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in s["workloads"]] == list(run.WORKLOAD_NAMES)


def test_setup_metric_has_the_largest_bound():
    e2e = spec()["end_to_end"]
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e) <= 0.25


def _outcome():
    return Outcome(latencies_s=[1.0, 2.0, 3.0], attempted=3, failed=0, setup_s=2.0,
                   warehouse_bytes=300, payload_bytes=200)


def test_end_to_end_metrics_are_every_listed_metric():
    m = run.end_to_end(_outcome(), session_s=1.5)
    assert set(m) == set(run.END_TO_END)
    assert m["latency_p50_ms"] == 2000
    assert m["setup_s"] == 3.5
    assert m["warehouse_bytes_per_payload_byte"] == 1.5
    assert m["throughput_per_s"] == 0.5


def test_per_layer_metrics_are_every_listed_metric():
    rec = OpRecord(wall_s=2.0, overhead_s=0.01, delta=SparkDelta(5, 6, 7, 8, 9, 100),
                   files_written=4, warehouse_bytes=50, optimize_bytes=10)
    bench = SimpleNamespace(records={"op": [rec]})
    out = _outcome()
    out.layer = {"sources.envelopes": 165.0, "sources.payload_mb": 0.6, "quality.checks_failed": 1.0}
    m = run.per_layer(out, bench, Tracer(), session_s=1.0, peak_rss=2**30)
    assert list(m) == list(run.PER_LAYER)
    assert m["spark.jobs"] == 5 and m["storage.write_amplification"] == 2
    assert m["trace.overhead_pct"] == 0.5
    assert m["process.peak_rss_mb"] == 1024


@pytest.mark.parametrize("workload", ["full_refresh", "all"])
def test_fails_without_the_package(tmp_path, workload):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_stop_descendants_ends_orphaned_grandchildren():
    """Grandchildren orphaned by their parent, as the JVM orphans its Python
    workers, re-parent to the benchmark and are ended and waited for."""
    script = (
        "import os, subprocess, run\n"
        "run.become_subreaper()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!; sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                     stdout=subprocess.PIPE, text=True).stdout\n"
        "pids = [int(p) for p in out.split()]\n"
        "assert sorted(run._live_descendants()) == sorted(pids)\n"
        "run.stop_descendants(grace_s=5)\n"
        "assert run._live_descendants() == []\n"
        "assert not any(os.path.exists(f'/proc/{p}') for p in pids)\n"
        "print('ok')\n"
    )
    p = subprocess.run([sys.executable, "-c", script], cwd=os.path.join(ROOT, "perfbench"),
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "ok"
