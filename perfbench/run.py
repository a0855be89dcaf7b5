"""Lakehouse benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload full_refresh --seed 1 --seconds 10 --trace 0

Runs from the repository root (or any checkout of it). The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from a traced run. ``--workload all`` runs every workload in
turn, each in its own process, and ends with one line for all of them, the
metric names prefixed by the workload. The lines before it print every metric
with its unit, the error rate and the run's context. Traced runs also write
their spans to ``.perfbench/traces/``.

The benchmark pins its environment: ``local[<cpus this process may use>]``,
a driver heap sized to the machine, ``PYTHONPATH`` set to the checkout so
Python workers import the package, and every scratch, spill and warehouse
directory inside ``.perfbench/`` of the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "youtube_analytics_lakehouse_databricks_spark"

END_TO_END = {
    "latency_p50_ms": "ms",
    "latency_p80_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "warehouse_bytes_per_payload_byte": "B/B",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.ingest_s": "s",
    "sources.envelopes": "count",
    "sources.payload_mb": "MB",
    "plans.refresh_s": "s",
    "plans.view_busy_s": "s",
    "plans.parallel_efficiency": "ratio",
    "models.silver_s": "s",
    "models.gold_s": "s",
    "storage.write_s": "s",
    "storage.swap_s": "s",
    "storage.bytes_written": "B",
    "storage.files_written": "count",
    "storage.write_amplification": "ratio",
    "quality.checks_s": "s",
    "quality.checks_failed": "count",
    "ops.optimize_s": "s",
    "ops.optimize_bytes_rewritten": "B",
    "ops.run_log_s": "s",
    "ops.contract_check_s": "s",
    "ops.smoke_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "spark.input_bytes": "B",
    "serving.plan_ms": "ms",
    "serving.exec_ms": "ms",
    "serving.files_scanned": "count",
    "serving.rows_scanned_per_row_returned": "ratio",
    "trace.op_ms": "ms",
    "trace.overhead_pct": "%",
}

WORKLOAD_NAMES = ("full_refresh", "gold_serving")
PR_SET_CHILD_SUBREAPER = 36


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def driver_heap() -> str:
    """A sixth of physical memory, between 1 and 4 GiB: in local mode every
    executor thread shares this heap, and other processes share the box."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, kib // 1024 // 6))}m"


def pin_environment(workdir: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(workdir, k) for k in ("warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": driver_heap(),
            "PYTHONPATH": REPO + (os.pathsep + old_pp if old_pp else ""),
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    return dirs


def become_subreaper() -> None:
    """Orphans under this process (the Spark JVM's Python workers, once the
    JVM has exited) re-parent to it rather than to init, so
    ``stop_descendants`` can find them and wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _live_descendants() -> list[int]:
    from probes import children

    kids, out, stack = children(), [], [os.getpid()]
    while stack:
        for pid in kids.get(stack.pop(), ()):
            stack.append(pid)
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(pid)
            except OSError:
                continue
    return out


def _reap_zombies() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and every process started under this one, and wait
    until each has ended. The JVM exits when its stdin closes (PySpark's own
    shutdown signal) and is killed if it has not within ``grace_s``. Every
    process still left under this one then gets SIGTERM, and SIGKILL once
    another ``grace_s`` has passed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap_zombies()
        live = _live_descendants()
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def percentile(values: list[float], q: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(out, session_s: float) -> dict[str, float]:
    lat_ms = [s * 1000 for s in out.latencies_s]
    return {
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_p80_ms": percentile(lat_ms, 80),
        "throughput_per_s": (out.attempted - out.failed) / sum(out.latencies_s),
        "setup_s": session_s + out.setup_s,
        "warehouse_bytes_per_payload_byte": out.warehouse_bytes / out.payload_bytes,
    }


def per_layer(out, bench, tracer, session_s: float, peak_rss: int) -> dict[str, float]:
    from layers import layer_times

    ops = bench.records.get("op", [])
    builds = bench.records.get("build") or ops
    n_builds = max(1, len(builds))
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    # Layer times are per pipeline run; the efficiency ratio is already one.
    m = {k: v if k == "plans.parallel_efficiency" else v / n_builds for k, v in layer_times(tracer).items()}
    m.update(
        {
            "process.peak_rss_mb": peak_rss / 2**20,
            "session.start_s": session_s,
            "storage.bytes_written": med([r.delta.output_bytes for r in builds]),
            "storage.files_written": med([r.files_written for r in builds]),
            "storage.write_amplification": med([r.delta.output_bytes / r.warehouse_bytes for r in builds]),
            "ops.optimize_bytes_rewritten": med([r.optimize_bytes for r in builds]),
            "spark.jobs": med([r.delta.jobs for r in ops]),
            "spark.stages": med([r.delta.stages for r in ops]),
            "spark.tasks": med([r.delta.tasks for r in ops]),
            "spark.shuffle_bytes": med([r.delta.shuffle_bytes for r in ops]),
            "spark.input_bytes": med([r.delta.input_bytes for r in ops]),
            "trace.op_ms": med([r.wall_s * 1000 for r in ops]),
            "trace.overhead_pct": 100 * sum(r.overhead_s for r in ops) / sum(r.wall_s for r in ops),
            "serving.plan_ms": 0.0,
            "serving.exec_ms": 0.0,
            "serving.files_scanned": 0.0,
            "serving.rows_scanned_per_row_returned": 0.0,
        }
    )
    m.update(out.layer)
    return {k: float(m[k]) for k in PER_LAYER}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    # A SIGTERM unwinds through the finally below, so the JVM is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    workdir = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    try:
        return _run(args, workdir)
    finally:
        stop_descendants()
        shutil.rmtree(workdir, ignore_errors=True)


def _run_all(args) -> int:
    """Every workload in a fresh process (each measures a cold JVM)."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if p.returncode != 0 or not lines:
            print(f"perfbench: {w} exited with {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        result = json.loads(lines[-1])
        total["correct"] = total["correct"] and result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in result["metrics"].items()})
    print(f"all workloads: {total['attempted']} ops, {total['failed']} failed, "
          f"error_rate {total['failed'] / max(total['attempted'], 1):.4f}")
    print(json.dumps(total))
    return 0


def _run(args, workdir: str) -> int:
    dirs = pin_environment(workdir)
    sys.path[:0] = [HERE, REPO]
    from probes import PeakRss, SparkStats
    from tracer import Tracer
    from workloads import WORKLOADS, Bench

    from youtube_analytics_lakehouse_databricks_spark.session import get_spark

    load0, (steal0, total0) = os.getloadavg(), cpu_times()
    tracer = Tracer() if args.trace else None
    with PeakRss() as rss:
        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": dirs["warehouse"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            },
        )
        session_s = time.perf_counter() - t
        try:
            bench = Bench(spark, REPO, dirs["warehouse"], args.seed, args.seconds, tracer)
            if tracer is not None:
                from layers import instrument

                bench.stats = SparkStats(spark)
                instrument(tracer, bench.on_optimize)
            out = WORKLOADS[args.workload](bench)
        finally:
            if tracer is not None:
                tracer.unwrap_all()
            spark.stop()
    steal1, total1 = cpu_times()

    e2e = end_to_end(out, session_s)
    metrics, units = e2e, END_TO_END
    if tracer is not None:
        metrics, units = per_layer(out, bench, tracer, session_s, rss.peak), PER_LAYER
        trace_dir = os.path.join(REPO, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(path)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(path, REPO)}")
        from layers import self_time_by_layer

        for layer, s in sorted(self_time_by_layer(tracer).items()):
            print(f"self time  {layer:<10} {s:10.3f} s")
    correct = out.failed == 0
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: {out.attempted} ops, "
          f"{out.failed} failed, error_rate {out.failed / max(out.attempted, 1):.4f}, correct {correct}")
    print(f"context: cpus {os.environ['SPARK_GRAFT_CPUS']}, driver heap {os.environ['SPARK_GRAFT_DRIVER_MEM']}, "
          f"loadavg {load0[0]:.2f} -> {os.getloadavg()[0]:.2f}, "
          f"steal {100 * (steal1 - steal0) / max(1, total1 - total0):.2f}%")
    for name, value in e2e.items():
        print(f"{name:<40} {value:14.4f} {END_TO_END[name]}")
    if tracer is None:
        print(f"{'process.peak_rss_mb':<40} {rss.peak / 2**20:14.4f} MB")
    else:
        for name, value in metrics.items():
            print(f"{name:<40} {value:14.4f} {PER_LAYER[name]}")
    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
