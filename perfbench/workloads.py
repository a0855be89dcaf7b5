"""The benchmark's workloads.

Each workload function takes a ``Bench`` (session, private warehouse, seed,
run length, optional tracer) and returns an ``Outcome``: per-op latencies,
ops attempted and failed, set-up time and sizes. Inputs come only from the
seed; the package sees only the generated payloads.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from generator import GOLD_TABLES, ChannelGenerator, Snapshot
from probes import SparkDelta, SparkStats, data_files, file_index, scan_metrics
from serving import DuckOracle, request_stream

from youtube_analytics_lakehouse_databricks_spark import runner
from youtube_analytics_lakehouse_databricks_spark.models.pipeline import build_graph
from youtube_analytics_lakehouse_databricks_spark.ops import maintenance
from youtube_analytics_lakehouse_databricks_spark.ops.smoke import smoke_checks
from youtube_analytics_lakehouse_databricks_spark.plans.registry import ensure_schemas
from youtube_analytics_lakehouse_databricks_spark.sources import envelope

# Channel size: 40 videos x 14 history days, about 0.6 MB of JSON payloads
# in 164 envelopes per backfill.
VIDEOS = 40
DAYS = 14
SCHEMAS = ("bronze", "silver", "gold", "ops")
REQUESTS = 2_000  # serving request stream, replayed in a cycle if a run outlasts it
# Untimed reads before the measured window, while the JIT compiles the read
# path; a read's latency falls most steeply over the first few seconds. A
# count, not a time, so every commit and every host warms up on the same work.
WARMUP_REQUESTS = 40
clock = time.perf_counter


@dataclass
class Outcome:
    latencies_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    warehouse_bytes: int = 0
    payload_bytes: int = 0
    layer: dict[str, float] = field(default_factory=dict)  # per-layer metrics


@dataclass
class OpRecord:
    """What a traced run learns about one op or one warehouse build."""

    wall_s: float
    overhead_s: float  # tracer bookkeeping and counter marks inside the op
    delta: SparkDelta
    files_written: int
    warehouse_bytes: int
    optimize_bytes: int


@dataclass
class Bench:
    spark: object
    repo: str
    warehouse: str
    seed: int
    seconds: float
    tracer: object | None = None
    stats: SparkStats | None = None
    records: dict[str, list[OpRecord]] = field(default_factory=dict)
    optimize_marks: list[int] = field(default_factory=list)
    mark_cost_s: float = 0.0

    def on_optimize(self, phase: str) -> None:
        t = clock()
        self.optimize_marks.append(self.stats.mark())
        self.mark_cost_s += clock() - t

    def reset_warehouse(self) -> None:
        for db in SCHEMAS:
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        os.makedirs(self.warehouse)

    def warehouse_bytes(self) -> int:
        return sum(size for _ino, size, _m in file_index(self.warehouse).values())


def run_context(seed: int, snap: Snapshot) -> envelope.RunContext:
    return envelope.RunContext(
        run_id=f"bench-{seed}-{snap.date.isoformat()}",
        snapshot_date=snap.date,
        ingest_ts_utc=dt.datetime.combine(snap.date, dt.time(6, 0)),
    )


def gold_counts(spark) -> dict[str, int]:
    return {t: spark.table(f"gold.{t}").count() for t in GOLD_TABLES}


def _warn(msg: str) -> None:
    print(msg, file=sys.stderr)


class _Traced:
    """Per-op bookkeeping of a traced run (a no-op when untraced): Spark
    counters, data files written, live warehouse bytes, bytes rewritten by
    OPTIMIZE and the tracer's own cost inside the op."""

    def __init__(self, b: Bench, kind: str):
        self.b, self.kind = b, kind

    def __enter__(self):
        b = self.b
        if b.tracer is None:
            return self
        self.mark = b.stats.mark()
        self.files = data_files(file_index(b.warehouse))
        b.optimize_marks.clear()
        self.book0, self.mark0 = b.tracer.bookkeeping_s, b.mark_cost_s
        self.t0 = clock()
        return self

    def __exit__(self, *exc):
        b = self.b
        if b.tracer is None:
            return False
        wall = clock() - self.t0
        overhead = b.tracer.bookkeeping_s - self.book0 + b.mark_cost_s - self.mark0
        index = file_index(b.warehouse)
        after = data_files(index)
        marks = b.optimize_marks
        b.records.setdefault(self.kind, []).append(
            OpRecord(
                wall_s=wall,
                overhead_s=overhead,
                delta=b.stats.since(self.mark),
                files_written=sum(1 for p, v in after.items() if self.files.get(p) != v),
                warehouse_bytes=sum(size for _i, size, _m in index.values()),
                optimize_bytes=sum(
                    b.stats.since(s, e).output_bytes for s, e in zip(marks[0::2], marks[1::2])
                ),
            )
        )
        return False


# ---------------------------------------------------------------------------
# full_refresh
# ---------------------------------------------------------------------------


def full_refresh(b: Bench) -> Outcome:
    """Each op: one cold ``run_pipeline(optimize=True)`` on an empty warehouse."""
    out = Outcome()
    t = clock()
    gen = ChannelGenerator(b.seed, VIDEOS, DAYS)
    snap = gen.backfill()
    source = gen.source(snap)
    out.payload_bytes = source.payload_bytes()
    expected = gen.expected_gold_counts([snap])
    today = snap.date.isoformat()
    out.setup_s = clock() - t
    out.layer["sources.envelopes"] = float(source.envelopes())
    out.layer["sources.payload_mb"] = out.payload_bytes / 1e6
    deadline = clock() + b.seconds
    while True:
        b.reset_warehouse()
        ok = True
        with _Traced(b, "op"):
            t0 = clock()
            try:
                report = runner.run_pipeline(b.spark, source, run_context(b.seed, snap), today=today, optimize=True)
            except Exception:
                report, ok = None, False
                _warn("run_pipeline raised:\n" + traceback.format_exc())
            out.latencies_s.append(clock() - t0)
        out.attempted += 1
        if ok:
            ok = _check_full_refresh(b, out, report, expected, today)
        out.failed += not ok
        if out.attempted == 1:
            out.warehouse_bytes = b.warehouse_bytes()
        if clock() >= deadline:
            break
    failed = [n for n, r in report["quality"].items() if not r["passed"]] if report else []
    out.layer["quality.checks_failed"] = float(len(failed))
    return out


def _check_full_refresh(b: Bench, out: Outcome, report: dict, expected: dict, today: str) -> bool:
    """Gate: status success, no hard quality failure, post-run smoke checks
    pass and gold row counts equal the generator's."""
    problems = []
    if report.get("status") != "success":
        problems.append(f"status {report.get('status')}")
    hard = [n for n, r in report.get("quality", {}).items() if not r["passed"] and r["severity"] == "error"]
    if hard:
        problems.append(f"hard quality failures {hard}")
    optimize_errors = _optimize_errors(report.get("optimize"))
    if optimize_errors:
        problems.append(f"optimize failed {optimize_errors}")
    try:
        smoke = smoke_checks(b.spark, today=today)
        got = gold_counts(b.spark)
    except Exception:
        smoke, got = {}, None
        problems.append("post-run checks raised:\n" + traceback.format_exc())
    bad_smoke = [k for k, v in smoke.items() if not v["passed"]]
    if bad_smoke:
        problems.append(f"smoke checks failed {bad_smoke}")
    if got is not None and got != expected:
        problems.append(f"gold counts {got} != expected {expected}")
    for p in problems:
        _warn(f"full_refresh op {out.attempted}: {p}")
    return not problems


def _optimize_errors(results: dict[str, str] | None) -> dict[str, str]:
    """The tables ``optimize_tables`` failed on. It runs lenient: it records
    ``error: ...`` per table and does not raise, so a broken rewrite would
    otherwise pass as a faster run. A missing result is an error too."""
    if results is None:
        return {"*": "no optimize result"}
    return {t: r for t, r in results.items() if r.startswith("error")}


# ---------------------------------------------------------------------------
# gold_serving
# ---------------------------------------------------------------------------


def build_warehouse(b: Bench, gen: ChannelGenerator, snap: Snapshot, out: Outcome) -> dict[str, str]:
    """The gold marts as the nightly job leaves them for dashboards: ingest,
    full refresh, then the runner's OPTIMIZE ZORDER of the gold tables.
    Bronze compaction is left out: no read here touches bronze. Returns the
    gold tables OPTIMIZE failed on."""
    ensure_schemas(b.spark)
    source = gen.source(snap)
    out.payload_bytes = source.payload_bytes()
    envelope.ingest(b.spark, source, run_context(b.seed, snap))
    build_graph().refresh(b.spark)
    optimized = maintenance.optimize_tables(
        b.spark, sorted(maintenance.ZORDER_DEFAULTS), zorder_cols=maintenance.ZORDER_DEFAULTS
    )
    out.layer["sources.envelopes"] = float(source.envelopes())
    out.layer["sources.payload_mb"] = out.payload_bytes / 1e6
    out.layer["quality.checks_failed"] = 0.0  # serving set-up runs no checks
    return _optimize_errors(optimized)


def gold_serving(b: Bench) -> Outcome:
    """Closed loop, one client: dashboard reads of the gold marts built in
    set-up. Every answer is checked against DuckDB after the run."""
    out = Outcome()
    t = clock()
    gen = ChannelGenerator(b.seed, VIDEOS, DAYS)
    snap = gen.backfill()
    with _Traced(b, "build"):
        optimize_errors = build_warehouse(b, gen, snap, out)
    oracle = DuckOracle(b.spark, b.repo)
    out.setup_s = clock() - t
    out.warehouse_bytes = b.warehouse_bytes()
    expected = gen.expected_gold_counts([snap])
    got = gold_counts(b.spark)
    warehouse_ok = got == expected and not optimize_errors
    if got != expected:
        _warn(f"gold_serving set-up: gold counts {got} != expected {expected}")
    if optimize_errors:
        _warn(f"gold_serving set-up: optimize failed {optimize_errors}")

    # Warm-up and the timed window each start at the head of the same
    # request list, so every run of a seed times the same reads.
    requests = request_stream(b.seed, gen.video_ids, list(snap.report_days), REQUESTS)
    for _kind, sql in requests[:WARMUP_REQUESTS]:
        b.spark.sql(sql).collect()
    answers = []
    plan_ms, exec_ms, files, scanned, returned = [], [], [], 0, 0
    deadline = clock() + b.seconds
    for kind, sql in itertools.cycle(requests):
        with _Traced(b, "op"):
            t0 = clock()
            try:
                if b.tracer is None:
                    df = b.spark.sql(sql)
                    rows = df.collect()
                else:
                    with b.tracer.span(f"serving.plan.{kind}"):
                        df = b.spark.sql(sql)
                        df._jdf.queryExecution().executedPlan()
                    t1 = clock()
                    with b.tracer.span(f"serving.exec.{kind}"):
                        rows = df.collect()
                    plan_ms.append((t1 - t0) * 1000)
                    exec_ms.append((clock() - t1) * 1000)
                ok = True
            except Exception:
                ok = False
                _warn(f"{kind} raised:\n" + traceback.format_exc())
            out.latencies_s.append(clock() - t0)
        out.attempted += 1
        if ok:
            answers.append((kind, sql, df.columns, [tuple(r) for r in rows]))
            if b.tracer is not None:
                f, r = scan_metrics(df)
                files.append(f)
                scanned += r
                returned += len(rows)
        else:
            out.failed += 1
        if clock() >= deadline:
            break
    if not warehouse_ok:  # every answer came from a wrong or unoptimized warehouse
        out.failed = out.attempted
        answers = []
    for kind, sql, cols, rows in answers:
        try:
            same = oracle.matches(sql, cols, rows)
        except Exception:
            same = False
            _warn(f"DuckDB raised on {kind}:\n" + traceback.format_exc())
        if not same:
            out.failed += 1
            _warn(f"{kind} differs from DuckDB: {sql}")
    oracle.close()
    if b.tracer is not None:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out.layer.update(
            {
                "serving.plan_ms": med(plan_ms),
                "serving.exec_ms": med(exec_ms),
                "serving.files_scanned": med(files),
                "serving.rows_scanned_per_row_returned": scanned / max(returned, 1),
            }
        )
    return out


WORKLOADS = {"full_refresh": full_refresh, "gold_serving": gold_serving}
