"""Spans around the calls the benchmark makes into each layer of the package.

``instrument`` wraps the module attributes through which those calls go, so
the traced run executes the same package code as the untraced one. Span names
are ``<layer>.<call>``; the layer is the package module the call enters.
"""

from __future__ import annotations

import inspect

from tracer import Tracer, self_times

from youtube_analytics_lakehouse_databricks_spark import runner, storage
from youtube_analytics_lakehouse_databricks_spark.ops import maintenance
from youtube_analytics_lakehouse_databricks_spark.plans import registry
from youtube_analytics_lakehouse_databricks_spark.quality import checks
from youtube_analytics_lakehouse_databricks_spark.sources import envelope

POOL_WORKERS = inspect.signature(registry.PipelineGraph.refresh).parameters["max_workers"].default


def instrument(tracer: Tracer, on_optimize) -> None:
    """Wrap the layer entry points. ``on_optimize(phase)`` is called with
    "start" and "end" around each optimize pass, to attribute the Spark jobs
    of that pass."""
    tracer.wrap(runner, "ingest", "sources.ingest")
    tracer.wrap(envelope, "ingest", "sources.ingest")
    tracer.wrap(runner, "validate_bronze_contract", "ops.contract_check")
    tracer.wrap(runner, "init_run_log", "ops.run_log")
    tracer.wrap(runner, "finalize_run", "ops.run_log")
    tracer.wrap(runner, "smoke_checks", "ops.smoke")
    tracer.wrap(maintenance, "zorder_rewrite", "ops.zorder_rewrite")
    tracer.wrap(runner, "gold_quality_checks", "quality.build")
    tracer.wrap(checks, "run_checks", "quality.checks")
    tracer.wrap(registry.PipelineGraph, "refresh", "plans.refresh")
    tracer.wrap(storage, "write_table", "storage.write")
    tracer.wrap(storage, "swap_overwrite", "storage.swap")
    _wrap_optimize(tracer, on_optimize)
    _wrap_views(tracer)


def _wrap_optimize(tracer: Tracer, on_optimize) -> None:
    def make(fn):
        def traced(*args, **kwargs):
            on_optimize("start")
            try:
                with tracer.span("ops.optimize"):
                    return fn(*args, **kwargs)
            finally:
                on_optimize("end")

        return traced

    for owner in (runner, maintenance):
        tracer.patch(owner, "optimize_tables", make)


def _wrap_views(tracer: Tracer) -> None:
    """One span per view refresh, ``models.<schema>.<view>``, parented to the
    refresh that runs it although it runs on the refresh's thread pool."""

    def make(run_levels):
        def traced(self, fn, wanted, max_workers):
            parent = tracer.current()

            def view_fn(view):
                with tracer.span(f"models.{view.schema}.{view.name}", parent=parent):
                    return fn(view)

            return run_levels(self, view_fn, wanted, max_workers)

        return traced

    tracer.patch(registry.PipelineGraph, "_run_levels", make)


def layer_times(tracer: Tracer) -> dict[str, float]:
    """Inclusive seconds per per-layer time metric, from the recorded spans."""
    t = tracer.total
    view_busy = sum(s.duration for s in tracer.spans if s.name.startswith("models."))
    refresh = t("plans.refresh")
    return {
        "sources.ingest_s": t("sources.ingest"),
        "plans.refresh_s": refresh,
        "plans.view_busy_s": view_busy,
        "plans.parallel_efficiency": view_busy / (refresh * POOL_WORKERS) if refresh else 0.0,
        "models.silver_s": sum(s.duration for s in tracer.spans if s.name.startswith("models.silver.")),
        "models.gold_s": sum(s.duration for s in tracer.spans if s.name.startswith("models.gold.")),
        "storage.write_s": t("storage.write"),
        "storage.swap_s": t("storage.swap"),
        "quality.checks_s": t("quality.build") + t("quality.checks"),
        "ops.optimize_s": t("ops.optimize"),
        "ops.run_log_s": t("ops.run_log"),
        "ops.contract_check_s": t("ops.contract_check"),
        "ops.smoke_s": t("ops.smoke"),
    }


def self_time_by_layer(tracer: Tracer) -> dict[str, float]:
    """Self seconds summed per layer (the span name's first component)."""
    st = self_times(tracer.spans)
    out: dict[str, float] = {}
    for s in tracer.spans:
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s.id]
    return out
