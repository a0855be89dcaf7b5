"""Materialized-view registry: the OSS stand-in for Lakeflow MV refresh.

The reference declares 14 `CREATE OR REFRESH MATERIALIZED VIEW` statements
and lets the pipeline service topologically order them by table references
(reference: lakeflow/bronze_to_silver_pipeline.sql, databricks.yml:5-16).
OSS Spark has no MV, so a refresh here is: build each view's DataFrame in
dependency order and persist it with overwrite-saveAsTable (SURVEY.md §3.1).

Design for scale: each view body is a plain DataFrame (Catalyst plans it),
the write is a full recompute — the same semantics Lakeflow guarantees.
Independent views at the same topological depth refresh concurrently on a
4-thread pool (parity with the reference's dbt `threads: 4`); at 100 TB
you'd also partition the fact writes by date (partitionBy) so downstream
date-pruned reads skip files.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

# Width of every thread pool a run submits Spark actions from: refresh
# levels, the quality checks and the OPTIMIZE pass — parity with the
# reference's dbt `threads: 4` (dbt/profiles.yml:12).
POOL_WORKERS = 4


def pool_map(fn: Callable, items: Iterable, max_workers: int) -> list:
    """``fn`` over ``items`` on a thread pool; Spark's scheduler interleaves
    the jobs the calls submit. Results come back in input order. Every call
    runs to completion; if any raised, the first exception in input order
    is re-raised after the pool has drained."""
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return list(pool.map(fn, items))


@dataclass(frozen=True)
class ViewDef:
    name: str  # unqualified table name, e.g. "silver_channels"
    schema: str  # target schema: "silver" | "gold"
    deps: tuple[str, ...]  # names of other ViewDefs this one reads
    builder: Callable[[SparkSession], DataFrame]
    partition_by: tuple[str, ...] = ()
    # Incremental refresh support (latest-wins views only): a builder that
    # accepts a `since` watermark and the business keys to merge on. Views
    # without merge support always fully recompute (e.g. SCD2, dims, date
    # spine, gold marts — correct and cheap relative to the facts).
    incremental_builder: Callable[[SparkSession, object], DataFrame] | None = None
    merge_keys: tuple[str, ...] = ()
    merge_order: tuple[str, ...] = ("snapshot_date", "ingest_ts_utc", "request_id")
    # Escape hatch for views whose incremental logic isn't a latest-wins
    # merge (e.g. SCD2 history splicing): called instead of the generic
    # path, returns the mode string and manages its own watermark.
    custom_incremental: Callable[[SparkSession], str] | None = None

    @property
    def fqn(self) -> str:
        return f"{self.schema}.{self.name}"


@dataclass
class PipelineGraph:
    views: dict[str, ViewDef] = field(default_factory=dict)

    def register(self, view: ViewDef) -> None:
        if view.name in self.views:
            raise ValueError(f"duplicate view {view.name}")
        self.views[view.name] = view

    def topo_order(self) -> list[ViewDef]:
        ts = TopologicalSorter({n: set(v.deps) & set(self.views) for n, v in self.views.items()})
        return [self.views[n] for n in ts.static_order()]

    def _run_levels(self, fn, wanted: set[str], max_workers: int) -> list:
        """Walk the dependency graph level by level, running ``fn(view)``
        for same-depth views concurrently (pool_map). Each level is a
        barrier, so a view never builds before its deps are written.
        Returns fn results in deterministic (level, registration) order."""
        graph = {n: set(self.views[n].deps) & wanted for n in self.views if n in wanted}
        ts = TopologicalSorter(graph)
        ts.prepare()
        reg_order = {n: i for i, n in enumerate(self.views)}
        results: list = []
        while ts.is_active():
            level = sorted(ts.get_ready(), key=reg_order.__getitem__)
            results.extend(pool_map(lambda n: fn(self.views[n]), level, max_workers))
            for name in level:
                ts.done(name)
        return results

    def refresh(
        self, spark: SparkSession, only: set[str] | None = None, max_workers: int = POOL_WORKERS
    ) -> list[str]:
        """Full refresh in dependency order; returns refreshed FQNs.
        Same-depth views refresh concurrently (see _run_levels). ``only``
        restricts to a subset *plus* everything upstream of it, mirroring
        a scoped pipeline refresh.
        """
        from youtube_analytics_lakehouse_databricks_spark import storage

        wanted = set(self.views) if only is None else self._with_upstream(only)

        def _write(view: ViewDef) -> str:
            storage.write_table(view.builder(spark), view.fqn, "overwrite", view.partition_by)
            return view.fqn

        return self._run_levels(_write, wanted, max_workers)

    def refresh_incremental(
        self, spark: SparkSession, max_workers: int = POOL_WORKERS
    ) -> dict[str, str]:
        """Incremental refresh: views with merge support process only
        bronze envelopes newer than their stored watermark and merge into
        the existing table (union + latest-wins + swap — the same math as
        a full recompute, restricted to touched keys); everything else
        fully recomputes. Same-depth views refresh concurrently (each
        touches only its own table; watermark writes are serialized by a
        lock inside set_watermark). Returns {fqn: mode}.

        At 100 TB this turns the nightly refresh of the big fact tables
        from O(history) into O(new envelopes); on Delta the swap becomes a
        keyed MERGE and only touched partitions rewrite.
        """
        from youtube_analytics_lakehouse_databricks_spark import storage
        from youtube_analytics_lakehouse_databricks_spark.plans.watermarks import get_watermark, set_watermark

        def _one(view: ViewDef) -> tuple[str, str]:
            if view.custom_incremental is not None:
                return view.fqn, view.custom_incremental(spark)
            can_merge = (
                view.incremental_builder is not None
                and view.merge_keys
                and spark.catalog.tableExists(view.fqn)
            )
            if not can_merge:
                storage.write_table(view.builder(spark), view.fqn, "overwrite", view.partition_by)
                if view.incremental_builder is not None:
                    set_watermark(spark, view.fqn, _max_ingest(spark.table(view.fqn)))
                    return view.fqn, "bootstrap"
                return view.fqn, "full"
            since = get_watermark(spark, view.fqn)
            delta = view.incremental_builder(spark, since)
            if delta.limit(1).count() == 0:
                return view.fqn, "noop"
            # Latest-wins upsert: on Delta this is a keyed MERGE touching
            # only matched files; on parquet it is union + window + swap —
            # identical result (storage.merge_upsert).
            storage.merge_upsert(
                spark,
                view.fqn,
                delta,
                keys=list(view.merge_keys),
                order=list(view.merge_order),
                partition_by=view.partition_by,
            )
            set_watermark(spark, view.fqn, _max_ingest(spark.table(view.fqn)))
            return view.fqn, "merged"

        return dict(self._run_levels(_one, set(self.views), max_workers))

    def _with_upstream(self, names: set[str]) -> set[str]:
        out: set[str] = set()
        stack = list(names)
        while stack:
            n = stack.pop()
            if n in out or n not in self.views:
                continue
            out.add(n)
            stack.extend(self.views[n].deps)
        return out


def _max_ingest(df: DataFrame):
    """Watermark = max processed ingest_ts_utc. Safe because ingest_ts is
    assigned at envelope-write time (late/backfill data gets a NEW
    ingest_ts — the latest-wins design); under-watermarking only causes
    harmless idempotent re-merges."""
    from pyspark.sql import functions as F

    row = df.agg(F.max("ingest_ts_utc").alias("m")).collect()
    return row[0]["m"] if row else None


def ensure_schemas(spark: SparkSession, schemas: tuple[str, ...] = ("bronze", "silver", "gold")) -> None:
    """CREATE SCHEMA IF NOT EXISTS for the medallion namespaces
    (reference: lakeflow/bootstrap_unity_catalog.sql:5-14; the reference's
    3-level Unity Catalog collapses to 2-level catalog.schema here)."""
    for s in schemas:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {s}")
