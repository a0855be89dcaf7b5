"""Table maintenance: the reference's OPTIMIZE pass re-expressed for OSS.

The reference runs `OPTIMIZE {fqn}` over an allowlist, skipping views/MVs
by tableType, with strict/lenient failure modes (reference:
job_tasks/ops/optimize_tables.py:17-52, 89-132). Delta OSS would use the
same SQL; on parquet tables compaction = coalesce-rewrite to a target
file count. Small-file pressure is the same problem at 100 TB — Bronze
appends one file per ingest, so periodic compaction keeps scan
parallelism aligned with data size instead of file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark import storage
from youtube_analytics_lakehouse_databricks_spark.plans.registry import POOL_WORKERS, pool_map

# Default OPTIMIZE ZORDER surface for the warehouse's gold fact tables:
# cluster each on (date, dimension key) — the two predicate families
# analysts actually filter by — so parquet footer min/max stats skip
# files for EITHER column. Mirrors the reference's OPTIMIZE allowlist
# (job_tasks/ops/optimize_tables.py:17-52) with the per-table ZORDER BY
# opt-in Delta exposes; the runner passes this map on its optimize step.
ZORDER_DEFAULTS: dict[str, list[str]] = {
    "gold.gold_channel_daily_summary": ["date", "channel_id"],
    "gold.gold_video_daily_summary": ["date", "video_id"],
    "gold.gold_video_country_daily_summary": ["date", "country_code"],
    "gold.gold_video_device_daily_summary": ["date", "device_type"],
    "gold.gold_video_traffic_source_daily_summary": ["date", "source_id"],
}


def optimize_tables(
    spark: SparkSession,
    fqns: list[str],
    strict: bool = False,
    target_partitions: int | None = None,
    zorder_cols: dict[str, list[str]] | None = None,
) -> dict[str, str]:
    """Compact each table; skip non-tables; 'error'/'skipped'/'optimized'
    per fqn (optimize_tables.py:110-132). Tables are independent, so they
    are rewritten concurrently on the run's 4-thread pool (the one refresh
    uses, plans.registry.pool_map); the result dict follows ``fqns`` order.
    Lenient mode records ``error: ...`` for a failing table and keeps the
    others. Strict mode lets every table finish, then raises the first
    failure in ``fqns`` order — tables after it in the list may already
    have been rewritten.

    Tables listed in ``zorder_cols`` get the ZORDER clustering rewrite
    (zorder_rewrite below) instead of plain compaction — the same opt-in
    shape as Delta's `OPTIMIZE ... ZORDER BY`.

    The compaction rewrite goes through storage.swap_overwrite, which
    captures and re-applies the table's existing partition layout —
    compacting a snapshot_date-partitioned Bronze table must NOT drop its
    partitioning, or the next partitioned append fails with a layout
    mismatch. On Delta the whole body becomes `OPTIMIZE {fqn}` (metadata
    compaction, no rewrite-by-read needed)."""

    def optimize_one(fqn: str) -> str:
        try:
            if not spark.catalog.tableExists(fqn):
                return "skipped_missing"
            table = spark.catalog.getTable(fqn)
            if (table.tableType or "").upper() == "VIEW":
                return "skipped_view"  # optimize_tables.py:91-94
            if zorder_cols and fqn in zorder_cols:
                zorder_rewrite(spark, fqn, zorder_cols[fqn])
                return "optimized_zorder"
            if storage.TABLE_FORMAT == "delta":
                spark.sql(f"OPTIMIZE {fqn}")
                return "optimized"
            df = spark.table(fqn)
            n = target_partitions or max(1, df.rdd.getNumPartitions() // 4)
            storage.swap_overwrite(spark, df.coalesce(n), fqn)
            return "optimized"
        except Exception as e:  # lenient mode records and continues
            if strict:
                raise
            return f"error: {e}"

    # A table listed twice would race two rewrites of itself (and of its
    # swap staging table), so each distinct fqn is optimized once.
    unique = list(dict.fromkeys(fqns))
    return dict(zip(unique, pool_map(optimize_one, unique, POOL_WORKERS)))


Z_BITS = 8  # bits per dimension in the interleaved key (256 range buckets)


def _zvalue(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append a `__zval` column: Morton (Z-order) interleave of each
    column's equal-frequency range-bucket id.

    Fully distributed: one repartitionByRange exchange per column, then
    spark_partition_id() IS the bucket id (range partitions are ordered by
    key and sized equal-frequency by the partitioner's sampling — the same
    sampled range boundaries Delta's OPTIMIZE ZORDER uses). No global
    single-task window sort, so the pass scales to arbitrary table sizes;
    works for any orderable type (dates, strings, numerics). 2^Z_BITS
    buckets per dimension bounds the tile resolution, which is plenty to
    distinguish per-file hyper-rectangles up to ~2^(Z_BITS*ndim) files."""
    out = df
    n_buckets = 1 << Z_BITS
    for i, c in enumerate(cols):
        out = out.repartitionByRange(n_buckets, F.col(c)).withColumn(
            f"__zr{i}", F.spark_partition_id().cast("long")
        )
    ndim = len(cols)
    parts = [
        f"(((__zr{i} >> {b}) & 1) << {b * ndim + i})"
        for i in range(ndim)
        for b in range(Z_BITS)
    ]
    zval = F.expr(" + ".join(parts))
    return out.withColumn("__zval", zval).drop(*[f"__zr{i}" for i in range(ndim)])


def zorder_rewrite(
    spark: SparkSession, fqn: str, cols: list[str], n_files: int | None = None
) -> None:
    """OPTIMIZE ZORDER BY emulation for parquet tables: rewrite the table
    range-partitioned and sorted on the Morton interleave of ``cols``, so
    each output file covers a tight hyper-rectangle in the z-ordered key
    space and parquet min/max footer stats skip files for predicates on
    ANY of the clustered columns (reference runs Delta OPTIMIZE, whose
    ZORDER variant this mirrors; job_tasks/ops/optimize_tables.py).

    On Delta the body becomes `OPTIMIZE {fqn} ZORDER BY (cols)`. The
    parquet path materializes the clustered rows with an eager
    localCheckpoint before overwriting (a staging-table round trip would
    re-scan and could merge the carefully ranged files); at 100 TB swap
    the checkpoint for a staging LOCATION + atomic metastore repoint."""
    if storage.TABLE_FORMAT == "delta":
        spark.sql(f"OPTIMIZE {fqn} ZORDER BY ({', '.join(cols)})")
        return
    df = spark.table(fqn)
    part = storage.table_partitioning(spark, fqn)
    n = n_files or max(1, df.rdd.getNumPartitions())
    clustered = (
        _zvalue(df, cols)
        .repartitionByRange(n, F.col("__zval"))
        .sortWithinPartitions("__zval")
        .drop("__zval")
        .localCheckpoint(eager=True)
    )
    writer = clustered.write.mode("overwrite").format(storage.TABLE_FORMAT)
    if part:
        writer = writer.partitionBy(*part)
    writer.saveAsTable(fqn)
    spark.catalog.refreshTable(fqn)
