"""Post-deploy smoke checks (reference: scripts/post_deploy_smoke_checks.py:21-42, 200-363).

Checks: required objects exist across bronze/silver/gold; latest run
status is success; COUNT(*) > 0 on core gold tables; gold recency lag
within threshold. Returns a structured report instead of exiting."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.ops.run_log import latest_run_status

REQUIRED_OBJECTS = [
    "bronze.channels_raw",
    "bronze.videos_raw",
    "bronze.analytics_channel_daily_raw",
    "bronze.analytics_video_daily_raw",
    "silver.silver_channels",
    "silver.silver_videos",
    "silver.fact_channel_daily_metrics",
    "silver.fact_video_daily_metrics",
    "silver.dim_date",
    "silver.dim_country",
    "gold.gold_channel_daily_summary",
    "gold.gold_video_daily_summary",
    "gold.gold_video_country_daily_summary",
    "gold.gold_video_device_daily_summary",
]

CORE_GOLD = ["gold.gold_channel_daily_summary", "gold.gold_video_daily_summary"]


def smoke_checks(
    spark: SparkSession, max_lag_days: int = 7, today: str | None = None
) -> dict[str, dict]:
    report: dict[str, dict] = {}
    exists = {t: spark.catalog.tableExists(t) for t in dict.fromkeys(REQUIRED_OBJECTS + CORE_GOLD)}
    missing = [t for t in REQUIRED_OBJECTS if not exists[t]]
    report["objects_exist"] = {"passed": not missing, "missing": missing}

    status = latest_run_status(spark)
    report["latest_run_success"] = {"passed": status == "success", "status": status}

    # Row count and recency lag of each core gold table in one aggregate.
    today_col = F.to_date(F.lit(today)) if today else F.current_date()
    counts, lags = {}, {}
    for t in CORE_GOLD:
        if exists[t]:
            row = (
                spark.table(t)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.datediff(today_col, F.max("date")).alias("lag"),
                )
                .collect()[0]
            )
            counts[t], lags[t] = row["n"], row["lag"]
    report["core_gold_nonempty"] = {
        "passed": bool(counts) and all(c > 0 for c in counts.values()),
        "counts": counts,
    }
    report["gold_recency"] = {
        "passed": bool(lags) and all(lag is not None and lag <= max_lag_days for lag in lags.values()),
        "lags": lags,
        "max_lag_days": max_lag_days,
    }
    return report
