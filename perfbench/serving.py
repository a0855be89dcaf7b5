"""Dashboard reads against the gold marts, and their DuckDB oracle.

Each op is one SQL statement a dashboard would send. The five op types take
equal shares, in a fixed cycle: the repo holds no recorded dashboard traffic
to weight them by. Video ids are drawn Zipf-skewed over a seeded popularity
order, so a few videos take most reads.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import random
from urllib.parse import unquote, urlparse

from generator import CHANNEL_ID

# The Zipf exponent is an assumption, not a measurement of this channel's
# traffic: s = 1.1 puts about a third of the reads on the top 3 of 40 videos.
ZIPF_S = 1.1
# Op types repeat in this cycle, so every run and every seed sends the same
# mix in the same order; the seed draws only the videos and dates.
CYCLE = ["video_series", "channel_range", "top_countries", "device_share", "traffic_mix"]

SQL = {
    "video_series": (
        "SELECT date, views, likes, comments, estimated_minutes_watched "
        "FROM gold.gold_video_daily_summary WHERE video_id = '{video}' ORDER BY date"
    ),
    "channel_range": (
        "SELECT date, views, net_subscribers, estimated_minutes_watched "
        "FROM gold.gold_channel_daily_summary WHERE channel_id = '{channel}' "
        "AND date BETWEEN DATE '{lo}' AND DATE '{hi}' ORDER BY date"
    ),
    "top_countries": (
        "SELECT country_code, country_name, SUM(views) AS views "
        "FROM gold.gold_video_country_daily_summary WHERE date BETWEEN DATE '{lo}' AND DATE '{hi}' "
        "GROUP BY country_code, country_name ORDER BY views DESC, country_code LIMIT 10"
    ),
    "device_share": (
        "SELECT device_type, SUM(views) AS views, SUM(views) / SUM(SUM(views)) OVER () AS share "
        "FROM gold.gold_video_device_daily_summary WHERE video_id = '{video}' GROUP BY device_type"
    ),
    "traffic_mix": (
        "SELECT t.source_id, d.source_name, SUM(t.views) AS views, "
        "SUM(t.estimated_minutes_watched) AS minutes "
        "FROM gold.gold_video_traffic_source_daily_summary t "
        "JOIN silver.dim_traffic_source d ON t.source_id = d.source_id "
        "WHERE t.video_id = '{video}' GROUP BY t.source_id, d.source_name"
    ),
}

ORACLE_TABLES = [
    "gold.gold_video_daily_summary",
    "gold.gold_channel_daily_summary",
    "gold.gold_video_country_daily_summary",
    "gold.gold_video_device_daily_summary",
    "gold.gold_video_traffic_source_daily_summary",
    "silver.dim_traffic_source",
]


def request_stream(seed: int, video_ids: list[str], days: list[dt.date], n: int) -> list[tuple[str, str]]:
    """``n`` (op type, SQL) requests drawn from the seed."""
    rng = random.Random(f"serving:{seed}")
    by_popularity = rng.sample(video_ids, len(video_ids))
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(by_popularity))]
    out = []
    for j in range(n):
        kind = CYCLE[j % len(CYCLE)]
        video = rng.choices(by_popularity, weights=weights)[0]
        i = rng.randrange(len(days))
        if kind == "channel_range":
            j = min(len(days) - 1, i + rng.randint(6, 27))
            lo, hi = days[i], days[j]
        else:
            lo, hi = days[max(0, i - 6)], days[i]
        out.append((kind, SQL[kind].format(video=video, channel=CHANNEL_ID, lo=lo, hi=hi)))
    return out


def _check_oracle_module(repo: str):
    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(repo, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _local_path(uri: str) -> str:
    """``file:/a/b`` or ``file:///a/b`` -> ``/a/b``; other paths unchanged."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme == "file" else uri


class DuckOracle:
    """DuckDB over the files Spark reads for each table, compared with the
    order-insensitive normalization of ``tools/check_oracle.py``.

    The file list comes from ``DataFrame.inputFiles()``, so the oracle reads
    what Spark reads whatever layout the package writes: partition
    directories, or a table format that keeps replaced files on disk."""

    def __init__(self, spark, repo: str):
        import duckdb

        self._norm = _check_oracle_module(repo).normalize
        self._con = duckdb.connect()
        for fqn in ORACLE_TABLES:
            schema, _table = fqn.split(".")
            files = ", ".join(
                "'" + _local_path(f).replace("'", "''") + "'" for f in spark.table(fqn).inputFiles()
            )
            self._con.execute(f"CREATE SCHEMA IF NOT EXISTS {schema}")
            self._con.execute(f"CREATE VIEW {fqn} AS SELECT * FROM read_parquet([{files}], hive_partitioning = true)")

    def matches(self, sql: str, columns: list[str], rows: list[tuple]) -> bool:
        res = self._con.execute(sql)
        duck_cols = [d[0] for d in res.description]
        if sorted(duck_cols) != sorted(columns):
            return False
        return self._norm(res.fetchall(), duck_cols) == self._norm(rows, columns)

    def close(self) -> None:
        self._con.close()
