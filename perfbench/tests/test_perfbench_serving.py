"""The serving request stream and the DuckDB oracle, without a Spark session."""

import datetime as dt
import os
from collections import Counter

import pytest

from serving import CYCLE, ORACLE_TABLES, DuckOracle, _local_path, request_stream

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
VIDEOS = [f"vid_{i:05d}" for i in range(40)]
DAYS = [dt.date(2025, 3, 1) + dt.timedelta(days=i) for i in range(14)]


def test_same_seed_same_requests():
    assert request_stream(3, VIDEOS, DAYS, 50) == request_stream(3, VIDEOS, DAYS, 50)
    assert request_stream(3, VIDEOS, DAYS, 50) != request_stream(4, VIDEOS, DAYS, 50)


def test_op_types_take_equal_shares():
    kinds = Counter(kind for kind, _sql in request_stream(1, VIDEOS, DAYS, 10 * len(CYCLE)))
    assert kinds == {kind: 10 for kind in CYCLE}


def test_local_path():
    assert _local_path("file:/a/b%20c/x.parquet") == "/a/b c/x.parquet"
    assert _local_path("file:///a/x.parquet") == "/a/x.parquet"
    assert _local_path("/a/x.parquet") == "/a/x.parquet"


class _Table:
    def __init__(self, files):
        self._files = files

    def inputFiles(self):
        return self._files


class _Spark:
    """Stands in for a session: ``table(fqn).inputFiles()`` only."""

    def __init__(self, files):
        self._files = files

    def table(self, fqn):
        return _Table(self._files[fqn])


def test_oracle_reads_the_files_spark_reads_partitioned_or_not(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    files = {}
    for fqn in ORACLE_TABLES:
        if fqn == "gold.gold_video_daily_summary":  # partitioned by date, as a layout change might write it
            files[fqn] = []
            for day, views in (("2025-03-01", 5), ("2025-03-02", 7)):
                d = tmp_path / fqn / f"date={day}"
                d.mkdir(parents=True)
                path = d / "part-0.parquet"
                con.execute(f"COPY (SELECT 'v1' AS video_id, {views} AS views) TO '{path}' (FORMAT PARQUET)")
                files[fqn].append(f"file:{path}")
        else:
            d = tmp_path / fqn
            d.mkdir()
            path = d / "part-0.parquet"
            con.execute(f"COPY (SELECT 1 AS x) TO '{path}' (FORMAT PARQUET)")
            files[fqn] = [f"file://{path}"]
    (tmp_path / "gold.gold_video_daily_summary" / "stale.parquet").write_bytes(b"not parquet")
    oracle = DuckOracle(_Spark(files), REPO)
    sql = "SELECT date, views FROM gold.gold_video_daily_summary WHERE video_id = 'v1' ORDER BY date"
    rows = [(dt.date(2025, 3, 2), 7), (dt.date(2025, 3, 1), 5)]
    assert oracle.matches(sql, ["date", "views"], rows)
    assert not oracle.matches(sql, ["date", "views"], rows[:1])
    oracle.close()
