"""Unit tests of the quality-check framework against hand-built frames."""

from __future__ import annotations

from youtube_analytics_lakehouse_databricks_spark.quality import checks as q


def test_unique_grain(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, v string"
    )
    res = q.unique_grain(df, ["k", "v"])
    assert res.count() == 1 and not res.passed()
    assert q.unique_grain(df.distinct(), ["k", "v"]).passed()


def test_not_null(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    assert q.not_null(df, ["v"]).count() == 1
    assert q.not_null(df, ["k"]).passed()


def test_relationships(spark):
    child = spark.createDataFrame([(1,), (2,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,)], "fk int")
    res = q.relationships(child, parent, "fk")
    # NULL FKs are ignored (dbt semantics); 2 is the orphan
    assert res.count() == 1


def test_accepted_values(spark):
    df = spark.createDataFrame([("MOBILE",), ("SPACESHIP",), (None,)], "device string")
    res = q.accepted_values(df, "device", ["MOBILE", "TV"])
    assert [r["device"] for r in res.violations.collect()] == ["SPACESHIP"]


def test_non_negative(spark):
    df = spark.createDataFrame([(1, -5), (2, 0), (3, None)], "k int, m int")
    assert q.non_negative(df, ["m"]).count() == 1  # NULL coalesces to 0 -> ok


def test_freshness_injectable_today(spark):
    import datetime as dt

    df = spark.createDataFrame([(dt.date(2025, 8, 1),)], "date date")
    assert q.freshness(df, "date", 7, today="2025-08-04").passed()
    assert not q.freshness(df, "date", 2, today="2025-08-10").passed()
    empty = spark.createDataFrame([], "date date")
    assert not q.freshness(empty, "date", 7, today="2025-08-04").passed()


def test_warn_unknown_values(spark):
    df = spark.createDataFrame([("yt_search",), ("WEIRD",), ("",)], "source_id string")
    res = q.warn_unknown_values(df, "source_id", ["YT_SEARCH"])
    assert res.severity == "warn"
    assert [r["source_id"] for r in res.violations.collect()] == ["WEIRD"]


def test_run_checks_counts_each_check_once(spark):
    """run_checks evaluates each check's violations exactly once (passed is
    derived from that count) and reports in input order, for error and warn
    checks alike, passing or failing."""
    import threading
    from collections import Counter

    calls: Counter = Counter()
    lock = threading.Lock()

    class CountingCheck(q.CheckResult):
        def count(self) -> int:
            with lock:
                calls[self.name] += 1
            return super().count()

    df = spark.createDataFrame([(1, None), (1, "x"), (2, "y")], "k int, v string")
    built = [
        q.unique_grain(df, ["k"], "k_unique"),  # error, fails
        q.not_null(df, ["k"], "k_not_null"),  # error, passes
        q.warn_unknown_values(df, "v", ["X"], "v_unknown"),  # warn, fails
        q.warn_unknown_values(df, "v", ["X", "Y"], "v_known"),  # warn, passes
        q.not_null(df, ["v"], "v_not_null"),  # error, fails
    ]
    checks = [CountingCheck(c.name, c.violations, c.severity) for c in built]

    report = q.run_checks(checks)

    assert list(report) == [c.name for c in checks]
    assert calls == Counter({c.name: 1 for c in checks})
    for c in built:
        n = c.violations.count()
        assert report[c.name] == {"count": n, "severity": c.severity, "passed": n == 0}
    assert {(r["severity"], r["passed"]) for r in report.values()} == {
        ("error", True),
        ("error", False),
        ("warn", True),
        ("warn", False),
    }
