"""Source/sink primitives (SURVEY.md §2.1 S2/S4/S9/S12): idempotent
dedup-append, watermark scans, blue/green publish."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.sources import (
    dedup_append,
    filter_newer_than_watermarks,
    incremental_scan,
    max_watermark,
    publish_blue_green,
    read_new_since,
    read_published,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _raw_logs(spark, rows):
    return spark.createDataFrame(rows, "timestamp timestamp, raw_content string")


def test_dedup_append_idempotent(spark, tmp_path):
    """Re-running an overlapping batch is a no-op (reference T2: the
    overlap-window re-fetch relies on INSERT OR IGNORE)."""
    target = str(tmp_path / "raw_logs")
    keys = ["timestamp", "raw_content"]
    b1 = _raw_logs(
        spark,
        [(_ts("2025-01-01T10:00:00"), "msg-a"), (_ts("2025-01-01T10:05:00"), "msg-b")],
    )
    assert dedup_append(spark, b1, target, keys) == 2
    # Overlapping batch: one dup, one new, one in-batch dup.
    b2 = _raw_logs(
        spark,
        [
            (_ts("2025-01-01T10:05:00"), "msg-b"),
            (_ts("2025-01-01T10:10:00"), "msg-c"),
            (_ts("2025-01-01T10:10:00"), "msg-c"),
        ],
    )
    assert dedup_append(spark, b2, target, keys) == 1
    # Exact re-run: zero appended, table unchanged.
    assert dedup_append(spark, b2, target, keys) == 0
    assert spark.read.parquet(target).count() == 3


def test_dedup_append_into_absent_target_counts_the_write(spark, tmp_path):
    """The first append into an absent target is one observed write:
    its return value is the deduplicated row count, in the plain and in
    the date-partitioned layout."""
    import os

    keys = ["timestamp", "raw_content"]
    batch = _raw_logs(
        spark,
        [
            (_ts("2025-01-01T10:00:00"), "msg-a"),
            (_ts("2025-01-01T10:00:00"), "msg-a"),
            (_ts("2025-01-02T10:00:00"), "msg-b"),
            (_ts("2025-01-03T10:00:00"), "msg-c"),
            (_ts("2025-01-03T10:00:00"), "msg-c"),
        ],
    )
    plain = str(tmp_path / "plain")
    assert dedup_append(spark, batch, plain, keys, ts_col="timestamp") == 3
    assert spark.read.parquet(plain).count() == 3
    parted = str(tmp_path / "parted")
    assert (
        dedup_append(
            spark, batch, parted, keys, ts_col="timestamp", date_partition_col="ds"
        )
        == 3
    )
    assert spark.read.parquet(parted).count() == 3
    assert len([d for d in os.listdir(parted) if d.startswith("ds=")]) == 3


def test_dedup_append_empty_batch_leaves_no_table(spark, tmp_path):
    """A zero-row batch into an absent target leaves no readable table,
    so the next append still takes the first-write path."""
    from osrs_dashboard_elt_spark.sources.parquet import _target_exists

    keys = ["timestamp", "raw_content"]
    empty = _raw_logs(spark, [])
    for name, kw in (
        ("plain", {}),
        ("parted", {"ts_col": "timestamp", "date_partition_col": "ds"}),
    ):
        target = str(tmp_path / name)
        assert dedup_append(spark, empty, target, keys, **kw) == 0
        assert not _target_exists(spark, target)
        one = _raw_logs(spark, [(_ts("2025-01-01T10:00:00"), "msg-a")])
        assert dedup_append(spark, one, target, keys, **kw) == 1
        assert spark.read.parquet(target).count() == 1


def test_watermark_scan_with_overlap(spark, tmp_path):
    target = str(tmp_path / "raw_logs")
    rows = [
        (_ts("2025-01-01T10:00:00"), "a"),
        (_ts("2025-01-01T11:00:00"), "b"),
        (_ts("2025-01-01T12:00:00"), "c"),
    ]
    dedup_append(spark, _raw_logs(spark, rows), target, ["timestamp", "raw_content"])
    wm = max_watermark(spark, target, "timestamp")
    assert wm == _ts("2025-01-01T12:00:00")

    src = _raw_logs(spark, rows + [(_ts("2025-01-01T13:00:00"), "d")])
    assert read_new_since(spark, target, "timestamp", wm).count() == 0
    new = incremental_scan(src, "timestamp", wm, overlap_seconds=3600.0)
    # overlap window re-reads "c" (11:00 < ts) plus the new "d"
    assert {r["raw_content"] for r in new.collect()} == {"c", "d"}
    assert max_watermark(spark, str(tmp_path / "missing"), "timestamp") is None


def test_per_key_watermark_filter(spark):
    """S9: only rows strictly newer than their key's max pass; unseen
    keys pass through."""
    existing = spark.createDataFrame(
        [(1, _ts("2025-01-02T00:00:00")), (1, _ts("2025-01-03T00:00:00")),
         (2, _ts("2025-01-05T00:00:00"))],
        "item_id int, timestamp timestamp",
    )
    batch = spark.createDataFrame(
        [
            (1, _ts("2025-01-03T00:00:00")),  # equal -> dropped
            (1, _ts("2025-01-04T00:00:00")),  # newer -> kept
            (2, _ts("2025-01-04T00:00:00")),  # older -> dropped
            (3, _ts("2025-01-01T00:00:00")),  # unseen key -> kept
        ],
        "item_id int, timestamp timestamp",
    )
    out = filter_newer_than_watermarks(batch, existing, "item_id", "timestamp")
    got = {(r["item_id"], r["timestamp"]) for r in out.collect()}
    assert got == {(1, _ts("2025-01-04T00:00:00")), (3, _ts("2025-01-01T00:00:00"))}


def test_blue_green_publish_flips_colors(spark, tmp_path):
    root = str(tmp_path / "report")
    v1 = spark.range(3).withColumn("v", F.lit("one"))
    c1 = publish_blue_green(v1, root)
    assert read_published(spark, root).count() == 3

    v2 = spark.range(5).withColumn("v", F.lit("two"))
    c2 = publish_blue_green(v2, root)
    assert c2 != c1
    got = read_published(spark, root)
    assert got.count() == 5
    assert got.select("v").distinct().collect()[0]["v"] == "two"


def test_dedup_append_window_pruned_idempotent(spark, tmp_path):
    """With ts_col the existing-side scan restricts to the batch's ts
    range — idempotency is preserved (a replayed duplicate carries the
    same timestamp) and out-of-window history is never touched."""
    target = str(tmp_path / "raw_logs")
    keys = ["timestamp", "raw_content"]
    b1 = _raw_logs(
        spark,
        [(_ts("2025-01-01T10:00:00"), "msg-a"), (_ts("2025-01-02T10:00:00"), "msg-b")],
    )
    assert dedup_append(spark, b1, target, keys, ts_col="timestamp") == 2
    # overlap replay + one new row, pruned to the b2 window
    b2 = _raw_logs(
        spark,
        [
            (_ts("2025-01-02T10:00:00"), "msg-b"),
            (_ts("2025-01-02T11:00:00"), "msg-c"),
        ],
    )
    assert dedup_append(spark, b2, target, keys, ts_col="timestamp") == 1
    assert dedup_append(spark, b2, target, keys, ts_col="timestamp") == 0
    assert spark.read.parquet(target).count() == 3
    # lateness slack widens the window without changing the outcome
    assert (
        dedup_append(
            spark, b2, target, keys, ts_col="timestamp", lateness_seconds=3600
        )
        == 0
    )


def test_prune_to_window_pushes_into_scan(spark, tmp_path):
    """The window predicate must reach the parquet scan as
    PushedFilters (row-group skipping at scale), not a post-scan
    Filter only."""
    from osrs_dashboard_elt_spark.sources.parquet import prune_to_window

    target = str(tmp_path / "t")
    _raw_logs(
        spark, [(_ts("2025-01-01T10:00:00"), "a"), (_ts("2025-01-03T10:00:00"), "b")]
    ).write.parquet(target)
    pruned = prune_to_window(
        spark.read.parquet(target),
        "timestamp",
        _ts("2025-01-01T00:00:00"),
        _ts("2025-01-02T00:00:00"),
        lateness_seconds=60,
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    # (the PushedFilters list is elided in toString — match prefixes)
    assert "GreaterThanOrEqual(timestamp" in plan
    assert "LessThanOrEqual(" in plan
    assert pruned.count() == 1


def test_dedup_append_date_partitioned_prunes_directories(spark, tmp_path):
    """date_partition_col lays bronze out Hive-partitioned; the
    overlap anti-join's existing-side scan must show PartitionFilters
    on the date column and read only the window's folders."""
    import os

    target = str(tmp_path / "bronze")
    keys = ["timestamp", "raw_content"]
    b1 = _raw_logs(
        spark,
        [
            (_ts("2025-01-01T10:00:00"), "msg-a"),
            (_ts("2025-01-02T10:00:00"), "msg-b"),
            (_ts("2025-01-03T10:00:00"), "msg-c"),
        ],
    )
    assert (
        dedup_append(
            spark, b1, target, keys, ts_col="timestamp", date_partition_col="ds"
        )
        == 3
    )
    # hive layout on disk, one folder per day
    assert sorted(d for d in os.listdir(target) if d.startswith("ds=")) == [
        "ds=2025-01-01",
        "ds=2025-01-02",
        "ds=2025-01-03",
    ]
    # replay of day 3 + one new row: idempotent, and the pruned scan
    # carries a partition filter on ds
    b2 = _raw_logs(
        spark,
        [
            (_ts("2025-01-03T10:00:00"), "msg-c"),
            (_ts("2025-01-03T11:00:00"), "msg-d"),
        ],
    )
    assert (
        dedup_append(
            spark, b2, target, keys, ts_col="timestamp", date_partition_col="ds"
        )
        == 1
    )
    assert (
        dedup_append(
            spark, b2, target, keys, ts_col="timestamp", date_partition_col="ds"
        )
        == 0
    )
    got = spark.read.parquet(target)
    assert got.count() == 4
    # the plan of a window-pruned scan shows directory-level pruning
    from osrs_dashboard_elt_spark.sources.parquet import prune_to_window
    from datetime import date

    pruned = spark.read.parquet(target).filter(
        (F.col("ds") >= F.lit(date(2025, 1, 3))) & (F.col("ds") <= F.lit(date(2025, 1, 3)))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ds" in plan
    assert pruned.count() == 2


def test_prune_to_window_handles_date_type(spark):
    """DateType collects as datetime.date — the slack arithmetic must
    branch (date - float used to TypeError on the second dedup_append
    against an existing DateType table)."""
    from datetime import date

    from osrs_dashboard_elt_spark.sources.parquet import prune_to_window

    df = spark.createDataFrame(
        [(date(2024, 1, 1),), (date(2024, 1, 5),), (date(2024, 2, 1),)],
        "d DATE",
    )
    out = prune_to_window(
        df, "d", date(2024, 1, 2), date(2024, 1, 31), lateness_seconds=90000
    )
    # 90000s rounds up to 2 days of slack: 2023-12-31 .. 2024-02-02
    assert {r.d for r in out.collect()} == {
        date(2024, 1, 1),
        date(2024, 1, 5),
        date(2024, 2, 1),
    }
    tight = prune_to_window(
        df, "d", date(2024, 1, 2), date(2024, 1, 31), lateness_seconds=0
    )
    assert {r.d for r in tight.collect()} == {date(2024, 1, 5)}
