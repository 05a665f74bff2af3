"""Parquet-backed source/sink primitives (SURVEY.md §2.1).

The reference's storage layer is SQLite files with hand-rolled
idempotency and publish tricks; each maps to a declarative parquet
pattern here:

- S4/S11 ``INSERT OR IGNORE`` row loops  -> ``dedup_append``
  (left-anti join on the natural key, then append) — the idempotent
  ingest primitive.  At scale the anti-join shuffles only the key
  columns of the existing side; with date-partitioned targets the scan
  prunes to the overlap window first.
- S2/S9 watermark scans                  -> ``max_watermark`` /
  ``per_key_watermark`` + ``read_new_since``.
- S10/S12 replace-mode + blue/green      -> ``sources.io.publish_blue_green``
  (a parquet dir overwrite deletes, then writes, so a replace-mode
  publish writes the inactive color and flips a manifest).
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..observability import ObservedMetrics


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` under the session's Hadoop conf."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _target_exists(spark: SparkSession, path: str) -> bool:
    # an absent path is answered by the file system: a failed read
    # would post a query failure to every execution listener
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        return False
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def prune_to_window(
    df: DataFrame, ts_col: str, lo, hi, lateness_seconds: float = 0.0
) -> DataFrame:
    """Restrict a scan to ``[lo - lateness, hi + lateness]`` on
    ``ts_col``.  The bounds are literals, so the predicate pushes into
    the parquet scan (row-group min/max skipping; partition pruning
    when the table is partitioned on a ts-derived column)."""
    if isinstance(lo, datetime):
        slack = timedelta(seconds=lateness_seconds)
    elif isinstance(lo, date):
        # DateType collects as datetime.date (no sub-day arithmetic):
        # round the slack up to whole days — a 'date - float' would
        # TypeError.  (datetime checked FIRST: datetime is a date
        # subclass.)
        slack = timedelta(days=-(-int(lateness_seconds) // 86400))
    else:
        slack = lateness_seconds
    return df.filter(
        (F.col(ts_col) >= F.lit(lo - slack)) & (F.col(ts_col) <= F.lit(hi + slack))
    )


def new_rows_against(
    batch: DataFrame, existing: DataFrame, keys: list[str]
) -> DataFrame:
    """The pure S4 core: batch rows whose ``keys`` are not already in
    ``existing`` (in-batch duplicates collapse first).  ``existing``
    should arrive window-pruned (``prune_to_window``) when a timestamp
    contract allows it."""
    return batch.dropDuplicates(keys).join(
        existing.select(*keys), keys, "left_anti"
    )


def dedup_append(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    ts_col: str | None = None,
    lateness_seconds: float = 0.0,
    date_partition_col: str | None = None,
) -> int:
    """Idempotently append ``batch`` to ``target_path``: rows whose
    ``keys`` already exist are dropped (reference S4: per-row INSERT OR
    IGNORE against a UNIQUE constraint).  Returns rows appended.

    Re-running with an overlapping batch is a no-op — the property the
    reference's overlap-window re-fetch relies on (T2).

    ``ts_col`` window-prunes the existing-side scan: only target rows
    inside the batch's [min(ts) - lateness, max(ts) + lateness] range
    are anti-joined.  Without it every micro-batch re-scans the FULL
    bronze table — fatal at 100 TB.  Correctness requires the
    timestamp to be part of the row identity (a re-fetched duplicate
    carries the same event timestamp — true for the reference's
    overlap re-fetch, T2); ``lateness_seconds`` adds slack for
    clock-skewed duplicates.

    ``date_partition_col`` (requires ``ts_col``) lays the bronze table
    out Hive-partitioned by ``to_date(ts_col)``: the window prune then
    becomes DIRECTORY-level partition pruning — the anti-join's
    existing-side scan lists only the overlap-window's date folders
    instead of relying on per-file row-group stats
    (``test_sources.py`` asserts the PartitionFilters in the plan).
    This is the at-rest layout a 100-TB bronze table needs anyway
    (retention drops = directory deletes).

    Into an absent target the batch is written in one pass and counted
    by that pass (``_write_new``); into an existing one the anti-join
    result is cached and counted first, so the write never re-scans the
    table it appends to."""
    if date_partition_col is not None and ts_col is None:
        raise ValueError("date_partition_col requires ts_col")
    deduped = batch.dropDuplicates(keys)
    if date_partition_col is not None:
        deduped = deduped.withColumn(date_partition_col, F.to_date(F.col(ts_col)))
    if not _target_exists(spark, target_path):
        return _write_new(spark, deduped, target_path, date_partition_col)
    existing = spark.read.parquet(target_path)
    if ts_col is not None:
        # cache the deduped batch: it feeds both the bounds agg and
        # the anti-join probe side
        deduped = deduped.cache()
        bounds = deduped.agg(
            F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
        ).collect()[0]
        if bounds["lo"] is not None:
            existing = prune_to_window(
                existing, ts_col, bounds["lo"], bounds["hi"], lateness_seconds
            )
            if date_partition_col is not None:
                # literal date bounds -> partition pruning on the
                # Hive layout (the ts predicate alone only skips
                # row groups within already-listed files).  A
                # DateType ts_col collects as datetime.date, which
                # supports neither the timedelta slack's sub-day
                # precision nor .date() — branch like
                # prune_to_window does.
                if isinstance(bounds["lo"], datetime):
                    slack = timedelta(seconds=lateness_seconds)
                    d_lo = (bounds["lo"] - slack).date()
                    d_hi = (bounds["hi"] + slack).date()
                else:
                    slack_days = timedelta(
                        days=-(-lateness_seconds // 86400)
                    )
                    d_lo = bounds["lo"] - slack_days
                    d_hi = bounds["hi"] + slack_days
                existing = existing.filter(
                    (F.col(date_partition_col) >= F.lit(d_lo))
                    & (F.col(date_partition_col) <= F.lit(d_hi))
                )
    out = new_rows_against(deduped, existing, keys)
    if date_partition_col is not None:
        # left_anti keeps batch columns; re-derive the partition
        # column in case keys pruned it
        if date_partition_col not in out.columns:
            out = out.withColumn(date_partition_col, F.to_date(F.col(ts_col)))
    # Materialize the anti-join BEFORE opening the writer: the write
    # must not re-scan the target while appending to it.
    rows = out.cache().count()
    if rows:
        w = out.write.mode("append")
        if date_partition_col is not None:
            w = w.partitionBy(date_partition_col)
        w.parquet(target_path)
    out.unpersist()
    deduped.unpersist()
    return rows


def _write_new(
    spark: SparkSession, df: DataFrame, target_path: str, date_partition_col: str | None
) -> int:
    """First write into an absent target: nothing to anti-join against,
    so the rows go out in one pass and their count rides that pass.  A
    zero-row write is removed again, so an empty batch still leaves no
    readable table, as when nothing was written."""
    obs = ObservedMetrics()
    w = obs.observe(df, "write", rows=F.count(F.lit(1))).write.mode("append")
    if date_partition_col is not None:
        w = w.partitionBy(date_partition_col)
    w.parquet(target_path)
    rows = obs.get()["write"]["rows"]
    if not rows:
        fs, jpath = _hadoop_path(spark, target_path)
        fs.delete(jpath, True)
    return rows


def max_watermark(spark: SparkSession, path: str, ts_col: str):
    """MAX(ts) of an existing table, or None (reference S2:
    incremental scan start = stored max minus overlap)."""
    if not _target_exists(spark, path):
        return None
    row = spark.read.parquet(path).agg(F.max(ts_col).alias("wm")).collect()[0]
    return row["wm"]


def per_key_watermark(df: DataFrame, key_cols: list[str], ts_col: str) -> DataFrame:
    """Per-key MAX(ts) (reference S9: only insert price rows newer than
    the per-item max) — one hash aggregate, joined back by the caller."""
    return df.groupBy(*key_cols).agg(F.max(ts_col).alias("__wm"))


def read_new_since(
    spark: SparkSession, path: str, ts_col: str, watermark
) -> DataFrame:
    """Scan rows strictly newer than the watermark; the predicate is
    pushed into the parquet scan (partition pruning if partitioned on
    a ts-derived column)."""
    df = spark.read.parquet(path)
    if watermark is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(watermark))
