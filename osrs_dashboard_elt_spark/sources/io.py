"""Batch I/O extensions over ``sources.parquet``: overlap-window
incremental scans, per-key watermark filtering, and a blue/green
atomic publish.

Reference mechanisms re-expressed Spark-first:

- S2 (src/1_fetch_data.py:36-55): the incremental scan starts at the
  stored high-water mark minus an overlap window and relies on the
  idempotent insert (S4 -> ``sources.parquet.dedup_append``) to drop
  the re-fetched duplicates.  ``incremental_scan`` is that predicate.

- S9 (src/4_fetch_item_prices.py:84-98): the reference loops items and
  issues one ``MAX(timestamp) WHERE item_id=?`` query each.
  ``filter_newer_than_watermarks`` replaces the loop with ONE hash
  aggregate over the existing table joined (broadcast — the watermark
  table is one row per key) back onto the incoming batch.

- S12 (src/3_transform_data.py:771-798 writer,
  src/5_post_pbs_to_discord.py:327-352 reader): blue/green double
  buffer so readers never observe a half-written report.  Spark's
  parquet dir overwrite deletes-then-writes, so a concurrent reader
  can fail mid-publish; writing the inactive color then atomically
  renaming a 1-line manifest gives the same guarantee the reference
  built with two SQLite files + mtime comparison.  (On a real cluster
  a Delta/Iceberg commit subsumes this; the manifest keeps the
  pattern format-agnostic.)

Scale notes: the watermark aggregate shuffles only (key, ts); the
blue/green write is a full rewrite by design (the reference rebuilds
every report table each run — T5 complete-mode publish).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet import per_key_watermark


def incremental_scan(
    df: DataFrame, ts_col: str, last_seen, overlap_seconds: float = 0.0
) -> DataFrame:
    """Rows newer than ``last_seen`` minus an overlap window (S2).

    The overlap re-reads a safety margin of already-ingested rows;
    downstream ``dedup_append`` makes the re-read harmless.  The
    predicate is pushed into the parquet scan.
    """
    if last_seen is None:
        return df
    cutoff = F.lit(last_seen).cast("timestamp") - F.expr(
        f"INTERVAL {overlap_seconds} SECONDS"
    )
    return df.filter(F.col(ts_col) > cutoff)


def filter_newer_than_watermarks(
    new_df: DataFrame, existing: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Keep rows strictly newer than their key's existing watermark;
    unseen keys pass through (S9).  One broadcastable join instead of
    the reference's per-key SQL loop."""
    wm = per_key_watermark(existing, [key_col], ts_col)
    joined = new_df.join(F.broadcast(wm), key_col, "left")
    return joined.filter(
        F.col("__wm").isNull() | (F.col(ts_col) > F.col("__wm"))
    ).drop("__wm")


_MANIFEST = "MANIFEST"
_COLORS = ("blue", "green")


def _read_manifest(root: str) -> str | None:
    # FileNotFoundError ONLY: a missing file is the one failure that
    # means "never published".  A transient EACCES/EIO must raise, not
    # read as "no manifest" — that would target _COLORS[0], which may
    # be the ACTIVE color, and overwrite the directory concurrent
    # readers are scanning
    try:
        with open(os.path.join(root, _MANIFEST)) as f:
            color = f.read().strip()
        return color if color in _COLORS else None
    except FileNotFoundError:
        return None


def publish_blue_green(df: DataFrame, root: str) -> str:
    """Write ``df`` to the inactive color dir under ``root`` then flip
    the manifest atomically (write-temp + rename).  Readers that opened
    the old color keep a consistent snapshot; new readers see the new
    one.  Returns the now-active color."""
    os.makedirs(root, exist_ok=True)
    active = _read_manifest(root)
    target = _COLORS[1] if active == _COLORS[0] else _COLORS[0]
    df.write.mode("overwrite").parquet(os.path.join(root, target))
    from .commitio import publish_bytes

    publish_bytes(os.path.join(root, _MANIFEST), target.encode())
    return target


def read_published(spark: SparkSession, root: str) -> DataFrame:
    """Read the currently-active color (reader half of S12)."""
    color = _read_manifest(root)
    if color is None:
        raise FileNotFoundError(f"no published table under {root}")
    return spark.read.parquet(os.path.join(root, color))
