"""Targeted delete (sources/maintenance.py::targeted_delete): rewrite
ONLY the files that can contain the target ids — bloom-planned via the
stats manifest — leaving every other file byte-untouched; freshness is
mandatory (a stale manifest missing files would leave rows behind)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.sources.maintenance import targeted_delete
from osrs_dashboard_elt_spark.sources.stats_manifest import (
    files_for_values,
    pruned_scan,
    write_stats_manifest,
)


def _tbl(spark, path, n=4000, files=8):
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("tag"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    df.repartition(files, "doc_id").write.parquet(path)
    write_stats_manifest(
        spark, path, ["tag"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )


def _files(path):
    return sorted(
        (f, os.path.getmtime(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def test_delete_rewrites_only_matching_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _tbl(spark, path)
    before = dict(_files(path))
    targets = [17, 1234, 3999]
    planned = files_for_values(spark, path, "doc_id", targets)
    assert 0 < len(planned) < 8  # bloom pruning really narrowed it
    res = targeted_delete(spark, path, "doc_id", targets)
    assert res["rows_deleted"] == 3
    assert res["files_affected"] == len(planned)
    assert res["files_rewritten"] + res["files_removed"] >= 1
    # untouched files are byte-identical (same name, same mtime)
    after = dict(_files(path))
    untouched = set(before) & set(after)
    assert len(untouched) >= 8 - len(planned)
    for f in untouched:
        assert before[f] == after[f]
    # the rows are gone; everything else survived
    remaining = spark.read.parquet(path)
    assert remaining.filter(F.col("doc_id").isin(targets)).count() == 0
    assert remaining.count() == 4000 - 3
    # manifest was refreshed: pruned reads still work and are fresh
    assert pruned_scan(spark, path, points={"doc_id": 18}).count() == 1
    # idempotent: the refreshed blooms no longer contain the ids
    res2 = targeted_delete(spark, path, "doc_id", targets)
    assert res2["rows_deleted"] == 0


def test_fully_matching_file_is_removed(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=100, files=2)
    # append a file containing ONLY the target ids
    spark.createDataFrame(
        [(100000 + i, 0, "x") for i in range(5)],
        "doc_id long, tag long, text string",
    ).coalesce(1).write.mode("append").parquet(path)
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    refresh_stats_manifest(spark, path, ["tag"])
    res = targeted_delete(
        spark, path, "doc_id", [100000 + i for i in range(5)]
    )
    assert res["files_removed"] == 1 and res["rows_deleted"] == 5
    assert spark.read.parquet(path).count() == 100


def test_null_rows_survive(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "keep-me"), (3, "c")],
        "doc_id long, text string",
    )
    df.coalesce(1).write.parquet(path)
    write_stats_manifest(
        spark, path, ["doc_id"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )
    res = targeted_delete(spark, path, "doc_id", [2, 3])
    assert res["rows_deleted"] == 2
    got = sorted(
        ((r["doc_id"], r["text"]) for r in
         spark.read.parquet(path).collect()),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    assert got == [(None, "keep-me"), (1, "a")]


def test_stale_manifest_refuses(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=100, files=2)
    spark.createDataFrame(
        [(777, 0, "x")], "doc_id long, tag long, text string"
    ).coalesce(1).write.mode("append").parquet(path)
    # the un-refreshed manifest doesn't know the new file: deleting
    # 777 would miss it — must refuse, not silently leave the row
    with pytest.raises(ValueError, match="stale"):
        targeted_delete(spark, path, "doc_id", [777])


def test_partition_column_delete_refuses(spark, tmp_path):
    path = str(tmp_path / "ptbl")
    df = spark.range(100).select(
        (F.col("id") % 4).alias("day"), F.col("id").alias("doc_id")
    )
    df.write.partitionBy("day").parquet(path)
    write_stats_manifest(spark, path, ["day"])
    with pytest.raises(ValueError, match="partition column"):
        targeted_delete(spark, path, "day", [2])


def test_duplicate_values_in_delete_list(spark, tmp_path):
    """A duplicated id in the takedown list must not break bloom
    planning (the all-probes-hit count) — regression: [5, 5] doubled
    the probe rows and silently missed the file."""
    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=500, files=4)
    planned = files_for_values(spark, path, "doc_id", [5, 5, 9])
    assert planned == files_for_values(spark, path, "doc_id", [5, 9])
    res = targeted_delete(spark, path, "doc_id", [5, 5, 9])
    assert res["rows_deleted"] == 2
    assert spark.read.parquet(path).filter("doc_id IN (5, 9)").count() == 0


def _count_jobs(spark, fn):
    import uuid

    sc = spark.sparkContext
    g = "jc-" + uuid.uuid4().hex
    sc.setJobGroup(g, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(g))


def test_job_count_constant_in_affected_files(spark, tmp_path):
    """The round-8 batching contract: execution is O(1) Spark jobs —
    one classification scan + one rewrite job — so a takedown touching
    4x the files schedules EXACTLY the same number of jobs (the serial
    form ran ~2 jobs per affected file; at 5,000 files that is hours
    of pure scheduling)."""
    def build(name, n, files):
        path = str(tmp_path / name)
        df = spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 13).alias("tag"),
        )
        df.repartition(files, "doc_id").write.parquet(path)
        write_stats_manifest(
            spark, path, ["tag"], bloom_cols=["doc_id"],
            bloom_bits=1 << 15,
        )
        return path

    small = build("small", 4000, 4)
    big = build("big", 16000, 16)
    j_small = _count_jobs(
        spark,
        lambda: targeted_delete(
            spark, small, "doc_id", list(range(0, 4000, 997))
        ),
    )
    j_big = _count_jobs(
        spark,
        lambda: targeted_delete(
            spark, big, "doc_id", list(range(0, 16000, 499))
        ),
    )
    assert j_small == j_big, (j_small, j_big)
    assert j_big <= 25  # absolute ceiling incl. planning + refresh
    assert spark.read.parquet(big).count() == 16000 - 33


def test_delete_from_hive_partitioned_table(spark, tmp_path):
    """Partition-aware delete: the classification/rewrite reads pin
    the manifest schema + basePath (partition values come from the
    dir path), the replacement file lands INSIDE its partition dir
    without materializing the partition column, and untouched
    partitions stay byte-identical."""
    path = str(tmp_path / "ptbl")
    df = spark.range(400).select(
        (F.col("id") % 4).alias("day"),
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    df.repartition(8, "doc_id").write.partitionBy("day").parquet(path)
    write_stats_manifest(
        spark, path, ["day"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )
    res = targeted_delete(spark, path, "doc_id", [5, 6, 7])
    assert res["rows_deleted"] == 3
    got = spark.read.parquet(path)
    assert got.count() == 397
    assert got.filter("doc_id IN (5,6,7)").count() == 0
    # partition values survived (they live in the path, not the file)
    assert got.filter("day IS NULL").count() == 0
    assert sorted(
        r["day"] for r in got.select("day").distinct().collect()
    ) == [0, 1, 2, 3]
    # replacement parquet files do NOT contain the partition column
    for dirpath, _d, files in __import__("os").walk(path):
        for fn in files:
            if fn.startswith("part-del-"):
                cols = spark.read.parquet(
                    os.path.join(dirpath, fn)
                ).columns
                assert "day" not in cols and "doc_id" in cols
    # manifest stayed consistent: a fresh pruned read works
    assert pruned_scan(spark, path, points={"doc_id": 8}).count() == 1


def test_crash_between_publish_and_remove_is_reconciled(
    spark, tmp_path
):
    """ADVICE round-7 (medium): a crash after os.replace(replacement)
    but before os.remove(original) used to leave BOTH files forever —
    duplicated kept rows a re-run never repaired.  Replacement names
    are now deterministic and an intent journal precedes mutations, so
    the next delete call drops the orphan and proceeds."""
    import shutil

    from osrs_dashboard_elt_spark.sources.maintenance import (
        _local,
        _replacement_name,
        _write_delete_journal,
    )

    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=2000, files=4)
    target = 1234
    [f] = [
        u
        for u in files_for_values(spark, path, "doc_id", [target])
        if spark.read.parquet(u).filter(f"doc_id = {target}").count()
    ]
    local = _local(f)
    repl = os.path.join(
        os.path.dirname(local), _replacement_name(local)
    )
    # simulate the crashed delete: replacement published, original
    # still present, journal on disk, manifest never refreshed
    tmp = str(tmp_path / "sim")
    spark.read.parquet(f).filter(f"doc_id <> {target}").coalesce(
        1
    ).write.parquet(tmp)
    part = next(
        fn for fn in os.listdir(tmp) if fn.endswith(".parquet")
    )
    shutil.copy(os.path.join(tmp, part), repl)
    _write_delete_journal(path, {local: repl}, [])
    # the table currently shows duplicated kept rows
    dup = spark.read.parquet(path).count()
    assert dup == 2000 + spark.read.parquet(f).count() - 1
    # re-running the delete reconciles, then deletes exactly once
    res = targeted_delete(spark, path, "doc_id", [target])
    assert res["rows_deleted"] == 1
    remaining = spark.read.parquet(path)
    assert remaining.count() == 1999
    assert remaining.filter(f"doc_id = {target}").count() == 0
    assert not os.path.exists(
        str(tmp_path / "tbl/_stats_manifest/_delete_intent.json")
    )


def test_crash_after_remove_is_reconciled(spark, tmp_path):
    """The other crash window: original removed, journal still on
    disk, manifest stale.  Reconciliation refreshes the manifest so
    the retry (or any later delete) plans cleanly instead of dying on
    the freshness check."""
    from osrs_dashboard_elt_spark.sources.maintenance import (
        _local,
        _replacement_name,
        _write_delete_journal,
    )

    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=2000, files=4)
    target = 777
    [f] = [
        u
        for u in files_for_values(spark, path, "doc_id", [target])
        if spark.read.parquet(u).filter(f"doc_id = {target}").count()
    ]
    local = _local(f)
    repl = os.path.join(
        os.path.dirname(local), _replacement_name(local)
    )
    tmp = str(tmp_path / "sim")
    spark.read.parquet(f).filter(f"doc_id <> {target}").coalesce(
        1
    ).write.parquet(tmp)
    part = next(
        fn for fn in os.listdir(tmp) if fn.endswith(".parquet")
    )
    import shutil

    shutil.copy(os.path.join(tmp, part), repl)
    _write_delete_journal(path, {local: repl}, [])
    os.remove(local)  # the crash hit after the original was dropped
    # a fresh delete call reconciles (manifest refresh) and finds
    # nothing left to delete
    res = targeted_delete(spark, path, "doc_id", [target])
    assert res["rows_deleted"] == 0
    assert spark.read.parquet(path).count() == 1999
    assert (
        pruned_scan(spark, path, points={"doc_id": 778}).count() == 1
    )


def test_batched_delete_exact_id_set(spark, tmp_path):
    """The one batched rewrite (one classification scan + one rewrite
    job) leaves exactly the non-target rows, each row intact."""
    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=1000, files=4)
    targets = [3, 500, 999]
    res = targeted_delete(spark, path, "doc_id", targets)
    assert res["rows_deleted"] == 3
    rows = spark.read.parquet(path).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(
        set(range(1000)) - set(targets)
    )
    assert all(
        r["tag"] == r["doc_id"] % 13 and r["text"] == f"t{r['doc_id']}"
        for r in rows
    )
