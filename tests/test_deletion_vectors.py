"""Deletion-vector delete mode (sources/maintenance.py::targeted_delete
mode="dv" + apply_deletion_vectors; sidecar storage in
sources/stats_manifest.py): a takedown defers the file rewrite by
recording per-file tombstone ROWS in a manifest epoch — ~zero write
amplification for a 1-row delete in a large file — while every
manifest-aware reader anti-joins them; the fold bound compacts DVs
into real rewrites."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.sources.maintenance import (
    apply_deletion_vectors,
    targeted_delete,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (
    pruned_scan,
    read_table,
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


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_dv_delete_matches_rewrite_mode(spark, tmp_path):
    """Query equality with the rewrite mode: identical twin tables,
    one rewritten, one tombstoned — manifest-aware reads agree
    exactly, and the dv table's data files are byte-untouched."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _tbl(spark, a)
    _tbl(spark, b)
    targets = [17, 1234, 3999]
    ra = targeted_delete(spark, a, "doc_id", targets)
    before = dict(_files(b))
    rb = targeted_delete(spark, b, "doc_id", targets, mode="dv")
    assert rb["rows_deleted"] == ra["rows_deleted"] == 3
    assert rb["files_rewritten"] == rb["files_removed"] == 0
    assert rb["dv_entries"] == 3 and not rb["compacted"]
    # ZERO data-file mutation on the dv table
    assert dict(_files(b)) == before
    assert _rows(read_table(spark, b)) == _rows(spark.read.parquet(a))
    # pruned point reads exclude tombstones too
    assert pruned_scan(spark, b, points={"doc_id": 1234}).count() == 0
    assert pruned_scan(spark, b, points={"doc_id": 18}).count() == 1
    # and the IN-list shape
    got = pruned_scan(spark, b, points={"doc_id": [17, 18, 19]})
    assert sorted(r["doc_id"] for r in got.collect()) == [18, 19]


def test_dv_write_amplification_near_zero(spark, tmp_path):
    """The motivating probe: a 1-row delete in a table whose single
    file holds 200k rows writes a sidecar of KBs, not a rewrite of
    the file."""
    path = str(tmp_path / "big")
    spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("payload-"), F.col("id")).alias("text"),
    ).coalesce(1).write.parquet(path)
    write_stats_manifest(
        spark, path, ["doc_id"], bloom_cols=["doc_id"],
        bloom_bits=1 << 20,
    )
    [(fname, mtime)] = _files(path)
    file_bytes = os.path.getsize(os.path.join(path, fname))
    res = targeted_delete(spark, path, "doc_id", [123_456], mode="dv")
    assert res["rows_deleted"] == 1
    assert _files(path) == [(fname, mtime)]  # untouched
    dv_bytes = 0
    for dirpath, _d, files in os.walk(
        os.path.join(path, "_stats_manifest")
    ):
        if os.sep + "dv_" in dirpath or dirpath.endswith("dv_doc_id"):
            dv_bytes += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files
            )
    assert 0 < dv_bytes < file_bytes / 100  # ~zero amplification
    assert read_table(spark, path).count() == 199_999


def test_dv_then_rewrite_no_resurrection(spark, tmp_path):
    """A later rewrite-mode delete on a dv-carrying table must not
    resurrect tombstoned rows (the rewrite copies only LIVE rows),
    and must not double-count them as deleted."""
    path = str(tmp_path / "t")
    _tbl(spark, path, n=2000, files=4)
    targeted_delete(spark, path, "doc_id", [100, 101], mode="dv")
    res = targeted_delete(spark, path, "doc_id", [100, 200])
    # 100 was already tombstoned: only 200 is newly deleted
    assert res["rows_deleted"] == 1
    got = read_table(spark, path)
    assert got.filter("doc_id IN (100, 101, 200)").count() == 0
    assert got.count() == 1997


def test_apply_deletion_vectors_compacts(spark, tmp_path):
    """Compaction rewrites the cited files, clears the entries, and
    afterwards even a BARE spark.read.parquet agrees — the deferred
    write happened for real."""
    path = str(tmp_path / "t")
    _tbl(spark, path, n=2000, files=4)
    targets = [5, 600, 1999]
    targeted_delete(spark, path, "doc_id", targets, mode="dv")
    # bare reads still see the rows (the documented trade)
    assert spark.read.parquet(path).count() == 2000
    res = apply_deletion_vectors(spark, path)
    assert res["rows_purged"] == 3
    assert res["dv_cols_cleared"] == ["doc_id"]
    assert spark.read.parquet(path).count() == 1997
    assert (
        spark.read.parquet(path)
        .filter(F.col("doc_id").isin(targets))
        .count()
        == 0
    )
    # manifest is fresh and dv-free; a second apply is a no-op
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        _load_meta,
    )

    _, meta = _load_meta(path)
    assert not meta.get("dv")
    assert apply_deletion_vectors(spark, path)["rows_purged"] == 0
    assert pruned_scan(spark, path, points={"doc_id": 6}).count() == 1


def test_dv_auto_compaction_past_bound(spark, tmp_path, monkeypatch):
    """targeted_delete(mode='dv') compacts automatically once the
    table's total DV count passes the bound — the deferred rewrite is
    bounded, never a leak."""
    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    monkeypatch.setattr(sm, "_MAX_DV_ENTRIES", 3)
    path = str(tmp_path / "t")
    _tbl(spark, path, n=1000, files=4)
    r1 = targeted_delete(spark, path, "doc_id", [1, 2], mode="dv")
    assert not r1["compacted"]
    r2 = targeted_delete(spark, path, "doc_id", [3, 4], mode="dv")
    assert r2["compacted"]  # 4 entries > 3
    assert spark.read.parquet(path).count() == 996  # physically gone
    assert read_table(spark, path).count() == 996


def test_dv_redelete_is_noop_and_survives_refresh(spark, tmp_path):
    """Tombstoned rows are invisible to the classification scan, so a
    replayed dv delete records nothing; DV meta rides through manifest
    refreshes (appends) untouched."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "t")
    _tbl(spark, path, n=1000, files=4)
    r1 = targeted_delete(spark, path, "doc_id", [7, 8], mode="dv")
    assert r1["dv_entries"] == 2
    r2 = targeted_delete(spark, path, "doc_id", [7, 8], mode="dv")
    assert r2["dv_entries"] == 0 and r2["rows_deleted"] == 0
    # append a new file containing doc_id 7 again (legitimate
    # re-ingest): per-FILE scoping must keep the new row visible
    spark.createDataFrame(
        [(7, 7, "fresh")], "doc_id long, tag long, text string"
    ).coalesce(1).write.mode("append").parquet(path)
    refresh_stats_manifest(spark, path, ["tag"])
    got = read_table(spark, path)
    assert got.count() == 999  # 1000 - 2 tombstoned + 1 re-ingested
    assert got.filter("doc_id = 7").count() == 1  # the NEW row only
    assert got.filter("doc_id = 8").count() == 0


def test_full_rebuild_carries_dv_forward(spark, tmp_path):
    """write_stats_manifest over a dv-carrying table must carry the
    tombstones into the new meta — a rebuild that dropped meta['dv']
    would silently resurrect every tombstoned row."""
    path = str(tmp_path / "t")
    _tbl(spark, path, n=1000, files=4)
    targeted_delete(spark, path, "doc_id", [10, 20], mode="dv")
    # full rebuild (e.g. healing a stale manifest)
    write_stats_manifest(
        spark, path, ["tag"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )
    got = read_table(spark, path)
    assert got.count() == 998
    assert got.filter("doc_id IN (10, 20)").count() == 0
    assert pruned_scan(spark, path, points={"doc_id": 10}).count() == 0


def test_compaction_clears_dv_entries_of_removed_files(
    spark, tmp_path
):
    """Round-8 ADVICE (high): compact_table used to remove dv-cited
    files WITHOUT clearing their sidecar entries; apply_deletion_vectors
    then treated them as orphans and re-deleted by VALUE table-wide —
    silently destroying a row legitimately re-inserted with the same
    value, with no change-feed delta.  Every rewrite/remove path now
    clears the vanished file's entries in the same mutation."""
    from osrs_dashboard_elt_spark.literals import local_frame
    from osrs_dashboard_elt_spark.sources.change_feed import (
        enable_change_feed,
        read_table_as_of,
    )
    from osrs_dashboard_elt_spark.sources.maintenance import (
        compact_table,
        table_append,
    )
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        _load_meta,
    )

    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=200, files=4)
    enable_change_feed(path)
    r = targeted_delete(spark, path, "doc_id", [42], mode="dv")
    assert r["dv_entries"] == 1
    compact_table(spark, path, target_bytes=1 << 30)
    # the compacted-away file's entry is dead (tombstone physically
    # applied by the DV-aware group read) and must be GONE
    _, meta = _load_meta(path)
    assert not meta.get("dv")
    # a legitimate re-insert of the tombstoned value...
    table_append(
        spark, path,
        local_frame(
            spark, [(42, 0, "resurrected")],
            "doc_id long, tag long, text string",
        ),
    )
    # ...must SURVIVE a later compaction (the data-loss scenario)
    res = apply_deletion_vectors(spark, path)
    assert res["rows_purged"] == 0
    got = read_table(spark, path).filter("doc_id = 42").collect()
    assert len(got) == 1 and got[0]["text"] == "resurrected"
    # and the feed stayed multiset-consistent with the table: the
    # pre-delete state reconstructs exactly (200 rows, original t42)
    asof = read_table_as_of(spark, path, 0)
    assert asof.count() == 200
    assert (
        asof.filter("doc_id = 42").collect()[0]["text"] == "t42"
    )


def test_rewrite_delete_clears_dv_entries_of_touched_files(
    spark, tmp_path
):
    """Same invariant for the rewrite path: a rewrite-mode delete of a
    file carrying dv entries physically applies the tombstones, so the
    entries are cleared — never left to be mis-read as orphans."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        _load_meta,
    )

    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=200, files=1)
    targeted_delete(spark, path, "doc_id", [10, 11], mode="dv")
    _, meta = _load_meta(path)
    assert meta["dv"]["doc_id"]["count"] == 2
    # rewrite-mode delete of ANOTHER value in the same (only) file
    targeted_delete(spark, path, "doc_id", [50])
    _, meta = _load_meta(path)
    assert not meta.get("dv")
    got = read_table(spark, path)
    assert got.count() == 197
    assert got.filter("doc_id IN (10, 11, 50)").count() == 0


def test_reconcile_clears_dv_entries_for_vanished_originals(
    spark, tmp_path
):
    """The crash window: swap finished (original vanished) but the
    mutation died before its dv clear — the journal reconcile must
    clear the dead entries, or the orphan-purge hole re-opens."""
    from osrs_dashboard_elt_spark.sources.maintenance import (
        _local,
        _reconcile_delete_journal,
        _write_delete_journal,
    )
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        _load_meta,
    )

    path = str(tmp_path / "tbl")
    _tbl(spark, path, n=100, files=2)
    targeted_delete(spark, path, "doc_id", [5], mode="dv")
    _, meta = _load_meta(path)
    [cited] = [
        r["file"]
        for r in spark.read.parquet(
            *[
                str(tmp_path / "tbl/_stats_manifest" / f"m{e:07d}/dv_doc_id")
                for e in meta["dv"]["doc_id"]["segments"]
            ]
        ).collect()
    ]
    local = _local(cited)
    # simulate: a delete fully removed the cited file, then crashed
    # before clearing its dv entries (journal still on disk)
    os.remove(local)
    _write_delete_journal(path, {}, [local])
    _reconcile_delete_journal(spark, path)
    _, meta = _load_meta(path)
    assert not meta.get("dv")
