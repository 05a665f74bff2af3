"""File-skipping stats manifest (sources/stats_manifest.py): a
selective probe on a z-ordered table must read strictly fewer FILES
than the full scan (planning-time pruning, asserted via
DataFrame.inputFiles), with results exactly equal to scan+filter; a
stale manifest must fail loudly, never silently drop rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.operators.zorder import write_zordered
from osrs_dashboard_elt_spark.sources.stats_manifest import (
    manifest_file_count,
    pruned_scan,
    write_stats_manifest,
)

N_FILES = 16


def _rows(df):
    """Null-safe canonical ordering (y is nullable)."""
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v or 0) for v in t),
    )


def _grid(spark):
    # 64x64 grid plus a null-y stripe: selective boxes in EITHER dim
    return spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        F.when(F.col("id") < 4000, (F.col("id") / 64).cast("long")).alias("y"),
        (F.col("id") * 7 % 1000).alias("payload"),
    )


@pytest.fixture(scope="module")
def zpath(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("z") / "tbl")
    write_zordered(
        _grid(spark), path, ["x", "y"], N_FILES, stats_cols=["x", "y"]
    )
    return path


def test_selective_probe_reads_strictly_fewer_files(spark, zpath):
    bounds = {"y": (10, 13)}  # ~6% of rows, non-leading dimension
    pruned = pruned_scan(spark, zpath, bounds)
    full = spark.read.parquet(zpath)
    assert len(full.inputFiles()) == N_FILES
    n_pruned = len(pruned.inputFiles())
    assert 0 < n_pruned < N_FILES
    assert n_pruned == manifest_file_count(spark, zpath, bounds)

    want = _rows(full.filter("y >= 10 AND y <= 13"))
    got = _rows(pruned)
    assert got == want and len(want) > 0


def test_box_probe_on_both_dims(spark, zpath):
    bounds = {"x": (5, 9), "y": (None, 20)}
    pruned = pruned_scan(spark, zpath, bounds)
    full = spark.read.parquet(zpath).filter(
        "x >= 5 AND x <= 9 AND y <= 20"
    )
    assert len(pruned.inputFiles()) < N_FILES
    assert _rows(pruned) == _rows(full)


def test_empty_probe_returns_schema_stable_empty(spark, zpath):
    out = pruned_scan(spark, zpath, {"x": (1000, 2000)})
    assert out.count() == 0
    assert out.schema == spark.read.parquet(zpath).schema


def test_stale_manifest_fails_loudly(spark, zpath, tmp_path):
    path = str(tmp_path / "tbl")
    df = _grid(spark)
    write_zordered(df, path, ["x", "y"], 4, stats_cols=["x"])
    pruned_scan(spark, path, {"x": (0, 3)}).count()
    # a file appended WITHOUT refreshing stats would be silently
    # skipped by pruning -> the read must refuse instead
    df.limit(10).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="stale"):
        pruned_scan(spark, path, {"x": (0, 3)})
    # refreshing the manifest heals the table
    write_stats_manifest(spark, path, ["x"])
    got = pruned_scan(spark, path, {"x": (0, 3)})
    want = spark.read.parquet(path).filter("x >= 0 AND x <= 3")
    assert _rows(got) == _rows(want)


def test_unbounded_bound_is_rejected(spark, zpath):
    """(None, None) adds no row predicate but would still skip
    all-NULL-stats files — must be rejected, not silently lossy."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        manifest_file_count,
    )

    with pytest.raises(ValueError, match="None, None"):
        pruned_scan(spark, zpath, {"y": (None, None)})
    with pytest.raises(ValueError, match="None, None"):
        manifest_file_count(spark, zpath, {"y": (None, None)})


def test_incremental_refresh_stats_manifest(spark, tmp_path):
    """refresh_stats_manifest stats ONLY the new files (O(append), not
    O(table)), drops rows for vanished files, and heals the stale
    check; a changed stats column set is rejected loudly."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "tbl")
    df = _grid(spark)
    write_zordered(df, path, ["x", "y"], 4, stats_cols=["x"])
    # append without refresh -> stale; incremental refresh heals
    df.filter("x = 63").coalesce(1).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="stale"):
        pruned_scan(spark, path, {"x": (63, 63)})
    added, removed = refresh_stats_manifest(spark, path, ["x"])
    assert (added, removed) == (1, 0)
    got = pruned_scan(spark, path, {"x": (63, 63)})
    want = spark.read.parquet(path).filter("x = 63")
    assert got.count() == want.count() == 2 * 64  # base + appended copy
    # no-op refresh
    assert refresh_stats_manifest(spark, path, ["x"]) == (0, 0)
    # compaction: rewrite to fewer files -> removed rows dropped
    import os
    import shutil

    compacted = str(tmp_path / "tbl2")
    spark.read.parquet(path).coalesce(2).write.parquet(compacted)
    shutil.copytree(
        os.path.join(path, "_stats_manifest"),
        os.path.join(compacted, "_stats_manifest"),
    )
    added, removed = refresh_stats_manifest(spark, compacted, ["x"])
    assert added == 2 and removed == 5  # 4 z-files + 1 append vanished
    pruned_scan(spark, compacted, {"x": (0, 5)}).count()
    # changed column set: loud
    with pytest.raises(ValueError, match="Rebuild"):
        refresh_stats_manifest(spark, compacted, ["y"])


# ---- round 7: blooms, partitioned dirs, swaps ----


def _ids(spark, n=4096, files=8):
    # high-cardinality id uniformly SPREAD across files (hash layout):
    # every file's [min, max] spans the domain, so range pruning keeps
    # all files and only the bloom can prune
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("u"), F.col("id")).alias("sid"),
            (F.col("id") % 17).alias("tag"),
        )
        .repartition(files, "doc_id")
    )


@pytest.fixture(scope="module")
def bloom_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bl") / "tbl")
    _ids(spark).write.parquet(path)
    write_stats_manifest(
        spark, path, ["tag"], bloom_cols=["doc_id", "sid"],
        bloom_bits=1 << 15,
    )
    return path


def test_point_lookup_prunes_via_bloom(spark, bloom_path):
    full = spark.read.parquet(bloom_path)
    n_files = len(full.inputFiles())
    probe = pruned_scan(spark, bloom_path, points={"doc_id": 1234})
    assert len(probe.inputFiles()) < n_files
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in full.filter("doc_id = 1234").collect()
    ]
    # string-typed key
    got = pruned_scan(spark, bloom_path, points={"sid": "u77"})
    assert len(got.inputFiles()) < n_files
    assert got.count() == 1 and got.collect()[0]["doc_id"] == 77


def test_bloom_never_false_negative(spark, bloom_path):
    """Every present id must survive pruning (membership uses the
    engine's own hash exprs — this pins the bitmap layout decode)."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        manifest_file_count as mfc,
    )

    for v in [0, 1, 63, 64, 1000, 4095, 2222]:
        got = pruned_scan(spark, bloom_path, points={"doc_id": v})
        assert got.count() == 1, v
        assert mfc(spark, bloom_path, points={"doc_id": v}) >= 1
    # absent values: usually zero files (fp possible, rows never)
    assert pruned_scan(spark, bloom_path, points={"doc_id": 999_999}).count() == 0


def test_point_and_bounds_compose(spark, bloom_path):
    got = pruned_scan(
        spark, bloom_path, bounds={"tag": (3, 3)}, points={"doc_id": 3}
    )
    assert got.count() == 1  # doc_id 3 has tag 3
    none = pruned_scan(
        spark, bloom_path, bounds={"tag": (4, 4)}, points={"doc_id": 3}
    )
    assert none.count() == 0


def test_point_rejects_unknown_and_null(spark, bloom_path):
    with pytest.raises(ValueError, match="neither"):
        pruned_scan(spark, bloom_path, points={"nope_col": 1})
    with pytest.raises(ValueError, match="NULL"):
        pruned_scan(spark, bloom_path, points={"doc_id": None})
    with pytest.raises(ValueError, match="both"):
        pruned_scan(
            spark, bloom_path, bounds={"tag": (1, 2)}, points={"tag": 1}
        )


def test_mutable_manifest_still_checks_freshness(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _grid(spark).write.parquet(path)
    write_stats_manifest(spark, path, ["x"])
    _grid(spark).limit(5).coalesce(1).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="stale"):
        pruned_scan(spark, path, {"x": (2, 3)})


def test_partitioned_dir_bounds_on_partition_column(spark, tmp_path):
    """Hive-partitioned table: leaf files lack the partition column,
    so subset reads MUST use basePath or the column comes back NULL
    and bound filters silently return nothing (round-6 ADVICE)."""
    path = str(tmp_path / "ptbl")
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("day"),
        F.col("id").alias("event_id"),
        (F.col("id") % 97).alias("v"),
    )
    df.write.partitionBy("day").parquet(path)
    write_stats_manifest(
        spark, path, ["day", "v"], bloom_cols=["event_id"],
        bloom_bits=1 << 15,
    )
    full = spark.read.parquet(path)
    # bounds on the PARTITION column itself
    got = pruned_scan(spark, path, {"day": (3, 4)})
    want = full.filter("day >= 3 AND day <= 4")
    assert len(got.inputFiles()) < len(full.inputFiles())
    assert sorted(map(tuple, got.select("event_id", "v", "day").collect())) == \
        sorted(map(tuple, want.select("event_id", "v", "day").collect()))
    # point lookup returns the partition value, not NULL
    one = pruned_scan(spark, path, points={"event_id": 123}).collect()
    assert len(one) == 1 and one[0]["day"] == 3
    # refresh with an appended partition keeps partition values intact
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    extra = spark.createDataFrame([(77, 12345, 5)], "day long, event_id long, v long")
    extra.write.mode("append").partitionBy("day").parquet(path)
    added, removed = refresh_stats_manifest(spark, path, ["day", "v"])
    assert added >= 1 and removed == 0
    hit = pruned_scan(spark, path, points={"event_id": 12345}).collect()
    assert len(hit) == 1 and hit[0]["day"] == 77


def test_concurrent_reader_across_refresh(spark, tmp_path):
    """Epoch-commit protocol: a reader looping pruned_scan while a
    writer refreshes must never observe a missing/partial manifest
    (the old delete-then-rename swap had exactly that window)."""
    import threading

    path = str(tmp_path / "tbl")
    df = _grid(spark)
    write_zordered(df, path, ["x", "y"], 4, stats_cols=["x"])
    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                pruned_scan(spark, path, {"x": (0, 3)}).count()
            except ValueError as e:
                if "stale" not in str(e):
                    errors.append(e)
                # stale is legitimate mid-append; missing manifest is not
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        from osrs_dashboard_elt_spark.sources.stats_manifest import (
            refresh_stats_manifest,
        )

        for i in range(4):
            df.limit(7).coalesce(1).write.mode("append").parquet(path)
            refresh_stats_manifest(spark, path, ["x"])
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:2]


def test_refresh_preserves_bloom_config(spark, tmp_path):
    """Refreshed files get blooms per the ORIGINAL manifest config —
    a point probe must keep finding ids that live in appended files."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "tbl")
    _ids(spark, 1000, 4).write.parquet(path)
    write_stats_manifest(
        spark, path, ["tag"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )
    _ids(spark, 1200, 2).filter("doc_id >= 1000").write.mode(
        "append"
    ).parquet(path)
    added, _ = refresh_stats_manifest(spark, path, ["tag"])
    assert added >= 1
    got = pruned_scan(spark, path, points={"doc_id": 1100})
    assert got.count() == 1
    n_all = len(spark.read.parquet(path).inputFiles())
    assert len(got.inputFiles()) < n_all


def test_flat_manifest_layout_is_refused(spark, tmp_path):
    """Parquet written straight under ``_stats_manifest/`` (no epoch
    dirs, no meta) is a layout this reader does not know: a pruned
    scan refuses it by name instead of guessing at its columns."""
    import os

    path = str(tmp_path / "tbl")
    _grid(spark).repartition(4).write.parquet(path)
    full = spark.read.parquet(path)
    flat = os.path.join(path, "_stats_manifest")
    full.select(F.input_file_name().alias("file"), "x").groupBy(
        "file"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
    ).coalesce(1).write.parquet(flat)
    with pytest.raises(ValueError, match="format_version none") as e:
        pruned_scan(spark, path, {"x": (0, 3)})
    assert flat in str(e.value)


def test_manifest_meta_format_version_is_checked(spark, tmp_path):
    """Every committed meta carries ``format_version``; a meta without
    it, or with another value, is refused by path on read.  A version-1
    meta may mark a published snapshot as never-changing; read under
    the version-2 rules that table would turn silently rewritable, so
    it is refused like any other unknown layout."""
    import json
    import os

    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    path = str(tmp_path / "tbl")
    _grid(spark).repartition(4).write.parquet(path)
    write_stats_manifest(spark, path, ["x"])
    epoch, meta = sm._load_meta(path)
    assert meta["format_version"] == sm._FORMAT_VERSION == 2
    meta_path = os.path.join(
        sm._epoch_dir(sm._manifest_root(path), epoch), sm._META
    )
    for bad, found in (
        ({k: v for k, v in meta.items() if k != "format_version"}, "none"),
        (dict(meta, format_version=1), "1"),
        (dict(meta, format_version=3), "3"),
    ):
        with open(meta_path, "w") as f:
            json.dump(bad, f)
        with pytest.raises(
            ValueError, match=f"format_version {found}, expected 2"
        ) as e:
            pruned_scan(spark, path, {"x": (0, 3)})
        assert meta_path in str(e.value)


def test_refresh_bloom_mismatch_raises(spark, tmp_path):
    """Refreshing with a bloom set the manifest doesn't carry must
    raise — silently refreshing without them would degrade the
    takedown path to prune-nothing min/max planning."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "tbl")
    _grid(spark).write.parquet(path)
    write_stats_manifest(spark, path, ["x"])  # no blooms
    with pytest.raises(ValueError, match="bloom"):
        refresh_stats_manifest(spark, path, ["x"], bloom_cols=["x"])
    # and the fallback BOOTSTRAPS with blooms when nothing exists yet
    path2 = str(tmp_path / "tbl2")
    _ids(spark, 500, 2).write.parquet(path2)
    added, removed = refresh_stats_manifest(
        spark, path2, ["tag"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )
    assert added == 2 and removed == 0
    assert pruned_scan(spark, path2, points={"doc_id": 77}).count() == 1


def test_partition_type_drift_raises(spark, tmp_path):
    """A later partition whose dir value no longer parses as the
    pinned type would read back NULL under the manifest's schema —
    the drift check refuses instead of corrupting pruned reads."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "ptbl")
    spark.range(100).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    ).write.partitionBy("k").parquet(path)
    write_stats_manifest(spark, path, ["v"])
    spark.createDataFrame([("abc", 999)], "k string, v long").write.mode(
        "append"
    ).partitionBy("k").parquet(path)
    with pytest.raises(ValueError, match="schema"):
        refresh_stats_manifest(spark, path, ["v"])
    with pytest.raises(ValueError, match="schema"):
        pruned_scan(spark, path, {"v": (0, 10)})


def test_refresh_writes_only_a_batch_segment(spark, tmp_path):
    """A refresh's WRITE is O(batch): the new epoch's segment parquet
    holds only the appended files' rows, prior rows are never
    rewritten, and removals ride the meta as tombstones."""
    import json
    import os

    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "tbl")
    _ids(spark, 1000, 8).write.parquet(path)
    write_stats_manifest(spark, path, ["tag"])
    _ids(spark, 1100, 1).filter("doc_id >= 1000").write.mode(
        "append"
    ).parquet(path)
    added, removed = refresh_stats_manifest(spark, path, ["tag"])
    assert (added, removed) == (1, 0)
    root = os.path.join(path, "_stats_manifest")
    epochs = sorted(n for n in os.listdir(root) if n.startswith("m"))
    seg2 = os.path.join(root, epochs[-1])
    assert spark.read.parquet(seg2).count() == 1  # ONLY the new file
    meta = json.load(open(os.path.join(seg2, "_meta.json")))
    assert len(meta["segments"]) == 2 and meta["tombstones"] == []
    # reads see the union
    assert manifest_file_count(spark, path) == 9
    # remove a file -> tombstone-only epoch, still-correct reads
    data_files = [
        f for f in os.listdir(path) if f.endswith(".parquet")
    ]
    os.remove(os.path.join(path, data_files[0]))
    added, removed = refresh_stats_manifest(spark, path, ["tag"])
    assert (added, removed) == (0, 1)
    assert manifest_file_count(spark, path) == 8
    got = pruned_scan(spark, path, {"tag": (3, 5)})
    want = spark.read.parquet(path).filter("tag >= 3 AND tag <= 5")
    assert got.count() == want.count()


def test_segments_fold_at_bound(spark, tmp_path, monkeypatch):
    """Past _MAX_SEGMENTS appends the refresh folds every live row
    into ONE segment and clears tombstones — amortized compaction."""
    import json
    import os

    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    monkeypatch.setattr(sm, "_MAX_SEGMENTS", 3)
    path = str(tmp_path / "tbl")
    _ids(spark, 400, 2).write.parquet(path)
    sm.write_stats_manifest(spark, path, ["tag"])
    for i in range(4):
        extra = spark.createDataFrame(
            [(10_000 + i, f"u{10_000 + i}", 0)],
            "doc_id long, sid string, tag long",
        )
        extra.coalesce(1).write.mode("append").parquet(path)
        sm.refresh_stats_manifest(spark, path, ["tag"])
    root = os.path.join(path, "_stats_manifest")
    epochs = sorted(n for n in os.listdir(root) if n.startswith("m"))
    meta = json.load(open(os.path.join(root, epochs[-1], "_meta.json")))
    assert len(meta["segments"]) <= 3
    assert meta["file_count"] == 6
    # a fold happened at some point: some meta had exactly one segment
    # holding ALL rows; regardless, reads stay exact
    assert sm.manifest_file_count(spark, path) == 6
    got = sm.pruned_scan(spark, path, {"tag": (0, 0)})
    want = spark.read.parquet(path).filter("tag = 0")
    assert got.count() == want.count() > 0


def test_resurrected_file_name_forces_fold(spark, tmp_path):
    """A file reappearing under a tombstoned name (backup restore,
    deterministic part names) must come back LIVE: the refresh folds,
    so neither the stale tombstone nor hidden duplicate rows survive
    (regression: refresh claimed success while every pruned read
    stayed permanently stale)."""
    import os
    import shutil as sh

    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        refresh_stats_manifest,
    )

    path = str(tmp_path / "tbl")
    _ids(spark, 800, 4).write.parquet(path)
    write_stats_manifest(
        spark, path, ["tag"], bloom_cols=["doc_id"], bloom_bits=1 << 15
    )
    victim = next(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    vpath = os.path.join(path, victim)
    saved = str(tmp_path / "victim.saved")  # outside the table dir
    sh.copy(vpath, saved)
    os.remove(vpath)
    assert refresh_stats_manifest(spark, path, ["tag"]) == (0, 1)
    # restore the SAME file name
    os.rename(saved, vpath)
    assert refresh_stats_manifest(spark, path, ["tag"]) == (1, 0)
    # reads are healthy and complete again
    assert manifest_file_count(spark, path) == 4
    got = pruned_scan(spark, path, {"tag": (2, 4)})
    want = spark.read.parquet(path).filter("tag >= 2 AND tag <= 4")
    assert got.count() == want.count() > 0
    # and the takedown planner still finds ids in the restored file
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        files_for_values,
    )

    assert len(files_for_values(spark, path, "doc_id", [3])) >= 1


def test_removal_only_refresh_never_folds_at_boundary(
    spark, tmp_path, monkeypatch
):
    """A tombstone-only refresh at the segment bound must stay a
    meta-only epoch (regression: the fold trigger counted a phantom
    new segment and paid a full rewrite for a one-file removal)."""
    import json
    import os

    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    monkeypatch.setattr(sm, "_MAX_SEGMENTS", 3)
    path = str(tmp_path / "tbl")
    _ids(spark, 300, 2).write.parquet(path)
    sm.write_stats_manifest(spark, path, ["tag"])
    for i in range(2):  # reach the 3-segment bound
        spark.createDataFrame(
            [(20_000 + i, f"u{20_000 + i}", 0)],
            "doc_id long, sid string, tag long",
        ).coalesce(1).write.mode("append").parquet(path)
        sm.refresh_stats_manifest(spark, path, ["tag"])
    root = os.path.join(path, "_stats_manifest")

    def latest_meta():
        es = sorted(n for n in os.listdir(root) if n.startswith("m"))
        return es[-1], json.load(
            open(os.path.join(root, es[-1], "_meta.json"))
        )
    _, m = latest_meta()
    assert len(m["segments"]) == 3
    # removal-only refresh at the bound: tombstone, NOT a fold
    victim = next(f for f in os.listdir(path) if f.endswith(".parquet"))
    os.remove(os.path.join(path, victim))
    assert sm.refresh_stats_manifest(spark, path, ["tag"]) == (0, 1)
    edir, m = latest_meta()
    assert len(m["segments"]) == 3 and len(m["tombstones"]) == 1
    # the new epoch carries meta only — no parquet segment
    assert not any(
        f.endswith(".parquet")
        for f in os.listdir(os.path.join(root, edir))
    )
    assert sm.manifest_file_count(spark, path) == 3


def test_bound_on_column_without_stats_raises(spark, tmp_path):
    """Bounds columns get the same friendly validation as points: a
    bound on a column without recorded stats must raise the
    rebuild-the-manifest ValueError, not surface as an
    unresolved-column AnalysisException on min_<c> deep in Spark."""
    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS x", "id % 5 AS y").write.parquet(
        path
    )
    write_stats_manifest(spark, path, ["x"])
    with pytest.raises(ValueError, match=r"min/max stats.*\['x'\]"):
        pruned_scan(spark, path, bounds={"y": (1, 2)})
    with pytest.raises(ValueError, match="min/max stats"):
        manifest_file_count(spark, path, bounds={"y": (1, 2)})


def test_keep_metas_retention_depth(spark, tmp_path, monkeypatch):
    """keep_metas is a table property: epoch dirs referenced by the
    last N committed metas survive the post-commit vacuum.  An
    append-chain meta references every earlier segment, so the vacuum
    only bites after a FOLD orphans the pre-fold chain — a reader that
    loaded its meta several streaming refreshes ago survives exactly
    when keep_metas covers its age (default 2 vacuums aggressively)."""
    import json
    import os

    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    monkeypatch.setattr(sm, "_MAX_SEGMENTS", 2)  # fold every 3rd epoch

    def _appends(path, keep):
        spark.range(10).selectExpr("id AS x").coalesce(1).write.parquet(
            path
        )
        write_stats_manifest(spark, path, ["x"], keep_metas=keep)
        for i in range(1, 4):
            spark.range(10 * i, 10 * i + 10).selectExpr(
                "id AS x"
            ).coalesce(1).write.mode("append").parquet(path)
            sm.refresh_stats_manifest(spark, path, ["x"])
        return sm._committed_epochs(sm._manifest_root(path))

    # epochs: 1 [1], 2 [1,2], 3 fold [3], 4 [3,4] — after epoch 4 the
    # pre-fold chain (1, 2) is unreferenced by the last TWO metas
    deep = _appends(str(tmp_path / "deep"), keep=4)
    shallow = _appends(str(tmp_path / "shallow"), keep=2)
    assert shallow == [3, 4]
    assert deep == [1, 2, 3, 4]  # depth-4 readers still find epoch 1-2
    # every retained meta's segments are still on disk
    for name, eps in (("deep", deep), ("shallow", shallow)):
        root = sm._manifest_root(str(tmp_path / name))
        for e in eps:
            with open(
                os.path.join(sm._epoch_dir(root, e), sm._META)
            ) as f:
                meta = json.load(f)
            for seg in meta.get("segments", [e]):
                assert os.path.isdir(sm._epoch_dir(root, seg)), (e, seg)
    # the property survives refreshes (carried in meta, not per-call)
    root = sm._manifest_root(str(tmp_path / "deep"))
    with open(os.path.join(sm._epoch_dir(root, 4), sm._META)) as f:
        assert json.load(f)["keep_metas"] == 4
    # and the post-fold manifest still reads correctly
    got = pruned_scan(
        spark, str(tmp_path / "deep"), bounds={"x": (0, 1000)}
    ).count()
    assert got == 40


def test_commit_lineage_guard_rejects_stale_parent(spark, tmp_path):
    """A meta computed from a parent that is no longer the head must
    NOT commit: it would silently orphan the interleaved segment
    (caught only later by the staleness check, full rebuild the only
    recovery)."""
    import os

    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id AS x").coalesce(1).write.parquet(path)
    write_stats_manifest(spark, path, ["x"])
    spark.range(10, 20).selectExpr("id AS x").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    sm.refresh_stats_manifest(spark, path, ["x"])  # head is now 2
    root = sm._manifest_root(path)
    epoch, meta = sm._load_meta(path)
    assert epoch == 2
    stale = dict(meta, epoch=99, parent_epoch=1, segments=[1])
    os.makedirs(sm._epoch_dir(root, 99), exist_ok=True)
    with pytest.raises(sm.ManifestCommitConflict, match="moved from"):
        sm._commit_epoch(root, 99, stale)
    # the losing meta never became visible
    assert sm._committed_epochs(root) == [1, 2]
    # full builds carry no parent and are allowed to win outright
    write_stats_manifest(spark, path, ["x"])
    assert sm._committed_epochs(root)[-1] > 2


def test_interleaved_refreshes_both_segments_survive(
    spark, tmp_path, monkeypatch
):
    """Two refreshers based on the same parent: the loser retries from
    the winner's head, so BOTH appended files end up recorded (round-7
    verdict: the second used to silently orphan the first's segment)."""
    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id AS x").coalesce(1).write.parquet(path)
    write_stats_manifest(spark, path, ["x"])
    stale = sm._load_meta(path)  # both writers loaded epoch 1

    # writer A appends fileA and commits cleanly -> epoch 2
    spark.range(10, 20).selectExpr("id AS x").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    sm.refresh_stats_manifest(spark, path, ["x"])

    # writer B appends fileB but STILL SEES epoch 1 on its first load
    spark.range(20, 30).selectExpr("id AS x").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    real_load = sm._load_meta
    calls = {"n": 0}

    def stale_then_real(p):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real_load(p)

    monkeypatch.setattr(sm, "_load_meta", stale_then_real)
    added, removed = sm.refresh_stats_manifest(spark, path, ["x"])
    monkeypatch.undo()
    assert calls["n"] >= 2  # the conflict really forced a reload
    assert (added, removed) == (1, 0)  # recomputed vs the NEW head
    # every file is recorded — nothing orphaned, manifest fresh
    assert manifest_file_count(spark, path) == 3
    got = pruned_scan(spark, path, bounds={"x": (0, 100)}).count()
    assert got == 30
    epoch, meta = sm._load_meta(path)
    assert meta["parent_epoch"] == 2  # lineage records the real parent


def test_manifest_writes_bounded_not_single_task(
    spark, tmp_path, monkeypatch
):
    """Full builds and folds write the WHOLE manifest — at a
    million-file table with 128 KB bloom rows that is ~100 GB, which
    must never serialize through one coalesce(1) task.  Part count is
    derived from the known row count; readers union directories, so
    nothing else changes."""
    import os

    from osrs_dashboard_elt_spark.sources import stats_manifest as sm

    monkeypatch.setattr(sm, "_MANIFEST_ROWS_PER_FILE", 4)
    monkeypatch.setattr(sm, "_MAX_SEGMENTS", 2)
    path = str(tmp_path / "t")
    spark.range(1000).selectExpr("id AS x").repartition(
        10
    ).write.parquet(path)
    write_stats_manifest(spark, path, ["x"])
    root = sm._manifest_root(path)

    def parts(epoch):
        return [
            f
            for f in os.listdir(sm._epoch_dir(root, epoch))
            if f.endswith(".parquet")
        ]

    # full build: 10 manifest rows / 4 per file -> 3 part files
    assert len(parts(1)) == 3
    # force a fold (MAX_SEGMENTS=2): the 2nd append trips the bound
    # and epoch 3 folds every live row into one fresh segment
    for i in range(3):
        spark.range(10).selectExpr(
            f"id + {2000 + i * 100} AS x"
        ).coalesce(1).write.mode("append").parquet(path)
        sm.refresh_stats_manifest(spark, path, ["x"])
    epoch, meta = sm._load_meta(path)
    assert meta["segments"] == [3, 4]  # 3 = the fold epoch
    assert len(parts(3)) == 3  # fold wrote 12 rows / 4 per file
    # reader behavior unchanged: exact and fresh
    got = pruned_scan(spark, path, bounds={"x": (0, 10_000)})
    assert got.count() == 1030
    assert manifest_file_count(spark, path) == 13


def test_in_list_pruned_scan(spark, bloom_path):
    """IN-list points plan through the join-shaped takedown planner:
    strictly fewer files opened, rows exactly equal to the full
    scan's WHERE col IN (...)."""
    full = spark.read.parquet(bloom_path)
    n_files = len(full.inputFiles())
    vals = [5, 1234, 4000]
    got = pruned_scan(spark, bloom_path, points={"doc_id": vals})
    assert 0 < len(got.inputFiles()) < n_files
    assert manifest_file_count(
        spark, bloom_path, points={"doc_id": vals}
    ) == len(got.inputFiles())
    want = full.filter(F.col("doc_id").isin(vals))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # a scalar point on another column composes with the list
    both = pruned_scan(
        spark, bloom_path, points={"doc_id": vals, "sid": "u1234"}
    )
    assert [r["doc_id"] for r in both.collect()] == [1234]
    # empty list: IN () matches nothing — exact, schema-stable
    empty = pruned_scan(spark, bloom_path, points={"doc_id": []})
    assert empty.count() == 0 and empty.schema == full.schema
    # NULL in the list is rejected (equality never matches NULL)
    with pytest.raises(ValueError, match="NULL"):
        pruned_scan(spark, bloom_path, points={"doc_id": [1, None]})
    # duplicates must not break the all-k-probes bloom count
    dup = pruned_scan(
        spark, bloom_path, points={"doc_id": [5, 5, 1234]}
    )
    assert dup.count() == 2
