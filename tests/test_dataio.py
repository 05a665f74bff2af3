"""Object-store DATA plane (``commitio.place_file``): every staged
parquet lands at its final content-salted name via a single atomic
directory-entry creation (the local model of a direct object PUT) and
visibility is defined by the manifest/marker publishes through
commitio alone.  The full mutation + feed + IVM family must run green
with ``os.replace`` patched to RAISE on any parquet destination —
proving no data file ever rides a rename."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.sources import commitio
from osrs_dashboard_elt_spark.sources.commitio import (
    ConditionalPutBackend,
)


def test_place_file_overwrites_orphan_without_rename(
    tmp_path, monkeypatch
):
    """place_file lands the staged bytes at the final name without
    ``os.replace``, overwrites a crash orphan already at that name,
    drops the staged entry, and counts one data PUT."""
    src = tmp_path / "stage" / "a.parquet"
    src.parent.mkdir()
    dst = tmp_path / "tbl" / "part-del-xyz.parquet"
    dst.parent.mkdir()
    dst.write_bytes(b"ORPHAN")
    src.write_bytes(b"BBB")
    calls = []
    real_replace = os.replace

    def spy(a, b, *args, **kw):
        calls.append((a, b))
        return real_replace(a, b, *args, **kw)

    monkeypatch.setattr(os, "replace", spy)
    b = ConditionalPutBackend()
    with commitio.use_backend(b):
        commitio.place_file(str(src), str(dst))  # dst EXISTS
    assert dst.read_bytes() == b"BBB" and not src.exists()
    assert calls == []  # the PUT never renamed
    assert b.ops["data_put"] == 1


def test_mutation_family_no_rename_object_store(
    spark, tmp_path, no_parquet_renames
):
    """Append -> rewrite delete -> DV delete -> upsert -> OPTIMIZE ->
    feed reads -> time travel -> segmented IVM, all with the
    object-store control plane and zero data-file renames."""
    from osrs_dashboard_elt_spark.sources.change_feed import (
        enable_change_feed,
        read_table_as_of,
    )
    from osrs_dashboard_elt_spark.sources.ivm import (
        init_view_segmented,
        read_view_segmented,
        refresh_view_segmented,
    )
    from osrs_dashboard_elt_spark.sources.maintenance import (
        compact_table,
        table_append,
        targeted_delete,
        targeted_upsert,
    )
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        read_table,
        write_stats_manifest,
    )

    b = ConditionalPutBackend()
    with commitio.use_backend(b):
        path = str(tmp_path / "tbl")
        spark.range(200).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 5).alias("grp"),
            (F.col("id") % 90).cast("decimal(18,2)").alias("amount"),
        ).repartition(4, "doc_id").write.parquet(path)
        write_stats_manifest(
            spark, path, ["grp"], bloom_cols=["doc_id"],
            bloom_bits=1 << 15,
        )
        enable_change_feed(path)
        root = str(tmp_path / "view")
        init_view_segmented(
            spark, path, root, ["grp"], ["amount"],
            minmax_cols=["amount"], distinct_cols=["doc_id"],
        )
        # seq 1: insert-only append
        table_append(
            spark, path,
            spark.range(200, 220).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 5).alias("grp"),
                (F.col("id") % 90).cast("decimal(18,2)")
                .alias("amount"),
            ),
        )
        # seq 2: rewrite-mode delete (partial-file rewrites swap in)
        targeted_delete(spark, path, "doc_id", [3, 7, 211])
        # seq 3: DV-mode delete (metadata only)
        targeted_delete(spark, path, "doc_id", [11], mode="dv")
        # seq 4: upsert (update + insert paths together)
        targeted_upsert(
            spark, path, "doc_id",
            spark.createDataFrame(
                [(5, 1, 500.25), (9001, 2, 9.75)],
                "doc_id long, grp long, amount double",
            ).withColumn(
                "amount", F.col("amount").cast("decimal(18,2)")
            ),
        )
        # OPTIMIZE: bin-pack small files in place (lineage recorded)
        compact_table(spark, path, target_bytes=1 << 20)
        got = {r.doc_id for r in read_table(spark, path).collect()}
        assert got == (set(range(220)) - {3, 7, 11, 211}) | {9001}
        upd = read_table(spark, path).filter(
            F.col("doc_id") == 5
        ).collect()
        assert str(upd[0]["amount"]) == "500.25"
        # time travel back to before the deletes (post-append state)
        assert read_table_as_of(spark, path, 1).count() == 220
        # segmented IVM folds the whole history from the feed
        refresh_view_segmented(spark, path, root)
        view = {
            (r["grp"], r["__n"], str(r["sum_amount"]))
            for r in read_view_segmented(spark, root).collect()
        }
        direct = {
            (r["grp"], r["__n"], str(r["sum_amount"]))
            for r in read_table(spark, path)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum("amount").alias("sum_amount"),
            )
            .collect()
        }
        assert view == direct
    # the data plane really took the PUT path
    assert b.ops["data_put"] > 0
