"""Incremental corpus ingest, end to end: build (or reuse) the at-rest
MinHash index, then stream document batches through the dedup-ingest
sink — each batch is deduped within itself, probed against the index,
routed to accepted/quarantine, and folded into the index for the next
batch.

Batches land in ONE source dir consumed by ONE checkpoint lineage
(files dropped incrementally, the stream re-activated with
availableNow) so micro-batch ids advance monotonically — the
out_root/checkpoint ownership contract from
``streaming/dedup_ingest.py``.

Synthetic batches from the documents table:

  batch 0: first ~60% of docs (the bootstrap corpus)
  batch 1: next ~20% plus verbatim re-submissions of earlier docs
           under NEW ids (guaranteed corpus near-dups)
  batch 2: the rest plus re-submissions from batch 1, plus a replayed
           copy of batch 1's docs under their ORIGINAL ids
           (already_ingested redeliveries)

Usage: python scripts/run_dedup_ingest.py <sf_dir> <out_dir>
Prints the per-batch funnel and writes a run summary.  Re-running
against the same out_dir REPROCESSES the batches (the rewritten JSON
files carry fresh part names, so the file source sees them as new) —
and that is the demonstration: every document routes to
``already_ingested``/dup, ``n_accepted`` is 0 everywhere, and the
accepted corpus on disk is byte-for-byte unchanged.  The index-probe
idempotency, not checkpoint bookkeeping, is what protects the corpus.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    if len(sys.argv) < 3:
        print("usage: python scripts/run_dedup_ingest.py <sf_dir> <out_dir>")
        return 2
    sf_dir, out_dir = sys.argv[1], sys.argv[2]

    from osrs_dashboard_elt_spark import suite
    from osrs_dashboard_elt_spark.observability import (
        render_run_summary,
        write_summary_file,
    )
    from osrs_dashboard_elt_spark.operators.dedup_index import (
        compact_index,
        register_index,
        write_minhash_index,
    )
    from osrs_dashboard_elt_spark.session import get_spark
    from osrs_dashboard_elt_spark.streaming.dedup_ingest import (
        start_dedup_ingest,
    )

    spark = get_spark(app_name="dedup-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    suite._pin(spark)
    docs = suite._t(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    c1, c2 = int(n * 0.6), int(n * 0.8)

    def slice_(lo, hi):
        return docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def resubmit(lo, hi, shift):
        return slice_(lo, hi).withColumn("doc_id", F.col("doc_id") + shift)

    batches = [
        slice_(0, c1),
        slice_(c1, c2).unionByName(resubmit(0, 40, 1_000_000)),
        docs.filter(F.col("doc_id") >= c2)
        .unionByName(resubmit(c1, c1 + 40, 2_000_000))
        .unionByName(slice_(c1, c1 + 25)),  # redelivered original ids
    ]

    # Bootstrap the index only on FIRST run — a re-run must keep the
    # committed postings (the checkpoint will skip the batches anyway).
    # A fresh process has an empty in-memory catalog, so existing index
    # data is RE-REGISTERED via DDL (bucketed spec + LOCATION), never
    # rewritten.
    import os

    table = "ingest_mh_idx"
    idx_path = f"{out_dir}/mh_index"
    if not spark.catalog.tableExists(table):
        if os.path.exists(f"{idx_path}__meta.json"):
            # the sidecar records the CURRENT location — compaction at
            # the end of a prior run moved the data off idx_path, and
            # re-registering the stale dir would orphan the compacted
            # index and every subsequent append
            register_index(spark, idx_path, table)
        elif os.path.isdir(idx_path):
            # pre-sidecar layout: re-register the existing data in
            # place — bootstrapping (overwrite) here would destroy the
            # committed postings while the checkpoint still skips their
            # batches, so redelivered dups would be re-accepted
            from osrs_dashboard_elt_spark.operators import dedup_index

            spark.sql(
                f"CREATE TABLE {table} (corpus_id long, band_key string)"
                " USING PARQUET CLUSTERED BY (band_key) SORTED BY"
                f" (band_key) INTO 32 BUCKETS LOCATION '{idx_path}'"
            )
            dedup_index._write_meta(spark, table, 32)  # heal the sidecar
        else:
            empty = spark.createDataFrame([], "doc_id long, text string")
            write_minhash_index(
                empty, table, "doc_id", "text", path=idx_path
            )

    src = f"{out_dir}/incoming"
    ckpt = f"{out_dir}/ckpt"
    counts: list[dict] = []
    # ONE source dir + ONE checkpoint: drop each batch's files, then
    # re-activate the stream with availableNow — batch ids continue
    # where the checkpoint left off, and a re-run processes nothing.
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").json(f"{src}/b{i}")
        stream = spark.readStream.schema("doc_id long, text string").json(
            f"{src}/*"
        )
        before = len(counts)
        q = start_dedup_ingest(
            stream, table, out_dir, ckpt,
            available_now=True, run_id="demo",
            on_batch=lambda bid, c: counts.append(c),
        )
        q.awaitTermination(300)
        for c in counts[before:]:
            print(f"[activation {i}] {c}", flush=True)

    if counts:
        n_postings_before = spark.table(table).count()
        n_rows = compact_index(spark, table)
        idx_line = f"{n_postings_before} -> {n_rows} (compacted)"
    else:  # re-run: checkpoint skipped everything, leave the index be
        idx_line = f"{spark.table(table).count()} (unchanged)"
    accepted = spark.read.parquet(f"{out_dir}/accepted")
    quarantined = spark.read.parquet(f"{out_dir}/quarantine")
    by_reason = {
        r.reason: r.n
        for r in quarantined.groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    lines = {
        "activations": len(batches),
        "docs_in": sum(c["n_in"] for c in counts),
        "accepted": accepted.count(),
        "quarantined": by_reason,
        "index_postings": idx_line,
    }
    summary = render_run_summary("corpus-pipeline", "run_dedup_ingest", lines)
    write_summary_file("run_dedup_ingest", summary, out_dir, run_ts="latest")
    print(f"[done] {lines}", flush=True)
    # invariants: THIS run's routed docs partition THIS run's input
    # (disk totals are cumulative across runs and can only confirm
    # the no-duplicate property)
    routed = sum(
        c["n_accepted"]
        + c["n_in_batch_dup"]
        + c["n_corpus_dup"]
        + c["n_already_ingested"]
        for c in counts
    )
    assert routed == lines["docs_in"], (routed, lines)
    assert by_reason.get("corpus_dup", 0) > 0, by_reason
    assert by_reason.get("already_ingested", 0) > 0, by_reason
    dup_accepted = (
        accepted.groupBy("doc_id").count().filter("count > 1").count()
    )
    assert dup_accepted == 0, "duplicate ids in accepted"
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
