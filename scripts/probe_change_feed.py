"""Probe: MERGE (targeted_upsert) job count / wall clock at growing
affected-file counts, change-feed write amplification, and as-of
reconstruction cost at growing mutation-history depth.

Three claims under test (sources/maintenance.py::targeted_upsert,
sources/change_feed.py):

1. A merge touching 16x the files schedules the SAME number of Spark
   jobs (one classification scan + one rewrite job — the batched
   delete contract inherited via the shared swap section).
2. Recording a delta costs O(rows changed), not O(table): the feed
   bytes for a K-row merge are ~K rows of parquet regardless of
   table size.
3. ``read_table_as_of`` wall clock is flat in the NUMBER of recorded
   mutations (constant plan depth: one scan of the feed + one hash
   aggregate), growing only with table + feed volume.

Usage: python scripts/probe_change_feed.py [max_files]
       (default 1024)
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osrs_dashboard_elt_spark.session import get_spark  # noqa: E402
from osrs_dashboard_elt_spark.sources.change_feed import (  # noqa: E402
    enable_change_feed,
    read_table_as_of,
)
from osrs_dashboard_elt_spark.sources.maintenance import (  # noqa: E402
    targeted_delete,
    targeted_upsert,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (  # noqa: E402
    _load_meta,
    _manifest_df,
    write_stats_manifest,
)

ROWS_PER_FILE = 200


def build(spark, path: str, n_files: int, cdf: bool = False) -> list:
    df = spark.range(n_files * ROWS_PER_FILE).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("tag"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    df.repartition(n_files, "doc_id").write.parquet(path)
    write_stats_manifest(
        spark, path, ["doc_id"], bloom_cols=["doc_id"],
        bloom_bits=1 << 14,
    )
    if cdf:
        enable_change_feed(path)
    _, meta = _load_meta(path)
    man = _manifest_df(spark, path, meta)
    # one update key per file: every file is genuinely affected
    return [
        int(r["min_doc_id"])
        for r in man.select("min_doc_id").collect()
    ]


def count_jobs(spark, fn):
    sc = spark.sparkContext
    g = "probe-" + uuid.uuid4().hex
    sc.setJobGroup(g, "probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(g))


def feed_bytes(path: str) -> int:
    root = os.path.join(path, "_stats_manifest", "_changes")
    total = 0
    for dirpath, _d, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def main() -> None:
    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
    spark = get_spark(
        app_name="probe-change-feed",
        extra_conf={"spark.sql.shuffle.partitions": "32"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    results = []
    # —— claim 1+2: merge job count + feed write amplification ——
    n = 64
    while n <= max_files:
        path = tempfile.mkdtemp(prefix="ups_probe_") + "/tbl"
        keys = build(spark, path, n, cdf=True)
        upd = spark.createDataFrame(
            [(k, 99, f"u{k}") for k in keys],
            "doc_id long, tag long, text string",
        )
        t0 = time.time()
        jobs = count_jobs(
            spark,
            lambda: targeted_upsert(spark, path, "doc_id", upd),
        )
        dt = time.time() - t0
        fb = feed_bytes(path)
        rec = {
            "op": "targeted_upsert", "n_files": n,
            "rows_updated": len(keys), "sec": round(dt, 3),
            "jobs": jobs, "feed_bytes": fb,
            "feed_bytes_per_row": round(fb / max(1, 2 * len(keys)), 1),
        }
        print(json.dumps(rec), flush=True)
        results.append(rec)
        n *= 4

    # —— claim 3: as-of reconstruction vs mutation-history depth ——
    for depth in (4, 16, 64):
        path = tempfile.mkdtemp(prefix="asof_probe_") + "/tbl"
        build(spark, path, 64, cdf=True)
        for i in range(depth):
            targeted_delete(
                spark, path, "doc_id", [i * 7 + 1, i * 7 + 3]
            )
        t0 = time.time()
        n_rows = read_table_as_of(spark, path, 0).count()
        dt = time.time() - t0
        rec = {
            "op": "read_table_as_of", "mutations": depth,
            "rows": n_rows, "sec": round(dt, 3),
        }
        print(json.dumps(rec), flush=True)
        results.append(rec)

    ups = [r for r in results if r["op"] == "targeted_upsert"]
    asof = [r for r in results if r["op"] == "read_table_as_of"]
    print(json.dumps({
        "summary": "upsert jobs constant + asof flat in history depth",
        "upsert_jobs": [r["jobs"] for r in ups],
        "upsert_sec": [r["sec"] for r in ups],
        "asof_sec": [r["sec"] for r in asof],
        "asof_mutations": [r["mutations"] for r in asof],
    }), flush=True)


if __name__ == "__main__":
    main()
