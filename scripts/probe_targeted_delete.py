"""Probe: targeted_delete at growing affected-file counts (the
round-8 scale fix, sources/maintenance.py).

The round-7 per-file form scheduled ~2 Spark jobs PER affected file
(SCALE.md keeps its figures); the batched form runs ONE
classification scan + ONE rewrite job regardless of |affected|.  This
probe builds a table with exactly one target value per file (per-file
min_doc_id from the manifest, so EVERY file is affected), times the
delete, and prints one JSON line per n_files plus a summary of the
job counts (flat in n_files).

Usage: python scripts/probe_targeted_delete.py [max_files]
       (default 2048)
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
from osrs_dashboard_elt_spark.sources.maintenance import (  # noqa: E402
    targeted_delete,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (  # noqa: E402
    _load_meta,
    _manifest_df,
    write_stats_manifest,
)

ROWS_PER_FILE = 200


def build(spark, path: str, n_files: int) -> list:
    df = spark.range(n_files * ROWS_PER_FILE).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("tag"),
    )
    df.repartition(n_files, "doc_id").write.parquet(path)
    write_stats_manifest(
        spark, path, ["doc_id"], bloom_cols=["doc_id"],
        bloom_bits=1 << 14,
    )
    _, meta = _load_meta(path)
    man = _manifest_df(spark, path, meta)
    # one target per file: every file is genuinely affected
    return [
        int(r["min_doc_id"])
        for r in man.select("min_doc_id").collect()
    ]


def timed(spark, fn):
    sc = spark.sparkContext
    g = "probe-" + uuid.uuid4().hex
    sc.setJobGroup(g, "probe")
    t0 = time.monotonic()
    out = fn()
    dt = time.monotonic() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(g))
    return dt, jobs, out


def main() -> None:
    import tempfile

    max_files = int(sys.argv[1]) if len(sys.argv) > 1 else 2048
    spark = get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    sizes = [n for n in (128, 512, 2048) if n <= max_files]
    results = []
    for n_files in sizes:
        path = tempfile.mkdtemp(prefix="tdel_") + "/tbl"
        values = build(spark, path, n_files)
        dt, jobs, res = timed(
            spark, lambda: targeted_delete(spark, path, "doc_id", values)
        )
        rec = {
            "n_files": n_files,
            "sec": round(dt, 2),
            "jobs": jobs,
            "files_rewritten": res["files_rewritten"],
            "rows_deleted": res["rows_deleted"],
        }
        assert res["rows_deleted"] == n_files, rec
        results.append(rec)
        print(json.dumps(rec), flush=True)
    summary = {
        "summary": "targeted_delete jobs by affected files",
        "jobs": {r["n_files"]: r["jobs"] for r in results},
    }
    print(json.dumps(summary), flush=True)

if __name__ == "__main__":
    main()
