"""Probe: snapshot-served vs arithmetic as-of reads at growing table
size (sources/change_feed.py::read_table_as_of, round-9 judge ask #3).

Claim: the snapshot path costs ~a plain manifest-aware read (scan
only, zero shuffle — reconstruction overhead is the reverse-replay of
per-seq file manifests, O(mutations) driver-side json), while the
arithmetic path pays an exact-dedup-class hash aggregate over
(table + deltas) that grows with table volume.

History per table: one append + one dv delete + one insert-merge —
the steady streaming-corpus regime where every earlier listing file
still exists, so seq 0..head all snapshot-serve.

Usage: python scripts/probe_asof_snapshot.py [max_scale]
       (default 4; table rows = 200k * scale)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osrs_dashboard_elt_spark.literals import local_frame  # noqa: E402
from osrs_dashboard_elt_spark.session import get_spark  # noqa: E402
from osrs_dashboard_elt_spark.sources.change_feed import (  # noqa: E402
    enable_change_feed,
    read_table_as_of,
)
from osrs_dashboard_elt_spark.sources.maintenance import (  # noqa: E402
    table_append,
    targeted_delete,
    targeted_upsert,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (  # noqa: E402
    read_table,
    write_stats_manifest,
)


def _build(spark, path, n_rows):
    df = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("tag"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    df.repartition(16, "doc_id").write.parquet(path)
    write_stats_manifest(
        spark, path, ["tag"], bloom_cols=["doc_id"], bloom_bits=1 << 17
    )
    enable_change_feed(path)
    table_append(
        spark, path,
        local_frame(
            spark, [(n_rows + 1, 1, "a")],
            "doc_id long, tag long, text string",
        ),
    )
    targeted_delete(spark, path, "doc_id", [42], mode="dv")
    targeted_upsert(
        spark, path, "doc_id",
        local_frame(
            spark, [(n_rows + 2, 2, "b")],
            "doc_id long, tag long, text string",
        ),
    )


def _time(fn, reps=3):
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    max_scale = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="asof-probe-")
    out = []
    scale = 1
    while scale <= max_scale:
        n = 200_000 * scale
        path = os.path.join(base, f"t{scale}")
        _build(spark, path, n)
        rec = {
            "scale": scale,
            "rows": n,
            "plain_read_s": _time(
                lambda: read_table(spark, path).count()
            ),
            "snapshot_asof_s": _time(
                lambda: read_table_as_of(
                    spark, path, 0, mode="snapshot"
                ).count()
            ),
            "arithmetic_asof_s": _time(
                lambda: read_table_as_of(
                    spark, path, 0, mode="arithmetic"
                ).count()
            ),
        }
        out.append(rec)
        print(json.dumps(rec), flush=True)
        scale *= 2
    print(
        json.dumps(
            {
                "summary": "asof-snapshot",
                "snapshot_overhead_vs_plain_read": [
                    round(r["snapshot_asof_s"] / r["plain_read_s"], 2)
                    for r in out
                ],
                "arithmetic_vs_snapshot": [
                    round(
                        r["arithmetic_asof_s"] / r["snapshot_asof_s"], 2
                    )
                    for r in out
                ],
            }
        ),
        flush=True,
    )
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
