"""Probe: segmented IVM refresh cost vs table size (sources/ivm.py,
round-9 judge ask #2).

Claims: refresh WALL and the bytes written per refresh are flat as the
table grows 16x (the refresh folds the delta window and writes ONLY
the affected groups' state rows); the retraction path (delete at a
group's minimum) adds one group-targeted semi-join scan — the only
table-touching step, and the reason min/max under deletes is honest
rather than wrong.

Usage: python scripts/probe_ivm_segmented.py [max_scale]
       (default 16; rows = 100k * scale, 1000 groups)
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
)
from osrs_dashboard_elt_spark.sources.ivm import (  # noqa: E402
    _seg_dir,
    init_view_segmented,
    refresh_view_segmented,
)
from osrs_dashboard_elt_spark.sources.maintenance import (  # noqa: E402
    table_append,
    targeted_delete,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (  # noqa: E402
    write_stats_manifest,
)


def _dir_bytes(d: str) -> int:
    total = 0
    for dp, _dn, files in os.walk(d):
        for fn in files:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


def main() -> None:
    max_scale = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="ivmseg-")
    out = []
    scale = 1
    while scale <= max_scale:
        n = 100_000 * scale
        path = os.path.join(base, f"t{scale}")
        spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 1000).alias("grp"),
            (F.col("id") % 100).cast("decimal(18,2)").alias("amount"),
        ).repartition(16, "doc_id").write.parquet(path)
        write_stats_manifest(
            spark, path, ["grp"], bloom_cols=["doc_id"],
            bloom_bits=1 << 17,
        )
        enable_change_feed(path)
        view = os.path.join(base, f"v{scale}")
        t0 = time.time()
        init_view_segmented(
            spark, path, view, ["grp"], ["amount"],
            minmax_cols=["amount"], distinct_cols=["doc_id"],
        )
        t_init = time.time() - t0
        # insert-only window: pure fold, no table touch
        table_append(
            spark, path,
            local_frame(
                spark,
                [(n + i, i % 1000, 1.0) for i in range(10)],
                "doc_id long, grp long, amount decimal(18,2)",
            ),
        )
        t0 = time.time()
        r1 = refresh_view_segmented(spark, path, view)
        t_fold = time.time() - t0
        seg_fold = _dir_bytes(_seg_dir(view, r1["segments"][-1]))
        # retraction window: delete three group MINIMA -> dirty
        # rebuild (the one group-targeted table scan)
        targeted_delete(spark, path, "doc_id", [0, 1, 2])
        t0 = time.time()
        r2 = refresh_view_segmented(spark, path, view)
        t_retract = time.time() - t0
        seg_retract = _dir_bytes(_seg_dir(view, r2["segments"][-1]))
        rec = {
            "scale": scale,
            "rows": n,
            "init_s": round(t_init, 2),
            "fold_refresh_s": round(t_fold, 2),
            "fold_segment_bytes": seg_fold,
            "retract_refresh_s": round(t_retract, 2),
            "retract_segment_bytes": seg_retract,
        }
        out.append(rec)
        print(json.dumps(rec), flush=True)
        scale *= 4
    print(
        json.dumps(
            {
                "summary": "ivm-segmented",
                "fold_flat": [r["fold_refresh_s"] for r in out],
                "retract": [r["retract_refresh_s"] for r in out],
                "segment_bytes": [
                    r["fold_segment_bytes"] for r in out
                ],
            }
        ),
        flush=True,
    )
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
