"""Huge-group top-N probe: window form vs pruned scale path.

The pruned path exists for the case where groups are enormous (top-n
of millions of rows per key): the window form's Exchange carries every
row, the pruned form's carries at most n x partitions per group.  This
probe times three forms on 4 groups x 10M rows (40M rows, 32
partitions), min-of-2 each: the plain window form (whose plan carries a
Partial WindowGroupLimit below the Exchange on Spark >= 3.5), the
hand-built manual Arrow prune, and top_n_per_group_pruned as shipped
(which delegates to the window form on this engine).  SCALE.md
acceptance: delegated form ~= window form <= manual form.

Usage: python scripts/probe_topn.py [rows_per_group] [n_groups]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.operators.topn import (
    top_n_per_group,
    top_n_per_group_pruned,
)
from osrs_dashboard_elt_spark.session import get_spark


def main() -> None:
    rows_per_group = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n = 3
    spark = get_spark("probe-topn")
    total = rows_per_group * n_groups
    df = (
        spark.range(total)
        .repartition(32)
        .select(
            (F.col("id") % n_groups).alias("g"),
            # avoid a global min at a fixed id: mix the id so the
            # winners are spread across partitions
            F.xxhash64("id").alias("score"),
            F.col("id").alias("id"),
        )
        .localCheckpoint()
    )
    df.count()
    order = [F.col("score").asc(), F.col("id").asc()]

    def timed(fn):
        best = None
        rows = None
        for _ in range(2):
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
            t0 = time.time()
            rows = sorted(
                map(tuple, fn(df, ["g"], order, n).collect())
            )
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best, rows

    t_win, r_win = timed(top_n_per_group)
    t_man, r_man = timed(
        lambda *a, **k: top_n_per_group_pruned(*a, manual=True, **k)
    )
    t_del, r_del = timed(top_n_per_group_pruned)
    assert r_win == r_man == r_del, "pruned path diverged from window form"
    print(
        json.dumps(
            {
                "rows": total,
                "groups": n_groups,
                "n": n,
                "window_sec": round(t_win, 2),
                "manual_prune_sec": round(t_man, 2),
                "delegated_sec": round(t_del, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
