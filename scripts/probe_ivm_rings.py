"""Probe: k-extrema rings absorb delete-heavy IVM workloads
(sources/ivm.py, round-9 judge ask #4).

Before rings, EVERY refresh whose window deleted a group extremum ran
the group-targeted table scan; a GDPR-style sweep deleting minima
across many groups degenerated toward a rebuild per refresh.  With
rings (ring_k=8) those refreshes fold from state: the probe runs R
consecutive delete-at-the-minimum sweeps across G groups and counts
how many refreshes touched the table at all, then exhausts one
group's ring to show the single honest rebuild.

Usage: python scripts/probe_ivm_rings.py [rounds] [groups]
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

from osrs_dashboard_elt_spark.session import get_spark  # noqa: E402
from osrs_dashboard_elt_spark.sources import (  # noqa: E402
    stats_manifest as sm,
)
from osrs_dashboard_elt_spark.sources.change_feed import (  # noqa: E402
    enable_change_feed,
)
from osrs_dashboard_elt_spark.sources.ivm import (  # noqa: E402
    init_view_segmented,
    read_view_segmented,
    refresh_view_segmented,
)
from osrs_dashboard_elt_spark.sources.maintenance import (  # noqa: E402
    targeted_delete,
)


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    groups = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    spark = get_spark(master="local[8]")
    base = tempfile.mkdtemp(prefix="ivm_rings_")
    path = os.path.join(base, "tbl")
    root = os.path.join(base, "view")
    n = groups * 500
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % groups).alias("grp"),
        (F.col("id") / 7).cast("decimal(18,2)").alias("amount"),
    ).repartition(8, "doc_id").write.parquet(path)
    sm.write_stats_manifest(
        spark, path, ["grp"], bloom_cols=["doc_id"],
        bloom_bits=1 << 18,
    )
    enable_change_feed(path)
    init_view_segmented(
        spark, path, root, ["grp"], ["amount"],
        minmax_cols=["amount"], ring_k=8,
    )
    real_read = sm.read_table
    calls = {"n": 0}

    def counting(*a, **k):
        calls["n"] += 1
        return real_read(*a, **k)

    sm.read_table = counting
    out = {
        "op": "ivm_rings", "groups": groups, "rows": n,
        "rounds": rounds,
    }
    touched = 0
    t0 = time.time()
    for r in range(rounds):
        # GDPR-style sweep: delete the CURRENT MINIMUM row of every
        # group (ids r, r+groups? -> the smallest amounts are the
        # smallest ids per group: id = grp + groups*r)
        ids = [g + groups * r for g in range(groups)]
        sm.read_table = real_read
        targeted_delete(spark, path, "doc_id", ids)
        sm.read_table = counting
        before = calls["n"]
        refresh_view_segmented(spark, path, root)
        if calls["n"] > before:
            touched += 1
    out["retraction_refreshes"] = rounds
    out["refreshes_touching_table"] = touched
    out["sweep_wall_s"] = round(time.time() - t0, 2)
    # exhaust group 0's ring in ONE window: delete its next 10 minima
    sm.read_table = real_read
    next_mins = [
        r["doc_id"]
        for r in real_read(spark, path)
        .filter("grp = 0")
        .orderBy("amount", "doc_id")
        .limit(10)
        .collect()
    ]
    targeted_delete(spark, path, "doc_id", next_mins)
    sm.read_table = counting
    before = calls["n"]
    refresh_view_segmented(spark, path, root)
    out["exhaustion_rebuild_ran"] = calls["n"] > before
    sm.read_table = real_read
    # exactness: maintained view == direct recompute
    got = {
        r["grp"]: (r["__n"], str(r["min_amount"]))
        for r in read_view_segmented(spark, root).collect()
    }
    want = {
        r["grp"]: (r["n"], str(r["mn"]))
        for r in real_read(spark, path)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"), F.min("amount").alias("mn")
        )
        .collect()
    }
    out["exact"] = got == want
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
