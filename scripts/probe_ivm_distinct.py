"""Probe: exact value maps absorb DISTINCT-column retractions in
segmented IVM (sources/ivm.py, round-10 judge ask #3).

Before value maps, EVERY refresh whose window deleted a non-null
distinct-column value rebuilt the group from a table scan (HLL
registers cannot retract).  With ``distinct_k`` maps, groups at or
below the cardinality threshold fold the delete from state — the
registers are re-derived from the surviving value set, bit-equal to
recompute.  The probe runs R consecutive delete sweeps across G
below-threshold groups and counts how many refreshes touched the
table at all, then deletes from one ABOVE-threshold (spilled) group
to show the single honest rebuild.

Usage: python scripts/probe_ivm_distinct.py [rounds] [groups]
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
    table_append,
    targeted_delete,
)


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    groups = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    per_group = 40  # distinct ids per group, under distinct_k=64
    spark = get_spark(master="local[8]")
    base = tempfile.mkdtemp(prefix="ivm_distinct_")
    path = os.path.join(base, "tbl")
    root = os.path.join(base, "view")
    n = groups * per_group
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
        distinct_cols=["doc_id"], distinct_k=64,
    )
    real_read = sm.read_table
    calls = {"n": 0}

    def counting(*a, **k):
        calls["n"] += 1
        return real_read(*a, **k)

    sm.read_table = counting
    out = {
        "op": "ivm_distinct_maps", "groups": groups, "rows": n,
        "rounds": rounds, "distinct_k": 64,
    }
    touched = 0
    t0 = time.time()
    for r in range(rounds):
        # takedown-style sweep: one distinct id from EVERY group
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
    # spill group 0 past the threshold, then delete from it: the one
    # honest rebuild
    sm.read_table = real_read
    table_append(
        spark, path,
        spark.range(10_000_000, 10_000_100).select(
            F.col("id").alias("doc_id"),
            F.lit(0).cast("long").alias("grp"),
            (F.col("id") % 50).cast("decimal(18,2)").alias("amount"),
        ),
    )
    refresh_view_segmented(spark, path, root)  # insert-only: folds
    targeted_delete(spark, path, "doc_id", [10_000_005])
    sm.read_table = counting
    before = calls["n"]
    refresh_view_segmented(spark, path, root)
    out["spilled_rebuild_ran"] = calls["n"] > before
    sm.read_table = real_read
    # exactness: estimates from maintained registers == from-scratch
    from osrs_dashboard_elt_spark.operators.sketches import (
        hll_distinct,
    )

    got = {
        (r["grp"], r["__n"], r["nd_doc_id"])
        for r in read_view_segmented(
            spark, root, finalize=True
        ).collect()
    }
    direct = real_read(spark, path)
    cnt = direct.groupBy("grp").agg(F.count(F.lit(1)).alias("__n"))
    nd = hll_distinct(direct, ["grp"], "doc_id", 9, out_col="nd")
    want = {
        (r["grp"], r["__n"], r["nd"])
        for r in cnt.join(nd, "grp").collect()
    }
    out["exact"] = got == want
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
