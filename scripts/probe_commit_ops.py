"""Probe: commit operations per mutation kind over the object-store
commit protocol (sources/commitio.py).

On S3-class storage each conditional PUT / PUT / DELETE is a network
round trip (~10-50 ms) where POSIX paid ~0.1 ms for a local rename —
so the number that matters at 100 TB is OPS PER MUTATION, not
seconds.  This counts them with the ConditionalPutBackend's op
counters for each mutation kind at a fixed table size; ``data_put``
is the data files each mutation lands (every one a PUT, zero
renames).

Usage: python scripts/probe_commit_ops.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from osrs_dashboard_elt_spark.session import get_spark  # noqa: E402
from osrs_dashboard_elt_spark.sources import commitio  # noqa: E402
from osrs_dashboard_elt_spark.sources.change_feed import (  # noqa: E402
    enable_change_feed,
)
from osrs_dashboard_elt_spark.sources.maintenance import (  # noqa: E402
    apply_deletion_vectors,
    compact_table,
    table_append,
    targeted_delete,
    targeted_upsert,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (  # noqa: E402
    write_stats_manifest,
)


def main() -> None:
    spark = get_spark(master="local[8]")
    base = tempfile.mkdtemp(prefix="commit_ops_")
    path = os.path.join(base, "tbl")
    backend = commitio.ConditionalPutBackend()
    with commitio.use_backend(backend):
        spark.range(100_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 97).alias("grp"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        ).repartition(8, "doc_id").write.parquet(path)
        write_stats_manifest(
            spark, path, ["grp"], bloom_cols=["doc_id"],
            bloom_bits=1 << 18,
        )
        enable_change_feed(path)

        def snap():
            return dict(backend.ops)

        def diff(b, a):
            return {k: a[k] - b[k] for k in a if a[k] - b[k]}

        out = {"op": "commit_ops", "backend": backend.name}
        b0 = snap()
        table_append(
            spark, path,
            spark.range(200_000, 200_100).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 97).alias("grp"),
                F.sha2(F.col("id").cast("string"), 256).alias(
                    "payload"
                ),
            ),
        )
        out["append"] = diff(b0, snap())
        b0 = snap()
        targeted_delete(spark, path, "doc_id", [7, 9001])
        out["delete_rewrite"] = diff(b0, snap())
        b0 = snap()
        targeted_delete(spark, path, "doc_id", [11, 9002], mode="dv")
        out["delete_dv"] = diff(b0, snap())
        b0 = snap()
        targeted_upsert(
            spark, path, "doc_id",
            spark.range(13, 15).select(
                F.col("id").alias("doc_id"),
                F.lit(1).cast("long").alias("grp"),
                F.lit("u").alias("payload"),
            ),
        )
        out["upsert"] = diff(b0, snap())
        b0 = snap()
        compact_table(spark, path, target_bytes=1 << 30)
        out["compact"] = diff(b0, snap())
        b0 = snap()
        apply_deletion_vectors(spark, path)
        out["dv_apply"] = diff(b0, snap())
        print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
