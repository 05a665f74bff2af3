"""Phase-level profiling for the slowest bench queries (guide §1):
time each sub-step of a query's builder separately so optimization
targets the real cost, not a guess.  Timing action is the noop sink
(``df.write.format("noop")``) so every column is computed and no
result is collected.  Run on an IDLE machine.

Usage: python scripts/profile_phases.py [probe ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def t(label, fn, n=2):
    best = None
    for _ in range(n):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(f"    {label}: {best:.3f}s", flush=True)
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def probe_stream_trio(spark):
    """TWS engine start vs per-row RPC: drive each streaming query at
    two scale factors; flat = engine start, growing = per-row."""
    from osrs_dashboard_elt_spark import suite

    qs = suite.QUERIES
    for name in (
        "q_stream_topk_entries",
        "q_stream_sessionize_timers",
        "q_running_best_changelog_tws",
        "q_running_best_changelog",
    ):
        for sf in ("/root/testdata/sf0.001", SF_DIR):
            t(f"{name} @ {os.path.basename(sf)}",
              lambda n=name, s=sf: qs[n](spark, s).count(), n=2)


def probe_quantiles(spark):
    from osrs_dashboard_elt_spark import suite
    from osrs_dashboard_elt_spark.operators.exact_quantile import (
        exact_quantiles, _stats,
    )
    from pyspark.sql import functions as F

    li = suite._t(spark, SF_DIR, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    t("stats scan", lambda: _stats(li, "cents"))
    t("full exact_quantiles (3 qs)",
      lambda: exact_quantiles(li, "cents", (0.25, 0.5, 0.75), n_bins=512))


def probe_pagerank(spark):
    from osrs_dashboard_elt_spark import suite
    from osrs_dashboard_elt_spark.operators.baskets import copurchase_pairs
    from osrs_dashboard_elt_spark.operators.pagerank import pagerank
    from pyspark.sql import functions as F

    li = suite._t(spark, SF_DIR, "lineitem")
    pairs = copurchase_pairs(
        li, "l_orderkey", "l_partkey", min_support=2, max_basket=64
    ).select("item_a", "item_b")
    t("copurchase_pairs alone", lambda: noop(pairs))
    edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    t("full pagerank", lambda: noop(pagerank(edges, n_iter=suite._PR_ITER,
                                             damping_pct=suite._PR_DAMP,
                                             scale=suite._PR_SCALE)))


def probe_clusters(spark):
    from osrs_dashboard_elt_spark import suite
    from osrs_dashboard_elt_spark.operators import minhash_lsh_pairs
    from osrs_dashboard_elt_spark.operators.components import dedup_clusters

    docs = suite._t(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=16, bands=4, seed=42, shingle_n=3
    )
    t("minhash_lsh_pairs alone", lambda: noop(pairs))
    stats = {}
    t("dedup_clusters (pairs + CC)",
      lambda: noop(dedup_clusters(docs, pairs, "doc_id", stats=stats)), n=1)
    print(f"    CC iterations: {stats}")


def probe_crossmodal(spark):
    from osrs_dashboard_elt_spark import suite

    t("q_media_features", lambda: suite.QUERIES["q_media_features"](spark, SF_DIR).count())
    t("q_media_neardup", lambda: suite.QUERIES["q_media_neardup"](spark, SF_DIR).count())
    t("q_crossmodal_dedup_clusters",
      lambda: suite.QUERIES["q_crossmodal_dedup_clusters"](spark, SF_DIR).count())


def probe_bloom(spark):
    from osrs_dashboard_elt_spark import suite
    from osrs_dashboard_elt_spark.operators.bloom import bloom_build, bloom_semi_join
    from osrs_dashboard_elt_spark.operators.skew import ensure_min_partitions
    from pyspark.sql import functions as F

    li0 = suite._t(spark, SF_DIR, "lineitem").select("l_orderkey", "l_returnflag")
    li = ensure_min_partitions(li0)
    urgent = (
        suite._t(spark, SF_DIR, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    words = t("bloom_build", lambda: bloom_build(urgent, "l_orderkey", k=5))
    out = bloom_semi_join(li, urgent, "l_orderkey", k=5, words=words)
    agg = out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    t("probe+confirm+agg (with floor)", lambda: noop(agg))
    out2 = bloom_semi_join(li0, urgent, "l_orderkey", k=5, words=words)
    agg2 = out2.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    t("probe+confirm+agg (no floor)", lambda: noop(agg2))


def probe_at_rest(spark):
    from osrs_dashboard_elt_spark import suite

    for name in ("q_hll_rolling_at_rest", "q_cms_window_at_rest",
                 "q_histogram_window_at_rest", "q_dv_delete",
                 "q_time_travel"):
        t(name, lambda n=name: suite.QUERIES[n](spark, SF_DIR).count())


PROBES = {
    "stream": probe_stream_trio,
    "quantiles": probe_quantiles,
    "pagerank": probe_pagerank,
    "clusters": probe_clusters,
    "crossmodal": probe_crossmodal,
    "bloom": probe_bloom,
    "at_rest": probe_at_rest,
}


def main() -> None:
    from osrs_dashboard_elt_spark.session import get_spark

    names = sys.argv[1:] or list(PROBES)
    spark = get_spark(
        app_name="phase-profile",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={"spark.sql.shuffle.partitions": "32"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from osrs_dashboard_elt_spark import suite

    suite._pin(spark)
    # session warm-up so the first probe doesn't absorb JVM start
    suite.QUERIES["q_summary_stats"](spark, SF_DIR).count()
    for nm in names:
        print(f"== {nm} ==", flush=True)
        spark.sparkContext.setJobDescription(f"probe:{nm}")
        PROBES[nm](spark)
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001


if __name__ == "__main__":
    main()
