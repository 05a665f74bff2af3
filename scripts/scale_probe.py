"""Scale probe: run the corpus-scale operator families at 1x/2x/4x
the sf0.1 data and report wall-time growth.

Replicas are PERTURBED so they are not near-duplicates of the
originals (every token is prefixed with the replica id; embeddings
get a deterministic per-replica rotation of their first component) —
otherwise an 8-way replicated corpus is one giant duplicate class and
every pair generator legitimately goes quadratic.  Relational tables
replicate by shifting the order/event keys, which preserves basket
sizes and per-order supplier mixes (the shapes that drive those
operators' cost).  With distinct replicas, a scale-correct operator
should grow ~linearly in corpus size (shuffles and scans dominate); a
quadratic blow-up here means a blocking/capping bug.

Covered families: the dedup/similarity pair generators (round 2),
plus the round-3 heavy hitters — dedup_clusters (with its iteration
count: O(log D) rounds must NOT grow with corpus size),
item_copurchase (basket cap), waiting_orders (the Q21 single-
aggregate plan), and cms_heavy_hitters (fixed-size registers; the
threshold scales with the factor so the probe measures sketch cost,
not result-set growth).

Usage: python scripts/scale_probe.py [max_factor] [op ...]
Prints one JSON line per (operator, factor) and a final summary with
the t(max)/t(1) ratio per operator.
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def replicate_docs(spark, base, k):
    parts = []
    for i in range(k):
        d = base
        if i > 0:
            d = d.select(
                (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
                F.regexp_replace(
                    "text", r"(\S+)", f"r{i}_$1"
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()  # isolate build cost from probe cost


def replicate_emb(spark, base, k):
    parts = []
    for i in range(k):
        e = base
        if i > 0:
            e = e.select(
                (F.col("vec_id") + 1_000_000 * i).alias("vec_id"),
                F.expr(
                    "transform(embedding, (x, j) -> CAST(x + "
                    f"{0.37 * i}" + " * cos(j) AS FLOAT))"
                ).alias("embedding"),
                "label",
            )
        parts.append(e)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()


def replicate_keyed(spark, base, k, key_cols, shift=100_000_000):
    """Replicate a relational table by shifting its key columns per
    replica: baskets/order groups keep their size and composition, so
    per-group cost is constant and total cost should scale linearly."""
    parts = []
    for i in range(k):
        d = base
        if i > 0:
            for c in key_cols:
                d = d.withColumn(c, F.col(c) + shift * i)
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint()


def main() -> None:
    args = sys.argv[1:]
    max_factor = int(args[0]) if args else 4
    only = set(args[1:])
    factors = [f for f in (1, 2, 4, 8, 16) if f <= max_factor]
    spark = get_spark(master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    from osrs_dashboard_elt_spark.operators.baskets import copurchase_pairs
    from osrs_dashboard_elt_spark.operators.components import dedup_clusters
    from osrs_dashboard_elt_spark.operators.dedup import (
        duplicate_ngram_spans,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from osrs_dashboard_elt_spark.multimodal.media import (
        attach_fake_media,
        media_neardup_pairs,
    )
    from osrs_dashboard_elt_spark.operators.dedup_index import (
        probe_minhash_index,
        write_minhash_index,
    )
    from osrs_dashboard_elt_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from osrs_dashboard_elt_spark.operators.sketches import cms_heavy_hitters
    from osrs_dashboard_elt_spark.operators.skew import ensure_min_partitions

    # suite._t handles the events table's TIMESTAMP(NANOS) parquet
    # encoding (nanosAsLong conf + DIV-1000 truncation) and NTZ
    # normalization — raw spark.read would hand hll_rolling a BIGINT ts
    from osrs_dashboard_elt_spark import suite as _suite

    _suite._pin(spark)
    docs0 = _suite._t(spark, SF_DIR, "documents")
    emb0 = _suite._t(spark, SF_DIR, "embeddings")
    li0 = _suite._t(spark, SF_DIR, "lineitem")
    orders0 = _suite._t(spark, SF_DIR, "orders")
    supp0 = _suite._t(spark, SF_DIR, "supplier")
    ev0 = _suite._t(spark, SF_DIR, "events")

    cc_stats: dict = {}

    def op_dedup_clusters(t):
        pairs = minhash_lsh_pairs(
            t["docs"], "doc_id", "text", num_perm=16, bands=4, seed=42,
            shingle_n=3,
        )
        return dedup_clusters(t["docs"], pairs, "doc_id", stats=cc_stats)

    def op_waiting_orders(t):
        li, orders, supp = t["lineitem"], t["orders"], t["supplier"]
        late = F.col("l_shipdate") > F.lit(datetime(1997, 6, 1))
        per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
            F.count(F.lit(1)).alias("n_os"),
            F.sum(late.cast("long")).alias("n_late_os"),
        )
        per_o = per_os.groupBy("l_orderkey").agg(
            F.sum("n_late_os").alias("n_late_o"),
            F.count(F.lit(1)).alias("n_supp"),
        )
        cand = (
            per_os.join(per_o, "l_orderkey")
            .filter(F.col("n_supp") > 1)
            .filter((F.col("n_late_o") - F.col("n_late_os")) == 0)
            .select("l_orderkey", "l_suppkey", "n_os")
        )
        fo = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
        return (
            cand.join(fo, cand.l_orderkey == F.col("o_orderkey"))
            .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("n_os").cast("long").alias("numwait"))
        )

    ops = {
        "exact_dedup": lambda t: exact_dedup(t["docs"], ["text"], "doc_id"),
        "minhash_lsh": lambda t: minhash_lsh_pairs(
            t["docs"], "doc_id", "text", num_perm=16, bands=4, seed=42,
            shingle_n=3,
        ),
        "ngram_jaccard": lambda t: ngram_jaccard_pairs(
            t["docs"], "doc_id", "text", n=3, threshold=0.5
        ),
        "simhash": lambda t: simhash_pairs(
            t["docs"], "doc_id", "text", bits=48, max_hamming=3
        ),
        "media_neardup": lambda t: media_neardup_pairs(
            attach_fake_media(t["docs"]), max_hamming=3
        ),
        # both physical shapes of the same operator: string-shuffle
        # (one pass) vs hash-first (int shuffles + rehydrate scan) —
        # the 4x ratio decides the size-based default
        "ngram_spans_str": lambda t: duplicate_ngram_spans(
            t["docs"], "doc_id", "text", n=8, min_docs=2, hash_first=False
        ),
        "ngram_spans_hash": lambda t: duplicate_ngram_spans(
            t["docs"], "doc_id", "text", n=8, min_docs=2, hash_first=True
        ),
        "embedding_neardup": lambda t: embedding_neardup_pairs(
            t["emb"],
            "vec_id",
            "embedding",
            threshold=0.25,
            n_planes=18,
            seed=42,
            bands=3,
            max_bucket_size=100,
        ),
        "dedup_clusters": op_dedup_clusters,
        # SemDeDup decision frame over trained cells (centroids are
        # per-factor setup): pair count = sum |cell|^2/2 stays linear
        # because k scales with the corpus; shuffle carries (id, cell,
        # unit-vector) once per side
        "semantic_dedup": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.semantic_dedup",
            fromlist=["x"],
        ).semantic_dedup(
            t["emb"], "embedding", t["sem_cents"], 0.3, id_col="vec_id"
        ),
        # bigram-LM self-scoring: two gram aggregates (Heaps-bounded
        # model tables) + one gram join + exact-decimal per-doc sums —
        # wall time should track the gram count linearly
        "lm_perplexity": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.lm", fromlist=["x"]
        ).lm_score_corpus(t["docs"], "doc_id", "text"),
        # l_partkey is shifted per replica along with l_orderkey (see
        # below): un-perturbed baskets would duplicate every pair
        # exactly and the min_support floor would admit the entire
        # replicated pair set — output explosion from the HARNESS, not
        # the operator (measured: 3.5k rows at 1x -> 1.2M at 2x before
        # the perturbation)
        "item_copurchase": lambda t: copurchase_pairs(
            t["lineitem"], "l_orderkey", "l_partkey",
            min_support=2, max_basket=64,
        ),
        "waiting_orders": op_waiting_orders,
        # bloom semi-join over kx lineitem: build is bounded by the
        # small side (fixed here), probe is a scan-side predicate —
        # wall time should track the fact scan linearly while the
        # confirm join's shuffle stays ~matches.  Project the probe
        # side to the touched columns so the probe measures the
        # operator, not 16-column row copies through the harness's
        # replication shuffle.
        # exact median via iterative range narrowing: rounds bounded
        # by log_bins(range) — wall should track the scan linearly
        # while the per-round exchange stays n_bins rows/partition.
        # Wrapped to a 1-row frame: the harness times fn(t).count(),
        # and the driver loop runs eagerly inside fn(t)
        "exact_median": lambda t: (
            lambda v: t["lineitem"].sparkSession.createDataFrame(
                [(v,)], "median_cents bigint"
            )
        )(
            __import__(
                "osrs_dashboard_elt_spark.operators.exact_quantile",
                fromlist=["x"],
            ).exact_quantile(
                t["lineitem"].select(
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("long").alias("c")
                ),
                "c", 0.5, n_bins=512,
            )
        ),
        "bloom_semijoin": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.bloom", fromlist=["x"]
        ).bloom_semi_join(
            t["lineitem"].select("l_orderkey", "l_returnflag"),
            orders0.filter(
                F.col("o_orderpriority") == "1-URGENT"
            ).select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey", k=5,
        ),
        # threshold scales with the factor: user counts double when the
        # events table doubles, so a fixed threshold would just admit
        # more heavy hitters — the probe times the sketch, not the
        # result set
        "cms_heavy_hitters": lambda t: cms_heavy_hitters(
            t["events"], "user_id", threshold=60 * t["factor"], d=3, w=256
        ),
        # THE incremental-ingest claim: a FIXED batch probed against an
        # index built from kx docs — probe time must stay flat as the
        # corpus grows (only the index's bucket-aligned splits that the
        # batch's band keys touch are read; index build time is the
        # factor-loop setup, not the op)
        "incremental_probe": lambda t: probe_minhash_index(
            spark, t["probe_batch"], "scale_probe_idx", "doc_id", "text",
            shingle_n=3,
        ),
        # sketch family: wall time should scan-scale linearly while
        # every post-register stage stays bounded by 2^p / calendar
        "hll_rolling": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.sketches", fromlist=["x"]
        ).hll_rolling_distinct(t["events"], "ts", "user_id", 7),
        # integer-mass pagerank over the kx co-purchase graph: K fixed
        # rounds, one destination-keyed aggregate each — time should
        # track edge count linearly, never quadratically
        "pagerank": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.pagerank", fromlist=["x"]
        ).pagerank(
            (lambda p: p.select(
                F.col("item_a").alias("src"), F.col("item_b").alias("dst")
            ).unionByName(p.select(
                F.col("item_b").alias("src"), F.col("item_a").alias("dst")
            )))(
                copurchase_pairs(
                    t["lineitem"], "l_orderkey", "l_partkey",
                    min_support=2, max_basket=64,
                ).select("item_a", "item_b")
            ),
            n_iter=3,
        ),
        # timer-based streaming sessionization: wall time ~ events +
        # state RPCs ~ keys; the one-shot harness cost (source write,
        # RocksDB init) is fixed per call
        "timer_sessions": lambda t: __import__(
            "osrs_dashboard_elt_spark.streaming.timer_sessions",
            fromlist=["x"],
        ).sessions_via_stream(t["events"], "user_id", "ts", 1800.0),
        # TWS per-key top-K entry changelog: marginal per-event cost =
        # one key shuffle + per-FIRST-SEEN-id MapState RPC; the
        # engine-start cost (source write, RocksDB init) is fixed per
        # call.  Two probes: events grow with keys FIXED (state size
        # constant, RPCs track new ids) and events grow WITH keys
        # (state rows track keys).
        "topk_state": lambda t: __import__(
            "osrs_dashboard_elt_spark.streaming.topk_state",
            fromlist=["x"],
        ).topk_via_stream(
            t["events_tk"], "user_id", "event_id", "value", "ts", 5
        ),
        "topk_state_keys": lambda t: __import__(
            "osrs_dashboard_elt_spark.streaming.topk_state",
            fromlist=["x"],
        ).topk_via_stream(
            t["events_tk_keys"], "user_id", "event_id", "value", "ts", 5
        ),
        "hll_overlap": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.sketches", fromlist=["x"]
        ).hll_set_overlap_pred(
            t["events"],
            "user_id",
            F.col("ts") < F.lit("2024-01-16"),
            F.col("ts") >= F.lit("2024-01-16"),
        ),
        # ADC search over a PQ-encoded kx corpus (codebooks trained on
        # the 1x base as fixed-model setup, encoding is per-factor
        # setup): the timed scan reads m ints per vector, so the slope
        # is the code-table scan — the raw embedding bytes never move
        "pq_search": lambda t: __import__(
            "osrs_dashboard_elt_spark.operators.pq", fromlist=["x"]
        ).pq_adc_topk(
            t["pq_codes"], t["pq_books"], t["pq_query"], k=10,
            id_col="vec_id",
        ),
        # full probe training (2 GD rounds + scoring) over kx
        # embeddings: each round is one scan + a (d+1)-bounded decimal
        # aggregate, so wall time should track the scan linearly
        "probe_train": lambda t: (
            lambda cl: cl.linear_probe_scores(
                t["emb_y"], "embedding", "y",
                cl.linear_probe_fit(
                    t["emb_y"], "embedding", "y", dim=64, n_iter=2
                ),
                id_col="vec_id",
            )
        )(
            __import__(
                "osrs_dashboard_elt_spark.operators.classifier",
                fromlist=["x"],
            )
        ),
    }
    if only:
        unknown = only - set(ops)
        if unknown:
            raise SystemExit(f"unknown ops: {sorted(unknown)}")
        ops = {n: f for n, f in ops.items() if n in only}

    need_docs = {"exact_dedup", "minhash_lsh", "ngram_jaccard", "simhash",
                 "dedup_clusters", "incremental_probe", "media_neardup",
                 "ngram_spans_str", "ngram_spans_hash", "lm_perplexity"} & set(ops)
    need_emb = {"embedding_neardup", "semantic_dedup", "pq_search",
                "probe_train"} & set(ops)
    need_li = {"item_copurchase", "waiting_orders", "pagerank",
               "bloom_semijoin", "exact_median"} & set(ops)
    need_ev = {"cms_heavy_hitters", "hll_rolling", "hll_overlap",
               "timer_sessions"} & set(ops)
    probe_batch = None
    pq_books = pq_query = None
    if "incremental_probe" in ops:
        # a fixed 500-doc batch: half re-submits corpus text verbatim
        # under new ids (guaranteed index hits), half is perturbed
        # disjoint (misses) — a realistic ingest mix, constant across
        # factors so only the INDEX size varies
        hits = docs0.limit(250).select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"), "text"
        )
        misses = docs0.limit(250).select(
            (F.col("doc_id") + 910_000_000).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", "pb_$1").alias("text"),
        )
        probe_batch = hits.unionByName(misses).localCheckpoint()
        probe_batch.count()

    times: dict[str, dict[int, float]] = {n: {} for n in ops}
    rounds: dict[int, int] = {}
    prev: list = []
    for k in factors:
        # release the previous factor's checkpointed replicas — holding
        # 1x+2x+4x simultaneously is harness bloat, not operator cost.
        # unpersist() alone is NOT enough: localCheckpoint RDD blocks
        # are freed only when the ContextCleaner collects their weak
        # refs, i.e. on driver GC — without the forced collection the
        # 8x/16x factors ran against a block manager still holding
        # every earlier factor's replicas (measured: transient 2-4x
        # spikes at factor 8 that vanish with the GC).  Same JMH
        # discipline as bench.py.
        for df in prev:
            try:
                df.unpersist()
            except Exception:
                pass
        prev = []
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        t = {"factor": k, "supplier": supp0}
        if need_docs:
            t["docs"] = ensure_min_partitions(replicate_docs(spark, docs0, k))
            t["docs"].count()
            prev.append(t["docs"])
        if "incremental_probe" in ops:
            # setup (not timed as the op): index the kx corpus
            import tempfile as _tf

            write_minhash_index(
                t["docs"], "scale_probe_idx", "doc_id", "text",
                shingle_n=3, path=_tf.mkdtemp(prefix=f"spidx{k}_"),
            )
            t["probe_batch"] = probe_batch
        if need_emb:
            t["emb"] = ensure_min_partitions(replicate_emb(spark, emb0, k))
            t["emb"].count()
            prev.append(t["emb"])
        if "semantic_dedup" in ops:
            # setup (not timed as the op): k scales WITH the corpus so
            # cell sizes stay constant — the SemDeDup contract (k ~
            # corpus/cell_budget); the timed op is the within-cell
            # pair generation + dominance pass
            from osrs_dashboard_elt_spark.operators.kmeans import kmeans_fit

            t["sem_cents"] = kmeans_fit(
                t["emb"], "embedding", k=8 * k, n_iter=1,
                id_col="vec_id", seed=42,
            )
        if "pq_search" in ops:
            # setup (not timed as the op): codebooks come from the 1x
            # base (a fixed model, trained once), the kx corpus is
            # encoded and persisted — the op times ONLY the ADC scan
            from osrs_dashboard_elt_spark.operators.pq import (
                pq_encode,
                pq_train,
            )

            if pq_books is None:
                pq_books = pq_train(
                    emb0, "embedding", m=4, k=8, n_iter=1,
                    id_col="vec_id", seed=7,
                )
                pq_query = [
                    float(x)
                    for x in emb0.filter(F.col("vec_id") == 11)
                    .select("embedding").collect()[0][0]
                ]
            t["pq_books"], t["pq_query"] = pq_books, pq_query
            t["pq_codes"] = pq_encode(
                t["emb"], "embedding", pq_books, id_col="vec_id"
            ).persist()
            t["pq_codes"].count()
            prev.append(t["pq_codes"])
        if "probe_train" in ops:
            t["emb_y"] = t["emb"].withColumn(
                "y", (F.col("label") < 5).cast("int")
            )
        if need_li:
            t["lineitem"] = ensure_min_partitions(
                replicate_keyed(spark, li0, k, ["l_orderkey", "l_partkey"])
            )
            t["orders"] = replicate_keyed(spark, orders0, k, ["o_orderkey"])
            t["lineitem"].count(), t["orders"].count()
            prev.extend([t["lineitem"], t["orders"]])
        if need_ev:
            t["events"] = ensure_min_partitions(
                replicate_keyed(spark, ev0, k, ["event_id"])
            )
            t["events"].count()
            prev.append(t["events"])
        if "topk_state" in ops:
            # tenth-of-keys base (the suite-drive subsample): the op is
            # state-RPC-bound, so the probe measures slope, not a
            # 16x-of-everything wall
            t["events_tk"] = ensure_min_partitions(
                replicate_keyed(
                    spark, ev0.filter("user_id % 10 = 0"), k, ["event_id"]
                )
            )
            t["events_tk"].count()
            prev.append(t["events_tk"])
        if "topk_state_keys" in ops:
            t["events_tk_keys"] = ensure_min_partitions(
                replicate_keyed(
                    spark, ev0.filter("user_id % 10 = 0"), k,
                    ["event_id", "user_id"],
                )
            )
            t["events_tk_keys"].count()
            prev.append(t["events_tk_keys"])
        for name, fn in ops.items():
            fn(t).count()  # warm (codegen)
            # min-of-2 (the bench.py discipline): single samples showed
            # 4-30x one-off stragglers (janino giant-method compiles,
            # GC pauses) that read as phantom scaling cliffs
            samples = []
            for _ in range(2):
                t0 = time.time()
                rows = fn(t).count()
                samples.append(time.time() - t0)
            dt = round(min(samples), 2)
            times[name][k] = dt
            rec = {"op": name, "factor": k, "sec": dt, "rows": rows}
            if name == "dedup_clusters":
                rec["cc_rounds"] = cc_stats.get("iterations")
                rounds[k] = cc_stats.get("iterations")
            print(json.dumps(rec), flush=True)
    top = factors[-1]
    summary = {
        name: {
            "t1": ts[1],
            f"t{top}": ts[top],
            "ratio": round(ts[top] / ts[1], 2) if ts[1] else None,
        }
        for name, ts in times.items()
    }
    if rounds:
        summary["dedup_clusters"]["cc_rounds"] = rounds
    print(json.dumps({"summary": summary, "max_factor": top}))


if __name__ == "__main__":
    main()
