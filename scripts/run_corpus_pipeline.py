"""End-to-end training-corpus pipeline: the LLM-data operators composed.

    documents.parquet
      -> annotate  (language id, quality score, token count  — one projection)
      -> filter    (quality floor + language allowlist)
      -> perplexity gate  (self-trained bigram count LM; drop the P90
                           avg_nll tail — cutoff from the histogram
                           sketch, not a magic constant)
      -> distilled probe gate  (linear probe on scan-side features
                           learns the teacher's verdict from a
                           hash-sample, gates the corpus with one
                           projection — the FineWeb-Edu shape)
      -> exact dedup      (md5 digest keep-first; 32-byte shuffle keys)
      -> near-dup removal (MinHash+LSH verified pairs; drop the higher
                           id of each pair — min-id survivor per edge)
      -> decontaminate    (broadcast eval-shingle probe, >= min_hits)
      -> split + order    (deterministic hash split; seeded global
                           shuffle order for the train slice)
      -> parquet outputs per split + run-summary file

Every stage is declarative DataFrame code; stage metrics ride the
final write via ``Observation`` (zero extra scans except the two
aggregates the dedup/decon operators inherently need).  Deterministic
end to end: md5-derived sampling/ordering, seeded minhash params —
re-running produces byte-identical splits (asserted in
``tests/test_corpus_pipeline.py``).

Scale notes: the only shuffles are the dedup hash-aggs, the LSH band
join, the decon hit count, and the final range partition for the
train order — each carries digests/matches, never the corpus
bulk-bytes more than once.  The eval set and flagged-id lists ride
broadcast joins.

Usage: python scripts/run_corpus_pipeline.py <sf_dir> <out_dir>
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.functions.text import (
    language_id,
    quality_score_cols,
    token_count,
)
from osrs_dashboard_elt_spark.observability import (
    ObservedMetrics,
    render_run_summary,
    write_summary_file,
)
from osrs_dashboard_elt_spark.operators.decontaminate import contamination_report
from osrs_dashboard_elt_spark.operators.dedup import dedup_keep_first_asc, minhash_lsh_pairs
from osrs_dashboard_elt_spark.operators.sampling import shuffle_order, split_assign

MIN_TOKENS = 5
MIN_STOPWORD_RATIO = 0.05
MAX_PUNCT_RATIO = 0.3
LANGS = ("en", "de", "fr", "es")

# The ingest gate as DECLARATIVE expectations rules (operators/
# quality.py): routing and auditing share this one config — changing a
# gate is a rules edit, not new pipeline code.  Predicates state
# VALIDITY; split_by_rules treats a NULL result as a violation.
GATE_RULES = [
    ("min_tokens", f"n_tokens >= {MIN_TOKENS}"),
    ("stopword_floor", f"stopword_ratio >= {MIN_STOPWORD_RATIO}"),
    ("punct_ceiling", f"punct_ratio <= {MAX_PUNCT_RATIO}"),
    ("lang_allowlist", "lang IN (%s)" % ", ".join(f"'{l}'" for l in LANGS)),
]
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
NEARDUP_THRESHOLD = 0.7
DECON_MIN_HITS = 3
PPL_DROP_QUANTILE = 0.9  # drop docs above the P90 avg_nll tail
PROBE_TEACH_FRACTION = 0.5  # hash-sample that gets teacher labels
PROBE_DROP_QUANTILE = 0.1  # drop the bottom decile of probe scores


def run(
    spark: SparkSession,
    docs: DataFrame,
    eval_docs: DataFrame,
    out_dir: str,
    index_table: str | None = None,
) -> dict:
    """One-shot corpus build.  With ``index_table`` set, stage 8 also
    publishes the survivors' MinHash band-posting index (bucketed
    table + parquet under ``{out_dir}/mh_index``) so the NEXT ingest
    runs incrementally — ``streaming.dedup_ingest.start_dedup_ingest``
    probes new batches against this index instead of re-running the
    full-corpus dedup (same num_perm/bands/seed/shingle_n as stage 4,
    which is the index contract)."""
    obs = ObservedMetrics()

    # 1. annotate: one projection, no shuffle.  Funnel counts ride the
    # final writes as Observation metrics at each stage boundary —
    # no .count() actions, so the corpus is never re-scanned for
    # bookkeeping.
    q = quality_score_cols(F.col("text"))
    ann = obs.observe(
        docs.select(
            "doc_id",
            "text",
            F.col("source").alias("domain"),
            language_id(F.col("text")).alias("lang"),
            q["stopword_ratio"].alias("stopword_ratio"),
            q["punct_ratio"].alias("punct_ratio"),
            token_count(F.col("text")).alias("n_tokens"),
        ),
        "input",
        rows=F.count(F.lit(1)),
        # per-rule violation counts ride this SAME observation (the
        # gate audit costs zero extra scans); NULL predicate results
        # count as violations, matching rule_violation_counts
        **{
            f"viol_{i}": F.sum(
                F.when(
                    ~F.coalesce(F.expr(pred).cast("boolean"), F.lit(False)),
                    1,
                ).otherwise(0)
            )
            for i, (_, pred) in enumerate(GATE_RULES)
        },
    )

    # 2. quality + language gate, routed through the expectations
    # engine: GATE_RULES is the single declarative config, good rows
    # continue (same scan-side pushed filter as before — split_by_rules
    # is a projection, not a job); the per-rule counts were attached to
    # the stage-1 observation above and are read back at summary time.
    from osrs_dashboard_elt_spark.operators.quality import split_by_rules

    gate_good, _gate_bad = split_by_rules(ann, GATE_RULES)
    kept = obs.observe(gate_good, "gates", rows=F.count(F.lit(1)))

    # 2b. perplexity gate (CCNet-style): self-train the bigram count
    # LM on the gate survivors, score every doc, and drop the most
    # surprising tail — the cutoff is the P90 avg_nll from the
    # mergeable histogram sketch (a deterministic function of the
    # data, not a magic constant).  Model tables are Heaps-bounded;
    # the score join is the only corpus-width work.
    from osrs_dashboard_elt_spark.operators.lm import lm_score_corpus
    from osrs_dashboard_elt_spark.operators.sketches import histogram_quantile

    scored = lm_score_corpus(kept, "doc_id", "text").persist()
    ppl_thr = histogram_quantile(
        scored.withColumn("__k", F.lit(1)),
        "__k", "avg_nll", [PPL_DROP_QUANTILE], lo=0.0, hi=20.0, n_bins=250,
    ).collect()[0][f"hq_{str(PPL_DROP_QUANTILE).replace('.', '_')}"]
    fluent_ids = scored.filter(F.col("avg_nll") <= ppl_thr).select("doc_id")
    fluent = obs.observe(
        kept.join(fluent_ids, "doc_id"),
        "ppl_gate",
        rows=F.count(F.lit(1)),
    )

    # 2c. distilled quality gate (FineWeb-Edu shape): a linear probe
    # on cheap scan-side features learns the gram-LM teacher's
    # verdict from a hash-sample, then gates the corpus with one
    # scan-side expression.  Here the teacher already scored
    # everything (it's a cheap bigram LM); at 100 TB with an
    # expensive teacher (an LLM judge), ONLY the sample gets teacher
    # scores and this same code gates the rest for the cost of a
    # projection.  Teacher label and both cutoffs come from the
    # histogram sketch — deterministic functions of the data.
    from osrs_dashboard_elt_spark.operators.classifier import (
        linear_probe_fit,
        linear_probe_scores,
        text_probe_features,
    )
    from osrs_dashboard_elt_spark.operators.sampling import hash_sample

    # the SHARED feature definition (classifier.text_probe_features):
    # the streaming ingest serves the registry model against the
    # exact same expressions
    with_feat = fluent.withColumn("__feat", text_probe_features("text"))
    teach = hash_sample(
        with_feat.join(scored, "doc_id"), "doc_id", PROBE_TEACH_FRACTION
    ).persist()
    t_med = histogram_quantile(
        teach.withColumn("__k", F.lit(1)),
        "__k", "avg_nll", [0.5], lo=0.0, hi=20.0, n_bins=250,
    ).collect()[0]["hq_0_5"]
    w = linear_probe_fit(
        teach.withColumn(
            "__fluent", (F.col("avg_nll") <= t_med).cast("int")
        ),
        "__feat", "__fluent", dim=3, n_iter=4, lr=0.5,
    )
    teach.unpersist()
    # registry: persist the distilled gate so another session (or the
    # streaming ingest) applies the SAME model this corpus passed
    from osrs_dashboard_elt_spark.operators.registry import save_model

    from osrs_dashboard_elt_spark.operators.classifier import (
        TEXT_PROBE_FEATURES,
    )

    save_model(
        spark, f"{out_dir}/models", "quality_probe", "linear_probe",
        {"weights": w, "features": TEXT_PROBE_FEATURES},
        run_id="run_corpus_pipeline",
    )
    scored.unpersist()
    pscores = linear_probe_scores(
        with_feat, "__feat", None, w, id_col="doc_id"
    ).persist()
    p_thr = histogram_quantile(
        pscores.withColumn("__k", F.lit(1)),
        "__k", "score", [PROBE_DROP_QUANTILE], lo=-5.0, hi=5.0, n_bins=500,
    ).collect()[0][f"hq_{str(PROBE_DROP_QUANTILE).replace('.', '_')}"]
    probe_kept_ids = pscores.filter(F.col("score") >= p_thr).select("doc_id")
    pscores.unpersist()
    fluent = obs.observe(
        fluent.join(probe_kept_ids, "doc_id"),
        "probe_gate",
        rows=F.count(F.lit(1)),
    )

    # 3. exact dedup on content digest: the shuffle key is the 32-byte
    # md5, never the text
    exact = obs.observe(
        dedup_keep_first_asc(
            fluent.withColumn("__digest", F.md5("text")),
            ["__digest"],
            ["doc_id"],
        ).drop("__digest"),
        "exact_dedup",
        rows=F.count(F.lit(1)),
    )

    # 4. near-dup removal: verified LSH pairs -> drop every id that
    # pairs with a lower id (min-id survivor per edge; transitive
    # chains resolve to the cluster minimum over repeated application,
    # and a single pass already removes every pair violation)
    pairs = minhash_lsh_pairs(
        exact.select("doc_id", "text"),
        "doc_id",
        "text",
        shingle_n=3,  # phrase shingles — token sets saturate Jaccard
        # on a small shared vocabulary and over-flag
        verify_threshold=NEARDUP_THRESHOLD,
    )
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    neat = obs.observe(
        exact.join(losers, "doc_id", "left_anti"),
        "neardup",
        rows=F.count(F.lit(1)),
    )

    # 5. decontaminate against the eval corpus
    flagged = contamination_report(
        neat, eval_docs, "doc_id", "text", min_hits=DECON_MIN_HITS
    ).select(F.col("id").alias("doc_id"))
    clean = neat.join(flagged, "doc_id", "left_anti")

    # 6. deterministic split + training order
    final = split_assign(clean, "doc_id", SPLITS).withColumn(
        "__ord", shuffle_order(F.col("doc_id"))
    )
    final = obs.observe(
        final,
        "corpus",
        rows=F.count(F.lit(1)),
        train=F.sum(F.when(F.col("split") == "train", 1).otherwise(0)),
        val=F.sum(F.when(F.col("split") == "val", 1).otherwise(0)),
        test=F.sum(F.when(F.col("split") == "test", 1).otherwise(0)),
        tokens=F.sum("n_tokens"),
    )

    # 7. persist the survivors ONCE, then one write per split — the
    # dedup/LSH/decontamination subtree runs a single time and the
    # three writes read the cache.  ORDER MATTERS for the metrics:
    # val/test write first so every Observation freezes on a plain
    # filter+write pass — the train write's repartitionByRange runs an
    # extra range-boundary SAMPLING job over its subtree, which would
    # double every observed count if it were the first action.
    final = final.persist()
    try:
        for split in ("val", "test"):
            final.filter(F.col("split") == split).write.mode("overwrite").parquet(
                f"{out_dir}/{split}"
            )
        # train range-partitioned + sorted by the seeded order key so
        # downstream readers stream it in training order
        (
            final.filter(F.col("split") == "train")
            .repartitionByRange(8, "__ord")
            .sortWithinPartitions("__ord")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/train")
        )

        # quality gate on the published corpus: one extra scan of the
        # persisted survivors; a failed constraint quarantines the run
        # (raises before the summary declares success)
        from osrs_dashboard_elt_spark.operators.quality import check_constraints

        gate = {
            r.constraint: r.passed
            for r in check_constraints(
                final,
                [
                    ("nonempty", "count(*) > 0"),
                    ("doc_id_unique", "count(distinct doc_id) = count(*)"),
                    ("tokens_floor", f"min(n_tokens) >= {MIN_TOKENS}"),
                    ("splits_assigned", "count_if(split IS NULL) = 0"),
                ],
            ).collect()
        }
        failed = sorted(k for k, ok in gate.items() if not ok)
        if failed:
            raise RuntimeError(f"corpus quality gate failed: {failed}")

        # 8. (optional) publish the dedup index of the survivors so
        # subsequent ingest is incremental (probe, don't re-dedup)
        if index_table is not None:
            from osrs_dashboard_elt_spark.operators.dedup_index import (
                write_minhash_index,
            )

            write_minhash_index(
                final.select("doc_id", "text"),
                index_table,
                "doc_id",
                "text",
                shingle_n=3,
                path=f"{out_dir}/mh_index",
            )

        stages = obs.get()
        metrics = stages["corpus"]
        # gate audit from the stage-1 observation (computed on the pass
        # that materialized the corpus — no extra scan): persist this
        # run's per-rule counts into the day-partitioned metrics history
        # (replay-safe: same day replaces, never doubles) and judge the
        # LATEST run against its trailing band — run-over-run drift in a
        # gate's violation count is how a silently-broken upstream feed
        # announces itself (operators/quality.py)
        from datetime import datetime, timezone

        from osrs_dashboard_elt_spark.literals import literal_frame
        from osrs_dashboard_elt_spark.operators.quality import (
            metric_drift,
            metrics_history_append,
        )

        inp = stages["input"]
        gate_audit = {
            name: int(inp[f"viol_{i}"])
            for i, (name, _) in enumerate(GATE_RULES)
        }
        audit_df = literal_frame(
            spark,
            [
                (name, gate_audit[name], int(inp["rows"]))
                for name, _ in GATE_RULES
            ],
            "rule string, n_violations long, n_rows long",
        )
        run_day = datetime.now(timezone.utc).strftime("%Y-%m-%d")
        hist_path = f"{out_dir}/metrics_history/gate_rules"
        metrics_history_append(audit_df, hist_path, run_day)
        drift_rows = (
            metric_drift(
                spark.read.parquet(hist_path),
                ["rule"], "day", "n_violations",
            )
            .filter(F.col("day") == F.to_date(F.lit(run_day)))
            .filter("drifted")
            .collect()
        )
        gate_drift = (
            " ".join(sorted(r["rule"] for r in drift_rows)) if drift_rows
            else "none"
        )

        summary = render_run_summary(
            "corpus-pipeline",
            "run_corpus_pipeline",
            {
                "input_docs": stages["input"]["rows"],
                "after_gates": stages["gates"]["rows"],
                "gate_rule_violations": " ".join(
                    f"{name}={gate_audit[name]}" for name, _ in GATE_RULES
                ),
                "gate_drift": gate_drift,
                "after_ppl_gate": stages["ppl_gate"]["rows"],
                "after_probe_gate": stages["probe_gate"]["rows"],
                "after_exact_dedup": stages["exact_dedup"]["rows"],
                "after_neardup": stages["neardup"]["rows"],
                "after_decontamination": metrics["rows"],
                "train/val/test": f"{metrics['train']}/{metrics['val']}/{metrics['test']}",
                "total_tokens": metrics["tokens"],
            },
        )
        write_summary_file("run_corpus_pipeline", summary, out_dir, run_ts="latest")
        return dict(metrics, funnel={k: v["rows"] for k, v in stages.items()})
    finally:
        final.unpersist()


SHARD_SEQ_LEN = 256
SHARD_BPE_MERGES = 10
N_SHARD_FILES = 4


def export_training_shards(
    spark: SparkSession,
    out_dir: str,
    seq_len: int = SHARD_SEQ_LEN,
    num_merges: int = SHARD_BPE_MERGES,
    n_files: int = N_SHARD_FILES,
    curriculum: bool = False,
) -> dict:
    """Stage 9: close the training-data loop.  The tokenizer is
    trained ON the corpus the pipeline just cleaned (operators/bpe.py
    — one extra scan of the train split for word counts, then K tiny
    merge jobs), its chunks are tokenized to id arrays, packed into
    ``seq_len``-token sequences per language shard, and exported as
    EPOCH-ORDERED shards: every chunk row carries its global position
    under a seeded shuffle of sequence keys, and the files are
    range-partitioned + sorted on that position, so a trainer streams
    ``{out_dir}/shards`` in epoch order with zero further shuffling.

    Deterministic end to end (seeded merges, md5 shuffle keys, range
    sort): re-running writes byte-identical shards — asserted in
    tests/test_corpus_pipeline.py.  Also persists the vocabulary
    (``vocab.json``, sorted keys) and the merge table
    (``bpe_merges`` parquet) — a training run needs the tokenizer
    artifacts next to the data it encodes.

    At 100 TB: BPE sees only the Heaps-law word table; tokenize is a
    shuffle-free Arrow map; packing shuffles once on the shard key;
    the epoch order is the range-exchange total sort
    (``with_global_position`` — no unpartitioned window anywhere).
    """
    import json

    from osrs_dashboard_elt_spark.operators.bpe import (
        bpe_merges_df,
        bpe_vocab,
        train_bpe,
    )
    from osrs_dashboard_elt_spark.operators.chunking import chunk_documents
    from osrs_dashboard_elt_spark.operators.packing import pack_chunks
    from osrs_dashboard_elt_spark.operators.sampling import (
        shuffle_order,
        with_global_position,
    )
    from osrs_dashboard_elt_spark.operators.tokenize import tokenize

    from osrs_dashboard_elt_spark.operators.bpe import bpe_word_counts

    train = spark.read.parquet(f"{out_dir}/train")
    # one corpus scan feeds BOTH training and vocab assembly — the
    # word table is Heaps-bounded, the corpus is not
    words = bpe_word_counts(train, "text").localCheckpoint(eager=True)
    merges = train_bpe(train, "text", num_merges, word_counts=words)
    vocab = bpe_vocab(train, "text", merges, word_counts=words)
    with open(f"{out_dir}/vocab.json", "w") as f:
        json.dump(vocab, f, indent=1, sort_keys=True)
    bpe_merges_df(spark, merges).coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/bpe_merges"
    )
    # registry: the tokenizer artifacts another session loads to
    # tokenize consistently with these shards (idempotent — a
    # deterministic re-train is the same content version)
    from osrs_dashboard_elt_spark.operators.registry import save_model

    save_model(
        spark, f"{out_dir}/models", "shard_tokenizer", "bpe",
        {"merges": [list(m) for m in merges], "vocab": vocab},
        run_id="run_corpus_pipeline",
    )

    chunks = chunk_documents(train, "doc_id", "text").join(
        F.broadcast(train.select(F.col("doc_id").alias("id"), "lang")), "id"
    )
    toked = tokenize(chunks, "chunk_text", vocab).withColumn(
        "n_bpe_tokens", F.size("token_ids").cast("long")
    )
    packed = pack_chunks(
        toked.drop("chunk_text"),
        "lang",
        ["id", "chunk_idx"],
        "n_bpe_tokens",
        seq_len,
    )
    if curriculum:
        # easy-first curriculum: sequences stream in ascending LM
        # difficulty (per-sequence MAX of its member docs' avg_nll
        # under the corpus-trained bigram model — the partitioned
        # window keeps every chunk of a sequence adjacent, exactly
        # like the shuffle key does).  Deterministic: the score is a
        # pure function of the corpus, ties break on the same
        # (lang, id, chunk_idx) keys as the shuffled order.
        from pyspark.sql import Window

        from osrs_dashboard_elt_spark.operators.lm import lm_score_corpus

        scores = lm_score_corpus(train, "doc_id", "text").select(
            F.col("doc_id").alias("id"), "avg_nll"
        )
        w = Window.partitionBy("lang", "seq_id")
        keyed = (
            packed.join(scores, "id", "left")  # doc-count sized: no broadcast
            .withColumn(
                "__ord",
                F.max(F.coalesce("avg_nll", F.lit(0.0))).over(w),
            )
            .drop("avg_nll")
        )
    else:
        keyed = packed.withColumn(
            "__ord", shuffle_order(F.concat_ws("|", "lang", "seq_id"))
        )
    ordered = with_global_position(
        keyed,
        ["__ord", "lang", "id", "chunk_idx"],
    )
    (
        ordered.select(
            "pos", "lang", "seq_id", "id", "chunk_idx",
            "n_bpe_tokens", "token_ids",
        )
        .repartitionByRange(n_files, "pos")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/shards")
    )
    shards = spark.read.parquet(f"{out_dir}/shards")
    agg = shards.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("lang", "seq_id").alias("n_sequences"),
        F.sum("n_bpe_tokens").alias("n_tokens_packed"),
    ).collect()[0]
    metrics = {
        "curriculum": curriculum,
        "n_merges": len(merges),
        "vocab_size": len(vocab),
        "n_chunks": agg["n_chunks"],
        "n_sequences": agg["n_sequences"],
        "n_tokens_packed": agg["n_tokens_packed"],
    }
    summary = render_run_summary(
        "corpus-pipeline", "export_training_shards", metrics
    )
    write_summary_file(
        "export_training_shards", summary, out_dir, run_ts="latest"
    )
    return metrics


def main() -> int:
    if len(sys.argv) < 3:
        print("usage: python scripts/run_corpus_pipeline.py <sf_dir> <out_dir>")
        return 2
    sf_dir = sys.argv[1]
    out_dir = sys.argv[2]
    from osrs_dashboard_elt_spark.session import get_spark
    from osrs_dashboard_elt_spark import suite

    spark = get_spark(app_name="corpus-pipeline")
    suite._pin(spark)
    docs = suite._t(spark, sf_dir, "documents")
    # eval slice: the held-out benchmark stand-in (same convention as
    # the suite's decontamination queries)
    eval_docs = docs.filter(F.col("doc_id") % 10 == 0)
    train_docs = docs.filter(F.col("doc_id") % 10 != 0)
    metrics = run(spark, train_docs, eval_docs, out_dir)
    print(f"[corpus] {metrics}")
    shard_metrics = export_training_shards(spark, out_dir)
    print(f"[shards] {shard_metrics}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def embed_and_index(
    spark: SparkSession,
    out_dir: str,
    dim: int = 64,
    n_centroids: int = 8,
) -> dict:
    """Stage 8 (post-split): embed the TRAIN slice with the Arrow-
    batched embedder and materialize a cell-partitioned IVF index at
    rest, so downstream near-dup / retrieval probes are partition-
    pruned scans instead of full-corpus passes.

    Centroids are the embeddings of the ``n_centroids`` smallest
    train doc_ids — deterministic, and at real scale you'd swap in a
    k-means sample without touching anything else here.  Returns the
    index path and a probe sanity record (the first centroid doc must
    be its own nearest neighbor)."""
    from osrs_dashboard_elt_spark.multimodal.embedder import embed_documents
    from osrs_dashboard_elt_spark.operators.similarity import (
        ivf_ann_topk_at_rest,
        write_ivf_index,
    )

    train = spark.read.parquet(f"{out_dir}/train")
    emb = embed_documents(train, "doc_id", dim=dim)
    seed_ids = [
        r.doc_id
        for r in emb.select("doc_id").orderBy("doc_id").limit(n_centroids).collect()
    ]
    cents = {
        r.doc_id: list(r.embedding)
        for r in emb.filter(F.col("doc_id").isin(seed_ids)).collect()
    }
    centroids = [cents[i] for i in seed_ids]  # already unit-norm
    index_path = f"{out_dir}/ann_index"
    write_ivf_index(
        emb, index_path, "embedding", centroids, id_col="doc_id"
    )
    probe = ivf_ann_topk_at_rest(
        spark,
        index_path,
        centroids[0],
        centroids,
        k=1,
        nprobe=1,
        id_col="doc_id",
        vec_col="embedding",
    ).collect()
    return {
        "index_path": index_path,
        "probe_top1": probe[0].doc_id if probe else None,
        "expected_top1": seed_ids[0],
    }
