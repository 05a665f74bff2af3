"""BENCH and CORRECTNESS must cover the same query set: every
``queries()`` entry gets a timing row and vice versa (a VERDICT-r2
finding — the two lists had drifted apart)."""

from __future__ import annotations


def test_bench_list_matches_query_surface():
    import bench
    import __spark_entry__ as e

    bq = bench.BENCH_QUERIES
    assert len(bq) == len(set(bq)), "duplicate bench entries"
    assert set(bq) == set(e.queries())


def test_bench_compact_line_bounded():
    """The LAST stdout line must survive a bounded tail capture: with
    the full 100+-query suite it stays under 2 KB and parses back to
    the documented shape (round-3's BENCH artifact was truncated)."""
    import json

    import bench

    timings = {name: 1.234 for name in bench.BENCH_QUERIES}
    full, compact = bench.format_output(timings, 123.456, 0.1)
    assert len(compact) < 2000
    rec = json.loads(compact)
    assert rec["metric"] == "suite_wall_clock"
    assert rec["value"] == 123.456
    assert rec["unit"] == "sec"
    assert rec["n_queries"] == len(bench.BENCH_QUERIES)
    assert 0 < len(rec["queries"]) <= 15
    assert json.loads(full)["queries"] == timings


def test_priority_window_spans_all_families():
    """The driver's CORRECTNESS artifact records only the first 50
    queries() entries; that window must be exactly the ``gate=True``
    queries and contain an ORACLE-checked representative of every
    operator family (round-3 verdict: all 57 round-3 queries sat
    outside it)."""
    import __spark_entry__ as e
    from osrs_dashboard_elt_spark import suite

    gated = [n for n in suite.QUERIES if n in suite.GATE]
    assert len(gated) == 50
    first50 = list(e.queries())[:50]
    assert first50 == gated
    # every windowed entry must be hash-gated, not rows-only
    oracles = e.oracle_sql()
    missing = [n for n in gated if n not in oracles]
    assert not missing, f"priority queries without oracles: {missing}"
    # one representative per family group (guards future edits)
    families = {
        "parse": {"q_parse_engine"},
        "reports": {"q_leaderboard_periods", "q_report_personal_bests"},
        "asof": {"q_asof_join"},
        "interval": {"q_interval_join"},
        "resample": {"q_resample_daily_gapfill"},
        "windows_core": {"q_topn_per_group", "q_sessionize_gap"},
        "dedup_lsh": {"q_minhash_lsh_pairs", "q_simhash_pairs"},
        "embedding": {"q_embedding_neardup", "q_lsh_ann_topk"},
        # —— round-7 families ——
        "file_skipping": {
            "q_targeted_delete",
            "q_stats_pruned_scan",
            "q_point_lookup_pruned",
        },
        # —— round-9 rotation: the table-format substrate's two most
        # load-bearing round-8 behaviors join the hard gate ——
        "deletion_vectors": {"q_dv_delete"},
        "time_travel": {"q_time_travel"},
        "metrics_drift": {"q_metric_drift"},
        "clusters": {"q_dedup_clusters"},
        "text": {"q_language_id", "q_pii_redaction"},
        "multimodal": {"q_media_features"},
        "chunking": {"q_doc_chunks"},
        "tpch": {"q13_customer_order_dist", "q18_large_orders", "q_waiting_orders"},
        "window_fns": {"q_window_functions", "q_rolling_range_window"},
        "bm25": {"q_bm25_search"},
        "cdc": {"q_cdc_merge", "q_targeted_upsert"},
        # —— round-10 rotation: round-9's two headline behaviors join
        # the hard gate as their own families ——
        "merge_distributed": {"q_merge_distributed"},
        "ivm_segmented": {"q_ivm_segmented"},
        # —— round-11 rotation: round-10's headline behavior —
        # snapshot-served as-of ACROSS a compaction via recorded file
        # lineage — joins the hard gate ——
        "asof_lineage": {"q_asof_lineage"},
        "scd2": {"q_scd2_history"},
        "sketches": {"q_hll_distinct_users", "q_cms_heavy_hitters"},
        "ivm": {"q_incremental_view", "q_ivm_segmented"},
        "streaming": {"q_streaming_windowed_rollup", "q_streaming_session_rollup"},
        "sampling": {"q_hash_sample", "q_weighted_sample", "q_global_shuffle_order"},
        "change_feed": {"q_change_feed"},
        "decontaminate": {"q_contamination_report"},
        "skew": {"q_salted_join"},
        "baskets": {"q_item_copurchase"},
        "rest_source": {"q_rest_timeseries"},
        "bpe_training": {"q_bpe_merges"},
        # —— round-5 families ——
        "clustering": {"q_kmeans_centroids"},
        "semantic_dedup": {"q_semantic_dedup"},
        "graph": {"q_copurchase_pagerank"},
        "hybrid_retrieval": {"q_hybrid_rrf_search"},
        "tws_timers": {"q_stream_sessionize_timers"},
        "pq_ann": {"q_pq_ann_topk"},
        "trained_probe": {"q_quality_probe"},
    }
    window = set(first50)
    uncovered = [fam for fam, reps in families.items() if not reps & window]
    assert not uncovered, f"families outside the 50-row window: {uncovered}"
