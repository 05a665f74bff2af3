"""Regenerate PLANS.md: the formatted physical plan of each headline
query at sf0.001 (planning only — no execution), with the scale
property each plan is supposed to exhibit.  Run after any change to
the suite: ``python scripts/dump_plans.py``."""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = "/root/testdata/sf0.001"

# query -> the property a reviewer should be able to SEE in the plan
HEADLINERS = {
    "q01_pricing_summary": "one scan, partial+final hash aggregate, shipdate pushed to the parquet scan (PushedFilters)",
    "q_parse_engine": "whole-stage codegen project/filter chain; contains() literal gates in front of every RLIKE; the only Exchange is the opt-in parallelism floor on the under-split scan (no-op on real multi-split inputs)",
    "q_leaderboard_periods": "single conditional-aggregation pass: one Exchange, no joins",
    "q18_large_orders": "HAVING survivor set + customer both broadcast; lineitem is the only shuffle input",
    "q_asof_join": "union + single window family over (key, time): one Exchange, no row-id re-join",
    "q_interval_join": "broadcast range join: dimension side broadcast, fact side stays a scan",
    "q_minhash_lsh_pairs": "signatures as scan-side expressions; banding equi-join instead of all-pairs",
    "q_bm25_search": "one conditional aggregate + one-row stats broadcast + TakeOrderedAndProject (no global sort)",
    "q_rolling_range_window": "one Exchange, one Sort, one Window node with a RangeFrame carrying both aggregates",
    "q_cdc_merge": "single full-outer sort-merge join on the key + decision projection",
    "q_window_functions": "six analytic functions sharing one Window operator (one sort)",
    "q_fuzzy_name_match": "wildcard-variant equi-join (no nested loop), exact levenshtein only after candidates",
    "q_item_copurchase": "basket assembly as ONE aggregate, slice() cap before in-array pair generation, no lineitem self-join",
    "q_global_shuffle_order": "range-exchange total sort; the only Window is partitioned by the partition id; offsets from a tiny triangular join, broadcast back",
    "q_hll_user_overlap": "two register aggregates with map-side partials; everything after them touches at most 3*2^p rows (union = register MAX merge)",
    "q_media_neardup": "one Arrow fingerprint pass (mapInPandas) reads the blobs; everything downstream — chunk explode, bucket equi-join, bit_count verify — moves only (id, 56-bit fp) rows",
    "q_semantic_dedup": "cell self-join carries ids only (8 bytes/row); unit vectors join back BY ID so the score predicate cannot ride the cell join; explicit-width repartition keeps the dot chain on all cores under AQE",
    "q_lm_perplexity": "two map-side-combined gram aggregates build the model; scoring is one gram join + a decimal-sum groupBy (order-independent, so no sort anywhere)",
    "q_pq_ann_topk": "the search side scans (id, 4 ints) only — codeword dots are inlined literal-array lookups and the top-k is TakeOrderedAndProject (no global sort, raw vectors never read at query time)",
    "q_quality_probe": "scoring is one scan-side projection (no shuffle, no Python); the trained weights are literals, so the whole plan is scan -> project",
    "q_bloom_semijoin": "the kilobyte filter words are a shared binary literal inside the scan-side predicate — the fact rows that reach the confirm join are ~FP+match, not the table; the exact semi-join then proves zero result drift",
    "q_bpe_encode": "pure Arrow map (one ArrowEvalPython/MapInPandas over the scan) — no shuffle anywhere; the merge table rides a broadcast handle, not the closure",
    "q_stats_pruned_scan": "the probe scan lists ONLY the manifest-selected files (planning-time pruning); the aggregate is one partial+final hash agg over the already-filtered rows",
    "q_pruned_in_list": "IN-list probe: the scan lists only bloom-hit files (planned via the join-shaped value planner — constant plan size in list length, no OR-of-ANDs tree) and the row filter is a single InSet, never an In chain",
    "q_dv_delete": "post-takedown read via read_table: one broadcast LEFT ANTI against the KB-sized (file, value) tombstone pairs riding the scan stage, then one partial+final hash agg — no data file was rewritten to serve this",
    "q_targeted_upsert": "post-merge read: a plain scan + one partial+final hash agg — the merge itself ran as two O(1) jobs earlier and left ordinary parquet behind; nothing about the read pays for the MERGE machinery",
    "q_change_feed": "ONE relation scan over every committed change dir (no Union — the commit sequence is a regexp over input_file_name), projection only: CDC consumption costs O(changes), zero table I/O",
    "q_time_travel": "exactly one Union (current table ⊎ inverse deltas) feeding one partial+final hash aggregate over all columns, then the multiplicity re-expansion — plan depth constant in the number of recorded mutations",
    "q_compact_table": "post-OPTIMIZE read: a plain scan over the packed files + one partial+final hash agg — compaction left ordinary parquet (fewer, bigger files) and physically dropped the dv-tombstoned rows, so not even the broadcast anti-join remains",
    "q_incremental_view": "reading the maintained state: one newest-row-per-group aggregate (max_by over the state segments) + projection — the maintenance fold (delta aggregate + affected-groups join) already ran, and nothing about the read pays for it",
    "q_schema_evolution": "post-evolution read: one scan under the pinned (evolved) schema — old files yield NULL for the added column inside the scan itself; no cast/backfill operator anywhere",
}


def main() -> None:
    from osrs_dashboard_elt_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    out = [
        "# PLANS.md — headline physical plans (generated)",
        "",
        "Regenerate with `python scripts/dump_plans.py`.  Each plan is",
        "`explain(formatted)` at sf0.001 — planning only.  The one-line",
        "note states the scale property the plan is expected to show;",
        "`tests/test_plan_shapes.py` asserts the load-bearing ones.",
        "",
    ]
    for name, note in HEADLINERS.items():
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}")
        out.append("")
        out.append(f"*Expected shape:* {note}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
