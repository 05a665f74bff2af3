"""End-to-end pipeline driver (scripts/run_pipeline.py): the three
stages chain, gold tables publish, and re-running is a no-op."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)

from run_pipeline import publish_all, run_pipeline  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

GOLD = (
    "leaderboard_drops", "timeseries_drops", "personal_bests",
    "recent_achievements", "leaderboard_levels", "detailed_drops_all_time",
    "detailed_drops_ytd", "detailed_drops_mtd", "detailed_drops_prev_month",
    "detailed_drops_this_week", "detailed_drops_prev_week",
    "detailed_drops_last_14d", "timeseries_levels", "run_metadata",
    "dashboard_config",
)


def _assert_report_rows_match_gold(spark, out):
    """The drift gate's latest recorded row count of every gold table
    equals the published table's row count: the count observed on the
    write came from that table's own frame, once."""
    from osrs_dashboard_elt_spark.sources import read_published

    hist = spark.read.parquet(f"{out}/metrics_history/report_rows")
    day = hist.agg({"day": "max"}).collect()[0][0]
    recorded = {
        r["report"]: r["n_rows"]
        for r in hist.filter(hist.day == day).collect()
    }
    published = {
        name: read_published(spark, f"{out}/gold/{name}").count()
        for name in GOLD
    }
    assert recorded == published


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    out = str(tmp_path / "lake")
    run_pipeline(spark, SF_DIR, out)
    _assert_report_rows_match_gold(spark, out)

    bronze = spark.read.parquet(f"{out}/bronze/raw_logs")
    bc = spark.read.parquet(f"{out}/silver/clan_broadcasts")
    assert bronze.count() == 1000
    assert bc.count() > 0
    types = {r["Broadcast_Type"] for r in bc.select("Broadcast_Type").distinct().collect()}
    assert {"Valuable Drop", "Personal Best", "Level Up"} <= types

    from osrs_dashboard_elt_spark.sources import read_published

    lb = read_published(spark, f"{out}/gold/leaderboard_drops")
    assert "Count_All_Time" in lb.columns and lb.count() > 0
    pb = read_published(spark, f"{out}/gold/personal_bests")
    assert pb.filter("best_seconds IS NOT NULL").count() > 0

    # re-run: every stage must be a no-op on bronze/silver and republish
    # gold onto the other color
    counts_before = {
        t: spark.read.parquet(f"{out}/{t}").count()
        for t in ("bronze/raw_logs", "silver/chat", "silver/clan_broadcasts",
                  "silver/unparsed_logs")
    }
    run_pipeline(spark, SF_DIR, out)
    for t, n in counts_before.items():
        assert spark.read.parquet(f"{out}/{t}").count() == n, t
    assert read_published(spark, f"{out}/gold/leaderboard_drops").count() == lb.count()
    _assert_report_rows_match_gold(spark, out)


def test_publish_all_counts_on_the_write_and_reraises(spark, tmp_path):
    """The concurrent gold publish: each table's row count is observed
    on its own write, the caller's job tags reach every publish job,
    and a failed publish fails the call."""
    import pytest

    from osrs_dashboard_elt_spark.sources import publish_blue_green, read_published

    root = str(tmp_path / "gold")
    tables = {
        f"t{n}": spark.range(n).withColumnRenamed("id", "v")
        for n in (0, 3, 7, 11, 20)
    }
    sc = spark.sparkContext
    tag = "publish-all-test"
    sc.addJobTag(tag)
    try:
        got = publish_all(spark, tables, root, publish_blue_green)
    finally:
        sc.removeJobTag(tag)
    assert got == {f"t{n}": ("blue", n) for n in (0, 3, 7, 11, 20)}
    for name, (_, rows) in got.items():
        assert read_published(spark, f"{root}/{name}").count() == rows
    tagged = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
    assert len(tagged) >= len(tables)

    def publish_or_fail(df, path):
        if path.endswith("/t7"):
            raise RuntimeError("injected publish failure")
        return publish_blue_green(df, path)

    with pytest.raises(RuntimeError, match="injected publish failure"):
        publish_all(spark, tables, root, publish_or_fail)


def test_pipeline_survives_price_stage_failure(spark, tmp_path):
    """Reference policy: the price stage may fail without aborting —
    gold still publishes (from the un-enriched silver fallback), and
    no success timestamp is recorded so the next run retries enrich."""
    import json

    out = str(tmp_path / "lake")
    run_pipeline(spark, SF_DIR, out, fail_enrich_for_test=True)

    from osrs_dashboard_elt_spark.sources import read_published

    lb = read_published(spark, f"{out}/gold/leaderboard_drops")
    assert lb.count() > 0  # transform ran despite the enrich failure
    state_path = f"{out}/ETL_state.json"
    import os

    state = (
        json.load(open(state_path)) if os.path.exists(state_path) else {}
    )
    assert "enrich" not in state  # failure must not register success


def test_report_rows_drift_gate_catches_seeded_drift(spark, tmp_path):
    """Stage 4 persists gold report row counts into the metrics
    history and fails the run when the latest counts fall outside the
    trailing band — a deliberately seeded out-of-band history must
    abort the pipeline, and clearing it must let the same pipeline
    complete (the gate blocks drift, not recovery)."""
    import shutil

    import pytest

    from osrs_dashboard_elt_spark.operators.quality import (
        metrics_history_append,
    )

    out = str(tmp_path / "lake")
    hist = f"{out}/metrics_history/report_rows"
    seed = spark.createDataFrame(
        [("personal_bests", 1_000_000)], "report string, n_rows long"
    )
    for day in ("2020-01-01", "2020-01-02", "2020-01-03"):
        metrics_history_append(seed, hist, day)
    with pytest.raises(RuntimeError, match="metric drift"):
        run_pipeline(spark, SF_DIR, out)
    # recovery: drop the poisoned history; the replay completes and
    # records a clean first day
    shutil.rmtree(f"{out}/metrics_history")
    run_pipeline(spark, SF_DIR, out)
    hist_df = spark.read.parquet(hist)
    assert hist_df.filter("report = 'personal_bests'").count() == 1
