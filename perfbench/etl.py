"""``etl_batch``: ``scripts/run_pipeline.run_pipeline`` runs, each from
an empty lake, in a new driver JVM.

The first run is timed with the JVM's class loading, JIT compilation and
the code generation of every plan the pipeline builds, as each
scheduled invocation of ``scripts/run_pipeline.py`` pays them.  It goes
through every stage: ingest (``sources.dedup_append`` into
day-partitioned bronze), parse (``plans.build_parse_plan`` and three
silver appends), enrich (price quotes published blue/green), transform
(``operators.asof_join`` enrichment, the ``reports`` gold tables
published blue/green), post_pbs (``reports.render_pb_pages`` into the
``streaming`` upsert sink) and the summary with its drift gate, under
``orchestration.run_stages``.  A pass is timed from the call until the
gold tables are published and the summary is written; the lakes are
checked afterwards, outside the timed region."""

from __future__ import annotations

import statistics
import time

from .common import Timer, jvm_pid, load_script, peak_rss_mb
from .gen import etl_inputs

N_EVENTS = 5000
STAGES = ("ingest", "parse", "enrich", "transform", "post_pbs", "summary")


def setup(spark, ws, seed: int) -> dict:
    sf_dir = ws.dir("in")
    return {
        "warm_up_s": 0.0,
        "sf_dir": sf_dir,
        "expect_ts": etl_inputs(seed, N_EVENTS, sf_dir),
        "lake": str(ws.root / "lake"),
        "run_pipeline": load_script("run_pipeline"),
    }


def instrument(tracer) -> None:
    import osrs_dashboard_elt_spark.orchestration as orchestration
    import osrs_dashboard_elt_spark.plans as plans
    import osrs_dashboard_elt_spark.reports as reports
    import osrs_dashboard_elt_spark.reports.embeds as embeds
    import osrs_dashboard_elt_spark.reports.runner as runner
    import osrs_dashboard_elt_spark.sources as sources
    import osrs_dashboard_elt_spark.suite as suite
    from osrs_dashboard_elt_spark.operators import asof
    from osrs_dashboard_elt_spark.streaming.upsert_sink import ExternalUpsertSink

    for name in ("dedup_append", "publish_blue_green", "read_published"):
        tracer.wrap(sources, name, "sources")
    tracer.wrap(plans, "build_parse_plan", "plans")
    for name in (
        "leaderboard_report", "timeseries_report",
        "personal_bests_report", "recent_achievements_report",
    ):
        tracer.wrap(reports, name, "reports")
    tracer.wrap(runner, "generate_all_reports", "reports")
    tracer.wrap(embeds, "render_pb_pages", "reports")
    tracer.wrap(asof, "asof_join", "operators")
    tracer.wrap(orchestration, "run_stages", "orchestration")
    tracer.wrap(ExternalUpsertSink, "process_batch", "streaming")
    tracer.wrap(suite, "_t", "suite")


def traced_metrics(tracer, res: dict) -> dict:
    return {}


GOLD = (
    "leaderboard_drops", "timeseries_drops", "personal_bests", "recent_achievements",
    "leaderboard_levels", "detailed_drops_all_time", "detailed_drops_ytd",
    "detailed_drops_mtd", "detailed_drops_prev_month", "detailed_drops_this_week",
    "detailed_drops_prev_week", "detailed_drops_last_14d", "timeseries_levels",
    "run_metadata", "dashboard_config",
)
# suite.ANCHOR is 2024-01-25 and the generated events span January 2024,
# so no drop falls in the month before it
EMPTY_GOLD = ("detailed_drops_prev_month",)

# personal_bests from the generated events, in DuckDB: signup events
# become "<user> has achieved a new Fight Duration personal best: M:SS"
# with M = k % 9 + 1 and SS = k % 60; the band is the best time, the
# holders are band members within 10 s of its first record
PB_ORACLE = r"""
WITH s AS (
  SELECT 'user_' || user_id AS u, epoch_us(ts) AS us,
         (k % 9 + 1) * 60 + k % 60 AS sec
  FROM (SELECT *, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
        FROM events WHERE event_type = 'signup')
), band AS (SELECT * FROM s WHERE sec = (SELECT min(sec) FROM s)),
t0 AS (SELECT min(us) AS us FROM band)
SELECT 'Fight Duration', CAST(min(sec) AS DOUBLE), (SELECT us FROM t0),
       string_agg(DISTINCT u, ',' ORDER BY u), count(DISTINCT u)
FROM band WHERE us <= (SELECT us FROM t0) + 10000000
"""


def _check_lake(spark, lake: str, sf_dir: str, expect_ts: set) -> list[str]:
    """Bronze holds exactly the generated messages; chat, distinct
    broadcast ids and dead-letter rows partition bronze; the enrich
    stage succeeded and published its price quotes; every gold table
    is published, and empty exactly when no generated event falls in its
    period; personal_bests matches DuckDB."""
    import json
    import os
    from pathlib import Path
    from urllib.parse import urlparse
    from urllib.request import url2pathname

    import duckdb
    from pyspark.sql import functions as F

    from osrs_dashboard_elt_spark.sources import read_published

    bronze = spark.read.parquet(f"{lake}/bronze/raw_logs").select(
        F.unix_micros("timestamp").alias("us"),
        F.xxhash64("timestamp", "raw_content").alias("id"),
    ).collect()
    problems = []
    ts = [r.us for r in bronze]
    if len(ts) != len(expect_ts) or set(ts) != expect_ts:
        problems.append(f"bronze holds {len(ts)} messages, expected {len(expect_ts)}")

    def ids(table):
        df = spark.read.parquet(f"{lake}/silver/{table}").select("raw_log_id")
        return [r[0] for r in df.collect()]

    silver = ids("chat") + sorted(set(ids("clan_broadcasts"))) + ids("unparsed_logs")
    bronze_ids = {r.id for r in bronze}
    if len(silver) != len(set(silver)) or set(silver) != bronze_ids:
        problems.append(
            f"chat + broadcasts + dead-letter give {len(silver)} ids "
            f"({len(set(silver))} distinct) for {len(bronze_ids)} bronze rows"
        )

    # run_stages records a stage only after it succeeded; a failed
    # enrich is tolerated by the pipeline but not by the benchmark
    state_path = Path(lake, "ETL_state.json")
    state = json.loads(state_path.read_text()) if state_path.exists() else {}
    if not state.get("enrich", {}).get("last_successful_run_utc"):
        problems.append("enrich did not succeed")
    if read_published(spark, f"{lake}/silver/item_quotes").count() == 0:
        problems.append("silver/item_quotes is empty")

    # row counts in DuckDB over the published color's files: one Spark
    # listing per table instead of one Spark job
    con = duckdb.connect()
    published = sorted(os.listdir(f"{lake}/gold"))
    if published != sorted(GOLD):
        problems.append(f"gold tables {published}, expected {sorted(GOLD)}")
    for name in GOLD:
        if name in published:
            files = [
                url2pathname(urlparse(u).path)
                for u in read_published(spark, f"{lake}/gold/{name}").inputFiles()
            ]
            n = 0
            if files:
                n = con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]
            if (n == 0) != (name in EMPTY_GOLD):
                problems.append(f"gold/{name} has {n} rows")

    pb = read_published(spark, f"{lake}/gold/personal_bests").select(
        "Task", "best_seconds", F.unix_micros("record_ts"), "All_Holders", "n_holders"
    ).collect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    want = [tuple(r) for r in con.execute(PB_ORACLE).fetchall()]
    con.close()
    if [tuple(r) for r in pb] != want:
        problems.append(f"gold/personal_bests {[tuple(r) for r in pb]}, DuckDB gives {want}")
    return problems


def measure(spark, inp: dict, tracer, timed_pass, seconds: float) -> dict:
    """Timed passes, each into a new lake, for as long as another pass
    still fits in ``seconds`` (at least one); ``pass_s`` is their median.
    Every lake is checked after the last pass."""
    out = {"attempted": 0, "failed": 0, "problems": [], "per_layer": {}}
    times: list[float] = []
    stages: list[dict] = []
    lakes: list[str] = []
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() + statistics.median(times) <= t_end:
        lake = f"{inp['lake']}{len(times)}"
        out["attempted"] += 1
        try:
            with timed_pass(), Timer() as t:
                stages.append(inp["run_pipeline"].run_pipeline(spark, inp["sf_dir"], lake))
        except Exception as e:  # a failed run is a failed operation
            out["failed"] += 1
            out["problems"].append(f"pass {len(times)}: {type(e).__name__}: {e}")
            break
        times.append(t.s)
        lakes.append(lake)
    out["timed_s"] = times
    out["peak_rss_mb"] = peak_rss_mb(jvm_pid(spark))  # before the checks' own memory
    with Timer() as tc:
        for lake in lakes:
            try:
                problems = _check_lake(spark, lake, inp["sf_dir"], inp["expect_ts"])
            except Exception as e:
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                out["failed"] += 1
                out["problems"] += problems
    out["check_s"] = tc.s
    for s in STAGES:
        out["per_layer"][f"stage.{s}_s"] = (
            statistics.median([st.get(s, 0.0) for st in stages]) if stages else 0.0, "s"
        )
    if out["failed"] == 0:
        out["pass_s"] = statistics.median(times)
    return out
