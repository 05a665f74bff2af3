"""End-to-end pipeline driver: the Spark re-expression of the
reference's ``run_all_etl.py`` orchestration (SURVEY.md §3.1).

The reference runs four subprocess stages that hand data to each other
through SQLite files (fetch -> parse -> transform -> post); here every
stage is an in-process DataFrame job and the handoff is
bronze/silver/gold parquet:

  stage 1  ingest     raw messages -> bronze/raw_logs (idempotent
                      dedup-append on the natural key; re-runs are
                      no-ops — reference src/1_fetch_data.py:147-174)
  stage 2  parse      bronze -> silver chat / clan_broadcasts /
                      unparsed_logs via the compiled parse plan
                      (reference src/2_parse_engine.py)
  stage 3  transform  silver -> gold report tables, published
                      blue/green so readers never see a half-written
                      table (reference src/3_transform_data.py:771-798)

Execution rule: each output of a run is computed exactly once.

- Every table is written once.  Row counts (silver appends, the price
  quotes, the gold tables that feed the drift gate) are observed
  metrics of the write itself (``observability.ObservedMetrics``), never
  a second ``count()``.
- The enriched broadcasts frame is persisted before the gold fan-out and
  unpersisted after it, so the as-of enrichment runs once, not once per
  report.
- Literal tables (``run_metadata``, ``dashboard_config``, the drift
  gate's row-count table) are JVM ``VALUES`` relations
  (``literals.literal_frame``): the pipeline starts no Python worker.
- The gold tables are independent, so they publish concurrently from a
  thread pool as wide as the session's default parallelism; the first
  failed publish fails the stage.

Usage:
    python scripts/run_pipeline.py [sf_dir] [out_dir]

Defaults: sf_dir=/root/testdata/sf0.001, out_dir=a temp directory.
Raw messages are synthesized deterministically from the events table
(the same grammar the correctness suite verifies against DuckDB).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osrs_dashboard_elt_spark.literals import literal_frame
from osrs_dashboard_elt_spark.observability import ObservedMetrics


def synthesize_raw_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic message corpus from the events table — same
    grammar as the oracle-checked q_parse_engine."""
    from osrs_dashboard_elt_spark.suite import _pin, _t

    _pin(spark)  # nanos-timestamp parquet handling + UTC
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    coins = (F.col("value").cast("decimal(18,2)") * 100).cast("long").cast("string")
    uid = F.col("user_id").cast("string")
    ks = k.cast("string")
    msg = (
        F.when(
            (F.col("event_type") == "purchase") & (k % 5 == 0),
            # no listed value -> exercises the as-of price enrichment
            F.concat(
                F.lit("user_"), uid, F.lit(" received a drop: Item "), ks, F.lit("."),
            ),
        )
        .when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("user_"), uid, F.lit(" received a drop: Item "), ks,
                F.lit(" ("), coins, F.lit(" coins) from Mob "),
                (k % 7).cast("string"), F.lit("."),
            ),
        )
        .when(
            F.col("event_type") == "signup",
            F.concat(
                F.lit("user_"), uid,
                F.lit(" has achieved a new Fight Duration personal best: "),
                (k % 9 + 1).cast("string"), F.lit(":"),
                F.lpad((k % 60).cast("string"), 2, "0"),
            ),
        )
        .when(
            F.col("event_type") == "click",
            F.concat(
                F.lit("user_"), uid, F.lit(" has reached Attack level "),
                (k % 99 + 1).cast("string"), F.lit("."),
            ),
        )
        .when(
            F.col("event_type") == "view",
            F.concat(F.lit("<:Rank:1>**user_"), uid, F.lit("**: message "), ks),
        )
        .otherwise(F.concat(F.lit("unstructured noise "), ks))
    )
    return ev.select(
        F.col("event_id").alias("id"),
        F.col("ts").alias("timestamp"),
        msg.alias("raw_content"),
    )


def metadata_tables(spark: SparkSession, dashboard) -> dict[str, DataFrame]:
    """The metadata k/v gold tables, same shape as the reference's
    create_metadata_tables (src/3_transform_data.py:55-98):
    ``run_metadata`` carries the publish timestamp, ``dashboard_config``
    the stringly/JSON-encoded serving settings of ``dashboard`` (a
    ``config_loader`` dashboard section)."""
    from osrs_dashboard_elt_spark.schema import kv_table
    from osrs_dashboard_elt_spark.suite import ANCHOR

    return {
        "run_metadata": literal_frame(
            spark, [(ANCHOR.isoformat(),)], "last_updated_utc STRING"
        ),
        "dashboard_config": kv_table(
            spark,
            {
                "custom_lookback_days": dashboard.custom_lookback_days,
                "top_drops_limit": dashboard.top_drops_limit,
                "pb_group_order": ["Bosses", "Raids"],
                "clog_group_order": ["Bosses", "Other"],
            },
        ),
    }


def report_rows_frame(spark: SparkSession, rows: dict[str, int]) -> DataFrame:
    """One run's gold row counts as the drift gate's ``(report,
    n_rows)`` audit table."""
    return literal_frame(
        spark, sorted(rows.items()), "report string, n_rows long"
    )


def publish_all(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    root: str,
    publish: Callable[[DataFrame, str], str],
) -> dict[str, tuple[str, int]]:
    """Publish each of ``tables`` to ``root/<name>`` with ``publish``
    (blue/green), concurrently: one thread per table up to the
    session's default parallelism.  Each table's row count is observed
    on its own write.  Returns ``{name: (color, rows)}``; the first
    failed publish is re-raised and the publishes not yet started are
    cancelled.

    The thread targets are wrapped one by one in
    ``inheritable_thread_target``: each gets its own copy of the
    caller's local properties (job tags, job group), so the jobs it
    starts carry the caller's tags and concurrent SQL executions do not
    share one property set."""
    obs = ObservedMetrics()
    observed = {
        name: obs.observe(df, name, rows=F.count(F.lit(1)))
        for name, df in tables.items()
    }
    width = min(len(tables), spark.sparkContext.defaultParallelism)
    colors: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = {
            pool.submit(
                inheritable_thread_target(spark)(publish), df, f"{root}/{name}"
            ): name
            for name, df in observed.items()
        }
        try:
            for fut in as_completed(futures):
                colors[futures[fut]] = fut.result()
        except BaseException:
            pool.shutdown(cancel_futures=True)
            raise
    rows = obs.get()
    return {name: (colors[name], rows[name]["rows"]) for name in tables}


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_hours_between_price_runs: float = 24.0,
    fail_enrich_for_test: bool = False,
) -> dict[str, float]:
    """Run the staged pipeline under the reference's orchestration
    policy (run_all_etl.py:117-133,145-155): the price-enrichment
    stage is SKIPPED when its last successful run is younger than
    ``min_hours_between_price_runs`` (state in ``ETL_state.json``)
    and may FAIL without aborting the pipeline; every other stage
    aborts on failure.  ``fail_enrich_for_test`` injects a failure
    into the enrich stage to exercise the tolerance path."""
    from osrs_dashboard_elt_spark.config import default_config
    from osrs_dashboard_elt_spark.functions.durations import duration_seconds
    from osrs_dashboard_elt_spark.functions.temporal import standard_periods
    from osrs_dashboard_elt_spark.orchestration import run_stages
    from osrs_dashboard_elt_spark.plans import build_parse_plan
    from osrs_dashboard_elt_spark.reports import (
        leaderboard_report,
        personal_bests_report,
        recent_achievements_report,
        timeseries_report,
    )
    from osrs_dashboard_elt_spark.sources import dedup_append, publish_blue_green
    from osrs_dashboard_elt_spark.suite import ANCHOR

    counters: dict[str, int] = {}

    # -- stage 1: ingest (idempotent) ---------------------------------
    def stage_ingest():
        raw = synthesize_raw_messages(spark, sf_dir)
        # bronze lands Hive-partitioned by day: the overlap anti-join
        # prunes to the batch's date folders, and retention is a
        # directory delete — the layout a 100-TB bronze table needs
        counters["appended"] = dedup_append(
            spark, raw, f"{out_dir}/bronze/raw_logs", ["timestamp", "raw_content"],
            ts_col="timestamp", date_partition_col="ds",
        )
        print(f"[ingest]    +{counters['appended']} rows -> bronze/raw_logs")

    def stage_parse():
        # content-derived surrogate id: stable across runs and
        # partitionings (monotonically_increasing_id would renumber on
        # every read, which breaks the idempotent silver appends keyed
        # on raw_log_id)
        bronze = spark.read.parquet(f"{out_dir}/bronze/raw_logs").withColumn(
            "id", F.xxhash64("timestamp", "raw_content")
        )
        from osrs_dashboard_elt_spark.schema import (
            CHAT_SCHEMA,
            CLAN_BROADCASTS_SCHEMA,
            UNPARSED_LOGS_SCHEMA,
            conform,
        )

        streams = build_parse_plan(bronze, default_config())
        # silver tables land on the DECLARED schemas (reference
        # [database_schema]): missing columns pad as typed nulls,
        # extras drop, casts apply — same contract as the reference's
        # config DDL
        counters["n_chat"] = dedup_append(
            spark, conform(streams.chat, CHAT_SCHEMA),
            f"{out_dir}/silver/chat", ["raw_log_id"], ts_col="Timestamp",
        )
        counters["n_bc"] = dedup_append(
            spark,
            conform(streams.broadcasts, CLAN_BROADCASTS_SCHEMA),
            f"{out_dir}/silver/clan_broadcasts",
            ["raw_log_id", "Username"],
            ts_col="Timestamp",
        )
        counters["n_dead"] = dedup_append(
            spark, conform(streams.unparsed, UNPARSED_LOGS_SCHEMA),
            f"{out_dir}/silver/unparsed_logs", ["raw_log_id"], ts_col="timestamp",
        )
        print(
            f"[parse]     +{counters['n_chat']} chat, +{counters['n_bc']} "
            f"broadcasts, +{counters['n_dead']} dead-letter"
        )

    # -- stage 2.5: price-series refresh (the reference's elidable
    # stage).  ONLY the price lookup table is carried across runs — the
    # enrichment join itself runs in stage_transform every run, so an
    # elided refresh can never hold this run's newly parsed rows out of
    # the gold tables (the reference's 4_fetch_item_prices.py likewise
    # refreshes just item_prices.db; 3_transform always re-joins it).
    def stage_enrich():
        if fail_enrich_for_test:
            raise RuntimeError("injected price-stage failure (test)")
        bc_all = spark.read.parquet(f"{out_dir}/silver/clan_broadcasts")
        quotes = (
            bc_all.filter(F.col("Item_Value").isNotNull())
            .groupBy("Item_Name", F.date_trunc("day", "Timestamp").alias("quote_ts"))
            .agg(F.avg("Item_Value").cast("long").alias("quoted_value"))
        )
        obs = ObservedMetrics()
        publish_blue_green(
            obs.observe(quotes, "quotes", rows=F.count(F.lit(1))),
            f"{out_dir}/silver/item_quotes",
        )
        counters["n_quotes"] = obs.get()["quotes"]["rows"]
        print(
            f"[enrich]    {counters['n_quotes']} (item, day) price quotes "
            "published"
        )

    # -- stage 3: transform + blue/green publish ----------------------
    def stage_transform():
        from osrs_dashboard_elt_spark.operators.asof import asof_join
        from osrs_dashboard_elt_spark.sources import read_published

        # ALWAYS read this run's full silver table, then enrich
        # in-flight against the latest published price series (stale
        # prices are acceptable — stale ROWS are not).  When the
        # (tolerated) price stage has never succeeded, transform
        # proceeds un-enriched: the reference's
        # continue-on-price-failure rule.
        bc = spark.read.parquet(f"{out_dir}/silver/clan_broadcasts")
        try:
            quotes = read_published(spark, f"{out_dir}/silver/item_quotes")
        except Exception:
            quotes = None
        if quotes is not None:
            needs = bc.filter(
                (F.col("Broadcast_Type") == "Valuable Drop")
                & F.col("Item_Value").isNull()
            )
            enriched = asof_join(
                needs.drop("Item_Value"), quotes, "Item_Name",
                "Timestamp", "quote_ts",
                values=["quoted_value"], direction="nearest",
            ).withColumn(
                "Item_Value", F.col("quoted_value")
            ).drop("quoted_value")
            rest = bc.join(
                enriched.select("raw_log_id", "Username"),
                ["raw_log_id", "Username"],
                "left_anti",
            )
            obs = ObservedMetrics()
            bc = rest.unionByName(
                obs.observe(
                    enriched.select(*rest.columns), "enriched",
                    rows=F.count(F.lit(1)),
                )
            )
        # every gold plan below reads bc: compute it (and the as-of
        # enrichment inside it) once, before the fan-out
        bc = bc.persist()
        bc.count()
        if quotes is not None:
            counters["n_enriched"] = obs.get()["enriched"]["rows"]
        try:
            publish_reports(bc)
        finally:
            bc.unpersist()

    def publish_reports(bc: DataFrame) -> None:
        periods = standard_periods(ANCHOR)
        reports = {
            "leaderboard_drops": leaderboard_report(
                bc.filter(F.col("Broadcast_Type") == "Valuable Drop"),
                "Username", "Timestamp", periods, value_col="Item_Value",
            ),
            "timeseries_drops": timeseries_report(
                bc.filter(F.col("Broadcast_Type") == "Valuable Drop").withColumn(
                    "v", F.coalesce(F.col("Item_Value").cast("double"), F.lit(0.0))
                ),
                "Timestamp", ["1 day", "1 week"], "v",
            ),
            "personal_bests": personal_bests_report(
                spark,
                bc.filter(F.col("Broadcast_Type") == "Personal Best").withColumn(
                    "seconds", duration_seconds(F.col("PB_Time"))
                ),
                "Task_Name", "Username", "seconds", "Timestamp",
                threshold=0.0, grouping_window_seconds=10.0,
            ),
            "recent_achievements": recent_achievements_report(
                bc.select("Broadcast_Type", "Username", "Timestamp"),
                "Broadcast_Type", "Timestamp", 5,
            ),
        }
        # config-driven fan-out on top of the fixed summaries: the
        # reference builds its ~25 gold tables by looping the TOML
        # report specs (src/3_transform_data.py:839-858); this is the
        # same loop over a representative spec set
        from osrs_dashboard_elt_spark.config_loader import load_config_dict
        from osrs_dashboard_elt_spark.reports.runner import (
            generate_all_reports,
        )

        chat = spark.read.parquet(f"{out_dir}/silver/chat")
        fan_cfg = load_config_dict(
            {
                "patterns": {
                    "Chat": {
                        "regex": r"^(?P<Username>\S+): (?P<Content>.*)$",
                        "columns": ["Username", "Content"],
                    }
                },
                "dashboard_settings": {
                    "leaderboard_reports": [
                        {
                            "report_name": "leaderboard_levels",
                            "source_table": "clan_broadcasts",
                            "broadcast_type": ["Level Up"],
                            "group_by_column": "Username",
                            "aggregations": {"Count": "Username"},
                        }
                    ],
                    "detailed_reports": [
                        {
                            "report_name_prefix": "detailed_drops",
                            "broadcast_types": ["Valuable Drop"],
                        }
                    ],
                    "timeseries_reports": [
                        {
                            "report_name": "timeseries_levels",
                            "broadcast_type": ["Level Up"],
                            "frequencies": ["1 day"],
                        }
                    ],
                },
            }
        )
        reports.update(
            generate_all_reports(spark, fan_cfg, chat, bc, ANCHOR)
        )
        reports.update(metadata_tables(spark, fan_cfg.dashboard))
        published = publish_all(
            spark, reports, f"{out_dir}/gold", publish_blue_green
        )
        for name, df in reports.items():
            color, rows = published[name]
            # row counts feed the stage-4 drift gate (the deequ
            # metrics-repository discipline, mirroring the corpus
            # pipeline's gate at run_corpus_pipeline.py stage 4)
            counters[f"rows_{name}"] = rows
            print(f"[transform] gold/{name} -> {color} ({df.columns})")

    # -- stage 4: run summary (S15) + notify (S14) --------------------
    # Reference scripts end by writing summaries/<script>_summary_<ts>.txt
    # and POSTing the same text to a webhook (shared_utils.py:32-42,
    # :128-147).  Transport is unconfigured here (no network) so notify
    # skips, exactly like the reference's placeholder-URL rule.
    def stage_summary():
        from osrs_dashboard_elt_spark.observability import (
            notify,
            render_run_summary,
            webhook_transport,
            write_summary_file,
        )

        summary = render_run_summary(
            "OSRS Dashboard ELT (Spark)",
            "run_pipeline",
            {
                "New Raw Messages Added": counters.get("appended", 0),
                "New Chat Messages Added": counters.get("n_chat", 0),
                "New Broadcasts Added": counters.get("n_bc", 0),
                "Dead-Lettered (Unparsed)": counters.get("n_dead", 0),
                "Drops Priced via As-Of Join": counters.get(
                    "n_enriched", "skipped/failed"
                ),
            },
        )
        run_ts = time.strftime("%Y-%m-%d_%H-%M-%S")
        path = write_summary_file(
            "run_pipeline", summary, f"{out_dir}/summaries", run_ts
        )
        notify(summary, webhook_transport(None))  # unconfigured -> skipped
        print(f"[summary]   {path}")
        # drift gate over the gold report row counts: persist this
        # run's counts into the day-partitioned metrics history
        # (replay-safe: same day replaces) and fail the run if any
        # table's count jumped out of its trailing band — a silently
        # broken upstream feed announces itself HERE, not in the
        # dashboard (operators/quality.py; the corpus pipeline gates
        # the same way on rule-violation counts)
        from osrs_dashboard_elt_spark.operators.quality import (
            assert_no_drift,
            metrics_history_append,
        )

        report_rows = {
            k[len("rows_"):]: int(v)
            for k, v in counters.items()
            if k.startswith("rows_")
        }
        if report_rows:
            audit_df = report_rows_frame(spark, report_rows)
            run_day = time.strftime("%Y-%m-%d", time.gmtime())
            hist_path = f"{out_dir}/metrics_history/report_rows"
            metrics_history_append(audit_df, hist_path, run_day)
            assert_no_drift(
                spark.read.parquet(hist_path),
                ["report"], "day", "n_rows",
            )
            print(f"[summary]   drift gate ok over {hist_path}")

    # -- stage 5: post PBs (reference 5_post_pbs_to_discord.py) -------
    # Conditional per config like the reference's run_post_pbs_script
    # flag; renders the gold personal-bests table into per-group embed
    # pages and drives the external-id upsert sink (LocalJsonTransport
    # as the in-repo transport — the Discord client stays out of the
    # engine).  Re-runs EDIT the same external documents in place.
    def stage_post_pbs():
        from osrs_dashboard_elt_spark.functions.durations import (
            seconds_to_duration,
        )
        from osrs_dashboard_elt_spark.reports.embeds import (
            GroupDef,
            RecordDef,
            render_pb_pages,
        )
        from osrs_dashboard_elt_spark.sources import read_published
        from osrs_dashboard_elt_spark.streaming.upsert_sink import (
            ExternalUpsertSink,
            LocalJsonTransport,
        )

        pb = read_published(spark, f"{out_dir}/gold/personal_bests")
        groups = [
            GroupDef(
                "Personal Bests",
                records=tuple(
                    RecordDef(r["Task"])
                    for r in pb.select("Task").orderBy("Task").collect()
                ),
            )
        ]
        shaped = pb.select(
            "Task",
            seconds_to_duration(F.col("best_seconds")).alias("Time"),
            F.coalesce(F.col("All_Holders"), F.lit("")).alias("Holder"),
            F.date_format("record_ts", "yyyy-MM-dd").alias("Date"),
            F.lit("Personal Bests").alias("Group"),
        )
        pages = render_pb_pages(
            spark, shaped, groups,
            other_group_name="Miscellaneous PBs", recent_count=3,
        )
        sink = ExternalUpsertSink(
            LocalJsonTransport(f"{out_dir}/discord_docs"),
            f"{out_dir}/discord_state.json",
            key_col="group_title",
        )
        stats = sink.process_batch(pages, 0)
        print(f"[post_pbs]  pages upserted: {stats}")

    # Reference policy (run_all_etl.py:117-133,145-155): "enrich" (the
    # price stage) is elidable by age and tolerated on failure; every
    # other stage aborts the run.
    results = run_stages(
        [
            ("ingest", stage_ingest),
            ("parse", stage_parse),
            ("enrich", stage_enrich),
            ("transform", stage_transform),
            ("post_pbs", stage_post_pbs),
            ("summary", stage_summary),
        ],
        state_path=f"{out_dir}/ETL_state.json",
        elide_after_hours={"enrich": min_hours_between_price_runs},
        tolerate_failure={"enrich"},
    )
    timings: dict[str, float] = {}
    for r in results:
        timings[r.name] = r.seconds
        if r.status != "ok":
            print(f"[{r.name}]    {r.status}: {r.detail}")
    return timings


def main() -> None:
    from osrs_dashboard_elt_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="osrs_elt_")
    spark = get_spark(app_name="osrs-elt-pipeline", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    timings = run_pipeline(spark, sf_dir, out_dir)
    total = sum(timings.values())
    stages = ", ".join(f"{k}={v:.1f}s" for k, v in timings.items())
    print(f"[done] {stages}; total={total:.1f}s; output at {out_dir}")


if __name__ == "__main__":
    main()
