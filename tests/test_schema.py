"""Config-declared schemas (SURVEY.md §1.1-1.2): StructType
generation, conformance casting, k/v metadata encoding."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import types as T

from osrs_dashboard_elt_spark.schema import (
    CHAT_SCHEMA,
    CLAN_BROADCASTS_SCHEMA,
    UNPARSED_LOGS_SCHEMA,
    conform,
    kv_table,
    struct_from_config,
)


def test_struct_from_config_types():
    s = struct_from_config(
        {"raw_log_id": "INTEGER", "Timestamp": "TEXT", "Item_Value": "BIGINT", "x": "TEXT"}
    )
    assert s["raw_log_id"].dataType == T.IntegerType()
    assert s["Timestamp"].dataType == T.TimestampType()  # promoted
    assert s["Item_Value"].dataType == T.LongType()
    assert s["x"].dataType == T.StringType()


def test_declared_tables_match_reference_column_counts():
    # reference src/config.example.toml:367-371: 20 / 7 / 4 columns
    assert len(CLAN_BROADCASTS_SCHEMA.fields) == 20
    assert len(CHAT_SCHEMA.fields) == 7
    assert len(UNPARSED_LOGS_SCHEMA.fields) == 4
    assert CLAN_BROADCASTS_SCHEMA["Item_Value"].dataType == T.LongType()
    assert CLAN_BROADCASTS_SCHEMA["New_Level"].dataType == T.IntegerType()
    # deliberate divergence: 64-bit surrogate ids, not the reference's int
    assert CLAN_BROADCASTS_SCHEMA["raw_log_id"].dataType == T.LongType()


def test_conform_pads_casts_and_orders(spark):
    df = spark.createDataFrame(
        [("7", dt.datetime(2024, 1, 1), "u1", "extra")],
        "raw_log_id string, Timestamp timestamp, Username string, junk string",
    )
    out = conform(df, CHAT_SCHEMA)
    assert out.columns == [f.name for f in CHAT_SCHEMA.fields]
    row = out.collect()[0]
    assert row["raw_log_id"] == 7  # cast string -> int
    assert row["Rank"] is None  # padded typed null
    assert "junk" not in out.columns


def test_kv_table_json_encodes_nonstrings(spark):
    out = {r["key"]: r["value"] for r in kv_table(
        spark, {"plain": "s", "n": 3, "order": ["a", "b"]}
    ).collect()}
    assert out["plain"] == "s"
    assert json.loads(out["n"]) == 3
    assert json.loads(out["order"]) == ["a", "b"]


def _has_python_rdd(df) -> bool:
    return "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()


def test_literal_tables_are_jvm_relations(spark):
    """``kv_table`` and the batch pipeline's literal tables are JVM
    ``VALUES`` relations, not ``createDataFrame`` RDDs: writing them
    starts no Python worker."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from run_pipeline import metadata_tables, report_rows_frame

    from osrs_dashboard_elt_spark.config_loader import DashboardSettings

    assert not _has_python_rdd(kv_table(spark, {"plain": "s", "n": 3}))
    frames = metadata_tables(spark, DashboardSettings())
    frames["report_rows"] = report_rows_frame(spark, {"a": 2, "b": 0})
    for name, df in frames.items():
        assert not _has_python_rdd(df), name
    assert [tuple(r) for r in frames["report_rows"].collect()] == [("a", 2), ("b", 0)]
    assert dict(frames["report_rows"].dtypes) == {"report": "string", "n_rows": "bigint"}
