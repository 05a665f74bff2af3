"""Config-declared schemas -> Spark StructTypes (SURVEY.md §1.1-1.2).

The reference declares its typed event-table schemas as config data,
not code (``[database_schema]``, reference src/config.example.toml:
367-371, consumed for DDL at src/2_parse_engine.py:329-340), with only
three storage types: TEXT, INTEGER, BIGINT — timestamps are ISO strings
re-parsed to tz-aware datetimes on every read
(src/3_transform_data.py:817-818).

Here the same declaration compiles to a ``StructType`` with REAL types:
timestamp columns become ``TimestampType`` (normalized UTC once at
ingest, eliminating the re-parse-on-read), INTEGER/BIGINT become
int/long, everything else string.  The canonical silver schemas below
mirror the reference's three tables column-for-column.

Also here: the key/value metadata tables (``run_metadata``,
``dashboard_config`` — reference src/3_transform_data.py:55-98), whose
list/dict values are JSON-encoded strings in a stringly-typed k/v
table; ``kv_table`` reproduces that with ``to_json`` semantics
driver-side (the values are config-sized, not data-sized).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .literals import literal_frame

# reference storage types -> Spark types; timestamp-named TEXT columns
# are promoted to real timestamps (§1.2 "schema-declared, not inferred")
_TYPE_MAP = {
    "TEXT": T.StringType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
}
_TIMESTAMP_COLUMNS = {"Timestamp", "timestamp"}


def struct_from_config(schema: dict[str, str]) -> T.StructType:
    """``{column: "TEXT"|"INTEGER"|"BIGINT"}`` -> StructType, promoting
    timestamp-named columns to TimestampType."""
    fields = []
    for name, decl in schema.items():
        if name in _TIMESTAMP_COLUMNS:
            dtype: T.DataType = T.TimestampType()
        else:
            dtype = _TYPE_MAP[decl.upper()]
        fields.append(T.StructField(name, dtype))
    return T.StructType(fields)


# The reference's declared tables (src/config.example.toml:367-371),
# column-for-column, with ONE deliberate divergence: raw_log_id is
# BIGINT here (the reference used an AUTOINCREMENT int; a 32-bit id
# caps at 2B rows and our surrogate keys are 64-bit content hashes).
CLAN_BROADCASTS_DECL = {
    "raw_log_id": "BIGINT",
    "Timestamp": "TEXT",
    "Content": "TEXT",
    "Username": "TEXT",
    "Broadcast_Type": "TEXT",
    "Item_Name": "TEXT",
    "Item_Value": "BIGINT",
    "Collection_Log_Progress": "TEXT",
    "Skill": "TEXT",
    "Task_Name": "TEXT",
    "New_Level": "INTEGER",
    "Tier": "TEXT",
    "PB_Time": "TEXT",
    "Source_Mob": "TEXT",
    "Opponent": "TEXT",
    "Pet_Name": "TEXT",
    "Pet_KC": "INTEGER",
    "Pet_KC_Type": "TEXT",
    "Action_By": "TEXT",
    "New_Group_Lives": "TEXT",
}
CHAT_DECL = {
    "raw_log_id": "BIGINT",
    "Timestamp": "TEXT",
    "MessageType": "TEXT",
    "Rank": "TEXT",
    "Status": "TEXT",
    "Username": "TEXT",
    "Content": "TEXT",
}
UNPARSED_LOGS_DECL = {
    "raw_log_id": "BIGINT",
    "timestamp": "TEXT",
    "raw_content": "TEXT",
    "failure_reason": "TEXT",
}

CLAN_BROADCASTS_SCHEMA = struct_from_config(CLAN_BROADCASTS_DECL)
CHAT_SCHEMA = struct_from_config(CHAT_DECL)
UNPARSED_LOGS_SCHEMA = struct_from_config(UNPARSED_LOGS_DECL)


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast/pad ``df`` onto a declared schema: missing columns become
    typed nulls, present columns are cast, extras are dropped, column
    order follows the declaration (the reference's INSERT-by-name
    against config DDL behaves the same way)."""
    from pyspark.sql import functions as F

    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def kv_table(spark: SparkSession, values: dict[str, Any]) -> DataFrame:
    """Stringly-typed key/value metadata table; non-string values are
    JSON-encoded exactly like the reference's dashboard_config
    (src/3_transform_data.py:89-96).  A JVM ``VALUES`` relation
    (``literals.literal_frame``), so writing it starts no Python
    worker."""
    rows = [
        (k, v if isinstance(v, str) else json.dumps(v))
        for k, v in values.items()
    ]
    return literal_frame(spark, rows, "key string, value string")


def evolve_schema(
    table: T.StructType,
    batch: DataFrame,
    policy: str = "strict",
) -> T.StructType:
    """Schema-drift control for bronze appends (the reference never
    faces this — its DDL is fixed config — but any long-lived ingest
    does).  Compares an incoming batch against the declared table
    schema and returns the schema to conform the batch onto:

    - ``strict``: new columns are an ERROR (the reference's posture:
      tables match config DDL exactly).
    - ``evolve``: new batch columns are APPENDED as nullable fields
      (Delta-style additive evolution); existing columns keep the
      table's type.  Old parquet files simply lack the new column —
      ``read_evolved`` merges footers so old rows read as NULL.

    A column present in both with a DIFFERENT type is always an error
    — silent cast-on-append is how type drift corrupts a table.
    """
    if policy not in ("strict", "evolve"):
        raise ValueError(f"unknown policy {policy!r}")
    table_types = {f.name: f.dataType for f in table.fields}
    batch_fields = {f.name: f.dataType for f in batch.schema.fields}
    conflicts = {
        n: (str(table_types[n]), str(t))
        for n, t in batch_fields.items()
        if n in table_types
        and t != table_types[n]
        # numeric widening within the declared type is conform()'s
        # job (cast), not a conflict — only flag casts that lose
        # information across type FAMILIES
        and not _castable(t, table_types[n])
    }
    if conflicts:
        raise ValueError(
            f"type conflicts on append (column: batch vs table): {conflicts}"
        )
    new = [n for n in batch_fields if n not in table_types]
    if not new:
        return table
    if policy == "strict":
        raise ValueError(
            f"batch carries undeclared columns {new}; declare them or "
            "append with policy='evolve'"
        )
    return T.StructType(
        list(table.fields)
        + [T.StructField(n, batch_fields[n], True) for n in new]
    )


_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}


def _castable(src: T.DataType, dst: T.DataType) -> bool:
    """Only LOSSLESS casts are conformance, not conflicts:
    anything->string, integer widening upward, float->double, and
    int-or-narrower->double (int32 is exact in a double).  A lossy
    numeric cast (double->long truncates fractions, long->int
    overflows, long->double loses precision past 2^53) is exactly the
    silent corruption this check exists to reject."""
    if isinstance(dst, T.StringType):
        return True
    s, d = type(src), type(dst)
    if s in _INT_RANK and d in _INT_RANK:
        return _INT_RANK[s] <= _INT_RANK[d]
    if d is T.DoubleType:
        return s is T.FloatType or (
            s in _INT_RANK and _INT_RANK[s] <= _INT_RANK[T.IntegerType]
        )
    if d is T.FloatType:
        return s in _INT_RANK and _INT_RANK[s] <= _INT_RANK[T.ShortType]
    return False


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dir whose files span schema versions: footer
    merge unions the fields; files written before a column existed
    yield NULL for it.  (Footer merge reads every footer — fine for a
    bronze dir's file counts after compaction; a real catalog stores
    the current schema so this becomes a plain read.)"""
    return spark.read.option("mergeSchema", "true").parquet(path)
