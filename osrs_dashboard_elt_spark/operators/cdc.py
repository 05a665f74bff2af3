"""CDC apply / MERGE semantics as one relational pass.

The reference's closest analogs are row-loop upserts: the idempotent
``INSERT OR IGNORE`` appends (src/1_fetch_data.py:120-141) and the
Discord message-id upsert map (src/5_post_pbs_to_discord.py:31-48).
The warehouse-grade form is ``MERGE INTO``: apply a batch of typed
changes (insert / update / delete) to a snapshot and produce the next
snapshot.  Spark has no MERGE without a table format (Delta/Iceberg);
this operator is the format-agnostic DataFrame expression of it —
ONE full-outer join on the key, then a row-level decision projection:

  target only          -> keep
  change I, no target  -> insert
  change U, target     -> updated row (change columns win)
  change D, target     -> drop
  change U/D, no match -> ignored (or kept as insert when upsert=True)

The result is the whole next snapshot, so it publishes through
``sources.io.publish_blue_green`` (atomic flip between two buffers).
The in-place form on a manifest-backed table is
``sources.maintenance.targeted_upsert``, whose change-feed deltas give
time travel through ``sources.change_feed.read_table_as_of``.

Scale: one shuffle of each side on the key (or zero with
``sources.bucketed`` layouts); the decision is a scan-side
projection.  Change batches are usually << the snapshot — Spark
broadcasts them automatically under the threshold, and AQE picks the
join strategy at runtime.  Late/duplicate changes: dedupe the batch
to one winner per key first (``dedup_keep_first_asc`` on a sequence
column) — MERGE semantics require at most one change per key
(enforced here, like Delta's multiple-source-rows error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

OPS = ("I", "U", "D")


def merge_apply(
    target: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    upsert: bool = False,
) -> DataFrame:
    """Apply ``changes`` (target columns + ``op_col`` in I/U/D) to
    ``target``; returns the next snapshot with target's schema.

    Raises on a change batch with duplicate keys — resolve the winner
    upstream (the semantics of "latest change wins" belong to the
    extractor, not the merge).
    """
    data_cols = [c for c in target.columns]
    missing = [c for c in data_cols + [op_col] if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing columns: {missing}")
    # ONE validation job for both contracts (the merge itself is the
    # second and last computation of the change lineage): per-key
    # counts carry a bad-op flag, then a single driver-side aggregate.
    # NULL ops count as bad — isin() is three-valued and would let
    # them slip through to the silent-ignore path.
    bad = ~F.col(op_col).isin(*OPS) | F.col(op_col).isNull()
    probe = (
        changes.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.max(bad.cast("int")).alias("__bad"),
        )
        .filter((F.col("__n") > 1) | (F.col("__bad") > 0))
        .limit(1)
        .collect()
    )
    if probe:
        row = probe[0]
        key = tuple(row[k] for k in keys)
        if row["__bad"]:
            raise ValueError(
                f"unknown or NULL {op_col} value on key {key}; expected "
                f"one of {OPS} — an unvalidated op would silently drop "
                "or ignore matched rows"
            )
        raise ValueError(
            f"multiple changes for key {key}; dedupe the batch to one "
            "winner per key before merging"
        )
    # Two load-bearing subtleties in this join:
    # 1. String-qualified refs ("t.k"), not df[k]: target and changes
    #    often share lineage (changes derived from the snapshot),
    #    where df[k] == df[k] is ambiguous or trivially true;
    #    alias-qualified names always resolve to the intended side.
    # 2. __t_present is an explicit presence marker — NOT inferred
    #    from key-nullness: a target row whose KEY is NULL never
    #    equi-joins, but it is still a real row, and inferring
    #    presence from the key would silently delete it.
    t = target.withColumn("__t_present", F.lit(True)).alias("t")
    c = changes.alias("c")
    cond = F.col(f"t.{keys[0]}") == F.col(f"c.{keys[0]}")
    for k in keys[1:]:
        cond = cond & (F.col(f"t.{k}") == F.col(f"c.{k}"))
    joined = t.join(c, cond, "full_outer")
    t_exists = F.col("t.__t_present").isNotNull()
    c_op = F.col(f"c.{op_col}")
    insert_ok = c_op == "I"
    if upsert:
        insert_ok = insert_ok | (c_op == "U")
    keep = (
        (c_op.isNull() & t_exists)  # untouched target row
        | (c_op == "U") & t_exists  # update
        | (c_op == "I") & t_exists  # insert hit existing key: keep target
        | insert_ok & ~t_exists  # insert (or upsert miss)
    )
    out_cols = []
    for col in data_cols:
        out_cols.append(
            F.when(c_op.isNotNull() & ~t_exists, F.col(f"c.{col}"))
            .when(c_op == "U", F.col(f"c.{col}"))
            .otherwise(F.col(f"t.{col}"))
            .alias(col)
        )
    return joined.filter(keep).select(*out_cols)
