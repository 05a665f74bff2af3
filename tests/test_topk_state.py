"""ListState/MapState top-K entry changelog (streaming/topk_state.py):
plan construction everywhere; runtime equality batch-twin vs
transformWithState where the protobuf state server executes;
cross-restart recovery of BOTH states (the top-K list and the
seen-ids dedup map)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F  # noqa: F401

from osrs_dashboard_elt_spark.streaming.topk_state import (
    TOPK_OUT_SCHEMA,
    _entries_in_order,
    streaming_topk_entries,
    topk_entries_batch,
    topk_via_stream,
)


def _tws_runtime_available() -> bool:
    from osrs_dashboard_elt_spark.compat import ensure_protobuf

    if not ensure_protobuf():
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


ROWS = [
    # key a: ties, a duplicate id, a null value, late big values
    ("a", 1, 5.0, datetime(2024, 1, 1, 10)),
    ("a", 2, 7.0, datetime(2024, 1, 1, 11)),
    ("a", 3, 7.0, datetime(2024, 1, 1, 12)),   # tie with stored 7.0
    ("a", 2, 1.0, datetime(2024, 1, 1, 13)),   # DUP id 2: ignored
    ("a", 4, 6.0, datetime(2024, 1, 1, 14)),   # enters, evicts a 7.0
    ("a", 5, None, datetime(2024, 1, 1, 15)),  # null: seen, no entry
    ("a", 6, 9.0, datetime(2024, 1, 1, 16)),   # too big: no entry
    ("a", 7, 2.0, datetime(2024, 1, 1, 17)),   # enters
    # key b: fewer than k events
    ("b", 8, 50.0, datetime(2024, 1, 1, 10)),
    ("b", 9, 40.0, datetime(2024, 1, 1, 11)),
]
SCHEMA = "k string, event_id long, value double, ts timestamp"
# hand-derived for k=2: a tie with the current 2nd-best does NOT enter
EXPECT = {
    ("a", 1, 5.0),
    ("a", 2, 7.0),
    ("a", 4, 6.0),
    ("a", 7, 2.0),
    ("b", 8, 50.0),
    ("b", 9, 40.0),
}


def test_core_semantics_pure_python():
    """The shared core against the hand-derived changelog, including
    the tie rule (count of stored <= v must be < k) and eviction of
    the composite-largest entry."""
    rows = [
        (eid, v, ts) for key, eid, v, ts in ROWS if key == "a"
    ]
    emitted, topk, new_ids = _entries_in_order(
        rows, 2, [], set(), lambda _: False
    )
    assert [(e, v) for e, v, _ in emitted] == [(1, 5.0), (2, 7.0), (4, 6.0), (7, 2.0)]
    assert sorted(v for v, _ in topk) == [2.0, 5.0]
    assert new_ids == [1, 2, 3, 4, 5, 6, 7]  # dup id 2 NOT re-added


def test_batch_twin_matches_reference(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        (r.key, r.event_id, r.value)
        for r in topk_entries_batch(
            df, "k", "event_id", "value", "ts", 2
        ).collect()
    }
    assert got == EXPECT


def test_plan_compiles_batch_and_stream(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = streaming_topk_entries(
        df, "k", "event_id", "value", "ts", 2, require_runtime=False
    )
    assert out.schema == TOPK_OUT_SCHEMA and not out.isStreaming
    src = tmp_path / "in"
    src.mkdir()
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    sout = streaming_topk_entries(
        stream, "k", "event_id", "value", "ts", 2, require_runtime=False
    )
    assert sout.isStreaming and sout.schema == TOPK_OUT_SCHEMA


@pytest.mark.skipif(
    not _tws_runtime_available(),
    reason="transformWithState runtime needs google.protobuf",
)
def test_tws_stream_equals_batch_twin(spark):
    """The real ListState/MapState stream (one-shot drive) emits
    exactly the batch twin's changelog."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        (r.key, r.event_id, r.value)
        for r in topk_via_stream(
            df, "k", "event_id", "value", "ts", 2
        ).collect()
    }
    assert got == EXPECT


@pytest.mark.skipif(
    not _tws_runtime_available(),
    reason="transformWithState runtime needs google.protobuf",
)
def test_tws_recovers_both_states_across_restart(spark, tmp_path):
    """Two availableNow RUNS sharing one checkpoint: run 2 must see
    run 1's ListState (a value worse than the recovered top-K must
    NOT enter) and its MapState (a redelivered event id is a no-op),
    recovered from the RocksDB store."""
    import json

    src = tmp_path / "in"
    out_dir = tmp_path / "out"
    src.mkdir()
    (src / "b1.json").write_text(
        "".join(
            json.dumps(
                {"k": "a", "event_id": e, "value": v, "ts": t}
            ) + "\n"
            for e, v, t in [
                (1, 5.0, "2024-01-01T10:00:00Z"),
                (2, 7.0, "2024-01-01T11:00:00Z"),
            ]
        )
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        out = streaming_topk_entries(
            stream, "k", "event_id", "value", "ts", 2
        )

        def run_once():
            q = (
                out.writeStream.format("parquet")
                .option("path", str(out_dir))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(300)

        run_once()
        # run 2: redelivered id 2 (better value! must still be a
        # no-op), a too-big value (blocked by recovered ListState),
        # and a genuine improvement
        (src / "b2.json").write_text(
            "".join(
                json.dumps(
                    {"k": "a", "event_id": e, "value": v, "ts": t}
                ) + "\n"
                for e, v, t in [
                    (2, 1.0, "2024-01-01T12:00:00Z"),
                    (10, 8.0, "2024-01-01T13:00:00Z"),
                    (11, 3.0, "2024-01-01T14:00:00Z"),
                ]
            )
        )
        run_once()
    finally:
        spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass"
        )
    got = {
        (r.key, r.event_id, r.value)
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    assert got == {("a", 1, 5.0), ("a", 2, 7.0), ("a", 11, 3.0)}


@pytest.mark.skipif(
    not _tws_runtime_available(),
    reason="transformWithState runtime needs google.protobuf",
)
def test_map_state_ttl_expires_dedup_horizon(spark, tmp_path):
    """TTL on the seen-ids MapState, on the surface it exists for — a
    CONTINUOUS stream (processing-time trigger; an availableNow drive
    under timeMode=ProcessingTime never drains, see module doc).
    A redelivered event id inside the horizon is a no-op; after the
    TTL expires it is processed as new (the ListState top-K, which
    carries no TTL, still gates the entry rule)."""
    import json
    import time

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.json").write_text(
        json.dumps(
            {"k": "a", "event_id": 1, "value": 5.0,
             "ts": "2024-01-01T10:00:00Z"}
        ) + "\n"
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    qname = "topk_ttl_probe"
    try:
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        out = streaming_topk_entries(
            stream, "k", "event_id", "value", "ts", 2,
            seen_ttl_ms=20_000,
        )
        q = (
            out.writeStream.queryName(qname)
            .format("memory")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )

        def wait_rows(n, deadline=120):
            t0 = time.time()
            while time.time() - t0 < deadline:
                if spark.table(qname).count() >= n:
                    return
                time.sleep(0.5)
            raise TimeoutError(f"never reached {n} output rows")

        wait_rows(1)
        # redeliver id 1 INSIDE the horizon: must stay a no-op.
        # (20 s TTL anchors at b1's state write; b2 lands well under
        # half that even with slow TWS batches, and a redelivery does
        # NOT refresh the TTL — only first-seen ids are written.)
        (src / "b2.json").write_text(
            json.dumps(
                {"k": "a", "event_id": 1, "value": 3.0,
                 "ts": "2024-01-01T10:01:00Z"}
            ) + "\n"
        )
        time.sleep(8)
        assert spark.table(qname).count() == 1
        # let the TTL lapse, then redeliver: processed as NEW
        time.sleep(15)
        (src / "b3.json").write_text(
            json.dumps(
                {"k": "a", "event_id": 1, "value": 4.0,
                 "ts": "2024-01-01T10:02:00Z"}
            ) + "\n"
        )
        wait_rows(2)
        q.stop()
        q.awaitTermination(60)
    finally:
        for live in spark.streams.active:
            if live.name == qname:
                live.stop()
        spark.conf.unset(
            "spark.sql.streaming.stateStore.providerClass"
        )
    got = [
        (r.key, r.event_id, r.value)
        for r in spark.table(qname).orderBy("value").collect()
    ]
    assert got == [("a", 1, 4.0), ("a", 1, 5.0)]


def _write_events(path, events) -> None:
    import json

    path.write_text(
        "".join(
            json.dumps({"k": "a", "event_id": e, "value": v, "ts": t})
            + "\n"
            for e, v, t in events
        )
    )


def _drive_once(out, ckpt: str) -> set:
    """One availableNow run of ``out`` on one state partition (pinned
    into a fresh checkpoint; a resumed one keeps its own), collected
    through foreachBatch — a memory sink cannot resume a checkpoint."""
    spark = out.sparkSession
    got: set = set()

    def collect(batch, _batch_id) -> None:
        got.update(
            (r.key, r.event_id, r.value) for r in batch.collect()
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert q.awaitTermination(300)
    return got


@pytest.mark.skipif(
    not _tws_runtime_available(),
    reason="transformWithState runtime needs google.protobuf",
)
def test_tws_restart_recovers_state_one_key(spark, tmp_path):
    """Default-run representative of the restart soak above: one key,
    one state partition, one restart.  Run 2 must see run 1's
    ListState (a value worse than the recovered top-1 stays out) and
    its MapState (a redelivered id is a no-op, even with a better
    value)."""
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = streaming_topk_entries(
        spark.readStream.schema(SCHEMA).json(str(src)),
        "k", "event_id", "value", "ts", 1,
    )
    _write_events(src / "b1.json", [(1, 5.0, "2024-01-01T10:00:00Z")])
    assert _drive_once(out, ckpt) == {("a", 1, 5.0)}
    _write_events(
        src / "b2.json",
        [
            (1, 0.5, "2024-01-01T11:00:00Z"),  # redelivered id
            (2, 9.0, "2024-01-01T12:00:00Z"),  # worse than top-1
            (3, 3.0, "2024-01-01T13:00:00Z"),  # genuine improvement
        ],
    )
    assert _drive_once(out, ckpt) == {("a", 3, 3.0)}


@pytest.mark.skipif(
    not _tws_runtime_available(),
    reason="transformWithState runtime needs google.protobuf",
)
def test_per_id_seen_checkpoint_is_refused(spark, tmp_path):
    """A checkpoint written with the per-id ``seen`` MapState layout
    (event_id long -> one tinyint, the layout before the bucketed
    map) must not be resumed by the bucketed operator: Spark's
    state-schema check refuses the incompatible value schema instead
    of letting the bucketed reader misread the old entries."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
    )

    class PerIdSeen(StatefulProcessor):
        def init(self, handle) -> None:
            self._topk = handle.getListState("topk", "value double, seq long")
            self._seen = handle.getMapState(
                "seen", "event_id long", "one tinyint"
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for eid in pdf["event_id"]:
                    self._seen.updateValue((int(eid),), (1,))
            yield from ()

        def close(self) -> None:
            pass

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    events = spark.readStream.schema(SCHEMA).json(str(src))
    old = (
        events.select(
            F.col("k").alias("key"), "event_id", "value", "ts"
        )
        .groupBy("key")
        .transformWithStateInPandas(
            statefulProcessor=PerIdSeen(),
            outputStructType=TOPK_OUT_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )
    _write_events(src / "b1.json", [(1, 5.0, "2024-01-01T10:00:00Z")])
    assert _drive_once(old, ckpt) == set()
    _write_events(src / "b2.json", [(2, 3.0, "2024-01-01T11:00:00Z")])
    new = streaming_topk_entries(events, "k", "event_id", "value", "ts", 1)
    with pytest.raises(
        StreamingQueryException,
        match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE",
    ):
        _drive_once(new, ckpt)
