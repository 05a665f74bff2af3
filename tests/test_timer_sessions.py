"""Timer-based streaming sessionization (streaming/timer_sessions.py):
event-time timers closing idle sessions, cross-batch session merge,
session-id continuity across timer closes.  Runtime-gated like the
other transformWithState tests."""

from __future__ import annotations

from datetime import datetime

import pytest

from osrs_dashboard_elt_spark.compat import ensure_protobuf


def _runtime() -> bool:
    return ensure_protobuf()


pytestmark = pytest.mark.skipif(
    not _runtime(),
    reason="transformWithState runtime needs google.protobuf (wheel or "
    "vendored copy) — neither found",
)


def _drive_two_batches(
    spark,
    tmp_path,
    batch1,
    batch2,
    gap_seconds=1800.0,
    watermark_delay="0 seconds",
    session_ids="counter",
):
    """Run timer_sessionize over two REAL micro-batches
    (maxFilesPerTrigger=1) and return the emitted session rows."""
    from osrs_dashboard_elt_spark.streaming.timer_sessions import (
        timer_sessionize,
    )

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(batch1, "key long, ts timestamp").coalesce(
        1
    ).write.parquet(str(src / "d=0"))
    spark.createDataFrame(batch2, "key long, ts timestamp").coalesce(
        1
    ).write.parquet(str(src / "d=1"))
    stream = (
        spark.readStream.schema("key long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "d=*"))
    )
    out = timer_sessionize(
        stream,
        "key",
        "ts",
        gap_seconds=gap_seconds,
        watermark_delay=watermark_delay,
        session_ids=session_ids,
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("timer_sess_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish"
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return {
        (r.key, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in spark.table("timer_sess_test").collect()
    }


def test_cross_batch_merge_and_timer_close(spark, tmp_path):
    """Batch-2 events within the gap MERGE into batch-1's open session
    (state path); a key quiet in batch 2 closes via its event-time
    timer once the other key's events advance the watermark."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    b1 = [
        (1, datetime(2024, 1, 1, 10, 0)),
        (1, datetime(2024, 1, 1, 10, 20)),
        (2, datetime(2024, 1, 1, 10, 0)),  # goes quiet after batch 1
    ]
    b2 = [
        (1, datetime(2024, 1, 1, 10, 40)),  # within gap: SAME session
        (3, datetime(2024, 1, 2, 12, 0)),   # watermark pusher
    ]
    got = _drive_two_batches(spark, tmp_path, b1, b2)
    # key 1: one merged session spanning both batches (3 events)
    assert got[(1, 1)] == (
        3,
        datetime(2024, 1, 1, 10, 0),
        datetime(2024, 1, 1, 10, 40),
    )
    # key 2: closed by TIMER (no key-2 event ever arrived again)
    assert got[(2, 1)] == (
        1,
        datetime(2024, 1, 1, 10, 0),
        datetime(2024, 1, 1, 10, 0),
    )


def test_session_ids_continue_after_timer_close(spark, tmp_path):
    """A key whose session was closed BY TIMER numbers its next
    session sequentially (the state keeps the id counter)."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    b1 = [
        (1, datetime(2024, 1, 1, 10, 0)),
        (9, datetime(2024, 1, 1, 13, 0)),  # pushes watermark past 10:30
    ]
    b2 = [
        # key 1 returns AFTER its session-1 timer fired in batch 2's
        # predecessor; must become session 2, not session 1 again
        (1, datetime(2024, 1, 1, 14, 0)),
        (9, datetime(2024, 1, 2, 12, 0)),  # final watermark pusher
    ]
    got = _drive_two_batches(spark, tmp_path, b1, b2)
    assert (1, 1) in got and (1, 2) in got
    assert got[(1, 2)][1] == datetime(2024, 1, 1, 14, 0)


def test_late_event_bridges_open_session(spark, tmp_path):
    """A late event (non-zero watermark delay) that chains through the
    stored OPEN session must produce ONE session, batch-semantics
    style: with gap=100s and stored [00:00..01:40], batch 2's {00:50
    (late), 03:00} both belong to it — batch-local diffing splits 00:50
    from 03:00 (130s apart), but 03:00 is only 80s past the stored
    end.  Regression: segment-0-only merging closed the session at
    01:40 and opened a bogus second one at 03:00."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    b1 = [
        (1, datetime(2024, 1, 1, 10, 0, 0)),
        (1, datetime(2024, 1, 1, 10, 1, 40)),
    ]
    b2 = [
        (1, datetime(2024, 1, 1, 10, 0, 50)),  # late but in-watermark
        (1, datetime(2024, 1, 1, 10, 3, 0)),   # chains via stored end
        (9, datetime(2024, 1, 2, 12, 0, 0)),   # watermark pusher
    ]
    got = _drive_two_batches(
        spark, tmp_path, b1, b2,
        gap_seconds=100.0, watermark_delay="300 seconds",
    )
    key1 = {sid: v for (k, sid), v in got.items() if k == 1}
    assert key1 == {
        1: (
            4,
            datetime(2024, 1, 1, 10, 0, 0),
            datetime(2024, 1, 1, 10, 3, 0),
        )
    }


def test_null_keys_survive_stream_drive(spark):
    """NULL-key rows form their own session group and must not be
    swallowed by the sentinel filter (regression: `key != sentinel`
    is NULL for NULL keys and the filter dropped them)."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable
    from osrs_dashboard_elt_spark.streaming.timer_sessions import (
        sessions_via_stream,
    )

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    rows = [
        (None, datetime(2024, 1, 1, 10, 0)),
        (None, datetime(2024, 1, 1, 10, 10)),
        (7, datetime(2024, 1, 1, 10, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.key, r.session_id): r.n_events
        for r in sessions_via_stream(df, gap_seconds=1800.0).collect()
    }
    assert got == {(None, 1): 2, (7, 1): 1}


def test_sessions_via_stream_matches_batch_sessionize(spark):
    """The stream drive reproduces the batch gap-sessionizer exactly,
    unordered input and all (the suite oracle's contract)."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable
    from osrs_dashboard_elt_spark.operators.sessionize import sessionize
    from osrs_dashboard_elt_spark.streaming.timer_sessions import (
        sessions_via_stream,
    )
    from pyspark.sql import functions as F

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    rows = [
        (u, datetime(2024, 1, 1 + d, 8 + (h % 12), (7 * h) % 60))
        for u in (1, 2, 3)
        for d in (0, 1)
        for h in range(6)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    streamed = {
        (r.key, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in sessions_via_stream(df, gap_seconds=1800.0).collect()
    }
    batch = {
        (r.user_id, r.session_id): (r.n_events, r.session_start, r.session_end)
        for r in sessionize(df, "ts", ["user_id"], gap_seconds=1800.0)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .collect()
    }
    assert streamed == batch
    assert len(streamed) > 3  # multiple sessions per key actually formed


def test_start_time_ids_and_closed_key_state_clears(spark, tmp_path):
    """session_ids='start_time': ids are the session-start epoch
    micros (deterministic, no counter), and — the retention point — a
    CLOSED key leaves ZERO state rows: the state store's 'open' var
    holds only the still-open sessions after the run (the counter mode
    retains an 8-byte stub per key ever seen; this mode is the bounded
    alternative for unbounded key churn)."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    b1 = [
        (1, datetime(2024, 1, 1, 10, 0)),
        (1, datetime(2024, 1, 1, 10, 20)),
        (2, datetime(2024, 1, 1, 11, 0)),
    ]
    b2 = [
        (1, datetime(2024, 1, 1, 14, 0)),   # new session for key 1
        (9, datetime(2024, 1, 2, 12, 0)),   # watermark pusher, stays open
    ]
    got = _drive_two_batches(
        spark, tmp_path, b1, b2, session_ids="start_time"
    )

    def us(dt):
        return int(dt.timestamp() * 1_000_000)

    # ids ARE the start timestamps
    assert got[(1, us(datetime(2024, 1, 1, 10, 0)))] == (
        2,
        datetime(2024, 1, 1, 10, 0),
        datetime(2024, 1, 1, 10, 20),
    )
    assert got[(2, us(datetime(2024, 1, 1, 11, 0)))][0] == 1
    assert got[(1, us(datetime(2024, 1, 1, 14, 0)))][0] == 1
    # the state store retains rows ONLY for open sessions (key 9's
    # trailing session can't close: nothing advanced the watermark
    # past it) — closed keys 1 and 2 left nothing behind
    state = (
        spark.read.format("statestore")
        .option("path", str(tmp_path / "ckpt"))
        .option("stateVarName", "open")
        .load()
    )
    keys = sorted(r["key"]["key"] for r in state.collect())
    assert keys == [9], keys


def test_session_id_continues_after_timer_close_one_key(spark, tmp_path):
    """Default-run representative of the soak test above: key 1's
    first session closes BY TIMER at the end of run 1 (no key-1 event
    follows it there), then run 2 — a restart on the same checkpoint
    and one state partition — brings one new key-1 event, which must
    number as session 2.  Key 9 only advances the watermark."""
    from osrs_dashboard_elt_spark.compat import tws_runtime_executable
    from osrs_dashboard_elt_spark.streaming.timer_sessions import (
        timer_sessionize,
    )

    if not tws_runtime_executable(spark):
        pytest.skip("JVM env lacks the vendored protobuf PYTHONPATH")
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    out = timer_sessionize(
        spark.readStream.schema("key long, ts timestamp").parquet(
            str(src / "d=*")
        ),
        "key", "ts",
    )

    def run(d, rows) -> dict:
        spark.createDataFrame(rows, "key long, ts timestamp").coalesce(
            1
        ).write.parquet(str(src / f"d={d}"))
        got: dict = {}

        def collect(batch, _batch_id) -> None:
            for r in batch.collect():
                got[(r.key, r.session_id)] = r.session_start

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
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        assert q.awaitTermination(180), "stream did not finish"
        return got

    first = run(0, [
        (1, datetime(2024, 1, 1, 10, 0)),
        (9, datetime(2024, 1, 1, 13, 0)),  # watermark past 10:30
    ])
    assert first == {(1, 1): datetime(2024, 1, 1, 10, 0)}
    second = run(1, [
        (1, datetime(2024, 1, 1, 14, 0)),
        (9, datetime(2024, 1, 2, 12, 0)),  # closes key 1's session 2
    ])
    assert second[(1, 2)] == datetime(2024, 1, 1, 14, 0)
    assert (1, 1) not in second
