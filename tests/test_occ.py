"""The writer protocol (optimistic concurrency with a gated fallback):
every table mutation stages its Spark work OUTSIDE the table mutation
gate and takes it only for a short validate-journal-swap-commit
window, so DISJOINT mutations (append vs. compaction of sealed files,
deletes on different files) overlap their data work; an OVERLAPPING
mutation fails commit-time validation and runs exactly once more
holding the gate for the whole attempt.

The rendezvous trick: staging dirs are created through
``tempfile.mkdtemp(prefix='.occ-stage-')`` — intercepting that call
parks each writer at the START of its ungated staging phase until
both have arrived, proving the overlap is real (both mutations are
mid-flight simultaneously), not a lucky interleave.  Attempts are
counted at the retry point, ``maintenance._optimistic_then_gated``."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

import osrs_dashboard_elt_spark.sources.maintenance as maintenance
from osrs_dashboard_elt_spark.sources.change_feed import (
    enable_change_feed,
    latest_change_seq,
    read_change_feed,
    read_table_as_of,
)
from osrs_dashboard_elt_spark.sources.maintenance import (
    ConcurrentMutationError,
    _OccConflict,
    compact_table,
    table_append,
    targeted_delete,
)
from osrs_dashboard_elt_spark.sources.stats_manifest import (
    read_table,
    write_stats_manifest,
)


def _mk_tbl(spark, path, n=400, files=4):
    """Range-partitioned files: contiguous doc_id blocks per file, so
    bloom/minmax planning gives DISJOINT victim files for id sets
    drawn from different blocks."""
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    ).repartitionByRange(files, "doc_id").write.parquet(path)
    write_stats_manifest(
        spark, path, ["doc_id"], bloom_cols=["doc_id"],
        bloom_bits=1 << 15,
    )
    enable_change_feed(path)


def _stage_rendezvous(monkeypatch, parties=2, timeout=120.0):
    """Patch mkdtemp so the first ``parties`` occ-staging entries wait
    for each other before proceeding (later entries — retries — pass
    straight through)."""
    real = maintenance.tempfile.mkdtemp
    lock = threading.Lock()
    state = {"n": 0}
    everyone = threading.Event()

    def synced(*a, **k):
        d = real(*a, **k)
        if str(k.get("prefix", "")).startswith(
            maintenance._OCC_STAGE_PREFIX
        ):
            with lock:
                state["n"] += 1
                if state["n"] >= parties:
                    everyone.set()
            assert everyone.wait(timeout), "rendezvous timed out"
        return d

    monkeypatch.setattr(maintenance.tempfile, "mkdtemp", synced)
    return state


def _count_attempts(monkeypatch):
    """Patch the retry point so every attempt (optimistic and gated)
    records the name of the thread running it."""
    attempts: list[str] = []
    real = maintenance._optimistic_then_gated

    def counting(op, path_, fn):
        def counted():
            attempts.append(threading.current_thread().name)
            return fn()

        return real(op, path_, counted)

    monkeypatch.setattr(maintenance, "_optimistic_then_gated", counting)
    return attempts


def _pause_first_stage(monkeypatch):
    """Park the first mutation that creates a staging dir until the
    returned release event is set; the staged event fires when it
    parks."""
    staged_ev = threading.Event()
    release_ev = threading.Event()
    real_mkdtemp = maintenance.tempfile.mkdtemp

    def pausing(*a, **k):
        d = real_mkdtemp(*a, **k)
        if str(k.get("prefix", "")).startswith(
            maintenance._OCC_STAGE_PREFIX
        ) and not staged_ev.is_set():
            staged_ev.set()
            assert release_ev.wait(120)
        return d

    monkeypatch.setattr(maintenance.tempfile, "mkdtemp", pausing)
    return staged_ev, release_ev


def _run_threads(*fns):
    out: dict[int, object] = {}
    errs: dict[int, BaseException] = {}

    def wrap(i, fn):
        try:
            out[i] = fn()
        except BaseException as e:  # surfaced by the caller
            errs[i] = e

    ts = [
        threading.Thread(target=wrap, args=(i, fn))
        for i, fn in enumerate(fns)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
    assert not errs, f"concurrent mutation raised: {errs}"
    return out


def test_occ_append_and_compact_overlap_and_both_commit(
    spark, tmp_path, monkeypatch
):
    """An append and a compaction of SEALED files run their data work
    simultaneously (rendezvoused mid-staging) and both commit: rows
    exact, the append's insert delta exact, seqs contiguous, and time
    travel across the pair consistent."""
    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=400, files=4)
    _stage_rendezvous(monkeypatch, parties=2)
    new_rows = spark.range(1000, 1020).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    res = _run_threads(
        lambda: table_append(spark, path, new_rows),
        lambda: compact_table(spark, path, target_bytes=1 << 20),
    )
    assert res[0]["rows_inserted"] == 20
    assert res[1]["files_compacted"] >= 2
    got = {r.doc_id for r in read_table(spark, path).collect()}
    assert got == set(range(400)) | set(range(1000, 1020))
    # the compaction logs NO delta; the append logged exactly one
    assert latest_change_seq(path) == 1
    feed = read_change_feed(spark, path)
    ins = feed.filter("_change_type = 'insert'")
    assert ins.count() == 20
    assert read_table_as_of(spark, path, 0).count() == 400
    assert read_table_as_of(spark, path, 1).count() == 420


def test_occ_disjoint_deletes_both_commit_exact_deltas(
    spark, tmp_path, monkeypatch
):
    """Two deletes whose victim files are DISJOINT (ids from different
    range blocks) overlap their rewrites and both commit: contiguous
    seqs, each delta exactly its own rows, final state exact."""
    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=400, files=4)
    _stage_rendezvous(monkeypatch, parties=2)
    a_ids, b_ids = [5, 17, 40], [350, 371]
    res = _run_threads(
        lambda: targeted_delete(spark, path, "doc_id", a_ids),
        lambda: targeted_delete(spark, path, "doc_id", b_ids),
    )
    assert res[0]["rows_deleted"] == 3
    assert res[1]["rows_deleted"] == 2
    got = {r.doc_id for r in read_table(spark, path).collect()}
    assert got == set(range(400)) - set(a_ids) - set(b_ids)
    assert latest_change_seq(path) == 2
    feed = read_change_feed(spark, path)
    dels = feed.filter("_change_type = 'delete'")
    assert sorted(r["doc_id"] for r in dels.collect()) == sorted(
        a_ids + b_ids
    )
    # each seq's delta is exactly ONE delete's rows (no mixing)
    per_seq = (
        dels.groupBy("_commit_seq")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .collect()
    )
    got_sets = sorted([list(r["ids"]) for r in per_seq])
    assert got_sets == sorted([sorted(a_ids), sorted(b_ids)])
    # time travel to before both is exact
    assert read_table_as_of(spark, path, 0).count() == 400


def test_occ_overlapping_delete_conflicts_then_retries_exact(
    spark, tmp_path, monkeypatch
):
    """A delete whose victims get rewritten UNDER it (another delete
    commits while it stages) fails validation and runs exactly once
    more, holding the gate — that attempt replans against the new
    state, and the final state is exact with no double delta."""
    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=400, files=4)
    staged_ev, release_ev = _pause_first_stage(monkeypatch)
    # the conflict may surface at commit-time validation OR as a
    # mid-stage vanished-file scan guard — both are the same race
    attempts = _count_attempts(monkeypatch)
    ids = [5, 17]
    out = {}
    t = threading.Thread(
        target=lambda: out.update(
            r=targeted_delete(spark, path, "doc_id", ids)
        ),
        name="paused-delete",
    )
    t.start()
    assert staged_ev.wait(120)
    # another delete beats the paused stager to the same file
    res_other = targeted_delete(spark, path, "doc_id", [7])
    assert res_other["rows_deleted"] == 1
    release_ev.set()
    t.join(timeout=600)
    assert "r" in out, "paused delete never finished"
    assert attempts.count("paused-delete") == 2, attempts
    assert out["r"]["rows_deleted"] == 2
    got = {r.doc_id for r in read_table(spark, path).collect()}
    assert got == set(range(400)) - {5, 7, 17}
    # the feed holds each delete exactly once
    feed = read_change_feed(spark, path)
    dels = feed.filter("_change_type = 'delete'")
    assert sorted(r["doc_id"] for r in dels.collect()) == [5, 7, 17]


def test_occ_exhausted_retries_raise_loudly(
    spark, tmp_path, monkeypatch
):
    """A STANDING conflict (validation fails even under the gate —
    what a writer that skips the gate produces) gets exactly one
    optimistic attempt plus one gated attempt, then
    ConcurrentMutationError naming the path — never a silent partial
    commit; no feed delta and no staging dir are left behind."""
    from osrs_dashboard_elt_spark.sources.change_feed import (
        _changes_root,
    )

    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=50, files=1)

    def always_conflict(*a, **k):
        raise _OccConflict("synthetic standing conflict")

    monkeypatch.setattr(maintenance, "_occ_validate", always_conflict)
    attempts = _count_attempts(monkeypatch)
    rows = spark.range(5000, 5003).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("x").alias("text"),
    )
    with pytest.raises(ConcurrentMutationError, match="table_append") as ei:
        table_append(spark, path, rows)
    assert path in str(ei.value)
    assert len(attempts) == 2, attempts
    assert latest_change_seq(path) == 0
    root = _changes_root(path)
    assert not [
        d for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d))
    ], "aborted attempts left a staged delta"
    assert not [
        d for d in os.listdir(path)
        if d.startswith(maintenance._OCC_STAGE_PREFIX)
    ], "aborted attempts left a staging dir"
    assert read_table(spark, path).count() == 50
    # the next append runs clean
    monkeypatch.undo()
    table_append(spark, path, rows)
    assert read_table(spark, path).count() == 53


def test_occ_delete_plans_through_a_parked_commit(
    spark, tmp_path, monkeypatch
):
    """Writer A is parked between its file swap and its manifest
    refresh (inside its commit window) while writer B plans a DISJOINT
    delete: B's planner lists A's half-committed files and the
    manifest freshness check refuses.  Outside the gate that refusal
    is a conflict — B runs again under the gate after A commits, so
    both deletes land exactly and the feed holds each once."""
    from osrs_dashboard_elt_spark.sources import stats_manifest

    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=400, files=4)
    a_parked = threading.Event()
    b_planned = threading.Event()
    b_planning = threading.Event()
    real_refresh = stats_manifest.refresh_stats_manifest
    real_ffv = stats_manifest.files_for_values

    def parking_refresh(*a, **k):
        if threading.current_thread().name == "writer-a":
            a_parked.set()
            assert b_planned.wait(120), "B never planned"
        return real_refresh(*a, **k)

    def gated_ffv(*a, **k):
        if (
            threading.current_thread().name == "writer-b"
            and not b_planned.is_set()
        ):
            b_planning.set()
            assert a_parked.wait(120), "A never parked"
            try:
                return real_ffv(*a, **k)
            finally:
                b_planned.set()
        return real_ffv(*a, **k)

    monkeypatch.setattr(
        stats_manifest, "refresh_stats_manifest", parking_refresh
    )
    monkeypatch.setattr(stats_manifest, "files_for_values", gated_ffv)
    a_ids, b_ids = [5, 17], [350]
    out: dict = {}
    errs: dict = {}

    def run(name, ids):
        try:
            out[name] = targeted_delete(spark, path, "doc_id", ids)
        except BaseException as e:  # surfaced below
            errs[name] = e
            b_planned.set()

    tb = threading.Thread(
        target=run, args=("writer-b", b_ids), name="writer-b"
    )
    tb.start()
    # B is inside its planner before A writes its journal
    assert b_planning.wait(120)
    ta = threading.Thread(
        target=run, args=("writer-a", a_ids), name="writer-a"
    )
    ta.start()
    ta.join(timeout=600)
    tb.join(timeout=600)
    assert not errs, errs
    assert out["writer-a"]["rows_deleted"] == 2
    assert out["writer-b"]["rows_deleted"] == 1
    got = {r.doc_id for r in read_table(spark, path).collect()}
    assert got == set(range(400)) - set(a_ids) - set(b_ids)
    dels = read_change_feed(spark, path).filter(
        "_change_type = 'delete'"
    )
    assert sorted(r["doc_id"] for r in dels.collect()) == sorted(
        a_ids + b_ids
    )


def test_occ_delete_conflicts_on_concurrent_matching_append(
    spark, tmp_path, monkeypatch
):
    """Round-11 self-review (high): a delete's victims check cannot
    see files ADDED after planning — a concurrent append of rows
    MATCHING the delete's values must conflict the commit (the gated
    attempt's plan then covers them), or a takedown reports success
    while matching rows stay live (Delta raises
    ConcurrentAppendException for the same overlap)."""
    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=100, files=2)
    staged_ev, release_ev = _pause_first_stage(monkeypatch)
    attempts = _count_attempts(monkeypatch)
    out = {}
    t = threading.Thread(
        target=lambda: out.update(
            r=targeted_delete(spark, path, "doc_id", [7])
        ),
        name="paused-delete",
    )
    t.start()
    assert staged_ev.wait(120)
    # while the delete is staged (victims validated-to-be), append a
    # BRAND-NEW row with the same doc_id it is deleting
    table_append(
        spark, path,
        spark.range(1).select(
            F.lit(7).cast("long").alias("doc_id"),
            F.lit(0).cast("long").alias("grp"),
            F.lit("reborn").alias("text"),
        ),
    )
    release_ev.set()
    t.join(timeout=600)
    assert "r" in out, "paused delete never finished"
    assert attempts.count("paused-delete") == 2, attempts
    # the retry covered BOTH copies: no doc_id=7 row survives
    assert read_table(spark, path).filter("doc_id = 7").isEmpty()
    feed = read_change_feed(spark, path)
    dels = feed.filter(
        "_change_type = 'delete' AND doc_id = 7"
    )
    assert dels.count() == 2  # the original row AND the reborn one


def test_occ_stage_ttl_judges_whole_tree(spark, tmp_path):
    """Round-11 self-review: Spark lands staging output in SUBDIRS
    that never bump the top dir's mtime — the TTL sweep must age by
    the NEWEST entry in the tree, or a live long-running stager gets
    rmtree'd by a concurrent writer's reconcile."""
    import time as _t

    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=30, files=1)
    old = _t.time() - maintenance._OCC_STAGE_TTL - 3600
    # dir A: old top dir, FRESH nested task file (a live stager)
    live = os.path.join(path, ".occ-stage-live")
    os.makedirs(os.path.join(live, "__src=0"))
    with open(os.path.join(live, "__src=0", "part-0.parquet"), "w"):
        pass
    os.utime(live, (old, old))
    # dir B: everything old (a crashed stager)
    deadd = os.path.join(path, ".occ-stage-dead")
    os.makedirs(os.path.join(deadd, "__src=0"))
    f = os.path.join(deadd, "__src=0", "part-0.parquet")
    with open(f, "w"):
        pass
    for p in (f, os.path.join(deadd, "__src=0"), deadd):
        os.utime(p, (old, old))
    # any mutation's reconcile runs the sweep
    table_append(
        spark, path,
        spark.range(1).select(
            F.lit(9000).cast("long").alias("doc_id"),
            F.lit(0).cast("long").alias("grp"),
            F.lit("x").alias("text"),
        ),
    )
    assert os.path.isdir(live), "LIVE stager swept by TTL"
    assert not os.path.isdir(deadd), "crashed stager not swept"


def test_asof_arithmetic_stable_under_concurrent_occ_appends(
    spark, tmp_path, monkeypatch
):
    """Round-11 self-review (high): the as-of window-completeness
    guard and the delta scan share ONE committed-seq listing — a
    mutation committing between two separate listings used to fire
    the mid-read poison on a healthy read.  Read arithmetic as-of at
    seq 0 at fixed points of each of 4 appends — after its file swap,
    just before its change-feed commit, just after it, and once the
    append returns: every read gives the exact seq-0 count or a
    designed refusal, never the lost-deltas error; the read after each
    append is exact.  Just before the feed commit the default (snapshot
    first) mode is read too: the new file is listed while its delta is
    not, which both paths must refuse rather than count."""
    from osrs_dashboard_elt_spark.sources import change_feed

    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=120, files=2)
    n0 = 120
    seen: list = []

    def probe(point, mode="arithmetic"):
        try:
            n = change_feed.read_table_as_of(
                spark, path, 0, mode=mode
            ).count()
        except Exception as e:
            msg = str(e)
            assert "lost deltas MID-READ" not in msg, (point, msg[:300])
            assert "stale" in msg or "mid-commit" in msg, (
                point, mode, msg[:300],
            )
            seen.append((point, "refused"))
            return
        assert n == n0, (point, mode, n)
        seen.append((point, n))

    real_swap = maintenance._journal_and_swap
    real_commit = change_feed.commit_changes

    def swap_then_read(*a, **k):
        out = real_swap(*a, **k)
        probe("after_swap")
        return out

    def commit_between_reads(*a, **k):
        probe("before_commit")
        probe("before_commit", mode="auto")
        out = real_commit(*a, **k)
        probe("after_commit")
        return out

    monkeypatch.setattr(maintenance, "_journal_and_swap", swap_then_read)
    monkeypatch.setattr(change_feed, "commit_changes", commit_between_reads)
    for i in range(4):
        table_append(
            spark, path,
            spark.range(3).select(
                (F.lit(7000 + 10 * i) + F.col("id")).alias("doc_id"),
                F.lit(0).cast("long").alias("grp"),
                F.lit("w").alias("text"),
            ),
        )
        probe("after_append")
    points = [p for p, _ in seen]
    assert points == [
        "after_swap", "before_commit", "before_commit", "after_commit",
        "after_append",
    ] * 4, points
    assert all(v == n0 for p, v in seen if p == "after_append"), seen


def test_occ_upsert_overlaps_append_and_conflicts_on_matching_keys(
    spark, tmp_path, monkeypatch
):
    """MERGE rides the same protocol: an upsert and an append of
    UNRELATED rows overlap and both commit; a concurrent append whose
    rows match the merge's keys forces exactly one gated re-run so the
    merge's semantics hold over the final state (Delta's
    ConcurrentAppendException shape)."""
    from osrs_dashboard_elt_spark.sources.maintenance import (
        targeted_upsert,
    )

    path = str(tmp_path / "tbl")
    _mk_tbl(spark, path, n=200, files=4)
    _stage_rendezvous(monkeypatch, parties=2)
    ups = spark.createDataFrame(
        [(5, 1, "updated"), (9000, 2, "inserted")],
        "doc_id long, grp long, text string",
    )
    unrelated = spark.range(7000, 7010).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("w").alias("text"),
    )
    res = _run_threads(
        lambda: targeted_upsert(spark, path, "doc_id", ups),
        lambda: table_append(spark, path, unrelated),
    )
    assert res[0]["rows_updated"] == 1
    assert res[0]["rows_inserted"] == 1
    assert res[1]["rows_inserted"] == 10
    got = read_table(spark, path)
    assert got.count() == 200 + 1 + 10
    assert got.filter("doc_id = 5").collect()[0]["text"] == "updated"
    assert latest_change_seq(path) == 2
    # ---- overlap case: append a row with a MERGE key mid-staging
    staged_ev, release_ev = _pause_first_stage(monkeypatch)
    attempts = _count_attempts(monkeypatch)
    ups2 = spark.createDataFrame(
        [(17, 3, "v2")], "doc_id long, grp long, text string"
    )
    out = {}
    t = threading.Thread(
        target=lambda: out.update(
            r=targeted_upsert(spark, path, "doc_id", ups2)
        ),
        name="paused-upsert",
    )
    t.start()
    assert staged_ev.wait(120)
    table_append(  # a SECOND row with the merge's key appears
        spark, path,
        spark.createDataFrame(
            [(17, 0, "sneaky")], "doc_id long, grp long, text string"
        ),
    )
    release_ev.set()
    t.join(timeout=600)
    assert "r" in out
    assert attempts.count("paused-upsert") == 2, attempts
    # the retry's merge covered BOTH copies of key 17
    rows17 = read_table(spark, path).filter("doc_id = 17").collect()
    assert {r["text"] for r in rows17} == {"v2"}
    assert out["r"]["rows_updated"] == 2


def test_occ_feedless_table_never_misses_silent_append(
    spark, tmp_path, monkeypatch
):
    """Round-11 self-review: on a FEEDLESS table the commit window
    cannot scan deltas for concurrently-inserted matching rows, and a
    refresh_stats=False append advances no manifest epoch — the full
    file-LISTING fingerprint is the detector.  The delete must
    conflict; its gated attempt then either covers the new row (fresh
    manifest) or refuses loudly on the stale one — never a
    'successful' takedown leaving matching rows live."""
    from osrs_dashboard_elt_spark.sources.stats_manifest import (
        write_stats_manifest,
    )

    def mk_feedless(p):
        spark.range(100).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).alias("grp"),
            F.concat(F.lit("t"), F.col("id")).alias("text"),
        ).repartitionByRange(2, "doc_id").write.parquet(p)
        write_stats_manifest(
            spark, p, ["doc_id"], bloom_cols=["doc_id"],
            bloom_bits=1 << 14,
        )

    def run_case(p, refresh_stats):
        # a second call chains onto the first's (spent) pause
        staged_ev, release_ev = _pause_first_stage(monkeypatch)
        out: dict = {}

        def worker():
            try:
                out["r"] = targeted_delete(spark, p, "doc_id", [7])
            except Exception as e:
                out["err"] = e

        t = threading.Thread(target=worker)
        t.start()
        assert staged_ev.wait(120)
        table_append(
            spark, p,
            spark.createDataFrame(
                [(7, 0, "sneaky")],
                "doc_id long, grp long, text string",
            ),
            refresh_stats=refresh_stats,
        )
        release_ev.set()
        t.join(timeout=600)
        return out

    # fresh-manifest append: the conflict retry replans over the new
    # file and removes BOTH copies
    p1 = str(tmp_path / "t1")
    mk_feedless(p1)
    out = run_case(p1, refresh_stats=True)
    assert "err" not in out, out.get("err")
    assert out["r"]["rows_deleted"] == 2
    assert read_table(spark, p1).filter("doc_id = 7").isEmpty()
    # stale-manifest append: the retry's planning refuses LOUDLY
    # (files_for_values freshness) instead of reporting success with
    # the sneaky row alive
    p2 = str(tmp_path / "t2")
    mk_feedless(p2)
    out = run_case(p2, refresh_stats=False)
    assert "err" in out
    assert "stale" in str(out["err"])
