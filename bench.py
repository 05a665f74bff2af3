"""Benchmark harness: runs the headline query suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints JSON lines of the shape

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

twice: first the FULL per-query record (also written to
``BENCH_QUERIES.json``), then — as the very last line — a compact
record (headline metric + 15 slowest queries) short enough that a
bounded tail capture of stdout always contains one complete,
parseable JSON line.

Each query is executed through the same code path the correctness gate
uses (``__spark_entry__.queries()``) and timed end-to-end including the
action (count): per query, one untimed warm run at the bench SF, then
``$SPARK_GRAFT_BENCH_REPS`` timed runs (default and minimum 2, plus one
more when two disagree by over ``DISAGREE``x) with the minimum recorded
(steady-state protocol — see the note in ``main``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Host-noise calibration (round 13): this VM exhibits multi-minute
# interference bursts (identical code measured 0.40 s and 16.8 s
# minutes apart — OPTIMIZATION_r12.md "Host noise").  A fixed tiny
# reference job timed immediately before and after the suite gives
# every bench artifact a per-run noise normalizer: `host_factor` =
# min(ref_before, ref_after) / REF_NOMINAL_SEC, where the nominal is
# the min-of-many reference time measured on this host while idle
# (committed below; re-calibrate if the hardware changes).  A
# comparison between two runs should divide each run's seconds by its
# own host_factor before flagging regressions.  The job is pinned at
# 8 partitions so it measures per-core interference identically on
# the driver's 32-core and 8-core passes.
REF_NOMINAL_SEC = 0.14  # idle-host calibration, this round's protocol
DISAGREE = 1.5  # max/min sample ratio that triggers one more timed run


def _host_ref_sec(spark) -> float:
    """Reference-job seconds under the calibration protocol: 3 warm
    runs (JIT/codegen) then min-of-5 timed runs of a 1e7-row local
    range aggregate (integer multiply/mod chain) — no I/O, no
    shuffle, so its time moves only with CPU/scheduler interference."""
    import time as _time

    def one() -> float:
        t0 = _time.time()
        spark.range(0, 10_000_000, 1, 8).selectExpr(
            "count(if(((id * 2654435761) % 1000003) % 7 = 0, 1, null)) as c"
        ).collect()
        return _time.time() - t0

    for _ in range(3):
        one()
    return min(one() for _ in range(5))

# Headline queries: the FULL oracle-checked set — BENCH and
# CORRECTNESS cover the same names, so every correctness row has a
# matching timing.
BENCH_QUERIES = list(__spark_entry__.queries())


def main() -> None:
    from osrs_dashboard_elt_spark.session import get_spark
    from osrs_dashboard_elt_spark.suite import reset_memos

    spark = get_spark(
        app_name="osrs-elt-bench",
        master=f"local[{CPUS}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(CPUS), 8))},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = __spark_entry__.queries()

    # Steady-state protocol (JMH-style): each query is warmed UNTIMED
    # at the BENCH SF immediately before its timed run.  The warm run
    # compiles the query's whole-stage-codegen units, spins the
    # Arrow/python-datasource workers and the streaming state-store
    # engine, and primes the parquet footers at the scale being
    # measured (warming at a smaller SF left ±1 s of
    # first-run-at-scale noise in the recorded numbers and produced
    # phantom round-over-round regressions).  Set
    # SPARK_GRAFT_BENCH_REPS>2 for a min-of-N steady-state estimate
    # when wall-clock budget allows.  Interleaving (rather than one
    # warm pass over the whole suite) keeps each query's compiled
    # classes resident in the codegen cache.
    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # Two timed runs ALWAYS, a third when they disagree: the same code
    # measured 0.55 s vs 1.52 s on one sub-second query across two
    # driver runs (scheduler/JIT noise), which read as a phantom 2.8x
    # regression.  min-of-2 kills most of that; when even the two
    # samples disagree by more than DISAGREE, one more sample resolves
    # which of them was the outlier.  Reported value = min of all
    # samples (steady-state estimate — GC pauses and compilation only
    # ever ADD time).
    qs["q_summary_stats"](spark, SF_DIR).count()

    # Subset filter for controlled experiments (drift attribution,
    # A/B of session-growth effects): comma-separated names, or a
    # file path containing one name per line.  Unset = full suite.
    flt = os.environ.get("SPARK_GRAFT_BENCH_FILTER")
    only: set[str] | None = None
    if flt:
        if os.path.isfile(flt):
            with open(flt) as f:
                only = {ln.strip() for ln in f if ln.strip()}
        else:
            only = {s.strip() for s in flt.split(",") if s.strip()}

    ref_before = round(_host_ref_sec(spark), 3)
    timings: dict[str, float] = {}
    t_all = 0.0
    for name in BENCH_QUERIES:
        if only is not None and name not in only:
            continue
        try:
            qs[name](spark, SF_DIR).count()  # warm, untimed
        except Exception:
            pass
        samples: list[float] = []
        for _ in range(reps):
            # Clear the result/artifact memos (trained models, built
            # filters/indexes/layouts) so EVERY timed rep pays its
            # query's full build — round 12's verdict flagged the
            # warm-run-populates-memo pattern as a timing blind spot
            # (training/index/bloom builds escaped the timed region).
            reset_memos()
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            samples.append(time.time() - t0)
        if max(samples) > DISAGREE * min(samples):
            reset_memos()
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            samples.append(time.time() - t0)
        timings[name] = round(min(samples), 3)
        t_all += timings[name]
        # JMH-style forced GC BETWEEN benchmarks (untimed): Spark's
        # ContextCleaner releases localCheckpoint/broadcast/shuffle
        # blocks only when the driver GC collects their weak refs, so
        # a 141-query session otherwise accumulates dead blocks whose
        # memory pressure is charged to LATER queries (measured: the
        # unchanged 109-query subset ran ~10% slower inside the full
        # suite than alone).
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    total = round(t_all, 3)
    ref_after = round(_host_ref_sec(spark), 3)
    host = {
        "host_ref_sec_before": ref_before,
        "host_ref_sec_after": ref_after,
        # min of the two probes: the least-interfered estimate of this
        # run's CPU tax.  ~1.0 on an idle host; divide this run's
        # seconds by it before comparing against another run.
        "host_factor": round(
            max(min(ref_before, ref_after), 1e-3) / REF_NOMINAL_SEC, 3
        ),
    }
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf else None
    full_line, compact_line = format_output(
        timings, total, sf_val, filtered=only is not None, host=host
    )
    # Full per-query record: archived to a file AND printed on an
    # early line (human/archive view).
    here = os.path.dirname(os.path.abspath(__file__))
    if only is None:
        # a FILTERED run must not overwrite the committed full-suite
        # artifact — it would silently corrupt round-over-round drift
        # tracking (the record carries no per-query coverage marker)
        try:
            with open(os.path.join(here, "BENCH_QUERIES.json"), "w") as f:
                f.write(full_line)
        except OSError:
            pass
    print(full_line, flush=True)
    # The driver captures a bounded TAIL of stdout; a single ~3.5 KB
    # line for 100+ queries can have its head cut, leaving nothing
    # parseable (round-3's BENCH artifact).  So the LAST line is a
    # compact record guaranteed to fit any reasonable tail buffer:
    # the headline metric plus only the slowest queries, with a
    # pointer to the full per-query file.
    print(compact_line, flush=True)


def format_output(
    timings: dict[str, float],
    total: float,
    sf_val: float | None,
    filtered: bool = False,
    host: dict | None = None,
) -> tuple[str, str]:
    """(full_json_line, compact_json_line) — the compact line carries
    the headline metric + the 15 slowest queries and stays well under
    2 KB no matter how large the suite grows.  ``host`` carries the
    noise-calibration fields (host_ref_sec_before/after, host_factor)
    emitted on BOTH lines."""
    host = host or {}
    full = json.dumps(
        {
            "metric": "suite_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
            **host,
            **({"filter": True} if filtered else {}),
        }
    )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:15]
    )
    compact = json.dumps(
        {
            "metric": "suite_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": slowest,
            "sf": sf_val,
            "n_queries": len(timings),
            "sec_per_query": round(total / max(len(timings), 1), 3),
            "queries_file": "BENCH_QUERIES.json",
            **host,
            **({"filter": True} if filtered else {}),
        },
        separators=(",", ":"),
    )
    return full, compact


if __name__ == "__main__":
    main()
