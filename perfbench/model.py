"""``model_state``: suite queries from ``__spark_entry__.queries()`` over
generated ``embeddings`` and ``events``.

- ``q_pq_ann_topk``: product-quantizer training (four subspace k-means
  chains, almost all of it driver-side expression building and
  analysis), corpus encoding and the ADC top-k.
- ``q_stream_topk_entries``: a one-shot transformWithState drive, with
  its query planning, state-store commits and state-server round trips.

Every rep of a query starts from ``suite.reset_memos()`` and runs
``collect()`` of its whole physical plan.  The first rep belongs to
set-up: it pays the JVM's first jobs and the code generation of the
query's plans.  The timed reps follow; each must issue at least as many
Spark jobs as the first, or a memo that ``reset_memos()`` misses let it
skip work, and their rows are compared with the query's ``oracle_sql()``
result in DuckDB after the last one."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from .common import Timer, jvm_pid, load_script, peak_rss_mb
from .gen import model_inputs

N_EVENTS = 1000
N_EMBEDDINGS = 500
QUERIES = ("q_pq_ann_topk", "q_stream_topk_entries")


def setup(spark, ws, seed: int) -> dict:
    sf_dir = ws.dir("sf")
    model_inputs(seed, N_EVENTS, N_EMBEDDINGS, sf_dir)
    # the ANN oracles read their query vector from this directory
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    import __spark_entry__
    from osrs_dashboard_elt_spark import suite

    # resolve the input relations once, as registering tables would:
    # suite._t keeps the lazy relation across reset_memos() by design,
    # so only the first rep would otherwise pay its listing job
    for table in ("events", "embeddings"):
        suite._t(spark, sf_dir, table)
    inp = {"sf_dir": sf_dir, "entry": __spark_entry__, "first_jobs": {}, "problems": []}
    with Timer() as t:
        for q in QUERIES:
            try:
                _, _, inp["first_jobs"][q] = _rep(spark, inp, q, None)
            except Exception as e:
                inp["problems"].append(f"{q} (first rep): {type(e).__name__}: {e}")
    inp["warm_up_s"] = t.s
    return inp


def _job_count(spark) -> int:
    """Jobs the status store holds so far (all are retained)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore().jobsList(None).size()


def _rep(spark, inp: dict, q: str, span):
    """One rep of query ``q`` from cleared memos: its rows, build and
    collect seconds, and the number of Spark jobs it issued."""
    from osrs_dashboard_elt_spark import suite

    span = span or (lambda name, layer: nullcontext())
    with span("suite.reset_memos", "suite"):
        suite.reset_memos()
    jobs0 = _job_count(spark)
    with span(f"q.{q}", "query") as qspan:
        with Timer() as tb, span(f"suite.{q}", "suite"):
            df = inp["entry"].queries()[q](spark, inp["sf_dir"])
        with Timer() as te:
            rows = df.collect()
    return (df.columns, [tuple(r) for r in rows], qspan), (tb.s, te.s), _job_count(spark) - jobs0


def instrument(tracer) -> None:
    import osrs_dashboard_elt_spark.operators.kmeans as kmeans
    import osrs_dashboard_elt_spark.operators.pq as pq
    import osrs_dashboard_elt_spark.streaming.drive as drive
    import osrs_dashboard_elt_spark.streaming.timer_sessions as timer_sessions
    import osrs_dashboard_elt_spark.streaming.topk_state as topk_state

    tracer.wrap(kmeans, "kmeans_fit", "operators")
    for name in ("pq_train", "pq_encode", "pq_adc_topk", "write_pq_index", "ivfpq_topk_at_rest"):
        tracer.wrap(pq, name, "operators")
    tracer.wrap(timer_sessions, "sessions_via_stream", "streaming")
    tracer.wrap(topk_state, "topk_via_stream", "streaming")
    tracer.wrap(drive, "drive_available_now", "streaming")


def measure(spark, inp: dict, tracer, timed_pass, seconds: float) -> dict:
    """Timed reps of both queries for as long as another rep still fits
    in ``seconds`` (at least one); ``pass_s`` is their median.  Every
    rep is checked after the last one."""
    out = {
        "attempted": len(QUERIES), "failed": len(inp["problems"]),
        "problems": list(inp["problems"]), "per_layer": {}, "query_spans": {},
    }
    span = tracer.span if tracer else None
    times: list[float] = []
    reps: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() + statistics.median(times) <= t_end:
        rep = {}
        # _job_count waits for Spark's listener bus: a few ms per query,
        # inside the pass in both modes
        with timed_pass(), Timer() as tp:
            for q in QUERIES:
                out["attempted"] += 1
                try:
                    rep[q] = _rep(spark, inp, q, span)
                except Exception as e:
                    out["failed"] += 1
                    out["problems"].append(f"{q}: {type(e).__name__}: {e}")
        times.append(tp.s)
        reps.append(rep)
        if len(rep) < len(QUERIES):
            break
    out["peak_rss_mb"] = peak_rss_mb(jvm_pid(spark))  # before the checks' own memory

    for rep in reps:
        for q, (_, _, n) in rep.items():
            first = inp["first_jobs"].get(q)
            if first is not None and n < first:
                out["failed"] += 1
                out["problems"].append(f"{q}: timed rep issued {n} Spark jobs, first rep {first}")
        out["failed"] += _oracle_check(
            inp, {q: (cols, rows) for q, ((cols, rows, _), _, _) in rep.items()}, out["problems"]
        )
    for q in QUERIES:
        timings = [rep[q][1] for rep in reps if q in rep]
        if timings:
            out["per_layer"][f"q.{q}.build_s"] = (statistics.median(b for b, _ in timings), "s")
            out["per_layer"][f"q.{q}.exec_s"] = (statistics.median(e for _, e in timings), "s")
        for rep in reps:
            if q in rep:
                out["query_spans"][q] = rep[q][0][2]  # the last rep's
    if out["failed"] == 0:
        out["pass_s"] = statistics.median(times)
    return out


def traced_metrics(tracer, res: dict) -> dict:
    """Per-query figures that need the job records read back."""
    out = {}
    for q, span in res["query_spans"].items():
        m = tracer.span_metrics(span)
        out[f"q.{q}.jobs"] = (m["jobs"], "count")
        out[f"q.{q}.driver_s"] = (m["driver_s"], "s")
    return out


def _oracle_check(inp: dict, results: dict, problems: list) -> int:
    import duckdb

    norm_rows = load_script("verify_local").norm_rows
    oracles = inp["entry"].oracle_sql()
    con = duckdb.connect()
    for table in ("events", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{inp['sf_dir']}/{table}.parquet'")
    failed = 0
    for q, (cols, rows) in results.items():
        cur = con.execute(oracles[q])
        d_cols = [d[0] for d in cur.description]
        if norm_rows(cols, rows) != norm_rows(d_cols, cur.fetchall()):
            failed += 1
            problems.append(f"{q}: result differs from its oracle_sql() in DuckDB")
    con.close()
    return failed
