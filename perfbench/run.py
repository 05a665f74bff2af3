"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 30 --trace 0

Runs one workload in a fresh process and prints, as the last line of
stdout, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager, nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import etl, model  # noqa: E402
from perfbench.common import (  # noqa: E402
    ROOT, Timer, Workspace, check_checkout, emit, isolate_stdout, jvm_heap_peak_mb, nproc,
    start_session, stop_session,
)
from perfbench.trace import Tracer, common_metrics, stream_listener, stream_metrics  # noqa: E402

WORKLOADS = {"etl_batch": etl, "model_state": model}


def _declared(section: str) -> dict[str, str]:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[section]}


def _fill(declared: dict[str, str], measured: dict[str, tuple[float, str]]) -> dict:
    """Exactly the declared metrics; a declared metric the workload does
    not exercise reads 0."""
    extra = set(measured) - set(declared)
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    return {name: measured.get(name, (0.0, unit)) for name, unit in declared.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()
    check_checkout()
    section = "per_layer" if args.trace else "end_to_end"
    declared = _declared(section)
    wl = WORKLOADS[args.workload]
    result_out = isolate_stdout()
    ws = Workspace(args.workload)
    spark = None
    try:
        with Timer() as setup:
            t_session = time.perf_counter()
            spark = start_session(ws, nproc())
            t_session_end = time.perf_counter()
            inputs = wl.setup(spark, ws, args.seed)
        tracer = listener = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.add_span("session.get_spark", "session", t_session, t_session_end)
            wl.instrument(tracer)
            if wl is model:
                listener = stream_listener(spark)
        pass_span: dict = {}

        @contextmanager
        def timed_pass():
            with tracer.span("pass", "pass") if tracer else nullcontext() as rec:
                pass_span["rec"] = rec
                yield

        res = wl.measure(spark, inputs, tracer, timed_pass, args.seconds)
        heap = jvm_heap_peak_mb(spark)
        if tracer:
            tracer.restore()
            tracer.read_status_store()
    finally:
        if spark is not None:
            stop_session(spark)
        ws.remove()

    for p in res["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)
    measured: dict[str, tuple[float, str]] = {}
    if args.trace:
        measured.update(common_metrics(tracer, pass_span["rec"]))
        measured.update(res["per_layer"])
        measured.update(wl.traced_metrics(tracer, res))
        if listener:
            measured.update(stream_metrics(listener))
        measured["error_rate"] = (res["failed"] / max(1, res["attempted"]), "ratio")
        measured["warm_up_s"] = (inputs["warm_up_s"], "s")
        measured["jvm.heap_peak_mb"] = (heap, "MB")
        traces = ROOT / ".perfbench_traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(
            str(traces / f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "cores": nproc(),
             "metrics": {k: v[0] for k, v in measured.items()}},
        )
    else:
        measured["setup_s"] = (setup.s, "s")
        measured["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
        if "pass_s" in res:
            measured["pass_s"] = (res["pass_s"], "s")
        else:
            declared = {k: u for k, u in declared.items() if k in measured}
    shown = {k: round(v[0], 4) for k, v in measured.items()}
    shown.update(
        pass_s=res.get("pass_s"), warm_up_s=inputs["warm_up_s"], check_s=res.get("check_s"),
        session_s=t_session_end - t_session,
        timed_s=res.get("timed_s"), run_s=time.perf_counter() - t_start,
        **{k: round(v[0], 3) for k, v in res["per_layer"].items()},
    )
    print(f"perfbench: {json.dumps(shown)}", file=sys.stderr)
    emit(result_out, res["failed"] == 0, res["attempted"], res["failed"], _fill(declared, measured))
    return 0


if __name__ == "__main__":
    sys.exit(main())
