"""Dump ``explain("formatted")`` for EVERY declared query to
``plans/<round>/<query>_<tag>.txt`` (planning only — no execution).

Usage: python scripts/dump_all_plans.py <round> <tag> [only,names]

Queries whose builder executes driver-side work before returning the
final frame (mutations, streaming drives, iterative fits) still run
that work — planning the returned frame is cheap but getting it may
not be; they are planned at sf0.001 like dump_plans.py.
"""

from __future__ import annotations

import os
import sys
import traceback

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "r12"
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    outdir = os.path.join(_REPO, "plans", rnd)
    os.makedirs(outdir, exist_ok=True)

    from osrs_dashboard_elt_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    ok = err = 0
    for name, fn in sorted(qs.items()):
        if only is not None and name not in only:
            continue
        path = f"{outdir}/{name}_{tag}.txt"
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(path, "w") as f:
                f.write(plan.rstrip() + "\n")
            ok += 1
        except Exception:
            with open(path, "w") as f:
                f.write("PLAN FAILED:\n" + traceback.format_exc())
            err += 1
            print(f"FAILED {name}", file=sys.stderr)
    print(f"wrote {ok} plans ({err} failed) to {outdir}")


if __name__ == "__main__":
    main()
