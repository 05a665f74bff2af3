"""Compare two bench per-query records (BENCH_QUERIES.json format).

The round-6 drift attribution (SCALE.md) was assembled by hand from
ad-hoc JSON slicing; this makes it one command:

    python scripts/bench_compare.py OLD.json NEW.json [top_n]

Prints the common-subset totals (the drift-tracking number), the
added/removed query sets' totals, and the top movers — exactly the
decomposition a round-over-round regression question needs.

The GUARDRAIL mode (round-10 judge ask #7 — a structural regression
must not hide inside the suite's ~9% run-to-run drift band):

    python scripts/bench_compare.py --flag OLD.json NEW.json \\
        [--threshold 1.25] [--floor 0.15] [--ref HEAD~1]

flags every query slower than ``threshold``× its old time (and past
the absolute noise ``floor`` in seconds), then ATTRIBUTES each one:
the modules the query's suite source actually imports are
intersected with the files touched since ``--ref`` (via git) — a
flagged query whose module set overlaps the touched files is
STRUCTURAL (your change did it); no overlap reads as DRIFT.  Exits 1
when any STRUCTURAL regression is found, 0 otherwise, and always
ends with a one-line JSON verdict.  Reads files + git only; the
attribution imports the suite module but never starts Spark.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[str, float]:
    with open(path) as f:
        rec = json.loads(f.read().strip().splitlines()[0])
    return rec["queries"]


def _touched_files(ref: str) -> set[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", ref, "--"],
        capture_output=True, text=True, cwd=_REPO,
    )
    return {
        line.rsplit("/", 1)[-1]
        for line in out.stdout.splitlines()
        if line.endswith(".py")
    }


def _suite_changed_lines(ref: str) -> set[int]:
    """NEW-side line numbers changed in suite.py since ``ref``
    (parsed from -U0 hunk headers) — lets a suite edit attribute to
    exactly the query functions it touched, instead of marking every
    drifting query structural whenever suite.py changed at all."""
    out = subprocess.run(
        ["git", "diff", "-U0", ref, "--",
         "osrs_dashboard_elt_spark/suite.py"],
        capture_output=True, text=True, cwd=_REPO,
    )
    lines: set[int] = set()
    for m in re.finditer(
        r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@",
        out.stdout, re.M,
    ):
        start = int(m.group(1))
        count = int(m.group(2) or 1)
        lines.update(range(start, start + count))
    return lines


def _query_modules(name: str, suite_lines: set[int]) -> set[str]:
    """Module basenames a suite query's source references — its
    attribution fingerprint.  suite.py counts only when the query's
    OWN function body overlaps the changed suite lines."""
    import inspect

    sys.path.insert(0, _REPO)
    from osrs_dashboard_elt_spark import suite

    fn = suite.QUERIES.get(name)
    if fn is None:
        return {"suite.py"}
    # the @query decorator registers a thin `wrapped` closure; the
    # real body (and its imports) is the closure's captured function
    if getattr(fn, "__name__", "") == "wrapped" and fn.__closure__:
        for cell in fn.__closure__:
            if callable(cell.cell_contents):
                fn = cell.cell_contents
                break
    try:
        src, start = inspect.getsourcelines(fn)
    except (OSError, TypeError):
        return {"suite.py"}
    body = "".join(src)
    mods = set(
        re.findall(
            r"from \.(?:sources|operators|functions|streaming|"
            r"reports|multimodal)\.(\w+) import",
            body,
        )
    ) | set(re.findall(r"from \.(\w+) import", body))
    out = {f"{m}.py" for m in mods}
    if suite_lines & set(range(start, start + len(src))):
        out.add("suite.py")
    return out


def flag_mode(argv: list[str]) -> None:
    args: list[str] = []
    opts = {"--threshold": "1.25", "--floor": "0.15",
            "--ref": "HEAD~1"}
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--"):
            if "=" in a:
                k, v = a.split("=", 1)
            else:
                k = a
                i += 1
                if i >= len(argv):
                    print(f"missing value for {k}")
                    raise SystemExit(2)
                v = argv[i]
            if k not in opts:
                print(f"unknown option {k}")
                raise SystemExit(2)
            opts[k] = v
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        print(__doc__)
        raise SystemExit(2)
    threshold = float(opts["--threshold"])
    floor = float(opts["--floor"])
    ref = str(opts["--ref"])
    old, new = load(args[0]), load(args[1])
    touched = _touched_files(ref)
    suite_lines = (
        _suite_changed_lines(ref) if "suite.py" in touched else set()
    )
    flagged = []
    for q in sorted(set(old) & set(new)):
        if old[q] <= 0:
            continue
        ratio = new[q] / old[q]
        if ratio > threshold and (new[q] - old[q]) > floor:
            overlap = sorted(_query_modules(q, suite_lines) & touched)
            flagged.append(
                {
                    "query": q,
                    "old": round(old[q], 3),
                    "new": round(new[q], 3),
                    "ratio": round(ratio, 3),
                    "touched_overlap": overlap,
                    "kind": "STRUCTURAL" if overlap else "DRIFT",
                }
            )
    for f in flagged:
        print(json.dumps(f))
    structural = [f for f in flagged if f["kind"] == "STRUCTURAL"]
    print(
        json.dumps(
            {
                "verdict": (
                    f"{len(structural)} structural regression(s) — "
                    "inspect before shipping"
                    if structural
                    else (
                        f"{len(flagged)} flagged, all drift "
                        "(no touched-file overlap)"
                        if flagged
                        else "no per-query regressions past "
                        f"{threshold}x"
                    )
                ),
                "flagged": len(flagged),
                "structural": len(structural),
                "threshold": threshold,
                "ref": ref,
            }
        )
    )
    raise SystemExit(1 if structural else 0)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--flag":
        flag_mode(sys.argv[2:])
        return
    if len(sys.argv) < 3:
        print(__doc__)
        raise SystemExit(2)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    s_old = sum(old[q] for q in common)
    s_new = sum(new[q] for q in common)
    print(
        json.dumps(
            {
                "common_n": len(common),
                "common_old_sec": round(s_old, 2),
                "common_new_sec": round(s_new, 2),
                "common_ratio": round(s_new / s_old, 3) if s_old else None,
                "added_n": len(added),
                "added_sec": round(sum(new[q] for q in added), 2),
                "removed_n": len(removed),
                "removed_sec": round(sum(old[q] for q in removed), 2),
            }
        )
    )
    movers = sorted(
        ((new[q] - old[q], q) for q in common), key=lambda t: -abs(t[0])
    )[:top_n]
    for d, q in movers:
        print(f"{d:+8.3f}  {q}  old={old[q]:.3f} new={new[q]:.3f}")


if __name__ == "__main__":
    main()
