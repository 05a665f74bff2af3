"""Plumbing shared by the workloads: checkout-local scratch space, the
Spark session, memory readings and the final result line."""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
REQUIRED = (
    "__spark_entry__.py",
    "osrs_dashboard_elt_spark/__init__.py",
    "osrs_dashboard_elt_spark/suite.py",
    "scripts/run_pipeline.py",
)


def check_checkout() -> None:
    """Refuse to run outside a full checkout: the benchmark times the
    package, it does not ship one."""
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        raise SystemExit(f"perfbench: checkout is missing {missing}")


def load_script(name: str):
    """Import ``scripts/<name>.py`` of the checkout as a module."""
    import importlib.util

    saved = list(sys.path)  # the scripts prepend their own repo path
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", ROOT / "scripts" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    """A scratch directory under the checkout that holds every file the
    run writes: generated inputs, the lake, Spark's local and temp dirs,
    and the program's own ``tempfile`` directories."""

    def __init__(self, workload: str):
        self.root = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = self.root / "tmp"
        for d in (self.tmp, self.root / "spark-local"):
            d.mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.root / "spark-local")
        # Python workers (transformWithState, pandas UDFs) import the
        # package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )

    def dir(self, *parts: str) -> str:
        p = self.root.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = self.root.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()


def spark_conf(ws: Workspace, cores: int) -> dict[str, str]:
    """Benchmark plumbing, plus two departures from the engine's own
    settings (``session._DEFAULTS``), both named in README.md:

    - shuffle partitions = cores rather than 32: at 32 the cold pipeline
      pass took ~20% longer (57 s against 48 s on a 4-vCPU host), more
      than the benchmark's run budget holds;
    - a fixed, pre-touched 2 GB driver heap rather than 40% of RAM
      growing on demand: with a growing heap the JVM's resident size
      followed G1's resizing and ``peak_rss_mb`` varied by a third
      between runs.  ``jvm.heap_peak_mb`` in the traced run shows heap
      use instead.
    """
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": "2g",
        "spark.local.dir": str(ws.root / "spark-local"),
        "spark.sql.warehouse.dir": str(ws.root / "warehouse"),
        # -UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={ws.tmp}"
        ),
        # the traced run reads every job and stage back from the status
        # store; keep them all in both modes so the runs match
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(ws: Workspace, cores: int):
    from osrs_dashboard_elt_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=spark_conf(ws, cores)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Driver JVM high-water RSS plus this process's own peak RSS."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the driver JVM's heap pools' peak use (MemoryPoolMXBean)."""
    management = spark.sparkContext._jvm.java.lang.management
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in management.ManagementFactory.getMemoryPoolMXBeans()
        if pool.getType() == management.MemoryType.HEAP
    ) / 2**20


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0


def isolate_stdout():
    """Point fd 1 at stderr for everything the program and the JVM
    print, and return a handle on the real stdout for the result."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    return os.fdopen(saved, "w")


def emit(out, correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    line = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    out.write(json.dumps(line) + "\n")
    out.flush()
