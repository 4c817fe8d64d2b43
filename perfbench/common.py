"""Shared pieces of the benchmark: host pinning, the Spark session,
statistics and the result line."""

from __future__ import annotations

import json
import os
import statistics
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

# Host settings, identical for every commit measured. The engine's
# default heap (48g) is larger than a small host's memory.
DRIVER_MEM = "3g"


def pin_host(root: str, work: str) -> None:
    """Pin the engine's environment before the JVM starts.

    ``root`` is the checkout (put on PYTHONPATH, so Spark's Python
    workers can import the engine); ``work`` is the work directory
    every temporary file goes to."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (launcher and Spark) keeps its temp files in
    # the work dir and writes no hsperfdata files outside it
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str):
    """``get_spark`` with the pinned host settings; returns (spark, seconds)."""
    from graph_loom_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads per-stage metrics back from the status
            # store; keep every job of a run there
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")


def median(values: list[float]) -> float:
    return statistics.median(values)


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def result_line(spec: dict, trace: bool, attempted: int, failed: int, correct: bool, values: dict) -> str:
    """The JSON result line: every end-to-end metric of ``spec`` (or every
    per-layer metric when ``trace``), each with its unit. A metric missing
    from ``values`` is an error, never a silent gap."""
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        v = values[m["name"]]
        if not isinstance(v, (int, float)) or v != v:
            raise ValueError(f"metric {m['name']} is not a number: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM (and with it Spark's
    Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=120)
