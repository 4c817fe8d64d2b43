"""Solo per-query profiler for the optimization rounds: fresh session,
bench-identical warmups, then for each named entry capture
``explain("formatted")`` and time the noop-sink forcing (min of N runs,
resetting the entry's memo between runs so every run pays the full
computation — the same rule the bench A/B pass applies).

Usage:
    python scripts/profile_query.py name1,name2 [--sf DIR] [--runs N]
        [--plans OUTDIR] [--suffix before|after] [--no-reset]

Prints one JSON line per query: {"name", "runs": [sec...], "min"}.
``--no-reset`` times the memo-warm path instead (attribution studies).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

argv = list(sys.argv[1:])


def _opt(flag, default=None):
    if flag in argv:
        i = argv.index(flag)
        v = argv[i + 1]
        del argv[i : i + 2]
        return v
    return default


SF_DIR = _opt("--sf", "/root/testdata/sf0.1")
RUNS = int(_opt("--runs", "2"))
PLANS = _opt("--plans")
SUFFIX = _opt("--suffix", "before")
NO_RESET = "--no-reset" in argv
if NO_RESET:
    argv.remove("--no-reset")
NAMES = argv[0].split(",") if argv else []

from graph_loom_spark.session import get_spark  # noqa: E402

cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(
    app_name="graph-loom-profile",
    master=f"local[{cpus}]",
    shuffle_partitions=int(cpus) if cpus.isdigit() else None,
)
spark.sparkContext.setLogLevel("ERROR")

import bench  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

# bench-identical session warmups so solo numbers are comparable
spark.range(100_000).selectExpr("sum(id)").collect()
spark.read.parquet(f"{SF_DIR}/region.parquet").count()
try:
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    def _warm(v):
        return v

    import pandas as _pd

    _warm.__annotations__ = {"v": _pd.Series, "return": _pd.Series}
    spark.range(1000).select(F.pandas_udf(_warm, "long")("id")).count()
except Exception as e:
    print(f"warmup warning: {e}", file=sys.stderr)
try:
    from graph_loom_spark.io.tpch_graph import build_graph

    build_graph(spark, SF_DIR).edges.count()
except Exception as e:
    print(f"graph warmup warning: {e}", file=sys.stderr)
bench._warm_iterative(spark)
bench._drop_persisted_blocks(spark)

qs = entry.queries()
for name in NAMES:
    fn = qs.get(name)
    if fn is None:
        print(json.dumps({"name": name, "error": "unknown"}))
        continue
    times = []
    for r in range(RUNS):
        if not NO_RESET:
            try:
                entry.reset_memo(name)
            except Exception:
                pass
        spark.sparkContext.setJobDescription(f"profile:{name}#{r}")
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
        if PLANS and r == 0:
            os.makedirs(PLANS, exist_ok=True)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS, f"{name}_{SUFFIX}.txt"), "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(None)
        bench._drop_persisted_blocks(spark)
    print(
        json.dumps({"name": name, "runs": times, "min": min(times)}),
        flush=True,
    )
