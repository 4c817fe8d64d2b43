"""Same-box solo A/B of iterative-graph-operator variants (VERDICT r13
asks #1/#2). Loads analytics.py from any git revision as its own module
and times the chosen operator over the exact entry inputs (the _gtopo
projection; Customer seeds for ppr; iters as in the registry),
INTERLEAVING the variants within one session so drift hits them equally.
The noop sink forces the full result; blocks are swept between runs.

Usage:
    python scripts/ab_ppr_variants.py [--op ppr|pagerank|hits]
        [--sf DIR] [--runs N] [rev1,rev2,...]

Revisions default to "f54625e^" (r12: per-iteration stat broadcast),
"b398ac6" (r13: seed flag rides the pinned edge frame) and "worktree"
(current working tree). Prints one JSON line per variant with the runs
and min.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

argv = list(sys.argv[1:])


def _opt(flag, default=None):
    if flag in argv:
        i = argv.index(flag)
        v = argv[i + 1]
        del argv[i : i + 2]
        return v
    return default


SF_DIR = _opt("--sf", "/root/testdata/sf0.1")
RUNS = int(_opt("--runs", "3"))
OP = _opt("--op", "ppr")
REVS = argv[0].split(",") if argv else ["f54625e^", "b398ac6", "worktree"]

from graph_loom_spark.session import get_spark  # noqa: E402

cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(
    app_name="ppr-ab",
    master=f"local[{cpus}]",
    shuffle_partitions=int(cpus) if cpus.isdigit() else None,
)
spark.sparkContext.setLogLevel("ERROR")

import bench  # noqa: E402

spark.range(100_000).selectExpr("sum(id)").collect()
spark.read.parquet(f"{SF_DIR}/region.parquet").count()
bench._warm_iterative(spark)


def _load_variant(rev: str):
    """analytics.py at *rev* as an isolated module (worktree = current)."""
    if rev == "worktree":
        path = os.path.join(REPO, "graph_loom_spark", "analytics.py")
        src = open(path).read()
    else:
        src = subprocess.check_output(
            ["git", "-C", REPO, "show", f"{rev}:graph_loom_spark/analytics.py"],
            text=True,
        )
    fd, path = tempfile.mkstemp(suffix=f"_analytics_{rev.replace('^', 'p').replace('/', '_')}.py")
    with os.fdopen(fd, "w") as fh:
        fh.write(src)
    name = f"analytics_variant_{abs(hash(rev))}"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


from pyspark.sql import functions as F  # noqa: E402

from graph_loom_spark.io.tpch_graph import build_graph  # noqa: E402

mods = {rev: _load_variant(rev) for rev in REVS}
results: dict[str, list[float]] = {rev: [] for rev in REVS}

for r in range(RUNS):
    for rev in REVS:
        bench._drop_persisted_blocks(spark)
        # fresh topology frames per run (the entry memo path would hide
        # the id-construction cost differently per slot; build once per
        # run so every variant pays the identical input cost)
        g0 = build_graph(spark, SF_DIR)
        from graph_loom_spark.graph import PropertyGraph

        n = g0.nodes.select("id").localCheckpoint(eager=True)
        e = g0.edges.select("src", "dst").localCheckpoint(eager=True)
        g = PropertyGraph(spark, nodes=n, edges=e)
        spark.sparkContext.setJobDescription(f"{OP}-ab:{rev}#{r}")
        t0 = time.time()
        if OP == "ppr":
            seeds = g.nodes.filter(F.col("id").startswith("C:")).select("id")
            out = mods[rev].personalized_pagerank(g, seeds, iters=5)
        elif OP == "pagerank":
            out = mods[rev].pagerank(g, iters=5)
        elif OP == "hits":
            out = mods[rev].hits(g, iters=3)
        else:
            raise SystemExit(f"unknown --op {OP}")
        out.write.format("noop").mode("overwrite").save()
        results[rev].append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)

for rev in REVS:
    print(
        json.dumps({"variant": rev, "runs": results[rev], "min": min(results[rev])}),
        flush=True,
    )
