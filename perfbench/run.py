"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from ``--seed`` under ``.perfbench/`` (every temporary file of a run lives
there), runs the workload through the engine's public entry points,
checks every output and prints, as the last line of stdout,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. The traced run also writes its spans, Spark counters and
tracing overhead to ``.perfbench/trace_<workload>_<seed>.json``. A
summary of the run (per-phase figures, digests, failed operations) goes
to stderr.

Workloads (see BENCHMARK.json for why each exists):

- ``serve``: Cypher over loopback HTTP (perfbench/serving.py);
- ``batch``: graph analytics and the curation chain (perfbench/batch.py).

``serve`` sizes its operation mix from ``--seconds``; ``batch`` runs
its fixed pass once. ``setup_s`` is ``get_spark`` plus what a user must
build before the first operation. An *operation* is one HTTP request,
the snapshot save or the reload (serve), or one algorithm call or
curation stage (batch); a run has a fixed operation mix (serve: 10
reads, 4 cycle statements, save, reload; batch: 4 algorithms, 7 stages).
``p50_ms`` is the median latency of the typical operation, ``mean_ms``
the mean latency of the class that carries the slow operations: on
serve the median read request and the mean of the six write-side
operations (cycle statements, save and reload; the checkpoint spike
lands in the CREATE); on batch the median and the mean of all eleven
operations. No class has enough samples for a percentile with 10
beyond it, and the slowest operation alone (or the mean of the slower
half) swings too much from run to run to gate a change on; the
per-operation latencies are in the stderr summary.
``throughput`` is operations per measured second. Memory (Spark JVM
peak RSS) is reported by the traced run only: it swings 25-50% from
run to run with collection timing, too much to gate a change on. An
operation that fails or answers wrongly counts in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import median  # noqa: E402

WORKLOADS = ("serve", "batch")
# serve sizes its run from --seconds: one round (ten reads, then one
# write cycle) per this many seconds, at least one.
# A fixed operation mix per run keeps the latency percentiles comparable.
SECONDS_PER_ROUND = 20
WORK = os.path.join(ROOT, ".perfbench")


def op_metrics(setup_s: float, typical: list[float], slow: list[float], n_ops: int, wall: float) -> dict:
    """The end-to-end metrics of one run: ``typical`` and ``slow`` are the
    latencies (s) of the operations its median and its mean are taken
    over, ``n_ops`` the operations done in ``wall`` seconds."""
    return {
        "setup_s": setup_s,
        "p50_ms": median(typical) * 1000.0,
        "mean_ms": statistics.mean(slow) * 1000.0,
        "throughput": n_ops / wall,
    }


def _ms(xs):
    return [x * 1000.0 for x in xs]


# ------------------------------------------------------------------ serve
def run_serve(spark, spark_s: float, seed: int, seconds: float, tracer, data_dir: str) -> dict:
    import datagen
    import serving as S
    from graph_loom_spark.graph import PropertyGraph
    from graph_loom_spark.io.tpch_graph import build_graph
    from pyspark.sql import functions as F

    # set-up a user does: the projection (cache=False, the per-label lazy
    # views the engine's own registry serves Cypher from) and the server
    t0 = time.perf_counter()
    graph = build_graph(spark, data_dir, cache=False)
    t1 = time.perf_counter()
    run = S.ServeRun(graph, WORK, tracer)
    setup_s = spark_s + time.perf_counter() - t0
    parts = {"io.build_graph_s": t1 - t0, "serve.start_s": time.perf_counter() - t1}
    sc = datagen.SERVE
    base = (30 + sc.customers + sc.suppliers + sc.parts + sc.orders + sc.lineitems,
            25 + sc.customers + sc.suppliers + sc.orders + 3 * sc.lineitems)

    # benchmark-only: the DuckDB answers. No untimed pass goes first: a
    # fresh server's first queries are part of what its users see.
    rounds = max(1, int(seconds // SECONDS_PER_ROUND))
    reqs = S.read_requests(seed, rounds)
    S.answer_reads(S.duck(data_dir), reqs)
    try:
        tracer.install()
        t_meas = time.perf_counter()
        run.read_phase(reqs)
        t_read = time.perf_counter() - t_meas
        # benchmark-only, untimed: the tagged nodes the cycles find,
        # added after the reads so these see an unmutated graph, and
        # outside the traced spans
        tracer.uninstall()
        t0 = time.perf_counter()
        model = S.WriteModel()
        S.preseed(graph, seed, model)
        t_pre = time.perf_counter() - t0
        tracer.install()
        t0 = time.perf_counter()
        run.write_phase(seed, model, rounds)
        t_write = time.perf_counter() - t0

        snap = os.path.join(WORK, "snapshot")
        t0 = time.perf_counter()
        run.server.session.graph.save(snap)
        t_save = time.perf_counter() - t0
        t0 = time.perf_counter()
        g2 = PropertyGraph.load(spark, snap)
        tag_nodes = g2.nodes.filter(F.col("label") == "BenchTag")
        tags = [(r[0], r[1]) for r in tag_nodes.select(F.col("properties")["bid"], F.col("properties")["val"]).collect()]
        edges = [
            (int(r[0][2:]), r[1])
            for r in g2.edges.filter(F.col("label") == "TAGGED")
            .join(tag_nodes.select(F.col("id").alias("dst"), F.col("properties")["bid"].alias("bid")), "dst")
            .select("src", "bid")
            .collect()
        ]
        snap_ok = S.check_snapshot(model, tags, edges, g2.nodes.count(), g2.edges.count(), base)
        t_load = time.perf_counter() - t0
        wall = time.perf_counter() - t_meas - t_pre
        tracer.uninstall()
    finally:
        run.close()
    ops = run.ops + [S.Op("save", True, 0.0, t_save, snap_ok), S.Op("load", False, 0.0, t_load, snap_ok)]
    read_ops = [o for o in run.ops if o.kind in S.READ_KINDS]
    reads = _ms([o.latency_s for o in read_ops])
    writes = _ms([o.latency_s for o in run.ops if o.write])
    return {
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "values": op_metrics(
            setup_s,
            [o.latency_s for o in read_ops],
            [o.latency_s for o in ops if o.kind not in S.READ_KINDS],
            len(ops),
            wall,
        ),
        "detail": {
            "ops_by_kind": S.kind_counts(ops),
            "read_phase_s": t_read,
            "write_phase_s": t_write,
            "qps": len(read_ops) / t_read,
            "read_p50_ms": median(reads),
            "read_max_ms": max(reads),
            "write_p50_ms": median(writes),
            "write_max_ms": max(writes),
            "snapshot_s": t_save + t_load,
            "graph.save_s": t_save,
            "graph.load_verify_s": t_load,
            "setup_build_s": setup_s - spark_s,
            "setup_parts_s": parts,
            "live_bids": sorted(model.live),
            "op_ms": [(o.kind, round(o.latency_s * 1000.0, 1)) for o in ops],
            "failed_ops": [(o.kind, o.query, o.params) for o in ops if not o.ok],
        },
        "run": run,
        "wall": wall,
    }


# ------------------------------------------------------------------ batch
def run_batch(spark, spark_s: float, seed: int, seconds: float, tracer, data_dir: str) -> dict:
    import batch as B
    import pyarrow.parquet as pq

    (graph, topo, cooc, parts), build_s = B.timed(lambda: B.build_inputs(spark, data_dir))
    expect = B.oracle_answers(ROOT, data_dir)
    source_docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text", "source"]).to_pylist()

    # The algorithms and the curation chain are two independent callers
    # sharing the session, as two batch jobs share a cluster: each runs
    # on its own thread, so one bounded run measures both.
    ops, checks, digests, errors = [], {}, {}, []
    lock = threading.Lock()
    cur = B.Curation(spark, data_dir)

    def analytics_pass():
        for a in B.ALGORITHMS:
            tracer.job_group(f"pb-analytics-{a}")
            with tracer.span(f"analytics.{a}", group=f"pb-analytics-{a}"):
                rows, dt = B.timed(lambda: B.rows_key(B.run_algorithm(a, graph, topo, cooc).collect()))
            with lock:
                ops.append(("analytics", a, dt, rows == expect[a]))
                checks[a] = rows == expect[a]
                digests[a] = B.digest(rows)

    def curation_pass():
        for s in B.STAGES:
            tracer.job_group(f"pb-ops-{s}")
            with tracer.span(f"ops.{s}", group=f"pb-ops-{s}"):
                _, dt = B.timed(lambda: cur.step(s))
            with lock:
                ops.append(("ops", s, dt, True))

    def guarded(fn):
        def target():
            try:
                fn()
            except BaseException as e:  # re-raised on the main thread
                errors.append(e)

        return target

    tracer.install()
    t_meas = time.perf_counter()
    threads = [threading.Thread(target=guarded(f), name=f"pb-{f.__name__}") for f in (analytics_pass, curation_pass)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_meas
    tracer.uninstall()
    if errors:
        raise errors[0]
    kept = sorted(r[0] for r in cur.mixed.select("doc_id").collect())
    bad = B.check_curation(cur.counts, kept, source_docs)
    if bad:  # the stages feed each other: a wrong count or kept set fails the chain
        ops = [(k, n, dt, ok and k != "ops") for k, n, dt, ok in ops]
    return {
        "attempted": len(ops),
        "failed": sum(not ok for *_, ok in ops),
        "values": op_metrics(spark_s + build_s, [dt for *_, dt, _ in ops], [dt for *_, dt, _ in ops], len(ops), wall),
        "detail": {
            "analytics_s": sum(dt for k, _, dt, _ in ops if k == "analytics"),
            "pipeline_s": sum(dt for k, _, dt, _ in ops if k == "ops"),
            "op_s": {f"{k}.{n}": dt for k, n, dt, _ in ops},
            "funnel": [len(source_docs)] + [cur.counts[s] for s in B.STAGES],
            "kept_doc_digest": B.digest(kept),
            "analytics_digests": digests,
            "analytics_match_oracle": checks,
            "curation_mismatches": bad,
            "setup_build_s": build_s,
            "setup_parts_s": parts,
        },
        "wall": wall,
    }


# ------------------------------------------------------------------ main
def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "graph_loom_spark", "__init__.py")):
        print(f"perfbench: no engine source (graph_loom_spark/) under {ROOT}", file=sys.stderr)
        return 2
    spec = common.load_spec()
    common.pin_host(ROOT, WORK)
    sys.path.insert(0, ROOT)

    import datagen
    import tracing

    scale = datagen.SERVE if args.workload == "serve" else datagen.BATCH
    data_dir = datagen.write(os.path.join(WORK, "data", args.workload), args.seed, scale)
    spark, spark_s = common.start_spark(WORK)
    tracer = tracing.Tracer(spark, bool(args.trace))
    try:
        fn = run_serve if args.workload == "serve" else run_batch
        res = fn(spark, spark_s, args.seed, args.seconds, tracer, data_dir)
        values = dict(res["values"])
        if args.trace:
            import layers

            memory = {"jvm_peak_rss_mb": common.jvm_peak_rss_mb(spark)}
            values.update(layers.per_layer(args.workload, tracer, res, spark_s, memory))
            art = layers.artifact(args.workload, args.seed, tracer, res, values, WORK)
            print(f"perfbench: trace artifact {art}", file=sys.stderr)
        else:
            with open(os.path.join(WORK, f"untraced_{args.workload}.json"), "w") as f:
                json.dump({"seed": args.seed, "values": res["values"], "wall": res["wall"]}, f)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": res["detail"]}, default=str), file=sys.stderr)
        line = common.result_line(spec, bool(args.trace), res["attempted"], res["failed"], res["failed"] == 0, values)
    finally:
        common.stop_spark(spark)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
