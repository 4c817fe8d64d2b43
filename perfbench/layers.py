"""Per-layer metrics and the traced-run artifact.

The result line carries the per-layer metrics of BENCHMARK.json, which
both workloads print: Spark-wide times and counts, counts of layers a
workload may not touch (0 there), and each layer's share of the measured
wall time in percent. The artifact written next to it carries absolute
per-layer times for the workloads that exercise them, per-algorithm and
per-stage Spark counters, and the tracing overhead.
"""

from __future__ import annotations

import collections
import json
import os
import statistics

import tracing
from batch import ALGORITHMS, STAGES


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _children(spans):
    kids = collections.defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[s.parent].append(i)
    return kids


def _descendants(kids, i):
    out, todo = [], list(kids[i])
    while todo:
        k = todo.pop()
        out.append(k)
        todo.extend(kids[k])
    return out


def summarise(tracer, res) -> dict:
    """Everything the traced run measured, keyed by metric name."""
    spans = tracer.spans
    jobs = tracer.spark_jobs()
    tracer.attribute_jobs(jobs)
    self_t = tracer.self_times()
    kids = _children(spans)
    wall = res["wall"]
    t0 = min((s.start for s in spans), default=0.0)
    t1 = max((s.end for s in spans), default=0.0)

    def dur(k):
        return spans[k].end - spans[k].start

    by_name = collections.defaultdict(list)
    for i, s in enumerate(spans):
        by_name[s.name].append(i)
    self_sum = {n: sum(self_t[i] for i in idx) for n, idx in by_name.items()}
    incl_sum = {n: sum(dur(i) for i in idx) for n, idx in by_name.items()}

    def counters(jids):
        recs = [jobs[j] for j in jids]
        return {
            "jobs": len(recs),
            "executor_run_s": sum(r["run_s"] for r in recs),
            "gc_s": sum(r["gc_s"] for r in recs),
            "shuffle_mb": sum(r["shuffle_bytes"] for r in recs) / 1e6,
            "input_records": sum(r["input_records"] for r in recs),
        }

    def driver_gap(start, end, jids):
        iv = [
            (max(start, jobs[j]["submitted"]), min(end, jobs[j]["completed"] or end))
            for j in jids
            if jobs[j]["submitted"] is not None
        ]
        return max(0.0, (end - start) - tracing.union_length([x for x in iv if x[1] > x[0]]))

    all_jobs = list(jobs)
    allc = counters(all_jobs)
    plan = [dur(i) for i in by_name["spark.plan"]]
    actions = by_name["spark.collect"] + by_name["spark.count"]
    run_ms = [self_t[i] * 1000.0 for i in actions]
    out = {
        "spark.plan_ms": _p50([p * 1000.0 for p in plan]),
        "spark.run_ms": _p50(run_ms),
        "spark.executor_run_s": allc["executor_run_s"],
        "spark.gc_s": allc["gc_s"],
        "spark.driver_gap_s": driver_gap(t0, t1, all_jobs),
        "spark.jobs": allc["jobs"],
        "spark.shuffle_mb": allc["shuffle_mb"],
        "spark.checkpoints": len(by_name["spark.checkpoint"]),
    }

    # ---- serve layers, per request
    req = {spans[i].rid: i for i in by_name["serve.request"]}
    exe = {spans[i].rid: i for i in by_name["interface.execute"] if spans[i].rid is not None}
    client = {o.rid: o.latency_s for o in getattr(res.get("run"), "ops", []) if o.rid is not None}
    queue = [spans[exe[r]].start - spans[i].start for r, i in req.items() if r in exe]
    http = [client[r] - dur(i) for r, i in req.items() if r in client]

    def subtree_jobs(i, stop=()):
        """Jobs of span ``i`` and its descendants, not entering spans
        named in ``stop``."""
        out, todo = list(spans[i].jobs), list(kids[i])
        while todo:
            k = todo.pop()
            if spans[k].name in stop:
                continue
            out.extend(spans[k].jobs)
            todo.extend(kids[k])
        return out

    compile_jobs = []
    for r, i in exe.items():
        comp = [k for k in _descendants(kids, i) if spans[k].name == "cypher.compile"]
        compile_jobs.append(sum(len(subtree_jobs(k, ("graph.mutation",))) for k in comp))

    per_req = collections.defaultdict(list)
    for r, i in exe.items():
        sub = _descendants(kids, i)
        for name in ("cypher.parse", "interface.log"):
            per_req[name].append(sum(dur(k) for k in sub if spans[k].name == name) * 1000.0)
        # compile: CypherExecutor.execute minus the graph and parser spans
        # inside it (Spark actions the compiler runs itself stay in)
        comp = 0.0
        for k in sub:
            if spans[k].name == "cypher.compile":
                inner = _descendants(kids, k)
                comp += dur(k) - sum(dur(m) for m in inner if spans[m].name in ("graph.mutation", "cypher.parse"))
        per_req["cypher.compile"].append(comp * 1000.0)
    mut_idx = by_name["graph.mutation"]
    lineage = getattr(res.get("run"), "lineage", []) or [0]
    out.update({
        "cypher.compiler.jobs": _p50(compile_jobs),
        "graph.mutation_jobs": sum(len(subtree_jobs(i)) for i in mut_idx),
        "graph.checkpoints": len(by_name["graph.checkpoint"]),
        "graph.lineage_lines_p50": _p50(lineage),
        "graph.lineage_lines_max": max(lineage),
    })
    rt = rr = 0.0
    if res.get("run") is not None:
        import serving

        rt, rr = serving.repeat_fracs(res["run"].ops)
    out["serve.repeat_text_frac"] = rt

    pct = lambda x: 100.0 * x / wall  # noqa: E731
    out.update({
        "serve.queue_wait_pct": pct(sum(queue)),
        "serve.http_pct": pct(sum(http)),
        "interface.log_pct": pct(self_sum.get("interface.log", 0.0)),
        "cypher.parse_pct": pct(self_sum.get("cypher.parse", 0.0)),
        "cypher.compile_pct": pct(self_sum.get("cypher.compile", 0.0)),
        "graph.mutation_pct": pct(self_sum.get("graph.mutation", 0.0)),
        # the checkpoint's time is its own localCheckpoint jobs: inclusive
        "graph.checkpoint_pct": pct(incl_sum.get("graph.checkpoint", 0.0)),
        "analytics.pct": pct(sum(incl_sum.get(f"analytics.{a}", 0.0) for a in ALGORITHMS)),
        "ops.pct": pct(sum(incl_sum.get(f"ops.{s}", 0.0) for s in STAGES)),
    })

    # ---- analytics, per algorithm
    detail = {"serve": {}, "analytics": {}, "ops": {}}
    for a in ALGORITHMS:
        idx = by_name[f"analytics.{a}"]
        sub = [k for i in idx for k in _descendants(kids, i)]
        ck = sorted(spans[k].start for k in sub if spans[k].name == "spark.checkpoint")
        jids = [j for j, r in jobs.items() if r["group"] == f"pb-analytics-{a}"]
        c = counters(jids)
        out[f"analytics.{a}_supersteps"] = len(ck) / max(1, len(idx))
        out[f"analytics.{a}_jobs"] = c["jobs"] / max(1, len(idx))
        if idx:
            s, e = spans[idx[0]].start, spans[idx[-1]].end
            detail["analytics"][a] = {
                f"analytics.{a}_s": incl_sum[f"analytics.{a}"] / len(idx),
                f"analytics.{a}_supersteps": len(ck) / len(idx),
                f"analytics.{a}_superstep_ms": _p50([(b - x) * 1000.0 for x, b in zip(ck, ck[1:])]),
                f"analytics.{a}_jobs": c["jobs"] / len(idx),
                f"analytics.{a}_shuffle_mb": c["shuffle_mb"] / len(idx),
                f"analytics.{a}_gc_s": c["gc_s"] / len(idx),
                f"analytics.{a}_driver_gap_s": driver_gap(s, e, jids) / len(idx),
            }

    # ---- ops, per stage
    ops_jids = [j for j, r in jobs.items() if r["group"].startswith("pb-ops-")]
    oc = counters(ops_jids)
    n_docs = res["detail"].get("funnel", [0])[0]
    out["ops.jobs"] = oc["jobs"]
    out["ops.input_scans"] = oc["input_records"] / n_docs if n_docs else 0.0
    for s in STAGES:
        if by_name[f"ops.{s}"]:
            detail["ops"][f"ops.{s}_s"] = incl_sum[f"ops.{s}"]
    if ops_jids:
        detail["ops"]["ops.executor_run_s"] = oc["executor_run_s"]

    # ---- serve, absolute per request (ms)
    if req:
        detail["serve"] = {
            "serve.queue_wait_ms": _p50([q * 1000.0 for q in queue]),
            "serve.http_ms": _p50([h * 1000.0 for h in http]),
            "interface.log_ms": _p50(per_req["interface.log"]),
            "cypher.parser.parse_ms": _p50(per_req["cypher.parse"]),
            "cypher.compiler.compile_ms": _p50(per_req["cypher.compile"]),
            "cypher.compiler.jobs": _p50(compile_jobs),
            "spark.plan_ms": out["spark.plan_ms"],
            "spark.run_ms": out["spark.run_ms"],
            "graph.mutation_ms": sum(self_t[i] for i in mut_idx) * 1000.0,
            "graph.mutation_jobs": out["graph.mutation_jobs"],
            "graph.checkpoints": out["graph.checkpoints"],
            "graph.checkpoint_ms": incl_sum.get("graph.checkpoint", 0.0) * 1000.0,
            "graph.lineage_lines_p50": out["graph.lineage_lines_p50"],
            "graph.lineage_lines_max": out["graph.lineage_lines_max"],
            "graph.save_s": incl_sum.get("graph.save", 0.0),
            "graph.load_s": incl_sum.get("graph.load", 0.0),
            "serve.repeat_text_frac": rt,
            "serve.repeat_request_frac": rr,
        }
    out["_detail"] = detail
    out["_self_s"] = self_sum
    out["_n_spans"] = len(spans)
    return out


def per_layer(workload: str, tracer, res, spark_s: float, memory: dict) -> dict:
    vals = summarise(tracer, res)
    res["layers"] = vals
    vals["session.get_spark_s"] = spark_s
    vals.update(memory)
    vals["setup.build_s"] = res["detail"]["setup_build_s"]
    return {k: v for k, v in vals.items() if not k.startswith("_")}


def artifact(workload: str, seed: int, tracer, res, values: dict, work: str) -> str:
    """Write the traced run's summary; returns its path."""
    lay = res["layers"]
    cost = tracing.span_cost_s()
    overhead = {"span_count": lay["_n_spans"], "span_cost_us": cost * 1e6,
                "span_cost_pct_of_wall": 100.0 * cost * lay["_n_spans"] / res["wall"]}
    ref = os.path.join(work, f"untraced_{workload}.json")
    if os.path.exists(ref):
        with open(ref) as f:
            base = json.load(f)
        overhead["untraced_seed"] = base["seed"]
        overhead["throughput_untraced"] = base["values"]["throughput"]
        overhead["throughput_traced"] = res["values"]["throughput"]
        overhead["overhead_pct"] = 100.0 * (base["values"]["throughput"] / res["values"]["throughput"] - 1.0)
    else:
        overhead["overhead_pct"] = None
        overhead["note"] = "no untraced run of this workload in this checkout yet"
    doc = {
        "workload": workload,
        "seed": seed,
        "end_to_end_traced": res["values"],
        "per_layer": {k: v for k, v in values.items() if k not in res["values"]},
        "layers_absolute": lay["_detail"],
        "self_time_s_by_span": lay["_self_s"],
        "detail": res["detail"],
        "tracing_overhead": overhead,
    }
    path = os.path.join(work, f"trace_{workload}_{seed}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    return path
