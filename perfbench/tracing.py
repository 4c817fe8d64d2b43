"""Span recording for the traced run.

The traced run wraps the engine's entry points from the benchmark's own
files, so no engine file changes. Each span has a name, start, end,
parent and request id; spans stay in memory and are summarised at the
end. Spark jobs are read back from the status store through the job
group the wrappers set, and attributed to the innermost span that was
open on the submitting thread when the job was submitted.

A layer's self time is its span's duration minus the part covered by
its child spans.
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field

# Spans by layer. The serve path nests as
#   serve.request (HTTP thread)
#   interface.execute (broker thread) > cypher.compile > cypher.parse |
#   graph.mutation > graph.checkpoint; spark.collect > spark.plan;
#   interface.log
# and shares one request id across the two threads.


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rid: int | None = None
    group: str | None = None
    jobs: list = field(default_factory=list)  # job ids submitted in this span's own time


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op, so the
    untraced run pays nothing but an attribute check."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._rid_by_text: dict[str, collections.deque] = collections.defaultdict(collections.deque)
        self._groups: set[str] = set()
        self._patches: list[tuple[object, str, object]] = []
        self._group_seq = itertools.count()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid: int | None = None, group: str | None = None):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        if parent is not None:
            p = self.spans[parent]
            rid = p.rid if rid is None else rid
            group = p.group if group is None else group
        s = Span(name, time.time(), parent=parent, rid=rid, group=group)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            st.pop()

    def in_span(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack())

    def job_group(self, group: str, desc: str = "") -> None:
        """Tag the Spark jobs this thread launches from now on."""
        if self.enabled:
            self._groups.add(group)
            self.spark.sparkContext.setJobGroup(group, desc[:80] or group)

    # ---------------------------------------------------------- patches
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        """Wrap the engine's public entry points (traced run only)."""
        if not self.enabled:
            return
        from graph_loom_spark import interface, serve
        from graph_loom_spark.cypher import compiler
        from graph_loom_spark.graph import PropertyGraph

        tr = self

        def simple(name):
            def make(orig):
                def wrapped(*a, **k):
                    with tr.span(name):
                        return orig(*a, **k)

                return wrapped

            return make

        def handle_query(orig):
            def wrapped(server, payload):
                rid = payload.get("bench_id")
                q = payload.get("query")
                if rid is not None and isinstance(q, str):
                    with tr._lock:
                        tr._rid_by_text[q.strip()].append(rid)
                with tr.span("serve.request", rid=rid):
                    return orig(server, payload)

            return wrapped

        def execute(orig):
            # wraps both execute_and_log (the server's call, which logs)
            # and execute (which it calls): the outer one opens the span
            def wrapped(sess, query, params=None, *a, **k):
                if tr.in_span("interface.execute"):
                    return orig(sess, query, params, *a, **k)
                rid = None
                with tr._lock:
                    dq = tr._rid_by_text.get(query.strip())
                    if dq:
                        rid = dq.popleft()
                group = f"pb-req-{rid}" if rid is not None else f"pb-call-{next(tr._group_seq)}"
                tr.job_group(group, query)
                with tr.span("interface.execute", rid=rid, group=group):
                    return orig(sess, query, params, *a, **k)

            return wrapped

        def action(name):
            def make(orig):
                def wrapped(df, *a, **k):
                    with tr.span(name):
                        with tr.span("spark.plan"):
                            df._jdf.queryExecution().executedPlan()
                        return orig(df, *a, **k)

                return wrapped

            return make

        def mutation(orig):
            def wrapped(*a, **k):
                if tr.in_span("graph.mutation"):
                    return orig(*a, **k)
                with tr.span("graph.mutation"):
                    return orig(*a, **k)

            return wrapped

        self._patch(serve.QueryServer, "handle_query", handle_query)
        self._patch(interface.CypherSession, "execute_and_log", execute)
        self._patch(interface.CypherSession, "execute", execute)
        self._patch(interface, "log_query", simple("interface.log"))
        self._patch(compiler, "parse", simple("cypher.parse"))
        self._patch(compiler.CypherExecutor, "execute", simple("cypher.compile"))
        for m in (
            "add_nodes", "add_nodes_df", "add_edges", "add_edges_df",
            "delete_edges_by_ids", "delete_nodes_by_ids",
            "upsert_property", "remove_property", "set_label",
        ):
            self._patch(PropertyGraph, m, mutation)
        self._patch(PropertyGraph, "cache_checkpoint", simple("graph.checkpoint"))
        self._patch(PropertyGraph, "save", simple("graph.save"))
        self._patch(PropertyGraph, "load", simple("graph.load"))
        frame = type(self.spark.range(0))  # the concrete (classic) DataFrame class
        self._patch(frame, "collect", action("spark.collect"))
        self._patch(frame, "count", action("spark.count"))
        self._patch(frame, "localCheckpoint", simple("spark.checkpoint"))

    # -------------------------------------------------------- read-back
    def spark_jobs(self) -> dict[int, dict]:
        """Every job of every group this tracer set, with its stage
        metrics, keyed by job id."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out: dict[int, dict] = {}
        for g in self._groups:
            for jid in sc.statusTracker().getJobIdsForGroup(g):
                jd = store.job(jid)
                sub = jd.submissionTime()
                done = jd.completionTime()
                rec = {
                    "group": g,
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "completed": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "input_records": 0,
                }
                info = sc.statusTracker().getJobInfo(jid)
                for sid in list(info.stageIds) if info is not None else []:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage never attempted (skipped) or evicted
                        continue
                    rec["run_s"] += st.executorRunTime() / 1000.0
                    rec["gc_s"] += st.jvmGcTime() / 1000.0
                    rec["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    rec["input_records"] += st.inputRecords()
                out[jid] = rec
        return out

    def attribute_jobs(self, jobs: dict[int, dict]) -> None:
        """Give each job to the innermost span of its group that was open
        when the job was submitted."""
        by_group: dict[str, list[int]] = collections.defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.group is not None:
                by_group[s.group].append(i)
        for jid, j in jobs.items():
            t = j["submitted"]
            if t is None:
                continue
            best = None
            for i in by_group.get(j["group"], ()):
                s = self.spans[i]
                if s.start <= t <= (s.end or t) and (best is None or s.start >= self.spans[best].start):
                    best = i
            if best is not None:
                self.spans[best].jobs.append(jid)

    def self_times(self) -> list[float]:
        """Self time (s) of every span, indexed like ``spans``: duration
        minus the union of its children's intervals."""
        kids: dict[int, list[int]] = collections.defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids[s.parent].append(i)
        out = []
        for i, s in enumerate(self.spans):
            dur = max(0.0, s.end - s.start)
            out.append(max(0.0, dur - union_length([(self.spans[k].start, self.spans[k].end) for k in kids[i]])))
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one span on this host (no Spark involved)."""
    tr = Tracer(None, True)
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t0) / n
