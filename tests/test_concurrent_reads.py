"""Read-only requests share the server, writes run alone, abandoned reads
are cancelled; and node variables carry their scanned rows through the
Cypher binding table without changing what a query returns."""

from __future__ import annotations

import pathlib
import random
import sys
import threading
import time

import pytest

from graph_loom_spark.graph import PropertyGraph
from graph_loom_spark.interface import CypherSession, is_read_only
from graph_loom_spark.result import QueryOutcome
from graph_loom_spark.serve import QueryServer, RWLock

PKG = pathlib.Path(__file__).resolve().parent.parent / "graph_loom_spark"
SF_DIR = "/root/testdata/sf0.001"

# the seven read shapes of the serving benchmark (point, 1-hop, 2-hop,
# numeric WHERE range, ORDER BY..LIMIT, DISTINCT, *1..2)
SERVE_READS = [
    ("MATCH (c:Customer {c_custkey:$k}) RETURN c", {"k": "7"}),
    ('MATCH (c:Customer {c_custkey:"7"})-[:PLACED]->(o:Order) RETURN o.o_orderkey', {}),
    (
        'MATCH (c:Customer {c_custkey:"7"})-[:PLACED]->(o:Order), '
        "(o)-[:HAS_LINE]->(l:Lineitem) RETURN l.l_partkey",
        {},
    ),
    (
        "MATCH (o:Order) WHERE o.o_totalprice > $lo AND o.o_totalprice < $hi RETURN o.o_orderkey",
        {"lo": "100000", "hi": "160000"},
    ),
    (
        "MATCH (o:Order) WHERE o.o_custkey = $k RETURN o.o_totalprice "
        "ORDER BY o.o_totalprice DESC LIMIT 3",
        {"k": "7"},
    ),
    ('MATCH (c:Customer {c_custkey:"7"})-[:PLACED]->(o:Order) RETURN DISTINCT o.o_orderpriority', {}),
    ('MATCH (c:Customer {c_custkey:"7"})-[*1..2]->(x) RETURN id(x)', {}),
]

WRITES = [
    'CREATE (n:BenchTag {bid:"1", val:"0"})',
    'MATCH (n:BenchTag {bid:"1"}) SET n.val = "2"',
    'MATCH (n:BenchTag {bid:"1"}) DETACH DELETE n',
    "MATCH (n:BenchTag) DELETE n",
    'MATCH (n:BenchTag {bid:"1"}) REMOVE n.val',
    "MATCH (n:BenchTag) SET n:Other",
    "MATCH (a:P), (b:P) WHERE id(a) < id(b) MERGE (a)-[:R]->(b)",  # legacy MATCH..MERGE
    'MATCH (a:P {k:"1"})-[:R]->(b:P) MERGE (a)-[:S]->(b)',
    'MATCH (a:P {k:"1"}), (b:P {k:"2"}) CREATE (a)-[:R]->(b)',
    'MATCH (p:Person) RETURN p; CREATE (q:Person {name:"x"})',  # read then write
    'CREATE (q:Person {name:"x"}); MATCH (p:Person) RETURN p',
    'CREATE NODE Person {name:"x"}',
    "DELETE NODE 0190f5a0-0000-7000-8000-000000000000",
    "MATCH (n RETURN n",  # does not parse
    "THIS IS NOT A QUERY",
    "",
    " ; ",
]

READS = [q for q, _ in SERVE_READS] + [
    'MATCH (n:BenchTag {bid:"1"}) RETURN n.val',  # the write cycle's read-back
    "MATCH (s:Supplier) WITH s ORDER BY s.s_name SKIP 1 LIMIT 5",
    "MATCH (a:Region), (b:Region) WHERE id(a) < id(b) RETURN id(b)",
    "OPTIONAL MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN o",
    "MATCH (p:Person) RETURN p; MATCH (q:Person) RETURN q.name",
    "MATCH NODE Person;",
    'MATCH NODE Person {role:"Engineer"}',
    "MATCH REL KNOWS",
]


@pytest.mark.parametrize("query", READS)
def test_is_read_only_accepts_reads(query):
    assert is_read_only(query)


@pytest.mark.parametrize("query", WRITES)
def test_is_read_only_rejects_writes_and_unknown_text(query):
    assert not is_read_only(query)


def test_no_session_conf_writes_on_the_query_path():
    paths = sorted((PKG / "cypher").glob("*.py")) + [PKG / "serve.py", PKG / "interface.py"]
    for path in paths:
        assert "conf.set" not in path.read_text(), path.name


# ------------------------------------------------------------ lock / pool
class _Recorder:
    """Session double: every execution waits ``hold_s`` (reads also meet
    on an optional barrier) and records its (start, end, kind)."""

    def __init__(self, hold_s: float = 0.0, barrier: threading.Barrier | None = None):
        self.hold_s = hold_s
        self.barrier = barrier
        self.intervals: list[tuple[float, float, str]] = []
        self._mu = threading.Lock()

    def execute(self, query, params=None):
        kind = "read" if is_read_only(query) else "write"
        t0 = time.perf_counter()
        if self.barrier is not None and kind == "read":
            self.barrier.wait()
        time.sleep(self.hold_s)
        with self._mu:
            self.intervals.append((t0, time.perf_counter(), kind))
        return QueryOutcome()

    def execute_and_log(self, query, params=None, log_dir=None):
        return self.execute(query, params)


def _concurrently(fns):
    out = [None] * len(fns)

    def call(i):
        out[i] = fns[i]()

    threads = [threading.Thread(target=call, args=(i,)) for i in range(len(fns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not any(t.is_alive() for t in threads)
    return out


def test_two_reads_run_at_the_same_time(tmp_path):
    # each read waits for the other: a server that runs one request at a
    # time breaks the barrier after its timeout and answers 400
    sess = _Recorder(barrier=threading.Barrier(2, timeout=10))
    qs = QueryServer(sess, timeout_s=30, log_dir=str(tmp_path))
    body = {"query": "MATCH (n:X) RETURN n", "log": False}
    codes = _concurrently([lambda: qs.handle_query(body), lambda: qs.handle_query(body)])
    assert [c for c, _ in codes] == [200, 200], codes


def test_a_write_never_overlaps_another_request(tmp_path):
    sess = _Recorder(hold_s=0.15)
    qs = QueryServer(sess, timeout_s=30, log_dir=str(tmp_path))
    queries = ["MATCH (n:X) RETURN n"] * 4 + ['CREATE (n:X {k:"1"})', 'MATCH (n:X) SET n.k = "2"']
    random.Random(3).shuffle(queries)
    codes = _concurrently([lambda q=q: qs.handle_query({"query": q, "log": False}) for q in queries])
    assert all(c == 200 for c, _ in codes), codes
    ivs = sess.intervals
    assert sorted(k for *_, k in ivs) == ["read"] * 4 + ["write"] * 2
    for i, (s1, e1, k1) in enumerate(ivs):
        for s2, e2, k2 in ivs[i + 1 :]:
            if "write" in (k1, k2):
                assert e1 <= s2 or e2 <= s1, ivs


def test_a_waiting_writer_keeps_new_readers_out():
    lock = RWLock()
    order: list[str] = []
    first_in, writer_waiting = threading.Event(), threading.Event()
    release = threading.Event()

    def reader(name, hold):
        with lock.shared():
            order.append(name)
            if hold:
                first_in.set()
                release.wait(10)

    def writer():
        writer_waiting.set()
        with lock.exclusive():
            order.append("w")

    r1 = threading.Thread(target=reader, args=("r1", True))
    r1.start()
    assert first_in.wait(10)
    w = threading.Thread(target=writer)
    w.start()
    assert writer_waiting.wait(10)
    time.sleep(0.1)  # the writer is now queued behind r1
    r2 = threading.Thread(target=reader, args=("r2", False))
    r2.start()
    time.sleep(0.2)
    assert order == ["r1"]  # neither the writer nor the late reader got in
    release.set()
    for t in (r1, w, r2):
        t.join(10)
        assert not t.is_alive()
    assert order == ["r1", "w", "r2"]


def test_lock_stress_never_mixes_a_writer_with_anyone():
    lock, mu = RWLock(), threading.Lock()
    inside = {"r": 0, "w": 0}
    bad: list[dict] = []

    def enter(side):
        with mu:
            inside[side] += 1
            if inside["w"] > 1 or (inside["w"] and inside["r"]):
                bad.append(dict(inside))

    def leave(side):
        with mu:
            inside[side] -= 1

    def worker(seed):
        rng = random.Random(seed)
        for _ in range(200):
            side = "w" if rng.random() < 0.2 else "r"
            with lock.exclusive() if side == "w" else lock.shared():
                enter(side)
                time.sleep(rng.random() * 1e-4)
                leave(side)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert bad == [] and inside == {"r": 0, "w": 0}


class _SlowSparkRead:
    """Session double over a real SparkContext: a read runs one slow
    Spark job (and keeps its error), a write runs a quick one."""

    def __init__(self, spark):
        self.graph = PropertyGraph.empty(spark)
        self.read_error: str | None = None

    def execute(self, query, params=None):
        sc = self.graph.spark.sparkContext
        if is_read_only(query):
            try:
                sc.parallelize([0], 1).map(lambda x: time.sleep(60) or x).count()
            except Exception as e:
                self.read_error = str(e)
                raise
        else:
            assert self.graph.spark.range(3).count() == 3
        return QueryOutcome()

    def execute_and_log(self, query, params=None, log_dir=None):
        return self.execute(query, params)


def test_timed_out_read_is_cancelled_and_the_next_write_runs(spark, tmp_path):
    sess = _SlowSparkRead(spark)
    qs = QueryServer(sess, timeout_s=3, log_dir=str(tmp_path))
    code, body = qs.handle_query({"query": "MATCH (n:X) RETURN n", "log": False})
    assert (code, body) == (504, "query timeout")
    # the write needs the exclusive lock, so it starts only once the
    # abandoned read has ended; uncancelled, that read holds it for 60 s
    t0 = time.perf_counter()
    code, _ = qs.handle_query({"query": 'CREATE (n:X {k:"1"})', "log": False})
    assert code == 200
    assert time.perf_counter() - t0 < 3
    assert sess.read_error is not None and "cancel" in sess.read_error.lower()


def test_cancelled_deep_walk_frees_its_checkpoints(session, monkeypatch):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from graph_loom_spark.cypher import compiler

    for k in "1234":
        session.execute(f'CREATE (n:X {{k:"{k}"}})')
    for a, b in ("12", "23", "34"):
        session.execute(f'MATCH (a:X {{k:"{a}"}}), (b:X {{k:"{b}"}}) CREATE (a)-[:R]->(b)')
    sc = session.graph.spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())

    # the *1..3 hop loop pins the adjacency, then the start frontier; the
    # frontier's job sleeps, and is cancelled by the read's job tag
    slow = F.udf(lambda x: time.sleep(60) or True, T.BooleanType()).asNondeterministic()
    frontier_started = threading.Event()
    calls = []
    orig = compiler._tracked_checkpoint

    def slowed(df, tracked):
        calls.append(df)
        if len(calls) == 2:
            frontier_started.set()
            df = df.filter(slow(F.lit(0)))
        return orig(df, tracked)

    monkeypatch.setattr(compiler, "_tracked_checkpoint", slowed)
    errors = []

    def read():
        sc.addJobTag("deep-walk")
        try:
            session.execute('MATCH (a:X {k:"1"})-[*1..3]->(b) RETURN b.k')
        except Exception as e:
            errors.append(str(e))
        finally:
            sc.removeJobTag("deep-walk")

    t = threading.Thread(target=read)
    t.start()
    assert frontier_started.wait(60)
    time.sleep(0.5)  # the adjacency is pinned; the frontier job runs
    while t.is_alive():
        sc.cancelJobsWithTag("deep-walk")
        t.join(0.1)
    assert errors and "cancel" in errors[0].lower()
    assert len(sc._jsc.getPersistentRDDs()) <= before


# ------------------------------------------------- real-Spark differential
def _rows(body):
    return sorted(
        (
            r.get("kind"),
            r.get("id"),
            r.get("label"),
            tuple(sorted((r.get("metadata") or {}).items())),
            r.get("info"),
        )
        for r in body["rows"]
    )


def test_concurrent_reads_return_the_sequential_rows(spark, tmp_path):
    from graph_loom_spark.io.tpch_graph import build_graph

    qs = QueryServer(CypherSession(build_graph(spark, SF_DIR)), timeout_s=600, log_dir=str(tmp_path))

    def ask(q, p):
        code, body = qs.handle_query({"query": q, "params": p, "log": False})
        assert code == 200, body
        return _rows(body)

    expected = [ask(q, p) for q, p in SERVE_READS]
    assert all(expected[:6]), "every shape but the id walk should match rows at sf0.001"

    def client(seed):
        order = list(range(len(SERVE_READS)))
        random.Random(seed).shuffle(order)
        return {i: ask(*SERVE_READS[i]) for i in order}

    for got in _concurrently([lambda s=s: client(s) for s in range(4)]):
        assert [got[i] for i in range(len(SERVE_READS))] == expected


# ------------------------------------------------------------ carried rows
def test_set_then_return_reads_the_written_value(session):
    session.execute('CREATE (n:X {k:"1", v:"1"})')
    out = session.execute('MATCH (n:X {k:"1"}) SET n.v = "2" RETURN n.v')
    assert [r.info for r in out.rows] == ["2"]
    # the WHERE makes `n` carried; the SET must drop its stale row
    out = session.execute('MATCH (n:X) WHERE n.k = "1" SET n.v = "3" RETURN n.v')
    assert [r.info for r in out.rows] == ["3"]


def test_detach_delete_then_dump_has_no_rows(session):
    # `DETACH DELETE n RETURN n` parses as MATCH..RETURN (the reference
    # splits RETURN off first), so the read after the delete is the
    # no-RETURN dump of the bound variables; the WHERE makes `n` carried
    session.execute('CREATE (n:X {k:"1"})')
    session.execute('CREATE (n:X {k:"2"})')
    assert session.execute('MATCH (n:X) WHERE n.k = "1" DETACH DELETE n').rows == []
    assert [r.info for r in session.execute("MATCH (n:X) RETURN n.k").rows] == ["2"]


def test_carried_rows_answer_where_order_by_return_and_with(session):
    for k, v in (("1", "b"), ("2", "a"), ("3", "c")):
        session.execute(f'CREATE (n:X {{k:"{k}", v:"{v}"}})')
    session.execute('MATCH (a:X {k:"1"}), (b:X {k:"2"}) CREATE (a)-[:R]->(b)')
    session.execute('MATCH (a:X {k:"2"}), (b:X {k:"3"}) CREATE (a)-[:R]->(b)')
    out = session.execute('MATCH (n:X) WHERE n.k > "1" RETURN n.v ORDER BY n.v DESC')
    assert [r.info for r in out.rows] == ["c", "a"]
    out = session.execute("MATCH (a:X)-[:R]->(b:X) WHERE a.v = \"b\" RETURN b")
    assert [(r.label, r.properties) for r in out.rows] == [("X", {"k": "2", "v": "a"})]
    out = session.execute("MATCH (n:X) WITH n ORDER BY n.v LIMIT 2")
    assert sorted(r.properties["v"] for r in out.rows) == ["a", "b"]
    # a var-length right variable overwrites the carried binding of `b`
    out = session.execute('MATCH (b:X {k:"1"}), (a:X {k:"1"})-[*1..2]->(b) RETURN b.k')
    assert sorted(r.info for r in out.rows) == ["2", "3"]


def test_single_label_scan_for_where_and_return(spark):
    from graph_loom_spark.io.tpch_graph import build_graph

    df = CypherSession(build_graph(spark, SF_DIR)).execute_df(
        'MATCH (o:Order) WHERE o.o_totalprice > "1" RETURN o.o_orderkey'
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("orders.parquet") == 1, plan
    assert "Join" not in plan, plan
