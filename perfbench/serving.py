"""The ``serve`` workload: Cypher over HTTP through ``QueryServer``.

One server over the sf0.01-sized projection, three phases in a run:

1. read phase: two keep-alive client connections in a closed loop POST
   rounds of ten reads: the seven shapes (point lookup, 1-hop, 2-hop,
   numeric WHERE range, ORDER BY..LIMIT, DISTINCT, ``*1..2``), then the
   three shapes whose keys are ``$params`` (point, range, ORDER BY..LIMIT)
   once more with fresh keys. Customer keys come from a seeded skewed
   (Zipf) distribution. So some query texts repeat and most do not: the
   three ``$param`` texts of a round's second pass repeat (3 of a
   round's 14 requests, the hit base of a plan cache), and now and then
   a hot key repeats a whole request (that of a result cache). Every
   answer is compared with a DuckDB answer over the same parquet,
   computed before timing.
2. write phase: one connection runs a fixed statement cycle (CREATE,
   MATCH..SET, read-back, DETACH DELETE of the node from two cycles
   earlier, whose TAGGED edge the delete cascades over); one writer keeps
   the mutation order, and so the engine's every-8-mutations checkpoint,
   identical. The run budget has no room for the MATCH..CREATE edge
   statement (10-15 s here) or a hop read: the tagged nodes present
   before the first cycle are added through ``PropertyGraph`` directly,
   untimed, one call per node or edge. Those are seven mutations, so the
   first cycle's CREATE is the eighth and carries the checkpoint: the
   spike shows in the write tail on every run.
3. snapshot: an explicit ``PropertyGraph.save`` + ``load``, then a check
   that the reloaded graph holds exactly the acknowledged live set.
   Autosave stays off: it is time-triggered, and it would skip
   ``MATCH..SET``/``MATCH..CREATE`` because the engine's mutated flag is
   prefix-based (reference behaviour), so it cannot stand in for a save.

The engine's Cypher subset shapes the generator: path-endpoint property
maps are compared raw and never resolve ``$params``, so endpoint keys are
inlined as literals and ``$params`` appear only in WHERE and node-only
patterns; a path has one segment, so the 2-hop read is two comma-joined
patterns; node-only MERGE is rejected, so the cycle uses CREATE.
"""

from __future__ import annotations

import collections
import http.client
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from datagen import SERVE

READ_KINDS = ("point", "hop1", "hop2", "range", "topk", "distinct", "varlen")
# one round of reads: every shape, then the $param shapes again
ROUND_KINDS = READ_KINDS + ("point", "range", "topk")
ZIPF_A = 1.1  # key skew: about one draw in ten hits the hottest customer
RANGE_WIDTH = 3000  # o_totalprice band: ~90 of 15,000 orders


@dataclass
class Request:
    kind: str
    query: str
    params: dict
    expect: object = None  # normalised answer, see ``normalise``
    ordered: bool = False


def _nid(prefix: str, *keys: int) -> str:
    return prefix + "".join(f":{k:012d}" for k in keys)


def spark_str(v) -> str:
    """A parquet value as the engine's ``cast(... as string)`` prints it."""
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)  # Java's Double.toString for the magnitudes generated
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def read_requests(seed: int, rounds: int, scale=SERVE) -> list[Request]:
    """``rounds`` rounds of read requests (``ROUND_KINDS`` in order), keys
    from a seeded skewed distribution."""
    rng = np.random.default_rng([seed, 1])
    perm = rng.permutation(scale.customers)
    out = []
    for i in range(rounds * len(ROUND_KINDS)):
        kind = ROUND_KINDS[i % len(ROUND_KINDS)]
        ck = int(perm[(int(rng.zipf(ZIPF_A)) - 1) % scale.customers])
        if kind == "point":
            out.append(Request(kind, "MATCH (c:Customer {c_custkey:$k}) RETURN c", {"k": str(ck)}))
        elif kind == "hop1":
            out.append(Request(kind, f'MATCH (c:Customer {{c_custkey:"{ck}"}})-[:PLACED]->(o:Order) RETURN o.o_orderkey', {}))
        elif kind == "hop2":
            out.append(Request(
                kind,
                f'MATCH (c:Customer {{c_custkey:"{ck}"}})-[:PLACED]->(o:Order), '
                "(o)-[:HAS_LINE]->(l:Lineitem) RETURN l.l_partkey",
                {},
            ))
        elif kind == "range":
            lo = int(rng.integers(1000, 500000 - RANGE_WIDTH))
            out.append(Request(
                kind,
                "MATCH (o:Order) WHERE o.o_totalprice > $lo AND o.o_totalprice < $hi RETURN o.o_orderkey",
                {"lo": str(lo), "hi": str(lo + RANGE_WIDTH)},
            ))
        elif kind == "topk":
            out.append(Request(
                kind,
                "MATCH (o:Order) WHERE o.o_custkey = $k RETURN o.o_totalprice "
                "ORDER BY o.o_totalprice DESC LIMIT 3",
                {"k": str(ck)},
                ordered=True,
            ))
        elif kind == "distinct":
            out.append(Request(kind, f'MATCH (c:Customer {{c_custkey:"{ck}"}})-[:PLACED]->(o:Order) RETURN DISTINCT o.o_orderpriority', {}))
        else:
            out.append(Request(kind, f'MATCH (c:Customer {{c_custkey:"{ck}"}})-[*1..2]->(x) RETURN id(x)', {}))
    return out


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def answer_reads(con, reqs: list[Request]) -> None:
    """Fill ``expect`` for every request from DuckDB."""
    for r in reqs:
        p = r.params
        if r.kind == "point":
            cur = con.execute("SELECT * FROM customer WHERE c_custkey = ?", [int(p["k"])])
            cols = [d[0] for d in cur.description]
            r.expect = [
                ("node", _nid("C", row[0]), "Customer", tuple(sorted((c, spark_str(v)) for c, v in zip(cols, row))))
                for row in cur.fetchall()
            ]
            continue
        ck = None if r.kind == "range" else _key(r)
        if r.kind == "hop1":
            rows = con.execute("SELECT o_orderkey FROM orders WHERE o_custkey = ?", [ck]).fetchall()
        elif r.kind == "hop2":
            rows = con.execute(
                "SELECT l_partkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = ?", [ck]
            ).fetchall()
        elif r.kind == "range":
            rows = con.execute(
                "SELECT o_orderkey FROM orders WHERE o_totalprice > ? AND o_totalprice < ?",
                [float(p["lo"]), float(p["hi"])],
            ).fetchall()
        elif r.kind == "topk":
            rows = con.execute(
                "SELECT o_totalprice FROM orders WHERE o_custkey = ? ORDER BY o_totalprice DESC LIMIT 3", [ck]
            ).fetchall()
        elif r.kind == "distinct":
            rows = con.execute("SELECT DISTINCT o_orderpriority FROM orders WHERE o_custkey = ?", [ck]).fetchall()
        else:
            rows = con.execute(
                "SELECT 'N:' || lpad(CAST(c_nationkey AS VARCHAR), 12, '0') FROM customer WHERE c_custkey = $1 "
                "UNION SELECT 'R:' || lpad(CAST(n_regionkey AS VARCHAR), 12, '0') FROM customer "
                "JOIN nation ON n_nationkey = c_nationkey WHERE c_custkey = $1 "
                "UNION SELECT 'O:' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') FROM orders WHERE o_custkey = $1 "
                "UNION SELECT 'L:' || lpad(CAST(l_orderkey AS VARCHAR), 12, '0') || ':' || "
                "lpad(CAST(l_linenumber AS VARCHAR), 12, '0') || ':0001' "
                "FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = $1",
                [ck],
            ).fetchall()
        vals = [spark_str(row[0]) for row in rows]
        r.expect = vals if r.ordered else sorted(vals)


def _key(r: Request) -> int:
    if "k" in r.params:
        return int(r.params["k"])
    return int(r.query.split('c_custkey:"', 1)[1].split('"', 1)[0])


def normalise(body, ordered: bool):
    """A response body in the form ``expect`` uses: node rows as
    (kind, id, label, sorted props), info rows as their strings."""
    rows = body.get("rows") if isinstance(body, dict) else None
    if not isinstance(rows, list):
        return None
    if rows and all(r.get("kind") == "node" for r in rows):
        return sorted(
            ("node", r.get("id"), r.get("label"), tuple(sorted((r.get("metadata") or {}).items()))) for r in rows
        )
    vals = [r.get("info") for r in rows]
    return vals if ordered else sorted(v if v is not None else "" for v in vals)


def check_read(r: Request, status: int, body) -> bool:
    return status == 200 and normalise(body, r.ordered) == r.expect


# ---------------------------------------------------------------- writes
@dataclass
class WriteModel:
    """What the benchmark expects the graph to hold after each
    acknowledged write: live BenchTag nodes by ``bid`` with their value
    and tagging customer."""

    live: dict = field(default_factory=dict)  # bid -> (val, tagging custkey or None)
    deleted: set = field(default_factory=set)


@dataclass
class Statement:
    step: str  # create | set | readback | delete
    query: str
    params: dict
    bid: str
    ck: int
    val: str = ""

    @property
    def is_write(self) -> bool:
        return self.step in ("create", "set", "delete")


# BenchTag nodes present before the first cycle; the last two are tagged
# (the first cycle deletes "-2", so its delete cascades over an edge)
PRESEED = ("-5", "-4", "-3", "-2", "-1")
PRESEED_TAGGED = PRESEED[-2:]


def write_cycle(seed: int, i: int, scale=SERVE) -> list[Statement]:
    """The four statements of cycle ``i`` (bids are cycle numbers)."""
    rng = np.random.default_rng([seed, 2, i])
    ck = int(rng.integers(0, scale.customers))
    b, v, old = str(i), str(int(rng.integers(1, 10**6))), str(i - 2)
    return [
        Statement("create", f'CREATE (n:BenchTag {{bid:"{b}", val:"0"}})', {}, b, ck),
        Statement("set", f'MATCH (n:BenchTag {{bid:"{b}"}}) SET n.val = "{v}"', {}, b, ck, v),
        Statement("readback", "MATCH (n:BenchTag) WHERE n.bid = $b RETURN n.val", {"b": b}, b, ck, v),
        Statement("delete", f'MATCH (n:BenchTag {{bid:"{old}"}}) DETACH DELETE n', {}, old, ck),
    ]


def preseed_customers(seed: int, scale=SERVE) -> list[int]:
    rng = np.random.default_rng([seed, 3])
    return [int(c) for c in rng.integers(0, scale.customers, len(PRESEED_TAGGED))]


def preseed(graph, seed: int, model: WriteModel, scale=SERVE) -> None:
    """Add the ``PRESEED`` nodes and their TAGGED edges through
    ``PropertyGraph``, one mutation call per node or edge (seven in
    all), and record them in ``model``."""
    cks = preseed_customers(seed, scale)
    ids = {b: graph.add_nodes([("BenchTag", {"bid": b, "val": "0"})])[0] for b in PRESEED}
    for b, c in zip(PRESEED_TAGGED, cks):
        graph.add_edges([(f"C:{c:012d}", ids[b], "TAGGED", {})], check_endpoints=False)
    model.live.update({b: ("0", None) for b in PRESEED})
    model.live.update({b: ("0", c) for b, c in zip(PRESEED_TAGGED, cks)})


def apply_write(model: WriteModel, st: Statement, status: int, body) -> bool:
    """Check one cycle statement's answer and advance the model."""
    if status != 200 or not isinstance(body, dict):
        return False
    if st.step == "create":
        model.live[st.bid] = ("0", None)
        return any((r.get("metadata") or {}).get("bid") == st.bid for r in body.get("rows", []))
    if st.step == "set":
        model.live[st.bid] = (st.val, model.live[st.bid][1])
        return True
    if st.step == "readback":
        return normalise(body, False) == [st.val]
    model.live.pop(st.bid, None)
    model.deleted.add(st.bid)
    return True


def check_snapshot(model: WriteModel, tags: list[tuple], edges: list[tuple], n_nodes: int, n_edges: int, base: tuple) -> bool:
    """The reloaded graph holds exactly the acknowledged live set:
    ``tags`` are (bid, val) of BenchTag nodes, ``edges`` (custkey, bid)
    of TAGGED edges, ``base`` the projection's (nodes, edges)."""
    want_tags = sorted((b, v) for b, (v, _) in model.live.items())
    want_edges = sorted((c, b) for b, (_, c) in model.live.items() if c is not None)
    return (
        sorted(tags) == want_tags
        and sorted(edges) == want_edges
        and not (model.deleted & {b for b, _ in tags})
        and n_nodes == base[0] + len(model.live)
        and n_edges == base[1] + len(want_edges)
    )


# ---------------------------------------------------------------- client
class Client:
    """One keep-alive HTTP connection to the server."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=90)

    def post(self, query: str, params: dict, bench_id: int) -> tuple[int, object, float]:
        payload = json.dumps({"query": query, "params": params, "bench_id": bench_id})
        t0 = time.perf_counter()
        self.conn.request("POST", "/api/query", payload, {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        data = resp.read()
        dt = time.perf_counter() - t0
        try:
            body = json.loads(data)
        except ValueError:
            body = data.decode("utf-8", "replace")
        return resp.status, body, dt

    def close(self) -> None:
        self.conn.close()


@dataclass
class Op:
    kind: str  # read kind, write step, save or load
    write: bool
    start: float
    latency_s: float
    ok: bool
    rid: int | None = None
    query: str = ""
    params: dict = field(default_factory=dict)


class ServeRun:
    """State of one ``serve`` run: server, clients and recorded ops."""

    def __init__(self, graph, work: str, tracer):
        from graph_loom_spark.interface import CypherSession
        from graph_loom_spark.serve import QueryServer

        self.tracer = tracer
        self.server = QueryServer(CypherSession(graph), log_dir=os.path.join(work, "logs"))
        self.httpd = self.server.serve("127.0.0.1", 0)
        self.port = self.httpd.server_address[1]
        self.ops: list[Op] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.lineage: list[int] = []

    def next_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()

    def _record(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)
        if self.tracer.enabled:
            g = self.server.session.graph
            self.lineage.append(
                len(str(g.nodes._jdf.queryExecution().logical()).splitlines())
                + len(str(g.edges._jdf.queryExecution().logical()).splitlines())
            )

    def read_phase(self, reqs: list[Request], clients: int = 2) -> None:
        """Closed loop: ``clients`` connections each send the next request
        as soon as their previous one is answered, until every request
        of ``reqs`` is answered."""
        it = iter(reqs)
        errors: list[BaseException] = []

        def loop():
            c = Client(self.port)
            try:
                while True:
                    with self._lock:
                        r = next(it, None)
                    if r is None:
                        return
                    rid = self.next_id()
                    t0 = time.time()
                    status, body, dt = c.post(r.query, r.params, rid)
                    self._record(Op(r.kind, False, t0, dt, check_read(r, status, body), rid, r.query, r.params))
            except BaseException as e:  # surfaced after join
                errors.append(e)
            finally:
                c.close()

        threads = [threading.Thread(target=loop, name=f"pb-client-{i}") for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def write_phase(self, seed: int, model: WriteModel, cycles: int) -> None:
        """One connection runs ``cycles`` write cycles."""
        c = Client(self.port)
        try:
            for i in range(cycles):
                for st in write_cycle(seed, i):
                    rid = self.next_id()
                    t0 = time.time()
                    status, body, dt = c.post(st.query, st.params, rid)
                    self._record(Op(st.step, st.is_write, t0, dt, apply_write(model, st, status, body), rid, st.query, st.params))
        finally:
            c.close()


def repeat_fracs(ops: list[Op]) -> tuple[float, float]:
    """Shares of requests whose query text, and whose text plus params,
    were seen earlier in the run."""
    seen_t, seen_r, rt, rr = set(), set(), 0, 0
    reqs = [o for o in sorted(ops, key=lambda o: o.start) if o.rid is not None]
    for o in reqs:
        key = (o.query, tuple(sorted(o.params.items())))
        rt += o.query in seen_t
        rr += key in seen_r
        seen_t.add(o.query)
        seen_r.add(key)
    n = max(1, len(reqs))
    return rt / n, rr / n


def kind_counts(ops: list[Op]) -> dict:
    return dict(collections.Counter(o.kind for o in ops))
