"""Statement router + session — the engine's public query entry point.

Mirrors the reference's prefix-dispatch router (query_interface.rs:77-143):
``;``-separated statements execute sequentially, each routed to the legacy
pairwise MATCH..MERGE fast path, the Cypher engine, or a legacy DSL
handler; outcomes aggregate counts and OR the mutated flag.
"""

from __future__ import annotations

import os
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graph_loom_spark.cypher import ast
from graph_loom_spark.cypher.ast import CypherError
from graph_loom_spark.cypher.compiler import CypherExecutor
from graph_loom_spark.cypher.parser import parse
from graph_loom_spark.graph import PropertyGraph
from graph_loom_spark.legacy import dsl
from graph_loom_spark.result import QueryOutcome, ResultRow

__all__ = ["CypherSession", "QueryOutcome", "ResultRow", "CypherError", "is_read_only"]

_LOG_LOCK = threading.Lock()  # one append at a time: a server logs from several workers


def log_query(
    query: str, outcome: QueryOutcome | None, error: str | None, log_dir: str, dt_ms: float
) -> None:
    """S11 query-log sink (query_interface.rs:28-52): append
    ``timestamp | status dt_ms=<latency>`` (the latency as server.rs:163
    logs it) + query text to ``queries_YYYYMMDD.log``."""
    ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
    if error is None and outcome is not None:
        status = (
            f"OK mutated={str(outcome.mutated).lower()} "
            f"nodes={outcome.affected_nodes} rels={outcome.affected_relationships}"
        )
    else:
        status = f"ERR {error}"
    status += f" dt_ms={dt_ms:.0f}"
    with _LOG_LOCK:
        os.makedirs(log_dir, exist_ok=True)
        path = os.path.join(log_dir, time.strftime("queries_%Y%m%d.log", time.gmtime()))
        with open(path, "a") as f:
            f.write(f"{ts} | {status}\n{query.strip()}\n\n")


def _is_cypher(stmt: str, upper: str) -> bool:
    """Cypher-vs-legacy detection (query_interface.rs:96-109)."""
    return (
        (upper.startswith("MATCH ") and stmt[6:].lstrip().startswith("("))
        or (upper.startswith("OPTIONAL MATCH ") and stmt[15:].lstrip().startswith("("))
        or upper.startswith("MERGE ")
        or upper.startswith("RETURN ")
        or upper.startswith("SET ")
        or upper.startswith("REMOVE ")
        or (
            upper.startswith("DELETE ")
            and not upper.startswith("DELETE NODE ")
            and not upper.startswith("DELETE REL ")
        )
        or upper.startswith("DETACH DELETE ")
        or (upper.startswith("CREATE") and stmt[6:].lstrip().startswith("("))
    )


def _cypher_mutates(upper: str) -> bool:
    """Conservative mutated flag (query_interface.rs:112-117)."""
    return (
        upper.startswith("CREATE")
        or upper.startswith("MERGE ")
        or upper.startswith("SET ")
        or upper.startswith("REMOVE ")
        or (
            upper.startswith("DELETE ")
            and not upper.startswith("DELETE NODE ")
            and not upper.startswith("DELETE REL ")
        )
        or upper.startswith("DETACH DELETE ")
    )


def _collect_result(df: DataFrame) -> list[ResultRow]:
    out: list[ResultRow] = []
    for r in df.collect():
        if r["kind"] == "node":
            out.append(ResultRow.node(r["id"], r["label"], r["properties"]))
        elif r["kind"] == "rel":
            out.append(ResultRow.rel(r["id"], r["src"], r["dst"], r["label"], r["properties"]))
        else:
            out.append(ResultRow.info_row(r["info"]))
    return out


class CypherSession:
    """A mutable graph handle + query executor (the Spark-native analogue
    of the reference's broker-owned GraphDatabase)."""

    def __init__(self, graph: PropertyGraph | None = None, spark: SparkSession | None = None):
        if graph is None:
            if spark is None:
                raise ValueError("need a PropertyGraph or a SparkSession")
            graph = PropertyGraph.empty(spark)
        self.graph = graph

    # ------------------------------------------------------------ execute
    def execute(self, query: str, params: dict[str, str] | None = None) -> QueryOutcome:
        trimmed = query.strip()
        if not trimmed:
            raise CypherError("empty query")
        outcome = QueryOutcome()
        for stmt in trimmed.split(";"):
            stmt = stmt.strip()
            if not stmt:
                continue
            rows, n_cnt, r_cnt, mutated = self._route(stmt, params)
            outcome.rows.extend(rows)
            outcome.affected_nodes += n_cnt
            outcome.affected_relationships += r_cnt
            outcome.mutated = outcome.mutated or mutated
        return outcome

    def execute_and_log(
        self,
        query: str,
        params: dict[str, str] | None = None,
        log_dir: str = "assets/logs",
    ) -> QueryOutcome:
        """``execute`` + the S11 log sink (reference execute_and_log)."""
        t0 = time.perf_counter()
        try:
            outcome = self.execute(query, params)
        except Exception as e:
            log_query(query, None, str(e), log_dir, (time.perf_counter() - t0) * 1000)
            raise
        log_query(query, outcome, None, log_dir, (time.perf_counter() - t0) * 1000)
        return outcome

    def execute_df(self, query: str, params: dict[str, str] | None = None) -> DataFrame:
        """Run all statements; return the LAST statement's result as an
        uncollected DataFrame (RESULT_SCHEMA). The last statement must
        route to the Cypher engine."""
        trimmed = query.strip()
        stmts = [s.strip() for s in trimmed.split(";") if s.strip()]
        if not stmts:
            raise CypherError("empty query")
        for stmt in stmts[:-1]:
            self._route(stmt, params)
        last = stmts[-1]
        if not _is_cypher(last, last.upper()):
            raise CypherError("execute_df requires a Cypher final statement")
        return CypherExecutor(self.graph).execute(last, params)

    # -------------------------------------------------------------- router
    def _route(
        self, stmt: str, params: dict[str, str] | None
    ) -> tuple[list[ResultRow], int, int, bool]:
        run, _ = _dispatch(stmt)
        return run(self.graph, params)


_Handler = Callable[
    [PropertyGraph, "dict[str, str] | None"], "tuple[list[ResultRow], int, int, bool]"
]
_READ_CLAUSES = (ast.Match, ast.Where, ast.With, ast.Return)
# legacy DSL prefix -> (handler over the rest of the statement, only reads)
_LEGACY: tuple[tuple[str, Callable, bool], ...] = (
    ("CREATE NODE ", dsl.exec_create_node, False),
    ("CREATE REL ", dsl.exec_create_rel, False),
    ("MATCH NODE ", dsl.exec_match_node, True),
    ("MATCH REL ", dsl.exec_match_rel, True),
    ("DELETE NODE ", lambda g, rest: ([], dsl.exec_delete_node(g, rest), 0, True), False),
    ("DELETE REL ", lambda g, rest: ([], 0, dsl.exec_delete_rel(g, rest), True), False),
)


def _dispatch(stmt: str) -> tuple[_Handler, bool]:
    """The one routing table (query_interface.rs:96-117): the handler
    that runs ``stmt`` on a graph, and whether it only reads — Cypher
    whose parsed clauses are all MATCH/WHERE/WITH/RETURN, or a legacy
    ``MATCH NODE``/``MATCH REL``. Raises ``CypherError`` for a Cypher
    statement that does not parse and for unrecognized text."""
    upper = stmt.upper()
    if upper.startswith("MATCH (") and " MERGE " in upper:
        return (lambda g, params: dsl.exec_cypher_match_merge(g, stmt)), False
    if _is_cypher(stmt, upper):
        clauses = parse(stmt)

        def run_cypher(g: PropertyGraph, params: dict[str, str] | None):
            df = CypherExecutor(g).execute(stmt, params, clauses)
            return _collect_result(df), 0, 0, _cypher_mutates(upper)

        return run_cypher, all(isinstance(c, _READ_CLAUSES) for c in clauses)
    for prefix, handler, reads in _LEGACY:
        if upper.startswith(prefix):
            rest = stmt[len(prefix) :]
            return (lambda g, params: handler(g, rest)), reads
    raise CypherError(f"unrecognized statement: {stmt}")


def is_read_only(query: str) -> bool:
    """True when no ``;``-part of ``query`` can change the graph, by the
    routing of :func:`_dispatch`. Anything else is a write: a mutation,
    the legacy ``MATCH … MERGE`` path, text that does not parse or is not
    recognized, an empty query. A server may run read-only requests side
    by side."""
    stmts = [s.strip() for s in query.strip().split(";") if s.strip()]
    try:
        return bool(stmts) and all(_dispatch(s)[1] for s in stmts)
    except Exception:  # it fails in execute; route it as a write
        return False
