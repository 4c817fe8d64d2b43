"""S11 query-log sink: timestamp | status + query text appended per call
(query_interface.rs:28-52)."""

from __future__ import annotations

import glob
import re
import threading

import pytest

from graph_loom_spark.cypher.ast import CypherError
from graph_loom_spark.interface import log_query
from graph_loom_spark.result import QueryOutcome


def test_log_query_ok_and_err(tmp_path):
    d = str(tmp_path / "logs")
    out = QueryOutcome(rows=[], affected_nodes=2, affected_relationships=1, mutated=True)
    log_query("CREATE (n:X)", out, None, d, dt_ms=12.4)
    log_query("BROKEN", None, "parse error", d, dt_ms=3.0)
    [path] = glob.glob(f"{d}/queries_*.log")
    text = open(path).read()
    assert "OK mutated=true nodes=2 rels=1 dt_ms=12" in text
    assert "CREATE (n:X)" in text
    assert "ERR parse error dt_ms=3" in text
    assert "BROKEN" in text


def test_execute_and_log_records_latency(session, tmp_path):
    d = str(tmp_path / "logs")
    session.execute_and_log('CREATE (n:X {k:"1"})', log_dir=d)
    with pytest.raises(CypherError):
        session.execute_and_log("NOT A QUERY", log_dir=d)
    [path] = glob.glob(f"{d}/queries_*.log")
    status = [line for line in open(path).read().splitlines() if " | " in line]
    assert len(status) == 2
    assert status[0].split(" | ")[1].startswith("OK mutated=true")
    assert status[1].split(" | ")[1].startswith("ERR unrecognized statement")
    for line in status:
        assert re.search(r" dt_ms=\d+$", line), line


def test_concurrent_appends_keep_entries_whole(tmp_path):
    d = str(tmp_path / "logs")
    out = QueryOutcome(rows=[], affected_nodes=0, affected_relationships=0, mutated=False)
    query = "MATCH (n:X) RETURN n " + "x" * 4000

    def worker():
        for _ in range(25):
            log_query(query, out, None, d, dt_ms=1.0)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    [path] = glob.glob(f"{d}/queries_*.log")
    entries = [e for e in open(path).read().split("\n\n") if e]
    assert len(entries) == 100
    assert all(e.endswith(query) and " | OK " in e for e in entries)
