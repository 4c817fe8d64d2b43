"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q

They check that the input generators are deterministic for a seed, that
every metric BENCHMARK.json names is produced and printed with its unit,
and that each correctness checker rejects a planted wrong answer.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import batch  # noqa: E402
import common  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import serving  # noqa: E402
import tracing  # noqa: E402

SPEC = common.load_spec()
TINY = datagen.Scale(customers=20, suppliers=3, parts=10, orders=40, lineitems=120, documents=30)


# ------------------------------------------------------------ determinism
def test_tables_are_deterministic_for_a_seed():
    a, b, c = datagen.tables(7, TINY), datagen.tables(7, TINY), datagen.tables(8, TINY)
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_lineitem_key_is_unique():
    li = datagen.tables(3, TINY)["lineitem"].to_pylist()
    keys = [(r["l_orderkey"], r["l_linenumber"]) for r in li]
    assert len(set(keys)) == len(keys)


def test_request_streams_are_deterministic_for_a_seed():
    def texts(seed):
        return [(r.query, r.params) for r in serving.read_requests(seed, 5, TINY)]

    assert texts(5) == texts(5)
    assert texts(5) != texts(6)
    assert [r.kind for r in serving.read_requests(5, 2, TINY)] == list(serving.ROUND_KINDS) * 2
    cyc = [(s.query, s.params) for s in serving.write_cycle(5, 3, TINY)]
    assert cyc == [(s.query, s.params) for s in serving.write_cycle(5, 3, TINY)]


def test_endpoint_keys_are_literals_and_params_only_in_where_or_node_patterns():
    for r in serving.read_requests(9, 7, TINY):
        if "-[" in r.query:  # a path: its endpoint maps never see $params
            head = r.query.split(" WHERE ")[0].split(" RETURN ")[0]
            assert "$" not in head, r.query


def test_data_set_written_once_per_seed(tmp_path):
    d = datagen.write(str(tmp_path / "d"), 4, TINY)
    first = os.path.getmtime(os.path.join(d, "orders.parquet"))
    datagen.write(d, 4, TINY)
    assert os.path.getmtime(os.path.join(d, "orders.parquet")) == first


# ---------------------------------------------------------------- metrics
def _spec_names(kind):
    return [m["name"] for m in SPEC[kind]]


def test_end_to_end_metrics_all_produced():
    vals = run.op_metrics(setup_s=1.0, typical=[0.1, 0.2, 0.3], slow=[0.5, 0.9], n_ops=5, wall=2.0)
    assert sorted(vals) == sorted(_spec_names("end_to_end"))
    assert (vals["p50_ms"], vals["mean_ms"], vals["throughput"]) == (200.0, 700.0, 2.5)


def test_a_round_of_reads_repeats_some_texts():
    reqs = serving.read_requests(3, 1, TINY)
    ops = [serving.Op(r.kind, False, float(i), 0.1, True, i, r.query, r.params) for i, r in enumerate(reqs)]
    text, full = serving.repeat_fracs(ops)
    assert text >= 3 / len(reqs) and full < 1.0


class NoSpark(tracing.Tracer):
    def spark_jobs(self):
        return {}


def test_per_layer_metrics_all_produced():
    tr = NoSpark(None, True)
    with tr.span("analytics.pagerank", group="pb-analytics-pagerank"):
        with tr.span("spark.checkpoint"):
            pass
    res = {"wall": 1.0, "detail": {"setup_build_s": 1.0, "funnel": [10]}, "run": None}
    vals = layers.per_layer("batch", tr, res, 2.0, {"jvm_peak_rss_mb": 900.0})
    assert set(_spec_names("per_layer")) <= set(vals)
    assert vals["analytics.pagerank_supersteps"] == 1


def test_checkpoint_time_includes_its_local_checkpoints():
    tr = NoSpark(None, True)
    tr.spans = [
        tracing.Span("graph.mutation", 0.0, 4.0),
        tracing.Span("graph.checkpoint", 1.0, 3.0, parent=0),
        tracing.Span("spark.checkpoint", 1.0, 3.0, parent=1),
    ]
    res = {"wall": 10.0, "detail": {"setup_build_s": 1.0, "funnel": [10]}, "run": None}
    vals = layers.per_layer("serve", tr, res, 2.0, {"jvm_peak_rss_mb": 900.0})
    assert (vals["graph.checkpoints"], vals["graph.checkpoint_pct"], vals["graph.mutation_pct"]) == (1, 20.0, 20.0)


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(trace):
    kind = "per_layer" if trace else "end_to_end"
    values = {n: 1.5 for n in _spec_names(kind)}
    out = json.loads(common.result_line(SPEC, trace, 3, 0, True, values))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    for m in SPEC[kind]:
        assert out["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


def test_result_line_refuses_a_missing_metric():
    values = {n: 1.0 for n in _spec_names("end_to_end")[1:]}
    with pytest.raises(KeyError):
        common.result_line(SPEC, False, 1, 0, True, values)


def test_self_time_excludes_children():
    tr = tracing.Tracer(None, True)
    tr.spans = [tracing.Span("a", 0.0, 10.0), tracing.Span("b", 2.0, 5.0, parent=0), tracing.Span("c", 4.0, 6.0, parent=0)]
    assert tr.self_times() == [6.0, 3.0, 2.0]


# --------------------------------------------------------------- checkers
def test_read_checker_rejects_a_wrong_answer():
    r = serving.Request("hop1", "q", {}, expect=["1", "2"])
    good = {"rows": [{"kind": "info", "info": "2"}, {"kind": "info", "info": "1"}]}
    bad = {"rows": [{"kind": "info", "info": "2"}, {"kind": "info", "info": "3"}]}
    assert serving.check_read(r, 200, good)
    assert not serving.check_read(r, 200, bad)
    assert not serving.check_read(r, 504, good)
    top = serving.Request("topk", "q", {}, expect=["3.0", "1.0"], ordered=True)
    assert not serving.check_read(top, 200, {"rows": [{"kind": "info", "info": "1.0"}, {"kind": "info", "info": "3.0"}]})


def test_read_answers_come_from_duckdb(tmp_path):
    d = datagen.write(str(tmp_path / "d"), 2, TINY)
    reqs = serving.read_requests(2, 14, TINY)
    serving.answer_reads(serving.duck(d), reqs)
    point = next(r for r in reqs if r.kind == "point")
    (kind, nid, label, props), = point.expect
    assert (kind, label, nid) == ("node", "Customer", f"C:{int(point.params['k']):012d}")
    assert dict(props)["c_custkey"] == point.params["k"]


def test_write_checkers_reject_wrong_answers():
    m = serving.WriteModel()
    cyc = serving.write_cycle(1, 0, TINY)
    by = {s.step: s for s in cyc}
    assert serving.apply_write(m, by["create"], 200, {"rows": [{"kind": "node", "metadata": {"bid": "0"}}]})
    assert serving.apply_write(m, by["set"], 200, {"rows": []})
    val = by["set"].val
    assert serving.apply_write(m, by["readback"], 200, {"rows": [{"kind": "info", "info": val}]})
    assert not serving.apply_write(m, by["readback"], 200, {"rows": [{"kind": "info", "info": "0"}]})
    assert serving.apply_write(m, by["delete"], 200, {"rows": []})
    assert "-2" in m.deleted and "-2" in serving.PRESEED_TAGGED
    assert not serving.apply_write(m, by["create"], 400, "error")


def test_snapshot_checker_rejects_a_resurrected_or_missing_node():
    m = serving.WriteModel(live={"1": ("7", 3), "2": ("5", None)}, deleted={"0"})
    base = (100, 200)
    ok = [("1", "7"), ("2", "5")]
    assert serving.check_snapshot(m, ok, [(3, "1")], 102, 201, base)
    assert not serving.check_snapshot(m, ok + [("0", "0")], [(3, "1")], 103, 201, base)
    assert not serving.check_snapshot(m, [("1", "0"), ("2", "5")], [(3, "1")], 102, 201, base)
    assert not serving.check_snapshot(m, ok, [(3, "1"), (4, "2")], 102, 202, base)
    assert not serving.check_snapshot(m, [], [], 100, 200, base)


def test_write_model_follows_one_cycle():
    m = serving.WriteModel(live={"-2": ("0", 9), "-1": ("0", 8)})
    replies = {"create": {"rows": [{"kind": "node", "metadata": {"bid": "0"}}]}, "set": {"rows": []}, "delete": {"rows": []}}
    for st in serving.write_cycle(1, 0, TINY):
        body = {"rows": [{"kind": "info", "info": st.val}]} if st.step == "readback" else replies[st.step]
        assert serving.apply_write(m, st, 200, body)
    val = serving.write_cycle(1, 0, TINY)[1].val
    assert m.live == {"-1": ("0", 8), "0": (val, None)} and m.deleted == {"-2"}


class FakeGraph:
    """Records PropertyGraph mutation calls."""

    def __init__(self):
        self.calls = []

    def add_nodes(self, rows):
        self.calls.append(("nodes", list(rows)))
        return [f"id{len(self.calls)}"]

    def add_edges(self, rows, check_endpoints=True):
        self.calls.append(("edges", list(rows)))
        return ["e"]


def test_preseed_makes_seven_mutations_so_the_first_create_checkpoints():
    g, m = FakeGraph(), serving.WriteModel()
    serving.preseed(g, 1, m, TINY)
    assert len(g.calls) == 7 and all(len(rows) == 1 for _, rows in g.calls)
    assert sorted(m.live) == sorted(serving.PRESEED)
    assert [b for b, (_, c) in m.live.items() if c is not None] == list(serving.PRESEED_TAGGED)


def _docs():
    """Documents exercising every curation stage; doc ``i`` has words of
    its own unless it copies another."""

    def text(i, n=12):
        return " ".join("w" + chr(97 + i) + chr(97 + j) + "q" for j in range(n))

    docs = [{"doc_id": i, "text": text(i), "source": "src0"} for i in range(16)]
    docs[5]["text"] = " ".join(text(2).split()[:8]) + " " + text(5)  # held-out 8-gram
    docs[8]["text"] = docs[6]["text"]  # exact duplicate of 6
    docs[9]["text"] = "tiny"  # low quality
    docs[10]["text"] = docs[7]["text"] + " extra"  # near duplicate of 7
    docs[11]["text"] += " mail me@example.com"
    docs[12]["text"] = text(11) + " mail you@example.org"  # 11 once redacted
    docs[13]["source"] = "src9"  # outside the mixture
    docs[15]["source"] = "src1"
    return docs


def test_expected_curation_follows_each_stage():
    counts, kept = batch.expected_curation(_docs())
    assert [counts[s] for s in batch.STAGES[:5]] == [16, 15, 13, 12, 6]
    assert set(kept) <= {6, 7, 11, 14, 15} and kept
    assert counts["mixture"] == counts["pack"] == len(kept)


def test_curation_checker_accepts_the_expected_result():
    counts, kept = batch.expected_curation(_docs())
    assert batch.check_curation(counts, kept, _docs()) == []


def test_curation_checker_rejects_planted_errors():
    docs = _docs()
    counts, kept = batch.expected_curation(docs)
    dropped_all = {s: (counts[s] if s in ("html_extract", "quality") else 0) for s in batch.STAGES}
    assert batch.check_curation(dropped_all, [], docs)  # a stage that keeps nothing
    assert batch.check_curation(counts, kept[1:], docs)  # one doc over-filtered
    assert batch.check_curation(counts, sorted(kept + [2]), docs)  # a held-out doc kept
    assert batch.check_curation(dict(counts, near_dedup=counts["near_dedup"] + 1), kept, docs)
    assert batch.check_curation(counts, [k + 1 for k in kept], docs)  # same count, wrong docs


def test_analytics_digest_tells_results_apart():
    a = batch.rows_key([("x", 1), ("y", 2)])
    assert a == batch.rows_key([("y", 2), ("x", 1)])
    assert batch.digest(a) != batch.digest(batch.rows_key([("x", 1), ("y", 3)]))
