"""PropertyGraph's label-slice store: a mutation rewrites (and the
periodic checkpoint materializes) only the slices holding its rows, and
a graph split into label slices answers every Cypher write exactly like
the same graph held as one unlabeled slice."""

from __future__ import annotations

import collections
import pathlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graph_loom_spark.cypher.ast import CypherError
from graph_loom_spark.graph import (
    EDGE_SCHEMA,
    NODE_SCHEMA,
    GraphConsistencyError,
    PropertyGraph,
    local_rows,
)
from graph_loom_spark.interface import CypherSession

PKG = pathlib.Path(__file__).resolve().parents[1] / "graph_loom_spark"

LABELS = ("A", "B", "C")
TYPES = ("R", "S")
VALS = ("1", "2")

NODES = [
    ("n0", "A", {"k": "n0", "x": "1"}),
    ("n1", "A", {"k": "n1", "x": "2"}),
    ("n2", "B", {"k": "n2", "x": "1"}),
    ("n3", "B", {"k": "n3", "x": "2"}),
    ("n4", "C", {"k": "n4", "x": "1"}),
]
EDGES = [
    ("e0", "n0", "n2", "R", {"k": "e0"}),
    ("e1", "n1", "n3", "R", {}),
    ("e2", "n2", "n4", "S", {}),
]


def _by_label(spark, rows, schema):
    li = schema.fieldNames().index("label")
    labels = dict.fromkeys(r[li] for r in rows)
    return {lbl: local_rows(spark, [r for r in rows if r[li] == lbl], schema) for lbl in labels}


def _sliced(spark) -> PropertyGraph:
    return PropertyGraph(
        spark,
        node_slices=_by_label(spark, NODES, NODE_SCHEMA),
        edge_slices=_by_label(spark, EDGES, EDGE_SCHEMA),
    )


def _unlabeled(spark) -> PropertyGraph:
    return PropertyGraph.from_dataframes(
        local_rows(spark, NODES, NODE_SCHEMA), local_rows(spark, EDGES, EDGE_SCHEMA)
    )


def _state(g: PropertyGraph):
    """Nodes and edges as sets keyed by the ``k`` property (ids minted
    by CREATE/MERGE differ between two graphs)."""
    nodes = g.nodes.collect()
    key = {r["id"]: r["properties"]["k"] for r in nodes}
    node_set = {(r["label"], frozenset(r["properties"].items())) for r in nodes}
    edges = collections.Counter(
        (key[r["src"]], key[r["dst"]], r["label"], frozenset(r["properties"].items()))
        for r in g.edges.collect()
    )
    return node_set, edges


def _assert_slices_hold_their_label(g: PropertyGraph) -> None:
    for store in (g._node_slices, g._edge_slices):
        for key, df in store.frames.items():
            if key is not None:
                assert {r["label"] for r in df.select("label").collect()} <= {key}


# ------------------------------------------------------------ differential
_label = st.sampled_from(LABELS)
_type = st.sampled_from(TYPES)
_val = st.sampled_from(VALS)

_STATEMENTS = st.one_of(
    st.tuples(st.just("create"), _label, _val).map(
        lambda t: 'CREATE (n:%s {k:"c{i}", x:"%s"})' % (t[1], t[2])
    ),
    st.tuples(st.just("set"), _label, _val, _val).map(
        lambda t: 'MATCH (n:%s {x:"%s"}) SET n.y = "%s"' % t[1:]
    ),
    st.tuples(st.just("set_any"), _val, _val).map(
        lambda t: 'MATCH (n {x:"%s"}) SET n.y = "%s"' % t[1:]
    ),
    _label.map(lambda lbl: "MATCH (n:%s) REMOVE n.x" % lbl),
    st.tuples(_label, _val, _label).map(lambda t: 'MATCH (n:%s {x:"%s"}) SET n:%s' % t),
    st.tuples(_label, _val).map(lambda t: 'MATCH (n:%s {x:"%s"}) DELETE n' % t),
    st.tuples(_label, _val).map(lambda t: 'MATCH (n:%s {x:"%s"}) DETACH DELETE n' % t),
    st.tuples(_label, _val, _label, _val, _type).map(
        lambda t: 'MATCH (a:%s {x:"%s"}), (b:%s {x:"%s"}) MERGE (a)-[:%s]->(b)' % t
    ),
    st.tuples(_type, _val).map(lambda t: 'MATCH (a)-[r:%s]->(b) SET r.w = "%s"' % t),
    st.tuples(_type, _type).map(lambda t: "MATCH (a)-[r:%s]->(b) SET r:%s" % t),
    _type.map(lambda t: "MATCH (a)-[r:%s]->(b) DELETE r" % t),
    st.tuples(_label, _label).map(
        lambda t: "MATCH (a:%s), (b:%s) WHERE id(a) = id(b) SET a:C, b.z = \"1\"" % t
    ),
    st.just("checkpoint"),
)


def _run(sess: CypherSession, stmt: str):
    if stmt == "checkpoint":
        sess.graph.cache_checkpoint()
        return None
    try:
        sess.execute(stmt)
    except (CypherError, GraphConsistencyError) as e:
        return type(e).__name__
    return None


@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_STATEMENTS, min_size=1, max_size=4))
def test_sliced_graph_matches_unlabeled_graph(spark, stmts):
    sliced, whole = CypherSession(_sliced(spark)), CypherSession(_unlabeled(spark))
    assert _state(sliced.graph) == _state(whole.graph)
    for i, stmt in enumerate(stmts):
        stmt = stmt.replace("{i}", str(i))
        assert _run(sliced, stmt) == _run(whole, stmt), stmt
        assert _state(sliced.graph) == _state(whole.graph), stmt
    _assert_slices_hold_their_label(sliced.graph)


def test_relabel_forgets_labels_of_aliased_variables(spark):
    """``SET a:C`` on an id also bound to ``b`` must not leave ``b``
    claiming label A: the later ``SET b.z`` would look in the A slice
    and miss the row."""
    sess = CypherSession(_sliced(spark))
    sess.execute('MATCH (a:A {k:"n0"}), (b:A) WHERE id(a) = id(b) SET a:C, b.z = "1"')
    [row] = sess.graph.nodes.filter("properties['k'] = 'n0'").collect()
    assert row["label"] == "C" and row["properties"]["z"] == "1"


# ------------------------------------------------------ slice isolation
def test_write_on_one_label_leaves_other_slices_untouched(spark):
    g = _sliced(spark)
    sess = CypherSession(g)
    nodes0, edges0 = dict(g._node_slices.frames), dict(g._edge_slices.frames)
    sess.execute('MATCH (n:A {x:"1"}) SET n.y = "2"')
    sess.execute('CREATE (n:A {k:"new"})')
    sess.execute('MATCH (n:A {k:"new"}) REMOVE n.k')
    for key, df in g._node_slices.frames.items():
        assert (df is nodes0[key]) == (key != "A"), key
    assert all(g._edge_slices.frames[k] is df for k, df in edges0.items())

    # a cascade rewrites only the edge slices holding incident edges
    sess.execute('MATCH (n:C {k:"n4"}) DETACH DELETE n')
    assert g._edge_slices.frames["R"] is edges0["R"]
    assert g._edge_slices.frames["S"] is not edges0["S"]
    assert g._node_slices.frames["B"] is nodes0["B"]


def test_unknown_label_rewrites_only_slices_with_hits(spark):
    g = _sliced(spark)
    before = dict(g._node_slices.frames)
    ids = g.nodes.filter("id = 'n2'").select("id")
    assert g.upsert_property("node", ids, "y", "1") == 1
    assert [k for k, df in g._node_slices.frames.items() if df is not before[k]] == ["B"]


def test_checkpoint_materializes_only_dirty_slices(spark):
    g = _sliced(spark)
    sess = CypherSession(g)
    sess.execute('MATCH (n:B {x:"2"}) SET n.y = "1"')
    untouched = {k: df for k, df in g._node_slices.frames.items() if k != "B"}
    edges = dict(g._edge_slices.frames)
    assert g._node_slices.dirty == {"B"} and not g._edge_slices.dirty
    g.cache_checkpoint()
    b_plan = g._node_slices.frames["B"]._jdf.queryExecution().analyzed()
    assert b_plan.getClass().getSimpleName() == "LogicalRDD"
    assert all(g._node_slices.frames[k] is df for k, df in untouched.items())
    assert all(g._edge_slices.frames[k] is df for k, df in edges.items())
    assert not g._node_slices.dirty


def test_every_mutation_moves_the_counter(spark):
    sess = CypherSession(_sliced(spark))
    sess.execute("MATCH (n:A) RETURN n")
    assert sess.graph.mutations == 0
    sess.execute('MATCH (n:A {x:"1"}) SET n.y = "3"')
    assert sess.graph.mutations > 0


# ------------------------------------------------------- JVM-local rows
def test_appended_rows_are_single_partition_jvm_relations(spark):
    g = PropertyGraph.empty(spark)
    a, b = g.add_nodes([("P", {"name": "a"}), ("P", {"name": "b"})])
    g.add_edges([(a, b, "KNOWS", {"since": "1"})])
    for df in (g._node_slices.frames["P"], g._edge_slices.frames["KNOWS"], g.nodes, g.edges):
        assert df.rdd.getNumPartitions() == 1
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    assert g.nodes.count() == 2 and g.edges.count() == 1


def test_mixed_label_rows_split_into_their_slices(spark):
    g = PropertyGraph.empty(spark)
    g.add_nodes([("P", {}), ("Q", {}), ("P", {})])
    assert list(g._node_slices.frames) == ["P", "Q"]
    assert g.nodes_for_label("P").count() == 2
    assert g.nodes_for_label("Missing").count() == 0


@pytest.mark.parametrize("path", ["graph.py", "cypher/compiler.py"])
def test_no_python_backed_frames_in_the_write_path(path):
    assert "createDataFrame(" not in (PKG / path).read_text()


def test_cascade_counts_each_incident_edge_once(spark):
    g = PropertyGraph.empty(spark)
    a, b, c = g.add_nodes([("P", {}), ("P", {}), ("Q", {})])
    g.add_edges([(a, b, "R", {}), (a, b, "R", {}), (a, a, "S", {}), (b, c, "S", {}), (c, c, "R", {})])
    ids = g.nodes.filter(g.nodes.id.isin(a, b)).select("id")
    with pytest.raises(GraphConsistencyError):
        g.delete_nodes_by_ids(ids)
    assert g.delete_nodes_by_ids(ids, detach=True, known_label="P") == (2, 4)
    assert [(r["src"], r["dst"]) for r in g.edges.collect()] == [(c, c)]
