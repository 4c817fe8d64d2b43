"""PropertyGraph — the engine's data model: two DataFrames.

Reference data model (src/graph_utils/graph.rs:11-31): nodes and
relationships are hash maps of ``{id, label, metadata: map<string,string>}``
records; every property value is a string (graph.rs:7-8). Here the same
model is two DataFrames:

    nodes:  id STRING, label STRING, properties MAP<STRING,STRING>
    edges:  id STRING, src STRING, dst STRING, label STRING,
            properties MAP<STRING,STRING>

Each frame is stored as per-label slices (see :class:`PropertyGraph`),
so a mutation rewrites only the slices that hold its rows.

Scale notes: at 100 TB these are Parquet/Delta tables partitioned by
``label`` so ``:Label`` pattern filters become partition pruning; all
mutations are bulk set-operations (anti-joins / unions / map expressions)
that run fully on executors — no driver-side row loops.

Invariants enforced (reference parity):
- edge endpoints must exist (graph.rs:51-66) — ``add_edges`` validates
  with a join-count check;
- deleting a node cascades to incident edges (graph.rs:145-162);
- a plain (non-detach) delete of a node with incident edges is an error
  (cypher_spec.rs:1235-1240: "use DETACH DELETE").
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graph_loom_spark.ids import uuid7_batch

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

DEFAULT_LABEL = "_"  # reference: label defaults to "_" (cypher_spec.rs:1322)


class GraphConsistencyError(ValueError):
    """Raised on FK violations / illegal deletes, mirroring reference errors."""


def _lit(value, dtype: T.DataType) -> Column:
    if isinstance(dtype, T.MapType):
        if not value:
            return F.map_from_arrays(
                F.array().cast(T.ArrayType(dtype.keyType)),
                F.array().cast(T.ArrayType(dtype.valueType)),
            )
        return F.create_map(*[F.lit(x) for kv in value.items() for x in kv])
    return F.lit(value).cast(dtype)


def local_rows(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-known rows as a single-partition relation that stays in the JVM.

    ``spark.createDataFrame`` over a list is ``parallelize`` plus a
    Python ``map`` in PySpark 4, so every later job over those rows runs
    Python-worker tasks, one per default-parallelism partition. Here the
    rows are literal structs inlined over a one-row, one-split ``range``
    (plain ``spark.range(1)`` has default parallelism, mostly empty
    partitions): one JVM task per stage. Meant for short lists — each
    row is a literal in the plan."""
    if rows:
        arr = F.array(
            *[
                F.struct(*[_lit(v, f.dataType).alias(f.name) for v, f in zip(r, schema.fields)])
                for r in rows
            ]
        )
    else:
        arr = F.array().cast(T.ArrayType(schema))
    return spark.range(0, 1, 1, 1).select(F.inline(arr))


def _tracked_checkpoint(df: DataFrame, tracked: list) -> DataFrame:
    """``localCheckpoint`` eagerly and record the pinned block's exact RDD
    id in ``tracked``.

    The checkpointed Dataset's analyzed plan is a ``LogicalRDD`` whose
    ``rdd`` field IS the persisted RDD, so its id keys
    ``getPersistentRDDs`` directly. Tracking exact ids (rather than
    diffing the global persistent-RDD set around the operator) keeps a
    concurrent query's checkpoints safe: in a multi-query service the
    set-difference approach could free blocks some other in-flight
    operator had just pinned — local checkpoints are non-recomputable,
    so that's a hard job failure, not a cache miss.

    The id is recorded before the materializing job runs: the RDD is
    registered as persistent when it is marked for checkpointing, so a
    job that fails or is cancelled (a timed-out read) would otherwise
    leave an untracked, never-freed entry."""
    out = df.localCheckpoint(eager=False)
    rdd = out._jdf.queryExecution().analyzed().rdd()
    tracked.append(rdd.id())
    rdd.count()  # what eager=True runs
    return out


def _free_intermediates(spark, tracked_ids) -> None:
    """Unpersist exactly the RDD ids recorded by :func:`_tracked_checkpoint`.

    Iterative operators (LPA, components, layout, var-length BFS)
    ``localCheckpoint`` per round; those blocks otherwise stay pinned
    until the session ends, so a long-lived service (or a 47-query bench
    session) accumulates gigabytes of dead checkpoint state and every
    later query pays eviction + GC churn (measured: the same LPA run
    38 s early-session vs 192 s late). Each operator frees its own
    intermediates, keeping only the eagerly checkpointed result it
    returns."""
    try:
        persistent = dict(spark.sparkContext._jsc.getPersistentRDDs())
        for rid in tracked_ids:
            rdd = persistent.get(rid)
            if rdd is not None:
                rdd.unpersist()
    except Exception:
        pass  # cleanup must never fail the query


def _union_all(parts: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), parts)


class _Slices:
    """One entity kind's rows as label slices, in insertion order.

    Key ``L`` holds only rows whose label is ``L``; key ``None`` (the
    unlabeled slice) holds rows of any label — a frame handed over
    whole, or rows appended without a known label. ``dirty`` names the
    slices written since the last checkpoint."""

    def __init__(
        self,
        spark: SparkSession,
        schema: T.StructType,
        unlabeled: DataFrame | None,
        labeled: dict[str, DataFrame] | None,
    ):
        self.spark = spark
        self.schema = schema
        self.frames: dict[str | None, DataFrame] = {}
        if unlabeled is not None:
            self.frames[None] = unlabeled
        self.frames.update(labeled or {})
        self.dirty: set[str | None] = set()
        self._union: DataFrame | None = None
        self._empty: DataFrame | None = None

    def empty(self) -> DataFrame:
        if self._empty is None:
            self._empty = local_rows(self.spark, [], self.schema)
        return self._empty

    def union(self) -> DataFrame:
        # one cached object, so repeated reads share one analyzed plan
        if self._union is None:
            parts = list(self.frames.values())
            self._union = _union_all(parts) if parts else self.empty()
        return self._union

    def for_label(self, label: str | None) -> DataFrame:
        if label is None:
            return self.union()
        parts = [self.frames[label]] if label in self.frames else []
        if None in self.frames:
            parts.append(self.frames[None].filter(F.col("label") == label))
        return _union_all(parts) if parts else self.empty()

    def candidates(self, label: str | None) -> list[str | None]:
        """Slices that can hold rows of ``label`` (every slice if unknown)."""
        if label is None:
            return list(self.frames)
        return [k for k in (label, None) if k in self.frames]

    def put(self, key: str | None, df: DataFrame) -> None:
        self.frames[key] = df
        self.dirty.add(key)
        self._union = None

    def append(self, key: str | None, df: DataFrame) -> None:
        self.put(key, self.frames[key].unionByName(df) if key in self.frames else df)

    def hits(self, ids: DataFrame, keys: list) -> dict:
        """One job: per slice in ``keys``, the number of rows whose ``id``
        is in ``ids``. Slices without a hit are absent."""
        return self._count_by_slice([self.frames[k].join(ids, "id", "left_semi") for k in keys], keys)

    def remove(self, ids: DataFrame, keys: list) -> int:
        """Anti-join ``ids`` out of the slices in ``keys`` that hold any
        of them; returns the number of rows removed."""
        hits = self.hits(ids, keys)
        for key in hits:
            self.put(key, self.frames[key].join(ids, "id", "left_anti"))
        return sum(hits.values())

    def incident(self, ids: DataFrame) -> dict:
        """One job: per slice, the number of edges with an endpoint in
        ``ids``. Each edge is read once, as its two endpoints, and
        equi-semi-joined with ``ids``; a dst-side hit whose src is also
        in ``ids`` is dropped, so every edge counts once."""
        src_too = ids.select(F.col("id").alias("_other"), F.lit(True).alias("_both"))

        def end(key: str, other: str, is_dst: bool) -> Column:
            return F.struct(
                F.col(key).alias("_key"), F.col(other).alias("_other"), F.lit(is_dst).alias("_dst")
            )

        def hit(df: DataFrame) -> DataFrame:
            ends = df.select(F.inline(F.array(end("src", "dst", False), end("dst", "src", True))))
            return (
                ends.join(ids.withColumnRenamed("id", "_key"), "_key", "left_semi")
                .join(src_too, "_other", "left")
                .filter(~F.col("_dst") | F.col("_both").isNull())
            )

        keys = list(self.frames)
        return self._count_by_slice([hit(self.frames[k]) for k in keys], keys)

    @staticmethod
    def _count_by_slice(hits: list[DataFrame], keys: list) -> dict:
        if not hits:
            return {}
        tagged = _union_all([h.select(F.lit(i).alias("_slice")) for i, h in enumerate(hits)])
        return {keys[i]: n for i, n in tagged.groupBy("_slice").count().collect()}

    def checkpoint(self) -> None:
        for key in [k for k in self.frames if k in self.dirty]:
            self.frames[key] = self.frames[key].localCheckpoint(eager=True)
        self.dirty = set()
        self._union = None


def _distinct_ids(ids_df: DataFrame) -> DataFrame:
    """The target ids of a rewrite, pinned by the first job that reads
    them (lazy ``localCheckpoint``: no extra job). A rewritten slice then
    joins against this leaf instead of the query that found the ids, so
    a later read does not re-run that query and each mutation adds one
    join to the slice's plan instead of doubling it."""
    return ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct().localCheckpoint(eager=False)


class PropertyGraph:
    """A property graph backed by two DataFrames, each stored as label
    slices.

    The object is a mutable *handle*; the DataFrames themselves are
    immutable — every mutation swaps in new ones. ``nodes``/``edges``
    are the union of their slices in insertion order: a projection like
    :func:`io.tpch_graph.build_graph` passes one frame per label
    (``node_slices``/``edge_slices``), while a frame handed over whole
    (``load``, ``from_dataframes``) is one unlabeled slice.

    Slices serve both sides of the engine:

    - reads: a ``:Label`` pattern compiles against that label's slice —
      for a projection, a single parquet scan instead of a filter over
      the 7-branch union, which Catalyst would prune to the same scan
      but only after analysing the whole union on every query (measured
      ~0.7 s/query of pure planning at sf0.1);
    - writes: a mutation rewrites only the slices that hold its rows.
      Callers that know the label of every targeted row pass it as
      ``known_label`` (the Cypher compiler does, from the pattern that
      bound the variable); then only that slice and the unlabeled slice
      are candidates. Without it every slice is a candidate. Either way
      one job counts the hits per slice (the count is the method's
      return value) and only slices with hits are rewritten. Appends go
      to the slice of their label, or to the unlabeled slice when the
      label is not known.

    Every mutation bumps ``mutations`` (a monotonic counter a server can
    watch to know the graph changed) and, every 8th, checkpoints the
    slices written since the last checkpoint (:meth:`cache_checkpoint`).
    """

    def __init__(
        self,
        spark: SparkSession,
        nodes: DataFrame | None = None,
        edges: DataFrame | None = None,
        *,
        node_slices: dict[str, DataFrame] | None = None,
        edge_slices: dict[str, DataFrame] | None = None,
    ):
        """``nodes``/``edges`` become the unlabeled slice; each frame of
        ``node_slices``/``edge_slices`` must hold only rows of its key's
        label (caller's guarantee)."""
        self.spark = spark
        self._node_slices = _Slices(spark, NODE_SCHEMA, nodes, node_slices)
        self._edge_slices = _Slices(spark, EDGE_SCHEMA, edges, edge_slices)
        self.mutations = 0
        self._mutations_since_materialize = 0

    @property
    def nodes(self) -> DataFrame:
        return self._node_slices.union()

    @property
    def edges(self) -> DataFrame:
        return self._edge_slices.union()

    def nodes_for_label(self, label: str | None) -> DataFrame:
        """Nodes whose label is ``label`` (all nodes for ``None``)."""
        return self._node_slices.for_label(label)

    def edges_for_label(self, label: str | None) -> DataFrame:
        return self._edge_slices.for_label(label)

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def empty(cls, spark: SparkSession) -> "PropertyGraph":
        return cls(spark)

    @classmethod
    def from_dataframes(cls, nodes: DataFrame, edges: DataFrame) -> "PropertyGraph":
        spark = nodes.sparkSession
        return cls(spark, nodes.select(*NODE_SCHEMA.fieldNames()), edges.select(*EDGE_SCHEMA.fieldNames()))

    # ------------------------------------------------------------------
    # bulk appends (the only way entities enter the graph)
    # ------------------------------------------------------------------
    def _local_by_label(self, rows: list[tuple], schema: T.StructType) -> dict[str, DataFrame]:
        """Rows → one JVM-local frame per label (``label`` field)."""
        li = schema.fieldNames().index("label")
        groups: dict[str, list[tuple]] = {}
        for r in rows:
            groups.setdefault(r[li], []).append(r)
        return {lbl: local_rows(self.spark, rs, schema) for lbl, rs in groups.items()}

    def add_nodes(self, rows: Iterable[tuple[str, dict[str, str]]]) -> list[str]:
        """Append nodes from (label, properties) pairs; returns new ids.

        Driver-known row lists (the Cypher CREATE path — pattern literals,
        so always small); each label's rows go to that label's slice.
        Bulk loads should build a DataFrame with ``uuid7_expr`` instead
        and use :meth:`add_nodes_df`.
        """
        rows = list(rows)
        if not rows:
            return []
        ids = uuid7_batch(len(rows))
        typed = [(i, lbl or DEFAULT_LABEL, dict(props or {})) for i, (lbl, props) in zip(ids, rows)]
        for lbl, df in self._local_by_label(typed, NODE_SCHEMA).items():
            self._node_slices.append(lbl, df)
        self._bump()
        return ids

    def add_nodes_df(self, df: DataFrame) -> None:
        """Append a node frame (to the unlabeled slice)."""
        self._node_slices.append(None, df.select(*NODE_SCHEMA.fieldNames()))
        self._bump()

    def add_edges(
        self,
        rows: Iterable[tuple[str, str, str, dict[str, str]]],
        check_endpoints: bool = True,
    ) -> list[str]:
        """Append edges from (src, dst, label, properties) tuples.

        Endpoint existence is validated with a single join-count check
        (reference rejects edges whose endpoints don't exist,
        graph.rs:51-66).
        """
        rows = list(rows)
        if not rows:
            return []
        ids = uuid7_batch(len(rows))
        typed = [
            (i, s, d, lbl or DEFAULT_LABEL, dict(props or {}))
            for i, (s, d, lbl, props) in zip(ids, rows)
        ]
        if check_endpoints:
            self._check_endpoints(local_rows(self.spark, typed, EDGE_SCHEMA), len(typed))
        for lbl, df in self._local_by_label(typed, EDGE_SCHEMA).items():
            self._edge_slices.append(lbl, df)
        self._bump()
        return ids

    def add_edges_df(
        self, df: DataFrame, check_endpoints: bool = True, known_label: str | None = None
    ) -> None:
        """Append an edge frame; ``known_label`` (the label of every row,
        if the caller knows it) picks the slice, else the unlabeled one."""
        df = df.select(*EDGE_SCHEMA.fieldNames())
        if check_endpoints:
            self._check_endpoints(df, df.count())
        self._edge_slices.append(known_label, df)
        self._bump()

    def _check_endpoints(self, df: DataFrame, n: int) -> None:
        node_ids = self.nodes.select("id")
        ok = (
            df.join(node_ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(node_ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .count()
        )
        if ok != n:
            raise GraphConsistencyError(
                f"add_edges: {n - ok} edge(s) reference nonexistent endpoint node(s)"
            )

    # ------------------------------------------------------------------
    # deletes
    # ------------------------------------------------------------------
    def delete_edges_by_ids(self, ids_df: DataFrame, known_label: str | None = None) -> int:
        """Anti-join delete; returns number of edges removed."""
        es = self._edge_slices
        removed = es.remove(_distinct_ids(ids_df), es.candidates(known_label))
        self._bump()
        return removed

    def delete_nodes_by_ids(
        self, ids_df: DataFrame, detach: bool = False, known_label: str | None = None
    ) -> tuple[int, int]:
        """Delete nodes; returns (nodes_removed, edges_removed).

        With ``detach=False`` raises if any target has incident edges
        (reference M4). With ``detach=True`` cascades to incident edges.
        One pass of equi semi-joins over every edge slice counts the
        incident edges per slice; those counts pick the edge slices to
        rewrite.
        """
        ids = _distinct_ids(ids_df)
        es, ns = self._edge_slices, self._node_slices
        incident = es.incident(ids)
        if incident and not detach:
            raise GraphConsistencyError(
                "cannot delete node(s) with relationships; use DETACH DELETE"
            )
        removed = ns.remove(ids, ns.candidates(known_label))
        for key in incident:
            es.put(
                key,
                es.frames[key]
                .join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
                .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti"),
            )
        self._bump()
        return removed, sum(incident.values())

    # ------------------------------------------------------------------
    # property / label mutations (reference graph.rs:68-138)
    # ------------------------------------------------------------------
    def upsert_property(
        self, kind: str, ids_df: DataFrame, key: str, value: str, known_label: str | None = None
    ) -> int:
        """SET var.prop = value on all ids in ``ids_df``; returns touched count.

        Compiles to ``map_filter`` (drop the key) + ``map_concat`` (add the
        new value) — upsert semantics independent of the session's
        ``spark.sql.mapKeyDedupPolicy`` (the default EXCEPTION policy
        would throw on a plain map_concat when the key already exists,
        and PropertyGraph accepts any caller-built SparkSession).
        """
        upserted = F.map_concat(
            F.map_filter("properties", lambda k, _: k != F.lit(key)),
            F.create_map(F.lit(key), F.lit(value)),
        )
        return self._rewrite(kind, ids_df, known_label, "properties", upserted)

    def remove_property(
        self, kind: str, ids_df: DataFrame, key: str, known_label: str | None = None
    ) -> int:
        removed = F.map_filter("properties", lambda k, _: k != F.lit(key))
        return self._rewrite(kind, ids_df, known_label, "properties", removed)

    def set_label(
        self, kind: str, ids_df: DataFrame, label: str, known_label: str | None = None
    ) -> int:
        """SET n:NewLabel — *replaces* the single label (graph.rs:68-75).
        Rows leave their label slice for ``label``'s slice; rows in the
        unlabeled slice are relabeled in place."""
        return self._rewrite(kind, ids_df, known_label, "label", F.lit(label), move_to=label)

    def _rewrite(
        self,
        kind: str,
        ids_df: DataFrame,
        known_label: str | None,
        col: str,
        value: Column,
        move_to: str | None = None,
    ) -> int:
        """Set ``col`` to ``value`` on the rows of ``ids_df`` in every
        candidate slice with a hit; with ``move_to``, hit rows of a
        labeled slice move to the ``move_to`` slice."""
        store = self._store(kind)
        ids = _distinct_ids(ids_df)
        hits = store.hits(ids, store.candidates(known_label))
        for key in hits:
            df = store.frames[key]
            if move_to is None or key is None or key == move_to:
                marked = df.join(ids.withColumn("_hit", F.lit(True)), "id", "left")
                store.put(
                    key,
                    marked.withColumn(col, F.when(F.col("_hit"), value).otherwise(F.col(col))).drop("_hit"),
                )
            else:
                store.put(key, df.join(ids, "id", "left_anti"))
                store.append(move_to, df.join(ids, "id", "left_semi").withColumn(col, value))
        self._bump()
        return sum(hits.values())

    def _store(self, kind: str) -> _Slices:
        if kind == "node":
            return self._node_slices
        if kind == "rel":
            return self._edge_slices
        raise ValueError(f"unknown entity kind: {kind}")

    # ------------------------------------------------------------------
    # lineage control
    # ------------------------------------------------------------------
    def _bump(self) -> None:
        self.mutations += 1
        self._mutations_since_materialize += 1
        # localCheckpoint truncates the logical plan; without it a long
        # mutation script compiles an ever-deeper tree and planning time
        # dominates. Threshold is a trade: each checkpoint is an action.
        if self._mutations_since_materialize >= 8:
            self.cache_checkpoint()

    def cache_checkpoint(self) -> None:
        """Checkpoint the slices written since the last checkpoint;
        untouched slices keep their (short) source lineage."""
        self._node_slices.checkpoint()
        self._edge_slices.checkpoint()
        self._mutations_since_materialize = 0

    # ------------------------------------------------------------------
    # persistence (reference S5/S6: snapshot load/save, versioned)
    # ------------------------------------------------------------------
    def save(self, path: str, versioned: bool = False) -> str:
        """Write nodes/edges parquet under ``path`` (optionally a timestamped
        version subdir, mirroring the reference's versioned RON snapshots,
        persist.rs:89-131). Returns the directory written."""
        target = path
        if versioned:
            target = os.path.join(path, "versions", time.strftime("%Y%m%dT%H%M%S"))
        self.nodes.write.mode("overwrite").parquet(os.path.join(target, "nodes"))
        self.edges.write.mode("overwrite").parquet(os.path.join(target, "edges"))
        return target

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PropertyGraph":
        return cls(
            spark,
            spark.read.schema(NODE_SCHEMA).parquet(os.path.join(path, "nodes")),
            spark.read.schema(EDGE_SCHEMA).parquet(os.path.join(path, "edges")),
        )

    @staticmethod
    def list_versions(path: str) -> list[str]:
        vdir = os.path.join(path, "versions")
        if not os.path.isdir(vdir):
            return []
        return sorted(os.listdir(vdir))

    def diff(self, other: "PropertyGraph") -> dict:
        """Snapshot diff vs another graph (e.g. an earlier saved
        version): ``{"nodes_added", "nodes_removed", "nodes_changed",
        "edges_added", "edges_removed", "edges_changed"}`` — each a
        DataFrame. "Changed" = same id, different label or properties
        (edges additionally compare endpoints).

        The natural companion of versioned snapshots (S6): auditing what
        a batch of mutations did, or reviewing drift between two loads.
        Shape: per frame, one full-row anti-join each way on id (AQE
        broadcasts the smaller snapshot side) and one id-equijoin with a
        row-inequality filter — three keyed passes, no collects, so a
        100 TB snapshot pair diffs at scan speed.
        """

        # MapType is not comparable in Spark; canonicalize the properties
        # map to a key-sorted entry array (orderable, equality-safe)
        props_canon = F.array_sort(
            F.transform(
                F.map_entries("properties"),
                lambda e: F.struct(e["key"].alias("k"), e["value"].alias("v")),
            )
        )

        def _three(a: DataFrame, b: DataFrame, cols: list[str]):
            added = a.join(b.select("id"), "id", "left_anti")
            removed = b.join(a.select("id"), "id", "left_anti")
            cmp_cols = [
                props_canon.alias("properties") if c == "properties" else F.col(c)
                for c in cols
            ]
            pa = a.select("id", F.struct(*cmp_cols).alias("__a"))
            pb = b.select("id", F.struct(*cmp_cols).alias("__b"))
            changed_ids = (
                pa.join(pb, "id").filter(F.col("__a") != F.col("__b")).select("id")
            )
            # output the ORIGINAL rows (map-typed properties), not the
            # canonicalized comparison payload
            changed = a.join(changed_ids, "id", "left_semi")
            return added, removed, changed

        na, nr, nc = _three(self.nodes, other.nodes, ["label", "properties"])
        ea, er, ec = _three(
            self.edges, other.edges, ["src", "dst", "label", "properties"]
        )
        return {
            "nodes_added": na,
            "nodes_removed": nr,
            "nodes_changed": nc,
            "edges_added": ea,
            "edges_removed": er,
            "edges_changed": ec,
        }

    # ------------------------------------------------------------------
    # catalog helpers (reference G6)
    # ------------------------------------------------------------------
    def node_labels(self) -> DataFrame:
        return self.nodes.select("label").distinct()

    def edge_labels(self) -> DataFrame:
        return self.edges.select("label").distinct()

    def property_keys(self) -> DataFrame:
        return (
            self.nodes.select(F.explode(F.map_keys("properties")).alias("key"))
            .union(self.edges.select(F.explode(F.map_keys("properties")).alias("key")))
            .distinct()
        )
