"""The ``batch`` workload: graph analytics plus the curation chain.

Two callers share one session, each on its own thread, over a seeded
data set a tenth the size of the serving projection (7,890 nodes /
19,685 edges):

- ``analytics.pagerank(topo, iters=5)``, ``analytics.connected_components
  (topo)``, ``analytics.weighted_label_propagation(graph)`` and
  ``analytics.weighted_sssp(cooc, rounds=8)``, where ``topo`` is the
  checkpointed id/src-dst topology of the projection and ``cooc`` is
  ``ops.dedup.co_occurrence_edges`` over lineitem with
  ``l_orderkey % 4 == 0`` (the registry's own inputs). Each result is
  compared row for row with the DuckDB replay of the matching registry
  oracle (``graph_pagerank``, ``graph_components``, ``graph_lpa``,
  ``graph_sssp`` from ``__spark_entry__.oracle_sql()``), computed before
  timing.
- the curation stage chain of ``examples/curation_pipeline`` (HTML
  extract, quality, PII, exact dedup, MinHash+Jaccard near-dedup,
  decontamination, mixture, packing), composed here so later edits to
  the example cannot change the workload. Each stage ends in the funnel
  action the example runs; the per-stage counts and the kept doc ids
  are compared exactly with :func:`expected_curation`.
"""

from __future__ import annotations

import decimal
import hashlib
import importlib.util
import math
import os
import re
import time

from pyspark.sql import functions as F

ALGORITHMS = ("pagerank", "components", "lpa", "sssp")
ORACLE = {"pagerank": "graph_pagerank", "components": "graph_components", "lpa": "graph_lpa", "sssp": "graph_sssp"}
STAGES = ("html_extract", "quality", "exact_dedup", "near_dedup", "decontam", "mixture", "pack")
MIXTURE = {"src0": 1.0, "src1": 0.8, "src2": 0.5}
BENCH_IDS = 5  # doc_id < 5 stands in for a held-out benchmark corpus
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
# PII redaction before exact dedup: the engine's ``ops.text.PII_PATTERNS``
# (email, IPv4, phone, applied in this order), pinned here so an edit
# there cannot change the workload. Java and Python regexes read them alike.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d{9,15}", "<PHONE>"),
)


def build_inputs(spark, data_dir: str):
    """What a user builds before the algorithms run: the projection, its
    checkpointed topology and the co-purchase edges, plus the seconds
    each part took."""
    from graph_loom_spark.graph import PropertyGraph
    from graph_loom_spark.io.tpch_graph import build_graph
    from graph_loom_spark.ops import dedup as D

    t0 = time.perf_counter()
    graph = build_graph(spark, data_dir, cache=False)
    t1 = time.perf_counter()
    topo = PropertyGraph(
        spark,
        nodes=graph.nodes.select("id").localCheckpoint(eager=True),
        edges=graph.edges.select("src", "dst").localCheckpoint(eager=True),
    )
    t2 = time.perf_counter()
    li = spark.read.parquet(f"{data_dir}/lineitem.parquet").filter(F.col("l_orderkey") % 4 == 0)
    cooc = D.co_occurrence_edges(li, "l_orderkey", "l_partkey").localCheckpoint(eager=True)
    parts = {
        "io.build_graph_s": t1 - t0,
        "analytics.topology_checkpoint_s": t2 - t1,
        "ops.co_occurrence_s": time.perf_counter() - t2,
    }
    return graph, topo, cooc, parts


def run_algorithm(name: str, graph, topo, cooc):
    from graph_loom_spark import analytics

    if name == "pagerank":
        return analytics.pagerank(topo, iters=5)
    if name == "components":
        return analytics.connected_components(topo)
    if name == "lpa":
        return analytics.weighted_label_propagation(graph)
    return analytics.weighted_sssp(cooc, rounds=8)


def rows_key(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def digest(rows: list[tuple]) -> str:
    return hashlib.md5(repr(rows).encode()).hexdigest()


def oracle_answers(root: str, data_dir: str) -> dict[str, list[tuple]]:
    """DuckDB replays of the registry oracles for the four algorithms."""
    import duckdb

    spec = importlib.util.spec_from_file_location("pb_spark_entry", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sql = mod.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return {a: rows_key(con.execute(sql[ORACLE[a]]).fetchall()) for a in ALGORITHMS}


# --------------------------------------------------------------- curation
class Curation:
    """The stage chain; ``step(name)`` runs one stage and its funnel action."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.docs = spark.read.parquet(f"{data_dir}/documents.parquet")
        self.counts: dict[str, int] = {}
        self.mixed = None

    def step(self, name: str) -> None:
        getattr(self, "_" + name)()

    def _html_extract(self):
        from graph_loom_spark.ops import html as H

        docs = self.docs
        esc = F.col("text")
        for src, dst in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
            esc = F.replace(esc, F.lit(src), F.lit(dst))
        pages = docs.select(
            "doc_id",
            F.concat(
                F.lit("<html><head><script>x=1</script></head><body><h1>"),
                F.col("source"),
                F.lit("</h1><p>"),
                esc,
                F.lit('</p><div><a href="/">Home</a> <a href="/a">About</a></div></body></html>'),
            ).alias("html"),
        )
        ext = H.html_extract(pages)
        self.counts["boiler_blocks_dropped"] = int(ext.agg(F.sum("n_boiler_blocks")).first()[0] or 0)
        self.docs = docs.drop("text", "n_chars").join(
            ext.select("doc_id", "text", F.col("text_chars").alias("n_chars")), "doc_id"
        )
        self.counts["html_extract"] = self.docs.count()

    def _quality(self):
        from graph_loom_spark.ops import text as T

        keep = T.quality_score(self.docs).filter(F.col("quality_score") >= 2).select("doc_id")
        self.docs = self.docs.join(keep, "doc_id", "left_semi")
        self.counts["quality"] = self.docs.count()

    def _exact_dedup(self):
        from graph_loom_spark.ops import dedup as D

        red = F.col("text")
        for pat, tag in PII_PATTERNS:
            red = F.regexp_replace(red, pat, tag)
        docs = self.docs.withColumn("text", red)
        self.docs = docs.join(D.exact_dedup(docs, ["text"]).select("doc_id"), "doc_id", "left_semi")
        self.counts["exact_dedup"] = self.docs.count()

    def _near_dedup(self):
        from graph_loom_spark.ops import dedup as D

        docs = self.docs
        sigs = D.minhash_signatures_md5(docs)
        cand = D.minhash_lsh_pairs(sigs, threshold=0.3, band_hash="md5")
        pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, candidate_pairs=cand)
        keep = D.dedup_clusters(docs, pairs=pairs).filter(F.col("is_canonical")).select("doc_id")
        self.docs = docs.join(keep, "doc_id", "left_semi")
        self.counts["near_dedup"] = self.docs.count()

    def _decontam(self):
        from graph_loom_spark.ops import text as T

        docs = self.docs
        bench = docs.filter(F.col("doc_id") < BENCH_IDS)
        flags = T.contamination_flags(docs, bench)
        self.docs = docs.join(flags.filter(F.col("contaminated")).select("doc_id"), "doc_id", "left_anti").filter(
            F.col("doc_id") >= BENCH_IDS
        )
        self.counts["decontam"] = self.docs.count()

    def _mixture(self):
        from graph_loom_spark.ops import text as T

        kept = T.apply_mixture(self.docs, MIXTURE).select("doc_id")
        self.mixed = self.docs.join(kept, "doc_id", "left_semi")
        self.counts["mixture"] = self.mixed.count()

    def _pack(self):
        from graph_loom_spark.ops import text as T

        self.counts["pack"] = T.pack_sequences(self.mixed, budget=512).count()


# ------------------------------------------------- expected curation
# The stages are deterministic and integer-exact (md5 signatures and
# bands, exact Jaccard, md5-threshold mixture), so the kept set of a
# seed is computed here in plain Python from the generated documents and
# compared exactly with the engine's.
_WS = re.compile(r"[ \t\n\f\r]+")


def _words(text: str) -> list[str]:
    """The engine's shingle tokens: lowercased, whitespace collapsed."""
    return re.sub(r"\s+", " ", text.lower().strip(" ")).split(" ")


def _grams(text: str, n: int) -> set[str]:
    w = _words(text)
    return {" ".join(w[i : i + n]) for i in range(max(len(w) - n, 0) + 1)}


def _signature(grams: set[str], num_perm: int = 32) -> list[int]:
    lanes = [(int(h[:8], 16), int(h[8:16], 16)) for h in (hashlib.md5(g.encode()).hexdigest() for g in grams)]
    return [min((h1 + i * h2) % 2147483647 for h1, h2 in lanes) for i in range(num_perm)]


def _quality(text: str) -> int:
    toks, chars = len(re.findall(r"\S+", text)), len(text)
    alpha = len(re.sub(r"[^A-Za-z]", "", text))
    len_ok = 50 <= chars <= 20000
    tok_ok = toks >= 10 and chars / toks <= 12.0
    return int(len_ok) + int(tok_ok) + int(alpha / chars >= 0.5)


def _round6(x: float) -> float:
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("1e-6"), decimal.ROUND_HALF_UP))


def _near_dedup(docs: dict[int, str]) -> set[int]:
    """MinHash (32 md5 slots, 8 bands of 4) candidates with estimated
    Jaccard >= 0.3, exact word-3-gram Jaccard >= 0.5, connected
    components; keeps the smallest id of each component."""
    ids = sorted(docs)
    sh = {i: _grams(docs[i], 3) for i in ids}
    sig = {i: _signature(sh[i]) for i in ids}
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            i = parent[i]
        return i

    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            sa, sb = sig[a], sig[b]
            if not any(sa[k : k + 4] == sb[k : k + 4] for k in range(0, 32, 4)):
                continue
            if sum(p == q for p, q in zip(sa, sb)) / 32 < 0.3:
                continue
            if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5:
                ra, rb = root(a), root(b)
                parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if root(i) == i}


def expected_curation(source_docs: list[dict]) -> tuple[dict, list[int]]:
    """Per-stage counts and the kept ``doc_id`` list the chain must
    produce from ``source_docs`` (dicts of doc_id, text, source)."""
    counts = {}
    # the page template's <h1> and <p> blocks survive, the link bar is
    # boilerplate: extracted text is "source\ntext", whitespace collapsed
    docs = {
        d["doc_id"]: (
            d["source"],
            "\n".join(b for b in (_WS.sub(" ", d["source"]).strip(), _WS.sub(" ", d["text"]).strip()) if b),
        )
        for d in source_docs
    }
    counts["html_extract"] = len(docs)
    docs = {i: v for i, v in docs.items() if _quality(v[1]) >= 2}
    counts["quality"] = len(docs)
    red = {}
    for i, (src, text) in docs.items():
        for pat, tag in PII_PATTERNS:
            text = re.sub(pat, tag, text)
        red[i] = (src, text)
    first = {}
    for i in sorted(red):
        first.setdefault(red[i][1], i)
    docs = {i: red[i] for i in first.values()}
    counts["exact_dedup"] = len(docs)
    keep = _near_dedup({i: t for i, (_, t) in docs.items()})
    docs = {i: v for i, v in docs.items() if i in keep}
    counts["near_dedup"] = len(docs)
    held = set().union(*(_grams(t, 8) for i, (_, t) in docs.items() if i < BENCH_IDS))
    docs = {i: v for i, v in docs.items() if i >= BENCH_IDS and not (_grams(v[1], 8) & held)}
    counts["decontam"] = len(docs)
    tokens = {}
    for src, text in docs.values():
        tokens[src] = tokens.get(src, 0) + len(re.findall(r"\S+", text))
    total = sum(tokens.values())
    raw = {s: MIXTURE.get(s, 0.0) / (n / total) for s, n in tokens.items()}
    top = max(raw.values(), default=1.0)
    rate = {s: _round6(r / top) for s, r in raw.items()}
    kept = sorted(
        i
        for i, (src, _) in docs.items()
        if rate[src] >= 1.0
        or hashlib.md5(f"{src}:{i}".encode()).hexdigest()[:8] < format(math.floor(rate[src] * 4294967296.0), "08x")
    )
    counts["mixture"] = counts["pack"] = len(kept)
    return counts, kept


def check_curation(counts: dict, kept: list[int], source_docs: list[dict]) -> list[str]:
    """Compare the engine's per-stage counts and kept ``doc_id`` list with
    :func:`expected_curation`; returns the mismatches (empty when correct)."""
    want_counts, want_kept = expected_curation(source_docs)
    bad = [f"{s}: {counts.get(s)} docs, expected {want_counts[s]}" for s in STAGES if counts.get(s) != want_counts[s]]
    if sorted(kept) != want_kept:
        bad.append(f"kept doc_ids differ: {len(set(kept) - set(want_kept))} unexpected, {len(set(want_kept) - set(kept))} missing")
    return bad


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0
