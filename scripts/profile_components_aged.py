"""Profile connected_components in a bench-aged session: run the graph
group queries that precede it in bench.py order, sweeping blocks between
queries exactly as the bench does, then time components per phase."""
import time

from pyspark.sql import functions as F

import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_loom_spark.session import get_spark

spark = get_spark(
    app_name="profile-aged", master="local[32]", shuffle_partitions=32
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry
import bench

sf_dir = "/root/testdata/sf0.1"
qs = entry.queries()

# bench-identical warm-up
spark.range(100_000).selectExpr("sum(id)").collect()
spark.read.parquet(f"{sf_dir}/region.parquet").count()
from graph_loom_spark.io.tpch_graph import build_graph

build_graph(spark, sf_dir).edges.count()
bench._drop_persisted_blocks(spark)

for name in ["graph_triangles", "graph_bfs", "graph_degrees", "graph_kcore", "graph_pagerank"]:
    t0 = time.time()
    qs[name](spark, sf_dir).count()
    print(f"{name}: {time.time()-t0:.2f}s", flush=True)
    bench._drop_persisted_blocks(spark)

print("--- components, aged session ---", flush=True)
from graph_loom_spark import analytics

g = entry._graph(spark, sf_dir)
T0 = time.time()
t0 = time.time()
n_edges = 2 * g.edges.count()
n_nodes = g.nodes.count()
print(f"counts: {time.time()-t0:.2f}s", flush=True)
parts = int(max(8, (n_nodes + n_edges) // 500_000))
old = spark.conf.get("spark.sql.shuffle.partitions")
spark.conf.set("spark.sql.shuffle.partitions", str(parts))

t0 = time.time()
adj = (
    analytics._directed_adjacency(g.edges)
    .select(F.xxhash64("u").alias("u"), F.xxhash64("v").alias("v"))
    .repartition(parts, "u")
    .persist()
)
adj.count()
print(f"adjacency persist: {time.time()-t0:.2f}s", flush=True)
t0 = time.time()
idmap = g.nodes.select("id", F.xxhash64("id").alias("iid")).localCheckpoint(eager=True)
print(f"idmap ckpt: {time.time()-t0:.2f}s", flush=True)

bcast = F.broadcast
levels = []
cur = adj
for lvl in range(30):
    t0 = time.time()
    m = (
        cur.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least("u", "__mv").alias("m"))
        .localCheckpoint(eager=True)
    )
    t1 = time.time()
    levels.append(m)
    contracted = (
        cur.join(bcast(m.select("u", F.col("m").alias("__mu"))), "u")
        .join(bcast(m.select(F.col("u").alias("v"), F.col("m").alias("__mv2"))), "v")
        .select(F.col("__mu").alias("u"), F.col("__mv2").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .repartition("u")
        .distinct()
        .localCheckpoint(eager=True)
    )
    t2 = time.time()
    cur = contracted
    empty = contracted.isEmpty()
    print(
        f"level {lvl}: m {t1-t0:.2f}s contract {t2-t1:.2f}s isEmpty {time.time()-t2:.2f}s",
        flush=True,
    )
    if empty:
        break

t0 = time.time()
root = None
for m in reversed(levels):
    if root is None:
        root = m.select("u", F.col("m").alias("root"))
    else:
        root = m.join(bcast(root.withColumnRenamed("u", "m")), "m", "left").select(
            "u", F.coalesce("root", F.col("m")).alias("root")
        )
comp = idmap.join(bcast(root.withColumnRenamed("u", "iid")), "iid", "left").select(
    "id", "iid", F.coalesce("root", F.col("iid")).alias("__hc")
)
rep = comp.groupBy("__hc").agg(F.min("id").alias("component"))
result = comp.join(rep, "__hc").select("id", "component").localCheckpoint(eager=True)
print(f"unwind+stringmap+ckpt: {time.time()-t0:.2f}s", flush=True)
print(f"TOTAL {time.time()-T0:.2f}s rows={result.count()}", flush=True)
spark.conf.set("spark.sql.shuffle.partitions", old)
