"""Size-scaled probe: maximal_matching on an arithmetic chain+skip graph
of N nodes — shows the iterative op shifting from latency-bound to
data-bound as the graph grows (the 100x extrapolation evidence)."""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
n, cores = int(sys.argv[1]), int(sys.argv[2])
from bert_namedentityrecognition_spark.plans.session import build_session
from pyspark.sql import functions as F

spark = build_session(app_name=f"scaleB-{n}-{cores}", cores=cores,
                      shuffle_partitions=max(8, cores * 4))
from bert_namedentityrecognition_spark.operators.graph import maximal_matching

def build():
    ids = spark.range(n)
    chain = ids.filter(F.col("id") > 0).select(
        (F.col("id") * 2).alias("edge_id"), (F.col("id") - 1).alias("src"),
        F.col("id").alias("dst"))
    skip = ids.filter((F.col("id") > 1) & (F.col("id") % 3 != 0)).select(
        (F.col("id") * 2 + 1).alias("edge_id"), (F.col("id") - 2).alias("src"),
        F.col("id").alias("dst"))
    return chain.union(skip)

maximal_matching(build()).count()  # warm
t0 = time.perf_counter()
rows = maximal_matching(build()).count()
wall = time.perf_counter() - t0
print(json.dumps({"n_nodes": n, "cores": cores, "rows": rows, "wall_s": round(wall, 2)}))
spark.stop()
