"""Cold embed-sidecar: from-scratch vs chained-from-S1, at 10x."""
import os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from nucliadb_spark import api
from nucliadb_spark.functions import models
from nucliadb_spark.session import get_session
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest
from nucliadb_spark import cache

SF = "/root/repo/.scale/sf1"  # 10x replica (built by flagship probe)
spark = get_session("embed-chain-probe"); spark.range(1).count()
fields = tpch.fields(spark, SF)
def log_builder(): return ingest.cdc_log(fields)
def embed_live(log):
    return ingest.CONTENT.resolve(log).select(
        "rid", models.stub_embedding(F.col("text")).alias("embedding"))
print("load avg:", os.getloadavg())
# (a) from-scratch cold at S2 (no earlier snapshot cached)
t0 = time.perf_counter()
s2 = api.asof_live_state(spark, SF, "stub_embeddings", 1_500_000,
                         log_builder, embed_live, ingest.CONTENT.keys)
n = s2.count()
print("from-scratch S2 cold:", round(time.perf_counter()-t0,2), "s,", n, "rows")
cache.clear()
# (b) S1 warm (the prior snapshot's artifact), then chained S2
s1 = api.asof_live_state(spark, SF, "stub_embeddings", 500_000,
                         log_builder, embed_live, ingest.CONTENT.keys)
s1.count()
t0 = time.perf_counter()
s2c = api.asof_live_state(spark, SF, "stub_embeddings", 1_500_000,
                          log_builder, embed_live, ingest.CONTENT.keys)
n2 = s2c.count()
print("chained S1->S2 cold:", round(time.perf_counter()-t0,2), "s,", n2, "rows")
assert n == n2, (n, n2)
