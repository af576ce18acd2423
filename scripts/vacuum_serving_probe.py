"""Round-13 probe: vacuum-aware serving (asof_from_vacuum) against
the PHYSICAL contract — a seq-partitioned on-disk op log with heavy
history, where 'drop the partitions below the horizon' is a real
partition-pruned read, not a runtime-derived filter (the r11
probe-fidelity gotcha: in-memory synthetic logs derive seq at
runtime, so 'seq-pruned' reads scan everything and under-model both
sides).

Fixture: the sf0.1 documents corpus with R=20 full revision waves
(wave k rewrites every doc at seq = k*1e6 + rid) — 21 versions per
doc, the history shape a long-lived KB accumulates. Vacuum horizon
after wave 18:

  (a) full-log resolve at the head — scans all 21 seq partitions and
      shuffles every version ever written (what every head/as-of read
      costs without the vacuum);
  (b) vacuumed serve — the materialized base state (one version per
      doc, the family sidecar at the horizon) + the retained
      partitions (waves 19-20 only, physical partition pruning) via
      advance_live_state.

The r13 registry query cdc_live_as_of_vacuumed grades CORRECTNESS of
the same algebra on the thin-history fixture (where the full log is
only ~1.3x the corpus, so the advance shows no win — recorded
honestly); THIS probe measures the cost model the vacuum exists for.

Run quiet: nohup python scripts/vacuum_serving_probe.py > /tmp/vac.log
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nucliadb_spark.session import get_session
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("VAC_SRC", "/root/testdata/sf0.1")
OUT = os.path.join(
    _ROOT, ".scale", f"vacprobe{'10' if '.scale' in SRC else ''}w{os.environ.get('VAC_WAVES', '20')}"
)
WAVES = int(os.environ.get("VAC_WAVES", "20"))
# all but the last two waves fold; retained = the final two
HORIZON = (WAVES - 1) * 1_000_000


def build(spark) -> None:
    if os.path.exists(os.path.join(OUT, "_DONE")):
        return
    os.makedirs(OUT, exist_ok=True)
    docs = tpch.fields(spark, SRC).select("rid", "text")
    base = docs.select(
        "rid", F.col("rid").cast("long").alias("seq"),
        F.lit("upsert").alias("op"), "text",
    )
    log = base
    for k in range(1, WAVES + 1):
        log = log.unionByName(
            docs.select(
                "rid",
                (F.col("rid") + k * 1_000_000).cast("long").alias("seq"),
                F.lit("upsert").alias("op"),
                F.concat(F.col("text"), F.lit(f" wave{k}")).alias("text"),
            )
        )
    log = log.withColumn("seq_bucket", (F.col("seq") / 1_000_000).cast("long"))
    log.write.mode("overwrite").partitionBy("seq_bucket").parquet(
        os.path.join(OUT, "log.parquet")
    )
    # the vacuum's base state: the family sidecar at the horizon,
    # materialized once (in production this IS the serving artifact)
    full = spark.read.parquet(os.path.join(OUT, "log.parquet"))
    base_state = ingest.CONTENT.resolve(
        full.filter(F.col("seq_bucket") <= HORIZON // 1_000_000 - 1)
    )
    base_state.write.mode("overwrite").parquet(os.path.join(OUT, "base.parquet"))
    open(os.path.join(OUT, "_DONE"), "w").write("ok")


def grade(df) -> None:
    # aggregate the computed column so Catalyst can't prune the work
    df.agg(F.count("*"), F.max(F.length("text"))).collect()


def main() -> None:
    spark = get_session("vacuum-serving-probe")
    spark.range(1).count()
    print("load avg:", os.getloadavg(), flush=True)
    build(spark)
    log = spark.read.parquet(os.path.join(OUT, "log.parquet"))
    base = spark.read.parquet(os.path.join(OUT, "base.parquet"))
    head = (WAVES + 1) * 1_000_000

    def full_resolve():
        grade(ingest.CONTENT.resolve(log.filter(F.col("seq") <= head)))

    def vacuumed_serve():
        retained = log.filter(F.col("seq_bucket") >= HORIZON // 1_000_000)
        vac = ingest.VacuumedLog(
            base, retained.filter(F.col("seq") <= head).drop("seq_bucket"),
            HORIZON,
        )
        grade(
            ingest.asof_from_vacuum(vac, head, ingest.CONTENT.keys, ingest.CONTENT.resolve)
        )

    full_resolve(); vacuumed_serve()  # warm
    for name, fn in (("full-log resolve", full_resolve),
                     ("vacuumed serve", vacuumed_serve)):
        runs = []
        for _ in range(3):
            t0 = time.perf_counter(); fn()
            runs.append(round(time.perf_counter() - t0, 2))
        print(f"{name}: min {min(runs)} s  runs={runs}", flush=True)
    print("load avg after:", os.getloadavg(), flush=True)


if __name__ == "__main__":
    main()
