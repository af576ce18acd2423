"""Probe: durable chained advance vs per-snapshot re-fold on the
physical serving substrate.

Claim (serving.state_as_of, r14b): reading a SEQUENCE of advancing
snapshots is delta-proportional — each new snapshot advances from the
previous snapshot's durable artifact with only the (prior, seq]
pruned delta — where the fallback path re-folds the whole retained
range per snapshot, growing with HISTORY DEPTH (versions per doc).
The effect needs history >> state: with ~2 versions/doc both paths
are state-sized jobs (first probe draft measured exactly that — a
~1.2x wash); the regime vacuum+chaining exist for is a long-lived log
with dozens of superseded versions per doc.

Method: 12x-replicated sf0.1 documents (60k rids) with 40 full
revision waves (wave w rewrites every rid at seq w*100k + rid → 41
versions/doc, 2.46M ops, state 60k rows; a 125k-op first draft was
fixed-overhead-dominated and measured a wash). Read states at the
ends of waves 10/20/30/40 twice:
(a) chained (the shipped code), (b) fallback-only (monkeypatch
_nearest_state to None), fresh family per arm. Step time measures
resolution cost; artifacts are written either way.

Run quiet: nohup python scripts/chained_substrate_probe.py > /tmp/chain_probe.log
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nucliadb_spark import serving
from nucliadb_spark.session import get_session
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest

SF = "/root/testdata/sf0.1"
WAVES = int(__import__('os').environ.get('CHAIN_WAVES', '40'))
WAVE_STEP = 100_000
REPS = 12  # 5k docs x 12 = 60k rids, under the wave step

LADDER = [(WAVES * k) // 4 * WAVE_STEP + 99_999 for k in (1, 2, 3, 4)]


def build_log(spark):
    fields = tpch.fields(spark, SF).select("rid", "text")
    n = fields.count()
    reps = spark.range(REPS).select(F.col("id").alias("rep"))
    docs = fields.crossJoin(reps).select(
        (F.col("rid") + F.col("rep") * n).alias("rid"), "text"
    )
    waves = spark.range(WAVES + 1).select(F.col("id").alias("wave"))
    return docs.crossJoin(waves).select(
        "rid",
        (F.col("wave") * WAVE_STEP + F.col("rid")).alias("seq"),
        F.lit("upsert").alias("op"),
        F.concat(
            F.col("text"), F.lit(" rev"), F.col("wave").cast("string")
        ).alias("text"),
    )


def run_arm(spark, tag, chained):
    import nucliadb_spark.serving as srv

    real = srv._nearest_state
    if not chained:
        srv._nearest_state = lambda *a, **kw: None
    try:
        fam = f"probe_{tag}"
        lb = lambda: build_log(spark)  # noqa: E731
        times = []
        for seq in LADDER:
            t0 = time.perf_counter()
            srv.state_as_of(
                spark, SF, fam, lb, ingest.CONTENT.resolve, ingest.CONTENT.keys, seq,
                log_name="probe_log",
            )
            times.append(round(time.perf_counter() - t0, 2))
        print(f"{tag}: {times}", flush=True)
    finally:
        srv._nearest_state = real


def main() -> None:
    spark = get_session("chained-probe")
    spark.range(1).count()
    print("load avg:", os.getloadavg(), flush=True)
    t0 = time.perf_counter()
    serving.physical_log(spark, SF, "probe_log", lambda: build_log(spark))
    print(
        "physical log materialized:",
        round(time.perf_counter() - t0, 2), "s", flush=True,
    )
    # refold first this time (first arm pays residual JVM warmup)
    run_arm(spark, "refold", chained=False)
    run_arm(spark, "chained", chained=True)
    print("load avg after:", os.getloadavg(), flush=True)


if __name__ == "__main__":
    main()
