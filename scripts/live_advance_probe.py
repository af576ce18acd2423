"""Round-11 probe: generic live-state advance (advance_live_state)
vs from-scratch seq-cut resolution, on the VECTOR family — the
costliest non-text plane (64-dim arrays ride every shuffle row).

Measures, at sf0.1 and at a 10× embeddings replica (built in place
under .scale/vec10, gitignored):
  (a) the S1 live-vector state (the PRIOR snapshot's artifact —
      amortized, in production it already exists),
  (b) advancing S1 → S2 with only the delta ops (the per-snapshot
      marginal cost advance_live_state makes incremental),
  (c) the from-scratch S2 resolution (scan + shuffle of the FULL
      versioned log — what every snapshot used to pay).

Run quiet: nohup python scripts/live_advance_probe.py > /tmp/vadv.log
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nucliadb_spark.session import get_session  # noqa: E402
from nucliadb_spark.sources import tpch  # noqa: E402
from nucliadb_spark.streaming import ingest  # noqa: E402

S1 = int(os.environ.get("ADV_S1", "500000"))  # 1_500_000 → delta = deletes only
S2 = 3_000_000
REPS = int(os.environ.get("SCALE_REPS", "10"))
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
DST = os.path.join(_ROOT, ".scale", f"vec{REPS}")


def build_replica(spark) -> None:
    if os.path.exists(os.path.join(DST, "_DONE")):
        return
    os.makedirs(DST, exist_ok=True)
    df = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n = df.count()
    reps = spark.range(REPS).select(F.col("id").alias("_rep"))
    out = (
        df.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", (F.col("vec_id") + F.col("_rep") * n).cast("long"))
        .drop("_rep")
    )
    out.write.mode("overwrite").parquet(f"{DST}/embeddings.parquet")
    print(f"built embeddings replica: {out.count()} rows", flush=True)
    open(os.path.join(DST, "_DONE"), "w").write("ok")


def build_log(spark, sf: str) -> str:
    """Materialize the vector op log as SEQ-PARTITIONED parquet —
    the physical layout the design assumes at scale ('the op log is
    seq-partitioned, so the delta read is partition pruning'). The
    in-memory synthetic log derives seq at runtime, which makes every
    'seq-pruned' read a full corpus scan and under-models production;
    probing against the physical log measures the real contract."""
    out = os.path.join(
        _ROOT, ".scale", f"veclog{REPS if sf == DST else '01'}"
    )
    if not os.path.exists(os.path.join(out, "_DONE")):
        log = ingest.cdc_vector_log(tpch.vectors(spark, sf)).withColumn(
            "seq_bucket", (F.col("seq") / 500_000).cast("long")
        )
        log.write.mode("overwrite").partitionBy("seq_bucket").parquet(
            os.path.join(out, "log.parquet")
        )
        open(os.path.join(out, "_DONE"), "w").write("ok")
    return os.path.join(out, "log.parquet")


def main() -> None:
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_session("live-advance-probe")
    spark.range(1).count()
    build_replica(spark)
    for sf in (SRC, DST):
        log_path = build_log(spark, sf)
        log = spark.read.parquet(log_path)
        b1, b2 = S1 // 500_000, S2 // 500_000
        # seq_bucket predicates land on the partition column, so the
        # delta read is PHYSICAL partition pruning (the production
        # contract); the seq predicate refines within the boundary
        # bucket
        cut_s1 = log.filter(
            (F.col("seq_bucket") <= b1) & (F.col("seq") <= S1)
        )
        delta = log.filter(
            (F.col("seq_bucket") >= b1)
            & (F.col("seq_bucket") <= b2)
            & (F.col("seq") > S1)
            & (F.col("seq") <= S2)
        )
        # (a) the prior snapshot's live state (exists in production)
        t0 = time.perf_counter()
        prior = ingest.VECTORS.resolve(cut_s1).persist()
        prior.count()
        t_base = round(time.perf_counter() - t0, 2)
        # (b) the incremental advance (key anti-join + delta resolve)
        t0 = time.perf_counter()
        adv = ingest.advance_live_state(
            prior, delta, ingest.VECTORS.keys, ingest.VECTORS.resolve
        )
        n_adv = adv.count()
        t_adv = round(time.perf_counter() - t0, 2)
        # (c) the from-scratch S2 resolution (full-log scan + shuffle)
        t0 = time.perf_counter()
        scratch = ingest.VECTORS.resolve(
            log.filter((F.col("seq_bucket") <= b2) & (F.col("seq") <= S2))
        )
        n_scr = scratch.count()
        t_scr = round(time.perf_counter() - t0, 2)
        prior.unpersist()
        assert n_adv == n_scr, (n_adv, n_scr)
        print(
            f"RESULT {sf}: base(S1) {t_base}s | advance(S1->S2) {t_adv}s | "
            f"from-scratch(S2) {t_scr}s | advance/scratch "
            f"{round(t_adv / t_scr, 2)}x | live rows {n_scr}",
            flush=True,
        )


if __name__ == "__main__":
    main()
