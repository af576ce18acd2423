"""Default as-of serving substrate (r14): physical seq-range-
partitioned op logs + durable per-snapshot family states + vacuum.

Before this module, every as-of read resolved an IN-MEMORY derived op
log per session (correct, but the 100 TB story was only *asserted*:
"the log would be seq-partitioned parquet, so the seq cut is partition
pruning"). This module makes that the actual serving substrate, the
layout scripts/vacuum_serving_probe.py measured FLAT under growing
history:

- **Physical log**: each CDC family's op log is materialized ONCE per
  (session, corpus) as parquet partitioned by ``seq_bucket``
  (``seq // SEQ_BUCKET_WIDTH``). Every seq cut
  (:func:`log_upto` / :func:`log_between`) carries the bucket
  predicate alongside the seq predicate, so ``seq <= S`` is PARTITION
  PRUNING on the scan (pinned by tests/test_plan_shapes.py), not a
  filter over the full history.
- **Durable states**: :func:`state_as_of` materializes each
  (family, seq) resolution as its own parquet artifact — the serving
  segment. A later read (or a cache-evicted plan recompute) reads the
  artifact, never the history that produced it. This is what makes
  PHYSICAL vacuum safe: nothing re-derives a state from partitions
  the vacuum may have deleted. A NEW snapshot chains: it advances
  from the nearest existing artifact (:func:`nearest_prior`) with
  only the (prior, seq] pruned delta, so a sequence of snapshot reads
  is delta-proportional, never repeatedly horizon-proportional. This
  is the engine's only live-state chain: ``api.asof_live_state`` is
  a session-cache wrapper over it.
- **Vacuum**: :func:`vacuum_family` folds a family's history at or
  below a horizon into a durable base state (the
  :class:`~nucliadb_spark.streaming.ingest.VacuumedLog` algebra,
  graded since r13); :func:`purge_log` then PHYSICALLY DELETES the
  log partitions every family on that log has folded past. Reads at
  ``seq >= horizon`` serve from (base, retained-partitions) via
  :func:`~nucliadb_spark.streaming.ingest.asof_from_vacuum`; reads
  below the horizon raise the pinned-snapshot error — surfaced
  through ``FindRequest`` because ``api.asof_live_state`` /
  ``api.asof_text_index`` route here, and a memoized plan re-runs the
  horizon checks its build made (tests/test_serving_substrate.py
  pins both).

Reference anchors: segment purge nidx/src/scheduler/purge_tasks.rs:
26-43 (merged-away segments are deleted, reads promise only
still-served state); the indexer's new-segment-plus-deletion-list
advance nidx/src/indexer.rs:121-253 (the same associativity that
makes (base, retained) serving exact).

At 100 TB: the physical log IS the table (no per-session rewrite —
:func:`stream_maintained_log` is that stream sink: foreachBatch
appends in arrival order with incremental checkpointed drains, and
the batch materialization remains only as the fixture bootstrap);
seq buckets are sized by bytes not count; vacuum
drops whole partitions (a metadata operation); the durable states are
the family's serving segments, exactly the artifacts a compacted
index serves live reads from.
"""

from __future__ import annotations

import os
import shutil
import atexit
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from nucliadb_spark.streaming import ingest

SEQ_BUCKET_WIDTH = 250_000

# no vacuum yet: base is empty, every op is retained. -1 (not 0) so a
# log whose first ops sit at seq 0 folds nothing by default.
NO_HORIZON = -1

# (app_id, sf_dir, log_name) -> materialized log directory
_LOG_DIRS: dict[tuple[str, str, str], str] = {}
# (app_id, sf_dir, log_name) -> the log's schema, recorded when it is
# first materialized or drained: a purge can delete every partition,
# and a read that inferred the schema from the files would then fail
_LOG_SCHEMAS: dict[tuple[str, str, str], StructType] = {}
# (app_id, sf_dir, family) -> vacuum horizon (NO_HORIZON = none)
_HORIZONS: dict[tuple[str, str, str], int] = {}
# (app_id, sf_dir, family) -> family state/base directory
_FAM_DIRS: dict[tuple[str, str, str], str] = {}
# (app_id, sf_dir, log_name) -> families served from that log (so a
# physical purge can check every consumer has folded past the cut)
_LOG_FAMILIES: dict[tuple[str, str, str], set[str]] = {}
# (app_id, sf_dir, log_name) -> highest seq whose partitions were
# physically purged. A family that first registers AFTER a purge has
# no base covering the deleted range — resolving it from the gappy
# log would be silently wrong, so computation guards on this floor.
_PURGE_FLOORS: dict[tuple[str, str, str], int] = {}
# one set of (sf_dir, family, seq) per plan build in progress: every
# horizon check lands in each enclosing build's set (see
# recorded_checks), so a memoized plan can repeat its checks on a hit
_CHECKS: list[set[tuple[str, str, int]]] = []


# every temp dir this module (or a substrate consumer, via
# tracked_mkdtemp) creates — reclaimed at interpreter exit, since
# /tmp is NOT cleaned between sessions and the substrate copies can
# be corpus-sized (the vacuum twin's private corpus, the 10x probes)
_TEMP_DIRS: list[str] = []


def _cleanup_temp_dirs() -> None:
    for d in _TEMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _TEMP_DIRS.clear()


atexit.register(_cleanup_temp_dirs)


def tracked_mkdtemp(prefix: str) -> str:
    """mkdtemp whose directory is deleted at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(d)
    return d


def _key(spark: SparkSession, sf_dir: str, name: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)


def physical_log(
    spark: SparkSession, sf_dir: str, log_name: str, log_builder
) -> DataFrame:
    """The family log as its physical, seq-bucket-partitioned parquet
    table — materialized once per (session, corpus, log). Returns the
    reader frame WITH the ``seq_bucket`` partition column (cuts below
    use it for pruning and drop it)."""
    key = _key(spark, sf_dir, log_name)
    d = _LOG_DIRS.get(key)
    if d is None:
        if log_builder is None:
            raise ValueError(
                f"log '{log_name}' has no materialized serving layout "
                "and no builder was given — a stream-maintained log "
                "must be populated via stream_maintained_log before "
                "the substrate can serve from it"
            )
        d = tracked_mkdtemp(prefix=f"serving_{log_name}_")
        log_builder().withColumn(
            "seq_bucket",
            F.floor(F.col("seq") / F.lit(SEQ_BUCKET_WIDTH)).cast("long"),
        ).write.mode("overwrite").partitionBy("seq_bucket").parquet(
            f"{d}/log"
        )
        _LOG_DIRS[key] = d
    return _read_log(spark, key)


def _read_log(spark: SparkSession, key: tuple[str, str, str]) -> DataFrame:
    """The materialized log read with its recorded schema (recorded
    by the first read, while partitions exist), so a log the purge
    emptied reads as an empty frame."""
    log_dir = f"{_LOG_DIRS[key]}/log"
    if key not in _LOG_SCHEMAS:
        _LOG_SCHEMAS[key] = spark.read.parquet(log_dir).schema
    return spark.read.schema(_LOG_SCHEMAS[key]).parquet(log_dir)


def stream_maintained_log(
    spark: SparkSession,
    sf_dir: str,
    log_name: str,
    arrival_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Maintain the physical serving log with STRUCTURED STREAMING —
    the stream sink the module docstring's batch materialization
    stood in for. ``readStream`` over the arrival directory,
    ``foreachBatch`` appending each micro-batch into the SAME
    seq-bucket-partitioned layout :func:`physical_log` writes, with
    the checkpoint's file tracking making each drain incremental
    (calling again after new files arrive appends ONLY the new ops —
    the availableNow analog of the always-on maintenance sink,
    mirroring the reference's indexer consuming its NATS stream,
    nidx/src/indexer.rs:121-253). Registers the directory so every
    substrate read (:func:`log_upto` / :func:`state_as_of` /
    :func:`vacuum_family`) serves from the stream-maintained table
    with the same partition-pruned seq cuts.

    Micro-batch appends leave one file per batch per touched bucket —
    exactly the small-segment accumulation the scheduled
    autocompaction pass exists to rewrite (ingest.OpLogFamily.autocompact);
    the read path is layout-agnostic either way. At 100 TB this is
    the ingestion story: the log is never rebuilt, it is APPENDED in
    arrival order, and seq buckets keep every historical read
    delta-proportional.

    The sink carries the reference indexer's SEQ GUARD (nidx drops
    messages at or below what the index already incorporates,
    nidx/src/indexer.rs:121-148): arrivals at or below the log's
    PURGE FLOOR are dropped, not appended — a late op whose seq falls
    in a physically deleted bucket would otherwise re-create a
    partial partition where history was discarded (harmless to
    vacuumed reads, which never scan below their horizon, but a
    corrupt layout for any later full-log maintenance scan)."""
    key = _key(spark, sf_dir, log_name)
    d = _LOG_DIRS.get(key)
    fresh = d is None
    if fresh:
        d = tracked_mkdtemp(prefix=f"serving_{log_name}_")
    log_dir = f"{d}/log"
    floor = purge_floor(spark, sf_dir, log_name)
    try:
        schema = spark.read.parquet(arrival_dir).schema
        stream = spark.readStream.schema(schema).parquet(arrival_dir)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.filter(F.col("seq") > floor).withColumn(
                "seq_bucket",
                F.floor(F.col("seq") / F.lit(SEQ_BUCKET_WIDTH)).cast("long"),
            ).write.mode("append").partitionBy("seq_bucket").parquet(log_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except Exception:
        # register the dir only once data exists in it: a failed
        # FIRST drain must not poison the log key (a later batch
        # builder or retry could then never repopulate it). A drain
        # that appended SOME batches before failing keeps the
        # registration — the checkpoint tracks what was consumed, so
        # a retry with the same checkpoint continues into the same
        # dir instead of stranding the drained ops.
        if fresh and os.path.exists(log_dir):
            _LOG_DIRS[key] = d
        raise
    _LOG_DIRS[key] = d
    return _read_log(spark, key)


def log_upto(
    spark: SparkSession, sf_dir: str, log_name: str, log_builder, seq: int
) -> DataFrame:
    """Ops with ``seq <= seq`` — the snapshot cut, with the bucket
    predicate so the cut is partition pruning on the physical scan."""
    log = physical_log(spark, sf_dir, log_name, log_builder)
    return log.filter(
        (F.col("seq_bucket") <= seq // SEQ_BUCKET_WIDTH)
        & (F.col("seq") <= seq)
    ).drop("seq_bucket")


def log_between(
    spark: SparkSession,
    sf_dir: str,
    log_name: str,
    log_builder,
    lo: int,
    hi: int,
) -> DataFrame:
    """Ops with ``lo < seq <= hi`` — the delta between two snapshots,
    pruned on both ends (the chained-advance read)."""
    log = physical_log(spark, sf_dir, log_name, log_builder)
    return log.filter(
        (F.col("seq_bucket") >= lo // SEQ_BUCKET_WIDTH)
        & (F.col("seq_bucket") <= hi // SEQ_BUCKET_WIDTH)
        & (F.col("seq") > lo)
        & (F.col("seq") <= hi)
    ).drop("seq_bucket")


def horizon(spark: SparkSession, sf_dir: str, family: str) -> int:
    return _HORIZONS.get(_key(spark, sf_dir, family), NO_HORIZON)


def purge_floor(spark: SparkSession, sf_dir: str, log_name: str) -> int:
    return _PURGE_FLOORS.get(_key(spark, sf_dir, log_name), NO_HORIZON)


def nearest_prior(
    seqs: list[int], seq: int, horizon: int, purge_floor: int
) -> int | None:
    """The snapshot a NEW read at ``seq`` chains from: the nearest of
    ``seqs`` strictly below it (the smallest delta) that sits at or
    above both the family's vacuum horizon and its log's purge floor,
    so the (prior, seq] delta reads only partitions the purge left in
    place (deleted partitions all end at or below the floor). None
    when no snapshot qualifies: build without a chain."""
    lo = max(horizon, purge_floor)
    return max((s for s in seqs if lo <= s < seq), default=None)


def recorded_checks(build):
    """``(checks, build())``: the ``(sf_dir, family, seq)`` horizon
    checks the build made, nested builds included."""
    checks: set[tuple[str, str, int]] = set()
    _CHECKS.append(checks)
    try:
        out = build()
    finally:
        _CHECKS.pop()
    return frozenset(checks), out


def check_horizon(
    spark: SparkSession, sf_dir: str, family: str, seq: int
) -> None:
    """Raise the pinned-snapshot error for a read below the family's
    vacuum horizon — the same contract asof_from_vacuum enforces,
    checked up-front so even a session-cached serving path cannot
    answer a seq whose history the vacuum discarded. Driver-side
    state only: no Spark job."""
    for checks in _CHECKS:
        checks.add((sf_dir, family, seq))
    h = horizon(spark, sf_dir, family)
    if seq < h:
        raise ValueError(
            f"as-of seq {seq} is below the vacuum horizon {h} for "
            f"family '{family}': its history was discarded — pinned "
            "snapshots must stay at or above the horizon. Choose a "
            "horizon at or below every pinned snapshot BEFORE "
            "vacuuming; discarded history cannot be recovered"
        )


def _check_purge_floor(
    spark: SparkSession, sf_dir: str, log_name: str, family: str
) -> None:
    """Guard every COMPUTATION from a physical log: a family whose
    vacuum horizon sits below the log's purge floor has no base
    covering the deleted partitions — resolving it from the gappy log
    would silently drop every op the purge removed (the r14 smoke
    caught exactly this: a family first registered AFTER another
    family's vacuum purged their shared log). Reading an
    already-materialized state artifact is always safe (it was
    written from pre-purge data); only log-reading computation
    guards here."""
    floor = purge_floor(spark, sf_dir, log_name)
    if horizon(spark, sf_dir, family) < floor:
        raise ValueError(
            f"log '{log_name}' was physically purged up to seq {floor} "
            f"but family '{family}' has no base state at or above that "
            "floor: the history it would resolve from is gone. Every "
            "family served from a log must vacuum_family (materialize "
            "its base) BEFORE the log is purged — a purge refuses for "
            "registered families, but a family first read after the "
            "purge cannot be reconstructed locally"
        )


def _fam_dir(spark: SparkSession, sf_dir: str, family: str) -> str:
    key = _key(spark, sf_dir, family)
    d = _FAM_DIRS.get(key)
    if d is None:
        d = tracked_mkdtemp(prefix=f"serving_fam_{family}_")
        _FAM_DIRS[key] = d
    return d


def _base_state(
    spark: SparkSession, sf_dir: str, family: str, log, resolve
) -> DataFrame:
    """The family's folded base state at its current horizon: the
    durable parquet artifact vacuum_family wrote, or (no vacuum yet)
    an empty frame with the family's state schema."""
    h = horizon(spark, sf_dir, family)
    if h == NO_HORIZON:
        return resolve(log.limit(0))
    return spark.read.parquet(
        os.path.join(_fam_dir(spark, sf_dir, family), f"base_h{h}")
    )


def _state_seqs(d: str) -> list[int]:
    """Seqs of the family's complete (``_SUCCESS``) durable state
    artifacts in its directory ``d``."""
    return [
        int(name[len("state_s"):])
        for name in os.listdir(d)
        if name.startswith("state_s")
        and os.path.exists(os.path.join(d, name, "_SUCCESS"))
    ]


def state_as_of(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    log_builder,
    resolve,
    keys: tuple[str, ...],
    seq: int,
    log_name: str | None = None,
) -> DataFrame:
    """A family's live state AS OF ``seq``, served from the physical
    substrate. A NEW snapshot never re-resolves history it already
    folded: it advances from the family's nearest durable state
    (:func:`nearest_prior`, at or above the vacuum horizon and the
    log's purge floor) with :func:`ingest.advance_live_state` over
    only the (prior, seq] partition-pruned delta, falling back to
    (base at the vacuum horizon) + retained ops via
    :func:`ingest.asof_from_vacuum` when no artifact can chain. The
    result is MATERIALIZED as the family's durable per-snapshot
    serving artifact and read back, so later reads (and cache-evicted
    plan recomputes) never touch the history again — the property
    that makes physical vacuum safe."""
    log_name = log_name or family
    check_horizon(spark, sf_dir, family, seq)
    d = _fam_dir(spark, sf_dir, family)
    state_path = os.path.join(d, f"state_s{seq}")
    if not os.path.exists(os.path.join(state_path, "_SUCCESS")):
        h = horizon(spark, sf_dir, family)
        prior_seq = nearest_prior(
            _state_seqs(d), seq, h, purge_floor(spark, sf_dir, log_name)
        )
        if prior_seq is not None:
            # durable chained advance: prior state + the pruned delta
            prior = spark.read.parquet(
                os.path.join(d, f"state_s{prior_seq}")
            )
            delta = log_between(
                spark, sf_dir, log_name, log_builder, prior_seq, seq
            )
            state = ingest.advance_live_state(prior, delta, keys, resolve)
        else:
            _check_purge_floor(spark, sf_dir, log_name, family)
            full = physical_log(spark, sf_dir, log_name, log_builder)
            base = _base_state(
                spark, sf_dir, family, full.drop("seq_bucket"), resolve
            )
            retained = log_between(
                spark, sf_dir, log_name, log_builder, max(h, NO_HORIZON), seq
            )
            vac = ingest.VacuumedLog(base, retained, max(h, 0))
            state = ingest.asof_from_vacuum(vac, seq, keys, resolve)
        state.write.mode("overwrite").parquet(state_path)
    # registered once served, never by a read the purge floor refused:
    # a registered family at NO_HORIZON blocks every later purge_log
    _LOG_FAMILIES.setdefault(_key(spark, sf_dir, log_name), set()).add(family)
    return spark.read.parquet(state_path)


def vacuum_family(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    log_builder,
    resolve,
    keys: tuple[str, ...],
    new_horizon: int,
    log_name: str | None = None,
) -> None:
    """Advance the family's vacuum horizon: fold every op at or below
    ``new_horizon`` into a DURABLE base state (advancing the previous
    base with only the (old, new] delta — never a full re-resolve),
    then record the horizon. History below the horizon is no longer
    readable through this family (check_horizon raises); call
    :func:`purge_log` afterwards to physically delete the folded
    partitions once every family on the log has moved past them."""
    log_name = log_name or family
    old = horizon(spark, sf_dir, family)
    if new_horizon <= old:
        return
    _check_purge_floor(spark, sf_dir, log_name, family)
    _LOG_FAMILIES.setdefault(_key(spark, sf_dir, log_name), set()).add(family)
    d = _fam_dir(spark, sf_dir, family)
    full = physical_log(spark, sf_dir, log_name, log_builder)
    prior = _base_state(spark, sf_dir, family, full.drop("seq_bucket"), resolve)
    delta = log_between(
        spark, sf_dir, log_name, log_builder, max(old, NO_HORIZON), new_horizon
    )
    new_base = ingest.advance_live_state(prior, delta, keys, resolve)
    new_path = os.path.join(d, f"base_h{new_horizon}")
    new_base.write.mode("overwrite").parquet(new_path)
    _HORIZONS[_key(spark, sf_dir, family)] = new_horizon
    if old != NO_HORIZON:
        shutil.rmtree(os.path.join(d, f"base_h{old}"), ignore_errors=True)


def purge_log(
    spark: SparkSession, sf_dir: str, log_name: str, upto: int
) -> int:
    """PHYSICALLY delete the log's fully-folded seq-bucket partitions
    (every seq in the partition <= ``upto``) — the irreversible half
    of vacuum (the reference's segment purge,
    nidx/src/scheduler/purge_tasks.rs:26-43). Refuses unless every
    family registered on this log has a horizon >= ``upto``: a family
    still below would silently lose history it can legally read.
    Returns the number of partitions deleted. The recorded purge
    floor is the ACTUAL deletion extent (the end of the highest
    fully-deleted bucket), not the requested ``upto``: a purge that
    deletes nothing — log never materialized, or no bucket fully
    folded — leaves the history reconstructible and must not brick
    the log name for later-registered families."""
    key = _key(spark, sf_dir, log_name)
    fams = _LOG_FAMILIES.get(key, set())
    behind = {
        f: horizon(spark, sf_dir, f)
        for f in fams
        if horizon(spark, sf_dir, f) < upto
    }
    if behind:
        raise ValueError(
            f"cannot purge log '{log_name}' up to {upto}: families "
            f"{sorted(behind)} have horizons {behind} below the cut — "
            "vacuum_family them first (their base states are what "
            "replaces the deleted history)"
        )
    d = _LOG_DIRS.get(key)
    if d is None:
        return 0
    deleted = 0
    log_dir = f"{d}/log"
    for part in os.listdir(log_dir):
        if not part.startswith("seq_bucket="):
            continue
        bucket = int(part.split("=", 1)[1])
        # the partition holds seqs [b*W, (b+1)*W) — delete only if
        # the WHOLE range is folded
        if (bucket + 1) * SEQ_BUCKET_WIDTH - 1 <= upto:
            shutil.rmtree(os.path.join(log_dir, part))
            deleted += 1
            _PURGE_FLOORS[key] = max(
                (bucket + 1) * SEQ_BUCKET_WIDTH - 1,
                _PURGE_FLOORS.get(key, NO_HORIZON),
            )
    return deleted
