"""The r14 DEFAULT serving substrate (nucliadb_spark/serving.py):
physical seq-bucket-partitioned op logs, durable per-snapshot family
states, vacuum with PHYSICAL partition deletion, and the pinned-
snapshot error surfaced through FindRequest.

Vacuum mutates session-global per-(sf_dir, family) state and DELETES
log partitions on disk, so every test here runs against an ISOLATED
copy of the corpus directory — the shared sf_dir's substrate is never
touched. Tests run in FILE ORDER and the later ones build on the
earlier ones' vacuum state (the lifecycle a real deployment walks:
serve → vacuum → purge → serve-from-vacuumed → late-reader error).
"""

from __future__ import annotations

import os
import shutil

import pytest

from nucliadb_spark import api, serving
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest

H = 499_999  # folds the whole insert wave (rids < 250k)


def _iso_copy(tmp_path_factory, sf_dir, name):
    d = tmp_path_factory.mktemp(name)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sf_dir, f), os.path.join(str(d), f))
    return str(d)


@pytest.fixture(scope="module")
def iso_dir(tmp_path_factory, sf_dir):
    return _iso_copy(tmp_path_factory, sf_dir, "iso_sf")


@pytest.fixture(scope="module")
def fresh_dir(tmp_path_factory, sf_dir):
    """A second isolated copy for the memo and full-purge lifecycle at
    the end of the file, whose content log starts unvacuumed."""
    return _iso_copy(tmp_path_factory, sf_dir, "fresh_sf")


def _content(spark, sf):
    fields = tpch.fields(spark, sf)
    return (lambda: ingest.cdc_log(fields)), ingest.CONTENT.resolve


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=str)


def test_seq_cut_is_partition_pruning(spark, iso_dir):
    """A seq <= S cut on the physical log must prune seq_bucket
    PARTITIONS, not filter a full scan — the property that keeps an
    as-of read delta-proportional when the log is 100 TB."""
    lb, _ = _content(spark, iso_dir)
    cut = serving.log_upto(spark, iso_dir, "content_text", lb, 1_000_030)
    plan = cut._jdf.queryExecution().executedPlan().toString()
    pruned = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "seq_bucket" in ln and "<= 4" in ln
    ]
    assert pruned, f"no seq_bucket partition filter in plan:\n{plan}"


def test_state_as_of_matches_in_memory_resolution(spark, iso_dir):
    """The durable substrate state == the in-memory seq-cut
    resolution (the pre-r14 serving path) at several snapshots."""
    lb, res = _content(spark, iso_dir)
    log = lb()
    for seq in (1_000_030, 1_500_000, 3_000_000):
        served = serving.state_as_of(
            spark, iso_dir, "content_text", lb, res, ingest.CONTENT.keys, seq
        )
        assert _rows(served) == _rows(ingest.cdc_live_as_of(log, seq))


def test_purge_refuses_when_a_family_is_behind(spark, iso_dir):
    """Two families share the content log; purging past the horizon
    of either must refuse — deleting partitions a consumer can still
    legally read would silently corrupt its snapshots. (Runs BEFORE
    the purge test: afterwards the refusal would be moot.)"""
    lb, res = _content(spark, iso_dir)
    # register the second family on the same log, NOT vacuumed yet
    serving.state_as_of(
        spark,
        iso_dir,
        "stub_embeddings",
        lb,
        api.stub_embed_live,
        ingest.CONTENT.keys,
        1_500_000,
        log_name="content_text",
    )
    serving.vacuum_family(
        spark, iso_dir, "content_text", lb, res, ingest.CONTENT.keys, H
    )
    with pytest.raises(ValueError, match="cannot purge"):
        serving.purge_log(spark, iso_dir, "content_text", H)


def test_vacuum_purge_serves_above_and_raises_below(spark, iso_dir):
    """After every content-log family folds and purge_log runs, the
    folded partitions are PHYSICALLY GONE, reads at/above the horizon
    still equal the full-history resolution, and reads below raise."""
    lb, res = _content(spark, iso_dir)
    expected = {
        seq: _rows(ingest.cdc_live_as_of(lb(), seq))
        for seq in (H, 1_500_000, 3_000_000)
    }
    serving.vacuum_family(
        spark, iso_dir, "content_text", lb, res, ingest.CONTENT.keys, H
    )
    serving.vacuum_family(
        spark, iso_dir, "stub_embeddings", lb, api.stub_embed_live,
        ingest.CONTENT.keys, H, log_name="content_text",
    )
    deleted = serving.purge_log(spark, iso_dir, "content_text", H)
    assert deleted >= 1
    key = serving._key(spark, iso_dir, "content_text")
    log_dir = os.path.join(serving._LOG_DIRS[key], "log")
    buckets = sorted(
        int(p.split("=")[1])
        for p in os.listdir(log_dir)
        if p.startswith("seq_bucket=")
    )
    # buckets 0 and 1 hold only seqs <= 499_999 — both must be gone
    assert buckets and min(buckets) >= 2, buckets
    for seq, exp in expected.items():
        served = serving.state_as_of(
            spark, iso_dir, "content_text", lb, res, ingest.CONTENT.keys, seq
        )
        assert _rows(served) == exp, f"seq {seq} diverged post-vacuum"
    with pytest.raises(ValueError, match="below the vacuum horizon"):
        serving.state_as_of(
            spark, iso_dir, "content_text", lb, res, ingest.CONTENT.keys, 100_000
        )


def test_find_request_below_horizon_raises(spark, iso_dir):
    """The pinned-snapshot error surfaces through the PUBLIC API: the
    same FindRequest that succeeds at/above the horizon raises below
    it (asof_text_index/asof_live_state route through the
    substrate)."""
    ok = api.find_request(
        spark,
        iso_dir,
        api.FindRequest(
            query="refreshed revision stream",
            features=["keyword"],
            top_k=5,
            as_of=1_500_000,
        ),
    )
    assert ok.count() > 0
    with pytest.raises(ValueError, match="below the vacuum horizon"):
        api.find_request(
            spark,
            iso_dir,
            api.FindRequest(
                query="refreshed revision stream",
                features=["keyword"],
                top_k=5,
                as_of=100_000,
            ),
        ).collect()


def test_late_family_on_purged_log_raises(spark, iso_dir):
    """A family first read AFTER its shared log was purged has no
    base covering the deleted partitions — computing its state from
    the gappy log would silently drop the purged ops (the bug the r14
    sf0.01 smoke caught: the derived plane registered after the
    vacuum twin purged the content log). The purge floor turns that
    into a loud error."""
    lb, _ = _content(spark, iso_dir)
    with pytest.raises(ValueError, match="physically purged"):
        serving.state_as_of(
            spark,
            iso_dir,
            "late_family",
            lb,
            ingest.cdc_live_derived,
            ingest.CONTENT.keys,
            1_500_000,
            log_name="content_text",
        )


def test_refused_late_read_does_not_block_later_purges(
    spark, tmp_path_factory, sf_dir
):
    """A read the purge floor refuses must not register its family on
    the log: registered at no horizon, it would make every later
    purge_log of that log refuse."""
    sf = _iso_copy(tmp_path_factory, sf_dir, "late_purge_sf")
    lb, res = _content(spark, sf)
    serving.vacuum_family(
        spark, sf, "content_text", lb, res, ingest.CONTENT.keys, 249_999
    )
    assert serving.purge_log(spark, sf, "content_text", 249_999) == 1
    with pytest.raises(ValueError, match="physically purged"):
        serving.state_as_of(
            spark, sf, "late", lb, ingest.cdc_live_derived,
            ingest.CONTENT.keys, 1_500_000, log_name="content_text",
        )
    serving.vacuum_family(
        spark, sf, "content_text", lb, res, ingest.CONTENT.keys, 499_999
    )
    serving.purge_log(spark, sf, "content_text", 499_999)  # must not refuse


def test_vacuumed_base_is_durable_parquet(spark, iso_dir):
    """The vacuum's base state is a durable on-disk artifact (the
    family's serving segment at the horizon), not a lazy plan over
    history that may be deleted."""
    d = serving._FAM_DIRS[serving._key(spark, iso_dir, "content_text")]
    base = os.path.join(d, f"base_h{H}")
    assert os.path.exists(os.path.join(base, "_SUCCESS"))
    n = spark.read.parquet(base).count()
    # the insert wave: every rid, folded once
    assert n == tpch.fields(spark, iso_dir).count()


# --- stream-maintained serving log (r14: the batch stand-in closed) --------


def _stream_rows(spark, rows):
    return spark.createDataFrame(
        rows, "rid long, seq long, op string, text string"
    )


def test_stream_maintained_log_serves_and_advances(spark, tmp_path):
    """The physical serving log maintained by Structured Streaming:
    tranche 1 drains and serves; tranche 2 (a delete) arrives, a
    SECOND drain picks up only the new files (checkpoint file
    tracking), the live cut reflects it, and the earlier snapshot
    cut — whose durable state artifact predates the delete — is
    untouched."""
    key_dir = str(tmp_path)
    arrivals = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    _stream_rows(
        spark,
        [
            (1, 0, "upsert", "alpha one"),
            (2, 1, "upsert", "beta two"),
            (1, 300_000, "upsert", "alpha revised"),
        ],
    ).write.mode("append").parquet(arrivals)
    serving.stream_maintained_log(spark, key_dir, "stream_t", arrivals, ckpt)
    mid = serving.state_as_of(
        spark, key_dir, "stream_t", None, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 400_000,
    )
    assert _rows(mid) == [(1, "alpha revised"), (2, "beta two")]

    _stream_rows(spark, [(2, 600_000, "delete", None)]).write.mode(
        "append"
    ).parquet(arrivals)
    serving.stream_maintained_log(spark, key_dir, "stream_t", arrivals, ckpt)
    live = serving.state_as_of(
        spark, key_dir, "stream_t", None, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 700_000,
    )
    assert _rows(live) == [(1, "alpha revised")]
    # the pinned earlier snapshot still serves from its artifact
    assert _rows(
        serving.state_as_of(
            spark, key_dir, "stream_t", None, ingest.CONTENT.resolve,
            ingest.CONTENT.keys, 400_000,
        )
    ) == [(1, "alpha revised"), (2, "beta two")]


def test_stream_maintained_seq_cut_is_partition_pruning(spark, tmp_path):
    """Seq cuts on the STREAM-maintained layout prune seq_bucket
    partitions exactly like the batch-materialized one — appends via
    foreachBatch land in the same partitioned table."""
    key_dir = str(tmp_path)
    arrivals = str(tmp_path / "arrivals")
    _stream_rows(
        spark,
        [(1, 10, "upsert", "a"), (2, 300_000, "upsert", "b"),
         (3, 600_000, "upsert", "c")],
    ).write.mode("append").parquet(arrivals)
    serving.stream_maintained_log(
        spark, key_dir, "stream_p", arrivals, str(tmp_path / "ckpt")
    )
    cut = serving.log_upto(spark, key_dir, "stream_p", None, 300_000)
    plan = cut._jdf.queryExecution().executedPlan().toString()
    pruned = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "seq_bucket" in ln and "<= 1" in ln
    ]
    assert pruned, f"no seq_bucket partition filter in plan:\n{plan}"
    assert {r["rid"] for r in cut.collect()} == {1, 2}


def test_unfed_stream_log_raises(spark, tmp_path):
    """A substrate read against a log that was never populated (no
    builder, no stream drain) must fail loudly, not invent an empty
    corpus."""
    with pytest.raises(ValueError, match="stream_maintained_log"):
        serving.state_as_of(
            spark, str(tmp_path), "never_fed", None,
            ingest.CONTENT.resolve, ingest.CONTENT.keys, 10,
        )


# --- durable chained advance (r14b) -----------------------------------------


def test_new_snapshot_chains_from_nearest_artifact(spark, tmp_path,
                                                   monkeypatch):
    """A second snapshot must ADVANCE from the first snapshot's
    durable artifact with only the (prior, seq] delta — never
    re-resolve from the horizon — and the chained result must equal
    a from-scratch resolution (computed by a control family with no
    artifact to chain from)."""
    key_dir = str(tmp_path)
    rows = [
        (1, 10, "upsert", "alpha one"),
        (2, 20, "upsert", "beta two"),
        (1, 300_000, "upsert", "alpha revised"),
        (2, 600_000, "delete", None),
        (3, 600_005, "upsert", "gamma three"),
    ]
    log = spark.createDataFrame(
        rows, "rid long, seq long, op string, text string"
    )
    lb = lambda: log  # noqa: E731

    first = serving.state_as_of(
        spark, key_dir, "chain_t", lb, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 400_000,
    )
    assert _rows(first) == [(1, "alpha revised"), (2, "beta two")]

    calls = {"advance": 0, "vacuum": 0}
    real_advance = ingest.advance_live_state
    real_vacuum = ingest.asof_from_vacuum

    def counting_advance(*a, **kw):
        calls["advance"] += 1
        return real_advance(*a, **kw)

    def counting_vacuum(*a, **kw):
        calls["vacuum"] += 1
        return real_vacuum(*a, **kw)

    monkeypatch.setattr(serving.ingest, "advance_live_state",
                        counting_advance)
    monkeypatch.setattr(serving.ingest, "asof_from_vacuum",
                        counting_vacuum)
    second = serving.state_as_of(
        spark, key_dir, "chain_t", lb, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 700_000,
    )
    assert calls == {"advance": 1, "vacuum": 0}
    monkeypatch.undo()

    control = serving.state_as_of(
        spark, key_dir, "chain_ctl", lb, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 700_000, log_name="chain_t",
    )
    assert _rows(second) == _rows(control)
    assert _rows(second) == [(1, "alpha revised"), (3, "gamma three")]


def test_chain_start_respects_vacuum_horizon(spark, tmp_path):
    """After a vacuum lifts the family's horizon past an old
    artifact, a new snapshot must NOT chain from it (the conservative
    invariant: chain starts sit at or above the horizon) — it folds
    from the durable base instead, and the result is identical."""
    key_dir = str(tmp_path)
    rows = [
        (1, 10, "upsert", "alpha one"),
        (2, 20, "upsert", "beta two"),
        (1, 300_000, "upsert", "alpha revised"),
        (3, 600_005, "upsert", "gamma three"),
    ]
    log = spark.createDataFrame(
        rows, "rid long, seq long, op string, text string"
    )
    lb = lambda: log  # noqa: E731

    serving.state_as_of(
        spark, key_dir, "hz_t", lb, ingest.CONTENT.resolve, ingest.CONTENT.keys, 100,
    )  # artifact at seq 100 — below the horizon set next
    serving.vacuum_family(
        spark, key_dir, "hz_t", lb, ingest.CONTENT.resolve, ingest.CONTENT.keys,
        400_000,
    )
    out = serving.state_as_of(
        spark, key_dir, "hz_t", lb, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 700_000,
    )
    assert _rows(out) == [
        (1, "alpha revised"), (2, "beta two"), (3, "gamma three")
    ]


def test_stream_log_vacuum_purge_and_late_arrival_guard(spark, tmp_path):
    """Full lifecycle on a STREAM-fed log (no batch builder anywhere):
    drain → vacuum the family → physically purge → late arrivals. The
    sink's seq guard (the reference indexer's, nidx/src/indexer.rs:
    121-148) must drop a late op whose seq falls in a DELETED bucket —
    appending it would re-create a partial partition where history
    was discarded — while an above-floor arrival is appended and
    serves."""
    key_dir = str(tmp_path)
    arrivals = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    _stream_rows(
        spark,
        [
            (1, 10, "upsert", "alpha one"),
            (2, 20, "upsert", "beta two"),
            (1, 260_000, "upsert", "alpha revised"),
        ],
    ).write.mode("append").parquet(arrivals)
    serving.stream_maintained_log(spark, key_dir, "slate_t", arrivals, ckpt)
    serving.vacuum_family(
        spark, key_dir, "slate_t", None, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 249_999,
    )
    assert serving.purge_log(spark, key_dir, "slate_t", 249_999) == 1

    _stream_rows(
        spark,
        [
            (3, 30, "upsert", "ghost below floor"),
            (3, 300_000, "upsert", "gamma three"),
        ],
    ).write.mode("append").parquet(arrivals)
    serving.stream_maintained_log(spark, key_dir, "slate_t", arrivals, ckpt)

    log_dir = os.path.join(
        serving._LOG_DIRS[serving._key(spark, key_dir, "slate_t")], "log"
    )
    assert "seq_bucket=0" not in os.listdir(log_dir)  # not re-created

    live = serving.state_as_of(
        spark, key_dir, "slate_t", None, ingest.CONTENT.resolve,
        ingest.CONTENT.keys, 350_000,
    )
    assert _rows(live) == [
        (1, "alpha revised"), (2, "beta two"), (3, "gamma three")
    ]


# --- memoized plans and fully purged logs ---------------------------------

_MEMO_REQ = api.FindRequest(
    query="refreshed revision stream",
    features=["keyword"],
    top_k=5,
    as_of=1_000_030,
)


def _vacuum_content(spark, sf, h):
    """Fold both content-log families to ``h`` and purge the log."""
    lb, res = _content(spark, sf)
    serving.vacuum_family(
        spark, sf, "content_text", lb, res, ingest.CONTENT.keys, h
    )
    serving.vacuum_family(
        spark, sf, "stub_embeddings", lb, api.stub_embed_live,
        ingest.CONTENT.keys, h, log_name="content_text",
    )
    serving.purge_log(spark, sf, "content_text", h)


def test_memo_hit_rechecks_the_vacuum_horizon(spark, fresh_dir):
    """A repeated request is a plan-memo hit: the same handle, no
    Spark job. After a vacuum past its snapshot, the repeat must
    raise the pinned-snapshot error like a fresh request, not serve
    the memoized plan."""
    first = api.find_request(spark, fresh_dir, _MEMO_REQ)
    assert len(first.collect()) == 5
    sc = spark.sparkContext
    sc.setJobGroup("memo-hit", "memo-hit")
    try:
        assert api.find_request(spark, fresh_dir, _MEMO_REQ) is first
    finally:
        sc.setJobGroup("idle", "idle")
    assert list(sc.statusTracker().getJobIdsForGroup("memo-hit")) == []
    _vacuum_content(spark, fresh_dir, 1_200_000)
    with pytest.raises(ValueError, match="below the vacuum horizon"):
        api.find_request(spark, fresh_dir, _MEMO_REQ)


def test_fully_purged_log_serves_new_snapshots(spark, fresh_dir, monkeypatch):
    """Once every content-log partition is purged, a new snapshot
    above the horizon still serves: from the base alone when no
    durable state sits at or above the purge floor, and by chaining
    from a durable state once one does. Both equal the full-history
    resolution."""
    lb, res = _content(spark, fresh_dir)
    log = lb()
    _vacuum_content(spark, fresh_dir, 2_249_999)
    key = serving._key(spark, fresh_dir, "content_text")
    log_dir = os.path.join(serving._LOG_DIRS[key], "log")
    assert not [p for p in os.listdir(log_dir) if p.startswith("seq_bucket=")]

    calls = {"advance": 0, "vacuum": 0}
    real_advance = ingest.advance_live_state
    real_vacuum = ingest.asof_from_vacuum

    def counting_advance(*a, **kw):
        calls["advance"] += 1
        return real_advance(*a, **kw)

    def counting_vacuum(*a, **kw):
        calls["vacuum"] += 1
        return real_vacuum(*a, **kw)

    monkeypatch.setattr(ingest, "advance_live_state", counting_advance)
    monkeypatch.setattr(ingest, "asof_from_vacuum", counting_vacuum)
    for seq, path in ((2_500_000, "vacuum"), (3_000_000, "advance")):
        calls.update(advance=0, vacuum=0)
        served = serving.state_as_of(
            spark, fresh_dir, "content_text", lb, res, ingest.CONTENT.keys, seq
        )
        assert calls[path] == 1 and calls["vacuum"] == (path == "vacuum"), calls
        assert _rows(served) == _rows(ingest.cdc_live_as_of(log, seq)), seq
    monkeypatch.undo()
    req = api.FindRequest(
        query="refreshed revision stream",
        features=["keyword"],
        top_k=5,
        as_of=2_750_000,
    )
    assert len(api.find_request(spark, fresh_dir, req).collect()) == 5
