"""Scheduled segment autocompaction (r13): the nidx log-merge policy
(min 4 segments, 10M top / 10k bottom buckets — nidx/src/settings.rs:
246-254, scheduler/log_merge.rs:59-110) as a declarative plan over
the CDC sink's seq-range segments, plus the execution contract:
rewriting ONLY the planned segments leaves every serve read
identical (the force-merge before==after contract, scoped)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest


def test_autocompaction_plan_policy_properties(spark, sf_dir):
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    inv = ingest.segment_inventory(log)
    plan = ingest.autocompaction_plan(inv)
    rows = plan.collect()
    assert rows and len(rows) == inv.count()
    # no segment at this sf exceeds the 10M top bucket
    assert all(r.action in ("merge", "keep") for r in rows)
    # FORCED: any segment holding dead versions must merge (the
    # deletion-purge trigger, log_merge.rs:85-87)
    assert all(r.action == "merge" for r in rows if r.n_dead > 0)
    # bucket rule: >= 4 cohabitants (or a forced member) => the whole
    # bucket merges; < 4 with no forced member => keep
    from collections import defaultdict

    buckets = defaultdict(list)
    for r in rows:
        buckets[r.bucket].append(r)
    for b, segs in buckets.items():
        forced = any(s.n_dead > 0 for s in segs)
        want = "merge" if (len(segs) >= 4 or forced) else "keep"
        assert all(s.action == want for s in segs), (b, segs)
    # the base segments hold the superseded base versions of revised/
    # deleted docs, so at least one merge is deletion-FORCED
    assert any(r.n_dead > 0 for r in rows)


def test_autocompaction_policy_matrix():
    """The full decision table over a synthetic inventory (the
    fixture's uniform segments all land in the bottom bucket, so the
    other branches are pinned here): merge-by-count, keep (small
    clean bucket), forced-merge (dead rows in an under-count
    bucket), skip (large clean), purge (large forced)."""
    from nucliadb_spark.session import get_session

    spark = get_session("nucliadb_spark_tests", shuffle_partitions=8)
    rows = [
        # four cohabitants of the 2^20 bucket -> merge by count
        (1, 1_100_000, 0), (2, 1_200_000, 0), (3, 1_300_000, 0),
        (4, 1_400_000, 0),
        # two clean cohabitants of the 2^17 bucket -> keep
        (5, 150_000, 0), (6, 160_000, 0),
        # one dirty + one clean in the 2^15 bucket -> FORCED merge
        (7, 40_000, 3), (8, 41_000, 0),
        # above the 10M top bucket: clean skips, forced purges alone
        (9, 20_000_000, 0), (10, 30_000_000, 5),
    ]
    inv = spark.createDataFrame(
        rows, "segment_id long, records long, n_dead long"
    )
    plan = {
        r.segment_id: (r.action, r.bucket)
        for r in ingest.autocompaction_plan(inv).collect()
    }
    assert all(plan[s][0] == "merge" for s in (1, 2, 3, 4))
    assert plan[1][1] == 20  # floor(log2(1.1M))
    assert all(plan[s][0] == "keep" for s in (5, 6))
    assert all(plan[s][0] == "merge" for s in (7, 8))  # forced
    assert plan[9] == ("skip", None)
    assert plan[10] == ("purge", None)


@pytest.mark.slow  # r15 slow tier: build+compact+full-read equality sweep
def test_autocompact_streamed_index_serve_reads_identical(spark, sf_dir):
    """Build the streamed CDC text index, run the scheduled
    autocompaction, and assert live_postings (the serve read) is
    IDENTICAL before and after while dead rows in planned segments
    were physically dropped."""
    workdir = tempfile.mkdtemp(prefix="autocompact_test_")
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    log.repartition(3).write.parquet(f"{workdir}/log")
    ingest.CONTENT.sink(
        spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
    )
    post = spark.read.parquet(f"{workdir}/index/postings")
    oplog = spark.read.parquet(f"{workdir}/index/oplog")
    before = sorted(
        tuple(r) for r in ingest.CONTENT.live_segments(post, oplog).collect()
    )
    n_post_before = post.count()
    n_ops_before = oplog.count()

    plan = ingest.CONTENT.autocompact(spark, f"{workdir}/index")
    merged = {r.segment_id for r in plan.collect() if r.action in ("merge", "purge")}
    assert merged, "the fixture must plan at least one merge"

    post2 = spark.read.parquet(f"{workdir}/index/postings")
    oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
    after = sorted(
        tuple(r) for r in ingest.CONTENT.live_segments(post2, oplog2).collect()
    )
    assert before == after
    # storage shrank: dead postings rows / superseded ops in merged
    # segments were dropped
    assert post2.count() < n_post_before
    assert oplog2.count() < n_ops_before
    # winning ops survive even when they are deletes — nothing in an
    # unplanned segment may be resurrected
    seg = F.floor(F.col("seq") / F.lit(ingest.SEG_BUCKET)).cast("long")
    dels = oplog2.filter(F.col("op") == "delete").withColumn("segment_id", seg)
    assert dels.join(
        spark.createDataFrame([(s,) for s in merged], "segment_id long"),
        "segment_id",
        "left_semi",
    ).count() > 0, "winning deletes in merged segments must be retained"


@pytest.mark.slow  # r15 slow tier: build+compact+full-read equality sweep
def test_autocompact_fielded_index_serve_reads_identical(spark, sf_dir):
    """The same scheduled contract on the FIELDED sink: op identity
    (rid, field_id), rewrite preserves the field_key partitioning."""
    workdir = tempfile.mkdtemp(prefix="autocompactf_test_")
    log = ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir))
    log.repartition(3).write.parquet(f"{workdir}/log")
    ingest.FIELDED.sink(
        spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
    )
    post = spark.read.parquet(f"{workdir}/index/postings")
    oplog = spark.read.parquet(f"{workdir}/index/oplog")
    before = sorted(
        tuple(r)
        for r in ingest.FIELDED.live_segments(post, oplog).collect()
    )
    n_before = post.count()

    plan = ingest.FIELDED.autocompact(spark, f"{workdir}/index")
    assert any(r.action == "merge" for r in plan.collect())

    post2 = spark.read.parquet(f"{workdir}/index/postings")
    oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
    after = sorted(
        tuple(r)
        for r in ingest.FIELDED.live_segments(post2, oplog2).collect()
    )
    assert before == after
    assert post2.count() < n_before
    # the partitioned layout survives (family pruning keeps working)
    assert "field_key" in post2.columns
    assert post2.select("field_key").distinct().count() >= 2


@pytest.mark.slow  # r15 slow tier: build+compact+full-read equality sweep
def test_autocompact_vector_index_serve_reads_identical(spark, sf_dir):
    """The same scheduled contract on the VECTOR sink: dead versions
    purge, ingest-assigned cell labels ride along untouched."""
    from nucliadb_spark.operators import ann

    workdir = tempfile.mkdtemp(prefix="autocompactv_test_")
    vectors = tpch.vectors(spark, sf_dir)
    centroids = ann.cell_centroids(vectors)
    ingest.cdc_vector_log(vectors).repartition(2).write.parquet(
        f"{workdir}/log"
    )
    ingest.VECTORS.sink(
        spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt",
        centroids=centroids,
    )
    vecs = spark.read.parquet(f"{workdir}/index/vectors")
    oplog = spark.read.parquet(f"{workdir}/index/oplog")
    before = sorted(
        (r.rid, tuple(r.vector), r.cluster_label)
        for r in ingest.VECTORS.live_segments(vecs, oplog).collect()
    )
    n_before = vecs.count()

    plan = ingest.VECTORS.autocompact(spark, f"{workdir}/index")
    assert any(r.action == "merge" for r in plan.collect())

    vecs2 = spark.read.parquet(f"{workdir}/index/vectors")
    oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
    after = sorted(
        (r.rid, tuple(r.vector), r.cluster_label)
        for r in ingest.VECTORS.live_segments(vecs2, oplog2).collect()
    )
    assert before == after
    assert vecs2.count() < n_before


@pytest.mark.slow  # r15 slow tier: build+compact+full-read equality sweep
def test_autocompact_relation_index_serve_reads_identical(spark, sf_dir):
    """The same scheduled contract on the RELATION sink: op identity
    is the edge triple, superseded provenance revisions purge."""
    workdir = tempfile.mkdtemp(prefix="autocompactr_test_")
    ingest.cdc_relation_log(tpch.relations(spark, sf_dir)).repartition(
        2
    ).write.parquet(f"{workdir}/log")
    ingest.RELATIONS.sink(
        spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
    )
    edges = spark.read.parquet(f"{workdir}/index/edges")
    oplog = spark.read.parquet(f"{workdir}/index/oplog")
    before = sorted(
        tuple(r) for r in ingest.RELATIONS.live_segments(edges, oplog).collect()
    )
    n_before = edges.count()

    # the edge log's base seqs are hash-spread over [0, 1e6)
    # (cdc_relation_log's md5 schedule), so its segment bucket is
    # coarser than the dense rid-derived logs' — same op count per
    # segment either way
    plan = ingest.RELATIONS.autocompact(
        spark, f"{workdir}/index", seg_bucket=20_000
    )
    assert any(r.action == "merge" for r in plan.collect())

    edges2 = spark.read.parquet(f"{workdir}/index/edges")
    oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
    after = sorted(
        tuple(r)
        for r in ingest.RELATIONS.live_segments(edges2, oplog2).collect()
    )
    assert before == after
    assert edges2.count() < n_before
