"""CDC ingest with deletion lists (S1 updates/deletes).

Ports the shape of the reference's deletion tests
(nidx/nidx_text/tests/test_deletions.rs: index -> delete -> search
must not return the deleted doc; modified resource = delete+reindex,
nidx/src/indexer.rs:121-298) onto the Spark-first oplog design:
seq-tagged postings segments + latest-op-wins resolution at read,
physical purge at compaction.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nucliadb_spark.operators import bm25
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest


@pytest.fixture(scope="module")
def fields(spark, sf_dir):
    return tpch.fields(spark, sf_dir).select("rid", "text")


@pytest.fixture(scope="module")
def live(fields):
    return ingest.CONTENT.resolve(ingest.cdc_log(fields))


def test_deleted_docs_absent(live):
    # every rid%11==0 was deleted at the highest seq — gone from the
    # live corpus (including rid 77, which was also revised earlier)
    assert live.filter(F.col("rid") % 11 == 0).count() == 0


def test_revised_docs_serve_new_version_only(live, fields):
    revised = live.filter((F.col("rid") % 7 == 0) & (F.col("rid") % 11 != 0))
    n_expected = fields.filter(
        (F.col("rid") % 7 == 0) & (F.col("rid") % 11 != 0)
    ).count()
    assert revised.count() == n_expected
    # all serve the revision text, and only one version per rid
    assert revised.filter(~F.col("text").endswith(" refreshed revision")).count() == 0
    assert revised.select("rid").distinct().count() == revised.count()


def test_untouched_docs_unchanged(live, fields):
    untouched = (F.col("rid") % 7 != 0) & (F.col("rid") % 11 != 0)
    a = sorted(live.filter(untouched).collect())
    b = sorted(fields.filter(untouched).collect())
    assert a == b


def test_search_excludes_deleted_and_sees_revisions(live):
    hits = bm25.bm25_search(live, "refreshed revision", top_k=50, mode="all")
    rids = [r.rid for r in hits.collect()]
    assert rids, "revision terms must match revised docs"
    assert all(r % 7 == 0 and r % 11 != 0 for r in rids)


def test_stream_ingest_equals_batch_and_compaction_purges(spark, fields, live):
    log = ingest.cdc_log(fields)
    workdir = tempfile.mkdtemp(prefix="cdc_")
    try:
        # several files => several arrival events for the file source
        log.repartition(3).write.parquet(f"{workdir}/log")
        ingest.CONTENT.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        post = spark.read.parquet(f"{workdir}/index/postings")
        oplog = spark.read.parquet(f"{workdir}/index/oplog")
        streamed = ingest.CONTENT.live_segments(post, oplog)
        batch = bm25.postings(live)
        assert sorted(streamed.collect()) == sorted(batch.collect())

        raw_rows = post.count()
        n_live_versions = ingest.CONTENT.live_versions(oplog).count()
        ingest.CONTENT.compact(spark, f"{workdir}/index")
        post2 = spark.read.parquet(f"{workdir}/index/postings")
        oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
        assert post2.count() < raw_rows  # dead versions purged
        # deletion-list application is a no-op after the purge:
        # results identical before/after
        after = ingest.CONTENT.live_segments(post2, oplog2)
        assert sorted(after.collect()) == sorted(batch.collect())
        # oplog truncated to exactly the live versions
        assert oplog2.count() == n_live_versions
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# --- vector-index CDC (S1 vector path) --------------------------------------


def test_vector_cdc_stream_equals_batch_and_ivf_serves(spark, sf_dir):
    from nucliadb_spark.operators import ann
    from pyspark.sql import functions as F

    vectors = tpch.vectors(spark, sf_dir)
    centroids = ann.cell_centroids(vectors)
    log = ingest.cdc_vector_log(vectors)
    live = ingest.VECTORS.resolve(log)

    workdir = tempfile.mkdtemp(prefix="vcdc_")
    try:
        log.repartition(2).write.parquet(f"{workdir}/log")
        ingest.VECTORS.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt",
            centroids=centroids,
        )
        vecs = spark.read.parquet(f"{workdir}/index/vectors")
        oplog = spark.read.parquet(f"{workdir}/index/oplog")
        streamed = ingest.VECTORS.live_segments(vecs, oplog)

        # deleted rids absent; revised rids carry the new embedding
        assert streamed.filter(F.col("rid") % 9 == 0).count() == 0
        batch_assigned = ann.assign_cells(live, centroids)
        a = {r.rid: (tuple(r.vector), r.cluster_label) for r in streamed.collect()}
        b = {r.rid: (tuple(r.vector), r.cluster_label) for r in batch_assigned.collect()}
        assert a == b

        # IVF probe over the streamed live set == over the batch live set
        qvec = (
            tpch.table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 5)
            .select(F.col("embedding").alias("qvec"))
        )
        got = ann.ivf_serve(streamed, centroids, qvec, k=5, nprobe=2).collect()
        want = ann.ivf_serve(batch_assigned, centroids, qvec, k=5, nprobe=2).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_field_level_delete_leaves_sibling_fields_live(spark, sf_dir):
    """The field-grain op log keys on (rid, field_id): deleting a
    rid's link field must NOT touch its body/title fields, and a
    link revision must replace only the link text."""
    fm = tpch.fields_multi(spark, sf_dir)
    live = ingest.FIELDED.resolve(ingest.cdc_field_log(fm))

    # a rid with a deleted link field (rid%9==0, rid%3==0 owns one)
    victim = 9
    fams = {r.field_key for r in live.filter(F.col("rid") == victim).collect()}
    assert fams == {"/t/body", "/a/title"}  # link gone, siblings live

    # revised link (rid%7==0 and %3==0 and not deleted): new text only
    revised = 21
    rows = {r.field_key: r.text for r in live.filter(F.col("rid") == revised).collect()}
    assert rows["/u/link"].endswith(" refreshed revision")
    base = {r.field_key: r.text for r in fm.filter(F.col("rid") == revised).collect()}
    assert rows["/t/body"] == base["/t/body"]
    assert rows["/a/title"] == base["/a/title"]

    # untouched rids: live == base corpus, field for field
    untouched = live.filter((F.col("rid") % 7 != 0) & (F.col("rid") % 9 != 0))
    base_un = fm.filter((F.col("rid") % 7 != 0) & (F.col("rid") % 9 != 0)).select(
        "field_key", "rid", "field_id", "text"
    )
    assert untouched.exceptAll(base_un).count() == 0
    assert base_un.exceptAll(untouched).count() == 0


def test_fielded_index_stream_ingest_equals_batch(spark, sf_dir):
    """Streaming the field-grain op log into the per-family sidecar
    index (postings partitioned by field_key) and masking dead
    segments equals tokenizing the batch-resolved live corpus — the
    serving sidecars of _fielded_text_index can be maintained
    incrementally, never rebuilt."""
    import tempfile, shutil
    from nucliadb_spark.functions.text import tokenize

    fm = tpch.fields_multi(spark, sf_dir)
    log = ingest.cdc_field_log(fm)
    workdir = tempfile.mkdtemp(prefix="ffcdc_")
    try:
        log.repartition(2).write.parquet(f"{workdir}/log")
        ingest.FIELDED.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        post = spark.read.parquet(f"{workdir}/index/postings")
        oplog = spark.read.parquet(f"{workdir}/index/oplog")
        streamed = ingest.FIELDED.live_segments(post, oplog)

        live = ingest.FIELDED.resolve(log)
        batch = (
            live.select(
                "field_key", "rid", "field_id",
                F.explode(tokenize("text")).alias("term"),
            )
            .groupBy("field_key", "rid", "field_id", "term")
            .agg(F.count("*").cast("double").alias("tf"))
        )
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        # the family prune is partition pruning over the written files
        import os
        parts = {p for p in os.listdir(f"{workdir}/index/postings")
                 if p.startswith("field_key=")}
        assert len(parts) == 3
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_cdc_fielded_served_equals_live(spark, sf_dir):
    """The served variant (maintained postings sidecar + deletion-list
    join + BM25 from maintained stats) must return exactly the live
    rebuild's results — the stream==batch serving contract."""
    from nucliadb_spark import registry

    qs = registry.queries()
    served = sorted(qs["cdc_fielded_search_served"](spark, sf_dir).collect())
    live = sorted(qs["cdc_fielded_search_live"](spark, sf_dir).collect())
    assert served == live and len(served) == 20


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_cdc_vector_search_served_equals_live(spark, sf_dir):
    """The vector serving path (streamed segments + oplog deletion-
    list join) must return exactly the live rebuild's KNN — the
    vector sibling of the fielded served==live contract."""
    from nucliadb_spark import registry

    qs = registry.queries()
    served = sorted(qs["cdc_vector_search_served"](spark, sf_dir).collect())
    live = sorted(qs["cdc_vector_search_live"](spark, sf_dir).collect())
    assert served == live and len(served) == 10


def test_search_as_of_snapshot_semantics(spark, sf_dir, fields):
    """AS-OF retrieval at seq 1.5M (post-revision, pre-delete): the
    revision text is searchable, and docs the later delete wave
    removes are STILL retrievable — while the fully-live corpus
    excludes them."""
    from pyspark.sql import functions as F

    from nucliadb_spark.streaming import ingest

    log = ingest.cdc_log(fields)
    asof = ingest.cdc_live_as_of(log, 1_500_000)
    live = ingest.CONTENT.resolve(log)
    # deleted-at-2M docs are present as of 1.5M, absent fully-live
    assert asof.filter(F.col("rid") % 11 == 0).count() > 0
    assert live.filter(F.col("rid") % 11 == 0).count() == 0
    # revisions (at 1M) are already applied at 1.5M
    revised = asof.filter(F.col("rid") % 7 == 0)
    assert revised.count() > 0
    assert revised.filter(~F.col("text").endswith(" refreshed revision")).count() == 0
    # as-of at seq 0 ... insert horizon: nothing newer than seq leaks
    first = ingest.cdc_live_as_of(log, 10)
    assert first.filter(F.col("rid") > 10).count() == 0
    assert first.filter(F.col("text").endswith(" refreshed revision")).count() == 0


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_relation_cdc_semantics(spark, sf_dir):
    """Relation-index CDC: deleted edges absent from the live graph,
    re-indexed edges carry the revised provenance slice, untouched
    edges unchanged — and the md5 schedule partitions the edge set
    exactly (live = base - deleted)."""
    from pyspark.sql import functions as F

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    rel = tpch.relations(spark, sf_dir)
    log = ingest.cdc_relation_log(rel)
    live = ingest.RELATIONS.resolve(log)

    h = ingest._edge_md5()
    n_base = rel.count()
    n_deleted = rel.filter(h % 9 == 0).count()
    assert live.count() == n_base - n_deleted
    # no deleted edge survives
    assert live.filter(ingest._edge_md5() % 9 == 0).count() == 0
    # every revised (non-deleted) SUPPLIED_BY edge serves 0-480
    revised = live.filter(
        (ingest._edge_md5() % 7 == 0)
        & (F.col("relation_label") == "SUPPLIED_BY")
    )
    assert revised.count() > 0
    assert revised.filter(~F.col("paragraph_id").endswith("/0-480")).count() == 0
    # untouched edges keep the original slice
    untouched = live.filter(
        (ingest._edge_md5() % 7 != 0)
        & (F.col("relation_label") == "SUPPLIED_BY")
    )
    assert untouched.filter(~F.col("paragraph_id").endswith("/0-240")).count() == 0


def test_cdc_graph_served_equals_live(spark, sf_dir):
    """Relation serving (streamed edge segments + oplog alive-mask)
    must equal the live rebuild — the third leg of the served==live
    contract (text, vector, relation)."""
    from nucliadb_spark import registry

    qs = registry.queries()
    served = qs["cdc_graph_search_served"](spark, sf_dir).collect()
    live = qs["cdc_graph_search_live"](spark, sf_dir).collect()
    assert served == live and len(served) > 0


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_fielded_compaction_purges_and_preserves(spark, sf_dir):
    """compact_fielded_index: dead per-family segments physically
    purged, oplog truncated to live versions, field_key partitioning
    preserved — and the served live postings are IDENTICAL before
    and after (deletion-list application becomes a no-op). The
    review numbers come from maintenance.fielded_compaction_plan."""
    import os

    from nucliadb_spark.operators import maintenance
    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    fm = tpch.fields_multi(spark, sf_dir)
    log = ingest.cdc_field_log(fm)
    workdir = tempfile.mkdtemp(prefix="ffcomp_")
    try:
        log.repartition(2).write.parquet(f"{workdir}/log")
        ingest.FIELDED.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        post = spark.read.parquet(f"{workdir}/index/postings")
        oplog = spark.read.parquet(f"{workdir}/index/oplog")
        before = sorted(ingest.FIELDED.live_segments(post, oplog).collect())
        raw_rows = post.count()
        plan = {
            r.field_key: r for r in maintenance.fielded_compaction_plan(log).collect()
        }
        n_live_versions = ingest.FIELDED.live_versions(oplog).count()
        assert n_live_versions == sum(r.n_fields_live for r in plan.values())

        ingest.FIELDED.compact(spark, f"{workdir}/index")
        post2 = spark.read.parquet(f"{workdir}/index/postings")
        oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
        assert post2.count() < raw_rows  # dead versions purged
        assert oplog2.count() == n_live_versions
        after = sorted(ingest.FIELDED.live_segments(post2, oplog2).collect())
        assert after == before
        # the family layout survives the rewrite
        parts = {p for p in os.listdir(f"{workdir}/index/postings")
                 if p.startswith("field_key=")}
        assert len(parts) == 3
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_vector_and_relation_compaction_preserve_results(spark, sf_dir):
    """compact_vector_index / compact_relation_index: dead versions
    purged, oplogs truncated, served results identical before and
    after — the force-merge contract for all three streamed index
    families (the fielded one is tested above)."""
    from nucliadb_spark.operators import ann
    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    vectors = tpch.vectors(spark, sf_dir)
    centroids = ann.cell_centroids(vectors)
    vworkdir = tempfile.mkdtemp(prefix="vcomp_")
    rworkdir = tempfile.mkdtemp(prefix="rcomp_")
    try:
        ingest.cdc_vector_log(vectors).repartition(2).write.parquet(
            f"{vworkdir}/log"
        )
        ingest.VECTORS.sink(
            spark, f"{vworkdir}/log", f"{vworkdir}/index", f"{vworkdir}/ckpt",
            centroids=centroids,
        )
        vecs = spark.read.parquet(f"{vworkdir}/index/vectors")
        voplog = spark.read.parquet(f"{vworkdir}/index/oplog")
        v_before = sorted(
            (r.rid, tuple(r.vector), r.cluster_label)
            for r in ingest.VECTORS.live_segments(vecs, voplog).collect()
        )
        v_raw = vecs.count()
        v_live_versions = ingest.CONTENT.live_versions(voplog).count()
        ingest.VECTORS.compact(spark, f"{vworkdir}/index")
        vecs2 = spark.read.parquet(f"{vworkdir}/index/vectors")
        voplog2 = spark.read.parquet(f"{vworkdir}/index/oplog")
        assert vecs2.count() < v_raw
        assert voplog2.count() == v_live_versions
        v_after = sorted(
            (r.rid, tuple(r.vector), r.cluster_label)
            for r in ingest.VECTORS.live_segments(vecs2, voplog2).collect()
        )
        assert v_after == v_before

        rel = tpch.relations(spark, sf_dir)
        ingest.cdc_relation_log(rel).repartition(2).write.parquet(
            f"{rworkdir}/log"
        )
        ingest.RELATIONS.sink(
            spark, f"{rworkdir}/log", f"{rworkdir}/index", f"{rworkdir}/ckpt"
        )
        edges = spark.read.parquet(f"{rworkdir}/index/edges")
        roplog = spark.read.parquet(f"{rworkdir}/index/oplog")
        r_before = sorted(ingest.RELATIONS.live_segments(edges, roplog).collect())
        r_raw = edges.count()
        r_live_versions = ingest.RELATIONS.live_versions(roplog).count()
        ingest.RELATIONS.compact(spark, f"{rworkdir}/index")
        edges2 = spark.read.parquet(f"{rworkdir}/index/edges")
        roplog2 = spark.read.parquet(f"{rworkdir}/index/oplog")
        assert edges2.count() < r_raw
        assert roplog2.count() == r_live_versions
        r_after = sorted(ingest.RELATIONS.live_segments(edges2, roplog2).collect())
        assert r_after == r_before
    finally:
        shutil.rmtree(vworkdir, ignore_errors=True)
        shutil.rmtree(rworkdir, ignore_errors=True)


def test_as_of_family_semantics(spark, sf_dir):
    """The as-of snapshot (1.5M: post-revision, pre-delete) must
    differ from the fully-live read in exactly the delete wave, for
    the vector and relation families (the text family is covered by
    test_search_as_of_snapshot_semantics)."""
    from pyspark.sql import functions as F

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    vlog = ingest.cdc_vector_log(tpch.vectors(spark, sf_dir))
    v_asof = ingest.VECTORS.resolve(vlog.filter(F.col("seq") <= 1_500_000))
    v_live = ingest.VECTORS.resolve(vlog)
    assert v_asof.filter(F.col("rid") % 9 == 0).count() > 0
    assert v_live.filter(F.col("rid") % 9 == 0).count() == 0
    # revisions (at +1M) already serve the reversed embedding
    rev = v_asof.filter((F.col("rid") % 6 == 0) & (F.col("rid") % 9 != 0))
    orig = tpch.vectors(spark, sf_dir).filter(
        (F.col("rid") % 6 == 0) & (F.col("rid") % 9 != 0)
    )
    a = {r.rid: tuple(r.vector) for r in rev.collect()}
    b = {r.rid: tuple(reversed(r.vector)) for r in orig.collect()}
    assert a == b

    rlog = ingest.cdc_relation_log(tpch.relations(spark, sf_dir))
    r_asof = ingest.RELATIONS.resolve(rlog.filter(F.col("seq") <= 1_500_000))
    r_live = ingest.RELATIONS.resolve(rlog)
    h = ingest._edge_md5()
    assert r_asof.filter(h % 9 == 0).count() > 0  # deletes not yet applied
    assert r_live.filter(h % 9 == 0).count() == 0


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_ivf_drift_detected_and_retrain_recovers(spark):
    """The IVF lifecycle under CDC on a clustered corpus: a re-embed
    wave moves part of the data to a NEW cluster the fixed ingest
    centroids know nothing about. ivf_drift_plan must detect the
    drift (n_would_move > 0, the landing cell overloaded);
    retrain_vector_index must purge dead versions, keep exact
    results bit-identical, return the refreshed sidecar, and probe
    recall@5 with the refreshed layout must clear the 0.95 gate for
    queries near the old AND the new clusters."""
    import numpy as np

    from nucliadb_spark.operators import ann, knn

    dim, n_clusters, per = 32, 6, 60
    rng = np.random.default_rng(20260815)

    def norm(v):
        return v / np.linalg.norm(v)

    centers = [norm(rng.uniform(-1, 1, dim)) for _ in range(n_clusters)]
    base = []
    for ci, c in enumerate(centers):
        for _ in range(per):
            base.append(norm(c + norm(rng.uniform(-1, 1, dim)) * 0.05))
    # the new cluster sits BETWEEN two old ones, so its members split
    # across both cells under the stale centroids — the worst drift
    # shape for probe recall (a query must probe every splinter cell)
    new_center = norm(centers[0] + centers[1])

    rows = [
        (i, i, "upsert", [float(x) for x in v], int(i // per))
        for i, v in enumerate(base)
    ]
    # the drift wave: every 4th vector re-embeds into the NEW cluster
    moved_ids = [i for i in range(len(base)) if i % 4 == 0]
    for i in moved_ids:
        v = norm(new_center + norm(rng.uniform(-1, 1, dim)) * 0.05)
        rows.append((i, i + 10**6, "upsert", [float(x) for x in v], -1))
    deleted_ids = [i for i in range(len(base)) if i % 17 == 5]
    for i in deleted_ids:
        rows.append((i, i + 2 * 10**6, "delete", None, -1))
    log = spark.createDataFrame(
        rows, "rid long, seq long, op string, vector array<double>, lbl int"
    )
    base_df = log.filter("seq < 1000000").selectExpr(
        "rid", "vector", "lbl AS cluster_label"
    )
    base_cents = ann.cell_centroids(base_df).cache()

    # drift report straight off the log: the wave must be visible
    plan = ann.ivf_drift_plan(log.drop("lbl"), base_cents).collect()
    assert sum(r.n_would_move for r in plan) > 0
    assert max(r.live_share for r in plan) > 1.2 / n_clusters  # landing cells overloaded

    workdir = tempfile.mkdtemp(prefix="retrain_")
    try:
        log.drop("lbl").repartition(2).write.parquet(f"{workdir}/log")
        ingest.VECTORS.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt",
            centroids=base_cents,
        )
        vecs = spark.read.parquet(f"{workdir}/index/vectors")
        oplog = spark.read.parquet(f"{workdir}/index/oplog")
        live_before = ingest.VECTORS.live_segments(vecs, oplog)
        qvec = spark.createDataFrame(
            [([float(x) for x in new_center],)], "qvec array<double>"
        )
        exact_before = [
            (r.id, r.score)
            for r in knn.exact_knn(
                live_before.select("rid", "vector"), qvec, k=5
            ).collect()
        ]

        refreshed = ingest.retrain_vector_index(spark, f"{workdir}/index")
        vecs2 = spark.read.parquet(f"{workdir}/index/vectors")
        oplog2 = spark.read.parquet(f"{workdir}/index/oplog")
        live_after = ingest.VECTORS.live_segments(vecs2, oplog2)
        assert vecs2.count() == live_after.count()  # dead versions purged
        exact_after = [
            (r.id, r.score)
            for r in knn.exact_knn(
                live_after.select("rid", "vector"), qvec, k=5
            ).collect()
        ]
        assert exact_after == exact_before  # retrain never changes exact results

        # probe recall with the refreshed sidecar: old-cluster and
        # new-cluster queries both clear the reference's gate
        hits = total = 0
        probes = [new_center] + centers[:3]
        for qv in probes:
            q = spark.createDataFrame(
                [([float(x) for x in qv],)], "qvec array<double>"
            )
            exact = {
                r.id
                for r in knn.exact_knn(
                    live_after.select("rid", "vector"), q, k=5
                ).collect()
            }
            got = {
                r.id
                for r in ann.ivf_serve(live_after, refreshed, q, k=5, nprobe=2).collect()
            }
            hits += len(exact & got)
            total += 5
        assert hits / total >= 0.95, f"post-retrain recall {hits/total:.2f}"
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_ivf_drift_plan_sampled(spark):
    """The sampled drift review: (a) at sample_pct=100 it IS the full
    plan (same rows, renamed count columns, est == n_live); (b) at
    20% the sample keys on rid so every sampled document carries its
    COMPLETE version history (liveness inside the sample is exact);
    (c) the drift wave of the full-plan fixture stays visible from
    the sample (would-move rate survives estimation)."""
    import numpy as np

    from nucliadb_spark.functions.text import md5_int60
    from nucliadb_spark.operators import ann

    dim, n_clusters, per = 16, 4, 80
    rng = np.random.default_rng(20260815)

    def norm(v):
        return v / np.linalg.norm(v)

    centers = [norm(rng.uniform(-1, 1, dim)) for _ in range(n_clusters)]
    rows = []
    for ci, c in enumerate(centers):
        for j in range(per):
            i = ci * per + j
            v = norm(c + norm(rng.uniform(-1, 1, dim)) * 0.05)
            rows.append((i, i, "upsert", [float(x) for x in v]))
    new_center = norm(centers[0] + centers[1])
    for i in range(0, n_clusters * per, 3):  # heavy re-embed wave
        v = norm(new_center + norm(rng.uniform(-1, 1, dim)) * 0.05)
        rows.append((i, i + 10**6, "upsert", [float(x) for x in v]))
    for i in range(5, n_clusters * per, 13):
        rows.append((i, i + 2 * 10**6, "delete", None))
    log = spark.createDataFrame(
        rows, "rid long, seq long, op string, vector array<double>"
    )
    cents = ann.cell_centroids(
        log.filter("seq < 1000000").selectExpr(
            "rid", "vector", "CAST(rid DIV 80 AS INT) AS cluster_label"
        )
    ).cache()

    full = ann.ivf_drift_plan(log, cents).collect()
    s100 = ann.ivf_drift_plan_sampled(log, cents, sample_pct=100).collect()
    assert [
        (r.cell, r.n_live_sampled, r.n_dead_sampled, r.n_would_move_sampled,
         r.live_share)
        for r in s100
    ] == [
        (r.cell, r.n_live, r.n_dead_versions, r.n_would_move, r.live_share)
        for r in full
    ]
    assert all(r.est_n_live == r.n_live_sampled for r in s100)

    s20 = ann.ivf_drift_plan_sampled(log, cents, sample_pct=20).collect()
    in_sample = (
        md5_int60(F.col("rid").cast("string"), salt="drift:") % 100 < 20
    )
    sampled_rids = {r.rid for r in log.filter(in_sample).select("rid").distinct().collect()}
    # rid-atomic: version counts in the sampled plan reconstruct the
    # per-rid upsert histories of exactly the sampled rids, nothing
    # partial (delete ops carry no payload — they flip liveness only)
    n_versions = log.filter(
        F.col("rid").isin(list(sampled_rids)) & (F.col("op") == "upsert")
    ).count()
    assert sum(r.n_live_sampled + r.n_dead_sampled for r in s20) == n_versions
    assert sum(r.est_n_live for r in s20) == 5 * sum(
        r.n_live_sampled for r in s20
    )
    # the wave is visible from the sample: a meaningful share of the
    # sampled live vectors would move under one Lloyd refresh
    live_s = sum(r.n_live_sampled for r in s20)
    move_s = sum(r.n_would_move_sampled for r in s20)
    live_f = sum(r.n_live for r in full)
    move_f = sum(r.n_would_move for r in full)
    assert move_s > 0 and live_s > 0
    assert abs(move_s / live_s - move_f / live_f) < 0.2

    with pytest.raises(ValueError):
        ann.ivf_drift_plan_sampled(log, cents, sample_pct=30)


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_incremental_refresh_results_equal_batch_rebuild(spark, sf_dir):
    """The refresh capstone's contract: after the pipeline runs (diff
    → export → re-embed → ingest → drift → conditional retrain), the
    refreshed index must serve EXACTLY what a from-scratch batch
    rebuild would — same live (rid, vector) set — and the retrain
    must actually have executed (the fixture's reversal wave pushes
    the would-move share past the threshold), leaving every live
    vector assigned to its nearest REFRESHED centroid."""
    import os

    from nucliadb_spark.operators import ann as ann_ops
    from nucliadb_spark.plans.queries_streaming import (
        _refresh_workdir,
        incremental_refresh_report,
    )

    row = incremental_refresh_report(spark, sf_dir).collect()[0]
    assert row.retrain_triggered
    assert row.n_reembedded == row.n_export
    wd = _refresh_workdir(spark, sf_dir)
    assert os.path.isdir(f"{wd}/centroids_v2"), "retrain must have run"

    vecs = spark.read.parquet(f"{wd}/index/vectors")
    oplog = spark.read.parquet(f"{wd}/index/oplog")
    served = ingest.VECTORS.live_segments(vecs, oplog).select("rid", "vector")
    batch = ingest.VECTORS.resolve(
        ingest.cdc_vector_log(tpch.vectors(spark, sf_dir))
    )
    a = {r.rid: tuple(r.vector) for r in served.collect()}
    b = {r.rid: tuple(r.vector) for r in batch.collect()}
    assert a == b and a

    cents2 = spark.read.parquet(f"{wd}/centroids_v2")
    want = {
        r.rid: r.cluster_label
        for r in ann_ops.assign_cells(served, cents2).collect()
    }
    got = {r.rid: r.cluster_label for r in vecs.select("rid", "cluster_label").collect()}
    assert got == want


def test_facet_counter_replay_is_idempotent(spark, sf_dir):
    """foreachBatch is at-least-once; a replayed micro-batch must not
    double-count facet deltas. The sink writes each batch's partial to
    a batch_id-named subdirectory with overwrite, so re-draining the
    SAME log (fresh checkpoint, same sink — every batch replays with
    the same ids) leaves the counters bit-identical."""
    import tempfile

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    res = tpch.resources(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="fctr_replay_")
    ingest.cdc_label_log(res).repartition(2).write.parquet(f"{workdir}/log")
    ingest.cdc_facet_counter_ingest(
        spark, f"{workdir}/log", f"{workdir}/counters", f"{workdir}/ckpt1"
    )
    first = {
        r.facet: r.n
        for r in ingest.live_facet_counters(
            spark.read.parquet(f"{workdir}/counters")
        ).collect()
    }
    # full replay: fresh checkpoint re-drains every batch into the
    # SAME counters sink with the same batch ids
    ingest.cdc_facet_counter_ingest(
        spark, f"{workdir}/log", f"{workdir}/counters", f"{workdir}/ckpt2"
    )
    replayed = {
        r.facet: r.n
        for r in ingest.live_facet_counters(
            spark.read.parquet(f"{workdir}/counters")
        ).collect()
    }
    assert first and replayed == first


def test_facet_counter_compaction_preserves_serve_reads(spark, sf_dir):
    """The r8 force-merge contract applied to the counter sidecar:
    folding every per-batch delta partial into one net row per facet
    must leave live_facet_counters reads bit-identical, and must
    actually compact (exactly one batch=-1 base directory remains;
    row count == facet cardinality with non-zero net)."""
    import glob
    import tempfile

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    res = tpch.resources(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="fctr_cmpt_")
    ingest.cdc_label_log(res).repartition(2).write.parquet(f"{workdir}/log")
    ingest.cdc_facet_counter_ingest(
        spark, f"{workdir}/log", f"{workdir}/counters", f"{workdir}/ckpt"
    )

    def served():
        return {
            r.facet: r.n
            for r in ingest.live_facet_counters(
                spark.read.parquet(f"{workdir}/counters")
            ).collect()
        }

    before = served()
    n_dirs_before = len(glob.glob(f"{workdir}/counters/batch=*"))
    ingest.compact_facet_counters(spark, f"{workdir}/counters")
    after = served()
    assert before and after == before
    dirs = glob.glob(f"{workdir}/counters/batch=*")
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["-1"]
    assert n_dirs_before >= 1
    # a second compaction folds the compacted base — still identical
    ingest.compact_facet_counters(spark, f"{workdir}/counters")
    assert served() == before


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
def test_ivf_drift_incremental_equals_full(spark, sf_dir):
    """Counter-fold associativity: the incremental review (prior
    counters + live layout at the checkpoint, merged with only the
    post-checkpoint ops) must equal the full-log counter review —
    at EVERY checkpoint cut, including ones splitting mid-wave."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import ann as ann_ops
    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    vectors = tpch.vectors(spark, sf_dir)
    cents = ann_ops.cell_centroids(vectors)
    log = ingest.cdc_vector_log(vectors)
    full = ann_ops.ivf_drift_counters(log, cents).collect()
    assert full
    for ckpt in (500_000, 1_000_100, 1_500_000, 2_000_050):
        prior_c = ann_ops.ivf_drift_counters(
            log.filter(F.col("seq") <= ckpt), cents
        )
        prior_l = ann_ops.ivf_live_cells(
            log.filter(F.col("seq") <= ckpt), cents
        )
        inc = ann_ops.ivf_drift_plan_incremental(
            prior_c, prior_l, log.filter(F.col("seq") > ckpt), cents
        ).collect()
        assert inc == full, f"checkpoint {ckpt} diverged"


def test_advance_text_index_equals_from_scratch(spark, sf_dir):
    """Snapshot-index derivation: advancing S1's index with the ops
    in (S1, S2] must yield EXACTLY the index a from-scratch build at
    S2 produces — postings and doc-stats frames equal as sets, at
    multiple S1 cuts including mid-wave."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import bm25
    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    fields = tpch.fields(spark, sf_dir)
    log = ingest.cdc_log(fields)
    s2 = 3_000_000
    scratch_post = bm25.postings(ingest.cdc_live_as_of(log, s2))
    scratch = {tuple(r) for r in scratch_post.collect()}
    scratch_stats = {
        tuple(r)
        for r in bm25.doc_stats_from_postings(scratch_post).collect()
    }
    assert scratch
    for s1 in (500_000, 1_000_100, 1_500_000):
        base_post = bm25.postings(ingest.cdc_live_as_of(log, s1))
        base_stats = bm25.doc_stats_from_postings(base_post)
        adv_post, adv_stats = ingest.advance_text_index(
            base_post,
            base_stats,
            log.filter((F.col("seq") > s1) & (F.col("seq") <= s2)),
        )
        assert {tuple(r) for r in adv_post.collect()} == scratch, s1
        assert {tuple(r) for r in adv_stats.collect()} == scratch_stats, s1


def family_log(spark, sf_dir, family: str):
    """The op log of one CDC family, from its fixture builder (each
    builder encodes its own data schedule). The family tests
    parametrize over ingest.FAMILIES, so a new family fails them
    until it has a builder here."""
    fields = tpch.fields(spark, sf_dir)
    return {
        "content": lambda: ingest.cdc_log(fields),
        "fielded": lambda: ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)),
        "relations": lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
        "vectors": lambda: ingest.cdc_vector_log(tpch.vectors(spark, sf_dir)),
        "labels": lambda: ingest.cdc_label_log(fields.select("rid", "labels")),
        "meta": lambda: ingest.cdc_meta_log(fields),
        "security": lambda: ingest.cdc_security_log(tpch.resources(spark, sf_dir)),
    }[family]()


@pytest.mark.parametrize("family", list(ingest.FAMILIES))
def test_advance_live_state_equals_from_scratch(spark, sf_dir, family):
    """advance_live_state (the generic latest-op-wins advance) must
    yield EXACTLY the from-scratch seq-cut resolution for every CDC
    family — at multiple S1 cuts including mid-wave, so
    kept/touched/deleted keys all exercise."""
    fam = ingest.FAMILIES[family]
    log = family_log(spark, sf_dir, family)
    s2 = 3_000_000
    scratch = {
        tuple(map(str, r))
        for r in fam.resolve(log.filter(F.col("seq") <= s2)).collect()
    }
    assert scratch
    for s1 in (500_000, 1_000_100, 1_500_000):
        prior = fam.resolve(log.filter(F.col("seq") <= s1))
        adv = ingest.advance_live_state(
            prior,
            log.filter((F.col("seq") > s1) & (F.col("seq") <= s2)),
            fam.keys,
            fam.resolve,
        )
        assert {tuple(map(str, r)) for r in adv.collect()} == scratch, s1


def test_facet_counters_as_of_equals_batch_at_every_cut(spark, sf_dir):
    """Checkpoint+delta associativity for the AS-OF facet read: full
    buckets from the seq-bucketed sidecar + a boundary-bucket log
    replay must equal the batch aggregation over the seq-cut
    resolved label state — at cuts inside a bucket, exactly ON a
    bucket boundary (empty boundary replay), one below it, mid-wave,
    pre-history, and at the head (== live counts). Compaction of the
    bucketed sidecar must preserve every as-of read."""
    import tempfile

    from pyspark.sql import functions as F

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    bucket = 250_000
    res = tpch.resources(spark, sf_dir)
    workdir = tempfile.mkdtemp(prefix="fctr_asof_t_")
    ingest.cdc_label_log(res).repartition(2).write.parquet(f"{workdir}/log")
    ingest.cdc_facet_counter_ingest(
        spark,
        f"{workdir}/log",
        f"{workdir}/counters",
        f"{workdir}/ckpt",
        seq_bucket=bucket,
    )
    log = spark.read.parquet(f"{workdir}/log")

    def served(seq):
        return {
            r.facet: r.n
            for r in ingest.facet_counters_as_of(
                spark.read.parquet(f"{workdir}/counters"), log, seq, bucket
            ).collect()
        }

    def batch(seq):
        live = ingest.LABELS.resolve(log.filter(F.col("seq") <= seq))
        return {
            r.facet: r.n
            for r in live.select(F.explode("labels").alias("facet"))
            .groupBy("facet")
            .agg(F.count("*").cast("long").alias("n"))
            .collect()
        }

    cuts = [
        0,              # pre-history: only the rid-0 base op (if any)
        123,            # inside bucket 0, mid base inserts
        250_000,        # exactly ON a bucket boundary (start of b1)
        249_999,        # one below it (bucket 0 fully included)
        1_000_123,      # mid relabel wave
        2_000_055,      # mid delete wave
        9_999_999,      # head == live counts
    ]
    for seq in cuts:
        assert served(seq) == batch(seq), f"cut {seq}"
    head = served(9_999_999)
    live = {
        r.facet: r.n
        for r in ingest.live_facet_counters(
            spark.read.parquet(f"{workdir}/counters").drop("bucket")
        ).collect()
    }
    assert head == live
    # compaction preserves the bucket axis and every as-of read
    ingest.compact_facet_counters(spark, f"{workdir}/counters")
    for seq in (123, 1_000_123, 9_999_999):
        assert served(seq) == batch(seq), f"post-compaction cut {seq}"


def test_vacuum_preserves_reads_at_and_above_horizon(spark, sf_dir):
    """vacuum_op_log folds ops <= horizon into base state; for EVERY
    seq at or above the horizon, resolving base + retained (the
    advance algebra) must equal resolving the full log — value-level,
    full frame — including cuts mid-delete-wave and at the head. The
    base state itself must equal the as-of read at the horizon."""
    from pyspark.sql import functions as F

    from nucliadb_spark.sources import tpch
    from nucliadb_spark.streaming import ingest

    horizon = 1_000_123
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    base, retained, _ = ingest.vacuum_op_log(
        log, horizon, ingest.CONTENT.resolve
    )

    def rows(df):
        return sorted((r.rid, r.text) for r in df.collect())

    assert rows(base) == rows(ingest.cdc_live_as_of(log, horizon))
    assert retained.filter(F.col("seq") <= horizon).count() == 0
    for s in (horizon, 1_500_000, 2_000_055, 9_999_999):
        vacuumed = ingest.advance_live_state(
            base,
            retained.filter(F.col("seq") <= s),
            ingest.CONTENT.keys,
            ingest.CONTENT.resolve,
        )
        assert rows(vacuumed) == rows(ingest.cdc_live_as_of(log, s)), s


@pytest.mark.slow  # r15 slow tier: multi-cut equality sweep (>12 s measured)
@pytest.mark.parametrize("family", list(ingest.FAMILIES))
def test_vacuum_works_for_every_cdc_family(spark, sf_dir, family):
    """vacuum_op_log is family-generic: for every CDC family, the
    vacuumed read (base at the horizon + retained ops through the
    advance algebra) equals the full-log resolution at a later cut
    AND at the head — the same family table the snapshot-chaining
    test pins, run through the vacuum."""
    fam = ingest.FAMILIES[family]
    log = family_log(spark, sf_dir, family)
    horizon = 1_000_123
    base, retained, _ = ingest.vacuum_op_log(log, horizon, fam.resolve)
    for s in (1_500_000, 9_999_999):
        vacuumed = ingest.advance_live_state(
            base, retained.filter(F.col("seq") <= s), fam.keys, fam.resolve
        )
        scratch = fam.resolve(log.filter(F.col("seq") <= s))
        assert {tuple(map(str, r)) for r in vacuumed.collect()} == {
            tuple(map(str, r)) for r in scratch.collect()
        }, s


def test_force_merge_swap_survives_a_crash_between_moves(spark, tmp_path, monkeypatch):
    """A crash between moving the old table aside and moving the
    merged one in must leave every table's original rows on disk —
    in place or as ``<table>.bak``, never neither (a delete-then-move
    swap loses both)."""
    idx = str(tmp_path / "index")
    post = [(1, 1, "a", 1.0), (1, 2, "b", 1.0), (2, 3, "c", 1.0)]
    ops = [(1, 1, "upsert"), (1, 2, "upsert"), (2, 3, "upsert")]
    spark.createDataFrame(post, "rid long, seq long, term string, tf double").write.parquet(
        f"{idx}/postings"
    )
    spark.createDataFrame(ops, "rid long, seq long, op string").write.parquet(f"{idx}/oplog")
    real_move, moves = shutil.move, []

    def crash_on_second_move(src, dst):
        moves.append(src)
        if len(moves) == 2:
            raise OSError("simulated crash")
        return real_move(src, dst)

    monkeypatch.setattr(shutil, "move", crash_on_second_move)
    with pytest.raises(OSError, match="simulated crash"):
        ingest.CONTENT.compact(spark, idx)
    monkeypatch.undo()
    for table, rows in (("postings", post), ("oplog", ops)):
        kept = [p for p in (f"{idx}/{table}", f"{idx}/{table}.bak") if os.path.isdir(p)]
        assert any(
            sorted(tuple(r) for r in spark.read.parquet(p).collect()) == rows for p in kept
        ), (table, kept)
