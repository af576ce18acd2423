"""Registry entries: streaming ingest + event-time ops
(SURVEY §2.1 S1-S2, §2.12)."""

from __future__ import annotations

from nucliadb_spark.operators import bm25, feedback, knn, suggest
from nucliadb_spark.registry import register
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest


@register("stream_windowed_counts", ingest.windowed_event_counts_sql())
def stream_windowed_counts(spark, sf_dir):
    return ingest.windowed_event_counts(spark, sf_dir)


@register("event_sessionization", ingest.sessionize_sql())
def event_sessionization(spark, sf_dir):
    return ingest.sessionize(tpch.table(spark, sf_dir, "events"))


@register(
    "cdc_search_live",
    # oracle: same BM25 pipeline over the latest-op-wins live corpus
    # (upserts + revisions + deletions resolved in SQL)
    bm25.bm25_sql(
        ingest.CDC_LIVE_SQL, "refreshed revision stream", top_k=20, mode="any"
    ),
)
def cdc_search_live(spark, sf_dir):
    """S1 update/delete semantics (nidx deletion lists): BM25 over
    the live corpus after a CDC log of inserts, revisions and
    deletes is resolved latest-op-wins. Deleted docs are absent,
    revised docs score on their new text."""
    live = ingest.CONTENT.resolve(ingest.cdc_log(tpch.fields(spark, sf_dir)))
    return bm25.bm25_search(live, "refreshed revision stream", top_k=20, mode="any")


_QVEC_SQL = "SELECT embedding AS qvec FROM embeddings WHERE vec_id = 5"


@register(
    "cdc_vector_search_live",
    knn.exact_knn_sql(ingest.CDC_VECTOR_LIVE_SQL, _QVEC_SQL, dim=64, k=10),
)
def cdc_vector_search_live(spark, sf_dir):
    """S1 vector path: KNN over the live vector set after a CDC log
    of inserts, re-embeddings and deletes resolves latest-op-wins
    (the alive-bitset masking of the reference's vector segments)."""
    from pyspark.sql import functions as F

    live = ingest.VECTORS.resolve(
        ingest.cdc_vector_log(tpch.vectors(spark, sf_dir))
    )
    qvec = (
        tpch.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 5)
        .select(F.col("embedding").alias("qvec"))
    )
    return knn.exact_knn(live, qvec, k=10)


@register("stream_sessionization", ingest.sessionize_sql())
def stream_sessionization(spark, sf_dir):
    # custom stateful streaming operator (applyInPandasWithState);
    # a full availableNow drain equals the batch gap-sessionization,
    # so it shares the batch oracle
    return ingest.sessionize_stream(spark, sf_dir)


@register("stream_sliding_counts", ingest.sliding_event_counts_sql())
def stream_sliding_counts(spark, sf_dir):
    """Hopping 1h/30m windows via a real availableNow streaming run;
    the oracle enumerates the covering epoch-aligned window starts."""
    return ingest.sliding_event_counts(spark, sf_dir)


@register("stream_session_window", ingest.session_window_counts_sql())
def stream_session_window(spark, sf_dir):
    """Built-in session_window streaming sessionization (merging
    window state store) — declarative twin of the
    applyInPandasWithState sessionizer, same batch oracle."""
    return ingest.session_window_counts(spark, sf_dir)


@register(
    "cdc_facet_counts",
    ingest.CDC_FACET_COUNTS_SQL.format(
        resources_sql=__import__(
            "nucliadb_spark.sources.tpch", fromlist=["x"]
        ).SQL_RESOURCES
    ),
)
def cdc_facet_counts(spark, sf_dir):
    """Incrementally-maintained facet counts (streaming IVM):
    micro-batches append partial counts, the read merges with one
    sum — provably equal to the batch aggregation."""
    return ingest.cdc_facet_counts(spark, sf_dir)


_FACET_ROOTS = ["/l/type", "/l/brand", "/n/s"]


def _cdc_facet_counter_sidecar(spark, sf_dir):
    """Session-scoped maintained facet counters: stage the label op
    log once (2 files → ≥2 micro-batches), drain it through
    cdc_facet_counter_ingest exactly-once, serve every later call
    from the materialized (facet, delta) partials."""
    import tempfile

    from nucliadb_spark.cache import cached_df, cached_scalar

    res = tpch.resources(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="fctr_")
        ingest.cdc_label_log(res).repartition(2).write.parquet(f"{workdir}/log")
        ingest.cdc_facet_counter_ingest(
            spark, f"{workdir}/log", f"{workdir}/counters", f"{workdir}/ckpt"
        )
        return workdir

    wd = cached_scalar(sf_dir, "fctr_workdir", build)
    return cached_df(
        sf_dir,
        "fctr_counters",
        lambda: ingest.live_facet_counters(spark.read.parquet(f"{wd}/counters")),
    )


def _cdc_catalog_facets_oracle() -> str:
    from nucliadb_spark.operators import catalog as cat

    return cat.faceted_search_sql(
        ingest.cdc_labels_live_sql(tpch.SQL_RESOURCES), roots=_FACET_ROOTS
    )


@register("cdc_catalog_facets_served", _cdc_catalog_facets_oracle())
def cdc_catalog_facets_served(spark, sf_dir):
    """The CDC twin for the CATALOG/FACET plane — the last serving
    path without one (find r8, suggest r9): per-root facet counts
    after an insert + relabel (/l/type collapses for rid%7) + delete
    (rid%11) wave, SERVED from the maintained (facet, n) counter
    sidecar. The maintenance plane consumes a label op log with
    before-images (the Debezium/PG-logical-decoding update shape), so
    each micro-batch folds to per-facet ±1 deltas with no cross-batch
    state — the streaming analog of the catalog_facets table the
    reference's PostgreSQL catalog maintains transactionally on every
    resource write (nucliadb/src/nucliadb/common/catalog/pg.py:
    72-107). The per-request plan is a prefix prune + top-k window
    over the facet-cardinality-sized counter frame — NO corpus scan,
    no explode (tests/test_plan_shapes.py pins it); the oracle is the
    BATCH faceted aggregation over the live-resolved corpus — stream
    == batch."""
    from nucliadb_spark.operators import catalog as cat

    counters = _cdc_facet_counter_sidecar(spark, sf_dir)
    return cat.faceted_search_from_counters(counters, roots=_FACET_ROOTS)


def _facet_counter_compaction_oracle() -> str:
    """The compacted sidecar's shape is pure log algebra: net delta
    per facet over the full op log (+1 per new-version label, -1 per
    before-image label) — DuckDB replays the deterministic wave
    schedule, no knowledge of micro-batch boundaries needed (the fold
    is associative, so batch split cannot change the net)."""
    relabel = (
        "list_transform(labels, l -> CASE WHEN starts_with(l, '/l/type/') "
        "THEN '/l/type/relabeled' ELSE l END)"
    )
    return f"""
WITH res AS (SELECT rid, labels FROM ({tpch.SQL_RESOURCES})),
log AS (
  SELECT labels, NULL AS prev_labels FROM res
  UNION ALL
  SELECT {relabel}, labels FROM res WHERE rid % 7 = 0
  UNION ALL
  SELECT NULL, CASE WHEN rid % 7 = 0 THEN {relabel} ELSE labels END
  FROM res WHERE rid % 11 = 0
),
deltas AS (
  SELECT facet, SUM(delta)::BIGINT AS delta FROM (
    SELECT unnest(labels) AS facet, 1 AS delta FROM log
    WHERE labels IS NOT NULL
    UNION ALL
    SELECT unnest(prev_labels), -1 FROM log WHERE prev_labels IS NOT NULL
  ) GROUP BY facet
)
SELECT COUNT(*) FILTER (WHERE delta <> 0)::BIGINT AS n_facet_rows_compacted,
       COUNT(*) FILTER (WHERE delta > 0)::BIGINT AS n_facets_live,
       COALESCE(SUM(delta) FILTER (WHERE delta > 0), 0)::BIGINT AS n_total_live
FROM deltas
"""


@register("facet_counter_compaction", _facet_counter_compaction_oracle())
def facet_counter_compaction(spark, sf_dir):
    """S4 maintenance for the r10 counter sidecar — the merge job its
    ingest docstring promised: drain the label op log into per-batch
    (facet, delta) partials, COMPACT them to one net row per facet
    (ingest.compact_facet_counters — partial dirs replaced by a
    single batch=-1 base the next resumed ingest appends beside), and
    report the compacted shape: rows kept, live facets, total live
    label holdings. The oracle replays the fold as pure log algebra
    (net delta per facet), which micro-batch boundaries cannot change
    — associativity IS the compaction correctness argument.
    results-before==after is pinned by
    test_facet_counter_compaction_preserves_serve_reads."""
    import tempfile

    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_scalar

    res = tpch.resources(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="fctr_cmp_")
        ingest.cdc_label_log(res).repartition(2).write.parquet(f"{workdir}/log")
        ingest.cdc_facet_counter_ingest(
            spark, f"{workdir}/log", f"{workdir}/counters", f"{workdir}/ckpt"
        )
        ingest.compact_facet_counters(spark, f"{workdir}/counters")
        return workdir

    wd = cached_scalar(sf_dir, "fctr_cmp_workdir", build)
    compacted = spark.read.parquet(f"{wd}/counters")
    return compacted.agg(
        F.count("*").cast("long").alias("n_facet_rows_compacted"),
        F.sum((F.col("delta") > 0).cast("long")).alias("n_facets_live"),
        F.coalesce(
            F.sum(F.when(F.col("delta") > 0, F.col("delta"))), F.lit(0)
        )
        .cast("long")
        .alias("n_total_live"),
    )


def _catalog_facets_as_of_oracle() -> str:
    from nucliadb_spark.operators import catalog as cat

    return cat.faceted_search_sql(
        ingest.cdc_labels_live_sql(tpch.SQL_RESOURCES, as_of=1_500_000),
        roots=_FACET_ROOTS,
    )


@register("catalog_facets_as_of", _catalog_facets_as_of_oracle())
def catalog_facets_as_of(spark, sf_dir):
    """Faceted counts AS OF a log sequence — the catalog plane's
    snapshot read, completing as-of symmetry across all FOUR serving
    planes (text r8, vector r8, relation r8, catalog now): at seq
    1.5M the relabel wave is applied ('/l/type/relabeled' carries the
    rid%7 resources) while the rid%11 delete wave is not yet visible,
    so deleted-later resources still count. This is the audit answer
    to 'what did the catalog dashboard show at snapshot S' and the
    reproducibility contract for facet-stratified sampling (a
    sample_stratified run keyed on these counts replays exactly).
    One seq-pruned label-log scan + the same rid-keyed max_by as the
    live read, then the standard per-root top-k."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import catalog as cat

    live = ingest.LABELS.resolve(
        ingest.cdc_label_log(tpch.resources(spark, sf_dir)).filter(
            F.col("seq") <= 1_500_000
        )
    )
    return cat.faceted_search(live, roots=_FACET_ROOTS)


# mid-relabel-wave cut: base inserts all applied, relabels for
# rid <= 123 only (relabel seqs = rid + 1M) — deliberately NOT a
# bucket boundary so the boundary-bucket replay is non-trivial
_FCTR_ASOF_SEQ = 1_000_123
_FCTR_BUCKET = 250_000


def _fctr_asof_sidecar(spark, sf_dir):
    """Session-scoped seq-BUCKETED facet counter sidecar + the staged
    label op log it was drained from (the boundary-bucket read needs
    the log; at scale it is the seq-partitioned log table)."""
    import tempfile

    from nucliadb_spark.cache import cached_df, cached_scalar

    res = tpch.resources(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="fctr_asof_")
        ingest.cdc_label_log(res).repartition(2).write.parquet(f"{workdir}/log")
        ingest.cdc_facet_counter_ingest(
            spark,
            f"{workdir}/log",
            f"{workdir}/counters",
            f"{workdir}/ckpt",
            seq_bucket=_FCTR_BUCKET,
        )
        return workdir

    wd = cached_scalar(sf_dir, "fctr_asof_workdir", build)
    partials = cached_df(
        sf_dir,
        "fctr_asof_partials",
        lambda: spark.read.parquet(f"{wd}/counters"),
    )
    return partials, spark.read.parquet(f"{wd}/log")


def _cdc_catalog_facets_as_of_served_oracle() -> str:
    from nucliadb_spark.operators import catalog as cat

    return cat.faceted_search_sql(
        ingest.cdc_labels_live_sql(tpch.SQL_RESOURCES, as_of=_FCTR_ASOF_SEQ),
        roots=_FACET_ROOTS,
    )


@register(
    "cdc_catalog_facets_as_of_served",
    _cdc_catalog_facets_as_of_served_oracle(),
)
def cdc_catalog_facets_as_of_served(spark, sf_dir):
    """Facet counts AS OF a seq SERVED from the counter sidecar —
    the sublinear form of catalog_facets_as_of, which pays a full
    label-state resolution (corpus-sized max_by) per request. The
    sidecar folds per (facet, seq bucket); the snapshot read is
    checkpoint+delta: full buckets sum from the sidecar (facet ×
    bucket-count rows), only the snapshot's boundary bucket replays
    from the op log — one seq-range partition at 100 TB. The cut
    sits MID-relabel-wave (rid <= 123 relabeled, later relabels and
    all deletes invisible), exercising the boundary replay for real;
    the oracle is the batch faceted aggregation over the seq-cut
    resolved label state — checkpoint+delta == full resolution by
    the same associativity the compaction job rests on. The
    reference's PG catalog can answer only the LIVE counts
    (catalog/pg.py:72-107, updated transactionally in place); an
    as-of dashboard read is new capability at counter cost."""
    from nucliadb_spark.operators import catalog as cat

    partials, log = _fctr_asof_sidecar(spark, sf_dir)
    counters = ingest.facet_counters_as_of(
        partials, log, _FCTR_ASOF_SEQ, _FCTR_BUCKET
    )
    return cat.faceted_search_from_counters(counters, roots=_FACET_ROOTS)


# vacuum horizon: mid-revision-wave (revisions for rid <= 123 folded,
# later revisions and all deletes retained) — the non-trivial cut
_VACUUM_SEQ = 1_000_123


def _oplog_vacuum_oracle() -> str:
    live_at = ingest.cdc_live_as_of_sql
    return f"""
WITH log AS (
  SELECT CAST(doc_id AS BIGINT) AS seq FROM documents
  UNION ALL
  SELECT CAST(doc_id + 1000000 AS BIGINT) FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT CAST(doc_id + 2000000 AS BIGINT) FROM documents WHERE doc_id % 11 = 0
),
folded AS (SELECT COUNT(*)::BIGINT AS n FROM log WHERE seq <= {_VACUUM_SEQ}),
retained AS (SELECT COUNT(*)::BIGINT AS n FROM log WHERE seq > {_VACUUM_SEQ}),
base AS (SELECT COUNT(*)::BIGINT AS n FROM ({live_at(_VACUUM_SEQ)})),
head AS (SELECT COUNT(*)::BIGINT AS n FROM ({live_at(9_999_999)}))
SELECT folded.n AS n_ops_folded, base.n AS n_base_rows,
       retained.n AS n_ops_retained, head.n AS n_live_head
FROM folded, retained, base, head
"""


@register("oplog_vacuum_report", _oplog_vacuum_oracle())
def oplog_vacuum_report(spark, sf_dir):
    """MVCC VACUUM for the content op log — the lifecycle's last
    stage (write → as-of read → snapshot advance → compact → vacuum):
    fold every op at or below the horizon into its resolved base
    state, retain only later ops, then SERVE the live head from the
    vacuumed form (advance_live_state over base + retained — the
    snapshot-chaining algebra run in reverse). The report's
    n_live_head is computed THROUGH the vacuumed read path while the
    oracle resolves the full log — equality is the vacuum's
    correctness contract, and as-of reads at any seq >= horizon stay
    exact (test_vacuum_preserves_reads_at_and_above_horizon pins
    several cuts incl. mid-wave). At 100 TB the fold is one resolve
    at the horizon and the discard is dropping seq-range partitions;
    history below the horizon is genuinely gone — the policy the
    vacuum encodes (pinned snapshots stay above it). The reference
    discards superseded state the same way (segment purge,
    nidx/src/scheduler/purge_tasks.rs:26-43)."""
    from pyspark.sql import functions as F

    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    base, retained, _ = ingest.vacuum_op_log(
        log, _VACUUM_SEQ, ingest.CONTENT.resolve
    )
    head = ingest.advance_live_state(
        base, retained, ingest.CONTENT.keys, ingest.CONTENT.resolve
    )
    folded_c = log.filter(F.col("seq") <= _VACUUM_SEQ).agg(
        F.count("*").cast("long").alias("n_ops_folded")
    )
    base_c = base.agg(F.count("*").cast("long").alias("n_base_rows"))
    retained_c = retained.agg(
        F.count("*").cast("long").alias("n_ops_retained")
    )
    head_c = head.agg(F.count("*").cast("long").alias("n_live_head"))
    return (
        folded_c.crossJoin(base_c)  # 1-row aggregates, broadcast
        .crossJoin(retained_c)
        .crossJoin(head_c)
    )


def _catalog_asof_date_filter():
    from nucliadb_spark.operators import filters as fx

    return fx.DateRange(
        "created", since="1995-06-01 00:00:00", until="1996-03-01 00:00:00"
    )


def _catalog_facets_as_of_dated_oracle() -> str:
    from nucliadb_spark.operators import catalog as cat

    labels_asof = ingest.cdc_labels_live_sql(
        tpch.SQL_RESOURCES, as_of=1_500_000
    )
    joined = f"""
SELECT l.rid AS rid, l.labels AS labels, r.created AS created
FROM ({labels_asof}) l
JOIN (SELECT rid, created FROM ({tpch.SQL_RESOURCES})) r USING (rid)
"""
    return cat.faceted_search_sql(
        joined, roots=_FACET_ROOTS, filters=_catalog_asof_date_filter()
    )


@register("catalog_facets_as_of_dated", _catalog_facets_as_of_dated_oracle())
def catalog_facets_as_of_dated(spark, sf_dir):
    """Faceted counts AS OF a seq, restricted by a STATIC date range
    — the r12 static-metadata split applied to the CATALOG plane
    (find r12, suggest r12, graph r12, catalog: here), completing
    filtered-snapshot symmetry across all four serving planes. Label
    state resolves from the seq-cut label log (the versioned plane),
    the created timestamp joins by rid (Basic metadata, written
    once), and the standard per-root top-k runs over the joined
    frame — one rid-keyed join over the plain as-of read. The
    reference's catalog accepts the same date filters
    (catalog/pg.py) but only at the LIVE state."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import catalog as cat

    res = tpch.resources(spark, sf_dir)
    live = ingest.LABELS.resolve(
        ingest.cdc_label_log(res).filter(F.col("seq") <= 1_500_000)
    )
    snap = live.join(res.select("rid", "created"), "rid")
    return cat.faceted_search(
        snap, roots=_FACET_ROOTS, filters=_catalog_asof_date_filter()
    )


def _catalog_asof_sec_filter():
    from nucliadb_spark.operators import filters as fx

    return fx.SecurityFilter(groups=["group-1", "group-3"])


def _catalog_facets_as_of_secured_oracle() -> str:
    from nucliadb_spark.operators import catalog as cat

    labels_asof = ingest.cdc_labels_live_sql(
        tpch.SQL_RESOURCES, as_of=1_500_000
    )
    sec_asof = ingest.cdc_security_live_sql(tpch.SQL_RESOURCES, as_of=1_500_000)
    joined = f"""
SELECT l.rid AS rid, l.labels AS labels,
       s.security_public AS security_public,
       s.security_groups AS security_groups
FROM ({labels_asof}) l
JOIN ({sec_asof}) s USING (rid)
"""
    return cat.faceted_search_sql(
        joined, roots=_FACET_ROOTS, filters=_catalog_asof_sec_filter()
    )


@register(
    "catalog_facets_as_of_secured", _catalog_facets_as_of_secured_oracle()
)
def catalog_facets_as_of_secured(spark, sf_dir):
    """Faceted counts AS OF a seq, restricted to what the requesting
    user's groups could see AT THE SNAPSHOT — the r13 metadata plane
    applied to the CATALOG (find/suggest/graph got it earlier this
    round): label state from the seq-cut label log, security state
    from the seq-cut security log (cdc_security_log — the SAME rid%7
    update event that relabels also locks down, so the two logs
    describe one write history cut at one seq), the SecurityFilter
    tree over the joined frame, then the standard per-root top-k.
    Locked resources' facets vanish from the dashboard at
    post-lockdown snapshots while pre-lockdown snapshots still count
    them — a permission-aware audit view the reference's live-only
    catalog (catalog/pg.py security column) cannot replay. One extra
    rid-keyed max_by + join over the dated sibling."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import catalog as cat

    res = tpch.resources(spark, sf_dir)
    seq = 1_500_000
    live = ingest.LABELS.resolve(
        ingest.cdc_label_log(res).filter(F.col("seq") <= seq)
    )
    sec = ingest.SECURITY.resolve(
        ingest.cdc_security_log(
            res.select("rid", "security_public", "security_groups")
        ).filter(F.col("seq") <= seq)
    )
    snap = live.join(sec, "rid")
    return cat.faceted_search(
        snap, roots=_FACET_ROOTS, filters=_catalog_asof_sec_filter()
    )


@register("stream_exact_dedup", ingest.stream_dedup_counts_sql())
def stream_exact_dedup(spark, sf_dir):
    """Ingest-side exact-dedup gate as a real streaming run:
    content-hash groupBy state over the drained corpus; a full
    availableNow drain equals the batch COUNT(DISTINCT md5(text))."""
    return ingest.stream_dedup_counts(spark, sf_dir)


@register("stream_neardup_gate", ingest.stream_neardup_gate_sql())
def stream_neardup_gate(spark, sf_dir):
    """Ingest-side NEAR-dup gate: arriving docs compute row-local
    minhash bands and stream-static-join the prebuilt corpus band
    index (candidates) + shingle sets (exact-Jaccard verify) — a
    full availableNow drain equals the batch arrivals-vs-base LSH."""
    return ingest.stream_neardup_gate(spark, sf_dir)


@register("stream_stream_join", ingest.stream_attribution_sql())
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: click→purchase attribution within a
    30-minute event-time horizon. Both sides are unbounded streams;
    watermarks + the range condition bound the join state. availableNow
    drain == the batch range join the oracle runs."""
    return ingest.stream_attribution(spark, sf_dir)


@register("stream_percolator", ingest.stream_percolator_sql())
def stream_percolator(spark, sf_dir):
    """Standing saved queries matched against the arriving document
    stream (the alerting primitive; conjunctive term containment via
    the shared tokenizer). Stateless broadcast match per micro-batch —
    the only streaming state is one counter row per saved query."""
    return ingest.stream_percolator(spark, sf_dir)


@register("kb_notifications", ingest.ACTIVITY_LOG_SQL)
def kb_notifications(spark, sf_dir):
    """KB activity / notifications stream (the /notifications
    endpoint, nucliadb_models/notifications.py:21-112): every CDC op
    as a resource_written notification with its operation
    (created/modified/deleted), ordered by log sequence. One
    rid-keyed window over the op log."""
    return ingest.activity_log(
        ingest.cdc_log(
            tpch.table(spark, sf_dir, "documents").selectExpr(
                "CAST(doc_id AS BIGINT) AS rid", "text"
            )
        )
    )


@register("cdc_time_travel", ingest.cdc_snapshot_report_sql())
def cdc_time_travel(spark, sf_dir):
    """MVCC time travel: the exact corpus state as of three log
    sequence points (initial / after revisions / after deletes) in
    one pass — the reproducible-read primitive for 'train on the
    corpus as it stood at snapshot S'. Latest-op-wins per (snapshot,
    rid); the snapshot list broadcasts."""
    return ingest.cdc_snapshot_report(
        ingest.cdc_log(
            tpch.table(spark, sf_dir, "documents").selectExpr(
                "CAST(doc_id AS BIGINT) AS rid", "text"
            )
        )
    )


@register("stream_feedback_rate", feedback.STREAM_FEEDBACK_RATE_SQL)
def stream_feedback_rate(spark, sf_dir):
    """Feedback-as-a-stream (the reference's /feedback endpoint is an
    audit-stream append, audit/stream.py:597-627): per-KB thumbs-up
    counters maintained incrementally over the arriving records —
    groupBy state is one row per kbid. availableNow drain == the
    batch report the oracle runs."""
    return feedback.stream_feedback_rate(spark, sf_dir)


@register("stream_feedback_trend", feedback.feedback_daily_trend_sql(tenants=4))
def stream_feedback_trend(spark, sf_dir):
    """The day-grain good-rate dashboard (feedback_daily_trend)
    maintained incrementally over the feedback stream instead of by
    batch rescan — streaming state is one (kbid, day) counter row,
    the cumulative ratio a final window over the drained rollup.
    availableNow drain == the batch trend the oracle computes."""
    return feedback.stream_feedback_trend(spark, sf_dir)


def _cdc_fielded_oracle() -> str:
    live_link = (
        "SELECT rid, text FROM ("
        + ingest.cdc_fielded_live_sql(tpch.SQL_FIELDS_MULTI, field_key="/u/link")
        + ")"
    )
    return bm25.bm25_sql(
        live_link, "refreshed revision stream", top_k=20, mode="any"
    )


@register("cdc_fielded_search_live", _cdc_fielded_oracle())
def cdc_fielded_search_live(spark, sf_dir):
    """S1 at FIELD granularity: the op-log key is (rid, field_id) —
    the reference's writer sets/deletes single fields of a resource
    and the indexer delete-then-reindexes just that field's
    paragraphs (nidx/src/indexer.rs). Field-scoped BM25 over the
    live '/u/link' family after link revisions (rid%7==0, new text
    scores) and field-level link deletes (rid%9==0, absent — while
    the same rid's body/title fields stay live). The live resolution
    is one (rid, field_id)-keyed max_by — partial-aggregatable, the
    same shuffle the resource-grain CDC pays."""
    from pyspark.sql import functions as F

    live = ingest.FIELDED.resolve(
        ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir))
    )
    link = live.filter(F.col("field_key") == "/u/link").select("rid", "text")
    return bm25.bm25_search(link, "refreshed revision stream", top_k=20, mode="any")


_REL_CDC_ENTITIES = ["part:3", "part:6", "part:17"]


def _cdc_graph_oracle() -> str:
    live = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    lst = ", ".join(f"'{e}'" for e in _REL_CDC_ENTITIES)
    return f"""
WITH live AS ({live})
SELECT source_value, relation_label, target_value, paragraph_id
FROM live
WHERE source_value IN ({lst}) OR target_value IN ({lst})
ORDER BY relation_label DESC, source_value, target_value
LIMIT 100
"""


@register("cdc_graph_search_live", _cdc_graph_oracle())
def cdc_graph_search_live(spark, sf_dir):
    """S1 for the THIRD index family: the relation index under CDC.
    A resource reindex deletes its previous relation entries and
    indexes the new set (nidx/src/indexer.rs over nidx_relation
    segments + deletion lists), so the op log keys on the EDGE
    identity. The 1-hop neighborhood of the query entities over the
    live graph: deleted edges are absent, re-indexed edges carry
    their REVISED provenance slice (0-480). The live resolution is
    one edge-keyed max_by — the same partial-aggregatable shuffle as
    the text and vector CDC, completing text/vector/relation
    serving-freshness symmetry."""
    from pyspark.sql import functions as F

    live = ingest.RELATIONS.resolve(
        ingest.cdc_relation_log(tpch.relations(spark, sf_dir))
    )
    ents = _REL_CDC_ENTITIES
    cond = F.col("source_value").isin(ents) | F.col("target_value").isin(ents)
    return (
        live.filter(cond)
        .select("source_value", "relation_label", "target_value", "paragraph_id")
        .orderBy(
            F.col("relation_label").desc(), "source_value", "target_value"
        )
        .limit(100)
    )


def _cdc_relation_served_index(spark, sf_dir):
    """Session-scoped STREAMED relation index: stage the edge op log
    once, drain it through RELATIONS.sink, serve from the
    materialized edge segments + oplog — the relation sibling of the
    fielded/vector served indexes."""
    import tempfile

    from nucliadb_spark.cache import cached_scalar

    rel = tpch.relations(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="rcdc_idx_")
        ingest.cdc_relation_log(rel).repartition(2).write.parquet(
            f"{workdir}/log"
        )
        ingest.RELATIONS.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        return workdir

    wd = cached_scalar(sf_dir, "rcdc_workdir", build)
    edges = spark.read.parquet(f"{wd}/index/edges")
    oplog = spark.read.parquet(f"{wd}/index/oplog")
    return edges, oplog


@register("cdc_graph_search_served", _cdc_graph_oracle())
def cdc_graph_search_served(spark, sf_dir):
    """`cdc_graph_search_live` SERVED from the streamed edge
    segments under the oplog alive-mask instead of a per-request log
    resolution — completing the served trio (text postings, vector
    segments, relation edges all stream-ingested exactly-once and
    queried through a deletion-list join, the alive-bitset over
    built segments). Same oracle as the live variant — stream ==
    batch."""
    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_df

    edges, oplog = _cdc_relation_served_index(spark, sf_dir)
    live = cached_df(
        sf_dir,
        "rcdc_live_edges",
        lambda: ingest.RELATIONS.live_segments(edges, oplog),
    )
    ents = _REL_CDC_ENTITIES
    cond = F.col("source_value").isin(ents) | F.col("target_value").isin(ents)
    return (
        live.filter(cond)
        .select("source_value", "relation_label", "target_value", "paragraph_id")
        .orderBy(
            F.col("relation_label").desc(), "source_value", "target_value"
        )
        .limit(100)
    )


_AS_OF_SEQ = 1_500_000  # post-revisions, pre-deletes snapshot point


@register(
    "search_as_of",
    bm25.bm25_sql(
        ingest.cdc_live_as_of_sql(_AS_OF_SEQ),
        "refreshed revision stream",
        top_k=20,
        mode="any",
    ),
)
def search_as_of(spark, sf_dir):
    """Snapshot-consistent retrieval: BM25 over the corpus AS OF log
    sequence 1.5M — after the revision wave, before the delete wave
    (`cdc_time_travel`'s MVCC resolution turned into a searchable
    corpus). Revised docs score on their new text while the
    to-be-deleted docs are STILL retrievable, which is exactly what
    'train on retrieval results as of snapshot S' must reproduce
    months later. The seq predicate prunes the op-log scan
    (partition pruning over seq-ranged log segments at scale); the
    snapshot resolution is the same single max_by shuffle as the
    live read — time travel costs nothing extra."""
    live = ingest.cdc_live_as_of(
        ingest.cdc_log(tpch.fields(spark, sf_dir)), _AS_OF_SEQ
    )
    return bm25.bm25_search(live, "refreshed revision stream", top_k=20, mode="any")


def _vector_as_of_sql(seq: int) -> str:
    return f"""
SELECT rid, vector FROM (
  SELECT rid, op, vector,
         row_number() OVER (PARTITION BY rid ORDER BY seq DESC) AS rn
  FROM (
    SELECT CAST(vec_id AS BIGINT) AS rid, CAST(vec_id AS BIGINT) AS seq,
           'upsert' AS op, embedding AS vector FROM embeddings
    UNION ALL
    SELECT CAST(vec_id AS BIGINT), CAST(vec_id + 1000000 AS BIGINT),
           'upsert', list_reverse(embedding) FROM embeddings WHERE vec_id % 6 = 0
    UNION ALL
    SELECT CAST(vec_id AS BIGINT), CAST(vec_id + 2000000 AS BIGINT),
           'delete', NULL FROM embeddings WHERE vec_id % 9 = 0
  ) WHERE seq <= {seq}
) WHERE rn = 1 AND op = 'upsert'
"""


@register(
    "knn_as_of",
    knn.exact_knn_sql(_vector_as_of_sql(_AS_OF_SEQ), _QVEC_SQL, dim=64, k=10),
)
def knn_as_of(spark, sf_dir):
    """Snapshot-consistent VECTOR retrieval: KNN over the vector set
    AS OF log sequence 1.5M — re-embedded vectors (the rid%6 wave at
    +1M) already serve their new embedding, while vectors the later
    delete wave removes are still retrievable. The same
    reproducible-read contract as search_as_of, applied to the
    vector index: replaying 'nearest neighbours as of snapshot S'
    months later returns these exact ids."""
    from pyspark.sql import functions as F

    log = ingest.cdc_vector_log(tpch.vectors(spark, sf_dir))
    live = ingest.VECTORS.resolve(log.filter(F.col("seq") <= _AS_OF_SEQ))
    qvec = (
        tpch.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 5)
        .select(F.col("embedding").alias("qvec"))
    )
    return knn.exact_knn(live, qvec, k=10)


def _graph_as_of_oracle(seq: int) -> str:
    live = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    # the as-of twin: same resolution, ops cut at the snapshot seq
    # (WHERE applies before the window, so rn ranks only <=seq ops)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_as_of = live.replace(
        anchor, f"WHERE seq <= {seq}{anchor}"
    )
    lst = ", ".join(f"'{e}'" for e in _REL_CDC_ENTITIES)
    return f"""
WITH live AS ({live_as_of})
SELECT source_value, relation_label, target_value, paragraph_id
FROM live
WHERE source_value IN ({lst}) OR target_value IN ({lst})
ORDER BY relation_label DESC, source_value, target_value
LIMIT 100
"""


@register("graph_as_of", _graph_as_of_oracle(_AS_OF_SEQ))
def graph_as_of(spark, sf_dir):
    """Snapshot-consistent GRAPH retrieval: the entity neighborhood
    over the relation set AS OF log sequence 1.5M — provenance
    revisions (the md5%7 wave at +1M) are applied, edges the later
    delete wave (+2M) retracts are still present. Completes the
    as-of story across all three index families (text, vector,
    relation): one seq predicate on the op-log scan, the same
    edge-keyed max_by shuffle as the live read."""
    from pyspark.sql import functions as F

    log = ingest.cdc_relation_log(tpch.relations(spark, sf_dir))
    live = ingest.RELATIONS.resolve(log.filter(F.col("seq") <= _AS_OF_SEQ))
    ents = _REL_CDC_ENTITIES
    cond = F.col("source_value").isin(ents) | F.col("target_value").isin(ents)
    return (
        live.filter(cond)
        .select("source_value", "relation_label", "target_value", "paragraph_id")
        .orderBy(
            F.col("relation_label").desc(), "source_value", "target_value"
        )
        .limit(100)
    )


_DIFF_SEQ_A = 300  # mid-backfill: base upserts past rid 300 land later
_DIFF_SEQ_B = 3_000_000  # head: all revisions + deletes applied


@register(
    "cdc_snapshot_diff",
    ingest.cdc_snapshot_diff_sql(ingest.CDC_LOG_SQL, _DIFF_SEQ_A, _DIFF_SEQ_B),
)
def cdc_snapshot_diff(spark, sf_dir):
    """The corpus DELTA between two snapshots — added / revised /
    deleted / unchanged rid classes with counts and rid ranges,
    resolved in ONE pass over the op log (two conditional max_by
    aggregates under the same rid-keyed shuffle). Snapshot A sits
    mid-backfill (seq 300) so every class is populated: docs
    ingested later are 'added', the rid%7 revision wave is
    'revised', the rid%11 delete wave is 'deleted'. This is the
    between-training-runs audit the MVCC machinery exists for
    ('what moved since the snapshot we trained on?'), the diff twin
    of cdc_time_travel's per-point report."""
    log = ingest.cdc_log(
        tpch.table(spark, sf_dir, "documents").selectExpr(
            "CAST(doc_id AS BIGINT) AS rid", "text"
        )
    )
    return ingest.cdc_snapshot_diff(log, _DIFF_SEQ_A, _DIFF_SEQ_B)


_INC_SINCE = 999_999  # checkpoint: after the backfill, before revisions


@register(
    "cdc_incremental_export",
    ingest.cdc_incremental_export_sql(ingest.CDC_LOG_SQL, _INC_SINCE),
)
def cdc_incremental_export(spark, sf_dir):
    """The incremental RE-PROCESSING set: live docs whose head
    version changed after the checkpoint seq — exactly what an
    incremental pipeline run re-embeds / re-indexes / re-exports
    (here: the revision wave minus the docs the later delete wave
    removed; deletions carry no payload and surface through the
    diff's 'deleted' class instead). One rid-keyed max_by, the
    since-filter applied AFTER resolution so a multiply-revised doc
    exports once at its head version. The incremental sibling of the
    full Arrow export family (S6) and of vectorset_backfill (which
    keys on MISSING embeddings; this keys on CHANGED content)."""
    log = ingest.cdc_log(
        tpch.table(spark, sf_dir, "documents").selectExpr(
            "CAST(doc_id AS BIGINT) AS rid", "text"
        )
    )
    return ingest.cdc_incremental_export(log, _INC_SINCE)


_VECTOR_LOG_SQL = """
    SELECT CAST(vec_id AS BIGINT) AS rid, CAST(vec_id AS BIGINT) AS seq,
           'upsert' AS op, embedding AS vector FROM embeddings
    UNION ALL
    SELECT CAST(vec_id AS BIGINT), CAST(vec_id + 1000000 AS BIGINT),
           'upsert', list_reverse(embedding) FROM embeddings WHERE vec_id % 6 = 0
    UNION ALL
    SELECT CAST(vec_id AS BIGINT), CAST(vec_id + 2000000 AS BIGINT),
           'delete', NULL FROM embeddings WHERE vec_id % 9 = 0
"""

_BASE_CENTROIDS_SQL = """
SELECT cell, list(m ORDER BY pos) AS centroid FROM (
  SELECT label AS cell, pos, AVG(val) AS m FROM (
    SELECT label, unnest(generate_series(1, 64)) AS pos,
           unnest(embedding) AS val
    FROM embeddings
  ) GROUP BY label, pos
) GROUP BY cell
"""


def _ivf_drift_oracle() -> str:
    from nucliadb_spark.operators import ann as ann_ops

    return ann_ops.ivf_drift_plan_sql(_VECTOR_LOG_SQL, _BASE_CENTROIDS_SQL, dim=64)


@register("ivf_drift_plan", _ivf_drift_oracle())
def ivf_drift_plan(spark, sf_dir):
    """IVF centroid drift under CDC: `VECTORS.sink` assigns
    cells against a FIXED broadcast centroid sidecar, so upsert waves
    (here the rid%6 re-embed wave writing REVERSED vectors) skew the
    cell layout away from the data — the exact failure the
    reference's vector merge avoids by rebuilding segments
    (nidx/src/scheduler/vector_merge.rs). This review table reports,
    per cell: live members under the ingest assignment, dead
    versions a compaction would purge, how many live vectors ONE
    Lloyd refresh of the centroids would reassign elsewhere
    (n_would_move — the retrain trigger), and the live share (skew
    indicator). Centroid tables broadcast; the wide work is one
    rid-keyed liveness max_by + two map-side-combinable groupBys.
    The retrain itself is ingest.retrain_vector_index, recall-gated
    on the clustered corpus in tests/test_streamed_index.py."""
    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators import ann as ann_ops

    vectors = tpch.vectors(spark, sf_dir)
    cents = cached_df(
        sf_dir, "ivf_centroids", lambda: ann_ops.cell_centroids(vectors)
    )
    return ann_ops.ivf_drift_plan(ingest.cdc_vector_log(vectors), cents)


def _ivf_drift_sampled_oracle() -> str:
    from nucliadb_spark.operators import ann as ann_ops

    return ann_ops.ivf_drift_plan_sampled_sql(
        _VECTOR_LOG_SQL, _BASE_CENTROIDS_SQL, dim=64, sample_pct=20
    )


@register("ivf_drift_plan_sampled", _ivf_drift_sampled_oracle())
def ivf_drift_plan_sampled(spark, sf_dir):
    """The 100 TB shape of the drift review: `ivf_drift_plan` is an
    honest full-log audit (linear in versions — SCALE.md measured
    11× at a 100× corpus), so the per-cycle operator samples. A
    portable md5(rid) bucket keeps each document's WHOLE version
    history in or out atomically — liveness inside the sample is
    exact — and the drift verdict (would-move rate, live share)
    estimates from the 20% sample at 1/5 the review cost; at larger
    corpora sample_pct shrinks to hold the budget constant.
    est_n_live scales the live count back to corpus units. Same
    reference anchor as the full plan (nidx/src/scheduler/
    vector_merge.rs decides merges from per-segment COUNTERS, not a
    corpus scan — sampling is the Spark analog of reviewing cheap
    summaries instead of data)."""
    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators import ann as ann_ops

    vectors = tpch.vectors(spark, sf_dir)
    cents = cached_df(
        sf_dir, "ivf_centroids", lambda: ann_ops.cell_centroids(vectors)
    )
    return ann_ops.ivf_drift_plan_sampled(
        ingest.cdc_vector_log(vectors), cents, sample_pct=20
    )


_DRIFT_CKPT = 500_000  # post-base-inserts; revision + delete waves follow


def _ivf_drift_incremental_oracle() -> str:
    # incremental-since-checkpoint == full-log counters by
    # construction (the fold is associative), so the oracle IS the
    # full-log counter SQL — every driver hash check re-proves the
    # equality the operator claims.
    from nucliadb_spark.operators import ann as ann_ops

    return ann_ops.ivf_drift_counters_sql(
        _VECTOR_LOG_SQL, _BASE_CENTROIDS_SQL, dim=64
    )


@register("ivf_drift_plan_incremental", _ivf_drift_incremental_oracle())
def ivf_drift_plan_incremental(spark, sf_dir):
    """The SECOND 100 TB shape of the drift review (SCALE.md names
    both): review only the op-log segments past the LAST review's seq
    watermark (the log is seq-partitioned, so the delta read is
    partition pruning) and merge per-cell counter deltas into the
    prior review's artifact. Here the checkpoint sits after the base
    inserts (seq 500k), so the delta is the re-embed wave (rid%6,
    REVERSED vectors — these change cells) plus the delete wave
    (rid%9): each touched rid subtracts its checkpoint cell's live
    count, adds its new cell's (if still alive), and every superseded
    version lands in dead counters. Cost ∝ delta: cell assignment
    runs over delta upserts only; the corpus is touched only by a
    rid-semijoin against the live index layout (which
    VECTORS.sink maintains anyway). The geometry half
    (Lloyd refresh / would-move) stays with the sampled review —
    nidx's scheduler likewise decides merges from counters and
    reserves geometry for the rebuild (nidx/src/scheduler/
    log_merge.rs:59, vector_merge.rs). Incremental == full-log
    counters by associativity: the oracle IS the full-log counter
    SQL, and test_ivf_drift_incremental_equals_full pins the Spark
    twin."""
    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators import ann as ann_ops

    vectors = tpch.vectors(spark, sf_dir)
    cents = cached_df(
        sf_dir, "ivf_centroids", lambda: ann_ops.cell_centroids(vectors)
    )
    log = ingest.cdc_vector_log(vectors)
    # the prior review's artifacts — in production these are read
    # from the last cycle's output + the serving index; session-cached
    # here exactly like every other checkpoint sidecar
    prior_counters = cached_df(
        sf_dir,
        f"drift_ckpt{_DRIFT_CKPT}_counters",
        lambda: ann_ops.ivf_drift_counters(
            log.filter(F.col("seq") <= _DRIFT_CKPT), cents
        ),
    )
    prior_live = cached_df(
        sf_dir,
        f"drift_ckpt{_DRIFT_CKPT}_live",
        lambda: ann_ops.ivf_live_cells(
            log.filter(F.col("seq") <= _DRIFT_CKPT), cents
        ),
    )
    return ann_ops.ivf_drift_plan_incremental(
        prior_counters,
        prior_live,
        log.filter(F.col("seq") > _DRIFT_CKPT),
        cents,
    )


_REFRESH_HEAD = 3_000_000  # all waves applied
_DRIFT_RETRAIN_SHARE = 0.05  # retrain when ≥5% of live vectors would move


def _refresh_workdir(spark, sf_dir):
    """Session-scoped REFRESH pipeline run (this query's own index —
    the shared served index is never mutated): stage the vector op
    log, drain it through VECTORS.sink against the base
    centroids, snapshot the ingest-time assignment (vectors_v1), then
    apply the drift rule — if the would-move share is ≥ the retrain
    threshold, retrain_vector_index compacts + re-derives centroids +
    reassigns, republishing the v2 sidecar. Returns the workdir."""
    import tempfile

    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_df, cached_scalar
    from nucliadb_spark.operators import ann as ann_ops

    vectors = tpch.vectors(spark, sf_dir)
    cents = cached_df(
        sf_dir, "ivf_centroids", lambda: ann_ops.cell_centroids(vectors)
    )

    def build() -> str:
        import shutil

        workdir = tempfile.mkdtemp(prefix="refresh_")
        vlog = ingest.cdc_vector_log(vectors)
        vlog.repartition(2).write.parquet(f"{workdir}/log")
        ingest.VECTORS.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt",
            centroids=cents,
        )
        shutil.copytree(f"{workdir}/index/vectors", f"{workdir}/vectors_v1")
        drift = (
            ann_ops.ivf_drift_plan(vlog, cents)
            .agg(
                F.sum("n_would_move").alias("m"), F.sum("n_live").alias("l")
            )
            .collect()[0]  # terminal: the maintenance-plane decision
        )
        if drift.m / drift.l >= _DRIFT_RETRAIN_SHARE:
            v2 = ingest.retrain_vector_index(spark, f"{workdir}/index")
            v2.write.parquet(f"{workdir}/centroids_v2")
        return workdir

    return cached_scalar(sf_dir, "refresh_workdir", build)


def _refresh_report_oracle() -> str:
    from nucliadb_spark.functions import vector as V
    from nucliadb_spark.operators import ann as ann_ops

    diff = ingest.cdc_snapshot_diff_sql(
        ingest.CDC_LOG_SQL, _INC_SINCE, _REFRESH_HEAD
    )
    export = ingest.cdc_incremental_export_sql(ingest.CDC_LOG_SQL, _INC_SINCE)
    drift = ann_ops.ivf_drift_plan_sql(
        _VECTOR_LOG_SQL, _BASE_CENTROIDS_SQL, dim=64
    )
    cos = V.cosine_sql_unrolled("u.vector", "b.centroid", 64)
    return f"""
WITH diffc AS ({diff}),
dpivot AS (
  SELECT COALESCE(SUM(CASE WHEN change = 'added' THEN n_rids END), 0)::BIGINT AS n_added,
         COALESCE(SUM(CASE WHEN change = 'revised' THEN n_rids END), 0)::BIGINT AS n_revised,
         COALESCE(SUM(CASE WHEN change = 'deleted' THEN n_rids END), 0)::BIGINT AS n_deleted
  FROM diffc
),
exportc AS (SELECT COUNT(*)::BIGINT AS n_export FROM ({export})),
cellsc AS (
  SELECT COUNT(DISTINCT cell)::BIGINT AS cells_touched FROM (
    SELECT u.rid, u.seq, b.cell,
           row_number() OVER (
             PARTITION BY u.rid, u.seq
             ORDER BY ROUND({cos}, 6) DESC, b.cell ASC) AS rn
    FROM (SELECT rid, seq, vector FROM ({_VECTOR_LOG_SQL})
          WHERE op = 'upsert' AND seq > {_INC_SINCE}) u
    CROSS JOIN ({_BASE_CENTROIDS_SQL}) b
  ) WHERE rn = 1
),
driftc AS (
  SELECT SUM(n_would_move)::BIGINT AS n_would_move,
         SUM(n_live)::BIGINT AS n_live
  FROM ({drift})
)
SELECT d.n_added, d.n_revised, d.n_deleted,
       e.n_export, e.n_export AS n_reembedded,
       c.cells_touched, f.n_would_move, f.n_live,
       (f.n_would_move * 1.0 / f.n_live) >= {_DRIFT_RETRAIN_SHARE}
           AS retrain_triggered
FROM dpivot d, exportc e, cellsc c, driftc f
"""


@register("incremental_refresh_report", _refresh_report_oracle())
def incremental_refresh_report(spark, sf_dir):
    """The END-TO-END incremental-refresh capstone — the ledger a
    training-data team reads between checkpoints, composing every
    r9/r10 primitive in pipeline order: `cdc_snapshot_diff` (what
    moved since the checkpoint: added/revised/deleted doc counts) →
    `cdc_incremental_export` (the changed head-version payloads) →
    re-embed (the deterministic pandas_udf stub actually runs over
    the exported texts — n_reembedded counts its output) →
    `VECTORS.sink` (cells_touched = distinct IVF cells the
    post-checkpoint upserts landed in, read from the STAGED index's
    ingest-time assignment) → `ivf_drift_plan` (would-move/live
    totals) → conditional `retrain_vector_index` (executed inside
    the session-scoped refresh run when the would-move share crosses
    the threshold; tests/test_cdc_ingest.py proves the post-refresh
    index serves results identical to a batch rebuild). Everything
    wide stays one shuffle per primitive (the ledger itself is
    crossJoins of 1-row aggregates — broadcast-trivial); the oracle
    replays the arithmetic from the same op logs."""
    from pyspark.sql import functions as F

    from nucliadb_spark.functions import models
    from nucliadb_spark.operators import ann as ann_ops

    docs = tpch.table(spark, sf_dir, "documents").selectExpr(
        "CAST(doc_id AS BIGINT) AS rid", "text"
    )
    dlog = ingest.cdc_log(docs)
    dcounts = ingest.cdc_snapshot_diff(dlog, _INC_SINCE, _REFRESH_HEAD).agg(
        F.coalesce(
            F.sum(F.when(F.col("change") == "added", F.col("n_rids"))), F.lit(0)
        ).cast("long").alias("n_added"),
        F.coalesce(
            F.sum(F.when(F.col("change") == "revised", F.col("n_rids"))), F.lit(0)
        ).cast("long").alias("n_revised"),
        F.coalesce(
            F.sum(F.when(F.col("change") == "deleted", F.col("n_rids"))), F.lit(0)
        ).cast("long").alias("n_deleted"),
    )
    exported = ingest.cdc_incremental_export(dlog, _INC_SINCE)
    ecount = exported.agg(F.count("*").cast("long").alias("n_export"))
    embedded = exported.select(
        models.stub_embedding(F.col("text")).alias("emb")
    ).filter(F.size("emb") > 0)
    rcount = embedded.agg(F.count("*").cast("long").alias("n_reembedded"))

    wd = _refresh_workdir(spark, sf_dir)
    cells = (
        spark.read.parquet(f"{wd}/vectors_v1")
        .filter(F.col("seq") > _INC_SINCE)
        .agg(
            F.countDistinct("cluster_label").cast("long").alias("cells_touched")
        )
    )
    vectors = tpch.vectors(spark, sf_dir)
    from nucliadb_spark.cache import cached_df

    cents = cached_df(
        sf_dir, "ivf_centroids", lambda: ann_ops.cell_centroids(vectors)
    )
    drift = ann_ops.ivf_drift_plan(ingest.cdc_vector_log(vectors), cents).agg(
        F.sum("n_would_move").cast("long").alias("n_would_move"),
        F.sum("n_live").cast("long").alias("n_live"),
    )
    return (
        dcounts.crossJoin(ecount)
        .crossJoin(rcount)
        .crossJoin(cells)
        .crossJoin(drift)
        .select(
            "n_added",
            "n_revised",
            "n_deleted",
            "n_export",
            "n_reembedded",
            "cells_touched",
            "n_would_move",
            "n_live",
            (
                F.col("n_would_move") * 1.0 / F.col("n_live")
                >= _DRIFT_RETRAIN_SHARE
            ).alias("retrain_triggered"),
        )
    )


_ASOF_HYBRID_Q = "refreshed revision stream part:3 part:6 part:17"


def _as_of_fused_sql(top_k: int, seq: int | None = None) -> str:
    """The three as-of legs (keyword / semantic / relations, each cut
    at `seq`, default _AS_OF_SEQ) fused with RRF to `top_k` — shared
    by the snapshot flagship (top_k=10), its keyset page-2 twin
    (top_k=window) and the cross-snapshot rank-drift audit (both
    seqs)."""
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import fusion

    if seq is None:
        seq = _AS_OF_SEQ
    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            ingest.cdc_live_as_of_sql(seq), q, top_k=win, mode="any"
        )
        + ")"
    )
    semantic = knn.exact_knn_sql(
        _vector_as_of_sql(seq), _QVEC_SQL, dim=64, k=win
    )
    live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_rel_as_of = live_rel.replace(anchor, f"WHERE seq <= {seq}{anchor}")
    lst = ", ".join(f"'{e}'" for e in detect_entity_values_py(q))
    graph = f"""
SELECT DISTINCT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS id,
       1.0::DOUBLE AS score
FROM ({live_rel_as_of})
WHERE (source_value IN ({lst}) OR target_value IN ({lst}))
  AND paragraph_id IS NOT NULL
"""
    return fusion.rrf_sql(
        {"keyword": keyword, "semantic": semantic, "graph": graph}, top_k=top_k
    )


def _find_hybrid_as_of_oracle() -> str:
    return f"""
WITH fused AS ({_as_of_fused_sql(10)})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register("find_hybrid_as_of", _find_hybrid_as_of_oracle())
def find_hybrid_as_of(spark, sf_dir):
    """The snapshot-consistent HYBRID flagship: keyword + semantic +
    relations retrieval, every leg resolved AS OF the same log
    sequence (1.5M — revision waves applied, delete waves not),
    fused with RRF k=60 through the serving API with ONE snapshot
    parameter end-to-end (`FindRequest.as_of`). This is the
    reproducible-RAG capstone the reference cannot express — its
    indexer applies ops destructively past the seq guard
    (nidx/src/indexer.rs:121-253; find pipeline
    nucliadb/src/nucliadb/search/search/find.py:65) — and a
    training-data pipeline must: 'replay this exact retrieval as it
    stood at snapshot S' months later returns these exact ids.
    Each leg pays ONE seq-pruned log scan + the same max_by shuffle
    as its live CDC read (partition pruning over seq-ranged log
    segments at 100 TB); the per-snapshot text index is
    session-cached, so repeated requests at a snapshot serve from
    built sidecars like the live path."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        query_vec_id=5,
        as_of=_AS_OF_SEQ,
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


def _find_hybrid_fielded_as_of_oracle() -> str:
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import fusion

    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    link_asof = ingest.cdc_fielded_live_sql(
        tpch.SQL_FIELDS_MULTI, field_key="/u/link", as_of=_AS_OF_SEQ
    )
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            f"SELECT rid, text FROM ({link_asof})", q, top_k=win, mode="any"
        )
        + ")"
    )
    scope = f"rid IN (SELECT rid FROM ({link_asof}))"
    semantic = knn.exact_knn_sql(
        _vector_as_of_sql(_AS_OF_SEQ), _QVEC_SQL, dim=64, k=win, where=scope
    )
    live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_rel_as_of = live_rel.replace(anchor, f"WHERE seq <= {_AS_OF_SEQ}{anchor}")
    lst = ", ".join(f"'{e}'" for e in detect_entity_values_py(q))
    graph = f"""
SELECT DISTINCT id, 1.0::DOUBLE AS score FROM (
  SELECT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS id
  FROM ({live_rel_as_of})
  WHERE (source_value IN ({lst}) OR target_value IN ({lst}))
    AND paragraph_id IS NOT NULL
) WHERE id IN (SELECT rid FROM ({link_asof}))
"""
    fused = fusion.rrf_sql(
        {"keyword": keyword, "semantic": semantic, "graph": graph}, top_k=10
    )
    return f"""
WITH fused AS ({fused})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register("find_hybrid_fielded_as_of", _find_hybrid_fielded_as_of_oracle())
def find_hybrid_fielded_as_of(spark, sf_dir):
    """The SCOPED flagship at a snapshot — r9's one self-documented
    composition limit, lifted: `fields=["u/link"]` + `as_of=1.5M`
    through the serving API. The scope's field-key set resolves from
    the FIELDED op log cut at the same seq (field-grain MVCC: a link
    field deleted after the snapshot is still in scope, the same
    latest-op-wins (rid, field_id) shuffle the live fielded CDC read
    pays — ingest.cdc_field_log / FIELDED.resolve), the keyword leg
    ranks against the scoped family's OWN as-of corpus/stats
    (session-cached per (snapshot, family) like the live sidecars),
    and the vector + relation legs cut their op logs at the same seq
    before the scope semijoin. The reference can express neither
    half together: its indexer is destructive past the seq guard
    (nidx/src/indexer.rs:121-253) and scoping is serve-time-only
    (nidx/nidx_text/src/reader.rs:148-180). At 100 TB each leg is
    one seq-pruned, family-pruned scan + its live read's shuffle."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        query_vec_id=5,
        fields=["u/link"],
        as_of=_AS_OF_SEQ,
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


_ASOF_INC_BASE = 500_000  # S1: base inserts only
_ASOF_INC_HEAD = 3_000_000  # S2: every wave applied


def _search_as_of_incremental_oracle() -> str:
    # incremental derivation == from-scratch build, so the oracle is
    # the plain BM25 over the FULLY-resolved S2 corpus — every driver
    # hash check re-proves the index-advance equality
    return (
        "SELECT rid, score FROM ("
        + bm25.bm25_sql(
            ingest.cdc_live_as_of_sql(_ASOF_INC_HEAD),
            "refreshed revision stream",
            top_k=20,
            mode="any",
        )
        + ")"
    )


@register("search_as_of_incremental", _search_as_of_incremental_oracle())
def search_as_of_incremental(spark, sf_dir):
    """Attack on the LAST honest-linear serving cost: the cold
    per-snapshot index build (SCALE.md: 345 s from scratch at a 100×
    corpus). Snapshot S2's text index derives FROM snapshot S1's
    index plus only the ops in (S1, S2] (ingest.advance_text_index):
    untouched rids keep their S1 postings verbatim via an rid-keyed
    anti-join, touched rids re-tokenize from their final delta
    version — tokenization, the expensive part, runs over the delta
    only. Here S1 holds the base inserts and the delta carries BOTH
    the revision (rid%7) and delete (rid%11) waves, so the advance
    exercises every op class; the search at S2 then equals a search
    over the from-scratch S2 corpus (the oracle IS that from-scratch
    BM25 — each driver hash check re-proves the index-advance
    algebra, and test_advance_text_index_equals_from_scratch pins
    the postings/stats frames exactly). The reference advances live
    state this way (new segment + deletion list,
    nidx/src/indexer.rs); applying it to SNAPSHOT derivation means
    consecutive snapshots share everything but the delta."""
    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_df

    fields = tpch.fields(spark, sf_dir)
    log = ingest.cdc_log(fields)
    base_post = cached_df(
        sf_dir,
        f"asof{_ASOF_INC_BASE}_text_post",
        lambda: bm25.postings(ingest.cdc_live_as_of(log, _ASOF_INC_BASE)),
    )
    base_stats = cached_df(
        sf_dir,
        f"asof{_ASOF_INC_BASE}_text_stats",
        lambda: bm25.doc_stats_from_postings(base_post),
    )
    post = cached_df(
        sf_dir,
        f"asof{_ASOF_INC_HEAD}_from{_ASOF_INC_BASE}_post",
        lambda: ingest.advance_text_index(
            base_post,
            base_stats,
            log.filter(
                (F.col("seq") > _ASOF_INC_BASE) & (F.col("seq") <= _ASOF_INC_HEAD)
            ),
        )[0],
    )
    # dl = Σ tf per rid, so stats from the ADVANCED postings equal the
    # advance's own kept∪added stats — one rid-keyed groupBy over the
    # cached index, no tokenization
    stats = cached_df(
        sf_dir,
        f"asof{_ASOF_INC_HEAD}_from{_ASOF_INC_BASE}_stats",
        lambda: bm25.doc_stats_from_postings(post),
    )
    corpus = cached_df(
        sf_dir,
        f"asof{_ASOF_INC_HEAD}_from{_ASOF_INC_BASE}_corpus",
        lambda: bm25.corpus_stats(stats),
    )
    return bm25.bm25_search(
        None,
        "refreshed revision stream",
        top_k=20,
        mode="any",
        post=post,
        stats=stats,
        corpus=corpus,
    )


@register(
    "knn_as_of_incremental",
    # incremental derivation == from-scratch resolution, so the
    # oracle is exact KNN over the FULLY-resolved S2 vector set —
    # every driver hash check re-proves the live-state-advance
    # algebra for the vector family
    knn.exact_knn_sql(_vector_as_of_sql(_ASOF_INC_HEAD), _QVEC_SQL, dim=64, k=10),
)
def knn_as_of_incremental(spark, sf_dir):
    """The live-state advance generalized past text: snapshot S2's
    VECTOR set derives FROM snapshot S1's durable state artifact plus
    only the ops in (S1, S2] (serving.state_as_of chains through
    ingest.advance_live_state — untouched rids keep their S1 rows via
    a key anti-join, touched rids resolve latest-op-wins over the
    delta alone — and writes S2 as its own artifact).
    search_as_of_incremental proved the shape for the text index,
    where re-tokenization dominates; here the win is the log itself —
    a from-scratch S2 read scans and shuffles EVERY version ever
    written, the advance scans the S1 artifact plus a seq-pruned delta
    (partition pruning on the seq-ranged op log at 100 TB). Every
    as-of leg of the find API chains this way (api.asof_live_state is
    a session-cache wrapper over the durable chain); this query walks
    the vector path end-to-end: S1 = base inserts only, the delta
    carries both the re-embed (rid%6) and delete (rid%9) waves, and
    KNN at S2 over the advanced set must equal KNN over the
    from-scratch S2 resolution (the oracle). The plan reads S2's
    artifact back, so it shows the advance only in the artifact's
    provenance, not in its own shape. Same advance contract as the
    reference's indexer — new segment + deletion list over prior
    segments, nidx/src/indexer.rs:121-253 — applied to snapshot
    derivation."""
    from nucliadb_spark import api
    from pyspark.sql import functions as F

    def log_builder():
        return ingest.cdc_vector_log(tpch.vectors(spark, sf_dir))

    # warm S1 (the prior snapshot's artifact — in a touring session
    # this is already resident); S2 then chains from it
    api.asof_live_state(
        spark, sf_dir, "vectors", _ASOF_INC_BASE,
        log_builder, ingest.VECTORS.resolve, ingest.VECTORS.keys,
    )
    live = api.asof_live_state(
        spark, sf_dir, "vectors", _ASOF_INC_HEAD,
        log_builder, ingest.VECTORS.resolve, ingest.VECTORS.keys,
    )
    qvec = (
        tpch.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 5)
        .select(F.col("embedding").alias("qvec"))
    )
    return knn.exact_knn(live, qvec, k=10)


_ASOF_ENT_SOURCES = ("src3", "src11")


def _find_as_of_entities_oracle() -> str:
    from nucliadb_spark.operators import fusion

    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            ingest.cdc_live_as_of_sql(_AS_OF_SEQ), q, top_k=win, mode="any"
        )
        + ")"
    )
    semantic = knn.exact_knn_sql(
        _vector_as_of_sql(_AS_OF_SEQ), _QVEC_SQL, dim=64, k=win
    )
    lst = ", ".join(f"'{s}'" for s in _ASOF_ENT_SOURCES)
    # the source attribute from the seq-cut METADATA log, matching
    # the api's r13 resolution — not today's documents.source
    meta_asof = ingest.cdc_meta_live_sql(tpch.SQL_FIELDS, as_of=_AS_OF_SEQ)
    graph = f"""
SELECT id, 1.0::DOUBLE AS score FROM (
  SELECT l.rid AS id
  FROM ({ingest.cdc_live_as_of_sql(_AS_OF_SEQ)}) l
  JOIN ({meta_asof}) m USING (rid)
  WHERE m.source IN ({lst})
  ORDER BY id
  LIMIT {win}
)
"""
    fused = fusion.rrf_sql(
        {"keyword": keyword, "semantic": semantic, "graph": graph}, top_k=10
    )
    return f"""
WITH fused AS ({fused})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register("find_hybrid_as_of_entities", _find_as_of_entities_oracle())
def find_hybrid_as_of_entities(spark, sf_dir):
    """as_of × entity_sources (r11 lift, made honest in r13):
    `entity_sources` selects the graph leg's resources by their
    SOURCE attribute, and at a snapshot the leg resolves corpus
    MEMBERSHIP from the content op log (docs deleted after the seq
    still match, docs indexed after it do not) while the source
    attribute — PATCHable origin metadata (writer.py:155-169) —
    resolves from the seq-cut METADATA op log, not today's values
    (the oracle reads the same log resolution). At 100 TB the leg is
    two seq-pruned log scans + one rid semijoin; keyword and
    semantic legs are the standard as-of reads at the same seq."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        query_vec_id=5,
        entity_sources=list(_ASOF_ENT_SOURCES),
        as_of=_AS_OF_SEQ,
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


def _suggest_entities_as_of_oracle() -> str:
    live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_as_of = live_rel.replace(anchor, f"WHERE seq <= {_AS_OF_SEQ}{anchor}")
    return suggest.suggest_entities_sql(live_as_of, "customer:1")


@register("suggest_entities_as_of", _suggest_entities_as_of_oracle())
def suggest_entities_as_of(spark, sf_dir):
    """/suggest's ENTITY section at a snapshot (G8 × as_of): the
    prefix scan runs over the distinct graph nodes of the relation
    set AS OF the seq — provenance revisions applied, edges the later
    delete wave retracts still contributing their nodes. Serves from
    the SAME chained per-snapshot relation state the find API's
    entity leg reads (api.asof_live_state family 'relations'), so an
    autocomplete session at a snapshot shares the sidecar with its
    retrieval queries. With suggest_as_of (the paragraph section,
    r11) this completes snapshot symmetry for both suggest sections."""
    from nucliadb_spark import api

    rel = api.asof_live_state(
        spark,
        sf_dir,
        "relations",
        _AS_OF_SEQ,
        lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
        ingest.RELATIONS.resolve,
        ingest.RELATIONS.keys,
    )
    return suggest.suggest_entities(rel, "customer:1")


def _find_as_of_rephrased_oracle() -> str:
    from nucliadb_spark.functions import models
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import fusion
    from nucliadb_spark.operators.filters import _sql_quote

    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            ingest.cdc_live_as_of_sql(_AS_OF_SEQ), q, top_k=win, mode="any"
        )
        + ")"
    )
    reph = models.stub_rephrase_py(q)
    semantic = knn.exact_knn_sql(
        f"SELECT rid, {models.stub_embedding_sql('text')} AS embedding "
        f"FROM ({ingest.cdc_live_as_of_sql(_AS_OF_SEQ)})",
        f"SELECT {models.stub_embedding_sql(_sql_quote(reph))} AS qvec",
        models.STUB_DIM,
        k=win,
        similarity="cosine",
        vec_col="embedding",
    )
    live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_rel_as_of = live_rel.replace(anchor, f"WHERE seq <= {_AS_OF_SEQ}{anchor}")
    lst = ", ".join(f"'{e}'" for e in detect_entity_values_py(q))
    graph = f"""
SELECT DISTINCT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS id,
       1.0::DOUBLE AS score
FROM ({live_rel_as_of})
WHERE (source_value IN ({lst}) OR target_value IN ({lst}))
  AND paragraph_id IS NOT NULL
"""
    fused = fusion.rrf_sql(
        {"keyword": keyword, "semantic": semantic, "graph": graph}, top_k=10
    )
    return f"""
WITH fused AS ({fused})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register("find_hybrid_as_of_rephrased", _find_as_of_rephrased_oracle())
def find_hybrid_as_of_rephrased(spark, sf_dir):
    """EVERY as_of composition rejection is now lifted: rephrase was
    the last, and it composes honestly because both halves are pure
    functions — the rewrite of the query text (the Predict-rephrase
    stub), and each document's embedding of its TEXT VERSION (a
    pinned model, the same re-embed contract the incremental-refresh
    capstone exercises). So at a snapshot the keyword leg ranks the
    ORIGINAL query against the as-of text index, the semantic leg
    embeds the REWRITE and scores it against the as-of corpus's
    re-derived embedding sidecar (revised docs embed their revised
    text; deleted-later docs still present), and the relation leg
    reads the seq-cut edge log — one seq everywhere, nothing mixed.
    Session-cached per snapshot (`asof{seq}_stub_embeddings`) like
    every other as-of sidecar; at 100 TB the embed pass is one
    Arrow-batched UDF over the seq-pruned corpus, paid once per
    snapshot."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        rephrase=True,
        as_of=_AS_OF_SEQ,
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


def _suggest_as_of_oracle() -> str:
    return suggest.suggest_paragraphs_sql(
        ingest.cdc_live_as_of_sql(_AS_OF_SEQ), "refre"
    )


@register("suggest_as_of", _suggest_as_of_oracle())
def suggest_as_of(spark, sf_dir):
    """/suggest AT A SNAPSHOT — the last serving plane to gain as-of
    symmetry (text/vector/relation r8, catalog r10, find-compositions
    r9-r11, suggest: here): prefix+fuzzy autocomplete over the corpus
    exactly as it stood at seq 1.5M. The 'refre' prefix matches the
    revision wave's 'refreshed' terms, and at this seq the rid%11
    delete wave is NOT yet applied — docs deleted later still
    suggest, which is the observable snapshot semantics (and what a
    reproducible annotation UI replaying a labeling session needs).
    Serves from the SAME session-cached per-snapshot sidecars the
    as-of find keyword leg builds (api.asof_text_index — including
    its chain-from-the-nearest-cached-snapshot advance, so a new
    snapshot's suggest pays delta-proportional cold too; the
    vocabulary is the one sidecar added here) — repeated keystrokes
    at a snapshot never re-tokenize, the as-you-type contract
    (nidx/src/searcher/shard_suggest.rs:95-180 reads built
    segments)."""
    from nucliadb_spark import api
    from nucliadb_spark.cache import cached_df

    post, stats, corpus = api.asof_text_index(spark, sf_dir, _AS_OF_SEQ)
    vocab = cached_df(
        sf_dir,
        f"asof{_AS_OF_SEQ}_text_vocab",
        lambda: bm25.vocabulary(post),
    )
    return suggest.suggest_paragraphs(
        None, "refre", post=post, stats=stats, vocab=vocab, corpus=corpus
    )


def _suggest_asof_sec():
    from nucliadb_spark.operators.filters import SecurityFilter

    return SecurityFilter(groups=["group-1", "group-4"])


def _suggest_as_of_filtered_oracle() -> str:
    meta_asof = ingest.cdc_meta_live_sql(tpch.SQL_FIELDS, as_of=_AS_OF_SEQ)
    allowed = (
        f"SELECT rid FROM ({meta_asof}) "
        f"WHERE {_suggest_asof_sec().to_sql()}"
    )
    return suggest.suggest_paragraphs_sql(
        ingest.cdc_live_as_of_sql(_AS_OF_SEQ), "refre", allowed_sql=allowed
    )


@register("suggest_as_of_filtered", _suggest_as_of_filtered_oracle())
def suggest_as_of_filtered(spark, sf_dir):
    """/suggest at a snapshot × the metadata filter plane:
    autocomplete over the corpus AS OF the seq, restricted to
    resources the requesting user's security groups could see AT THE
    SNAPSHOT — security is PATCHable metadata (writer.py:169), so the
    allowed set resolves from the seq-cut metadata op log (the r13
    plane classification the find API applies; the fixture's
    lockdown wave is below this seq, so locked resources don't
    suggest). The prefix search serves from the session-cached
    per-snapshot sidecars (shared with suggest_as_of and the as-of
    find keyword leg); the allowed set semijoins candidates while
    the snapshot's df/N/avgdl stay global. The reference's /suggest
    takes the same filter surface (search/api/v1/suggest.py:60-68)
    but can only answer it at the LIVE state."""
    from nucliadb_spark import api
    from nucliadb_spark.cache import cached_df

    post, stats, corpus = api.asof_text_index(spark, sf_dir, _AS_OF_SEQ)
    vocab = cached_df(
        sf_dir,
        f"asof{_AS_OF_SEQ}_text_vocab",
        lambda: bm25.vocabulary(post),
    )
    meta_state = api.asof_live_state(
        spark,
        sf_dir,
        "meta",
        _AS_OF_SEQ,
        lambda: ingest.cdc_meta_log(tpch.fields(spark, sf_dir)),
        ingest.META.resolve,
        ingest.META.keys,
    )
    allowed = meta_state.filter(_suggest_asof_sec().to_column()).select("rid")
    return suggest.suggest_paragraphs(
        None,
        "refre",
        post=post,
        stats=stats,
        vocab=vocab,
        corpus=corpus,
        allowed=allowed,
    )


_DRIFT_SEQ_BEFORE = _AS_OF_SEQ  # 1.5M: revisions applied, deletes not
_DRIFT_SEQ_AFTER = 3_000_000  # all waves applied (the refresh head)


def _rank_drift_sql(seq: int, rank_col: str, score_col: str) -> str:
    fused = _as_of_fused_sql(50, seq=seq)
    return f"""
SELECT id, score AS {score_col},
       row_number() OVER (ORDER BY score DESC, id ASC)::BIGINT AS {rank_col}
FROM ({fused})
"""


def _find_snapshot_rank_drift_oracle() -> str:
    before = _rank_drift_sql(_DRIFT_SEQ_BEFORE, "rank_before", "score_before")
    after = _rank_drift_sql(_DRIFT_SEQ_AFTER, "rank_after", "score_after")
    return f"""
WITH b AS ({before}),
a AS ({after})
SELECT COALESCE(b.id, a.id) AS id,
       CASE WHEN b.id IS NULL THEN 'added'
            WHEN a.id IS NULL THEN 'dropped'
            WHEN b.rank_before <> a.rank_after THEN 'moved'
            ELSE 'stable' END AS status,
       COALESCE(b.rank_before, -1)::BIGINT AS rank_before,
       COALESCE(a.rank_after, -1)::BIGINT AS rank_after,
       COALESCE(b.score_before, -1.0)::DOUBLE AS score_before,
       COALESCE(a.score_after, -1.0)::DOUBLE AS score_after
FROM b FULL OUTER JOIN a ON b.id = a.id
ORDER BY id
"""


@register("find_snapshot_rank_drift", _find_snapshot_rank_drift_oracle())
def find_snapshot_rank_drift(spark, sf_dir):
    """The RETRIEVAL-drift audit between two snapshots — the read a
    training-data owner runs after every incremental refresh: 'which
    retrievals changed between snapshot S1 (pre-delete-wave) and S2
    (all waves applied)?'. Both fused rankings resolve through the
    SAME as-of pipeline (so page-1 ids at either seq are reproducible
    months later), then a full-window diff classifies every id:
    added / dropped / moved (rank changed) / stable, with both ranks
    and scores (-1 sentinel where absent — NULL-able longs would
    float64-ize in the driver's pandas hash). The deterministic
    classes the wave schedule implies: rid%11 docs drop (deleted at
    2M), most survivors move (RRF rank shifts as neighbours vanish).
    Cost: two snapshot rankings — each amortized by the same
    session-cached per-snapshot sidecars every other as-of query at
    that seq reuses — and one ~window-sized full-outer diff. The
    reference cannot ask this question at all: its index has no
    snapshot identity (nidx/src/indexer.rs:121-253)."""
    from pyspark.sql import Window, functions as F

    from nucliadb_spark import api

    def ranked(seq, rank_col, score_col):
        req = api.FindRequest(
            query=_ASOF_HYBRID_Q,
            features=["keyword", "semantic", "graph"],
            top_k=50,
            window=50,
            query_vec_id=5,
            as_of=seq,
        )
        w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
        return (
            api.find_request(spark, sf_dir, req)
            .select("id", "score")
            .withColumn(rank_col, F.row_number().over(w).cast("long"))
            .withColumnRenamed("score", score_col)
        )

    b = ranked(_DRIFT_SEQ_BEFORE, "rank_before", "score_before")
    a = ranked(_DRIFT_SEQ_AFTER, "rank_after", "score_after")
    return (
        b.join(a, "id", "full")
        .select(
            "id",
            F.when(F.col("rank_before").isNull(), "added")
            .when(F.col("rank_after").isNull(), "dropped")
            .when(F.col("rank_before") != F.col("rank_after"), "moved")
            .otherwise("stable")
            .alias("status"),
            F.coalesce("rank_before", F.lit(-1)).cast("long").alias("rank_before"),
            F.coalesce("rank_after", F.lit(-1)).cast("long").alias("rank_after"),
            F.coalesce("score_before", F.lit(-1.0))
            .cast("double")
            .alias("score_before"),
            F.coalesce("score_after", F.lit(-1.0))
            .cast("double")
            .alias("score_after"),
        )
        .orderBy("id")
    )


def _asof_label_filter():
    """The snapshot-filter tree the flagship composition exercises:
    (lang de OR fr) AND NOT source src7 — And/Or/Not over Facet
    leaves, the full label-expressible grammar."""
    from nucliadb_spark.operators.filters import And, Facet, Not, Or

    return And(
        [
            Or([Facet("/s/p/de"), Facet("/s/p/fr")]),
            Not(Facet("/u/s/src7")),
        ]
    )


def _asof_allowed_sql() -> str:
    """Allowed-rid SELECT: label state resolved AS OF the seq (the
    same latest-op-wins cut cdc_labels_live_sql gives the catalog
    plane), filtered by the tree's SQL compilation."""
    labels_asof = ingest.cdc_labels_live_sql(
        f"SELECT rid, labels FROM ({tpch.SQL_FIELDS})", as_of=_AS_OF_SEQ
    )
    return (
        f"SELECT rid FROM ({labels_asof}) WHERE {_asof_label_filter().to_sql()}"
    )



def _find_hybrid_fielded_as_of_filtered_oracle() -> str:
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import fusion

    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    allowed = _asof_allowed_sql()
    link_asof = ingest.cdc_fielded_live_sql(
        tpch.SQL_FIELDS_MULTI, field_key="/u/link", as_of=_AS_OF_SEQ
    )
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            f"SELECT rid, text FROM ({link_asof})",
            q,
            top_k=win,
            mode="any",
            served_in_sql=allowed,
        )
        + ")"
    )
    scope = f"rid IN (SELECT rid FROM ({link_asof})) AND rid IN ({allowed})"
    semantic = knn.exact_knn_sql(
        _vector_as_of_sql(_AS_OF_SEQ), _QVEC_SQL, dim=64, k=win, where=scope
    )
    live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_rel_as_of = live_rel.replace(anchor, f"WHERE seq <= {_AS_OF_SEQ}{anchor}")
    lst = ", ".join(f"'{e}'" for e in detect_entity_values_py(q))
    graph = f"""
SELECT DISTINCT id, 1.0::DOUBLE AS score FROM (
  SELECT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS id
  FROM ({live_rel_as_of})
  WHERE (source_value IN ({lst}) OR target_value IN ({lst}))
    AND paragraph_id IS NOT NULL
) WHERE id IN (SELECT rid FROM ({link_asof})) AND id IN ({allowed})
"""
    fused = fusion.rrf_sql(
        {"keyword": keyword, "semantic": semantic, "graph": graph}, top_k=10
    )
    return f"""
WITH fused AS ({fused})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register(
    "find_hybrid_fielded_as_of_filtered",
    _find_hybrid_fielded_as_of_filtered_oracle(),
)
def find_hybrid_fielded_as_of_filtered(spark, sf_dir):
    """The FULL composition lattice in one request — fields × filters
    × as_of through the serving API, the triple neither r9 (fields ×
    as_of) nor the base r11 lift (filters × as_of) covered: the scope
    resolves from the seq-cut FIELDED op log (field-grain MVCC), the
    filter tree from the seq-cut LABEL op log (resource-grain, the
    reference's own facet grain — catalog/pg.py:72-107), and every
    retriever corpus from its seq-cut content log — ONE seq
    everywhere, so 'replay the filtered, scoped retrieval as it stood
    at snapshot S' is a single FindRequest. Each plane pays exactly
    its live read's shuffle over a seq-pruned scan; the allowed set
    and scope semijoin candidates while the scoped family's as-of
    stats stay fixed (the reference's serve-time prefilter,
    nidx/nidx_text/src/reader.rs:148-180, which the reference itself
    can only answer at the LIVE state)."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        query_vec_id=5,
        fields=["u/link"],
        as_of=_AS_OF_SEQ,
        filters=_asof_label_filter(),
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


def _find_as_of_after_oracle() -> str:
    return f"""
WITH ranking AS ({_as_of_fused_sql(50)}),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rn
  FROM ranking
),
keyset AS (SELECT score AS c_score, id AS c_id FROM ranked WHERE rn = 10)
SELECT r.id, r.score,
       array_to_string(r.matched_sources, ',') AS matched_sources
FROM ranking r, keyset c
WHERE r.score < c.c_score OR (r.score = c.c_score AND r.id > c.c_id)
ORDER BY r.score DESC, r.id ASC
LIMIT 10
"""


@register("find_hybrid_as_of_after", _find_as_of_after_oracle())
def find_hybrid_as_of_after(spark, sf_dir):
    """REPRODUCIBLE PAGING — the contractual training-data read:
    'page through this retrieval exactly as it stood at snapshot S'.
    `as_of` freezes every leg's corpus at one log seq;
    `search_after` keyset-pages the ranking fused FROM that frozen
    corpus, so page 2 months later returns these exact rows. The
    registered plan replays the keyset algebra (cursor derivation +
    page predicate) over the API's fused as-of ranking; the combined
    search_after+as_of FindRequest path is covered by
    test_as_of_after_pages_tile_the_snapshot_window, which walks the
    full window via the API asserting pages tile it with no overlap
    or gap. Page cost is depth- AND corpus-independent: the cursor
    is a broadcast 1-row join over the ≤window fused frame, the
    seq-pruned retriever legs identical to page 1's (session-cached
    per snapshot, so page 2 reuses page 1's built as-of sidecars).
    The fused ranking frame itself is session-cached (cached_df), so
    the cursor derivation and the page filter share ONE evaluation
    of the as-of pipeline instead of replaying it cold twice."""
    from pyspark.sql import Window, functions as F

    from nucliadb_spark import api
    from nucliadb_spark.cache import cached_df

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=50,
        window=50,
        query_vec_id=5,
        as_of=_AS_OF_SEQ,
    )
    ranking = cached_df(
        sf_dir,
        f"asof{_AS_OF_SEQ}_after_ranking",
        lambda: api.find_request(spark, sf_dir, req),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    cursor = (
        ranking.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 10)
        .select(F.col("score").alias("c_score"), F.col("id").alias("c_id"))
    )
    return (
        ranking.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("score") < F.col("c_score"))
            | ((F.col("score") == F.col("c_score")) & (F.col("id") > F.col("c_id")))
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(10)
        .select(
            "id",
            "score",
            F.array_join("matched_sources", ",").alias("matched_sources"),
        )
    )


def _find_hybrid_as_of_filtered_oracle() -> str:
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import fusion

    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    allowed = _asof_allowed_sql()
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            ingest.cdc_live_as_of_sql(_AS_OF_SEQ),
            q,
            top_k=win,
            mode="any",
            served_in_sql=allowed,
        )
        + ")"
    )
    semantic = knn.exact_knn_sql(
        _vector_as_of_sql(_AS_OF_SEQ),
        _QVEC_SQL,
        dim=64,
        k=win,
        where=f"rid IN ({allowed})",
    )
    live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    live_rel_as_of = live_rel.replace(anchor, f"WHERE seq <= {_AS_OF_SEQ}{anchor}")
    lst = ", ".join(f"'{e}'" for e in detect_entity_values_py(q))
    graph = f"""
SELECT DISTINCT id, 1.0::DOUBLE AS score FROM (
  SELECT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS id
  FROM ({live_rel_as_of})
  WHERE (source_value IN ({lst}) OR target_value IN ({lst}))
    AND paragraph_id IS NOT NULL
) WHERE id IN ({allowed})
"""
    fused = fusion.rrf_sql(
        {"keyword": keyword, "semantic": semantic, "graph": graph}, top_k=10
    )
    return f"""
WITH fused AS ({fused})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register("find_hybrid_as_of_filtered", _find_hybrid_as_of_filtered_oracle())
def find_hybrid_as_of_filtered(spark, sf_dir):
    """The FILTERED flagship at a snapshot — r10's remaining
    composition half, lifted: `filters` (an And/Or/Not tree over
    Facet leaves) + `as_of` through the serving API. The label op
    log with before-images (ingest.cdc_label_log — the plane the r10
    catalog CDC work introduced) gives label state a snapshot
    identity, so the filter resolves from the seq-cut log (the same
    latest-op-wins rid-keyed max_by every other leg pays) and the
    allowed-rid set semijoins each leg's candidates while the
    snapshot's corpus stats stay GLOBAL — the reference's serve-time
    prefilter semantics (nidx/nidx_text/src/reader.rs:148-180) at a
    snapshot the reference cannot express (indexing is destructive
    past the seq guard, nidx/src/indexer.rs:121-253). At seq 1.5M
    the delete wave (rid%11) is NOT yet applied, so resources
    deleted later still satisfy the filter and can appear — the
    observable difference vs filtering live labels (pinned by
    test_as_of_filter_resolves_label_state_at_the_seq). Non-label
    predicates (dates, security, JSON KV) keep raising ValueError:
    they reference batch metadata with no op log, and answering
    against mixed snapshots would be silently wrong."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        query_vec_id=5,
        as_of=_AS_OF_SEQ,
        filters=_asof_label_filter(),
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


# --- as_of × filter planes (r12 static, r13 meta/text) -------------------
# The r11 lattice legalized as_of × label filters (versioned state
# with an op log); r12 added predicates the fixture never revises
# (dates, JSON KV) joined by rid; r13 completes the lattice by the
# builder's own classifier standard: security/extra/origin are
# PATCHable in the reference (nucliadb_models/writer.py:155-169), so
# they resolve from a METADATA op log (ingest.cdc_meta_log — the
# lockdown wave revises security at seq rid+1e6) rather than joining
# today's values, and text keywords resolve from the seq-cut CONTENT
# state the scoring legs already search. api._filter_planes
# classifies each leaf; only op-log-less versioned state still
# raises.

def _asof_filtered_find_oracle(
    allowed: str, with_graph: bool = False, seq: int | None = None
) -> str:
    """Shared oracle scaffold for the filtered-snapshot find family:
    keyword + semantic (+ optionally the relations leg), every corpus
    cut at `seq` (default _AS_OF_SEQ), candidates restricted to the
    `allowed` rid SELECT, fused with RRF to 10. Each query supplies
    only its allowed-set SQL — the static/label/meta/text/mixed
    variants differ in nothing else."""
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import fusion

    if seq is None:
        seq = _AS_OF_SEQ
    win = 50  # fusion_window(50, 10)
    q = _ASOF_HYBRID_Q
    keyword = (
        "SELECT rid AS id, score FROM ("
        + bm25.bm25_sql(
            ingest.cdc_live_as_of_sql(seq),
            q,
            top_k=win,
            mode="any",
            served_in_sql=allowed,
        )
        + ")"
    )
    semantic = knn.exact_knn_sql(
        _vector_as_of_sql(seq),
        _QVEC_SQL,
        dim=64,
        k=win,
        where=f"rid IN ({allowed})",
    )
    srcs = {"keyword": keyword, "semantic": semantic}
    if with_graph:
        live_rel = ingest.cdc_relations_live_sql(tpch.SQL_RELATIONS)
        anchor = ") WHERE rn = 1 AND op = 'upsert'"
        assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
        live_rel_as_of = live_rel.replace(
            anchor, f"WHERE seq <= {seq}{anchor}"
        )
        lst = ", ".join(f"'{e}'" for e in detect_entity_values_py(q))
        srcs["graph"] = f"""
SELECT DISTINCT id, 1.0::DOUBLE AS score FROM (
  SELECT CAST(string_split(paragraph_id, '/')[1] AS BIGINT) AS id
  FROM ({live_rel_as_of})
  WHERE (source_value IN ({lst}) OR target_value IN ({lst}))
    AND paragraph_id IS NOT NULL
) WHERE id IN ({allowed})
"""
    fused = fusion.rrf_sql(srcs, top_k=10)
    return f"""
WITH fused AS ({fused})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


def _asof_filtered_find(
    spark, sf_dir, features, filters=None, security_groups=None, seq=None
):
    """Shared Spark body: the filtered-snapshot FindRequest at `seq`
    (default _AS_OF_SEQ) with the standard projection."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api

    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=list(features),
        top_k=10,
        window=50,
        query_vec_id=5,
        as_of=_AS_OF_SEQ if seq is None else seq,
        filters=filters,
        security_groups=security_groups,
    )
    return api.find_request(spark, sf_dir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


def _asof_security_filter():
    from nucliadb_spark.operators.filters import SecurityFilter

    return SecurityFilter(groups=["group-2", "group-5"])


def _find_secured_as_of_oracle() -> str:
    meta_asof = ingest.cdc_meta_live_sql(tpch.SQL_FIELDS, as_of=_AS_OF_SEQ)
    return _asof_filtered_find_oracle(
        f"SELECT rid FROM ({meta_asof}) "
        f"WHERE {_asof_security_filter().to_sql()}"
    )


@register("find_secured_as_of", _find_secured_as_of_oracle())
def find_secured_as_of(spark, sf_dir):
    """SECURITY at a snapshot (F5 × as_of): visible-if-public-or-
    group-overlap restricts every leg's candidates while each corpus
    resolves AS OF the seq. Security is PATCHable resource metadata
    (UpdateResourcePayload.security, nucliadb_models/writer.py:169;
    utils.proto:101-103 Security.access_groups), so the allowed set
    resolves from the seq-cut METADATA op log — the fixture's
    lockdown wave (rid%7 revised to private/'group-locked' at seq
    rid+1e6) is already below this snapshot, so locked resources are
    invisible here even where today's static columns would admit
    them, and a lockdown issued AFTER a pinned snapshot would not
    retroactively hide what that snapshot could see. Deleted-later
    docs that satisfy the as-of security state are STILL retrievable
    — the observable MVCC difference vs filtering the live corpus.
    At 100 TB the allowed set is one rid-keyed max_by over the
    seq-pruned metadata log (session-cached + chained per snapshot,
    api.asof_live_state family 'meta') semijoined into each leg (AQE
    picks broadcast vs shuffle); stats stay global, the reference's
    serve-time prefilter (nidx/nidx_text/src/search_query.rs:66-90
    security_query). Exercises the request surface the reference
    exposes: the DEDICATED security param (RequestSecurity), which
    folds into the filter tree as an AND — param==filters
    equivalence pinned by
    test_security_param_equals_security_filter."""
    return _asof_filtered_find(
        spark,
        sf_dir,
        ("keyword", "semantic"),
        security_groups=list(_asof_security_filter().groups),
    )


# a PRE-lockdown snapshot: base metadata only (every security
# revision sits at seq rid+1e6 > this cut), content likewise
_ASOF_PRELOCK_SEQ = 999_999


def _find_secured_prelock_oracle() -> str:
    meta_pre = ingest.cdc_meta_live_sql(
        tpch.SQL_FIELDS, as_of=_ASOF_PRELOCK_SEQ
    )
    return _asof_filtered_find_oracle(
        f"SELECT rid FROM ({meta_pre}) "
        f"WHERE {_asof_security_filter().to_sql()}",
        seq=_ASOF_PRELOCK_SEQ,
    )


@register("find_secured_as_of_prelock", _find_secured_prelock_oracle())
def find_secured_as_of_prelock(spark, sf_dir):
    """The OTHER MVCC direction of security-at-a-snapshot, graded:
    the same secured request as find_secured_as_of but cut BEFORE the
    lockdown wave (seq 999,999 — base upserts only). A lockdown
    issued after a pinned snapshot must not retroactively hide what
    that snapshot could see: here every resource answers under its
    creation-time security, so rid%7 docs ARE visible (via public or
    group), while the post-lockdown sibling excludes them — the pair
    pins both directions at the driver level (tests pin them locally,
    tests/test_meta_plane.py). Same serving shape: one rid-keyed
    max_by over the seq-pruned metadata log, session-cached per
    snapshot, chained from the nearest earlier durable state."""
    return _asof_filtered_find(
        spark,
        sf_dir,
        ("keyword", "semantic"),
        security_groups=list(_asof_security_filter().groups),
        seq=_ASOF_PRELOCK_SEQ,
    )


def _asof_date_filter():
    from nucliadb_spark.operators.filters import DateRange

    return DateRange(
        "created", since="2024-03-01 00:00:00", until="2024-09-30 00:00:00"
    )


def _find_as_of_dated_oracle() -> str:
    return _asof_filtered_find_oracle(
        f"SELECT rid FROM ({tpch.SQL_FIELDS}) "
        f"WHERE {_asof_date_filter().to_sql()}",
        with_graph=True,
    )


@register("find_hybrid_as_of_dated", _find_as_of_dated_oracle())
def find_hybrid_as_of_dated(spark, sf_dir):
    """DATE-RANGE retrieval at a snapshot (F3 × as_of): the created
    range (nidx/nidx_text/src/search_query.rs:30-49) restricts all
    three legs while each corpus resolves AS OF the seq. Creation
    timestamps are Basic metadata written once (resources.proto:
    58-95) — static per-resource state with no version history, so
    the allowed set is one pushed-down range scan over the resource
    metadata (PushedFilters on created at the parquet scan) joined
    by rid; nothing mixes snapshots. The same request shape a
    training-data pipeline needs for 'replay the date-scoped
    retrieval as it stood at snapshot S'."""
    return _asof_filtered_find(
        spark,
        sf_dir,
        ("keyword", "semantic", "graph"),
        filters=_asof_date_filter(),
    )


def _asof_mixed_filter():
    """Mixed-plane tree: (label de OR fr — resolves from the seq-cut
    LABEL log) AND (security group-2/5 — resolves from the seq-cut
    METADATA log)."""
    from nucliadb_spark.operators.filters import And, Facet, Or

    return And(
        [
            Or([Facet("/s/p/de"), Facet("/s/p/fr")]),
            _asof_security_filter(),
        ]
    )


def _find_as_of_mixed_oracle() -> str:
    labels_asof = ingest.cdc_labels_live_sql(
        f"SELECT rid, labels FROM ({tpch.SQL_FIELDS})", as_of=_AS_OF_SEQ
    )
    meta_asof = ingest.cdc_meta_live_sql(tpch.SQL_FIELDS, as_of=_AS_OF_SEQ)
    # one frame carrying the as-of labels AND the as-of security
    # attributes, the whole tree evaluated over it — the oracle twin
    # of the api's mixed-plane join
    allowed = f"""
SELECT rid FROM (
  SELECT l.rid AS rid, l.labels AS labels,
         m.security_public AS security_public,
         m.security_groups AS security_groups
  FROM ({labels_asof}) l
  JOIN ({meta_asof}) m USING (rid)
) WHERE {_asof_mixed_filter().to_sql()}
"""
    return _asof_filtered_find_oracle(allowed)


@register("find_hybrid_as_of_mixed", _find_as_of_mixed_oracle())
def find_hybrid_as_of_mixed(spark, sf_dir):
    """MIXED-PLANE filter tree at a snapshot: And/Or across a
    versioned label predicate (resolved from the seq-cut label op
    log, the r11 lift) and a static security predicate (joined by
    rid, the r12 lift) — no tree decomposition: the api joins the
    two planes' state by rid into one frame and the unchanged filter
    compiler evaluates the WHOLE tree over it, so arbitrary
    And/Or/Not nesting across planes composes. At 100 TB this is the
    label sidecar (session-cached per snapshot) joined to a
    column-pruned static-metadata scan — one extra rid-keyed join
    per request over the label-only path, only when the tree
    actually mixes planes."""
    return _asof_filtered_find(
        spark, sf_dir, ("keyword", "semantic"), filters=_asof_mixed_filter()
    )


def _asof_kv_filter():
    """Typed JSON-KV tree over the static `extra` user-metadata
    document (resources.proto:124-126): a nested-path int range AND
    a top-level int equality — the nidx_json leaf surface
    (nidx/nidx_json/src/search.rs:60-200) at a snapshot."""
    from nucliadb_spark.operators.filters import And, JsonPath

    return And(
        [
            JsonPath("extra", "audit.uid", "lte", 50, kind="int"),
            JsonPath("extra", "priority", "gte", 2, kind="int"),
        ]
    )


def _find_as_of_kv_oracle() -> str:
    meta_asof = ingest.cdc_meta_live_sql(tpch.SQL_FIELDS, as_of=_AS_OF_SEQ)
    return _asof_filtered_find_oracle(
        f"SELECT rid FROM ({meta_asof}) "
        f"WHERE {_asof_kv_filter().to_sql()}"
    )


@register("find_hybrid_as_of_kv", _find_as_of_kv_oracle())
def find_hybrid_as_of_kv(spark, sf_dir):
    """JSON-KV predicates at a snapshot (F7 × as_of): typed leaves
    (nested-path int range + top-level equality) over the resource's
    `extra` user-metadata JSON restrict each leg while the corpora
    resolve AS OF the seq. Extra is PATCHable resource metadata
    (UpdateResourcePayload.extra, writer.py:161), so the allowed set
    evaluates the json-path extraction over the seq-cut METADATA op
    log state (this fixture's revision wave touches security only,
    so the extra values equal creation-time — but the plumbing reads
    the log, not today's columns). Completes the filter grammar at a
    snapshot: labels (label log), security/extra/origin (metadata
    log), text keywords (content log) and immutable identity
    predicates (dates, by rid) all compose with as_of, singly or
    mixed in one tree."""
    return _asof_filtered_find(
        spark, sf_dir, ("keyword", "semantic"), filters=_asof_kv_filter()
    )


# a MID-REVISION-WAVE snapshot: base upserts all present, the content
# revision wave applied only for rid <= 30 (seq rid+1e6 <= cut), no
# deletes — so the 'refreshed' keyword exists in SOME documents'
# as-of text and not yet in others', at every sf
_ASOF_MIDWAVE_SEQ = 1_000_030


def _asof_keyword_filter():
    """Text × static tree: Keyword over the VERSIONED text (resolves
    from the seq-cut content log) AND a created-date bound (immutable
    identity, by rid). The date bound excludes rid 28 from the
    keyword matches {0,7,14,21,28}, proving the static leg
    discriminates inside the text plane's matches."""
    from nucliadb_spark.operators.filters import And, DateRange, Keyword

    return And(
        [
            Keyword("refreshed"),
            DateRange("created", until="2024-01-22 00:00:00"),
        ]
    )


def _find_as_of_keyword_oracle() -> str:
    tree = _asof_keyword_filter().to_sql()
    allowed = f"""
SELECT rid FROM (
  SELECT c.rid AS rid, c.text AS text, f.created AS created
  FROM ({ingest.cdc_live_as_of_sql(_ASOF_MIDWAVE_SEQ)}) c
  JOIN (SELECT rid, created FROM ({tpch.SQL_FIELDS})) f USING (rid)
) WHERE {tree}
"""
    return _asof_filtered_find_oracle(allowed, seq=_ASOF_MIDWAVE_SEQ)


@register("find_hybrid_as_of_keyword_filtered", _find_as_of_keyword_oracle())
def find_hybrid_as_of_keyword_filtered(spark, sf_dir):
    """KEYWORD filter at a snapshot (F4 × as_of) — the r12 rejection
    lifted: a Keyword predicate reads versioned TEXT state, and the
    content op log gives every text version exactly the snapshot
    identity labels got in r11 (the same seq-cut corpus the scoring
    legs already search — cdc_live_as_of). api._filter_planes
    classifies the leaf as the 'text' plane and evaluates it against
    the seq-cut content state joined by rid; the And'ed created
    bound rides the immutable identity plane in the same tree. The
    snapshot is MID-revision-wave (seq 1_000_030): a doc whose as-of
    version contains 'refreshed' (revised at or before the cut)
    matches; one revised only after the cut must not, even though
    its LIVE text matches — the observable difference vs evaluating
    keywords on today's corpus. Reference anchor: the keyword
    prefilter is field-level in nidx (nidx/nidx_text/src/
    search_query.rs:156-217); here it additionally composes with the
    snapshot the reference cannot express. At 100 TB the text plane
    is the same session-cached chained as-of content sidecar the
    keyword leg reads — zero extra log resolutions per request."""
    return _asof_filtered_find(
        spark,
        sf_dir,
        ("keyword", "semantic"),
        filters=_asof_keyword_filter(),
        seq=_ASOF_MIDWAVE_SEQ,
    )


def _asof_derived_filter():
    """Derived × derived tree: a modified-date range AND an n_chars
    bound, both resolving from the CONTENT log at the cut
    (ingest.cdc_live_derived). At the mid-wave snapshot the range
    admits docs via BOTH MVCC directions: docs revised at or before
    the cut match on their NEW modified (created+30d), docs revised
    only after it must match on their OLD modified (todays's value
    would fall outside) — evaluating against live state gets both
    sets wrong."""
    from nucliadb_spark.operators.filters import And, DateRange, NumericRange

    return And(
        [
            DateRange(
                "modified",
                since="2024-01-25 00:00:00",
                until="2024-03-01 00:00:00",
            ),
            NumericRange("n_chars", gte=200),
        ]
    )


def _find_as_of_modified_oracle() -> str:
    tree = _asof_derived_filter().to_sql()
    allowed = f"""
SELECT rid FROM (
  {ingest.cdc_derived_live_sql(tpch.SQL_FIELDS, as_of=_ASOF_MIDWAVE_SEQ)}
) WHERE {tree}
"""
    return _asof_filtered_find_oracle(allowed, seq=_ASOF_MIDWAVE_SEQ)


@register("find_hybrid_as_of_modified_range", _find_as_of_modified_oracle())
def find_hybrid_as_of_modified_range(spark, sf_dir):
    """modified/n_chars at a snapshot (r14 — the LAST filter-plane
    rejection lifted): both attributes are versioned state with no op
    log of their own, but both are pure functions of the content log
    the engine already keeps — ``modified`` at seq S = the commit
    timestamp of the rid's last op ≤ S (the nidx index fast field
    used for sort+range, nidx/nidx_text/src/schema.rs:62-64 +
    search_query.rs:30-49, made MVCC-correct), ``n_chars`` = the
    length of the as-of text version. api._filter_planes classifies
    the leaves as the 'derived' plane; resolution is
    ingest.cdc_live_derived over the SAME physical content log the
    keyword corpus and text plane read (one log, three resolves —
    zero extra log materializations). The snapshot is MID-revision-
    wave: a doc revised at or before the cut matches the range on its
    NEW modified, one revised only after the cut matches on its OLD
    modified even though today's value falls outside — the observable
    difference vs filtering today's catalog columns. With this plane
    the filter grammar at a snapshot is COMPLETE: every leaf the
    grammar can express resolves from some log's seq cut."""
    return _asof_filtered_find(
        spark,
        sf_dir,
        ("keyword", "semantic"),
        filters=_asof_derived_filter(),
        seq=_ASOF_MIDWAVE_SEQ,
    )


# --- vacuum-aware as-of serving (r13) -------------------------------------
# oplog_vacuum_report (r12) proved the fold-at-horizon algebra; this
# makes the SERVING side vacuum-aware: an as-of read at seq >= horizon
# routes through (base_state, retained_log) via advance_live_state —
# the discarded history is never needed — and a read below the
# horizon raises a pinned-snapshot error (tests pin both behaviors).

_VACUUM_HORIZON = 999_999  # the 'base' snapshot point: initial upserts


@register(
    "cdc_live_as_of_vacuumed",
    f"SELECT rid, text FROM ({ingest.cdc_live_as_of_sql(_AS_OF_SEQ)}) "
    f"ORDER BY rid",
)
def cdc_live_as_of_vacuumed(spark, sf_dir):
    """Serve-from-vacuumed == full-log as the GRADED contract, on the
    serving path itself: the content op log is vacuumed at the 'base'
    horizon (every op <= 999_999 folded into resolved base state,
    history discarded), then the corpus AS OF _AS_OF_SEQ is served
    from (base, retained) via ingest.asof_from_vacuum — one
    prior-state anti-join + the retained delta's own latest-op-wins,
    never a full-history resolve. The oracle resolves the FULL log at
    the same seq: equality is the vacuum correctness contract
    (vacuum_op_log's associativity argument run on the serving path).
    Reads below the horizon raise a pinned-snapshot error instead of
    silently resolving an incomplete log —
    tests/test_vacuum_serving.py pins both behaviors across CDC
    families. At 100 TB the retained log is the post-horizon
    seq-range partitions only; the base state is the family's serving
    sidecar at the horizon (the same frame a compacted index serves
    live reads from)."""
    log = ingest.cdc_log(tpch.fields(spark, sf_dir))
    vacuumed = ingest.vacuum_op_log(
        log, _VACUUM_HORIZON, ingest.CONTENT.resolve
    )
    return ingest.asof_from_vacuum(
        vacuumed, _AS_OF_SEQ, ingest.CONTENT.keys, ingest.CONTENT.resolve
    ).orderBy("rid")


# --- the DEFAULT serving substrate, physically vacuumed (r14) --------------
# r13 graded the vacuum algebra on a dedicated query; r14 makes
# vacuumed+compacted the substrate every as-of entry point serves from
# (nucliadb_spark/serving.py): physical seq-bucket-partitioned op
# logs, durable per-snapshot family states, vacuum-aware resolution
# through VacuumedLog. This query exercises the FLAGSHIP through it
# with the history genuinely gone.

# folds the entire insert wave at every sf (rids < 250k) while staying
# at or below every snapshot any graded query pins (min in use:
# 500_000) — a vacuum a real deployment could run today
_SERVE_VACUUM_H = 499_999
# a FRESH snapshot key (same post-revisions/pre-deletes corpus state
# as 1.5M, but no session sidecar can exist for it), so the serving
# resolution genuinely runs through the vacuumed substrate
_VAC_FLAGSHIP_SEQ = 1_600_000


def _substrate_families(spark, sf_dir):
    """(family, log_name, log_builder, resolve, keys) for every CDC
    family the find API serves at a snapshot — the registration the
    vacuum needs so each family's base folds with ITS resolve (two
    families share the content log: the corpus state and the
    embedding sidecar)."""
    from nucliadb_spark import api

    fields = tpch.fields(spark, sf_dir)
    return [
        ("content_text", "content_text",
         lambda: ingest.cdc_log(fields), ingest.CONTENT.resolve, ingest.CONTENT.keys),
        ("stub_embeddings", "content_text",
         lambda: ingest.cdc_log(fields), api.stub_embed_live, ingest.CONTENT.keys),
        ("derived", "content_text",
         lambda: ingest.cdc_log(fields), ingest.cdc_live_derived, ingest.CONTENT.keys),
        ("labels", "labels",
         lambda: ingest.cdc_label_log(fields.select("rid", "labels")),
         ingest.LABELS.resolve, ingest.LABELS.keys),
        ("meta", "meta",
         lambda: ingest.cdc_meta_log(fields), ingest.META.resolve, ingest.META.keys),
        ("vectors", "vectors",
         lambda: ingest.cdc_vector_log(tpch.vectors(spark, sf_dir)),
         ingest.VECTORS.resolve, ingest.VECTORS.keys),
        ("relations", "relations",
         lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
         ingest.RELATIONS.resolve, ingest.RELATIONS.keys),
    ]


def _find_hybrid_as_of_vacuumed_oracle() -> str:
    return f"""
WITH fused AS ({_as_of_fused_sql(10, seq=_VAC_FLAGSHIP_SEQ)})
SELECT id, score,
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


@register("find_hybrid_as_of_vacuumed", _find_hybrid_as_of_vacuumed_oracle())
def find_hybrid_as_of_vacuumed(spark, sf_dir):
    """The snapshot HYBRID flagship served while the content / label /
    meta / vector / relation op logs are PHYSICALLY VACUUMED — the
    r14 'default substrate' capstone. Every as-of family is folded at
    horizon 499_999 (the entire insert wave becomes each family's
    durable base state) and the logs' fully-folded seq-bucket
    partitions are DELETED from disk (serving.purge_log — the
    reference's segment purge, nidx/src/scheduler/purge_tasks.rs:
    26-43). The find then runs at a FRESH snapshot key through the
    ordinary api.find_request path: each leg resolves from
    (base state, retained partitions) via asof_from_vacuum — the
    discarded history is never needed, and could not be read if it
    were. The oracle resolves the FULL log at the same seq, so
    equality re-proves the vacuum associativity on the end-to-end
    flagship. Reads below the horizon raise the pinned-snapshot error
    through FindRequest (tests/test_serving_substrate.py pins it on
    an isolated corpus). The horizon sits at or below every snapshot
    any graded query pins, so this is exactly the vacuum a real
    deployment could run: old history gone, every still-pinned
    snapshot served.

    The vacuum runs against a PRIVATE copy of the corpus directory
    (same bytes, so the oracle is unchanged): purge is session-global
    and irreversible per (corpus, family), and a graded query must
    not decide vacuum POLICY for every other query sharing the
    session's corpus — a sibling legitimately pinning a snapshot
    below this horizon (test_find_api's backfill reads at seq 0/300)
    must keep its history. The machinery exercised is identical; only
    the blast radius is scoped."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nucliadb_spark import api, serving
    from nucliadb_spark.cache import cached_scalar

    def make_private_corpus() -> str:
        # corpus-sized: tracked so the atexit hook reclaims it — /tmp
        # is not cleaned between sessions and repeated bench/probe
        # runs would otherwise accumulate a copy per session
        d = serving.tracked_mkdtemp(prefix="vac_twin_corpus_")
        for f in os.listdir(sf_dir):
            if not f.endswith(".parquet"):
                continue
            src = os.path.join(sf_dir, f)
            # testdata ships single files; spark-written replicas
            # (the 10x probe fixture) are directories
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(d, f))
            else:
                shutil.copy(src, os.path.join(d, f))
        return d

    vdir = cached_scalar(sf_dir, "vac_twin_dir", make_private_corpus)
    for fam, lname, lb, res, keys in _substrate_families(spark, vdir):
        serving.vacuum_family(
            spark, vdir, fam, lb, res, keys, _SERVE_VACUUM_H,
            log_name=lname,
        )
    for lname in ("content_text", "labels", "meta", "vectors", "relations"):
        serving.purge_log(spark, vdir, lname, _SERVE_VACUUM_H)
    req = api.FindRequest(
        query=_ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=10,
        window=50,
        query_vec_id=5,
        as_of=_VAC_FLAGSHIP_SEQ,
    )
    return api.find_request(spark, vdir, req).select(
        "id",
        "score",
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


# a post-delete-wave cut: every op in the log is at or below it, so
# the state here IS the live corpus — the second tranche's effect
_STREAM_LIVE_SEQ = 2_500_000


def _substrate_stream_oracle() -> str:
    return f"""
SELECT * FROM (
  SELECT CAST({_AS_OF_SEQ} AS BIGINT) AS cut, rid, text
  FROM ({ingest.cdc_live_as_of_sql(_AS_OF_SEQ)})
  UNION ALL
  SELECT CAST({_STREAM_LIVE_SEQ} AS BIGINT), rid, text
  FROM ({ingest.cdc_live_as_of_sql(_STREAM_LIVE_SEQ)})
) ORDER BY cut, rid
"""


@register("cdc_substrate_stream_served", _substrate_stream_oracle())
def cdc_substrate_stream_served(spark, sf_dir):
    """The serving substrate MAINTAINED BY STRUCTURED STREAMING — the
    batch materialization's honest stand-in closed (serving.py's
    module docstring flagged it): the content op log arrives in two
    tranches (inserts+revisions, then the delete wave), each drained
    by serving.stream_maintained_log — readStream → foreachBatch
    appending into the SAME seq-bucket-partitioned layout the batch
    substrate writes, the checkpoint's file tracking making the
    second drain incremental (only the new tranche's files are read —
    the reference's indexer consuming its NATS stream,
    nidx/src/indexer.rs:121-253). Both snapshot cuts then serve
    through the ordinary substrate path (serving.state_as_of with NO
    log builder — the stream is the only writer): the mid cut at
    seq 1.5M must exclude the second tranche's deletes even though
    the physical log contains them (partition-pruned seq cut), and
    the post-wave cut must reflect them (the maintenance genuinely
    advanced). One seat grades both directions against the full-log
    oracle."""
    from pyspark.sql import functions as F

    from nucliadb_spark import serving
    from nucliadb_spark.cache import cached_scalar

    fields = tpch.fields(spark, sf_dir)
    log_name = "content_text_streamed"

    def maintain() -> bool:
        wd = serving.tracked_mkdtemp(prefix="substrate_stream_")
        arrivals, ckpt = f"{wd}/arrivals", f"{wd}/ckpt"
        log = ingest.cdc_log(fields)
        log.filter(F.col("seq") <= _AS_OF_SEQ).repartition(4).write.mode(
            "append"
        ).parquet(arrivals)
        serving.stream_maintained_log(spark, sf_dir, log_name, arrivals, ckpt)
        log.filter(F.col("seq") > _AS_OF_SEQ).repartition(2).write.mode(
            "append"
        ).parquet(arrivals)
        serving.stream_maintained_log(spark, sf_dir, log_name, arrivals, ckpt)
        return True

    cached_scalar(sf_dir, "substrate_stream_maintained", maintain)

    def state(seq: int):
        return serving.state_as_of(
            spark,
            sf_dir,
            log_name,
            None,
            ingest.CONTENT.resolve,
            ingest.CONTENT.keys,
            seq,
        ).select(F.lit(seq).cast("long").alias("cut"), "rid", "text")

    return (
        state(_AS_OF_SEQ)
        .unionByName(state(_STREAM_LIVE_SEQ))
        .orderBy("cut", "rid")
    )


def _cdc_vector_served_index(spark, sf_dir):
    """Session-scoped STREAMED vector index: stage the vector op log
    once, drain it through VECTORS.sink (upserts get their IVF
    cell assigned against the broadcast centroid sidecar at INGEST
    time, seq-tagged segments + oplog appended exactly-once), and
    serve every later call from the materialized parquet — the
    vector sibling of _cdc_fielded_served_index."""
    import tempfile

    from nucliadb_spark.cache import cached_df, cached_scalar
    from nucliadb_spark.operators import ann as ann_ops

    vectors = tpch.vectors(spark, sf_dir)
    centroids = cached_df(
        sf_dir, "ivf_centroids", lambda: ann_ops.cell_centroids(vectors)
    )

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="vcdc_idx_")
        ingest.cdc_vector_log(vectors).repartition(2).write.parquet(
            f"{workdir}/log"
        )
        ingest.VECTORS.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt",
            centroids=centroids,
        )
        return workdir

    wd = cached_scalar(sf_dir, "vcdc_workdir", build)
    vecs = spark.read.parquet(f"{wd}/index/vectors")
    oplog = spark.read.parquet(f"{wd}/index/oplog")
    return vecs, oplog


@register(
    "cdc_vector_search_served",
    knn.exact_knn_sql(ingest.CDC_VECTOR_LIVE_SQL, _QVEC_SQL, dim=64, k=10),
)
def cdc_vector_search_served(spark, sf_dir):
    """`cdc_vector_search_live` SERVED from the streamed vector
    index instead of a per-request log resolution: segments are
    masked to live versions by the oplog deletion-list join (the
    alive-bitset over built segments — nidx vector segments), then
    scored. Segments already carry their ingest-assigned IVF cell
    (cluster_label), so the cell-pruned probe path serves from this
    same layout (recall-gated by the ann_ivf_recall suite); the
    graded query scores exactly to share the live variant's oracle.
    Same oracle as cdc_vector_search_live — stream == batch."""
    from pyspark.sql import functions as F
    from nucliadb_spark.cache import cached_df

    vecs, oplog = _cdc_vector_served_index(spark, sf_dir)
    live = cached_df(
        sf_dir,
        "vcdc_live_segments",
        lambda: ingest.VECTORS.live_segments(vecs, oplog).select("rid", "vector"),
    )
    qvec = (
        tpch.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 5)
        .select(F.col("embedding").alias("qvec"))
    )
    return knn.exact_knn(live, qvec, k=10)


def _cdc_meta_served_index(spark, sf_dir):
    """Session-scoped STREAMED metadata sink: stage the meta op log
    once, drain it through META.sink (seq-tagged metadata
    segments + rid-keyed oplog, exactly-once), and serve every later
    call from the materialized parquet — the metadata-plane sibling
    of _cdc_vector_served_index."""
    import tempfile

    from nucliadb_spark.cache import cached_scalar

    fields = tpch.fields(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="mcdc_idx_")
        ingest.cdc_meta_log(fields).repartition(2).write.parquet(
            f"{workdir}/log"
        )
        ingest.META.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        return workdir

    wd = cached_scalar(sf_dir, "mcdc_workdir", build)
    meta = spark.read.parquet(f"{wd}/index/meta")
    oplog = spark.read.parquet(f"{wd}/index/oplog")
    return meta, oplog


_META_LIVE_SERVED_SQL = f"""
SELECT rid, security_public,
       array_to_string(security_groups, ',') AS groups,
       source, language
FROM ({ingest.cdc_meta_live_sql(tpch.SQL_FIELDS)})
ORDER BY rid
"""


@register("cdc_meta_live_served", _META_LIVE_SERVED_SQL)
def cdc_meta_live_served(spark, sf_dir):
    """The metadata plane SERVED from its maintained CDC sink: the
    streamed seq-tagged segments masked to live versions by the
    rid-keyed oplog (deletion-list application — META.sink /
    META.live_segments), never a per-request log resolution. The
    head state proves the plane is genuinely versioned: the lockdown
    wave's private/'group-locked' rows serve for every rid%7
    resource, the delete wave's rids are absent, and everything else
    carries creation-time metadata. Stream == batch is the oracle
    (the full-log latest-op-wins resolution in SQL) — the same
    serving contract as cdc_fielded_search_served /
    cdc_vector_search_served, extended to the r13 metadata plane. At
    100 TB the sink is micro-batch-append only; the live mask is one
    rid-keyed max_by over the oplog, and the scheduled
    autocompaction family applies to it unchanged."""
    from pyspark.sql import functions as F

    meta, oplog = _cdc_meta_served_index(spark, sf_dir)
    return (
        ingest.META.live_segments(meta, oplog)
        .select(
            "rid",
            "security_public",
            F.array_join("security_groups", ",").alias("groups"),
            "source",
            "language",
        )
        .orderBy("rid")
    )


def _cdc_fielded_served_index(spark, sf_dir):
    """Session-scoped STREAMED per-family index: stage the field-grain
    CDC op log once, drain it through the exactly-once streaming
    ingest (`FIELDED.sink` — seq-tagged postings segments
    PARTITIONED BY field_key + the field-grain oplog), and serve every
    later call from the materialized parquet. This is the serving
    half of the reference indexer's contract: mutate one field →
    delete-then-reindex just that field's paragraphs into searchable
    segments (nidx/src/indexer.rs:254-298), queries read segments and
    deletion lists, never the raw corpus."""
    import tempfile

    from nucliadb_spark.cache import cached_scalar

    fm = tpch.fields_multi(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="cdcf_idx_")
        # several files => several arrival micro-batches
        ingest.cdc_field_log(fm).repartition(3).write.parquet(f"{workdir}/log")
        ingest.FIELDED.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        return workdir

    wd = cached_scalar(sf_dir, "cdcf_workdir", build)
    post = spark.read.parquet(f"{wd}/index/postings")
    oplog = spark.read.parquet(f"{wd}/index/oplog")
    return post, oplog


def _cdc_link_live_index(spark, sf_dir):
    """The '/u/link' family's live serving sidecars derived from the
    STREAMED index: alive-masked postings + doc-stats + corpus stats
    + vocabulary, all session-cached — every '/u/link' serving path
    (search, suggest) reads these, none re-tokenizes."""
    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_df

    post, oplog = _cdc_fielded_served_index(spark, sf_dir)
    link_live = cached_df(
        sf_dir,
        "cdcf_link_live_postings",
        lambda: ingest.FIELDED.live_segments(
            post.filter(F.col("field_key") == "/u/link"), oplog
        ).select("rid", "term", "tf"),
    )
    stats = cached_df(
        sf_dir,
        "cdcf_link_docstats",
        lambda: bm25.doc_stats_from_postings(link_live),
    )
    corpus = cached_df(sf_dir, "cdcf_link_corpus", lambda: bm25.corpus_stats(stats))
    vocab = cached_df(
        sf_dir, "cdcf_link_vocab", lambda: bm25.vocabulary(link_live)
    )
    return link_live, stats, corpus, vocab


@register("cdc_fielded_search_served", _cdc_fielded_oracle())
def cdc_fielded_search_served(spark, sf_dir):
    """`cdc_fielded_search_live` SERVED from the incrementally
    maintained postings sidecar instead of a per-request family
    rebuild: the streaming ingest already materialized seq-tagged
    per-family postings (field_key-partitioned → the '/u/link' prune
    is partition pruning); the live mask is the (rid, field_id)-keyed
    max_by over the oplog joined back on (rid, field_id, seq) — a
    deletion-list application, exactly how tantivy serves built
    segments under an alive bitset. BM25 stats (dl, df, N, avgdl)
    derive from the MAINTAINED postings, so no per-request
    tokenization of the live corpus happens anywhere in the plan
    (pinned by tests/test_plan_shapes.py). Same oracle as the _live
    variant — stream == batch."""
    link_live, stats, corpus, _ = _cdc_link_live_index(spark, sf_dir)
    return bm25.bm25_search(
        None,
        "refreshed revision stream",
        top_k=20,
        mode="any",
        post=link_live,
        stats=stats,
        corpus=corpus,
    )


def _cdc_fielded_compacted_index(spark, sf_dir):
    """Session-scoped streamed per-family index with the SCHEDULED
    AUTOCOMPACTION executed between ingest and serve: stage the
    field-grain op log, drain it through the exactly-once streaming
    ingest, then run FIELDED.autocompact (the nidx log-bucket
    policy — planned segments rewritten with dead rows purged and
    superseded ops dropped, winning deletes retained, crash-safe
    .bak swap). Kept in its OWN workdir: the compaction rewrite swaps
    parquet tables on disk, and the uncompacted twin's session-cached
    sidecars must keep their files."""
    import tempfile

    from nucliadb_spark.cache import cached_scalar

    fm = tpch.fields_multi(spark, sf_dir)

    def build() -> str:
        workdir = tempfile.mkdtemp(prefix="cdcfc_idx_")
        ingest.cdc_field_log(fm).repartition(3).write.parquet(f"{workdir}/log")
        ingest.FIELDED.sink(
            spark, f"{workdir}/log", f"{workdir}/index", f"{workdir}/ckpt"
        )
        ingest.FIELDED.autocompact(spark, f"{workdir}/index")
        return workdir

    wd = cached_scalar(sf_dir, "cdcfc_workdir", build)
    post = spark.read.parquet(f"{wd}/index/postings")
    oplog = spark.read.parquet(f"{wd}/index/oplog")
    return post, oplog


@register("cdc_fielded_search_served_compacted", _cdc_fielded_oracle())
def cdc_fielded_search_served_compacted(spark, sf_dir):
    """`cdc_fielded_search_served` with the SCHEDULED AUTOCOMPACTION
    in the pipeline — the r14 'serve from a compacted sink' gate:
    stream → FIELDED.autocompact → serve, graded against the
    SAME oracle as the uncompacted twin. test_autocompaction proves
    serve-reads-identical locally; this seat closes the loop at the
    driver level: the rewrite physically purged dead per-family
    segments and dropped superseded ops (keeping winning deletes that
    still mask unplanned segments), and the BM25 ranking over the
    compacted index must equal the log-replay oracle byte-for-byte.
    Together with find_hybrid_as_of_vacuumed this makes
    vacuumed+compacted the graded DEFAULT: op-log history vacuums,
    streamed sinks autocompact, every serve read is identical.
    Anchor: nidx/src/scheduler/log_merge.rs:59-110 (plan_merges) +
    purge_tasks.rs:26-43 (deleted segments physically purged)."""
    from pyspark.sql import functions as F

    from nucliadb_spark.cache import cached_df

    post, oplog = _cdc_fielded_compacted_index(spark, sf_dir)
    link_live = cached_df(
        sf_dir,
        "cdcfc_link_live_postings",
        lambda: ingest.FIELDED.live_segments(
            post.filter(F.col("field_key") == "/u/link"), oplog
        ).select("rid", "term", "tf"),
    )
    stats = cached_df(
        sf_dir,
        "cdcfc_link_docstats",
        lambda: bm25.doc_stats_from_postings(link_live),
    )
    corpus = cached_df(
        sf_dir, "cdcfc_link_corpus", lambda: bm25.corpus_stats(stats)
    )
    return bm25.bm25_search(
        None,
        "refreshed revision stream",
        top_k=20,
        mode="any",
        post=link_live,
        stats=stats,
        corpus=corpus,
    )


def _cdc_suggest_oracle() -> str:
    live_link = (
        "SELECT rid, text FROM ("
        + ingest.cdc_fielded_live_sql(tpch.SQL_FIELDS_MULTI, field_key="/u/link")
        + ")"
    )
    return suggest.suggest_paragraphs_sql(live_link, "refre")


@register("cdc_suggest_served", _cdc_suggest_oracle())
def cdc_suggest_served(spark, sf_dir):
    """/suggest served from the CDC-MAINTAINED postings: the prefix
    search reads the same streamed '/u/link' segments + deletion
    lists the served find path queries (alive-masked postings,
    vocabulary with term doc-freqs as a sidecar of the maintained
    index) — completing 'every serving path has a CDC twin' (find:
    r8; suggest: here). The reference's suggest reads the very
    segments its indexer maintains (nidx/src/searcher/
    shard_suggest.rs:95-180) — it never re-derives an index per
    keystroke, and neither does this plan (no tokenization anywhere:
    prefix+fuzzy match runs on the maintained vocabulary, scoring on
    the maintained postings; pinned by tests/test_plan_shapes.py).
    'refre' prefix-matches the revision wave's 'refreshed' terms, so
    the suggestions prove index freshness: only live revised fields
    surface, field-deleted links don't. Oracle replays the log
    resolution + suggest pipeline in SQL — stream == batch."""
    link_live, stats, corpus, vocab = _cdc_link_live_index(spark, sf_dir)
    return suggest.suggest_paragraphs(
        None,
        "refre",
        post=link_live,
        stats=stats,
        vocab=vocab,
        corpus=corpus,
    )
