"""Approximate nearest neighbor at scale: IVF cells + probe
(SURVEY §2.4 V1 replacement).

The reference serves ANN with a per-segment HNSW graph walk
(ref: nidx/nidx_vector/src/hnsw/search.rs:242-388, params.rs:34-46).
A graph walk is a pointer-chasing serving structure — wrong shape for
Spark. The batch-first equivalent is IVF (inverted file):

- build: k-means centroids over the corpus (MLlib KMeans,
  deterministic seed); each vector is assigned its nearest centroid
  → a `cell` column. At 100 TB the vectors table is WRITTEN
  partitioned by cell, so a probe reads only nprobe/k of the data
  (partition pruning does the work HNSW's graph does).
- search: rank cells by query↔centroid similarity (centroids are a
  tiny broadcast table), take nprobe cells, exact-score only those
  cells' vectors, top-k.

Quality gate mirrored from the reference's recall test
(nidx/nidx_vector/src/segment.rs:842-912): recall@5 vs brute force
≥ 0.95 — see tests/test_ann_recall.py.

`ivf_search_labeled` is the oracle-checkable variant: it uses a
precomputed cell assignment column and element-wise-mean centroids,
expressed in pure SQL-parity DataFrame ops (cell scores rounded to 6
decimals before ranking so Spark/DuckDB float aggregation agrees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nucliadb_spark.functions import vector as V
from nucliadb_spark.operators import knn

SCORE_TYPE = "double"


# --- MLlib IVF build + probe (the scale path) -----------------------------


def build_ivf(
    vectors: DataFrame,
    k_cells: int = 16,
    seed: int = 42,
    vec_col: str = "vector",
) -> tuple[DataFrame, DataFrame]:
    """→ (assigned, centroids): assigned = vectors + `cell`,
    centroids = (cell, centroid array<double>).

    Deterministic: fixed seed, fixed maxIter. At scale: persist
    `assigned` partitioned by cell; centroids are broadcast-sized
    (k_cells ≤ a few thousand even at 100 TB).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml = vectors.withColumn("_features", array_to_vector(F.col(vec_col)))
    model = KMeans(
        k=k_cells, seed=seed, maxIter=20, featuresCol="_features", predictionCol="cell"
    ).fit(ml)
    assigned = model.transform(ml).drop("_features")
    from nucliadb_spark.functions import frames

    centroids = frames.literal_frame(
        vectors.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    similarity: str = "cosine",
    id_col: str = "rid",
    vec_col: str = "vector",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Probe nprobe closest cells, exact-score within them, top-k."""
    sim = {"cosine": V.cosine, "dot": V.dot}[similarity]
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select("cell", sim(F.col("centroid"), F.col(query_vec_col)).alias("csim"))
        .orderBy(F.col("csim").desc(), F.col("cell").asc())
        .limit(nprobe)
        .select("cell")
    )
    candidates = assigned.join(F.broadcast(probe), "cell")
    return knn.exact_knn(
        candidates,
        query,
        k=k,
        similarity=similarity,
        id_col=id_col,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
    )


# --- IVF serving over an existing cell column ------------------------------
# The serving path for the find() pipeline: the vectors table already
# carries a cell assignment (`cluster_label`, written at index-build
# time — at 100 TB the table is PARTITIONED by this column, so the
# probe join prunes partitions and reads nprobe/k of the data).
# Centroids are the element-wise per-cell mean, computed once per
# session (cache.cached_df) — the batch analog of a persisted
# centroid sidecar file.


def cell_centroids(
    vectors: DataFrame, cell_col: str = "cluster_label", vec_col: str = "vector"
) -> DataFrame:
    """(cell, centroid array<double>) element-wise mean per cell —
    index-build output; tiny (n_cells rows), broadcast at query time."""
    pos = vectors.select(
        F.col(cell_col).alias("cell"), F.posexplode(vec_col).alias("pos", "val")
    )
    cent_long = pos.groupBy("cell", "pos").agg(F.avg("val").alias("m"))
    return cent_long.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def assign_cells(
    vecs: DataFrame,
    centroids: DataFrame,
    keys: tuple[str, ...] = ("rid",),
    vec_col: str = "vector",
) -> DataFrame:
    """Nearest-centroid cell assignment for vectors that arrive AFTER
    index build — the ingest-time analog of inserting into the
    reference's HNSW graph (nidx/src/indexer.rs vector path). Tiny
    broadcast of centroids; deterministic tiebreak (higher cosine,
    then lower cell id). Output: (*keys, vec_col, cluster_label)."""
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "_csim", F.round(V.cosine(F.col(vec_col), F.col("centroid")), 6)
    )
    best = scored.groupBy(*keys).agg(
        F.max_by(
            F.struct(F.col(vec_col), F.col("cell")),
            F.struct(F.col("_csim"), -F.col("cell")),
        ).alias("_b")
    )
    return best.select(
        *keys,
        F.col(f"_b.{vec_col}").alias(vec_col),
        F.col("_b.cell").alias("cluster_label"),
    )


def ivf_drift_plan(
    versions: DataFrame,
    base_centroids: DataFrame,
    vec_col: str = "vector",
) -> DataFrame:
    """(cell, n_live, n_dead_versions, n_would_move, live_share) —
    the review artifact the IVF lifecycle reads before retraining a
    CDC-maintained vector index.

    `ingest.VECTORS.sink` pins cell assignment to a FIXED broadcast
    centroid sidecar; after enough upsert waves the layout skews and
    probe recall degrades — the failure the reference's vector merge
    avoids by rebuilding segments (nidx/src/scheduler/
    vector_merge.rs). This plan quantifies the drift without touching
    the index: every upsert version gets its ingest-rule cell
    (nearest base centroid, cosine rounded 6, lower-cell tiebreak —
    byte-identical to assign_cells), liveness resolves latest-op-wins,
    refreshed centroids are ONE Lloyd step (per-cell mean of the live
    members), and n_would_move counts live vectors whose nearest
    refreshed centroid differs from their ingest cell. Shuffle
    budget: the centroid tables broadcast; the wide ops are the
    (rid)-keyed liveness max_by and two map-side-combinable groupBys
    — report size = cell count.

    versions: the vector op log (rid, seq, op, vector).
    """
    from pyspark.sql import Window

    ups = versions.filter(F.col("op") == "upsert").select("rid", "seq", vec_col)
    assigned = assign_cells(ups, base_centroids, keys=("rid", "seq"))
    last = versions.groupBy("rid").agg(
        F.max("seq").alias("seq"),
        (F.max_by("op", "seq") == "upsert").alias("alive"),
    )
    flagged = assigned.join(
        last.filter("alive").select("rid", "seq").withColumn("live", F.lit(1)),
        ["rid", "seq"],
        "left",
    ).withColumn("live", F.coalesce("live", F.lit(0)))
    # flagged feeds FOUR consumers (live geometry -> refreshed
    # centroids AND the would-move rescoring, plus the per-cell
    # counters); without a cut Spark re-runs the corpus-sized
    # assign_cells subtree once per consumer (r14 profile: the whole
    # audit re-assigned every upsert version 4x). localCheckpoint
    # materializes it once and truncates the plan (guide §3.3/§5);
    # values are unchanged — assignment is deterministic.
    flagged = flagged.localCheckpoint()
    live = flagged.filter(F.col("live") == 1)
    refreshed = cell_centroids(live, cell_col="cluster_label", vec_col=vec_col)
    moved = (
        assign_cells(
            live.select("rid", F.col("cluster_label").alias("old"), vec_col),
            refreshed,
            keys=("rid", "old"),
        )
        .filter(F.col("cluster_label") != F.col("old"))
        .groupBy(F.col("old").alias("cell"))
        .agg(F.count("*").cast("long").alias("n_would_move"))
    )
    per_cell = flagged.groupBy(F.col("cluster_label").alias("cell")).agg(
        F.sum("live").cast("long").alias("n_live"),
        F.sum(1 - F.col("live")).cast("long").alias("n_dead_versions"),
    )
    # n_total == sum of live flags == sum of per-cell live counts: a
    # window over the (cell-count-sized) counter frame replaces the
    # old separate scan + BroadcastNestedLoopJoin of a 1-row total
    return (
        per_cell.join(moved, "cell", "left")
        .withColumn(
            "n_total",
            F.sum("n_live").over(Window.partitionBy()).cast("double"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_live",
            "n_dead_versions",
            F.coalesce("n_would_move", F.lit(0)).cast("long").alias("n_would_move"),
            F.round(F.col("n_live") / F.col("n_total"), 4)
            .cast("double")
            .alias("live_share"),
        )
        .orderBy("cell")
    )


def ivf_drift_plan_sql(log_sql: str, base_centroids_sql: str, dim: int) -> str:
    """DuckDB twin of :func:`ivf_drift_plan` (identical assignment
    rule: cosine rounded 6, lower-cell tiebreak)."""
    cos_vb = V.cosine_sql_unrolled("u.vector", "b.centroid", dim)
    cos_lr = V.cosine_sql_unrolled("l.vector", "r.centroid", dim)
    return f"""
WITH log AS ({log_sql}),
base_cent AS ({base_centroids_sql}),
ups AS (SELECT rid, seq, vector FROM log WHERE op = 'upsert'),
assigned AS (
  SELECT rid, seq, vector, cell AS cluster_label FROM (
    SELECT u.rid, u.seq, u.vector, b.cell,
           row_number() OVER (
             PARTITION BY u.rid, u.seq
             ORDER BY ROUND({cos_vb}, 6) DESC, b.cell ASC) AS rn
    FROM ups u CROSS JOIN base_cent b
  ) WHERE rn = 1
),
last AS (
  SELECT rid, MAX(seq) AS seq,
         max_by(op, seq) = 'upsert' AS alive
  FROM log GROUP BY rid
),
flagged AS (
  SELECT a.*, CASE WHEN l.rid IS NOT NULL THEN 1 ELSE 0 END AS live
  FROM assigned a
  LEFT JOIN (SELECT rid, seq FROM last WHERE alive) l
    ON a.rid = l.rid AND a.seq = l.seq
),
live AS (SELECT * FROM flagged WHERE live = 1),
pos AS (
  SELECT cluster_label AS cell, unnest(generate_series(1, {dim})) AS pos,
         unnest(vector) AS val
  FROM live
),
refreshed AS (
  SELECT cell, list(m ORDER BY pos) AS centroid
  FROM (SELECT cell, pos, AVG(val) AS m FROM pos GROUP BY cell, pos)
  GROUP BY cell
),
moved AS (
  SELECT old AS cell, COUNT(*)::BIGINT AS n_would_move FROM (
    SELECT l.rid, l.cluster_label AS old, r.cell AS new_cell,
           row_number() OVER (
             PARTITION BY l.rid, l.cluster_label
             ORDER BY ROUND({cos_lr}, 6) DESC, r.cell ASC) AS rn
    FROM live l CROSS JOIN refreshed r
  ) WHERE rn = 1 AND new_cell <> cell
  GROUP BY old
),
per_cell AS (
  SELECT cluster_label AS cell,
         SUM(live)::BIGINT AS n_live,
         SUM(1 - live)::BIGINT AS n_dead_versions
  FROM flagged GROUP BY 1
),
total AS (SELECT COUNT(*)::DOUBLE AS n_total FROM live)
SELECT CAST(p.cell AS BIGINT) AS cell, p.n_live, p.n_dead_versions,
       COALESCE(m.n_would_move, 0)::BIGINT AS n_would_move,
       ROUND(p.n_live / t.n_total, 4)::DOUBLE AS live_share
FROM per_cell p
LEFT JOIN moved m ON p.cell = m.cell
CROSS JOIN total t
ORDER BY cell
"""


def ivf_drift_plan_sampled(
    versions: DataFrame,
    base_centroids: DataFrame,
    vec_col: str = "vector",
    sample_pct: int = 20,
) -> DataFrame:
    """Constant-cost drift review: :func:`ivf_drift_plan` over a
    deterministic rid-hash sample of the op log.

    The full review is honestly linear in log versions (it IS a
    full-log audit — SCALE.md measured 11× at a 100× corpus). At
    100 TB the operator you actually run per maintenance cycle keeps
    the review budget CONSTANT by shrinking sample_pct as the corpus
    grows: the drift verdict is a rate (would-move share, live
    share, dead share), and rates estimate fine from a sample.

    Sampling keys on the portable md5 of rid, so a document's ENTIRE
    version history is in or out atomically — liveness resolution
    inside the sample is exact, never truncated mid-history (the
    property a seq- or row-level sample would break). Refreshed
    centroids are the one-Lloyd-step means of the SAMPLED live
    members, so n_would_move_sampled estimates the would-move rate
    rather than sub-setting the full plan's count. est_n_live scales
    the live count back to corpus units (exact integer: sample_pct
    must divide 100). Cells too small to surface in the sample are
    absent — at review granularity those cells hold <factor vectors
    and cannot trip a retrain trigger.
    """
    if 100 % sample_pct:
        raise ValueError("sample_pct must divide 100 for exact scale-up")
    factor = 100 // sample_pct
    from nucliadb_spark.functions.text import md5_int60

    sampled = versions.filter(
        md5_int60(F.col("rid").cast("string"), salt="drift:") % 100 < sample_pct
    )
    plan = ivf_drift_plan(sampled, base_centroids, vec_col=vec_col)
    return plan.select(
        "cell",
        F.col("n_live").alias("n_live_sampled"),
        F.col("n_dead_versions").alias("n_dead_sampled"),
        F.col("n_would_move").alias("n_would_move_sampled"),
        (F.col("n_live") * factor).cast("long").alias("est_n_live"),
        "live_share",
    ).orderBy("cell")


def ivf_drift_plan_sampled_sql(
    log_sql: str, base_centroids_sql: str, dim: int, sample_pct: int = 20
) -> str:
    """DuckDB twin of :func:`ivf_drift_plan_sampled`: the identical
    rid-hash predicate filters the log CTE, then the full-plan SQL
    runs unchanged over the sample."""
    from nucliadb_spark.functions.text import md5_int60_sql

    if 100 % sample_pct:
        # mirror the Spark twin: a non-divisor pct would silently
        # floor-divide the factor and underestimate est_n_live
        raise ValueError("sample_pct must divide 100 for exact scale-up")
    factor = 100 // sample_pct
    bucket = md5_int60_sql("CAST(rid AS VARCHAR)", salt="drift:")
    sampled_log = (
        f"SELECT * FROM ({log_sql}) WHERE {bucket} % 100 < {sample_pct}"
    )
    inner = ivf_drift_plan_sql(sampled_log, base_centroids_sql, dim)
    return f"""
SELECT cell, n_live AS n_live_sampled,
       n_dead_versions AS n_dead_sampled,
       n_would_move AS n_would_move_sampled,
       (n_live * {factor})::BIGINT AS est_n_live,
       live_share
FROM ({inner})
ORDER BY cell
"""


def ivf_drift_counters(
    versions: DataFrame,
    base_centroids: DataFrame,
    vec_col: str = "vector",
) -> DataFrame:
    """(cell, n_live, n_dead_versions, live_share) — the COUNTER half
    of :func:`ivf_drift_plan`, without the Lloyd-step geometry
    (refreshed centroids / n_would_move). This is what nidx's merge
    scheduler actually reads — per-segment record/deletion counters,
    never vector geometry (nidx/src/scheduler/log_merge.rs:59,
    vector_merge.rs) — and it is the half an incremental review can
    maintain in delta-proportional time."""
    ups = versions.filter(F.col("op") == "upsert").select("rid", "seq", vec_col)
    assigned = assign_cells(ups, base_centroids, keys=("rid", "seq"))
    last = versions.groupBy("rid").agg(
        F.max("seq").alias("seq"),
        (F.max_by("op", "seq") == "upsert").alias("alive"),
    )
    flagged = assigned.join(
        last.filter("alive").select("rid", "seq").withColumn("live", F.lit(1)),
        ["rid", "seq"],
        "left",
    ).withColumn("live", F.coalesce("live", F.lit(0)))
    per_cell = flagged.groupBy(F.col("cluster_label").alias("cell")).agg(
        F.sum("live").cast("long").alias("n_live"),
        F.sum(1 - F.col("live")).cast("long").alias("n_dead_versions"),
    )
    # n_total == sum of live flags == sum of the per-cell live counts:
    # the window over the tiny counter frame replaces a SECOND full
    # execution of the corpus-sized flagged subtree (the old separate
    # agg + 1-row BroadcastNestedLoopJoin re-ran assign_cells)
    from pyspark.sql import Window

    return (
        per_cell.withColumn(
            "n_total",
            F.sum("n_live").over(Window.partitionBy()).cast("double"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_live",
            "n_dead_versions",
            F.round(F.col("n_live") / F.col("n_total"), 4)
            .cast("double")
            .alias("live_share"),
        )
        .orderBy("cell")
    )


def ivf_drift_counters_sql(
    log_sql: str, base_centroids_sql: str, dim: int
) -> str:
    """DuckDB twin of :func:`ivf_drift_counters`."""
    cos_vb = V.cosine_sql_unrolled("u.vector", "b.centroid", dim)
    return f"""
WITH log AS ({log_sql}),
base_cent AS ({base_centroids_sql}),
ups AS (SELECT rid, seq, vector FROM log WHERE op = 'upsert'),
assigned AS (
  SELECT rid, seq, cell AS cluster_label FROM (
    SELECT u.rid, u.seq, b.cell,
           row_number() OVER (
             PARTITION BY u.rid, u.seq
             ORDER BY ROUND({cos_vb}, 6) DESC, b.cell ASC) AS rn
    FROM ups u CROSS JOIN base_cent b
  ) WHERE rn = 1
),
last AS (
  SELECT rid, MAX(seq) AS seq,
         max_by(op, seq) = 'upsert' AS alive
  FROM log GROUP BY rid
),
flagged AS (
  SELECT a.*, CASE WHEN l.rid IS NOT NULL THEN 1 ELSE 0 END AS live
  FROM assigned a
  LEFT JOIN (SELECT rid, seq FROM last WHERE alive) l
    ON a.rid = l.rid AND a.seq = l.seq
),
per_cell AS (
  SELECT cluster_label AS cell,
         SUM(live)::BIGINT AS n_live,
         SUM(1 - live)::BIGINT AS n_dead_versions
  FROM flagged GROUP BY 1
),
total AS (SELECT SUM(live)::DOUBLE AS n_total FROM flagged)
SELECT CAST(p.cell AS BIGINT) AS cell, p.n_live, p.n_dead_versions,
       ROUND(p.n_live / t.n_total, 4)::DOUBLE AS live_share
FROM per_cell p CROSS JOIN total t
ORDER BY cell
"""


def ivf_live_cells(
    versions: DataFrame,
    base_centroids: DataFrame,
    vec_col: str = "vector",
) -> DataFrame:
    """(rid, seq, cell): every rid's live version with its ingest-rule
    cell — the checkpoint artifact :func:`ivf_drift_plan_incremental`
    consumes. Materially this IS the serving index's key layout
    (VECTORS.sink keeps exactly (rid, seq, cell, vector) live
    rows), so a real deployment reads it for free."""
    last = versions.groupBy("rid").agg(
        F.max_by(F.struct("seq", "op", vec_col), "seq").alias("last")
    )
    live = last.filter(F.col("last.op") == "upsert").select(
        "rid",
        F.col("last.seq").alias("seq"),
        F.col(f"last.{vec_col}").alias(vec_col),
    )
    return assign_cells(live, base_centroids, keys=("rid", "seq")).select(
        "rid", "seq", F.col("cluster_label").alias("cell")
    )


def ivf_drift_plan_incremental(
    prior_counters: DataFrame,
    prior_live: DataFrame,
    delta_log: DataFrame,
    base_centroids: DataFrame,
    vec_col: str = "vector",
) -> DataFrame:
    """Post-checkpoint drift review: merge the PRIOR review's per-cell
    counters with only the op-log segments past its seq watermark —
    cost proportional to the DELTA, not the corpus (the log is
    seq-partitioned, so the delta read is partition pruning; the only
    corpus-sized touch is a rid-semijoin against the live index
    layout, no geometry). Counter algebra per touched rid:

    - every delta upsert version gets its ingest-rule cell; the ones
      that are not the rid's final live version are newly DEAD in
      their own cell,
    - a rid live at the checkpoint that is touched at all has its
      checkpoint version superseded: -1 live / +1 dead in its OLD
      cell,
    - a rid alive after the delta adds +1 live in its NEW cell.

    The fold is associative, so incremental-since-checkpoint equals
    :func:`ivf_drift_counters` over the full log (tested, and the
    registry oracle IS the full-log counter SQL — every driver hash
    check re-proves the equality). The geometry half (refreshed
    centroids, would-move) stays with the full/sampled reviews:
    nidx schedules merges from counters exactly like this and
    reserves geometry for the rebuild itself
    (nidx/src/scheduler/vector_merge.rs).

    prior_counters: (cell, n_live, n_dead_versions) at the checkpoint.
    prior_live: (rid, seq, cell) live layout at the checkpoint
        (:func:`ivf_live_cells`, or the serving index directly).
    delta_log: ops with seq strictly past the checkpoint.

    Counter merge (restructured in r15 — same fold, fewer passes):
    the old shape split the delta assignments into a semi- and an
    anti-join (two executions of the assignment subtree), aggregated
    each side separately, stitched everything with TWO full-outer
    joins, and re-scanned the whole merge for its grand total — a
    chain of driver-synchronized AQE stages (6406-line plan, 467
    Exchanges). Now every contribution — delta versions
    (+live/+dead), superseded checkpoint versions (-live/+dead), the
    checkpoint counters themselves — is a (cell, d_live, d_dead) row
    in ONE union aggregated by ONE map-side-combinable groupBy, and
    the grand total is a window over the cell-count-sized result.
    Addition is associative and commutative, so the merged counters
    are identical row-for-row (the registry oracle — full-log counter
    SQL — re-proves it on every driver hash check).
    """
    from pyspark.sql import Window

    # NB: the delta subtree stays UNMATERIALIZED on purpose — the
    # seq > checkpoint predicate must remain visible down to the scan
    # (partition pruning is the scale contract, pinned by
    # tests/test_plan_shapes.py::test_ivf_drift_incremental_no_full_log_assignment);
    # the restructure below cuts its executions from four to three
    # and removes the join/AQE chains instead.
    ups = delta_log.filter(F.col("op") == "upsert").select("rid", "seq", vec_col)
    assigned = assign_cells(ups, base_centroids, keys=("rid", "seq"))
    new_last = delta_log.groupBy("rid").agg(
        F.max("seq").alias("seq"),
        (F.max_by("op", "seq") == "upsert").alias("alive"),
    )
    final_live_keys = new_last.filter("alive").select("rid", "seq")
    # one pass over the delta assignments: a rid's final live version
    # contributes +1 live, every other delta upsert version +1 dead
    delta_contrib = assigned.join(
        final_live_keys.withColumn("_live", F.lit(1)), ["rid", "seq"], "left"
    ).select(
        F.col("cluster_label").cast("long").alias("cell"),
        F.coalesce("_live", F.lit(0)).cast("long").alias("d_live"),
        (1 - F.coalesce("_live", F.lit(0))).cast("long").alias("d_dead"),
    )
    # prior live versions superseded by ANY delta op on their rid
    touched = delta_log.select("rid").distinct()
    superseded_contrib = prior_live.join(
        F.broadcast(touched), "rid", "semi"
    ).select(
        F.col("cell").cast("long").alias("cell"),
        F.lit(-1).cast("long").alias("d_live"),
        F.lit(1).cast("long").alias("d_dead"),
    )
    prior_contrib = prior_counters.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n_live").cast("long").alias("d_live"),
        F.col("n_dead_versions").cast("long").alias("d_dead"),
    )
    merged = (
        delta_contrib.unionByName(superseded_contrib)
        .unionByName(prior_contrib)
        .groupBy("cell")
        .agg(
            F.sum("d_live").cast("long").alias("n_live"),
            F.sum("d_dead").cast("long").alias("n_dead_versions"),
        )
    )
    return (
        merged.withColumn(
            "n_total",
            F.sum("n_live").over(Window.partitionBy()).cast("double"),
        )
        .select(
            "cell",
            "n_live",
            "n_dead_versions",
            F.round(F.col("n_live") / F.col("n_total"), 4)
            .cast("double")
            .alias("live_share"),
        )
        .orderBy("cell")
    )


def probe_cells(
    centroids: DataFrame,
    query: DataFrame,
    nprobe: int = 2,
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Top-nprobe cells by query↔centroid cosine → (cell,).
    Cosines rounded to 6 decimals so sub-ulp AVG differences can't
    flip the probe order between engines."""
    return (
        centroids.crossJoin(F.broadcast(query))
        .select(
            "cell",
            F.round(V.cosine(F.col("centroid"), F.col(query_vec_col)), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cell").asc())
        .limit(nprobe)
        .select("cell")
    )


def ivf_serve(
    vectors: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    similarity: str = "cosine",
    min_score: float | None = None,
    cell_col: str = "cluster_label",
    id_col: str = "rid",
    vec_col: str = "vector",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """IVF-probed top-k over prebuilt centroids: (id, score).

    The probe-limited serving analog of the reference's HNSW search
    (nidx/nidx_vector/src/searcher.rs:300-312): score only the
    vectors whose cell survives the probe."""
    probe = probe_cells(centroids, query, nprobe, query_vec_col)
    cand = vectors.join(
        F.broadcast(probe), vectors[cell_col] == probe["cell"], "inner"
    ).drop("cell")
    return knn.exact_knn(
        cand,
        query,
        k=k,
        similarity=similarity,
        min_score=min_score,
        id_col=id_col,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
    )


def ivf_cells_where_sql(
    vectors_sql: str,
    query_sql: str,
    dim: int,
    nprobe: int = 2,
    cell_col: str = "cluster_label",
    vec_col: str = "vector",
    query_vec_col: str = "qvec",
) -> str:
    """SQL predicate fragment restricting a vectors scan to the probed
    cells (DuckDB twin of probe_cells; compose into exact_knn_sql's
    `where`)."""
    cos_cq = V.cosine_sql_unrolled("c.centroid", f"q.{query_vec_col}", dim)
    return f"""{cell_col} IN (
  WITH vv AS ({vectors_sql}),
  pos AS (
    SELECT {cell_col} AS cell, unnest(generate_series(1, {dim})) AS pos,
           unnest({vec_col}) AS val
    FROM vv
  ),
  cent_long AS (SELECT cell, pos, AVG(val) AS m FROM pos GROUP BY cell, pos),
  centroids AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY cell)
  SELECT c.cell
  FROM centroids c CROSS JOIN ({query_sql}) q
  ORDER BY ROUND({cos_cq}, 6) DESC, c.cell ASC
  LIMIT {nprobe}
)"""


# --- label-cell IVF (oracle-checkable variant) -----------------------------


def ivf_search_labeled(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF probe using the precomputed `label` cell assignment and
    element-wise-mean centroids. (id, score, cell)."""
    pos = embeddings.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent_long = pos.groupBy("label", "pos").agg(F.avg("val").alias("m"))
    centroids = (
        cent_long.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            "label",
            F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("label").asc())
        .limit(nprobe)
        .select("label")
    )
    cand = embeddings.join(F.broadcast(probe), "label")
    raw = V.cosine(F.col("embedding"), F.col("qvec"))
    return (
        cand.crossJoin(F.broadcast(query))
        .select(
            F.col("vec_id").alias("id"),
            F.round(raw, 5).cast(SCORE_TYPE).alias("score"),
            F.col("label").alias("cell"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def labeled_centroids(embeddings: DataFrame) -> DataFrame:
    """(label, centroid) element-wise-mean centroid table for the
    precomputed `label` cell assignment — an index-build sidecar
    (cache/persist it; the probe queries only read it)."""
    pos = embeddings.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent_long = pos.groupBy("label", "pos").agg(F.avg("val").alias("m"))
    return cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def batch_knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    exclude_self: bool = False,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Multi-query IVF KNN: (query_id, id, score, rank) — the
    kNN-graph construction plan that actually survives corpus-sized
    Q. Each query ranks the (tiny, broadcast) centroid table and
    keeps its nprobe cells; candidates then come from ONE equi-join
    of the query-probe frame against the cell-labeled vector table
    on `label` — never a query×corpus cartesian. At 100 TB both
    sides of that join are partitioned by cell (the persisted IVF
    layout), so scoring is cell-local; the per-query top-k is one
    window keyed by query_id over only the probed candidates
    (nprobe/ncells of the corpus per query).

    Probe ranking rounds centroid cosines to 6 decimals and the
    final score to 5, with id tiebreaks — the SQL twin replays the
    identical probe, so even the pruning is oracle-checked.

    centroids: pass the cached/persisted (label, centroid) sidecar
    to skip the per-call derivation — at any real scale the centroid
    table is an index-build artifact, never per-query work (the 10×
    probe showed the derivation dominating the per-call cost).
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = labeled_centroids(embeddings)
    wp = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("label").asc()
    )
    probes = (
        centroids.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "label",
            F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
            "qvec",
        )
        .withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "label", "qvec")
    )
    cand = embeddings.join(probes, "label")
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("id"),
        F.round(V.cosine(F.col("embedding"), F.col("qvec")), 5)
        .cast(SCORE_TYPE)
        .alias("score"),
    )
    if exclude_self:
        scored = scored.filter(F.col("id") != F.col("query_id"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def batch_knn_ivf_sql(
    queries_sql: str,
    dim: int,
    k: int = 10,
    nprobe: int = 2,
    exclude_self: bool = False,
) -> str:
    """DuckDB twin of :func:`batch_knn_ivf` over the embeddings
    table's precomputed `label` cells."""
    cos_cq = V.cosine_sql_unrolled("c.centroid", "q.qvec", dim)
    cos_eq = V.cosine_sql_unrolled("e.embedding", "p.qvec", dim)
    self_cut = "WHERE id <> query_id" if exclude_self else ""
    return f"""
WITH q AS ({queries_sql}),
pos AS (
  SELECT label, unnest(generate_series(1, {dim})) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
cent_long AS (
  SELECT label, pos, AVG(val) AS m FROM pos GROUP BY label, pos
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY label
),
probes AS (
  SELECT query_id, label, qvec FROM (
    SELECT q.query_id, c.label, q.qvec,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND({cos_cq}, 6) DESC, c.label ASC) AS prank
    FROM centroids c CROSS JOIN q
  ) WHERE prank <= {nprobe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS id,
         ROUND({cos_eq}, 5)::DOUBLE AS score
  FROM embeddings e
  JOIN probes p ON e.label = p.label
)
SELECT query_id, id, score, rank FROM (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
  FROM scored {self_cut}
) WHERE rank <= {k}
ORDER BY query_id, rank
"""


def maxsim_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    similarity: str = "dot",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Multivector MaxSim over the IVF probe path: (id, score).

    The reference's multi-vector search runs per-query-vector ANN to
    RETRIEVE candidates, then MaxSim-scores the retrieved paragraphs
    against the full query set (nidx/nidx_vector/src/searcher.rs:
    345-394) -- it never scores every query vector against the whole
    corpus. Same two-stage composition: each query vector (qid, qvec)
    ranks the broadcast centroid table and keeps its nprobe cells;
    the CANDIDATE docs come from ONE cell-keyed equi-join of the
    probed-cell list against the cell-labeled vector table (never a
    query-by-corpus cartesian -- both sides cell-partitioned in the
    persisted layout, so this is partition pruning); the bounded
    candidate set then reranks EXACTLY against all query vectors
    (broadcast -- candidates x |Q| rows): max per (doc, qid), sum per
    doc, both partial-aggregated map-side. Only docs outside EVERY
    query vector's probed cells are missed -- the clustered-corpus
    test gates this approximation against the exact maxsim_knn.

    Probe ranking rounds centroid cosines to 6 decimals with label
    tiebreak so the SQL twin replays the identical pruning.
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = labeled_centroids(embeddings)
    wp = Window.partitionBy("qid").orderBy(
        F.col("csim").desc(), F.col("label").asc()
    )
    probed_cells = (
        centroids.crossJoin(F.broadcast(queries))
        .select(
            "qid",
            "label",
            F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
        )
        .withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= nprobe)
        .select("label")
        .distinct()
    )
    sim = V.dot if similarity == "dot" else V.cosine
    cand = embeddings.join(F.broadcast(probed_cells), "label")
    per_pair = (
        cand.crossJoin(F.broadcast(queries))
        .select(
            F.col("vec_id").alias("id"),
            "qid",
            sim(F.col("embedding"), F.col("qvec")).alias("raw"),
        )
        .groupBy("id", "qid")
        .agg(F.max("raw").alias("best"))
    )
    return (
        per_pair.groupBy("id")
        .agg(F.round(F.sum("best"), 5).cast(SCORE_TYPE).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def maxsim_ivf_sql(
    queries_sql: str,
    dim: int,
    k: int = 10,
    nprobe: int = 2,
    similarity: str = "dot",
) -> str:
    """DuckDB twin of :func:`maxsim_ivf` over the embeddings table's
    precomputed `label` cells (identical probe replay)."""
    cos_cq = V.cosine_sql_unrolled("c.centroid", "q.qvec", dim)
    sim_eq = (
        V.dot_sql_unrolled("e.embedding", "q.qvec", dim)
        if similarity == "dot"
        else V.cosine_sql_unrolled("e.embedding", "q.qvec", dim)
    )
    return f"""
WITH q AS ({queries_sql}),
pos AS (
  SELECT label, unnest(generate_series(1, {dim})) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
cent_long AS (
  SELECT label, pos, AVG(val) AS m FROM pos GROUP BY label, pos
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY label
),
probed_cells AS (
  SELECT DISTINCT label FROM (
    SELECT q.qid, c.label,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY ROUND({cos_cq}, 6) DESC, c.label ASC) AS prank
    FROM centroids c CROSS JOIN q
  ) WHERE prank <= {nprobe}
),
per_pair AS (
  SELECT e.vec_id AS id, q.qid, MAX({sim_eq}) AS best
  FROM embeddings e
  JOIN probed_cells p ON e.label = p.label
  CROSS JOIN q
  GROUP BY 1, 2
)
SELECT id, ROUND(SUM(best), 5)::DOUBLE AS score
FROM per_pair
GROUP BY id
ORDER BY score DESC, id ASC
LIMIT {k}
"""


def ivf_search_labeled_sql(k: int = 10, nprobe: int = 2, dim: int = 64) -> str:
    """DuckDB twin of :func:`ivf_search_labeled`.

    Centroid means aggregate per (label, pos) — identical grouping in
    both engines; cell-ranking cosines are rounded to 6 decimals so
    sub-ulp AVG differences can't flip the probe order (cells are
    well-separated by construction).
    """
    cos_cq = V.cosine_sql_unrolled("c.centroid", "q.qvec", dim)
    cos_eq = V.cosine_sql_unrolled("e.embedding", "q.qvec", dim)
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
pos AS (
  SELECT label, unnest(generate_series(1, {dim})) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
cent_long AS (
  SELECT label, pos, AVG(val) AS m FROM pos GROUP BY label, pos
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY label
),
probe AS (
  SELECT c.label
  FROM centroids c CROSS JOIN q
  ORDER BY ROUND({cos_cq}, 6) DESC, c.label ASC
  LIMIT {nprobe}
)
SELECT e.vec_id AS id,
       ROUND({cos_eq}, 5)::DOUBLE AS score,
       e.label AS cell
FROM embeddings e
JOIN probe p ON e.label = p.label
CROSS JOIN q
ORDER BY score DESC, id ASC
LIMIT {k}
"""


# --- IVF + SQ8 (compressed cells + exact rerank) ---------------------------
# The full 100 TB serving shape: probe prunes to nprobe cells, the
# first pass inside the surviving cells ranks by the INTEGER dot
# product of scalar-quantized (u8) codes — a quarter of the float
# bytes, exact in any engine — and only `rerank_top` survivors pay
# full-precision cosine. This composes the reference's two serving
# optimizations (HNSW candidate pruning ≈ probe; RaBitQ quantized
# first pass ≈ SQ8, ref nidx/nidx_vector/src/vector_types/rabitq.rs
# rerank_top flow) in their batch-native forms. The quantization
# range [lo, hi] is a corpus-global index-build artifact (one tiny
# agg, broadcast back), as is the centroid table.


def ivf_sq8_search_labeled(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    rerank_top: int = 50,
    dim: int = 64,
) -> DataFrame:
    """(id, score, cell) — IVF probe → SQ8 int-dot first pass →
    exact cosine rerank, on the precomputed `label` cell column."""
    pos = embeddings.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent_long = pos.groupBy("label", "pos").agg(F.avg("val").alias("m"))
    centroids = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            "label",
            F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("label").asc())
        .limit(nprobe)
        .select("label")
    )
    stats = embeddings.agg(
        F.min(F.array_min("embedding")).alias("_lo"),
        F.max(F.array_max("embedding")).alias("_hi"),
    )
    lo, hi = F.col("_lo"), F.col("_hi")

    def q8(col):
        return F.transform(
            col, lambda x: F.round((x - lo) / (hi - lo) * 255.0).cast("int")
        )

    cand = (
        embeddings.join(F.broadcast(probe), "label")
        .crossJoin(F.broadcast(query))
        .crossJoin(F.broadcast(stats))
    )
    int_dot = F.aggregate(
        F.zip_with(
            q8(F.col("embedding")),
            q8(F.col("qvec")),
            lambda x, y: (x * y).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    first_pass = (
        cand.withColumn("qscore", int_dot)
        .orderBy(F.col("qscore").desc(), F.col("vec_id").asc())
        .limit(rerank_top)
    )
    return (
        first_pass.select(
            F.col("vec_id").alias("id"),
            F.round(V.cosine(F.col("embedding"), F.col("qvec")), 5)
            .cast(SCORE_TYPE)
            .alias("score"),
            F.col("label").alias("cell"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def ivf_sq8_search_labeled_sql(
    k: int = 10, nprobe: int = 2, rerank_top: int = 50, dim: int = 64
) -> str:
    cos_cq = V.cosine_sql_unrolled("c.centroid", "q.qvec", dim)
    cos_fq = V.cosine_sql_unrolled("f.embedding", "f.qvec", dim)

    def q8(expr: str, i: int) -> str:
        return f"round((({expr}[{i}]) - s.lo) / (s.hi - s.lo) * 255.0)::BIGINT"

    dot_terms = " + ".join(
        f"({q8('e.embedding', i)} * {q8('q.qvec', i)})" for i in range(1, dim + 1)
    )
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
pos AS (
  SELECT label, unnest(generate_series(1, {dim})) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
cent_long AS (
  SELECT label, pos, AVG(val) AS m FROM pos GROUP BY label, pos
),
centroids AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY label
),
probe AS (
  SELECT c.label
  FROM centroids c CROSS JOIN q
  ORDER BY ROUND({cos_cq}, 6) DESC, c.label ASC
  LIMIT {nprobe}
),
s AS (
  SELECT MIN(list_min(embedding)) AS lo, MAX(list_max(embedding)) AS hi
  FROM embeddings
),
first_pass AS (
  SELECT e.vec_id, e.embedding, e.label, q.qvec, ({dot_terms}) AS qscore
  FROM embeddings e
  JOIN probe p ON e.label = p.label
  CROSS JOIN q CROSS JOIN s
  ORDER BY qscore DESC, e.vec_id ASC
  LIMIT {rerank_top}
)
SELECT f.vec_id AS id,
       ROUND({cos_fq}, 5)::DOUBLE AS score,
       f.label AS cell
FROM first_pass f
ORDER BY score DESC, id ASC
LIMIT {k}
"""


# --- distributed k-means training step (Lloyd iteration) --------------------
# The IVF build above delegates to MLlib KMeans; this is the SAME
# Lloyd iteration opened up as plain DataFrame ops so the training
# loop itself is oracle-checkable: assign every vector to its nearest
# seed (tiny broadcast of k seeds), then recompute centroids as the
# per-(cell, dim) mean. Driver-side loop over iterations — each step
# is one broadcast join + one groupBy; at 100 TB the assignment pass
# is a map-side-only stage and the centroid agg shuffles k*dim
# partial sums, not vectors.


def kmeans_step_labeled(
    embeddings: DataFrame, k: int = 4, dim: int = 64
) -> DataFrame:
    """One Lloyd iteration from deterministic seeds (the first k
    vectors by vec_id). Output long-format so the driver can hash it:
    (cell, pos, centroid_val, n_members) — k*dim rows.

    Assignment tiebreak: cosine rounded to 6 decimals, then lower
    seed id (assign_cells contract)."""
    seeds = embeddings.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    assigned = assign_cells(
        embeddings, seeds, keys=("vec_id",), vec_col="embedding"
    )
    pos = assigned.select(
        F.col("cluster_label").alias("cell"),
        F.posexplode("embedding").alias("pos", "val"),
    )
    return (
        pos.groupBy("cell", "pos")
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count("*").cast("long").alias("n_members"),
        )
        .orderBy("cell", "pos")
    )


def kmeans_step_labeled_sql(k: int = 4, dim: int = 64) -> str:
    from nucliadb_spark.functions import vector as _V

    cos = _V.cosine_sql_unrolled("e.embedding", "s.centroid", dim)
    return f"""
WITH seeds AS (
  SELECT vec_id::INT AS cell, embedding AS centroid
  FROM embeddings WHERE vec_id < {k}
),
scored AS (
  SELECT e.vec_id, e.embedding, s.cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND({cos}, 6) DESC, s.cell ASC) AS rn
  FROM embeddings e CROSS JOIN seeds s
),
assigned AS (SELECT vec_id, embedding, cell FROM scored WHERE rn = 1),
pos AS (
  SELECT cell, unnest(generate_series(1, {dim})) AS p,
         unnest(embedding) AS val
  FROM assigned
)
SELECT cell, p - 1 AS pos,
       ROUND(AVG(val), 6) AS centroid_val,
       COUNT(*)::BIGINT AS n_members
FROM pos GROUP BY cell, p
ORDER BY cell, pos
"""


# --- product quantization + ADC (the memory-scale serving path) -------------
# SQ8 compresses 4×; PQ compresses dim*4 bytes → m bytes (here 64
# floats → 8 byte codes, 32×). The reference's RaBitQ (1-bit codes +
# rerank, nidx/nidx_vector/src/vector_types/rabitq.rs:30-36) plays
# the same role: a lossy first pass cheap enough to scan, followed by
# an exact rerank of the survivors. Batch-native PQ:
#
# - codebooks: per subspace j, the codewords are the j-th subvectors
#   of the first k_codes vectors (deterministic seeds — a real build
#   would run kmeans_step_labeled per subspace; seeds keep the oracle
#   exact, and the update loop is the op above);
# - encode: per (vector, subspace) nearest codeword by L2 — ONE
#   broadcast join against the m*k_codes codebook, never all-pairs;
# - ADC: the query precomputes dot(query_sub_j, codeword) for all
#   m*k_codes entries (a lookup table, broadcast); a vector's
#   approximate score is the sum of its m table hits — at serving
#   time the corpus side touches only its byte codes, not floats;
# - rerank: exact cosine for the ADC top `rerank_top` only.


def pq_adc_labeled(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    rerank_top: int = 50,
    dim: int = 64,
    nprobe: int | None = None,
) -> DataFrame:
    """(id, score) — PQ-encode, ADC first pass, exact rerank.

    Vectors and query are L2-NORMALIZED before the subspace split:
    ADC approximates a dot product, and the final score is cosine —
    on raw vectors the first pass would favor long vectors and could
    drop the true nearest neighbors (measured: the self-match fell
    out of the top-50). On unit vectors dot == cosine, so the ADC
    ranking targets the same metric the rerank scores.

    nprobe: compose with the IVF probe (FAISS's IVFPQ, the canonical
    100 TB ANN layout): candidates restrict to the nprobe closest
    `label` cells while the codebook stays a FULL-corpus index-build
    artifact — cells prune I/O, codes prune compute."""
    sub_dim = dim // m
    candidates = embeddings
    if nprobe is not None:
        pos = embeddings.select("label", F.posexplode("embedding").alias("pos", "val"))
        cent_long = pos.groupBy("label", "pos").agg(F.avg("val").alias("m"))
        centroids = cent_long.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
        probe = (
            centroids.crossJoin(F.broadcast(query))
            .select(
                "label",
                F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
            )
            .orderBy(F.col("csim").desc(), F.col("label").asc())
            .limit(nprobe)
            .select("label")
        )
        candidates = embeddings.join(F.broadcast(probe), "label")
    norm_vec = V.l2_normalize(F.col("embedding"))
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice("_nvec", j * sub_dim + 1, sub_dim),
    )
    # codebook seeds come from the FULL corpus (index-build artifact),
    # candidate codes only from the probed cells
    sub_all = embeddings.withColumn("_nvec", norm_vec).select(
        "vec_id", F.posexplode(subs).alias("j", "subvec")
    )
    sub = candidates.withColumn("_nvec", norm_vec).select(
        "vec_id", F.posexplode(subs).alias("j", "subvec")
    )
    codebook = sub_all.filter(F.col("vec_id") < k_codes).select(
        "j", F.col("vec_id").cast("int").alias("code"), F.col("subvec").alias("codeword")
    )
    l2sq = F.aggregate(
        F.zip_with(
            "subvec", "codeword", lambda a, b: ((a - b) * (a - b)).cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    enc = sub.join(F.broadcast(codebook), "j").withColumn(
        "_d", F.round(l2sq, 6)
    )
    codes = enc.groupBy("vec_id", "j").agg(
        F.min_by("code", F.struct("_d", "code")).alias("code")
    )
    qsub = query.withColumn("_nq", V.l2_normalize(F.col("qvec"))).select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice("_nq", j * sub_dim + 1, sub_dim),
            )
        ).alias("j", "qs")
    )
    qdot = F.aggregate(
        F.zip_with("qs", "codeword", lambda a, b: (a * b).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qtab = qsub.join(F.broadcast(codebook), "j").select(
        "j", "code", F.round(qdot, 6).alias("qdot")
    )
    adc = (
        codes.join(F.broadcast(qtab), ["j", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("qdot"), 5).alias("adc"))
    )
    first_pass = (
        adc.orderBy(F.col("adc").desc(), F.col("vec_id").asc())
        .limit(rerank_top)
        .select("vec_id")
    )
    exact = V.cosine(F.col("embedding"), F.col("qvec"))
    return (
        embeddings.join(F.broadcast(first_pass), "vec_id")
        .crossJoin(F.broadcast(query))
        .select(
            F.col("vec_id").alias("id"),
            F.round(exact, 5).cast(SCORE_TYPE).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def pq_adc_labeled_sql(
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    rerank_top: int = 50,
    dim: int = 64,
    nprobe: int | None = None,
) -> str:
    sub_dim = dim // m
    cos = V.cosine_sql_unrolled("e.embedding", "q.qvec", dim)
    cos_cq = V.cosine_sql_unrolled("c.centroid", "q.qvec", dim)
    l2sq = (
        "list_aggregate(list_transform(generate_series(1, "
        f"{sub_dim}), i -> (s.subvec[i]::DOUBLE - c.codeword[i]::DOUBLE)"
        " * (s.subvec[i]::DOUBLE - c.codeword[i]::DOUBLE)), 'sum')"
    )
    qdot = (
        "list_aggregate(list_transform(generate_series(1, "
        f"{sub_dim}), i -> u.qs[i]::DOUBLE * c.codeword[i]::DOUBLE), 'sum')"
    )
    if nprobe is not None:
        probe_ctes = f"""
pos AS (
  SELECT label, unnest(generate_series(1, {dim})) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
cent_long AS (SELECT label, pos, AVG(val) AS m FROM pos GROUP BY label, pos),
centroids AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY label),
probe AS (
  SELECT c.label FROM centroids c CROSS JOIN q
  ORDER BY ROUND({cos_cq}, 6) DESC, c.label ASC
  LIMIT {nprobe}
),
candidates AS (
  SELECT e.* FROM embeddings e JOIN probe p ON e.label = p.label
),"""
    else:
        probe_ctes = """
candidates AS (SELECT * FROM embeddings),"""
    nrm = V.norm_sql_unrolled("embedding", dim)
    nrm_q = V.norm_sql_unrolled("qvec", dim)
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),{probe_ctes}
sub_all AS (
  SELECT vec_id, j,
         list_slice(list_transform(embedding, x -> x::DOUBLE / {nrm}),
                    j * {sub_dim} + 1, j * {sub_dim} + {sub_dim}) AS subvec
  FROM embeddings, unnest(generate_series(0, {m - 1})) AS t(j)
),
sub AS (
  SELECT vec_id, j,
         list_slice(list_transform(embedding, x -> x::DOUBLE / {nrm}),
                    j * {sub_dim} + 1, j * {sub_dim} + {sub_dim}) AS subvec
  FROM candidates, unnest(generate_series(0, {m - 1})) AS t(j)
),
codebook AS (
  SELECT j, vec_id::INT AS code, subvec AS codeword
  FROM sub_all WHERE vec_id < {k_codes}
),
enc AS (
  SELECT s.vec_id, s.j, c.code,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                            ORDER BY ROUND({l2sq}, 6) ASC, c.code ASC) AS rn
  FROM sub s JOIN codebook c USING (j)
),
codes AS (SELECT vec_id, j, code FROM enc WHERE rn = 1),
qsub AS (
  SELECT j, list_slice(list_transform(qvec, x -> x::DOUBLE / {nrm_q}),
                       j * {sub_dim} + 1, j * {sub_dim} + {sub_dim}) AS qs
  FROM q, unnest(generate_series(0, {m - 1})) AS t(j)
),
qtab AS (
  SELECT u.j, c.code, ROUND({qdot}, 6) AS qdot
  FROM qsub u JOIN codebook c USING (j)
),
adc AS (
  SELECT codes.vec_id, ROUND(SUM(qdot), 5) AS adc
  FROM codes JOIN qtab USING (j, code) GROUP BY codes.vec_id
),
first_pass AS (
  SELECT vec_id FROM adc ORDER BY adc DESC, vec_id ASC LIMIT {rerank_top}
)
SELECT e.vec_id AS id, ROUND({cos}, 5)::DOUBLE AS score
FROM embeddings e JOIN first_pass USING (vec_id) CROSS JOIN q
ORDER BY score DESC, id ASC
LIMIT {k}
"""


# --- 1-bit quantization + Hamming first pass (RaBitQ analog) ----------------
# The reference's deepest compression point is RaBitQ: 1-bit codes
# scanned first, then an exact rerank of min(100*k, 2000) survivors
# (ref: nidx/nidx_vector/src/vector_types/rabitq.rs:30-36; gating
# config.rs:170-173). The batch-native analog: each vector's sign
# bits pack into two 32-bit words (dim 64 → 16 bytes of float32
# become 8 bytes of code, and the words live in ordinary BIGINT
# columns); the first pass ranks by Hamming similarity via
# bit_count(xor) — pure integer ops, bit-identical in any engine —
# and only the survivors pay full-precision cosine. Sign bits are a
# crude angle sketch, which is exactly why the rerank budget is 100×k
# in the reference.


def _sign_word(vec_col, lo: int, bits: int = 32):
    """BIGINT with bit j set iff vec[lo + j] >= 0 — an unrolled sum of
    disjoint powers of two (== bitwise OR; 2^31 max fits BIGINT).
    Unrolled Python-side: the shift amounts are compile-time
    constants, so no higher-order function is involved at all."""
    word = F.lit(0).cast("long")
    for j in range(bits):
        word = word + F.when(
            F.element_at(vec_col, lo + j + 1) >= 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return word


def rabitq_1bit_labeled(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    rerank_top: int = 50,
    dim: int = 64,
) -> DataFrame:
    """(id, score) — sign-bit codes, Hamming-similarity first pass,
    exact cosine rerank of `rerank_top` survivors (the reference uses
    min(100*k, 2000); at test scale a tighter budget keeps the funnel
    visible)."""
    assert dim == 64, "packing below is written for dim 64 (2x32 words)"
    emb = embeddings.select(
        "vec_id",
        "embedding",
        _sign_word(F.col("embedding"), 0).alias("w0"),
        _sign_word(F.col("embedding"), 32).alias("w1"),
    )
    q = query.select(
        "qvec",
        _sign_word(F.col("qvec"), 0).alias("q0"),
        _sign_word(F.col("qvec"), 32).alias("q1"),
    )
    hsim = F.lit(dim) - (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("q0")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
    )
    first = (
        emb.crossJoin(F.broadcast(q))
        .withColumn("hsim", hsim)
        .orderBy(F.col("hsim").desc(), F.col("vec_id").asc())
        .limit(rerank_top)
    )
    return (
        first.select(
            F.col("vec_id").alias("id"),
            F.round(V.cosine(F.col("embedding"), F.col("qvec")), 5)
            .cast(SCORE_TYPE)
            .alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def rabitq_1bit_labeled_sql(
    k: int = 10, rerank_top: int = 50, dim: int = 64
) -> str:
    cos = V.cosine_sql_unrolled("f.embedding", "f.qvec", dim)

    def word(src: str, lo: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN {src}[{lo + j + 1}] >= 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
            for j in range(32)
        )
        return f"({terms})"

    return f"""
WITH q AS (
  SELECT embedding AS qvec,
         {word('embedding', 0)} AS q0,
         {word('embedding', 32)} AS q1
  FROM embeddings WHERE vec_id = 0
),
first_pass AS (
  SELECT e.vec_id, e.embedding, q.qvec,
         {dim} - (bit_count(xor({word('e.embedding', 0)}, q.q0))
                  + bit_count(xor({word('e.embedding', 32)}, q.q1))) AS hsim
  FROM embeddings e CROSS JOIN q
  ORDER BY hsim DESC, e.vec_id ASC
  LIMIT {rerank_top}
)
SELECT f.vec_id AS id, ROUND({cos}, 5)::DOUBLE AS score
FROM first_pass f
ORDER BY score DESC, id ASC
LIMIT {k}
"""


# --- IVF cell maintenance plan ---------------------------------------------
# Ingest-time assignment (assign_cells) makes cells drift: hot cells
# grow past what one probe should scan, empty-ish cells waste probe
# budget. The maintenance planner is the vector-index analog of the
# text index's log-merge scheduler: split cells above a ceiling
# (re-train k'=2 inside the cell), merge cells below a floor into
# their nearest surviving neighbor. Pure plan output — applying it is
# a partitioned rewrite of only the named cells, like compact_table.


def ivf_cell_maintenance(
    vectors: DataFrame,
    split_above: int = 100,
    merge_below: int = 10,
    cell_col: str = "cluster_label",
) -> DataFrame:
    """(cell, n_vectors, action) for cells needing work — 'split' for
    oversized, 'merge' for under-filled; balanced cells are omitted
    (the plan is the worklist, not an inventory)."""
    sizes = vectors.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    return (
        sizes.select(
            "cell",
            "n_vectors",
            F.when(F.col("n_vectors") > split_above, F.lit("split"))
            .when(F.col("n_vectors") < merge_below, F.lit("merge"))
            .otherwise(F.lit("ok"))
            .alias("action"),
        )
        .filter(F.col("action") != "ok")
        .orderBy("cell")
    )


def ivf_cell_maintenance_sql(
    vectors_sql: str,
    split_above: int = 100,
    merge_below: int = 10,
    cell_col: str = "cluster_label",
) -> str:
    return f"""
WITH sizes AS (
  SELECT {cell_col} AS cell, COUNT(*)::BIGINT AS n_vectors
  FROM ({vectors_sql}) GROUP BY 1
)
SELECT cell, n_vectors,
       CASE WHEN n_vectors > {split_above} THEN 'split' ELSE 'merge' END AS action
FROM sizes
WHERE n_vectors > {split_above} OR n_vectors < {merge_below}
ORDER BY cell
"""


# --- geometric IVF (deterministic Voronoi cells) ----------------------------
# The fixture's `label` column is not geometric (query↔cell-centroid
# cosines ≈ 0), so label-based probes are parity demos only. These
# variants build REAL cells inside the query: every vector assigns to
# its nearest seed (the first k vectors by id — a deterministic
# Voronoi partition), so the probe provably concentrates the true
# neighbors and recall is measurable — and the whole thing stays
# oracle-exact (same rounded-cosine assignment rule as assign_cells).


def ivf_geometric_search(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """(id, score, cell) — IVF over Voronoi cells of the first
    n_cells vectors; probe by query↔seed cosine."""
    seeds = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    assigned = assign_cells(embeddings, seeds, keys=("vec_id",), vec_col="embedding")
    probe = (
        seeds.crossJoin(F.broadcast(query))
        .select(
            "cell",
            F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cell").asc())
        .limit(nprobe)
        .select("cell")
    )
    cand = assigned.join(
        F.broadcast(probe), assigned["cluster_label"] == probe["cell"]
    )
    raw = V.cosine(F.col("embedding"), F.col("qvec"))
    return (
        cand.crossJoin(F.broadcast(query))
        .select(
            F.col("vec_id").alias("id"),
            F.round(raw, 5).cast(SCORE_TYPE).alias("score"),
            F.col("cluster_label").alias("cell"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def _geometric_ctes(n_cells: int, nprobe: int, dim: int) -> str:
    cos_vs = V.cosine_sql_unrolled("e.embedding", "s.centroid", dim)
    cos_sq = V.cosine_sql_unrolled("s.centroid", "q.qvec", dim)
    return f"""
seeds AS (
  SELECT vec_id::INT AS cell, embedding AS centroid
  FROM embeddings WHERE vec_id < {n_cells}
),
scored_assign AS (
  SELECT e.vec_id, e.embedding, s.cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND({cos_vs}, 6) DESC, s.cell ASC) AS rn
  FROM embeddings e CROSS JOIN seeds s
),
assigned AS (SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
probe AS (
  SELECT s.cell FROM seeds s CROSS JOIN q
  ORDER BY ROUND({cos_sq}, 6) DESC, s.cell ASC
  LIMIT {nprobe}
)"""


def ivf_geometric_search_sql(
    query_vec_id: int = 33,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
) -> str:
    cos_eq = V.cosine_sql_unrolled("a.embedding", "q.qvec", dim)
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}),
{_geometric_ctes(n_cells, nprobe, dim)}
SELECT a.vec_id AS id, ROUND({cos_eq}, 5)::DOUBLE AS score, a.cell
FROM assigned a JOIN probe p ON a.cell = p.cell
CROSS JOIN q
ORDER BY score DESC, id ASC
LIMIT {k}
"""


def ivf_recall_report(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Recall CURVE (nprobe, n_hits, recall_e2) for nprobe = 1..n_cells:
    how many of the brute-force top-k the geometric probe recovers at
    each probe depth — the quality/cost dial as a graded artifact.

    On structureless (near-random) vectors the curve rises slowly —
    IVF only pays when data clusters, which is why the hard recall
    gate (tests/test_ann_recall.py, ≥0.95@5) runs over BUILT clusters
    while this query shows the dial on the fixture as-is."""
    raw = V.cosine(F.col("embedding"), F.col("qvec"))
    brute = (
        embeddings.crossJoin(F.broadcast(query))
        .select(F.col("vec_id").alias("id"), F.round(raw, 5).alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
        .select("id")
    )
    seeds = embeddings.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("centroid"),
    )
    assigned = assign_cells(embeddings, seeds, keys=("vec_id",), vec_col="embedding")
    from pyspark.sql import Window

    cell_rank = (
        seeds.crossJoin(F.broadcast(query))
        .select(
            "cell",
            F.round(V.cosine(F.col("centroid"), F.col("qvec")), 6).alias("csim"),
        )
        .select(
            "cell",
            F.row_number()
            .over(Window.orderBy(F.col("csim").desc(), F.col("cell").asc()))
            .alias("crank"),
        )
    )

    scored = (
        assigned.join(F.broadcast(cell_rank), assigned["cluster_label"] == cell_rank["cell"])
        .crossJoin(F.broadcast(query))
        .select(
            F.col("vec_id").alias("id"),
            F.round(V.cosine(F.col("embedding"), F.col("qvec")), 5).alias("score"),
            "crank",
        )
    )
    probes = scored.crossJoin(
        F.broadcast(
            scored.sparkSession.range(1, n_cells + 1).select(
                F.col("id").cast("int").alias("nprobe")
            )
        )
    ).filter(F.col("crank") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe").orderBy(F.col("score").desc(), F.col("id").asc())
    topk = probes.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    hits = topk.join(F.broadcast(brute), "id", "semi")
    return (
        hits.groupBy("nprobe")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .select(
            "nprobe",
            "n_hits",
            F.round(F.col("n_hits") * 100.0 / k).cast("long").alias("recall_e2"),
        )
        .orderBy("nprobe")
    )


def ivf_recall_report_sql(
    query_vec_id: int = 33,
    k: int = 10,
    n_cells: int = 8,
    dim: int = 64,
) -> str:
    cos_bq = V.cosine_sql_unrolled("e.embedding", "q.qvec", dim)
    cos_vs = V.cosine_sql_unrolled("e.embedding", "s.centroid", dim)
    cos_sq = V.cosine_sql_unrolled("s.centroid", "q.qvec", dim)
    cos_aq = V.cosine_sql_unrolled("a.embedding", "q.qvec", dim)
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}),
brute AS (
  SELECT e.vec_id AS id
  FROM embeddings e CROSS JOIN q
  ORDER BY ROUND({cos_bq}, 5) DESC, e.vec_id ASC
  LIMIT {k}
),
seeds AS (
  SELECT vec_id::INT AS cell, embedding AS centroid
  FROM embeddings WHERE vec_id < {n_cells}
),
scored_assign AS (
  SELECT e.vec_id, e.embedding, s.cell,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY ROUND({cos_vs}, 6) DESC, s.cell ASC) AS rn
  FROM embeddings e CROSS JOIN seeds s
),
assigned AS (SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
cell_rank AS (
  SELECT s.cell,
         ROW_NUMBER() OVER (ORDER BY ROUND({cos_sq}, 6) DESC, s.cell ASC) AS crank
  FROM seeds s CROSS JOIN q
),
scored AS (
  SELECT a.vec_id AS id, ROUND({cos_aq}, 5) AS score, cr.crank
  FROM assigned a JOIN cell_rank cr ON a.cell = cr.cell
  CROSS JOIN q
),
probes AS (
  SELECT sc.id, sc.score, p.nprobe
  FROM scored sc, unnest(generate_series(1, {n_cells})) AS p(nprobe)
  WHERE sc.crank <= p.nprobe
),
topk AS (
  SELECT id, nprobe,
         ROW_NUMBER() OVER (PARTITION BY nprobe
                            ORDER BY score DESC, id ASC) AS rn
  FROM probes
)
SELECT nprobe::INT AS nprobe, COUNT(*)::BIGINT AS n_hits,
       ROUND(COUNT(*) * 100.0 / {k})::BIGINT AS recall_e2
FROM topk
WHERE rn <= {k} AND id IN (SELECT id FROM brute)
GROUP BY nprobe
ORDER BY nprobe
"""


# --- adaptive probe widening for FILTERED ANN --------------------------------
# The known failure mode of filtered vector search: a restrictive
# prefilter leaves few candidates inside a fixed-nprobe probe, so
# recall collapses. Serving engines widen the search budget as the
# filter gets more selective (the reference's HNSW raises its
# exploration budget the same way; FAISS users raise nprobe). The
# rule here: nprobe_eff = clamp(ceil(base / selectivity), base, cap)
# with selectivity = |allowed| / |corpus| — expected in-filter
# candidates stay ~constant as the filter tightens.
#
# Fully declarative: the two counts are 1-row aggregates cross-joined
# in (broadcast); the probe ranks cells with a row_number window
# (bounded: n_cells rows) and keeps crank <= nprobe_eff — no
# driver-side count, no dynamic LIMIT.


def ivf_search_adaptive(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    allowed: DataFrame,
    total: DataFrame,
    k: int = 10,
    base_nprobe: int = 2,
    cap: int = 8,
    id_col: str = "rid",
    vec_col: str = "vector",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Filtered IVF top-k with selectivity-scaled probe depth.

    allowed: (rid) DataFrame of filter survivors; total: the
    unfiltered corpus frame (only its count is used)."""
    from pyspark.sql import Window

    sel = (
        allowed.agg(F.count("*").cast("double").alias("_na"))
        .crossJoin(total.agg(F.count("*").cast("double").alias("_nt")))
        .select(
            F.least(
                F.lit(cap),
                F.greatest(
                    F.lit(base_nprobe),
                    F.ceil(
                        base_nprobe
                        / F.greatest(F.col("_na") / F.col("_nt"), F.lit(1e-9))
                    ).cast("int"),
                ),
            ).alias("_np")
        )
    )
    w = Window.orderBy(
        F.round(F.col("csim"), 6).desc(), F.col("cell").asc()
    )
    probe = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            "cell",
            V.cosine(F.col("centroid"), F.col(query_vec_col)).alias("csim"),
        )
        .withColumn("crank", F.row_number().over(w))
        .crossJoin(F.broadcast(sel))
        .filter(F.col("crank") <= F.col("_np"))
        .select("cell")
    )
    candidates = (
        assigned.join(F.broadcast(probe), "cell")
        .join(allowed, id_col, "semi")
    )
    return knn.exact_knn(
        candidates,
        query,
        k=k,
        similarity="cosine",
        id_col=id_col,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
    )


def ivf_cells_adaptive_where_sql(
    vectors_sql: str,
    query_sql: str,
    dim: int,
    allowed_count_sql: str,
    total_count_sql: str,
    base_nprobe: int = 2,
    cap: int = 8,
    cell_col: str = "cluster_label",
    vec_col: str = "vector",
    query_vec_col: str = "qvec",
) -> str:
    """DuckDB twin of the adaptive probe: predicate fragment keeping
    the crank <= nprobe_eff cells. allowed_count_sql/total_count_sql:
    scalar COUNT subqueries."""
    cos_cq = V.cosine_sql_unrolled("c.centroid", f"q.{query_vec_col}", dim)
    return f"""{cell_col} IN (
  WITH vv AS ({vectors_sql}),
  pos AS (
    SELECT {cell_col} AS cell, unnest(generate_series(1, {dim})) AS pos,
           unnest({vec_col}) AS val
    FROM vv
  ),
  cent_long AS (SELECT cell, pos, AVG(val) AS m FROM pos GROUP BY cell, pos),
  centroids AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cent_long GROUP BY cell),
  sel AS (
    SELECT LEAST({cap}, GREATEST({base_nprobe},
             CAST(CEIL({base_nprobe} / GREATEST(
               ({allowed_count_sql})::DOUBLE / ({total_count_sql})::DOUBLE,
               1e-9)) AS INT))) AS np
  ),
  ranked AS (
    SELECT c.cell,
           ROW_NUMBER() OVER (ORDER BY ROUND({cos_cq}, 6) DESC, c.cell ASC)
             AS crank
    FROM centroids c CROSS JOIN ({query_sql}) q
  )
  SELECT cell FROM ranked, sel WHERE crank <= sel.np
)"""
