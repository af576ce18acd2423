"""The flagship /find hybrid-retrieval pipeline (SURVEY §3.1).

Composes the §2 operators exactly like the reference's query
lifecycle (ref: nucliadb/src/nucliadb/search/search/find.py:65,
retrieval.py:46 text_block_search, find_merge.py:58):

  prefilter → { keyword BM25 | semantic KNN | graph (constant 1.0,
  ref retrieval.py:172-206) } → RRF (k=60) window cut → hydration
  join → top_k

Window algebra (ref parsers/common.py:222-247, find.py:130-135):
rank_fusion.window = min(max(requested, top_k), 500); the noop
reranker (rerankers.py:99-120) cuts to top_k.

Physical shape: the three retrievers are independent DataFrame DAGs
over corpus-sized tables, each ending in a ≤window-row top-k; fusion
and hydration then run on ≤3·window rows — the expensive work
parallelizes per retriever, the fusion tail is negligible at any
scale. Hydration is a broadcast join of the tiny fused id set against
the documents table (J3) with char-offset snippet extraction (J4,
ref reader.rs:496-654).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nucliadb_spark.cache import cached_df, memo, request_key
from nucliadb_spark.operators import ann as ann_ops
from nucliadb_spark.operators import bm25, fusion, knn
from nucliadb_spark.operators.filters import Expr, _sql_quote
from nucliadb_spark.sources import tpch

MAX_RANK_FUSION_WINDOW = 500  # ref: nucliadb_models/search.py:352


def fusion_window(requested: int, top_k: int) -> int:
    return min(max(requested, top_k), MAX_RANK_FUSION_WINDOW)


def stub_embedding_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rid, embedding) stub-embedding sidecar over documents —
    session-cached index-build artifact shared by find(rephrase=True)
    and cross-modal search (the Predict-embedding analog of the
    prebuilt vector segment)."""
    from nucliadb_spark.functions import models

    return cached_df(
        sf_dir,
        "stub_doc_embeddings",
        lambda: tpch.table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("rid"),
            models.stub_embedding(F.col("text")).alias("embedding"),
        ),
        pinned=True,
    )


def find(spark: SparkSession, sf_dir: str, query: str, **kw) -> DataFrame:
    """Memoized ``_build_find``: repeats of the same call reuse the
    built plan handle. DataFrame arguments (prebuilt index sidecars)
    key by identity — the session cache returns the same frame per
    (sf_dir, name), so repeats hit."""
    return memo(
        "find",
        request_key(sf_dir, query, sorted(kw.items())),
        lambda: _build_find(spark, sf_dir, query, **kw),
        bound=256,
    )


def _build_find(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    query_vec_id: int = 0,
    entity_sources: list[str] | None = None,
    top_k: int = 10,
    window: int = 50,
    min_score: float | None = None,
    prefilter: Expr | None = None,
    weights: dict[str, float] | None = None,
    dim: int = 64,
    post: DataFrame | None = None,
    stats: DataFrame | None = None,
    corpus: DataFrame | None = None,
    vocab: DataFrame | None = None,
    ann: str = "exact",
    nprobe: int = 2,
    rephrase: bool = False,
    served: bool = False,
) -> DataFrame:
    """Hybrid find → (id, score, matched_sources, language, source, snippet).

    served=True changes what a prefilter means for the keyword leg:
    instead of rebuilding postings/df/avgdl from the filtered corpus
    (an index build per query — never viable at 100 TB), the filter
    becomes an ``allowed`` rid set semijoined into the prebuilt
    index's scoring scan while corpus statistics stay GLOBAL —
    exactly tantivy's serve-time prefilter
    (ref: nidx/nidx_text/src/reader.rs:148-180). The vector leg is
    identical in both modes (candidate restriction only). The
    rebuild mode is kept as the per-shard-stats parity query.

    rephrase=True mirrors the reference's Predict rephrase step
    (search/search/query.py:78-79): the query text is rewritten
    (deterministic stub) and the REWRITTEN text is what gets embedded
    for the semantic leg — the keyword leg still sees the user's
    original query, exactly the reference's split. The rephrased
    semantic leg runs in the stub-embedding space over documents
    (fetcher.get_query_vector analog).

    ann="ivf" serves the semantic leg from the prebuilt IVF cell
    assignment (cluster_label) + session-cached centroids instead of a
    brute-force full scan — the probe-limited serving shape of the
    reference's HNSW search (nidx/nidx_vector/src/searcher.rs:300-312).
    At 100 TB this is the only viable flagship plan: the vectors table
    is partitioned by cell and a query reads nprobe/n_cells of it.
    """
    win = fusion_window(window, top_k)
    fields = tpch.fields(spark, sf_dir)
    vectors = tpch.vectors(spark, sf_dir)

    # r14 optimization: the old driver-side prefilter_mode fast paths
    # (count the filtered corpus per request, short-circuit empty /
    # all-matching trees) paid a BLOCKING extra scan+count job on
    # EVERY prefiltered request to special-case two degenerate inputs
    # the normal plan answers identically anyway (empty allowed set →
    # empty legs → empty result; all-matching filter → same corpus).
    # At 100 TB that synchronous pre-count is a full corpus pass
    # before the query starts (guide §5: the driver should do almost
    # no data work). planner.prefilter_mode remains the offline
    # planning rule (tests/test_planner_units.py).

    qvec = (
        tpch.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qvec"))
    )

    allowed = None
    if prefilter is not None:
        # computed once; shared by the keyword (served mode), vector
        # and graph legs — unbounded id set, AQE picks join strategy
        allowed = fields.filter(prefilter.to_column()).select("rid")

    if prefilter is not None and served:
        keyword = bm25.bm25_search(
            fields, query, top_k=win, mode="any", allowed=allowed,
            post=post, stats=stats, corpus=corpus, vocab=vocab,
        ).select(F.col("rid").alias("id"), "score")
    else:
        keyword = bm25.bm25_search(
            fields, query, top_k=win, mode="any", prefilter=prefilter,
            post=post if prefilter is None else None,
            stats=stats if prefilter is None else None,
            corpus=corpus if prefilter is None else None,
            vocab=vocab if prefilter is None else None,
        ).select(F.col("rid").alias("id"), "score")

    if ann == "ivf":
        # centroids are index-build output: built once per session from
        # the FULL corpus (like the prebuilt segment graph), filters
        # apply to candidates only
        centroids = cached_df(
            sf_dir,
            "ivf_centroids",
            lambda: ann_ops.cell_centroids(vectors),
            pinned=True,
        )
        probe = ann_ops.probe_cells(centroids, qvec, nprobe=nprobe)
        vectors = vectors.join(
            F.broadcast(probe), vectors["cluster_label"] == probe["cell"], "inner"
        ).drop("cell")
    if allowed is not None:
        vectors = vectors.join(allowed, "rid", "semi")
    if rephrase:
        from nucliadb_spark.functions import models

        qtext = models.stub_rephrase_py(query)
        # embeddings are an index-build artifact, not per-query work:
        # the stub-embedding sidecar is built once per session (the
        # analog of the prebuilt vector segment) and every rephrased
        # query scores against it — never a corpus-wide UDF pass per
        # query
        emb_docs = stub_embedding_sidecar(spark, sf_dir)
        if prefilter is not None:
            emb_docs = emb_docs.join(allowed, "rid", "semi")
        # driver-side query embedding inlined as a literal frame — the
        # createDataFrame+UDF form cost one Python worker per slice
        # for a 1-row frame (guide §4; r14 baseline: 32-task stage,
        # 88.7 s summed run / 0.5 s cpu, plans/r14/find_rephrased_before.txt)
        from nucliadb_spark.functions import frames

        qvec_stub = frames.literal_frame(
            spark, [(models._hash_embed(qtext),)], "qvec array<double>"
        )
        semantic = knn.exact_knn(
            emb_docs,
            qvec_stub,
            k=win,
            similarity="cosine",
            min_score=min_score,
            vec_col="embedding",
        )
    else:
        semantic = knn.exact_knn(
            vectors, qvec, k=win, similarity="cosine", min_score=min_score
        )

    sources = {"keyword": keyword, "semantic": semantic}
    if entity_sources:
        # graph text blocks carry constant score 1.0
        # (ref: retrieval.py:42,172-206)
        gdf = fields
        if prefilter is not None:
            gdf = gdf.filter(prefilter.to_column())
        graph = (
            gdf.filter(F.col("source").isin(entity_sources))
            .select(F.col("rid").alias("id"), F.lit(1.0).alias("score"))
            .orderBy("id")
            .limit(win)
        )
        sources["graph"] = graph

    fused = fusion.rrf(sources, weights=weights, top_k=top_k)

    docs = tpch.table(spark, sf_dir, "documents")
    return (
        fused.join(
            docs.select(
                F.col("doc_id").cast("long").alias("id"),
                F.col("lang").alias("language"),
                "source",
                F.substring("text", 1, 120).alias("snippet"),
            ),
            "id",
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .select(
            "id",
            "score",
            # driver output contract: scalar columns only — CSV-join the
            # source list (fusion keeps the array internally)
            F.array_join("matched_sources", ",").alias("matched_sources"),
            "language",
            "source",
            "snippet",
        )
    )


def retrieve(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    query_vec_id: int = 0,
    entity_sources: list[str] | None = None,
    top_k: int = 10,
    window: int = 50,
    post: DataFrame | None = None,
    stats: DataFrame | None = None,
    corpus: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """The /retrieve endpoint analog (ref nucliadb/src/nucliadb/search/
    api/v1/retrieve.py + search/search/retrieval.py:46 text_block_search):
    same fused text-block search as find(), but each match carries its
    score *history* — the per-index scores (KeywordScore / SemanticScore
    / GraphScore, nucliadb_models/retrieval.py:169-213) plus the fused
    RRF value the noop reranker passes through as the final score.

    Output: (id, score, keyword_score, semantic_score[, graph_score],
    matched_sources) — per-source columns are NULL when that index
    didn't return the id. Physically identical to find(): independent
    top-k retriever DAGs, fusion on ≤3·window rows.
    """
    win = fusion_window(window, top_k)
    fields = tpch.fields(spark, sf_dir)
    vectors = tpch.vectors(spark, sf_dir)
    qvec = (
        tpch.table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qvec"))
    )
    keyword = bm25.bm25_search(
        fields, query, top_k=win, mode="any",
        post=post, stats=stats, corpus=corpus, vocab=vocab,
    ).select(F.col("rid").alias("id"), "score")
    semantic = knn.exact_knn(vectors, qvec, k=win, similarity="cosine")
    sources = {"keyword": keyword, "semantic": semantic}
    if entity_sources:
        graph = (
            fields.filter(F.col("source").isin(entity_sources))
            .select(F.col("rid").alias("id"), F.lit(1.0).alias("score"))
            .orderBy("id")
            .limit(win)
        )
        sources["graph"] = graph
    fused = fusion.rrf_with_scores(sources, top_k=top_k)
    return fused.select(
        "id",
        "score",
        *[f"{n}_score" for n in sorted(sources)],
        F.array_join("matched_sources", ",").alias("matched_sources"),
    )


def retrieve_sql(
    query: str,
    query_vec_id: int = 0,
    entity_sources: list[str] | None = None,
    top_k: int = 10,
    window: int = 50,
) -> str:
    """DuckDB twin of :func:`retrieve`."""
    win = fusion_window(window, top_k)
    keyword = (
        f"SELECT rid AS id, score FROM ({bm25.bm25_sql(tpch.SQL_FIELDS, query, top_k=win, mode='any')})"
    )
    semantic = knn.exact_knn_sql(
        tpch.SQL_VECTORS,
        f"SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}",
        64,
        k=win,
        similarity="cosine",
    )
    sources_sql = {"keyword": keyword, "semantic": semantic}
    if entity_sources:
        lst = ", ".join(_sql_quote(s) for s in entity_sources)
        sources_sql["graph"] = f"""
SELECT rid AS id, 1.0 AS score
FROM ({tpch.SQL_FIELDS}) f
WHERE source IN ({lst})
ORDER BY id
LIMIT {win}
"""
    fused = fusion.rrf_with_scores_sql(sources_sql, top_k=top_k)
    score_cols = ", ".join(f"{n}_score" for n in sorted(sources_sql))
    return f"""
WITH fused AS ({fused})
SELECT id, score, {score_cols},
       array_to_string(matched_sources, ',') AS matched_sources
FROM fused
ORDER BY score DESC, id ASC
"""


def find_sql(
    query: str,
    query_vec_id: int = 0,
    entity_sources: list[str] | None = None,
    top_k: int = 10,
    window: int = 50,
    min_score: float | None = None,
    where: str | None = None,
    weights: dict[str, float] | None = None,
    dim: int = 64,
    ann: str = "exact",
    nprobe: int = 2,
    rephrase_text: str | None = None,
    served: bool = False,
) -> str:
    """DuckDB twin of :func:`find` (same window algebra & pipeline).

    rephrase_text: the ALREADY-REPHRASED query literal (the stub is a
    pure Python function, so the caller inlines its output); when set
    the semantic leg scores the stub-embedding space over documents.

    served=True mirrors find(served=True): the keyword leg's filter
    restricts candidates only (bm25_sql served_where), df/N/avgdl
    stay global."""
    win = fusion_window(window, top_k)
    if served and where is not None:
        kw_sql = bm25.bm25_sql(
            tpch.SQL_FIELDS, query, top_k=win, mode="any", served_where=where
        )
    else:
        kw_sql = bm25.bm25_sql(
            tpch.SQL_FIELDS, query, top_k=win, mode="any", where=where
        )
    keyword = f"SELECT rid AS id, score FROM ({kw_sql})"
    vec_conds = []
    if ann == "ivf":
        vec_conds.append(
            ann_ops.ivf_cells_where_sql(
                tpch.SQL_VECTORS,
                f"SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}",
                dim,
                nprobe=nprobe,
            )
        )
    if where is not None:
        vec_conds.append(
            f"rid IN (SELECT rid FROM ({tpch.SQL_FIELDS}) f WHERE {where})"
        )
    vec_where = " AND ".join(vec_conds) if vec_conds else None
    if rephrase_text is not None:
        from nucliadb_spark.functions import models

        emb_where = (
            f"rid IN (SELECT rid FROM ({tpch.SQL_FIELDS}) f WHERE {where})"
            if where is not None
            else None
        )
        semantic = knn.exact_knn_sql(
            "SELECT CAST(doc_id AS BIGINT) AS rid, "
            f"{models.stub_embedding_sql('text')} AS embedding FROM documents",
            f"SELECT {models.stub_embedding_sql(_sql_quote(rephrase_text))} AS qvec",
            models.STUB_DIM,
            k=win,
            similarity="cosine",
            min_score=min_score,
            where=emb_where,
            vec_col="embedding",
        )
    else:
        semantic = knn.exact_knn_sql(
            tpch.SQL_VECTORS,
            f"SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}",
            dim,
            k=win,
            similarity="cosine",
            min_score=min_score,
            where=vec_where,
        )
    sources_sql = {"keyword": keyword, "semantic": semantic}
    if entity_sources:
        lst = ", ".join(_sql_quote(s) for s in entity_sources)
        gwhere = f"AND ({where})" if where else ""
        sources_sql["graph"] = f"""
SELECT rid AS id, 1.0 AS score
FROM ({tpch.SQL_FIELDS}) f
WHERE source IN ({lst}) {gwhere}
ORDER BY id
LIMIT {win}
"""
    fused = fusion.rrf_sql(sources_sql, weights=weights, top_k=top_k)
    return f"""
WITH fused AS ({fused})
SELECT fused.id, fused.score,
       array_to_string(fused.matched_sources, ',') AS matched_sources,
       d.lang AS language, d.source, substring(d.text, 1, 120) AS snippet
FROM fused
JOIN documents d ON fused.id = CAST(d.doc_id AS BIGINT)
ORDER BY fused.score DESC, fused.id ASC
"""
