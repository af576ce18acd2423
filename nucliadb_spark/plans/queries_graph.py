"""Registry entries: graph search (SURVEY §2.5 G1/G2/G4/G5/G7)."""

from __future__ import annotations

from nucliadb_spark.functions.vector import cosine_sql_unrolled
from nucliadb_spark.operators import filters as fx
from nucliadb_spark.operators import graph as G
from nucliadb_spark.registry import register
from nucliadb_spark.sources import tpch

_R = tpch.SQL_RELATIONS


def _rel(spark, sf_dir):
    # session-cached sorted triple index, built once
    return tpch.relations_index(spark, sf_dir)


# --- G1: boolean path query, directed -------------------------------------

_PATH_Q = fx.And(
    [
        G.Node("customer:1", side="source", kind="prefix"),
        G.Relation("PLACED"),
    ]
)


@register("graph_path_prefix", G.path_search_sql(_R, _PATH_Q, top_k=50))
def graph_path_prefix(spark, sf_dir):
    return G.path_search(_rel(spark, sf_dir), _PATH_Q, top_k=50)


# --- G1 undirected + G2 FULL match -----------------------------------------

_UNDIRECTED_Q = G.Node("order:1", side="any", kind="full")


@register("graph_path_undirected", G.path_search_sql(_R, _UNDIRECTED_Q, top_k=50))
def graph_path_undirected(spark, sf_dir):
    return G.path_search(_rel(spark, sf_dir), _UNDIRECTED_Q, top_k=50)


# --- G2: fuzzy node match (levenshtein<=1) ---------------------------------

_FUZZY_Q = G.Node("suplier:33", side="target", kind="fuzzy")


@register("graph_node_fuzzy", G.path_search_sql(_R, _FUZZY_Q, top_k=50))
def graph_node_fuzzy(spark, sf_dir):
    return G.path_search(_rel(spark, sf_dir), _FUZZY_Q, top_k=50)


# --- G2: WORDS node match + boolean NOT ------------------------------------

_WORDS_Q = fx.And(
    [
        G.Node("part", side="source", kind="words"),
        fx.Not(G.Relation("CONTAINS")),
    ]
)


@register("graph_node_words", G.path_search_sql(_R, _WORDS_Q, top_k=50))
def graph_node_words(spark, sf_dir):
    return G.path_search(_rel(spark, sf_dir), _WORDS_Q, top_k=50)


# --- G4: nodes projection ---------------------------------------------------

_NODES_Q = G.Relation("SUPPLIED_BY")


@register("graph_nodes_projection", G.nodes_projection_sql(_R, _NODES_Q, top_k=50))
def graph_nodes_projection(spark, sf_dir):
    return G.nodes_projection(_rel(spark, sf_dir), _NODES_Q, top_k=50)


# --- G4: relations projection -----------------------------------------------


@register("graph_relations_projection", G.relations_projection_sql(_R))
def graph_relations_projection(spark, sf_dir):
    return G.relations_projection(_rel(spark, sf_dir))


# --- G5: entity neighborhood -------------------------------------------------

_ENTITIES = ["customer:5", "part:7", "supplier:3"]


@register("graph_neighborhood", G.neighborhood_sql(_R, _ENTITIES, top_k=100))
def graph_neighborhood(spark, sf_dir):
    return G.neighborhood(_rel(spark, sf_dir), _ENTITIES, top_k=100)


# --- G3: semantic node match — KNN ids feed the graph query -----------------


@register(
    "graph_semantic_nodes",
    f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
knn AS (
  SELECT e.vec_id AS id
  FROM embeddings e CROSS JOIN q
  ORDER BY ROUND({{cos}}, 5) DESC, e.vec_id ASC
  LIMIT 5
),
relations AS ({_R})
SELECT r.source_value, r.relation_label, r.target_value
FROM relations r
JOIN knn k ON r.source_value = concat('part:', k.id)
ORDER BY r.source_value, r.relation_label, r.target_value
LIMIT 50
""".replace("{cos}", cosine_sql_unrolled("e.embedding", "q.qvec", 64)),
)
def graph_semantic_nodes(spark, sf_dir):
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import knn as knn_op

    e = tpch.table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    top = knn_op.exact_knn(
        e.select(F.col("vec_id").alias("rid"), F.col("embedding").alias("vector")),
        q,
        k=5,
        similarity="cosine",
    ).select(F.concat(F.lit("part:"), F.col("id")).alias("source_value"))
    r = _rel(spark, sf_dir)
    return (
        r.join(F.broadcast(top), "source_value")
        .select("source_value", "relation_label", "target_value")
        .orderBy("source_value", "relation_label", "target_value")
        .limit(50)
    )


# --- G6: graph paths → text blocks (paragraph provenance join) --------------
# ref: retrieval.py:42,172-206 — paths carry metadata.paragraph_id;
# the paragraphs they support become a third retriever with constant
# score 1.0.


@register(
    "graph_text_blocks",
    f"""
WITH relations AS ({_R}),
paragraphs AS ({tpch.SQL_PARAGRAPHS}),
hits AS (
  SELECT DISTINCT r.paragraph_id
  FROM relations r
  WHERE r.relation_label = 'SUPPLIED_BY'
    AND r.source_value IN ('part:3', 'part:17', 'part:501')
    AND r.paragraph_id IS NOT NULL
)
SELECT p.paragraph_id, p.text, 1.0::DOUBLE AS score
FROM paragraphs p
JOIN hits h ON p.paragraph_id = h.paragraph_id
ORDER BY p.paragraph_id
""",
)
def graph_text_blocks(spark, sf_dir):
    from pyspark.sql import functions as F

    r = _rel(spark, sf_dir)
    hits = (
        r.filter(
            (F.col("relation_label") == "SUPPLIED_BY")
            & F.col("source_value").isin("part:3", "part:17", "part:501")
            & F.col("paragraph_id").isNotNull()
        )
        .select("paragraph_id")
        .distinct()
    )
    p = tpch.paragraphs(spark, sf_dir)
    return (
        p.join(F.broadcast(hits), "paragraph_id")
        .select("paragraph_id", "text", F.lit(1.0).alias("score"))
        .orderBy("paragraph_id")
    )


# --- G7 (bounded): 2-hop expansion customer→order→part ----------------------

_START = fx.And(
    [G.Node("customer:12", side="source", kind="full"), G.Relation("PLACED")]
)


@register("graph_two_hop", G.two_hop_sql(_R, _START, top_k=100))
def graph_two_hop(spark, sf_dir):
    return G.two_hop(_rel(spark, sf_dir), _START, top_k=100)


# --- G7 proper: bounded iterative expand-and-rerank strategy ---------------
# ref: nucliadb/src/nucliadb/search/search/graph_strategy.py:315-466

_STRATEGY_Q = "customr 12 supplier part"


@register(
    "graph_strategy_hops",
    G.strategy_search_sql(_R, _STRATEGY_Q, hops=2, top_k=20),
)
def graph_strategy_hops(spark, sf_dir):
    return G.strategy_search(_rel(spark, sf_dir), _STRATEGY_Q, hops=2, top_k=20)


# --- semantic path search over node + edge embeddings -----------------------
# ref: nidx/tests/integration/vector_relation_index.rs — node values
# map to the embeddings table (part:{k} ↔ vec_id k % 500, present at
# every sf); the three relation labels carry edge vectors 11/12/13;
# query vector = vec_id 7 (so part:7 is an exact semantic self-match).

_NODE_VECS_SQL = (
    "SELECT concat('part:', p_partkey) AS value, embedding AS vector "
    "FROM part JOIN embeddings ON vec_id = p_partkey % 500"
)
_EDGE_VECS_SQL = (
    "SELECT t.l AS label, embedding AS vector "
    "FROM (VALUES ('SUPPLIED_BY', 11), ('CONTAINS', 12), ('PLACED', 13)) t(l, vid) "
    "JOIN embeddings ON vec_id = t.vid"
)
_GQVEC_SQL = "SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7"


@register(
    "graph_semantic_paths",
    G.semantic_path_search_sql(
        _R, _NODE_VECS_SQL, _EDGE_VECS_SQL, _GQVEC_SQL,
        dim=64, min_node=0.2, min_edge=0.2, top_k=50,
    ),
)
def graph_semantic_paths(spark, sf_dir):
    from pyspark.sql import functions as F

    part = tpch.table(spark, sf_dir, "part")
    emb = tpch.table(spark, sf_dir, "embeddings")
    node_vecs = part.join(
        emb, emb["vec_id"] == part["p_partkey"] % 500
    ).select(
        F.concat(F.lit("part:"), F.col("p_partkey")).alias("value"),
        F.col("embedding").alias("vector"),
    )
    from nucliadb_spark.functions import frames

    labels = frames.literal_frame(
        spark, [("SUPPLIED_BY", 11), ("CONTAINS", 12), ("PLACED", 13)], "l string, vid int"
    )
    edge_vecs = labels.join(emb, emb["vec_id"] == labels["vid"]).select(
        F.col("l").alias("label"), F.col("embedding").alias("vector")
    )
    qvec = emb.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qvec")
    )
    return G.semantic_path_search(
        _rel(spark, sf_dir), node_vecs, edge_vecs, qvec,
        min_node=0.2, min_edge=0.2, top_k=50,
    )


# --- entities service, served from the relation index ---------------------
# (EntitiesManager: undirected NODES search for one group's members,
#  /e-facet scan for the group names — ingest/orm/entities.py:84-168)

from nucliadb_spark.operators import entities as E  # noqa: E402


@register(
    "entities_group_members",
    E.entities_group_members_sql(_R, "PART"),
)
def entities_group_members(spark, sf_dir):
    return E.entities_group_members(_rel(spark, sf_dir), "PART")


@register("entities_groups", E.entities_groups_summary_sql(_R))
def entities_groups(spark, sf_dir):
    return E.entities_groups_summary(_rel(spark, sf_dir))


# --- G1 × F1/F5: filtered graph search (r12) --------------------------------
# The reference's BaseGraphSearchRequest carries filter_expression
# ("returns only relations from documents that match") and security
# (nucliadb_models/graph/requests.py:148-163); nidx applies them as a
# prefilter on the relation index's resource docs
# (nidx/nidx_relation/src/reader.rs:261-271 apply_prefilter). Batch
# shape: allowed rids from the filter tree over the resource
# metadata, semijoined against each triple's provenance resource
# BEFORE the path predicate — the graph twin of find's prefilter.

_FILTERED_PATH_Q = fx.And(
    [
        G.Node("part:", side="source", kind="prefix"),
        G.Relation("SUPPLIED_BY"),
    ]
)
_GRAPH_FILTER = fx.And(
    [fx.Facet("/s/p/en"), fx.SecurityFilter(groups=["group-3"])]
)


def _graph_path_filtered_oracle() -> str:
    allowed = (
        f"SELECT rid FROM ({tpch.SQL_FIELDS}) WHERE {_GRAPH_FILTER.to_sql()}"
    )
    rel_sql = f"""
SELECT * FROM ({_R})
WHERE paragraph_id IS NOT NULL
  AND CAST(string_split(paragraph_id, '/')[1] AS BIGINT) IN ({allowed})
"""
    return G.path_search_sql(rel_sql, _FILTERED_PATH_Q, top_k=50)


# a MID-LOCKDOWN cut: the metadata lockdown wave (rid%7 → private /
# 'group-locked' at seq rid+1e6) has applied only for rid <= 30, so
# some provenance resources a group-3 request could see before their
# lockdown are already hidden while later-locked ones are still
# visible — the snapshot's security state differs observably from
# both the pre-wave and the fully-locked state
_GRAPH_ASOF_SEQ = 1_000_030


def _graph_path_filtered_as_of_oracle() -> str:
    from nucliadb_spark.streaming import ingest

    labels_asof = ingest.cdc_labels_live_sql(
        tpch.SQL_FIELDS, as_of=_GRAPH_ASOF_SEQ
    )
    meta_asof = ingest.cdc_meta_live_sql(
        tpch.SQL_FIELDS, as_of=_GRAPH_ASOF_SEQ
    )
    allowed = f"""
SELECT rid FROM ({labels_asof}) l JOIN ({meta_asof}) m USING (rid)
WHERE {_GRAPH_FILTER.to_sql()}
"""
    live_rel = ingest.cdc_relations_live_sql(_R)
    anchor = ") WHERE rn = 1 AND op = 'upsert'"
    assert live_rel.count(anchor) == 1, "cdc_relations_live_sql shape changed"
    rel_asof = live_rel.replace(
        anchor, f"WHERE seq <= {_GRAPH_ASOF_SEQ}{anchor}"
    )
    rel_sql = f"""
SELECT * FROM ({rel_asof})
WHERE paragraph_id IS NOT NULL
  AND CAST(string_split(paragraph_id, '/')[1] AS BIGINT) IN ({allowed})
"""
    return G.path_search_sql(rel_sql, _FILTERED_PATH_Q, top_k=50)


@register("graph_path_filtered_as_of", _graph_path_filtered_as_of_oracle())
def graph_path_filtered_as_of(spark, sf_dir):
    """G1 × F1/F5 × as_of — filtered graph search AT A SNAPSHOT (the
    r13 verdict's plane-symmetry item): the path predicate runs over
    the relation set AS OF the seq while the prefilter's allowed set
    resolves from the SAME cut — the label facet from the seq-cut
    label log, security from the seq-cut METADATA log (the lockdown
    wave is mid-flight at this cut, so a group-3 request sees
    resources whose lockdown lands after the snapshot and no longer
    sees ones locked before it — today's groups would get both
    wrong). Every plane serves from the shared physical substrate
    sidecars (api.asof_live_state families 'relations'/'labels'/
    'meta' — the find path's exact states, reused). Reference
    anchors: BaseGraphSearchRequest.filter_expression + security
    (nucliadb_models/graph/requests.py:148-163), applied by nidx as a
    prefilter on the relation index's resource docs
    (nidx/nidx_relation/src/reader.rs:261-271) — at a snapshot the
    reference cannot express."""
    from pyspark.sql import functions as F

    from nucliadb_spark import api
    from nucliadb_spark.streaming import ingest

    fields = tpch.fields(spark, sf_dir)
    rel = api.asof_live_state(
        spark,
        sf_dir,
        "relations",
        _GRAPH_ASOF_SEQ,
        lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
        ingest.RELATIONS.resolve,
        ingest.RELATIONS.keys,
    )
    label_state = api.asof_live_state(
        spark,
        sf_dir,
        "labels",
        _GRAPH_ASOF_SEQ,
        lambda: ingest.cdc_label_log(fields.select("rid", "labels")),
        ingest.LABELS.resolve,
        ingest.LABELS.keys,
    )
    meta_state = api.asof_live_state(
        spark,
        sf_dir,
        "meta",
        _GRAPH_ASOF_SEQ,
        lambda: ingest.cdc_meta_log(fields),
        ingest.META.resolve,
        ingest.META.keys,
    )
    # the same mixed-plane composition find_request uses: plane
    # states joined by rid, the whole tree evaluated once
    snap = label_state.join(meta_state, "rid")
    allowed = snap.filter(_GRAPH_FILTER.to_column()).select(
        F.col("rid").alias("prov_rid")
    )
    rel_f = (
        rel.filter(F.col("paragraph_id").isNotNull())
        .withColumn(
            "prov_rid",
            F.split("paragraph_id", "/").getItem(0).cast("long"),
        )
        .join(allowed, "prov_rid", "semi")
        .drop("prov_rid")
    )
    return G.path_search(rel_f, _FILTERED_PATH_Q, top_k=50)


@register("graph_path_filtered", _graph_path_filtered_oracle())
def graph_path_filtered(spark, sf_dir):
    """Graph path search restricted by the request's filter tree +
    security groups: only triples whose PROVENANCE resource (the
    document the relation was extracted from, RelationMetadata.
    paragraph_id → rid) satisfies (lang en AND group-3-visible)
    match. The allowed set is one filter over the resource metadata
    semijoined by provenance rid — AQE picks broadcast vs shuffle;
    the path predicate runs after the prefilter, exactly nidx's
    apply_prefilter ordering."""
    from pyspark.sql import functions as F

    rel = _rel(spark, sf_dir)
    allowed = (
        tpch.fields(spark, sf_dir)
        .filter(_GRAPH_FILTER.to_column())
        .select(F.col("rid").alias("prov_rid"))
    )
    rel_f = (
        rel.filter(F.col("paragraph_id").isNotNull())
        .withColumn(
            "prov_rid",
            F.split("paragraph_id", "/").getItem(0).cast("long"),
        )
        .join(allowed, "prov_rid", "semi")
        .drop("prov_rid")
    )
    return G.path_search(rel_f, _FILTERED_PATH_Q, top_k=50)
