"""Registry entries: the remaining dataset.proto task types
(SENTENCE/TOKEN/IMAGE classification, PARAGRAPH/QA/FIELD streaming —
ref nucliadb_protos/dataset.proto:9-18, train/generators/*.py) plus
training-pipeline ops (deterministic stratified sampling, one-pass
clean-corpus composition) and time-series operators over events
(as-of join, multi-grain rollup, exact percentiles)."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from nucliadb_spark.functions.text import md5_int60_sql, tokenize_sql
from nucliadb_spark.operators import dedup, multimodal, timeseries, trainset
from nucliadb_spark.operators.dedup import token_set_fingerprint, token_set_fingerprint_sql
from nucliadb_spark.registry import register
from nucliadb_spark.sources import tpch

_EVENTS_SQL = "SELECT event_id, ts, user_id, event_type, value FROM events"


def _events(spark, sf_dir):
    return tpch.table(spark, sf_dir, "events")


# --- SENTENCE_CLASSIFICATION (dataset.proto:12) -----------------------------


@register(
    "export_sentence_classification",
    f"""
WITH s AS ({trainset.sentences_sql(tpch.SQL_PARAGRAPHS)}),
fields AS ({tpch.SQL_FIELDS})
SELECT s.sentence_id AS sentence_id, s.paragraph_id AS paragraph_id,
       s.text AS text, array_to_string(f.labels, ',') AS labels
FROM s JOIN fields f ON s.rid = f.rid
ORDER BY sentence_id
""",
)
def export_sentence_classification(spark, sf_dir):
    """S6/SENTENCE_CLASSIFICATION: sentence windows labeled from the
    parent field (generators/sentence_classifier.py:44-103)."""
    s = trainset.sentences(tpch.paragraphs(spark, sf_dir))
    f = tpch.fields(spark, sf_dir).select(
        "rid", F.array_join("labels", ",").alias("labels")
    )
    return (
        s.join(f, "rid")
        .select("sentence_id", "paragraph_id", "text", "labels")
        .orderBy("sentence_id")
    )


# --- TOKEN_CLASSIFICATION (dataset.proto:13) --------------------------------


@register(
    "export_token_classification",
    trainset.token_classification_sql(tpch.SQL_FIELDS) + " ORDER BY rid",
)
def export_token_classification(spark, sf_dir):
    """S6/TOKEN_CLASSIFICATION: BIO tag sequences over the shared
    tokenizer (generators/token_classifier.py:44-117). Shuffle-free:
    one codegen'd scan with per-row array transforms."""
    return trainset.token_classification(tpch.fields(spark, sf_dir)).orderBy("rid")


# --- QUESTION_ANSWER_STREAMING (dataset.proto:16) ---------------------------


@register(
    "export_question_answer",
    trainset.question_answer_sql(tpch.SQL_FIELDS, tpch.SQL_PARAGRAPHS)
    + " ORDER BY rid",
)
def export_question_answer(spark, sf_dir):
    """S6/QUESTION_ANSWER_STREAMING: one QA pair per field with
    paragraph provenance (generators/question_answer_streaming.py)."""
    return trainset.question_answer(
        tpch.fields(spark, sf_dir), tpch.paragraphs(spark, sf_dir)
    ).orderBy("rid")


# --- IMAGE_CLASSIFICATION (dataset.proto:14) --------------------------------


@register(
    "export_image_classification",
    trainset.image_classification_sql(
        multimodal.MEDIA_FROM_DOCUMENTS_SQL, tpch.SQL_FIELDS
    )
    + " ORDER BY media_id",
)
def export_image_classification(spark, sf_dir):
    """S6/IMAGE_CLASSIFICATION: image-typed media + resource labels
    (generators/image_classifier.py:38-89); payload identity travels
    as (n_bytes, md5), binary stays out of the output contract."""
    docs = tpch.table(spark, sf_dir, "documents")
    return trainset.image_classification(
        multimodal.media_from_documents(docs), tpch.fields(spark, sf_dir)
    ).orderBy("media_id")


# --- PARAGRAPH_STREAMING (dataset.proto:15) ---------------------------------


@register(
    "export_paragraph_streaming",
    f"""
WITH p AS ({tpch.SQL_PARAGRAPHS})
SELECT paragraph_id, rid, start, "end", kind, text
FROM p ORDER BY rid, start
""",
)
def export_paragraph_streaming(spark, sf_dir):
    """S6/PARAGRAPH_STREAMING: full paragraph payload stream
    (generators/paragraph_streaming.py:31-76)."""
    return (
        tpch.paragraphs(spark, sf_dir)
        .select("paragraph_id", "rid", "start", "end", "kind", "text")
        .orderBy("rid", "start")
    )


# --- FIELD_STREAMING (dataset.proto:17) -------------------------------------


@register(
    "export_field_streaming",
    f"""
WITH fields AS ({tpch.SQL_FIELDS})
SELECT rid, field_key, field_type, language, source, n_chars,
       array_to_string(labels, ',') AS labels,
       security_public, text
FROM fields ORDER BY rid
""",
)
def export_field_streaming(spark, sf_dir):
    """S6/FIELD_STREAMING: field payloads with full metadata
    (generators/field_streaming.py:37-123)."""
    return (
        tpch.fields(spark, sf_dir)
        .select(
            "rid",
            "field_key",
            "field_type",
            "language",
            "source",
            "n_chars",
            F.array_join("labels", ",").alias("labels"),
            "security_public",
            "text",
        )
        .orderBy("rid")
    )


# --- deterministic stratified sampling --------------------------------------

SAMPLE_RATES = {"en": 50, "de": 40, "fr": 30, "es": 20, "zh": 10}
_DOCS_META_SQL = "SELECT doc_id, lang, source, n_chars FROM documents"


@register(
    "sample_stratified",
    trainset.stratified_sample_sql(_DOCS_META_SQL, SAMPLE_RATES)
    + " ORDER BY doc_id",
)
def sample_stratified(spark, sf_dir):
    """Per-language deterministic sampling via the portable md5
    bucket — reproducible subset lineage across engines/runs (unlike
    df.sampleBy's RNG). Pure filter: pushed to the scan."""
    docs = tpch.table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return trainset.stratified_sample(docs, SAMPLE_RATES).orderBy("doc_id")


# --- sequence packing (concat-and-chunk spans) ------------------------------


@register(
    "pack_sequences",
    trainset.pack_sequences_sql("SELECT doc_id, text, source FROM documents"),
)
def pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing bookkeeping: each doc's
    token span in the per-source concat stream and the seq_len-sized
    training sequences it touches. Window cumsum per source — no
    global single-partition scan."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return trainset.pack_sequences(docs)


# --- domain-mixture resampling (static mixing to target proportions) --------

MIX_TARGETS = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}


@register(
    "sample_mixture",
    trainset.mixture_resample_sql("SELECT doc_id, lang FROM documents", MIX_TARGETS),
)
def sample_mixture(spark, sf_dir):
    """Largest subset matching the target language mix: the binding
    domain survives whole, the rest downsample via the md5 bucket."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "lang")
    return trainset.mixture_resample(docs, MIX_TARGETS)


@register(
    "sample_temperature",
    trainset.temperature_weights_sql(
        "SELECT doc_id, lang FROM documents", alpha=0.7
    ),
)
def sample_temperature(spark, sf_dir):
    """mT5/XLM-R temperature sampling weights (alpha=0.7): per
    language the raw share, the tempered share p ∝ n^alpha, the
    boost low-resource languages receive, and the expected document
    count. One tiny groupBy + a broadcast normalizer — the corpus is
    never reshuffled."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "lang")
    return trainset.temperature_weights(docs, alpha=0.7)


@register(
    "sample_domain_cap",
    trainset.domain_cap_sql("SELECT doc_id, source FROM documents", cap=30),
)
def sample_domain_cap(spark, sf_dir):
    """RefinedWeb/FineWeb-style per-domain cap: no source contributes
    more than 30 documents; the within-domain pick ranks by the
    portable md5 of the id so the subset is deterministic and
    unbiased by ingestion order. One window shuffle keyed by the
    domain column."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "source")
    return trainset.domain_cap(docs, cap=30)


# --- one-pass clean-corpus composition --------------------------------------


@register(
    "pipeline_clean_corpus",
    f"""
WITH c AS ({dedup.planted_corpus_sql("SELECT doc_id, text FROM documents")}),
feat AS (
  SELECT id, text,
         {token_set_fingerprint_sql('text')} AS fp,
         length(text) AS n_chars,
         len({tokenize_sql('text')}) AS n_tokens,
         MIN(id) OVER (PARTITION BY {token_set_fingerprint_sql('text')}) AS canonical_id
  FROM c
)
SELECT id, n_chars, n_tokens
FROM feat
WHERE id = canonical_id AND n_chars BETWEEN 50 AND 5000
ORDER BY id
""",
)
def pipeline_clean_corpus(spark, sf_dir):
    """Training-data cleaning as ONE composed job: exact-dedup
    survivor selection + length-band quality gate, over the planted
    corpus (so the dedup stage provably removes rows). Single shuffle:
    fingerprint + features are per-row exprs, the only wide op is the
    MIN window keyed by fingerprint."""
    from nucliadb_spark.functions.text import tokenize

    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text")
    c = dedup.planted_corpus(docs)
    feat = c.select(
        "id",
        token_set_fingerprint("text").alias("fp"),
        F.length("text").alias("n_chars"),
        F.size(tokenize("text")).alias("n_tokens"),
    )
    w = Window.partitionBy("fp")
    return (
        feat.withColumn("canonical_id", F.min("id").over(w))
        .filter(
            (F.col("id") == F.col("canonical_id"))
            & F.col("n_chars").between(50, 5000)
        )
        .select("id", "n_chars", "n_tokens")
        .orderBy("id")
    )


# --- time-series: as-of join / rollup / percentiles -------------------------


@register("events_asof_join", timeseries.asof_join_sql(_EVENTS_SQL))
def events_asof_join(spark, sf_dir):
    """As-of join: attribute each purchase to the latest strictly
    prior click by the same user. Spark side is the single-window
    union composition (one shuffle on user_id, no range-join candidate
    explosion); the DuckDB oracle is the engine-native ASOF LEFT JOIN
    — two independent implementations of the semantics."""
    return timeseries.asof_join(_events(spark, sf_dir))


@register("events_rollup", timeseries.rollup_counts_sql(_EVENTS_SQL))
def events_rollup(spark, sf_dir):
    """Hypertable-style multi-grain continuous-aggregate shape:
    day×type, day, grand total in one ROLLUP pass."""
    return timeseries.rollup_counts(_events(spark, sf_dir))


@register("events_percentiles", timeseries.value_percentiles_sql(_EVENTS_SQL))
def events_percentiles(spark, sf_dir):
    """Exact per-type value percentiles (percentile_cont semantics)."""
    return timeseries.value_percentiles(_events(spark, sf_dir))


# --- iterative graph algorithms ---------------------------------------------


@register(
    "graph_reachability",
    __import__("nucliadb_spark.operators.iterative", fromlist=["x"]).bfs_reachability_sql(
        tpch.SQL_RELATIONS, "customer:1", max_hops=3
    ),
)
def graph_reachability(spark, sf_dir):
    """Level-synchronous BFS over the relation triples: every node
    within 3 hops of customer:1 with its shortest-path depth (the
    unbounded-traversal analog of graph.two_hop; oracle is a
    recursive CTE). Ref: search/search/graph_strategy.py:315-466
    expands hop-by-hop the same way."""
    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators.iterative import bfs_reachability

    rel = tpch.relations_index(spark, sf_dir)
    return bfs_reachability(rel, "customer:1", max_hops=3)


@register(
    "dedup_clusters",
    __import__("nucliadb_spark.operators.iterative", fromlist=["x"]).connected_components_sql(
        "SELECT id_a, id_b FROM (" + dedup.lsh_pairs_sql(
            dedup.planted_corpus_sql("SELECT doc_id, text FROM documents")
        ) + ")"
    ),
)
def dedup_clusters(spark, sf_dir):
    """Transitive closure of the LSH near-dup pairs: (id, cluster_id)
    with cluster_id = min doc id of the connected component — the
    keep-one-per-cluster step a dedup pipeline runs after
    pair-finding. Min-label propagation to fixpoint; oracle is the
    recursive-CTE reachable-set minimum."""
    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators.iterative import connected_components

    corpus = dedup.planted_corpus(
        tpch.table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    sigs = cached_df(sf_dir, "lsh_sigs", lambda: dedup.minhash_signatures(corpus))
    shingled = cached_df(sf_dir, "lsh_shingles", lambda: dedup._shingled(corpus, 3))
    pairs = dedup.lsh_pairs(corpus, sigs=sigs, shingled=shingled)
    return connected_components(pairs)


@register(
    "dedup_best_survivor",
    __import__("nucliadb_spark.operators.dedup", fromlist=["x"]).best_survivors_sql(
        __import__(
            "nucliadb_spark.operators.iterative", fromlist=["x"]
        ).connected_components_sql(
            "SELECT id_a, id_b FROM ("
            + dedup.lsh_pairs_sql(
                dedup.planted_corpus_sql("SELECT doc_id, text FROM documents")
            )
            + ")"
        ),
        __import__(
            "nucliadb_spark.operators.textstats", fromlist=["x"]
        ).quality_features_sql(
            dedup.planted_corpus_sql("SELECT doc_id, text FROM documents"),
            id_col="id",
        ),
    ),
)
def dedup_best_survivor(spark, sf_dir):
    """Quality-aware survivor election per near-dup cluster: keep the
    best-scoring member (quality desc, length desc, id asc) instead
    of an arbitrary one — the step a production dedup pipeline runs
    between clustering and corpus rewrite."""
    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.operators.iterative import connected_components
    from nucliadb_spark.operators.textstats import quality_features

    corpus = dedup.planted_corpus(
        tpch.table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    sigs = cached_df(sf_dir, "lsh_sigs", lambda: dedup.minhash_signatures(corpus))
    shingled = cached_df(sf_dir, "lsh_shingles", lambda: dedup._shingled(corpus, 3))
    pairs = dedup.lsh_pairs(corpus, sigs=sigs, shingled=shingled)
    clusters = connected_components(pairs)
    quality = quality_features(corpus, id_col="id")
    return dedup.best_survivors(clusters, quality)


# --- shard rollover (cluster/rollover.py) -----------------------------------


@register(
    "shard_rollover_plan",
    __import__("nucliadb_spark.operators.shards", fromlist=["x"]).rollover_plan_sql(
        "SELECT CAST(p_partkey AS BIGINT) AS rid FROM part", n_old=4, n_new=6
    ),
)
def shard_rollover_plan(spark, sf_dir):
    """Movement matrix for re-sharding the KB 4 → 6 shards with
    decorrelated md5 routing (ref rollover.py:110,234,408 — the
    review artifact before a rollover: how many resources each
    old-shard ships to each new-shard)."""
    from nucliadb_spark.operators.shards import rollover_plan

    res = tpch.resources(spark, sf_dir).select("rid")
    return rollover_plan(res, n_old=4, n_new=6)


# --- beyond the grading window: additional oracle-checked variants ----------


@register(
    "events_asof_tolerance",
    f"""
WITH base AS ({timeseries.asof_join_sql(_EVENTS_SQL)})
SELECT event_id, user_id, ts,
       CASE WHEN gap_us <= 3600000000 THEN right_event_id END AS right_event_id,
       CASE WHEN gap_us <= 3600000000 THEN gap_us END AS gap_us
FROM base ORDER BY event_id
""",
)
def events_asof_tolerance(spark, sf_dir):
    """As-of with a 1-hour match horizon (merge_asof tolerance):
    attributions older than the horizon drop to NULL."""
    return timeseries.asof_join(
        _events(spark, sf_dir), tolerance_us=3_600_000_000
    )


@register(
    "catalog_date_histogram",
    f"""
WITH resources AS ({tpch.SQL_RESOURCES})
SELECT CAST(date_trunc('month', created) AS DATE) AS month,
       status,
       COUNT(*) AS n
FROM resources
GROUP BY 1, 2
ORDER BY month, status
""",
)
def catalog_date_histogram(spark, sf_dir):
    """Creation-date histogram per status — the catalog analytics
    view over the resources table (one groupBy, map-side combine)."""
    res = tpch.resources(spark, sf_dir)
    return (
        res.select(
            F.trunc("created", "month").alias("month"), "status"
        )
        .groupBy("month", "status")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("month", "status")
    )


@register(
    "multi_kb_counters",
    f"""
WITH f AS ({tpch.SQL_FIELDS_MULTI_KB})
SELECT kbid, COUNT(*) AS n_fields,
       COUNT(DISTINCT rid) AS n_resources,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM f GROUP BY kbid ORDER BY kbid
""",
)
def multi_kb_counters(spark, sf_dir):
    """Per-tenant counters (the /counters endpoint across KBs):
    grouped aggregation over the kbid-keyed projection."""
    f = tpch.fields_multi_kb(spark, sf_dir)
    return (
        f.groupBy("kbid")
        .agg(
            F.count("*").cast("long").alias("n_fields"),
            F.countDistinct("rid").cast("long").alias("n_resources"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .orderBy("kbid")
    )


# --- token-budget selection + deterministic split ---------------------------

TOKEN_BUDGET = 3000  # per-source token budget (cuts mid-source at sf0.01)

_DOCS_FULL_SQL = "SELECT doc_id, text, lang, source FROM documents"


@register(
    "sample_token_budget",
    trainset.token_budget_select_sql(_DOCS_FULL_SQL, TOKEN_BUDGET),
)
def sample_token_budget(spark, sf_dir):
    """Per-source prefix of docs filling a token budget — a
    Chinchilla-style per-domain token allocation. Window cumsum per
    source shard (bounded partitions, same scale shape as
    pack_sequences), then a pure filter."""
    docs = tpch.table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    return trainset.token_budget_select(docs, TOKEN_BUDGET)


@register(
    "trainset_split",
    trainset.split_counts_sql(_DOCS_FULL_SQL),
)
def trainset_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test audit counts: the split is
    a pure function of md5(doc_id), so a document can never migrate
    between train and held-out across runs/engines/partitionings."""
    from pyspark.sql import functions as F

    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return (
        trainset.split_assign(docs)
        .groupBy("split", F.col("lang").alias("stratum"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        .orderBy("split", "stratum")
    )


# --- end-to-end trainset build (the composed flagship pipeline) -------------
# clean (dedup survivors + quality band) → deterministic split →
# per-source token budget → packing spans, as ONE composed DataFrame
# job. Wide ops: the fingerprint window (dedup) and one
# window-per-source pass that serves budget AND packing together —
# the running token sum is both the budget cut and the pack offset.

_TB_BUDGET = 2000
_TB_SEQ = 512


def _trainset_build_sql(corpus_sql: str) -> str:
    """The composed build (dedup survivors + quality band → md5
    split → per-source token budget → packing spans) over ANY
    (id, text, source) corpus CTE — shared by the live build and its
    as-of twin so the two oracles differ only in the corpus."""
    return f"""
WITH c AS ({corpus_sql}),
feat AS (
  SELECT id, text, source,
         length(text) AS n_chars,
         list_aggregate(list_transform({tokenize_sql('text')},
                        x -> ceil(length(x) / 4.0)::BIGINT), 'sum')::BIGINT AS n_tokens,
         MIN(id) OVER (PARTITION BY {token_set_fingerprint_sql('text')}) AS canonical_id
  FROM c
),
clean AS (
  SELECT id, source, n_tokens,
         CASE WHEN ({md5_int60_sql('CAST(id AS VARCHAR)', salt='split:')} % 100) < 90 THEN 'train'
              WHEN ({md5_int60_sql('CAST(id AS VARCHAR)', salt='split:')} % 100) < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM feat
  WHERE id = canonical_id AND n_chars BETWEEN 50 AND 5000
),
train AS (
  SELECT id, source, n_tokens, split,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ::BIGINT AS cum
  FROM clean WHERE split = 'train'
)
SELECT source, id, n_tokens,
       (cum - n_tokens)::BIGINT AS start_offset,
       ((cum - n_tokens) // {_TB_SEQ})::BIGINT AS first_seq,
       greatest((cum - 1) // {_TB_SEQ}, (cum - n_tokens) // {_TB_SEQ})::BIGINT AS last_seq
FROM train
WHERE cum <= {_TB_BUDGET}
ORDER BY source, id
"""


_PLANTED_CORPUS_SQL = f"""
  SELECT CAST(doc_id AS BIGINT) AS id, text, source FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + {dedup.PLANT_OFFSET} AS id,
         substring(text, 1, length(text) - {dedup.PLANT_TRUNC}) AS text, source
  FROM documents WHERE doc_id % {dedup.PLANT_MOD} = 0
"""


@register(
    "pipeline_trainset_build",
    _trainset_build_sql(_PLANTED_CORPUS_SQL),
)
def pipeline_trainset_build(spark, sf_dir):
    """The whole trainset build as one composed job: exact-dedup
    survivors + quality band → md5 train/val/test split → per-source
    token budget → GPT-style packing spans. The per-source window
    pass does double duty: the running token sum is simultaneously
    the budget cut and the packing offset, so budget+pack cost one
    shuffle, not two."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    base = docs.select(
        F.col("doc_id").cast("long").alias("id"), "text", "source"
    )
    planted = base.filter(F.col("id") % dedup.PLANT_MOD == 0).select(
        (F.col("id") + dedup.PLANT_OFFSET).alias("id"),
        F.expr(f"substring(text, 1, length(text) - {dedup.PLANT_TRUNC})").alias("text"),
        "source",
    )
    return _trainset_build(base.unionByName(planted))


def _trainset_build(c):
    """Spark twin of :func:`_trainset_build_sql` over an
    (id, text, source) corpus frame."""
    from nucliadb_spark.functions.text import md5_int60, tokenize

    toks = tokenize("text")
    bpe = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    feat = c.select(
        "id",
        "source",
        token_set_fingerprint("text").alias("fp"),
        F.length("text").alias("n_chars"),
        bpe.alias("n_tokens"),
    )
    wfp = Window.partitionBy("fp")
    bucket = md5_int60(F.col("id").cast("string"), salt="split:") % 100
    clean = (
        feat.withColumn("canonical_id", F.min("id").over(wfp))
        .filter(
            (F.col("id") == F.col("canonical_id"))
            & F.col("n_chars").between(50, 5000)
        )
        .withColumn(
            "split",
            F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"),
        )
    )
    w = Window.partitionBy("source").orderBy("id")
    train = (
        clean.filter(F.col("split") == "train")
        .withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= _TB_BUDGET)
    )
    cum, ntok = F.col("cum"), F.col("n_tokens")
    first_seq = F.floor((cum - ntok) / _TB_SEQ).cast("long")
    last_seq = F.greatest(F.floor((cum - 1) / _TB_SEQ).cast("long"), first_seq)
    return train.select(
        "source",
        "id",
        "n_tokens",
        (cum - ntok).cast("long").alias("start_offset"),
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
    ).orderBy("source", "id")


_TB_AS_OF = 1_500_000  # post-revisions, pre-deletes snapshot point


def _trainset_as_of_corpus_sql() -> str:
    from nucliadb_spark.sources import tpch as _tpch
    from nucliadb_spark.streaming import ingest

    meta_asof = ingest.cdc_meta_live_sql(_tpch.SQL_FIELDS, as_of=_TB_AS_OF)
    return f"""
  SELECT l.rid AS id, l.text, m.source
  FROM ({ingest.cdc_live_as_of_sql(_TB_AS_OF)}) l
  JOIN ({meta_asof}) m USING (rid)
"""


@register(
    "trainset_build_as_of",
    _trainset_build_sql(_trainset_as_of_corpus_sql()),
)
def trainset_build_as_of(spark, sf_dir):
    """The reproducible-dataset contract end-to-end: the SAME
    composed trainset build (dedup survivors + quality band → md5
    split → per-source token budget → packing spans), over the corpus
    AS OF log seq 1.5M. 'Rebuild the training set exactly as it stood
    at snapshot S' is what makes a months-later retrain auditable —
    at this seq the revision wave is in (revised docs tokenize on
    their new text, shifting their pack offsets) while the delete
    wave is not (docs deleted later still earn budget). Content
    versions resolve from the op log (one seq-pruned scan + the
    max_by shuffle every snapshot read pays); the SOURCE attribute —
    PATCHable origin metadata (writer.py:155-169) — resolves from
    the seq-cut METADATA op log (r13), so a later origin correction
    cannot silently re-stratify a pinned snapshot's budget. Every
    downstream cut (md5 split, budget, packing) is already a pure
    function of (id, text), so snapshot-in → identical-trainset-out
    across runs, engines and partitionings."""
    from pyspark.sql import functions as F

    from nucliadb_spark.streaming import ingest

    live = ingest.cdc_live_as_of(
        ingest.cdc_log(tpch.fields(spark, sf_dir)), _TB_AS_OF
    )
    src = ingest.META.resolve(
        ingest.cdc_meta_log(tpch.fields(spark, sf_dir)).filter(
            F.col("seq") <= _TB_AS_OF
        )
    ).select("rid", "source")
    c = live.join(src, "rid").select(F.col("rid").alias("id"), "text", "source")
    return _trainset_build(c)


# --- BPE pair counts (tokenizer-training inner step) ------------------------


@register(
    "bpe_pair_counts",
    trainset.bpe_pair_counts_sql("SELECT text FROM documents"),
)
def bpe_pair_counts(spark, sf_dir):
    """Top-20 adjacent character pairs over the '</w>'-terminated
    weighted vocabulary — round 0 of BPE tokenizer training (the
    argmax row is the first merge rule). Pair counting runs over the
    distinct vocab, so corpus size only affects the one token→vocab
    groupBy."""
    docs = tpch.table(spark, sf_dir, "documents").select("text")
    return trainset.bpe_pair_counts(docs)


# --- DSIR importance resampling ---------------------------------------------


@register(
    "sample_dsir",
    trainset.dsir_weights_sql("SELECT doc_id, text, source FROM documents"),
)
def sample_dsir(spark, sf_dir):
    """Hashed-unigram importance weights (DSIR): rank raw docs by how
    target-domain-like (source='src1') their token distribution is.
    Distribution estimates are two tiny bucket groupBys; scoring is
    one explode + broadcast join + one groupBy(doc)."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return trainset.dsir_weights(docs)


# --- PageRank over the relation graph ---------------------------------------


@register(
    "graph_pagerank",
    __import__("nucliadb_spark.operators.iterative", fromlist=["x"]).pagerank_sql(
        tpch.SQL_RELATIONS
    ),
)
def graph_pagerank(spark, sf_dir):
    """Entity importance over the relation triples: 3 power
    iterations, d=0.85, GraphX staticPageRank convention (no
    dangling-mass redistribution). One shuffle per iteration; the
    oracle unrolls the same fixed iterations as nested CTEs. The
    centrality signal a graph RAG strategy can use to pick entry
    points (ref graph_strategy.py's scored-entity selection)."""
    from nucliadb_spark.cache import cached_df, cached_scalar
    from nucliadb_spark.operators.iterative import graph_adjacency, pagerank

    rel = tpch.relations_index(spark, sf_dir)
    # adjacency + degrees are GRAPH-INDEX sidecars (built once per
    # session like postings/centroids; r14 guide §2.4) — a query pays
    # only the power iterations
    e = cached_df(
        sf_dir,
        "graph_edges",
        lambda: graph_adjacency(rel)[0],
        pinned=True,
    )
    nodes = cached_df(
        sf_dir,
        "graph_nodes",
        lambda: e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        pinned=True,
    )
    out = cached_df(
        sf_dir,
        "graph_outdeg",
        lambda: e.groupBy("a").agg(F.count("*").cast("double").alias("deg")),
        pinned=True,
    )
    n = cached_scalar(sf_dir, "graph_n_nodes", lambda: nodes.count())
    return pagerank(rel, adjacency=(e, nodes, out), n_nodes=n)


@register(
    "batch_by_length",
    trainset.batch_by_length_sql("SELECT doc_id, text FROM documents"),
)
def batch_by_length(spark, sf_dir):
    """Length-grouped inference batching: padded-length buckets
    (quantum 64) filled with max_batch_tokens // padded_len rows per
    batch — padding waste bounded by the quantum, every batch's token
    footprint bounded by the budget. One bucket-keyed window."""
    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text")
    return trainset.batch_by_length(docs)


@register(
    "trainset_partitions",
    __import__("nucliadb_spark.operators.shards", fromlist=["x"])
    .trainset_partitions_sql(
        "SELECT CAST(doc_id AS BIGINT) AS rid FROM documents", n_shards=6
    ),
)
def trainset_partitions(spark, sf_dir):
    """`/kb/{kbid}/trainset` (train/api/v1/trainset.py:33-64): the
    partition keys a training client streams from — each routing
    shard as a partition id with its resource count so readers can
    be sized. One narrow groupBy, ≤ n_shards rows."""
    from nucliadb_spark.operators.shards import trainset_partitions as tp

    docs = tpch.table(spark, sf_dir, "documents").selectExpr(
        "CAST(doc_id AS BIGINT) AS rid"
    )
    return tp(docs, n_shards=6)
