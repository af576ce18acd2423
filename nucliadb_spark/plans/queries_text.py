"""Registry entries: BM25 text search (SURVEY §2.3 T1-T4, T8; §2.2
F9 prefilter; §2.6 A1 facet counts over fields)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nucliadb_spark.cache import cached_df, sorted_sidecar
from nucliadb_spark.operators import advanced, augment, bm25, suggest
from nucliadb_spark.operators import filters as fx
from nucliadb_spark.registry import register
from nucliadb_spark.sources import tpch


def _text_index(spark, sf_dir):
    """Cached text index for the unfiltered documents corpus (the
    serving path — built once per session, reused by every query).
    Postings are range-partitioned + sorted by TERM before caching
    (``cache.sorted_sidecar``, one partition per task slot; the
    vocabulary aggregates without a shuffle and keeps that count):
    each partition stays sorted, so the non-fuzzy search's literal
    `term IN (...)` predicate prunes cached batches via min/max
    stats — the reference's term dictionary is likewise sorted
    (tantivy fst). Measured 0.84x on term-match scans at sf0.1 with
    32 partitions (the probe is `git show
    a2235d5:scripts/sorted_sidecar_probe.py`); at 100 TB the same
    layout is the term-sorted/bucketed parquet postings table with
    row-group pruning. Row order is an index property only — every
    consumer aggregates, so results are unchanged."""
    post = cached_df(
        sf_dir,
        "postings",
        lambda: sorted_sidecar(bm25.postings(tpch.fields(spark, sf_dir)), "term"),
        pinned=True,
    )
    stats = cached_df(
        sf_dir, "docstats", lambda: bm25.doc_stats_from_postings(post),
        pinned=True,
    )
    return post, stats


def _vocab(sf_dir, post):
    """Cached term dictionary (fuzzy-serving sidecar of the index)."""
    return cached_df(sf_dir, "vocab", lambda: bm25.vocabulary(post), pinned=True)


def _corpus(sf_dir, stats):
    """Cached 1-row (n, avgdl) corpus metadata."""
    return cached_df(
        sf_dir, "corpusstats", lambda: bm25.corpus_stats(stats), pinned=True
    )


def _fielded_text_index(spark, sf_dir):
    """Per-field-family serving sidecars over the multi-field corpus
    (the `fields` search-scope serving path): postings / doc-stats /
    term-dictionary / corpus-stats all keyed by `field_key`, built
    ONCE per session over ALL families. A scoped request prunes each
    sidecar with `field_key = ...` — the batch analog of tantivy
    keeping one postings list per (field, term) and a field-scoped
    query touching only that field's lists
    (nidx/nidx_text/src/schema.rs:59-114 field facet). At 100 TB
    these persist as parquet partitioned by field_key, so the prune
    is partition pruning; per-family corpus stats are one tiny row
    each, exactly tantivy's per-field fieldnorm/avg length."""
    from nucliadb_spark.functions.text import tokenize

    post = cached_df(
        sf_dir,
        "ff_postings",
        # sorted-sidecar layout: each partition stays sorted, so the
        # scoped family literal AND the query's term IN (...) both
        # prune cached batches via min/max stats (0.84x at 32
        # partitions; `git show a2235d5:scripts/sorted_sidecar_probe.py`)
        lambda: sorted_sidecar(
            tpch.fields_multi(spark, sf_dir)
            .select("field_key", "rid", F.explode(tokenize("text")).alias("term"))
            .groupBy("field_key", "rid", "term")
            .agg(F.count("*").cast("double").alias("tf")),
            "field_key",
            "term",
        ),
        pinned=True,
    )
    stats = cached_df(
        sf_dir,
        "ff_docstats",
        lambda: post.groupBy("field_key", "rid").agg(F.sum("tf").alias("dl")),
        pinned=True,
    )
    vocab = cached_df(
        sf_dir,
        "ff_vocab",
        lambda: post.groupBy("field_key", "term").agg(
            F.count("*").cast("double").alias("df")
        ),
        pinned=True,
    )
    corpus = cached_df(
        sf_dir,
        "ff_corpus",
        lambda: stats.groupBy("field_key").agg(
            F.count("*").cast("double").alias("n"), F.avg("dl").alias("avgdl")
        ),
        pinned=True,
    )
    return post, stats, vocab, corpus

# --- T2/O1: disjunctive paragraph-style keyword search ------------------


@register(
    "bm25_keyword",
    bm25.bm25_sql(tpch.SQL_FIELDS, "spark join window", top_k=20, mode="any"),
)
def bm25_keyword(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(None, "spark join window", top_k=20, mode="any", post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post))


# --- T1: min_score collection cut ------------------------------------------
# ref: nidx/nidx_text/src/reader.rs:293-303 — the text index drops
# hits scoring below request.min_score during collection, BEFORE the
# top-k merge (the keyword sibling of V7's semantic min_score).


@register(
    "bm25_min_score",
    bm25.bm25_sql(
        tpch.SQL_FIELDS, "spark join window", top_k=20, mode="any", min_score=1.2
    ),
)
def bm25_min_score(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(
        None,
        "spark join window",
        top_k=20,
        mode="any",
        min_score=1.2,
        post=post,
        stats=stats,
        corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post),
    )


# --- T1: conjunctive text-index search -----------------------------------


@register(
    "bm25_conjunctive",
    bm25.bm25_sql(tpch.SQL_FIELDS, "vector stream batch", top_k=20, mode="all"),
)
def bm25_conjunctive(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(None, "vector stream batch", top_k=20, mode="all", post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post))


# --- T3: fuzzy query (levenshtein<=1 vocab expansion, 0.5 boost) ---------


@register(
    "bm25_fuzzy",
    bm25.bm25_sql(tpch.SQL_FIELDS, "spak windoq", top_k=20, fuzzy=True),
)
def bm25_fuzzy(spark, sf_dir):
    # "spak"→spark (1 insert), "windoq"→window (1 substitution)
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(
        None, "spak windoq", top_k=20, fuzzy=True,
        post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post),
    )


# --- T8: ematches (matched terms carried through scoring) ----------------


@register(
    "bm25_ematches",
    "SELECT rid, score, array_to_string(ematches, ',') AS ematches FROM ("
    + bm25.bm25_sql(
        tpch.SQL_FIELDS, "query filter agg", top_k=15, with_ematches=True
    )
    + ")",
)
def bm25_ematches(spark, sf_dir):
    # driver output contract: stringify the ematches array at the
    # registry boundary (the operator API keeps the array)
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(
        None, "query filter agg", top_k=15, with_ematches=True, post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post)
    ).withColumn("ematches", F.array_join("ematches", ","))


# --- T8 complete: per-hit matched-term char offsets -----------------------
# ref: nucliadb/src/nucliadb/search/search/paragraphs.py:100-160
# (highlight spans); offsets derive from the shared tokenizer.


@register(
    "bm25_highlight",
    bm25.highlight_sql(
        bm25.bm25_sql(
            tpch.SQL_FIELDS, "query filter agg", top_k=15, with_ematches=True
        ),
        tpch.SQL_FIELDS,
    ),
)
def bm25_highlight(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    hits = bm25.bm25_search(
        None, "query filter agg", top_k=15, with_ematches=True, post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post)
    )
    return bm25.highlight_offsets(hits, tpch.fields(spark, sf_dir))


# --- F9/J1: prefilter semijoin — filter fields first, score the rest ----

_PREFILTER = fx.And(
    [fx.Facet("/s/p/en"), fx.Or([fx.Facet("/u/s/src3"), fx.Facet("/u/s/src7")])]
)


@register(
    "bm25_prefiltered",
    bm25.bm25_sql(
        tpch.SQL_FIELDS,
        "merge sort key",
        top_k=20,
        where=_PREFILTER.to_sql(),
    ),
)
def bm25_prefiltered(spark, sf_dir):
    f = tpch.fields(spark, sf_dir)
    return bm25.bm25_search(f, "merge sort key", top_k=20, prefilter=_PREFILTER)


# --- F9 served: same prefilter, scored from the PREBUILT global index ----
# The 100 TB serving shape: tantivy applies prefilters within built
# segments without recomputing corpus stats per query
# (nidx/nidx_paragraph/src/search_query.rs:212-216). The rebuild
# variant above stays as the per-shard-stats parity path.


@register(
    "bm25_prefiltered_served",
    bm25.bm25_sql(
        tpch.SQL_FIELDS,
        "merge sort key",
        top_k=20,
        served_where=_PREFILTER.to_sql(),
    ),
)
def bm25_prefiltered_served(spark, sf_dir):
    f = tpch.fields(spark, sf_dir)
    post, stats = _text_index(spark, sf_dir)
    allowed = f.filter(_PREFILTER.to_column()).select("rid")
    return bm25.bm25_search(
        None, "merge sort key", top_k=20, post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post), allowed=allowed
    )


# --- T2 quoted phrase -----------------------------------------------------


@register(
    "phrase_match",
    f"""
WITH fields AS ({tpch.SQL_FIELDS})
SELECT rid, language, source FROM fields
WHERE {bm25.phrase_match_sql("text", "batch batch")}
ORDER BY rid
""",
)
def phrase_match(spark, sf_dir):
    f = tpch.fields(spark, sf_dir)
    return (
        f.filter(bm25.phrase_match("text", "batch batch"))
        .select("rid", "language", "source")
        .orderBy("rid")
    )


# --- T6: synonym expansion before scoring --------------------------------

_SYNS = {"join": ["merge"], "fast": ["quick", "big"]}


@register(
    "bm25_synonyms",
    bm25.bm25_sql(tpch.SQL_FIELDS, "fast join", top_k=20, synonyms=_SYNS),
)
def bm25_synonyms(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(
        None, "fast join", top_k=20, synonyms=_SYNS, post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post)
    )


# --- T2: stop-word removal before scoring ---------------------------------

_STOPQ = "what is the data for a stream"  # → terms: data, stream (last kept)


@register(
    "bm25_stop_words",
    bm25.bm25_sql(tpch.SQL_FIELDS, _STOPQ, top_k=20, stop_words=True),
)
def bm25_stop_words(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_search(
        None, _STOPQ, top_k=20, stop_words=True, post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post)
    )


# --- T4: keyword-exact first, fuzzy only on empty results ------------------
# (ref: nidx_paragraph/src/reader.rs:104-139 — driver-side conditional
# second job; the misspelled query has zero exact hits so the fallback
# fires and the oracle is the fuzzy pipeline.)

_FALLBACK_Q = "spakr windoq"  # no exact vocabulary hits


@register(
    "bm25_fuzzy_fallback",
    bm25.bm25_sql(tpch.SQL_FIELDS, _FALLBACK_Q, top_k=20, fuzzy=True),
)
def bm25_fuzzy_fallback(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    exact = bm25.bm25_search(
        None, _FALLBACK_Q, top_k=20, post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post)
    )
    if exact.limit(1).count() > 0:  # pragma: no cover - fixture has no exact hit
        return exact
    return bm25.bm25_search(
        None, _FALLBACK_Q, top_k=20, fuzzy=True,
        post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post),
    )


# --- T9: suggest (paragraph fuzzy-prefix + entity prefix) -----------------


@register(
    "suggest_paragraphs",
    suggest.suggest_paragraphs_sql(tpch.SQL_FIELDS, "filt"),
)
def suggest_paragraphs(spark, sf_dir):
    post, stats = _text_index(spark, sf_dir)
    return suggest.suggest_paragraphs(
        None, "filt", post=post, stats=stats, corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post)
    )


def _suggest_filter():
    """The /suggest filter surface (search/api/v1/suggest.py:60-68:
    filter_expression + label filters + range_creation/modification):
    a label facet AND a created range, in one tree."""
    from nucliadb_spark.operators import filters as fx

    return fx.And(
        [
            fx.Facet("/s/p/en"),
            fx.DateRange(
                "created",
                since="2024-02-01 00:00:00",
                until="2024-10-31 00:00:00",
            ),
        ]
    )


@register(
    "suggest_filtered",
    suggest.suggest_paragraphs_sql(
        tpch.SQL_FIELDS,
        "filt",
        allowed_sql=(
            f"SELECT rid FROM ({tpch.SQL_FIELDS}) "
            f"WHERE {_suggest_filter().to_sql()}"
        ),
    ),
)
def suggest_filtered(spark, sf_dir):
    """/suggest with the reference's filter surface (T9 × F1/F3:
    filter_expression + creation range, search/api/v1/suggest.py:
    60-68): the prefix+fuzzy match restricted to resources satisfying
    a label facet AND a created range. The filter is a PREFILTER
    semijoin over the session-cached serving sidecars — df/N/avgdl
    stay global, no per-keystroke stats rebuild (the same serve-time
    contract as filtered find; nidx applies suggest filters to the
    paragraph search the same way, shard_suggest.rs:95-180)."""
    post, stats = _text_index(spark, sf_dir)
    allowed = (
        tpch.fields(spark, sf_dir)
        .filter(_suggest_filter().to_column())
        .select("rid")
    )
    return suggest.suggest_paragraphs(
        None,
        "filt",
        post=post,
        stats=stats,
        corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post),
        allowed=allowed,
    )


_TITLE_FIELDS_SQL = (
    f"SELECT rid, text FROM ({tpch.SQL_FIELDS_MULTI}) "
    "WHERE field_key = '/a/title'"
)


@register(
    "suggest_fielded",
    suggest.suggest_paragraphs_sql(_TITLE_FIELDS_SQL, "filt"),
)
def suggest_fielded(spark, sf_dir):
    """/suggest under a `fields` scope: the as-you-type prefix search
    over ONLY the '/a/title' family — the reference's SuggestRequest
    takes the same `fields` param as find, and title fields are what
    a picker actually suggests from. Serves from the session-cached
    per-family sidecars (field_key-pruned postings/stats/vocab/
    corpus, partition pruning at scale) — a suggest endpoint must
    never rebuild an index per keystroke, and the scoped variant
    must not either."""
    from pyspark.sql import functions as F

    post, stats, vocab, corpus = _fielded_text_index(spark, sf_dir)
    fk = F.col("field_key") == "/a/title"
    return suggest.suggest_paragraphs(
        None,
        "filt",
        post=post.filter(fk).drop("field_key"),
        stats=stats.filter(fk).drop("field_key"),
        vocab=vocab.filter(fk).drop("field_key"),
        corpus=corpus.filter(fk).select("n", "avgdl"),
    )


@register(
    "suggest_entities",
    suggest.suggest_entities_sql(tpch.SQL_RELATIONS, "customer:19"),
)
def suggest_entities(spark, sf_dir):
    rel = tpch.relations_index(spark, sf_dir)
    return suggest.suggest_entities(rel, "customer:19")


# --- O5: search_after keyset pagination ------------------------------------

_CURSOR_TS = "TIMESTAMP '1996-06-01 00:00:00'"


@register(
    "search_after_keyset",
    suggest.search_after_sql(
        tpch.SQL_RESOURCES,
        sort_col="created",
        cursor_sort_value=_CURSOR_TS,
        cursor_id=5000,
        page_size=20,
        columns="rid, title, created",
    ),
)
def search_after_keyset(spark, sf_dir):
    from pyspark.sql import functions as F

    r = tpch.resources(spark, sf_dir)
    return suggest.search_after(
        r,
        sort_col="created",
        cursor_sort_value=F.lit("1996-06-01 00:00:00").cast("timestamp"),
        cursor_id=5000,
        page_size=20,
    ).select("rid", "title", "created")


# --- paragraph index: BM25 over the paragraphs table ----------------------


def _paragraph_index(spark, sf_dir):
    """Cached paragraph-level index (paragraphs are the reference's
    primary search unit — served, never rebuilt per query)."""
    post = cached_df(
        sf_dir,
        "p_postings",
        lambda: bm25.postings(tpch.paragraphs(spark, sf_dir), id_col="paragraph_id"),
    )
    stats = cached_df(sf_dir, "p_docstats", lambda: bm25.doc_stats_from_postings(post))
    corpus = cached_df(sf_dir, "p_corpusstats", lambda: bm25.corpus_stats(stats))
    return post, stats, corpus


@register(
    "paragraph_search",
    "SELECT rid AS paragraph_id, score FROM ("
    + bm25.bm25_sql(
        f"SELECT paragraph_id AS rid, text FROM ({tpch.SQL_PARAGRAPHS}) pp",
        "window shuffle",
        top_k=20,
    )
    + ")",
)
def paragraph_search(spark, sf_dir):
    from pyspark.sql import functions as F

    post, stats, corpus = _paragraph_index(spark, sf_dir)
    return bm25.bm25_search(
        None, "window shuffle", top_k=20, post=post, stats=stats, corpus=corpus
    ).select(F.col("rid").alias("paragraph_id"), "score")


# --- F2 at paragraph level: kind-filtered paragraph search -----------------


@register(
    "paragraph_search_filtered",
    "SELECT rid AS paragraph_id, score FROM ("
    + bm25.bm25_sql(
        f"SELECT paragraph_id AS rid, text FROM ({tpch.SQL_PARAGRAPHS}) pp WHERE pp.kind = 'TEXT'",
        "stream filter",
        top_k=20,
    )
    + ")",
)
def paragraph_search_filtered(spark, sf_dir):
    from pyspark.sql import functions as F

    p = tpch.paragraphs(spark, sf_dir).filter(F.col("kind") == "TEXT")
    return bm25.bm25_search(
        p, "stream filter", top_k=20, id_col="paragraph_id"
    ).select(F.col("rid").alias("paragraph_id"), "score")


# --- J4: char-offset paragraph text extraction -----------------------------


# --- resource-scoped paragraph search (GET /resource/{rid}/search) ---------
# The reference restricts a paragraph query to one resource by pushing
# the rid as a key filter into the built index while BM25 stats stay
# global (search/api/v1/resource/search.py:59,
# search/requesters/utils.py paragraph_query_to_pb with a rid filter)
# — i.e. the served-prefilter shape, never an index rebuild.

_RES_SEARCH_RID = 3


@register(
    "resource_search",
    "SELECT rid AS paragraph_id, score FROM ("
    + bm25.bm25_sql(
        "SELECT paragraph_id AS rid, text, rid AS resource_id FROM ("
        + tpch.SQL_PARAGRAPHS
        + ")",
        "window merge",
        top_k=20,
        served_where=f"resource_id = {_RES_SEARCH_RID}",
    )
    + ")",
)
def resource_search(spark, sf_dir):
    from pyspark.sql import functions as F

    post, stats, corpus = _paragraph_index(spark, sf_dir)
    allowed = (
        tpch.paragraphs(spark, sf_dir)
        .filter(F.col("rid") == _RES_SEARCH_RID)
        .select(F.col("paragraph_id").alias("rid"))
    )
    return bm25.bm25_search(
        None,
        "window merge",
        top_k=20,
        post=post,
        stats=stats,
        corpus=corpus,
        allowed=allowed,
    ).select(F.col("rid").alias("paragraph_id"), "score")


@register(
    "paragraph_extract",
    f"""
WITH paragraphs AS ({tpch.SQL_PARAGRAPHS}),
fields AS ({tpch.SQL_FIELDS})
SELECT p.paragraph_id, p.start, p."end",
       substring(f.text, p.start + 1, p."end" - p.start) AS extracted
FROM paragraphs p
JOIN fields f ON p.rid = f.rid
WHERE p.rid % 29 = 0
ORDER BY p.paragraph_id
""",
)
def paragraph_extract(spark, sf_dir):
    from pyspark.sql import functions as F

    p = tpch.paragraphs(spark, sf_dir).filter(F.col("rid") % 29 == 0)
    f = tpch.fields(spark, sf_dir).select("rid", F.col("text").alias("full_text"))
    return (
        p.join(f, "rid")
        .select(
            "paragraph_id",
            "start",
            "end",
            F.expr("substring(full_text, start + 1, end - start)").alias("extracted"),
        )
        .orderBy("paragraph_id")
    )


# --- §2.14: neighbouring-paragraphs range join (RAG augmentor) -------------

_HITS_SQL = f"""
SELECT paragraph_id, rid, start
FROM ({tpch.SQL_PARAGRAPHS}) p
WHERE rid IN (7, 42, 137) AND start = 240
"""


@register(
    "neighbouring_paragraphs",
    augment.neighbouring_paragraphs_sql(tpch.SQL_PARAGRAPHS, _HITS_SQL),
)
def neighbouring_paragraphs(spark, sf_dir):
    from pyspark.sql import functions as F

    p = tpch.paragraphs(spark, sf_dir)
    hits = p.filter(F.col("rid").isin(7, 42, 137) & (F.col("start") == 240)).select(
        "paragraph_id", "rid", "start"
    )
    return augment.neighbouring_paragraphs(p, hits)


# --- T5: advanced query grammar --------------------------------------------

_ADV = '+spark -vector "batch batch" join merge'


@register(
    "advanced_query",
    f"""
WITH fields AS ({tpch.SQL_FIELDS})
SELECT rid, language, source FROM fields
WHERE {advanced.parse_advanced(_ADV).to_sql()}
ORDER BY rid
""",
)
def advanced_query(spark, sf_dir):
    f = tpch.fields(spark, sf_dir)
    return (
        f.filter(advanced.parse_advanced(_ADV).to_column())
        .select("rid", "language", "source")
        .orderBy("rid")
    )


# --- T5 (full grammar): field-scoped terms and ranges ----------------------
# tantivy's QueryParser accepts `field:term`, `field:"phrase"` and
# `field:[a TO b]` ranges (search_query.rs:202-210 routes the raw
# string through parse_query_lenient over the index schema); the
# mini-grammar now compiles the same surface into the Expr tree.

_ADVF = '+language:en -source:src3 n_chars:[500 TO 900] merge join'


@register(
    "advanced_query_fielded",
    f"""
WITH fields AS ({tpch.SQL_FIELDS})
SELECT rid, language, source, n_chars FROM fields
WHERE {advanced.parse_advanced(_ADVF).to_sql()}
ORDER BY rid
""",
)
def advanced_query_fielded(spark, sf_dir):
    f = tpch.fields(spark, sf_dir)
    return (
        f.filter(advanced.parse_advanced(_ADVF).to_column())
        .select("rid", "language", "source", "n_chars")
        .orderBy("rid")
    )


# --- CONVERSATION field type: keyword search over messages -----------------


@register(
    "conversation_search",
    "SELECT rid AS message_key, score FROM ("
    + bm25.bm25_sql(
        f"SELECT message_key AS rid, text FROM ({tpch.SQL_MESSAGES}) m",
        "purchase value",
        top_k=20,
    )
    + ")",
)
def conversation_search(spark, sf_dir):
    from pyspark.sql import functions as F

    post = cached_df(
        sf_dir,
        "m_postings",
        lambda: bm25.postings(tpch.messages(spark, sf_dir), id_col="message_key"),
    )
    stats = cached_df(sf_dir, "m_docstats", lambda: bm25.doc_stats_from_postings(post))
    return bm25.bm25_search(
        None, "purchase value", top_k=20, post=post, stats=stats
    ).select(F.col("rid").alias("message_key"), "score")


# --- CONVERSATION fidelity: typed messages + page structure ----------------
# ref: nucliadb_protos/resources.proto:155-192 — Message.type
# (QUESTION/ANSWER), Message.who/ident; messages persisted in pages of
# 200 (ingest/fields/conversation.py:34,126-148). The typed search is
# the BM25 message search restricted to one MessageType, hydrated with
# the page/author dimensions a conversation reader needs.


@register(
    "conversation_typed_search",
    f"""
WITH m AS ({tpch.SQL_MESSAGES}),
hits AS ({bm25.bm25_sql(
        "SELECT message_key AS rid, text, message_type FROM m",
        "purchase value",
        top_k=20,
        served_where="message_type = 'QUESTION'",
    )})
SELECT h.rid AS message_key, h.score, m2.message_type, m2.who, m2.page
FROM hits h JOIN m m2 ON h.rid = m2.message_key
ORDER BY h.score DESC, message_key ASC
""",
)
def conversation_typed_search(spark, sf_dir):
    from pyspark.sql import functions as F

    m = tpch.messages(spark, sf_dir)
    # serve from the cached all-messages index; the type restriction
    # is a candidate semijoin with GLOBAL df/N/avgdl — the same
    # serve-time prefilter shape as find(served=True), never a
    # per-type postings rebuild
    post = cached_df(
        sf_dir,
        "m_postings",
        lambda: bm25.postings(m, id_col="message_key"),
    )
    stats = cached_df(sf_dir, "m_docstats", lambda: bm25.doc_stats_from_postings(post))
    allowed = m.filter(F.col("message_type") == "QUESTION").select(
        F.col("message_key").alias("rid")
    )
    hits = bm25.bm25_search(
        None, "purchase value", top_k=20, post=post, stats=stats, allowed=allowed
    ).select(F.col("rid").alias("message_key"), "score")
    return (
        hits.join(
            m.select("message_key", "message_type", "who", "page"), "message_key"
        )
        .orderBy(F.col("score").desc(), F.col("message_key").asc())
        .select("message_key", "score", "message_type", "who", "page")
    )


@register(
    "conversation_field_metadata",
    f"""
SELECT conversation_id,
       CAST(MAX(page) AS INTEGER) AS pages,
       {tpch.CONVERSATION_PAGE_SIZE} AS size,
       CAST(COUNT(*) AS INTEGER) AS total
FROM ({tpch.SQL_MESSAGES}) m
GROUP BY conversation_id
ORDER BY conversation_id
""",
)
def conversation_field_metadata(spark, sf_dir):
    """FieldConversation metadata (pages/size/total per conversation,
    resources.proto:181-192) — one groupBy with map-side combine."""
    from pyspark.sql import functions as F

    m = tpch.messages(spark, sf_dir)
    return (
        m.groupBy("conversation_id")
        .agg(
            F.max("page").cast("int").alias("pages"),
            F.count("*").cast("int").alias("total"),
        )
        .withColumn("size", F.lit(tpch.CONVERSATION_PAGE_SIZE).cast("int"))
        .select("conversation_id", "pages", "size", "total")
        .orderBy("conversation_id")
    )


@register(
    "conversation_page_read",
    f"""
SELECT message_idx, message_key, message_type, who, text
FROM ({tpch.SQL_MESSAGES}) m
WHERE conversation_id = 3 AND page = 1
ORDER BY message_idx
""",
)
def conversation_page_read(spark, sf_dir):
    """Paged conversation read — get_value(page) over the stored
    200-message pages (ingest/fields/conversation.py:154-170): one
    partition-prunable filter, ordered by position in page."""
    from pyspark.sql import functions as F

    m = tpch.messages(spark, sf_dir)
    return (
        m.filter((F.col("conversation_id") == 3) & (F.col("page") == 1))
        .select("message_idx", "message_key", "message_type", "who", "text")
        .orderBy("message_idx")
    )


# --- §2.14 conversational strategy: hit messages ± surrounding turns -------

_CONV_HITS_SQL = f"""
SELECT message_key, conversation_id, message_idx
FROM ({tpch.SQL_MESSAGES}) m
WHERE conversation_id IN (3, 11) AND message_idx = 5
"""


@register(
    "conversation_context",
    augment.conversation_context_sql(tpch.SQL_MESSAGES, _CONV_HITS_SQL),
)
def conversation_context(spark, sf_dir):
    from pyspark.sql import functions as F

    m = tpch.messages(spark, sf_dir)
    hits = m.filter(
        F.col("conversation_id").isin(3, 11) & (F.col("message_idx") == 5)
    ).select("message_key", "conversation_id", "message_idx")
    return augment.conversation_context(m, hits)


# --- A1: facet counting over the fields index (labels column) -----------


@register(
    "field_facet_counts",
    f"""
WITH fields AS ({tpch.SQL_FIELDS}),
counts AS (
  SELECT facet, COUNT(*) AS count_
  FROM (SELECT unnest(labels) AS facet FROM fields)
  WHERE starts_with(facet, '/s/p/')
  GROUP BY facet
)
SELECT facet, count_ FROM counts ORDER BY count_ DESC, facet ASC LIMIT 50
""",
)
def field_facet_counts(spark, sf_dir):
    f = tpch.fields(spark, sf_dir)
    return (
        f.select(F.explode("labels").alias("facet"))
        .filter(F.col("facet").startswith("/s/p/"))
        .groupBy("facet")
        .agg(F.count("*").alias("count_"))
        .orderBy(F.col("count_").desc(), F.col("facet").asc())
        .limit(50)
    )


# --- §2.14: field_extension + metadata_extension RAG strategies ------------
# ref: nucliadb_models/search.py:1193-1225, 1290-1320 applied in
# search/search/chat/prompt.py.

_EXT_HITS_SQL = f"""
SELECT rid FROM ({tpch.SQL_FIELDS}) f WHERE rid IN (7, 42, 137, 296)
"""


def _ext_hits(spark, sf_dir):
    return (
        tpch.fields(spark, sf_dir)
        .filter(F.col("rid").isin(7, 42, 137, 296))
        .select("rid")
    )


@register(
    "rag_field_extension",
    augment.field_extension_sql(
        _EXT_HITS_SQL,
        tpch.SQL_RESOURCES,
        tpch.SQL_FIELDS,
        ["a/title", "a/slug", "t/body"],
    ),
)
def rag_field_extension(spark, sf_dir):
    return augment.field_extension_context(
        _ext_hits(spark, sf_dir),
        tpch.resources(spark, sf_dir),
        tpch.fields(spark, sf_dir),
        ["a/title", "a/slug", "t/body"],
    )


@register(
    "rag_metadata_extension",
    augment.metadata_extension_sql(
        _EXT_HITS_SQL,
        tpch.SQL_RESOURCES,
        tpch.SQL_RELATIONS,
        ["origin", "classification_labels", "ner"],
    ),
)
def rag_metadata_extension(spark, sf_dir):
    rel = tpch.relations_index(spark, sf_dir)
    return augment.metadata_extension_context(
        _ext_hits(spark, sf_dir),
        tpch.resources(spark, sf_dir),
        rel,
        ["origin", "classification_labels", "ner"],
    )


# --- with_duplicates=false: repeat-flag filter over the served index ------
# ref: nidx/nidx_paragraph/src/search_query.rs:218-223 — a Must term
# on the index-time repeated_in_field flag; corpus stats stay global.


@register(
    "paragraph_search_no_dups",
    "SELECT rid AS paragraph_id, score FROM ("
    + bm25.bm25_sql(
        f"SELECT paragraph_id AS rid, text, repeated_in_field FROM ({tpch.SQL_PARAGRAPHS_FLAGGED}) pf",
        "window shuffle",
        top_k=20,
        served_where="repeated_in_field = 0",
    )
    + ")",
)
def paragraph_search_no_dups(spark, sf_dir):
    from pyspark.sql import functions as F

    post, stats, corpus = _paragraph_index(spark, sf_dir)
    allowed = (
        tpch.paragraphs_flagged(spark, sf_dir)
        .filter(F.col("repeated_in_field") == 0)
        .select(F.col("paragraph_id").alias("rid"))
    )
    return bm25.bm25_search(
        None, "window shuffle", top_k=20,
        post=post, stats=stats, corpus=corpus, allowed=allowed,
    ).select(F.col("rid").alias("paragraph_id"), "score")


# --- /suggest combined response: both sections in one query ----------------
# ref: nucliadb/src/nucliadb/search/api/v1/suggest.py — the endpoint
# returns paragraph matches AND entity matches for the same typed
# prefix (KnowledgeboxSuggestResults.paragraphs/.entities). One user
# string, two indexes, two sections (not fused).

_SUGGEST_Q = "part"


@register(
    "suggest_combined",
    f"""
SELECT 'paragraphs' AS section, CAST(rid AS VARCHAR) AS id, score
FROM ({suggest.suggest_paragraphs_sql(tpch.SQL_FIELDS, _SUGGEST_Q)})
UNION ALL
SELECT 'entities' AS section, value AS id, 0.0::DOUBLE AS score
FROM ({suggest.suggest_entities_sql(tpch.SQL_RELATIONS, _SUGGEST_Q)})
ORDER BY section, score DESC, id
""",
)
def suggest_combined(spark, sf_dir):
    from pyspark.sql import functions as F

    post, stats = _text_index(spark, sf_dir)
    paras = suggest.suggest_paragraphs(
        None, _SUGGEST_Q, post=post, stats=stats,
        corpus=_corpus(sf_dir, stats), vocab=_vocab(sf_dir, post),
    ).select(
        F.lit("paragraphs").alias("section"),
        F.col("rid").cast("string").alias("id"),
        "score",
    )
    rel = tpch.relations_index(spark, sf_dir)
    ents = suggest.suggest_entities(rel, _SUGGEST_Q).select(
        F.lit("entities").alias("section"),
        F.col("value").alias("id"),
        F.lit(0.0).alias("score"),
    )
    return paras.unionByName(ents).orderBy(
        "section", F.col("score").desc(), "id"
    )


# --- G8 + node normalization: accented query matches ASCII entities --------
# ref: nidx_relation/src/schema.rs:123-137 (deunicode + lowercase on
# both sides). The Spark fold is a translate() over the NFD-foldable
# Latin range — bit-identical to DuckDB's strip_accents, so the
# oracle exercises the SAME fold on the value side while the query
# literal is folded driver-side.


@register(
    "suggest_entities_folded",
    suggest.suggest_entities_sql(tpch.SQL_RELATIONS, "Custómér:19", fold=True),
)
def suggest_entities_folded(spark, sf_dir):
    rel = tpch.relations_index(spark, sf_dir)
    return suggest.suggest_entities(rel, "Custómér:19", fold=True)


# --- multi-tenant: kbid-scoped search with PER-KB index stats --------------
# ref: nidx/src/searcher/shard_search.rs:94-105 — every query resolves
# the kbid's own shards; corpus stats are per-KB by construction (each
# KB is its own index). The oracle computes stats within the WHERE'd
# tenant corpus — a global-stats implementation would hash-mismatch.


@register(
    "multi_kb_scoped_search",
    bm25.bm25_sql(
        tpch.SQL_FIELDS_MULTI_KB,
        "spark join window",
        top_k=20,
        where="kbid = 'kb1'",
    ),
)
def multi_kb_scoped_search(spark, sf_dir):
    from nucliadb_spark.operators.filters import FieldEquals

    f = tpch.fields_multi_kb(spark, sf_dir)
    return bm25.bm25_search(
        f, "spark join window", top_k=20,
        prefilter=FieldEquals("kbid", "kb1"),
    )


# --- index maintenance: vocabulary pruning plan -----------------------------


@register(
    "vocab_prune_plan",
    bm25.prune_vocabulary_sql(tpch.SQL_FIELDS, min_df=2, max_df_frac=0.5),
)
def vocab_prune_plan(spark, sf_dir):
    """Index-size control: terms to drop from the postings index —
    df < 2 ('rare', dictionary bloat) or df > 50% of docs ('common',
    the longest posting lists with no signal). One agg over the
    cached postings; corpus size is a broadcast scalar."""
    post, stats = _text_index(spark, sf_dir)
    return bm25.prune_vocabulary(
        post, _corpus(sf_dir, stats), min_df=2, max_df_frac=0.5
    )


@register(
    "bm25_explain",
    bm25.bm25_explain_sql(tpch.SQL_FIELDS, "spark join window", top_k=10),
)
def bm25_explain(spark, sf_dir):
    """Ranking debugger: per-(doc, term) BM25 contribution rows for
    the query's top-10 — served entirely from the cached index
    sidecars (postings/stats/vocab/corpus), one broadcast semi-join
    of the top-k rid set."""
    post, stats = _text_index(spark, sf_dir)
    return bm25.bm25_explain(
        "spark join window", top_k=10,
        post=post, stats=stats, corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post),
    )


@register(
    "suggest_correction",
    suggest.query_correction_sql(tpch.SQL_FIELDS, "spakr windoq merge"),
)
def suggest_correction(spark, sf_dir):
    """Did-you-mean over the cached term dictionary: per unknown
    query term, the highest-df indexed term within edit distance 1 —
    the same candidate rule the fuzzy query path scores, surfaced as
    a correction instead of a silent expansion."""
    post, _stats = _text_index(spark, sf_dir)
    return suggest.query_correction("spakr windoq merge", _vocab(sf_dir, post))


# --- autocorrect-and-search (did-you-mean APPLIED) ---------------------------

_AC_QUERY = "spakr windoq merge"


@register(
    "bm25_autocorrect",
    bm25.bm25_sql(
        tpch.SQL_FIELDS,
        _AC_QUERY,
        top_k=20,
        mode="any",
        matched_sql=suggest.correction_matched_sql(_AC_QUERY),
    ),
)
def bm25_autocorrect(spark, sf_dir):
    """Spelling correction applied, not just suggested: unknown query
    terms are replaced by their did-you-mean correction (the fuzzy
    candidate rule, suggest.query_correction) and BM25 runs on the
    corrected query — 'spakr windoq merge' searches as 'spark window
    merge'. The correction lookup is a tiny driver-side collect over
    the cached term dictionary (the reference's query parser rewrites
    queries server-side the same way); scoring serves from the
    prebuilt index."""
    from nucliadb_spark.functions.text import tokenize_py

    post, stats = _text_index(spark, sf_dir)
    vocab = _vocab(sf_dir, post)
    corr = {
        r["term"]: r["suggestion"]
        for r in suggest.query_correction(_AC_QUERY, vocab).collect()
    }
    corrected = " ".join(corr.get(t, t) for t in tokenize_py(_AC_QUERY))
    return bm25.bm25_search(
        None,
        corrected,
        top_k=20,
        mode="any",
        post=post,
        stats=stats,
        corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post),
    )


# --- query-centered snippets -------------------------------------------------

_SNIP_QUERY = "spark join window"
_SNIP_BEFORE = 40
_SNIP_LEN = 100


@register(
    "bm25_snippets",
    f"""
WITH hits AS ({bm25.bm25_sql(tpch.SQL_FIELDS, _SNIP_QUERY, top_k=15, mode="any")}),
f AS ({tpch.SQL_FIELDS}),
pos AS (
  SELECT h.rid, h.score,
         LEAST(
           CASE WHEN strpos(f.text, 'spark') > 0 THEN strpos(f.text, 'spark') ELSE 1000000000 END,
           CASE WHEN strpos(f.text, 'join') > 0 THEN strpos(f.text, 'join') ELSE 1000000000 END,
           CASE WHEN strpos(f.text, 'window') > 0 THEN strpos(f.text, 'window') ELSE 1000000000 END
         ) AS match_pos,
         f.text
  FROM hits h JOIN f ON h.rid = f.rid
)
SELECT rid AS id, score,
       match_pos::BIGINT AS match_pos,
       substring(text, GREATEST(1, match_pos - {_SNIP_BEFORE}), {_SNIP_LEN})
         AS snippet
FROM pos
ORDER BY score DESC, id ASC
""",
)
def bm25_snippets(spark, sf_dir):
    """Reference-style snippets: a fixed window CENTERED on the first
    matched query term (search/search/paragraphs.py picks the matched
    block the same way), not a blind text prefix — match_pos rides
    along so highlighting can offset into the snippet. Served from
    the cached index; the snippet join is a broadcast of <= top_k
    ids."""
    from nucliadb_spark.functions.text import tokenize_py

    post, stats = _text_index(spark, sf_dir)
    hits = bm25.bm25_search(
        None,
        _SNIP_QUERY,
        top_k=15,
        mode="any",
        post=post,
        stats=stats,
        corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post),
    ).select("rid", "score")
    f = tpch.fields(spark, sf_dir).select("rid", "text")
    poss = [
        F.when(F.locate(t, F.col("text")) > 0, F.locate(t, F.col("text")))
        .otherwise(F.lit(1_000_000_000))
        for t in tokenize_py(_SNIP_QUERY)
    ]
    mpos = F.least(*poss)
    return (
        hits.join(f, "rid")
        .withColumn("match_pos", mpos.cast("long"))
        .select(
            F.col("rid").alias("id"),
            "score",
            "match_pos",
            F.expr(
                f"substring(text, greatest(1, match_pos - {_SNIP_BEFORE}), {_SNIP_LEN})"
            ).alias("snippet"),
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
    )


# --- batch multi-query BM25 (hard-negative mining shape) ---------------------

_BATCH_Q_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS query_id, term
FROM (
  SELECT doc_id, unnest(list_distinct(list_slice({{toks}}, 1, 3))) AS term
  FROM documents WHERE doc_id % 25 = 0
)
"""


@register(
    "bm25_batch_queries",
    f"""
WITH base AS ({{inner}})
SELECT b.query_id, b.rank, b.rid, b.score,
       (b.rid = b.query_id)::INT AS is_positive
FROM base b
ORDER BY query_id, rank
""".format(
        inner=bm25.batch_bm25_sql(
            tpch.SQL_FIELDS,
            _BATCH_Q_SQL.format(
                toks=__import__(
                    "nucliadb_spark.functions.text", fromlist=["x"]
                ).tokenize_sql("text")
            ),
            k=5,
        )
    ),
)
def bm25_batch_queries(spark, sf_dir):
    """Bulk retrieval in ONE pass: 20 seed queries (each doc_id%25==0
    doc's first 3 tokens) scored against the whole corpus in a single
    job — the DPR-style hard-negative mining shape (is_positive marks
    the seed doc itself; the rest of its top-5 are its hard
    negatives). Per-query cost amortizes to the query's posting rows;
    a million queries is the same plan."""
    from nucliadb_spark.functions.text import tokenize

    docs = tpch.table(spark, sf_dir, "documents")
    queries = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").cast("long").alias("query_id"),
            F.explode(F.slice(tokenize("text"), 1, 3)).alias("term"),
        )
        .distinct()
    )
    post, stats = _text_index(spark, sf_dir)
    top = bm25.batch_bm25(
        queries, post, stats, _corpus(sf_dir, stats), k=5
    )
    return top.select(
        "query_id",
        "rank",
        "rid",
        "score",
        (F.col("rid") == F.col("query_id")).cast("int").alias("is_positive"),
    ).orderBy("query_id", "rank")
