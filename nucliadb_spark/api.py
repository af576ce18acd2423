"""Public request API: the reference's FindRequest surface
(nucliadb_models/search.py FindRequest — features, filters, top_k,
min_score, rank fusion, reranker) executed Spark-first.

This is the layer a nucliadb user would call after switching: one
dataclass in, one DataFrame out, with the reference's planner rules
applied (feature pruning T7, window algebra O6/O7, single-source
fusion skip R3, legacy filter translation F8, reranker R5).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from nucliadb_spark import serving
from nucliadb_spark.cache import (
    cached_df,
    cached_names,
    forget,
    memo,
    request_key,
    touch,
)
from nucliadb_spark.functions import frames, models
from nucliadb_spark.operators import bm25, fusion, knn
from nucliadb_spark.operators.filters import Expr
from nucliadb_spark.plans import planner
from nucliadb_spark.sources import tpch
from nucliadb_spark.streaming import ingest

FEATURES = ("keyword", "semantic", "graph")

# nucliadb_models/search.py:1184-1190 — the field types a `fields`
# scope may name ("a/title", "t/body", ...)
ALLOWED_FIELD_TYPES = {
    "t": "text",
    "f": "file",
    "u": "link",
    "c": "conversation",
    "a": "generic",
}


def normalize_fields(fields: list[str]) -> list[str]:
    """The `fields` param validator, rule-for-rule
    (nucliadb_models/search.py:1204-1222): accept a legacy leading
    '/', require '{field_type}/{field_name}', reject unknown types."""
    out = []
    for f_ in fields:
        f_ = f_.strip("/")
        try:
            ftype, _ = f_.split("/")
        except ValueError:
            raise ValueError(
                f"Field '{f_}' is not in the format {{field_type}}/{{field_name}}"
            )
        if ftype not in ALLOWED_FIELD_TYPES:
            allowed = ", ".join(
                f"'{k}' for '{v}' fields" for k, v in ALLOWED_FIELD_TYPES.items()
            )
            raise ValueError(
                f"Field '{f_}' does not have a valid field type. "
                f"Valid field types are: {allowed}."
            )
        out.append(f_)
    return out


def _without_prequeries(req: "FindRequest") -> "FindRequest":
    return replace(req, prequeries=None)


# the corpus model's genuinely IMMUTABLE per-resource columns:
# identity written exactly once (resource/field identity, creation
# date — resources.proto:58-95), never revised by ANY write, hence
# snapshot-independent. Everything else the reference can PATCH on
# resource update is deliberately NOT here, even when this fixture
# happens never to revise it — the classification encodes the
# semantics, not the fixture (the standard that moved `modified`/
# `n_chars` out in r12 and security/extra/origin out in r13:
# UpdateResourcePayload PATCHes security, extra and origin —
# nucliadb_models/src/nucliadb_models/writer.py:155-169).
_STATIC_COLS = frozenset(
    {
        "rid",
        "kbid",
        "field_type",
        "field_id",
        "field_key",
        "created",
    }
)

# the resource-METADATA plane: security/extra/origin attributes the
# reference revises via PATCH. Versioned-in-principle, resolved at a
# snapshot from the metadata op log (ingest.cdc_meta_log — the
# fixture's lockdown wave revises security at seq rid+1e6) with the
# same rid-keyed latest-op-wins every CDC family pays.
_META_COLS = frozenset(ingest.META.payload)

# the DERIVED plane (r14 — the last filter rejection lifted):
# `modified` and `n_chars` are versioned state with NO op log of
# their own, but both are PURE FUNCTIONS of the content log the
# engine already keeps — modified at seq S = the commit timestamp of
# the rid's last op <= S (nidx sorts/ranges on modified as an index
# fast field, nidx/nidx_text/src/schema.rs:62-64), n_chars = the
# length of the as-of text version. ingest.cdc_live_derived computes
# the plane during resolution; the same-named static fields columns
# are today's denormalized catalog copies and never enter an as-of
# tree.
_DERIVED_COLS = frozenset({"modified", "n_chars"})


def _filter_planes(expr: Expr) -> set[str]:
    """Classify every leaf of a filter tree by the state plane it
    reads, for the as_of composition rules:

    - ``'label'`` — a Facet over ``labels``: VERSIONED state whose op
      log (cdc_label_log, with before-images) gives it a snapshot
      identity, so it resolves AS OF a seq.
    - ``'meta'`` — security/extra/origin attributes: VERSIONED
      resource metadata (the reference PATCHes them on update,
      writer.py:155-169) resolved from the seq-cut metadata op log
      (ingest.cdc_meta_log) and joined to the tree's frame by rid.
    - ``'text'`` — a Keyword predicate over ``text``: versioned
      CONTENT state whose op log (ingest.cdc_log) gives every text
      version a snapshot identity — the keyword evaluates against
      the seq-cut content state, exactly the corpus the scoring legs
      already search at the snapshot.
    - ``'static'`` — genuinely immutable identity metadata (creation
      date, resource/field identity): corpus MEMBERSHIP at the
      snapshot comes from the content op log, the attribute itself
      joins by rid.
    - ``'derived'`` — ``modified``/``n_chars``: versioned state with
      no op log of its own but DERIVABLE from the content log
      (modified = the last op's commit timestamp at the cut, n_chars
      = the as-of text length — ingest.cdc_live_derived), so it has
      snapshot identity after all. r14: the last rejection lifted.
    - ``'versioned'`` — anything reading versioned state with NO op
      log in this corpus model, or an unknown leaf: no snapshot
      identity, the composition must raise.

    And/Or/Not union their operands' planes, so a mixed tree is
    answerable iff no leaf is 'versioned'.
    """
    from nucliadb_spark.operators.filters import (
        And,
        DateRange,
        Facet,
        FieldEquals,
        JsonPath,
        Keyword,
        Not,
        NotHidden,
        NumericRange,
        Or,
        PrefixMatch,
        ResourceIs,
        SecurityFilter,
    )

    if isinstance(expr, (And, Or)):
        return set().union(*(_filter_planes(e) for e in expr.operands))
    if isinstance(expr, Not):
        return _filter_planes(expr.operand)
    if isinstance(expr, Facet):
        return {"label"} if expr.column == "labels" else {"versioned"}
    if isinstance(expr, Keyword):
        # text keywords evaluate against the seq-cut CONTENT state —
        # the content op log gives text versions a snapshot identity
        return {"text"} if expr.column == "text" else {"versioned"}
    if isinstance(expr, SecurityFilter):
        cols: tuple[str, ...] = (expr.public_column, expr.groups_column)
    elif isinstance(
        expr,
        (
            DateRange,
            ResourceIs,
            FieldEquals,
            PrefixMatch,
            NumericRange,
            NotHidden,
            JsonPath,
        ),
    ):
        cols = (expr.column,)
    else:
        return {"versioned"}  # unknown leaf — be honest, reject
    if all(c in _STATIC_COLS for c in cols):
        return {"static"}
    if all(c in _STATIC_COLS | _META_COLS for c in cols):
        return {"meta"}
    if all(c in _STATIC_COLS | _DERIVED_COLS for c in cols):
        return {"derived"}
    return {"versioned"}


def _mixed_allowed(
    fields: DataFrame, states: dict[str, DataFrame], filters: Expr
) -> DataFrame:
    """The rids a mixed-plane filter tree admits at a snapshot.

    The frame it filters holds the immutable identity columns of
    ``fields`` with each versioned plane's state LEFT-joined by rid:
    an Or across planes must stay answerable for a rid one plane's
    state lacks, and an inner join would silently turn Or into
    And-with-membership whenever plane logs diverge. (This corpus
    model's logs share one write schedule — pinned by
    test_meta_plane.py's shared-membership invariant — so today the
    joins are equal; the left join encodes the semantics, not the
    fixture.)

    The rule for a rid a plane lacks: it has no state there at the
    seq, so each leaf over that plane is false, and a ``Not`` over
    such a leaf is true. Each state carries a membership flag
    ``_in_<plane>`` into the join and each leaf over the plane is
    guarded by it (``filters.Present``); everything else compiles as
    the live path does, so a null VALUE in a row the plane has (a
    missing ``extra`` key, a null language) keeps the leaf's three-
    valued result and the tree admits the rows a live filter
    admits."""
    snap = fields.select(*[c for c in fields.columns if c in _STATIC_COLS])
    for plane, st in states.items():
        flagged = st.withColumn(f"_in_{plane}", F.lit(True))
        snap = snap.join(flagged, "rid", "left")
    return snap.filter(_plane_guarded(filters).to_column()).select("rid")


def _plane_guarded(expr: Expr) -> Expr:
    """``expr`` with each leaf over a versioned plane wrapped in
    ``Present`` on that plane's membership flag."""
    from nucliadb_spark.operators.filters import And, Not, Or, Present

    if isinstance(expr, (And, Or)):
        return type(expr)([_plane_guarded(e) for e in expr.operands])
    if isinstance(expr, Not):
        return Not(_plane_guarded(expr.operand))
    (plane,) = _filter_planes(expr)
    return expr if plane == "static" else Present(expr, f"_in_{plane}")


@dataclass
class FindRequest:
    query: str
    features: list[str] = field(default_factory=lambda: ["keyword", "semantic"])
    top_k: int = 10
    window: int = 50
    # the reference's MinScore model splits thresholds per index
    # (nucliadb_models/search.py:786-797): `semantic` cuts the vector
    # leg, `bm25` (default 0) cuts the keyword leg
    min_score: float | None = None
    min_score_bm25: float = 0.0
    filters: Expr | None = None
    legacy_filters: planner.LegacyFilters | None = None
    synonyms: dict[str, list[str]] | None = None
    fusion_weights: dict[str, float] | None = None
    reranker: str = "noop"  # noop | stub
    # Predict rephrase (ref search/search/query.py:78-79): rewrite the
    # query before embedding — semantic leg only, keyword unchanged
    rephrase: bool = False
    query_vec_id: int = 0
    entity_sources: list[str] | None = None
    # the `fields` search scope ("a/title" searches only title
    # fields — nucliadb_models/search.py:461-468, validated as
    # :1204-1222). Scopes the keyword leg to the named field
    # families' OWN corpus/stats (tantivy field-scoped postings);
    # semantic/graph legs semijoin to resources owning such a field
    # (vectors here are resource-keyed).
    fields: list[str] | None = None
    # prequeries RAG strategy (ref: nucliadb_models/search.py
    # PreQueriesStrategy): preliminary retrievals whose results fuse
    # with the main query's under per-query weights
    prequeries: list[tuple["FindRequest", float]] | None = None
    # snapshot-consistent retrieval: resolve EVERY leg's corpus AS OF
    # this log sequence (the MVCC reproducible-read primitive the
    # per-family search_as_of/knn_as_of/graph_as_of queries expose,
    # threaded through the full find pipeline). The reference cannot
    # do this — its indexer applies ops destructively past the seq
    # guard (nidx/src/indexer.rs:121-253); a training-data pipeline
    # must ("re-run this retrieval as it stood at snapshot S").
    as_of: int | None = None
    # the reference's dedicated security param (RequestSecurity —
    # nucliadb_models/search.py; applied by nidx as security_query,
    # nidx/nidx_text/src/search_query.rs:66-90): visible if public OR
    # any requested group matches. Folds into the filter tree as an
    # AND (its exact semantics), so it composes with everything
    # filters do — including as_of via the metadata-plane op log
    # (security is PATCHable, so at a snapshot it resolves from the
    # seq-cut metadata log, not today's groups).
    security_groups: list[str] | None = None
    # keyset pagination through the fused ranking (O5 applied to the
    # flagship — ref nodereader.proto:382-386 + search/search/
    # search_after.py): the (score, id) cursor is the previous page's
    # last row; the next page is a pushed-down predicate over the
    # fusion-window candidates, so page depth never changes the cost
    # (the window bound IS the pageable depth, the reference's O6
    # window-cut semantics).
    search_after: tuple[float, int] | None = None


def asof_text_index(
    spark: SparkSession, sf_dir: str, as_of: int, key: str | None = None
):
    """(post, stats, corpus) — the text index AS OF a log seq, over the
    whole content corpus or, given a field ``key`` ("/u/link"), over
    that one field family, session-cached per (snapshot, family). The
    corpus is the family's durable as-of state (serving.state_as_of,
    vacuum-aware: below-horizon raises); the postings chain at session
    level: the first request at a NEW snapshot advances the nearest
    cached earlier snapshot's postings (serving.nearest_prior) with
    only the ops in (S1, as_of] (ingest.advance_text_index — untouched
    rids keep their postings via an rid anti-join, touched rids
    re-tokenize from their final delta version), and builds from the
    state when no earlier snapshot is cached. Measured at a 100×
    corpus the advance costs 0.13× of the from-scratch build (SCALE.md
    r11 addendum). Within one field family the fielded op log is
    rid-keyed (one field of that family per resource), so the advance
    applies verbatim to the family-filtered state and log."""
    if key is None:
        family, log_name, tag = "content_text", "content_text", "text"
        oplog = ingest.CONTENT

        def log_builder() -> DataFrame:
            return ingest.cdc_log(tpch.fields(spark, sf_dir))

    else:
        family, log_name, oplog = "fielded_live", "fielded", ingest.FIELDED
        tag = "f" + key.strip("/").replace("/", "_")

        def log_builder() -> DataFrame:
            return ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir))

    def only(df: DataFrame) -> DataFrame:
        # within one family a field's key never changes, so filtering
        # the resolved state by field_key equals resolving the
        # family-filtered log
        return df if key is None else df.filter(F.col("field_key") == key)

    def postings_at(seq: int) -> DataFrame:
        return bm25.postings(only(serving.state_as_of(
            spark, sf_dir, family, log_builder, oplog.resolve, oplog.keys, seq,
            log_name=log_name,
        )))

    serving.check_horizon(spark, sf_dir, family, as_of)
    advanced: dict[str, DataFrame] = {}

    def build_post() -> DataFrame:
        tail = f"_{tag}_post"
        s1 = serving.nearest_prior(
            [
                int(s)
                for n in cached_names(sf_dir)
                if (s := n.removeprefix("asof").removesuffix(tail)).isdigit()
            ],
            as_of,
            serving.horizon(spark, sf_dir, family),
            serving.purge_floor(spark, sf_dir, log_name),
        )
        if s1 is None:
            return postings_at(as_of)
        prior_post = cached_df(
            sf_dir, f"asof{s1}_{tag}_post", lambda: postings_at(s1)
        )
        prior_stats = cached_df(
            sf_dir,
            f"asof{s1}_{tag}_stats",
            lambda: bm25.doc_stats_from_postings(prior_post),
        )
        post2, stats2 = ingest.advance_text_index(
            prior_post,
            prior_stats,
            # both ends of the delta prune on the physical log
            only(serving.log_between(
                spark, sf_dir, log_name, log_builder, s1, as_of
            )),
        )
        # the advance derives stats incrementally too (kept rows
        # verbatim + delta stats) — hand them to the stats sidecar
        # instead of re-deriving from the advanced postings
        advanced["stats"] = stats2
        return post2

    post = cached_df(sf_dir, f"asof{as_of}_{tag}_post", build_post)
    stats = cached_df(
        sf_dir,
        f"asof{as_of}_{tag}_stats",
        lambda: advanced.get("stats") or bm25.doc_stats_from_postings(post),
    )
    corpus = cached_df(
        sf_dir,
        f"asof{as_of}_{tag}_corpus",
        lambda: bm25.corpus_stats(stats),
    )
    return post, stats, corpus


def stub_embed_live(log: DataFrame) -> DataFrame:
    """The stub-embedding family's resolve over a content op log:
    latest-op-wins text, embedded deterministically (embeddings are
    pure functions of text versions — the refresh capstone's
    re-embed contract). Module-level so the serving substrate's
    vacuum can fold the family's base with the SAME resolve the
    rephrased find leg serves with."""
    return ingest.CONTENT.resolve(log).select(
        "rid",
        models.stub_embedding(F.col("text")).alias("embedding"),
    )


def asof_live_state(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    as_of: int,
    log_builder,
    resolve,
    keys: tuple[str, ...],
    log_name: str | None = None,
) -> DataFrame:
    """A CDC family's live state AS OF a log seq: the family's durable
    serving state (serving.state_as_of — a new snapshot advances the
    nearest earlier durable state with only the delta ops, so a
    session touring snapshots pays full-log cost once per family, not
    once per seq), session-cached as ``asof{seq}_{family}``. The
    horizon check runs before the cache lookup, so a cached state
    never answers a seq below the family's vacuum horizon — the
    pinned-snapshot error surfaces through FindRequest because every
    as-of entry point routes here. `log_name` names the physical log
    when families share one (the embedding sidecar reads the content
    log)."""
    serving.check_horizon(spark, sf_dir, family, as_of)
    return cached_df(
        sf_dir,
        f"asof{as_of}_{family}",
        lambda: serving.state_as_of(
            spark, sf_dir, family, log_builder, resolve, keys, as_of,
            log_name=log_name,
        ),
    )


def find_request(spark: SparkSession, sf_dir: str, req: FindRequest) -> DataFrame:
    """Execute a FindRequest → (id, score, matched_sources).

    Building a request's plan is pure driver work (plane
    classification, scope resolution, leg assembly, analysis): on the
    benchmark's find_live mix (4 cores) a first-seen request spends
    130-470 ms and 350-1,300 py4j round trips in it, with the corpus
    frames already memoized (``tpch.fields``). So the plan is memoized
    per session in two layers, each keyed on request values
    (``cache.request_key``):

    - the window (region ``find_window``): every leg plus the fusion,
      cut at the rank-fusion window ``win =
      planner.fusion_window(window, top_k)`` (at ``top_k`` itself
      past the window's 500 cap). Legs and fusion never read
      ``top_k`` beyond ``win`` (O6), nor the cursor or the reranker,
      so requests that differ only there share one entry;
    - the request plan (region ``find_request``): the window's
      per-request tail — the O7 cursor filter, the R5 rerank and the
      cut to ``top_k``. A repeat gets its own handle back, whose
      already-materialized adaptive stages make it re-run cheaply.

    The window layer holds a persisted RESULT, not just a plan: a
    window ranks an immutable input (a snapshot, or the session's
    pinned live index), so the first request's collect fills it and
    every later ``top_k`` variant, next page, reranked tail or repeat
    over it reads at most ``win`` rows in one Spark job — a "show
    more" or a next page builds no leg again. Only windows at most
    the fusion window's 500 rows deep are persisted (a deeper,
    user-chosen ``top_k`` keeps a plan handle), so the region's 256
    entries hold at most 256 × 500 rows, and evicting a window
    unpersists it. Each entry is stored with the vacuum-horizon
    checks its build made (nested window and prequery builds
    included), and every hit repeats them: a vacuum after the first
    request must still fail a repeat, or a ``top_k`` variant, below
    its horizon. The checks read driver-side state only, so a hit
    runs no Spark job. A request entry also records the windows its
    page reads: a hit marks them recently used, so a hot request's
    window is not the one evicted, and a hit whose window was evicted
    builds the page anew, since the old page would recompute every
    leg."""
    key = request_key(sf_dir, req)

    def build() -> tuple[frozenset, DataFrame]:
        reads: set = set()
        _WINDOW_READS.append(reads)
        try:
            df = _build_find_request(spark, sf_dir, req, memoize=True)
        finally:
            _WINDOW_READS.pop()
        return frozenset(reads), df

    windows, df = _checked_memo(spark, "find_request", key, build)
    if not all(touch("find_window", w) for w in windows):
        forget("find_request", key)
        windows, df = _checked_memo(spark, "find_request", key, build)
    for reads in _WINDOW_READS:
        reads.update(windows)
    return df


# the find_window keys each enclosing find_request build reads (a
# prequery request's page reads its main and prequery windows)
_WINDOW_READS: list[set] = []


def _checked_memo(spark: SparkSession, region: str, key, build):
    """``build()``'s value memoized in ``region`` under ``key`` with the
    horizon checks the build recorded; a hit repeats them, and inside
    an enclosing build the repeats land in its record too."""
    checks, value = memo(
        region, key, lambda: serving.recorded_checks(build), bound=256
    )
    for check_dir, family, seq in checks:
        serving.check_horizon(spark, check_dir, family, seq)
    return value


def _build_find_request(
    spark: SparkSession, sf_dir: str, req: FindRequest, memoize: bool = False
) -> DataFrame:
    """The request's plan: its window (from the ``find_window`` memo,
    persisted, when ``memoize``, else built fresh) and the per-request
    tail."""
    if req.prequeries:
        return _fuse_prequeries(spark, sf_dir, req)
    wreq = _window_request(req)
    if not memoize:
        return _page(spark, sf_dir, req, _build_window(spark, sf_dir, wreq))
    key = request_key(sf_dir, wreq)

    def build() -> DataFrame:
        window = _build_window(spark, sf_dir, wreq)
        # an unkeyed window is never stored, so nothing would
        # unpersist it
        if key is not None and wreq.top_k <= planner.MAX_RANK_FUSION_WINDOW:
            window = window.persist()
        return window

    window = _checked_memo(spark, "find_window", key, build)
    if key is not None:
        for reads in _WINDOW_READS:
            reads.add(key)
    return _page(spark, sf_dir, req, window)


def _window_request(req: FindRequest) -> FindRequest:
    """The request whose plan is ``req``'s window plan: no cursor, no
    reranker, and as ``top_k`` the depth the fusion cuts at — the
    fusion window, or ``top_k`` itself past the window's 500 cap."""
    return replace(
        req,
        top_k=max(planner.fusion_window(req.window, req.top_k), req.top_k),
        search_after=None,
        reranker="noop",
    )


def _fuse_prequeries(
    spark: SparkSession, sf_dir: str, req: FindRequest
) -> DataFrame:
    # the cursor would otherwise be applied to the INNER main-leg
    # ranking and then re-ranked by the outer weighted RRF — page
    # 2 would not tile the fused ranking, so the combination is
    # rejected (same contract as search_after + reranker in _page)
    if req.search_after is not None:
        raise ValueError(
            "search_after pages a single fused ranking; prequeries "
            "re-fuse results after the cursor would apply"
        )
    # each prequery retrieves independently; a final weighted RRF
    # fuses the main result with every prequery result, and the
    # request's reranker scores the fused ranking, not the main leg
    main = find_request(
        spark, sf_dir, replace(req, prequeries=None, reranker="noop")
    ).select("id", "score")
    sources = {"main": main}
    weights = {"main": 1.0}
    for i, (pre, w) in enumerate(req.prequeries):
        name = f"pre_{i}"
        sources[name] = find_request(
            spark, sf_dir, _without_prequeries(pre)
        ).select("id", "score")
        weights[name] = w
    # fused at the window request's depth, so the R5 rerank sees the
    # fused top min(2k, 200); unreranked, the page's limit combines
    # with this one and the plan is the RRF cut at top_k
    fused = fusion.rrf(sources, weights=weights, top_k=_window_request(req).top_k)
    return _page(spark, sf_dir, req, fused)


def _page(
    spark: SparkSession, sf_dir: str, req: FindRequest, window: DataFrame
) -> DataFrame:
    """The per-request tail over the window (the fused ranking cut at
    the fusion window): the O7 cursor filter, the R5 rerank, the cut
    to ``top_k``. Each cut sorts by (score desc, id asc) first, so a
    page does not depend on the order a persisted window is scanned
    in."""
    # keyset pagination needs the fused ranking to the window depth
    # (the pageable horizon); a reranked list has page-dependent
    # scores, so the combination is rejected
    if req.search_after is not None and req.reranker != "noop":
        raise ValueError("search_after pages the fused ranking; rerankers re-score pages")
    if req.search_after is not None:
        c_score, c_id = req.search_after
        window = window.filter(
            (F.col("score") < c_score)
            | ((F.col("score") == c_score) & (F.col("id") > c_id))
        )
    ranked = window.orderBy(F.col("score").desc(), F.col("id").asc())
    if req.reranker != "stub":
        return ranked.limit(req.top_k)
    # R5: optional cross-encoder rerank over the fused top min(2k, 200)
    # (the window plan holds at most the fusion window of them)
    docs = tpch.table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"), "text"
    )
    rerank = models.make_stub_reranker(req.query)
    return (
        ranked.limit(planner.reranker_window(req.top_k))
        .join(docs, "id")
        .select(
            "id",
            F.round(rerank(F.col("text")), 8).cast("double").alias("score"),
            "matched_sources",
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(req.top_k)
    )


def _build_window(
    spark: SparkSession, sf_dir: str, req: FindRequest
) -> DataFrame:
    """Every leg of a request without prequeries, each cut at the
    fusion window ``win``, fused and cut at the window request's
    ``top_k``."""
    # F8: legacy filters fold into the filter tree
    filters = req.filters
    legacy = planner.translate_old_filters(req.legacy_filters) if req.legacy_filters else None
    if legacy is not None:
        from nucliadb_spark.operators.filters import And

        filters = legacy if filters is None else And([filters, legacy])
    # F5: the dedicated security param ANDs into the same tree
    if req.security_groups is not None:
        from nucliadb_spark.operators.filters import And, SecurityFilter

        sec = SecurityFilter(groups=list(req.security_groups))
        filters = sec if filters is None else And([filters, sec])

    # T7: exact-match / empty queries disable semantic retrieval
    features = list(req.features)
    if "semantic" in features and planner.should_disable_vector_search(req.query):
        features.remove("semantic")

    win = planner.fusion_window(req.window, req.top_k)
    fields = tpch.fields(spark, sf_dir)
    sources: dict[str, DataFrame] = {}

    # snapshot-consistent retrieval: one as_of seq resolves EVERY
    # leg's corpus (text / vector / relation op logs cut at the same
    # point, the per-leg resolution being the identical single
    # max_by shuffle the live CDC reads pay). A `fields` scope
    # composes: the fielded op log carries field_key, so the scoped
    # field-key set resolves AS OF the same seq (below). Label/facet
    # filters compose too (r11): the label op log with before-images
    # gives label state a snapshot identity, so a filter tree whose
    # every leaf is a Facet resolves from the seq-cut label log —
    # the reference's prefilter semantics
    # (nidx/nidx_text/src/reader.rs:148-180) at a snapshot the
    # reference cannot express. Every other filter plane composes via
    # its own op log as of r13 (_filter_planes): security/extra/
    # origin from the metadata log (the reference PATCHes them,
    # writer.py:155-169 — a lockdown after the snapshot must not
    # hide what the snapshot could see), text keywords from the
    # content log, immutable identity predicates (dates) by rid;
    # only op-log-less versioned state stays rejected rather than
    # silently answered against mixed snapshots.
    as_of = req.as_of
    # as_of × rephrase composes (r11): the rewrite is a pure function
    # of the query text and the doc embeddings are a pure function of
    # each doc's TEXT VERSION (a pinned model — the refresh capstone's
    # re-embed contract), so the semantic leg embeds the AS-OF corpus
    # and nothing mixes snapshots. With every composition lifted,
    # FindRequest.as_of now composes with the full request surface.
    # as_of × entity_sources composes (r11, made honest in r13):
    # corpus MEMBERSHIP at the snapshot resolves from the content op
    # log, and the source attribute — PATCHable origin metadata —
    # resolves from the seq-cut metadata op log rather than joining
    # today's values by rid.
    planes: set[str] = set()
    if as_of is not None and filters is not None:
        planes = _filter_planes(filters)
        if "versioned" in planes:
            raise ValueError(
                "as_of composes with label/facet filters, security/"
                "extra/origin metadata (resolved from the metadata op "
                "log), text keywords and modified/n_chars (resolved "
                "or derived from the content op log) and immutable "
                "identity predicates (dates); predicates over state "
                "with no op log in this corpus model have no snapshot "
                "identity"
            )
    # the snapshot-resolved prefilter: allowed rids = the filter tree
    # evaluated against a frame that carries each plane's state AT
    # the seq — label state from the seq-cut label op log, security/
    # extra/origin from the seq-cut metadata op log, text keywords
    # from the seq-cut content op log (each session-cached per
    # snapshot like every other as-of sidecar), immutable identity
    # attributes (created, field identity) from the fields frame by
    # rid. All planes are RESOURCE-grain — the reference's grain too
    # (the pg catalog keys facets by resource, catalog/pg.py:72-107)
    # — so the same allowed set serves scoped and unscoped requests
    # alike and the full triple (as_of × fields × filters) composes:
    # scope from the seq-cut fielded log, filter from the seq-cut
    # plane logs + identity metadata, corpus from the seq-cut content
    # logs, one seq everywhere. A static-only tree skips plane
    # resolution entirely (one filter over the fields frame;
    # membership at the seq is enforced by each leg's as-of corpus),
    # a single-plane tree filters that plane's state directly, and a
    # mixed tree joins the planes' states by rid before the filter
    # compiler evaluates the WHOLE tree (_mixed_allowed) — And/Or/Not
    # across planes need no decomposition.
    asof_allowed = None
    if as_of is not None and filters is not None:
        if planes == {"static"}:
            asof_allowed = fields.filter(filters.to_column()).select("rid")
        else:
            # each versioned plane the tree reads resolves AS OF the
            # same seq from ITS op log (session-cached + chained via
            # asof_live_state); a mixed tree joins the planes' states
            # by rid into ONE frame (_mixed_allowed).
            states: dict[str, DataFrame] = {}
            if "label" in planes:
                states["label"] = asof_live_state(
                    spark,
                    sf_dir,
                    "labels",
                    as_of,
                    lambda: ingest.cdc_label_log(
                        tpch.fields(spark, sf_dir).select("rid", "labels")
                    ),
                    ingest.LABELS.resolve,
                    ingest.LABELS.keys,
                )
            if "meta" in planes:
                states["meta"] = asof_live_state(
                    spark,
                    sf_dir,
                    "meta",
                    as_of,
                    lambda: ingest.cdc_meta_log(fields),
                    ingest.META.resolve,
                    ingest.META.keys,
                )
            if "text" in planes:
                states["text"] = asof_live_state(
                    spark,
                    sf_dir,
                    "content_text",
                    as_of,
                    lambda: ingest.cdc_log(fields),
                    ingest.CONTENT.resolve,
                    ingest.CONTENT.keys,
                )
            if "derived" in planes:
                # modified/n_chars derive from the CONTENT log — the
                # same physical log the text plane and keyword corpus
                # read, a different resolve (log_name shares it)
                states["derived"] = asof_live_state(
                    spark,
                    sf_dir,
                    "derived",
                    as_of,
                    lambda: ingest.cdc_log(fields),
                    ingest.cdc_live_derived,
                    ingest.CONTENT.keys,
                    log_name="content_text",
                )
            if len(states) == 1 and "static" not in planes:
                # single-plane tree: filter the plane's state directly
                asof_allowed = (
                    next(iter(states.values()))
                    .filter(filters.to_column())
                    .select("rid")
                )
            else:
                asof_allowed = _mixed_allowed(fields, states, filters)

    # `fields` scope: validate, then resolve the scoped field-key set
    # and the owning-resource frame once (both reused across legs).
    # Under as_of the scope resolves from the FIELDED op log cut at
    # the same seq — a field deleted after the snapshot is still in
    # scope, one added after it is not (field-grain MVCC, the same
    # latest-op-wins shuffle the live fielded CDC read pays).
    scoped_keys: list[str] | None = None
    scope_rids = None
    if req.fields:
        scoped_keys = ["/" + f_ for f_ in normalize_fields(req.fields)]
        if as_of is not None:
            live_fielded = asof_live_state(
                spark,
                sf_dir,
                "fielded_live",
                as_of,
                lambda: ingest.cdc_field_log(tpch.fields_multi(spark, sf_dir)),
                ingest.FIELDED.resolve,
                ingest.FIELDED.keys,
                log_name="fielded",
            )
            scoped_fields = live_fielded.filter(
                F.col("field_key").isin(scoped_keys)
            )
            scope_name = f"asof{as_of}_scope_rids:" + ",".join(
                sorted(scoped_keys)
            )
        else:
            scoped_fields = tpch.fields_multi(spark, sf_dir).filter(
                F.col("field_key").isin(scoped_keys)
            )
            scope_name = "scope_rids:" + ",".join(sorted(scoped_keys))
        # the owning-resource set of a field family is INDEX state
        # (the fielded postings sidecar's membership list), not
        # per-request work: without the sidecar every scoped request
        # re-ran the fields_multi scan + distinct once per leg that
        # broadcasts it (r15, guide §2.4). Unpinned: the key carries
        # request-chosen field names (and a seq under as_of), so the
        # family is unbounded and ages out under the byte budget
        scope_rids = cached_df(
            sf_dir,
            scope_name,
            lambda: scoped_fields.select("rid").distinct(),
        )

    if (
        "keyword" in features
        and req.query.strip()
        and as_of is not None
        and scoped_keys
    ):
        # fields scope AT a snapshot: each scoped family's text index
        # builds from the as-of FIELDED corpus and is session-cached
        # per (snapshot, family) — repeated requests at a snapshot
        # serve from built sidecars exactly like the live fielded
        # path, and the FIRST request at a new snapshot chains from
        # the nearest cached earlier snapshot of the same family
        # (asof_text_index advances it with only the family's delta
        # ops). Multi-family scopes sum per-field scores per
        # resource (tantivy's multi-field Occur::Should), each family
        # ranking against its OWN as-of stats.
        legs = []
        for key in scoped_keys:
            post, stats, corpus = asof_text_index(spark, sf_dir, as_of, key)
            legs.append(
                bm25.bm25_search(
                    None,
                    req.query,
                    top_k=win,
                    synonyms=req.synonyms,
                    post=post,
                    stats=stats,
                    corpus=corpus,
                    # triple composition: the snapshot's resource-grain
                    # label prefilter semijoins candidates while the
                    # scoped family's as-of stats stay fixed
                    allowed=asof_allowed,
                )
            )
        kw = legs[0]
        for other in legs[1:]:
            kw = kw.unionByName(other)
        if len(legs) > 1:
            kw = kw.groupBy("rid").agg(
                F.round(F.sum("score"), 4).cast("double").alias("score")
            )
        if req.min_score_bm25:
            kw = kw.filter(F.col("score") >= req.min_score_bm25)
        sources["keyword"] = (
            kw.orderBy(F.col("score").desc(), F.col("rid").asc())
            .limit(win)
            .select(F.col("rid").alias("id"), "score")
        )
    elif "keyword" in features and req.query.strip() and as_of is not None:
        # the snapshot's text index: the as-of corpus resolves ONCE
        # per (corpus, seq) and its postings/doc-stats/corpus sidecars
        # are session-cached per snapshot — repeated requests at the
        # same snapshot serve from built segments exactly like the
        # live path. The first request at a NEW snapshot chains from
        # the nearest cached earlier snapshot (asof_text_index
        # advances it with only the delta ops), so a session touring
        # snapshots pays delta-proportional cold cost, not a full
        # rebuild per seq.
        post, stats, corpus = asof_text_index(spark, sf_dir, as_of)
        sources["keyword"] = bm25.bm25_search(
            None,
            req.query,
            top_k=win,
            synonyms=req.synonyms,
            min_score=req.min_score_bm25 or None,
            post=post,
            stats=stats,
            corpus=corpus,
            # the snapshot-resolved label prefilter: candidates
            # restrict via semijoin while the snapshot's df/N/avgdl
            # stay global — the same serve-time contract as the live
            # prefilter (never a stats rebuild)
            allowed=asof_allowed,
        ).select(F.col("rid").alias("id"), "score")
    elif "keyword" in features and req.query.strip() and scoped_keys:
        # field-scoped keyword search SERVES from the session-cached
        # per-family sidecars (postings/docstats/vocab/corpus keyed
        # by field_key — _fielded_text_index): no per-request
        # tokenization or stats pass, same serving rule as the
        # unscoped path below. Each scoped family ranks against its
        # OWN prebuilt stats (tantivy's per-field postings + field
        # norms, nidx/nidx_text/src/schema.rs:59-114); a multi-family
        # scope sums per-field scores per resource, tantivy's
        # multi-field Occur::Should. Filters restrict candidates via
        # semijoin while family stats stay fixed — the serve-time
        # prefilter, never a stats rebuild
        # (nidx/nidx_text/src/reader.rs:148-180).
        from nucliadb_spark.plans.queries_text import _fielded_text_index

        post_f, stats_f, vocab_f, corpus_f = _fielded_text_index(spark, sf_dir)
        allowed_pairs = None
        if filters is not None:
            allowed_pairs = scoped_fields.filter(filters.to_column()).select(
                "field_key", "rid"
            )
        legs = []
        for key in scoped_keys:
            fk = F.col("field_key") == key
            allowed = (
                allowed_pairs.filter(fk).select("rid")
                if allowed_pairs is not None
                else None
            )
            legs.append(
                bm25.bm25_search(
                    None,
                    req.query,
                    top_k=win,
                    synonyms=req.synonyms,
                    post=post_f.filter(fk).drop("field_key"),
                    stats=stats_f.filter(fk).drop("field_key"),
                    vocab=vocab_f.filter(fk).drop("field_key"),
                    corpus=corpus_f.filter(fk).select("n", "avgdl"),
                    allowed=allowed,
                )
            )
        kw = legs[0]
        for other in legs[1:]:
            kw = kw.unionByName(other)
        if len(legs) > 1:
            kw = kw.groupBy("rid").agg(
                F.round(F.sum("score"), 4).cast("double").alias("score")
            )
        if req.min_score_bm25:
            kw = kw.filter(F.col("score") >= req.min_score_bm25)
        sources["keyword"] = (
            kw.orderBy(F.col("score").desc(), F.col("rid").asc())
            .limit(win)
            .select(F.col("rid").alias("id"), "score")
        )
    elif "keyword" in features and req.query.strip():
        # ALL requests serve from the session-cached index
        # (postings/docstats/corpus/vocab sidecars) — an API endpoint
        # must not rebuild the index per request. A filter restricts
        # candidates via semijoin while corpus stats stay GLOBAL,
        # exactly tantivy's serve-time prefilter
        # (nidx/nidx_text/src/reader.rs:148-180).
        from nucliadb_spark.plans.queries_text import (
            _corpus,
            _text_index,
            _vocab,
        )

        post, stats = _text_index(spark, sf_dir)
        allowed = None
        if filters is not None:
            # unbounded id set: no broadcast hint, AQE decides
            allowed = fields.filter(filters.to_column()).select("rid")
        sources["keyword"] = bm25.bm25_search(
            None,
            req.query,
            top_k=win,
            synonyms=req.synonyms,
            min_score=req.min_score_bm25 or None,
            post=post,
            stats=stats,
            corpus=_corpus(sf_dir, stats),
            vocab=_vocab(sf_dir, post),
            allowed=allowed,
        ).select(F.col("rid").alias("id"), "score")

    if "semantic" in features:
        if req.rephrase:
            # rephrased text is what gets embedded (stub space over
            # documents — the fetcher.get_query_vector analog); the
            # doc embeddings come from the session-cached sidecar,
            # never a per-request corpus UDF pass
            from nucliadb_spark.operators.find import stub_embedding_sidecar

            qtext = models.stub_rephrase_py(req.query)
            if as_of is not None:
                # the snapshot's embedding sidecar: the as-of corpus
                # (revised docs on their revised text, deleted-later
                # docs still present) re-embedded deterministically —
                # session-cached per snapshot, and CHAINED like every
                # other as-of state: a new snapshot embeds only the
                # delta docs (embeddings are pure functions of text
                # versions, so untouched rids keep their vectors via
                # the advance's anti-join — the Arrow UDF pass, the
                # expensive part, runs over the delta alone)
                emb_docs = asof_live_state(
                    spark,
                    sf_dir,
                    "stub_embeddings",
                    as_of,
                    lambda: ingest.cdc_log(fields),
                    stub_embed_live,
                    ingest.CONTENT.keys,
                    log_name="content_text",
                )
            else:
                emb_docs = stub_embedding_sidecar(spark, sf_dir)
            if filters is not None:
                allowed = (
                    asof_allowed
                    if asof_allowed is not None
                    else fields.filter(filters.to_column()).select("rid")
                )
                emb_docs = emb_docs.join(allowed, "rid", "semi")
            if scope_rids is not None:
                emb_docs = emb_docs.join(F.broadcast(scope_rids), "rid", "semi")
            # the query embedding is computed DRIVER-SIDE (the model
            # boundary runs once per request on the query text, like
            # the reference's Predict call) and inlined as a literal —
            # the createDataFrame+UDF form spun one Python worker per
            # default-parallelism slice for a 1-row frame (guide §4;
            # measured as a 32-task / 88 s-run stage in the r14
            # baseline profile)
            qvec = frames.literal_frame(
                spark,
                [(models._hash_embed(qtext),)],
                "qvec array<double>",
            )
            sources["semantic"] = knn.exact_knn(
                emb_docs, qvec, k=win, min_score=req.min_score,
                vec_col="embedding",
            )
        else:
            if as_of is not None:
                # the vector set AS OF the same seq: a new snapshot
                # chains from the nearest durable one (delta advance),
                # the first pays the seq-pruned scan + the same max_by
                # the live vector CDC read pays
                vectors = asof_live_state(
                    spark,
                    sf_dir,
                    "vectors",
                    as_of,
                    lambda: ingest.cdc_vector_log(tpch.vectors(spark, sf_dir)),
                    ingest.VECTORS.resolve,
                    ingest.VECTORS.keys,
                )
            else:
                vectors = tpch.vectors(spark, sf_dir)
            if filters is not None:
                allowed = (
                    asof_allowed
                    if asof_allowed is not None
                    else fields.filter(filters.to_column()).select("rid")
                )
                # no broadcast hint: the allowed set is query-dependent
                # and unbounded (a loose filter matches most of the
                # corpus) — AQE broadcasts small sets at runtime and
                # shuffles big ones, the same rule bm25_search applies
                vectors = vectors.join(allowed, "rid", "semi")
            if scope_rids is not None:
                vectors = vectors.join(F.broadcast(scope_rids), "rid", "semi")
            qvec = (
                tpch.table(spark, sf_dir, "embeddings")
                .filter(F.col("vec_id") == req.query_vec_id)
                .select(F.col("embedding").alias("qvec"))
            )
            sources["semantic"] = knn.exact_knn(
                vectors, qvec, k=win, min_score=req.min_score
            )

    if "graph" in features and req.entity_sources:
        gdf = fields
        if as_of is not None:
            # snapshot membership from the content op log (docs
            # deleted after the seq still match, docs indexed after
            # it do not); the SOURCE attribute is metadata-plane
            # state (origin is PATCHable, writer.py:155-169), so it
            # reads from the seq-cut metadata op log — not today's
            # values. Both served through asof_live_state like every
            # other as-of plane: repeated requests at the snapshot
            # read the cached sidecars, a new snapshot chains from
            # the nearest durable one — full-log cost once per
            # (seq, family), not once per request
            # membership rides the SAME 'content_text' family the
            # text filter plane resolves — one content-log resolution
            # and one cached sidecar per snapshot serve both
            live_rids = asof_live_state(
                spark,
                sf_dir,
                "content_text",
                as_of,
                lambda: ingest.cdc_log(fields),
                ingest.CONTENT.resolve,
                ingest.CONTENT.keys,
            ).select("rid")
            meta_state = asof_live_state(
                spark,
                sf_dir,
                "meta",
                as_of,
                lambda: ingest.cdc_meta_log(fields),
                ingest.META.resolve,
                ingest.META.keys,
            )
            gdf = meta_state.join(live_rids, "rid", "semi")
        if filters is not None:
            # under as_of the filter tree is the multi-plane
            # snapshot-resolved allowed set (label/meta/text/static,
            # computed above); live requests evaluate the tree
            # directly over the fields frame
            gdf = (
                gdf.join(asof_allowed, "rid", "semi")
                if asof_allowed is not None
                else gdf.filter(filters.to_column())
            )
        if scope_rids is not None:
            gdf = gdf.join(F.broadcast(scope_rids), "rid", "semi")
        sources["graph"] = (
            gdf.filter(F.col("source").isin(req.entity_sources))
            .select(F.col("rid").alias("id"), F.lit(1.0).alias("score"))
            .orderBy("id")
            .limit(win)
        )
    elif "graph" in features and req.query.strip():
        # the RELATIONS retriever proper: NER-detected entity values
        # become graph entry points; matching triples' provenance
        # paragraphs join the fusion at score 1.0 (ref fetcher.py:
        # 238-257 get_detected_entities + find's relations source).
        # Under a `fields` scope the triple hits semijoin the scope's
        # rid set BEFORE fusion — the reference's prefilter applied
        # to the relation index (nidx/nidx_relation/src/reader.rs:
        # 261-271 apply_prefilter). The entity list is a driver-side
        # literal; the triple match is an isin filter inside codegen.
        ents = models.detect_entity_values_py(req.query)
        if ents:
            if as_of is not None:
                # the relation set AS OF the same seq — edge-keyed
                # max_by over the seq-cut edge op log; a new snapshot
                # chains from the nearest durable one (delta advance)
                rel = asof_live_state(
                    spark,
                    sf_dir,
                    "relations",
                    as_of,
                    lambda: ingest.cdc_relation_log(tpch.relations(spark, sf_dir)),
                    ingest.RELATIONS.resolve,
                    ingest.RELATIONS.keys,
                )
            else:
                rel = tpch.relations_index(spark, sf_dir)
            g = (
                rel.filter(
                    (
                        F.col("source_value").isin(ents)
                        | F.col("target_value").isin(ents)
                    )
                    & F.col("paragraph_id").isNotNull()
                )
                .select(
                    F.split("paragraph_id", "/").getItem(0).cast("long").alias("id"),
                    F.lit(1.0).alias("score"),
                )
                .distinct()
            )
            if filters is not None:
                allowed = (
                    asof_allowed
                    if asof_allowed is not None
                    else fields.filter(filters.to_column()).select("rid")
                ).select(F.col("rid").alias("id"))
                g = g.join(allowed, "id", "semi")
            if scope_rids is not None:
                g = g.join(
                    F.broadcast(scope_rids.select(F.col("rid").alias("id"))),
                    "id",
                    "semi",
                )
            sources["graph"] = g

    if not sources:
        raise ValueError("request selects no retrievers")

    # R3: single source skips fusion entirely
    if len(sources) == 1:
        name, df = next(iter(sources.items()))
        return df.select(
            "id",
            F.col("score").cast("double").alias("score"),
            F.array(F.lit(name)).alias("matched_sources"),
        ).orderBy(F.col("score").desc(), F.col("id").asc()).limit(req.top_k)
    return fusion.rrf(sources, weights=req.fusion_weights, top_k=req.top_k)
