"""Physical-plan shape guards for the hot paths — the properties that
make these operators survive 100×, asserted on the executed plan so a
regression (wrong broadcast side, lost pushdown, extra shuffle) fails
a test instead of a benchmark.

String-matching on plans is inherently approximate; each assertion
targets one load-bearing marker, not the whole plan.
"""

from __future__ import annotations

import pytest

import os
import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_shuffles(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def _walk_deep(root):
    """_walk_subtree, additionally descending into cached relations'
    BUILD plans (InMemoryTableScan → relation.cachedPlan) — for
    assertions about where a cached sidecar's data ultimately comes
    from, which per-query walks deliberately exclude."""
    stack = [root]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        yield cls, n
        if cls.startswith("AdaptiveSparkPlan"):
            stack.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(n.plan())
        else:
            if cls.startswith("InMemoryTableScan"):
                stack.append(n.relation().cachedPlan())
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))


def _reads_family(df, fam: str) -> bool:
    """Whether the plan (including cached sidecars' build plans)
    reads `fam`'s PHYSICAL serving substrate (r14 —
    nucliadb_spark/serving.py): durable per-snapshot state artifacts
    live under serving_fam_{family}_*/state_s{seq}, the seq-bucket-
    partitioned log under serving_{log}_*/log. A leg at a snapshot
    must root at one of these (from-scratch: the state artifact;
    chained: a prior state artifact + pruned log partitions) — never
    re-derive from an in-memory log."""
    from nucliadb_spark import serving

    # exact registered directory names, not name-prefix patterns: a
    # family named with another's prefix (content_text vs
    # content_text_streamed) must not satisfy its matches, and the
    # mkdtemp suffix alphabet includes '_' so no suffix regex can
    # disambiguate
    dirs = [
        os.path.basename(d)
        for store in (serving._FAM_DIRS, serving._LOG_DIRS)
        for (_, _, name), d in store.items()
        if name == fam
    ]
    if not dirs:
        return False
    for cls, n in _walk_deep(df._jdf.queryExecution().executedPlan()):
        if "FileSourceScan" in cls or "FileScan" in cls:
            s = n.toString()
            if any(p in s for p in dirs):
                return True
    return False


def test_bm25_served_pushes_term_filter(spark, sf_dir):
    """Non-fuzzy serving must land the literal term IN (...) predicate
    on the postings scan itself, not only inside a join."""
    from nucliadb_spark.operators import bm25
    from nucliadb_spark.plans.queries_text import _corpus, _text_index, _vocab

    post, stats = _text_index(spark, sf_dir)
    df = bm25.bm25_search(
        None, "spark join window", top_k=20, mode="any",
        post=post, stats=stats, corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post),
    )
    plan = _plan(df)
    scans = [
        ln for ln in plan.splitlines()
        if "InMemoryTableScan" in ln and "term#" in ln and " IN (" in ln
    ]
    assert scans, f"no term-IN predicate on a postings scan:\n{plan[:2000]}"


def test_two_hop_broadcasts_filtered_side(spark, sf_dir):
    """The selective first hop must be the broadcast build side; the
    full edge table must stream (regression: the planner used to
    build the 10^6-row side)."""
    from nucliadb_spark.operators import filters as fx
    from nucliadb_spark.operators import graph as G
    from nucliadb_spark.sources import tpch

    start = fx.And(
        [G.Node("customer:12", side="source", kind="full"), G.Relation("PLACED")]
    )
    df = G.two_hop(tpch.relations(spark, sf_dir), start, top_k=100)
    plan = _plan(df)
    # the build (broadcast) subtree must contain the start filter
    m = re.search(r"BroadcastExchange(.*)", plan, re.S)
    assert m and "customer:12" in m.group(1), plan[:2000]


def test_asof_join_single_shuffle(spark, sf_dir):
    """As-of = union + one window pass: exactly one hash-partitioning
    exchange (by user), never a range-join explosion."""
    from nucliadb_spark.operators.timeseries import asof_join
    from nucliadb_spark.sources import tpch

    df = asof_join(tpch.table(spark, sf_dir, "events"))
    plan = _plan(df)
    assert _n_shuffles(plan) == 1, plan[:2000]
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_rollup_single_aggregation_pass(spark, sf_dir):
    """Multi-grain rollup: one Expand + one shuffle, with map-side
    partial aggregation."""
    from nucliadb_spark.operators.timeseries import rollup_counts
    from nucliadb_spark.sources import tpch

    plan = _plan(rollup_counts(tpch.table(spark, sf_dir, "events")))
    assert plan.count("Expand") >= 1
    assert _n_shuffles(plan) == 1, plan[:2000]
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_clean_corpus_single_shuffle(spark, sf_dir):
    """Fingerprint + quality features are per-row; the only wide op
    is the MIN window keyed by fingerprint."""
    from nucliadb_spark import registry

    df = registry.queries()["pipeline_clean_corpus"](spark, sf_dir)
    plan = _plan(df)
    assert _n_shuffles(plan) == 1, plan[:2000]


def test_token_classification_shuffle_free(spark, sf_dir):
    from nucliadb_spark.operators.trainset import token_classification
    from nucliadb_spark.sources import tpch

    df = token_classification(tpch.fields(spark, sf_dir))
    plan = _plan(df)
    assert _n_shuffles(plan) == 0, plan[:2000]
    assert "Generate" not in plan  # no explode: per-row array transform


def test_graph_leg_pushes_source_filter(spark, sf_dir):
    """find()'s graph leg must push source IN (...) into the parquet
    scan (PushedFilters), not filter post-scan."""
    from nucliadb_spark.sources import tpch

    df = (
        tpch.fields(spark, sf_dir)
        .filter(F.col("source").isin(["src3", "src11"]))
        .select("rid")
    )
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*In\(source", plan), plan[:1500]


def test_pack_sequences_single_data_shuffle(spark, sf_dir):
    """Packing must be ONE hash shuffle on the pack key (plus the
    deterministic output sort's range exchange) and ONE window
    expression — the cumsum must not be recomputed per output column."""
    from nucliadb_spark.operators import trainset
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    df = trainset.pack_sequences(docs)
    df.collect()
    plan = _plan(df)
    # AQE repeats the subtree under "== Initial Plan =="; count only
    # the final plan section
    final = plan.split("== Initial Plan ==")[0]
    assert _n_shuffles(final) == 1, plan[:1500]
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("sum(n_tokens") == 1, opt[:1500]


def test_unigram_model_broadcast_join(spark, sf_dir):
    """Doc scoring joins the unigram model by BROADCAST at this scale
    (the model is a vocab-sized sidecar, never shuffled with docs)."""
    from nucliadb_spark.operators import textstats
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents")
    df = textstats.unigram_logprob(docs, model=textstats.unigram_model(docs))
    df.collect()
    assert "BroadcastHashJoin" in _plan(df)


def test_quality_funnel_one_scan_no_join(spark, sf_dir):
    """The funnel computes every rule row-locally in one projection:
    exactly one scan of documents, no join of feature frames."""
    from nucliadb_spark.operators import textstats
    from nucliadb_spark.sources import tpch

    df = textstats.quality_funnel(tpch.table(spark, sf_dir, "documents"))
    df.collect()
    # AQE repeats the subtree under "== Initial Plan =="
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "Join" not in plan, plan[:1500]
    assert plan.count("Scan parquet") == 1, plan[:1500]


def test_ivf_sq8_probe_broadcasts(spark, sf_dir):
    """The SQ8 path must broadcast the probe/query/stats sides and
    end in a TakeOrderedAndProject — the corpus side streams."""
    from nucliadb_spark.operators import ann
    from nucliadb_spark.sources import tpch

    e = tpch.table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    df = ann.ivf_sq8_search_labeled(e, q, k=10, nprobe=2)
    df.collect()
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 3, plan[:2000]


def test_token_budget_single_data_shuffle(spark, sf_dir):
    """The budget cut is one window pass per source shard: exactly one
    hash exchange of data rows (for the partitionBy), no join."""
    from nucliadb_spark.operators import trainset
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents")
    plan = _plan(trainset.token_budget_select(docs, 3000))
    assert _n_shuffles(plan) == 1, plan[:2000]
    assert "Join" not in plan


def test_split_assign_shuffle_free(spark, sf_dir):
    """The split is a projection — md5 bucket per row, no exchange."""
    from nucliadb_spark.operators import trainset
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents")
    plan = _plan(trainset.split_assign(docs))
    assert _n_shuffles(plan) == 0, plan[:2000]


def test_dup_spans_broadcasts_dup_set(spark, sf_dir):
    """The duplicated-gram set carries no broadcast HINT (it is
    unbounded on a pathological corpus) — but when it IS small, AQE's
    runtime stats must still turn the per-doc semi-join into a
    broadcast join. Assert on the FINAL adaptive plan (post-execution)."""
    from nucliadb_spark.operators import dedup
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text")
    df = dedup.dup_span_stats(dedup.planted_corpus(docs))
    df.collect()  # materialize so AQE re-plans with runtime stats
    plan = _plan(df)
    assert "BroadcastExchange" in plan or "isFinalPlan=true" in plan, plan[:2000]
    assert "Broadcast" in plan, plan[:2000]


def test_kmeans_step_broadcasts_seeds(spark, sf_dir):
    """Assignment must broadcast the k seeds (tiny), never shuffle the
    vectors against them."""
    from nucliadb_spark.operators import ann
    from nucliadb_spark.sources import tpch

    emb = tpch.table(spark, sf_dir, "embeddings")
    plan = _plan(ann.kmeans_step_labeled(emb, k=4))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_pq_adc_broadcasts_codebook_and_table(spark, sf_dir):
    """Codebook (m*k_codes rows) and ADC table are broadcast; the
    corpus side streams through map-side joins."""
    from pyspark.sql import functions as F

    from nucliadb_spark.operators import ann
    from nucliadb_spark.sources import tpch

    emb = tpch.table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).selectExpr("embedding AS qvec")
    plan = _plan(ann.pq_adc_labeled(emb, q, k=10))
    assert plan.count("BroadcastExchange") >= 2, plan[:2000]


def test_trainset_build_two_data_shuffles(spark, sf_dir):
    """The composed build pays exactly its two wide ops: the
    fingerprint window (dedup survivors) and the per-source window
    that serves budget AND packing together — a third exchange means
    someone split budget and pack back into separate passes."""
    from nucliadb_spark.plans.queries_trainset import pipeline_trainset_build

    plan = _plan(pipeline_trainset_build(spark, sf_dir))
    assert _n_shuffles(plan) <= 2, plan[:2000]


def test_dsir_scoring_broadcasts_ratio_table(spark, sf_dir):
    """The log-ratio table is <= DSIR_BUCKETS rows and must broadcast
    onto the exploded token stream — a shuffled join here would key
    the whole corpus explode by bucket id (1024 hot keys at 100 TB)."""
    from nucliadb_spark.operators import trainset
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    plan = _plan(trainset.dsir_weights(docs))
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_bpe_pairs_aggregate_over_vocab_not_corpus(spark, sf_dir):
    """Pair explosion must happen AFTER the token→vocab groupBy (|V|
    rows), not over raw corpus tokens: the plan's Generate (explode)
    has to sit above the first hash aggregate."""
    from nucliadb_spark.operators import trainset
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents").select("text")
    plan = _plan(trainset.bpe_pair_counts(docs))
    gen = plan.index("Generate explode")
    # the vocab aggregate (count per word) appears BELOW the explode
    # in the plan string (plans print top-down)
    vocab_agg = plan.rindex("HashAggregate")
    assert gen < vocab_agg, plan[:2500]


def test_remove_dup_spans_no_cartesian_one_gram_shuffle(spark, sf_dir):
    """The rewrite pays the same gram-keyed shuffle as dup_span_stats
    plus per-doc folds — never a cross join, and the final rewrite is
    a row-local array filter (no extra wide op on the text)."""
    from nucliadb_spark.operators import dedup
    from nucliadb_spark.sources import tpch

    corpus = dedup.planted_corpus(
        tpch.table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    plan = _plan(dedup.remove_dup_spans(corpus))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan, plan[:2000]


def test_find_served_prefilter_no_postings_rebuild(spark, sf_dir):
    """find(served=True) under a prefilter must serve the keyword leg
    from the prebuilt index: no tokenize+explode+re-aggregation of
    postings in the plan (the rebuild variant has one per query — an
    index build per query at 100 TB). The filter appears only as a
    candidate semijoin; df/N/avgdl stay global
    (ref: nidx/nidx_text/src/reader.rs:148-180)."""
    from nucliadb_spark.operators import filters as fx
    from nucliadb_spark.operators import find
    from nucliadb_spark.plans.queries_text import _corpus, _text_index, _vocab

    pref = fx.Facet("/s/p/en")
    post, stats = _text_index(spark, sf_dir)
    kw = dict(query_vec_id=3, top_k=10, window=40, prefilter=pref)
    served = find.find(
        spark, sf_dir, "merge join batch", served=True,
        post=post, stats=stats, corpus=_corpus(sf_dir, stats),
        vocab=_vocab(sf_dir, post), **kw,
    )
    rebuild = find.find(spark, sf_dir, "merge join batch", **kw)
    # walk the PHYSICAL tree (not the plan string): cached build
    # plans hang off InMemoryRelation, which is not a physical child
    # of InMemoryTableScanExec, so per-query work is exactly the
    # nodes the walk visits. (The string form prints materialized
    # caches as indent-reset '== Final Plan ==' dumps that defeat
    # subtree stripping — the first version of this test.)
    served_nodes = [c for c, _ in _walk_physical(served)]
    rebuild_nodes = [c for c, _ in _walk_physical(rebuild)]
    assert not any("Generate" in c for c in served_nodes), served_nodes
    # the contrast that makes the absence meaningful: the rebuild
    # variant tokenizes the filtered corpus per query
    assert any("Generate" in c for c in rebuild_nodes)
    assert any("InMemoryTableScan" in c for c in served_nodes)


def _walk_physical(df):
    """Yield (class_name, node) over the executed physical plan,
    descending through AQE wrappers and query stages. Cached
    relations' build plans are not physical children, so they are
    naturally excluded — visited nodes are per-query work only."""
    yield from _walk_subtree(df._jdf.queryExecution().executedPlan())


def test_batch_bm25_queries_join_not_forced_broadcast(spark, sf_dir):
    """The (query_id, term) frame is unbounded (10^6-query mining
    jobs): its join must be left to AQE, never a forced broadcast —
    only the bounded per-term stats (dfreq) and the 1-row corpus
    aggregate may carry explicit broadcast hints."""
    from nucliadb_spark.operators import bm25
    from nucliadb_spark.plans.queries_text import _corpus, _text_index
    from nucliadb_spark.sources import tpch

    docs = tpch.table(spark, sf_dir, "documents")
    queries = docs.select(
        F.col("doc_id").cast("long").alias("query_id"),
        F.explode(F.slice(F.split(F.lower("text"), r"[^a-z0-9]+"), 1, 3)).alias("term"),
    )
    post, stats = _text_index(spark, sf_dir)
    df = bm25.batch_bm25(queries, post, stats, _corpus(sf_dir, stats), k=5)
    # AQE may legitimately broadcast a small batch at RUNTIME (that's
    # the point), so the executed plan can't be the evidence — the
    # forced-hint check lives in the optimized logical plan's join
    # hints: no broadcast-hinted join side may output query_id.
    hinted_joins = 0
    for cls, n in _walk_subtree(df._jdf.queryExecution().optimizedPlan()):
        if cls != "Join":
            continue
        for side, opt_hint in (
            (n.left(), n.hint().leftHint()),
            (n.right(), n.hint().rightHint()),
        ):
            if not opt_hint.isDefined():
                continue
            if "broadcast" not in opt_hint.get().toString().lower():
                continue
            hinted_joins += 1
            outs = side.output()
            names = [outs.apply(i).name() for i in range(outs.size())]
            assert "query_id" not in names, (
                f"queries frame carries a forced broadcast hint: {names}"
            )
    assert hinted_joins >= 1  # dfreq/corpus hints must still be there

    # huge-query-vocabulary escape hatch: broadcast_term_stats=False
    # must leave the term-keyed joins entirely to AQE — the only
    # remaining forced hint is the 1-row corpus stats crossJoin.
    df_aqe = bm25.batch_bm25(
        queries, post, stats, _corpus(sf_dir, stats), k=5,
        broadcast_term_stats=False,
    )
    for cls, n in _walk_subtree(df_aqe._jdf.queryExecution().optimizedPlan()):
        if cls != "Join":
            continue
        for side, opt_hint in (
            (n.left(), n.hint().leftHint()),
            (n.right(), n.hint().rightHint()),
        ):
            if not opt_hint.isDefined():
                continue
            if "broadcast" not in opt_hint.get().toString().lower():
                continue
            outs = side.output()
            names = [outs.apply(i).name() for i in range(outs.size())]
            assert "term" not in names and "query_id" not in names, (
                f"term-stats frame still broadcast-hinted: {names}"
            )


def _walk_subtree(root):
    stack = [root]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        yield cls, n
        if cls.startswith("AdaptiveSparkPlan"):
            stack.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(n.plan())
        else:
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))


def test_hydrate_is_pruned_and_single_window_shuffle(spark, sf_dir):
    """/hydrate scale shape: the request's rid set must reach the
    paragraph/field/resource sides as broadcast joins (semijoin
    pruning — hydration cost ∝ requested resources), and the ±1
    neighbour window is the ONLY hash-partitioned exchange (the
    final sort's range exchange aside)."""
    from nucliadb_spark import registry

    df = registry.queries()["hydrate_paragraphs"](spark, sf_dir)
    df.collect()
    kinds = {"bcast": 0, "data_exchange": 0, "window": 0}
    for cls, n in _walk_physical(df):
        if cls == "BroadcastHashJoinExec":
            kinds["bcast"] += 1
        elif cls == "WindowExec" or cls == "WindowGroupLimitExec":
            kinds["window"] += 1
        elif cls == "ShuffleExchangeExec":
            if "hashpartitioning" not in n.outputPartitioning().toString():
                continue
            outs = n.output()
            names = [outs.apply(i).name() for i in range(outs.size())]
            # the distinct-rids exchange carries only ids (broadcast
            # prep); only exchanges moving paragraph TEXT are data
            if "text" in names:
                kinds["data_exchange"] += 1
    assert kinds["bcast"] >= 3, kinds   # req ids + fields + resources
    assert kinds["window"] >= 1, kinds
    assert kinds["data_exchange"] <= 1, kinds  # only the rid window


def test_processing_status_page_cut_before_position_window(spark, sf_dir):
    """The queue page must be cut with TakeOrderedAndProject BEFORE
    the single-partition position window, so the global window never
    sees more than one page (<=limit rows)."""
    from nucliadb_spark.operators import catalog as cat
    from nucliadb_spark.sources import tpch

    df = cat.processing_status(
        tpch.resources(spark, sf_dir), limit=20, cursor="1995-03-01 00:00:00"
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=20" in plan, plan[:1500]
    # the page cut feeds the window (appears below it in the tree)
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan[:1500]


def test_kv_schema_infer_single_key_shuffle(spark, sf_dir):
    """Schema inference is one row-local explode + one aggregation
    shuffle keyed by the KV vocabulary — never a shuffle keyed by
    documents."""
    from nucliadb_spark.operators import kvschema
    from nucliadb_spark.sources import tpch

    meta = tpch.table(spark, sf_dir, "events").selectExpr(
        "to_json(named_struct('uid', user_id, 'etype', event_type)) AS meta"
    )
    plan = _plan(kvschema.infer_kv_schema(meta, "meta"))
    assert _n_shuffles(plan) == 1, plan[:2000]
    assert "Generate explode" in plan, plan[:2000]


def test_hydrate_multi_field_pruned_single_window_shuffle(spark, sf_dir):
    """The owning-field join must not change the /hydrate scale
    shape: rid prune set + fields + resources stay broadcast joins,
    and the neighbour window is still the only exchange moving
    paragraph text — the (rid, field_id) key adds a column, never a
    shuffle."""
    from nucliadb_spark import registry

    df = registry.queries()["hydrate_multi_field"](spark, sf_dir)
    df.collect()
    kinds = {"bcast": 0, "data_exchange": 0, "window": 0}
    for cls, n in _walk_physical(df):
        if cls == "BroadcastHashJoinExec":
            kinds["bcast"] += 1
        elif cls in ("WindowExec", "WindowGroupLimitExec"):
            kinds["window"] += 1
        elif cls == "ShuffleExchangeExec":
            if "hashpartitioning" not in n.outputPartitioning().toString():
                continue
            outs = n.output()
            names = [outs.apply(i).name() for i in range(outs.size())]
            if "text" in names:
                kinds["data_exchange"] += 1
    assert kinds["bcast"] >= 3, kinds
    assert kinds["window"] >= 1, kinds
    assert kinds["data_exchange"] <= 1, kinds


def test_search_fields_scoped_pushes_predicates(spark, sf_dir):
    """The field scope and the keyword predicate must both sit below
    the (rid, field_id) join — the scoped search's scan work is one
    field family's paragraphs, not the corpus."""
    from nucliadb_spark import registry

    df = registry.queries()["search_fields_scoped"](spark, sf_dir)
    plan = _plan(df)
    # the field-scope side (carrying the '/a/title' literal) must be
    # the broadcast build side, and the whole scoped search must be
    # shuffle-free (scan + row-local filters + broadcast join; the
    # final orderBy is a range exchange, not a hash shuffle)
    m = re.search(r"BroadcastExchange(.*)", plan, re.S)
    assert m and "/a/title" in m.group(1), plan[:2000]
    assert _n_shuffles(plan) == 0, plan[:2000]


def test_scoped_find_serves_from_fielded_sidecars(spark, sf_dir):
    """A `fields`-scoped find request must SERVE from the prebuilt
    per-family sidecars (field_key-pruned InMemoryTableScans), never
    re-tokenize the scoped corpus per request — the serving rule that
    the unscoped path already obeys (api.py). A tokenize pass would
    show up as a Generate(explode) over the fields_multi scan in the
    per-query plan."""
    from nucliadb_spark import api
    from nucliadb_spark.plans.queries_text import _fielded_text_index

    # index build happens once, before any request (bench/startup)
    post, stats, vocab, corpus = _fielded_text_index(spark, sf_dir)
    post.count()

    req = api.FindRequest(
        query="merge stream window", features=["keyword"], top_k=8,
        fields=["a/title", "u/link"],
    )
    df = api.find_request(spark, sf_dir, req)
    # walk the PHYSICAL tree: cached build plans hang off
    # InMemoryRelation (not a physical child), so visited nodes are
    # per-query work only — see test_find_served_prefilter above
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("Generate" in c for c in nodes), nodes  # no tokenize
    assert any("InMemoryTableScan" in c for c in nodes)
    # the family prune must land on the cached-sidecar scans
    plan = _plan(df)
    assert "/a/title" in plan and "/u/link" in plan


@pytest.mark.slow  # r15 slow tier: >=11 s plan probe (claims re-proven in the slow sweep)
def test_cdc_fielded_served_no_per_request_tokenize(spark, sf_dir):
    """`cdc_fielded_search_served` must score from the incrementally
    maintained postings sidecar (streamed by cdc_fielded_index_ingest)
    — NO per-request tokenization of the live corpus anywhere in the
    per-query plan. A rebuild would appear as Generate(explode) over
    the fields_multi scan; the served plan instead reads the
    field_key-partitioned postings parquet (the '/u/link' prune is
    partition pruning on the streamed index layout)."""
    from nucliadb_spark import registry
    from nucliadb_spark.plans.queries_streaming import _cdc_fielded_served_index

    q = registry.queries()["cdc_fielded_search_served"]
    q(spark, sf_dir).collect()  # first call builds + caches the index
    df = q(spark, sf_dir)
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("Generate" in c for c in nodes), nodes  # no tokenize
    assert any("InMemoryTableScan" in c for c in nodes), nodes

    # the family prune on the raw streamed index is partition pruning
    post, _ = _cdc_fielded_served_index(spark, sf_dir)
    pruned = post.filter("field_key = '/u/link'")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "/u/link" in plan, plan[:2000]


def test_fielded_graph_leg_scope_semijoin(spark, sf_dir):
    """`find_hybrid_fielded_graph`: the relation leg's triple hits
    must semijoin the '/u/link' scope rid set BEFORE fusion (the
    reference applies the prefilter to the relation index —
    nidx/nidx_relation apply_prefilter), and the scope side must be
    the broadcast build side. Functionally: part:17's provenance rid
    (17, not a link owner) is excluded while part:3/6 survive."""
    import re as _re

    from nucliadb_spark import registry

    df = registry.queries()["find_hybrid_fielded_graph"](spark, sf_dir)
    plan = _plan(df)
    # at least one LeftSemi broadcast join (the scope semijoin); the
    # '/u/link' scope literal must appear under a BroadcastExchange
    assert "LeftSemi" in plan, plan[:2000]
    m = _re.search(r"BroadcastExchange(.*)", plan, _re.S)
    assert m and "/u/link" in m.group(1), plan[:2000]
    rows = {r.id: r.matched_sources for r in df.collect()}
    assert "graph" in rows.get(3, "") and "graph" in rows.get(6, "")
    assert 17 not in rows or "graph" not in rows[17]


@pytest.mark.slow  # r15 slow tier: >=11 s plan probe (claims re-proven in the slow sweep)
def test_batch_knn_ivf_no_cartesian(spark, sf_dir):
    """batch_knn_ivf's candidate generation must be an EQUI-join on
    the cell label — a CartesianProduct between the query frame and
    the vector table is the plan that dies at corpus-sized Q. The
    only cartesian allowed is queries × the tiny centroid table
    (broadcast nested loop, bounded by ncells)."""
    from nucliadb_spark import registry
    from nucliadb_spark.sources import tpch

    df = registry.queries()["batch_knn_ivf"](spark, sf_dir)
    plan = _plan(df)
    n_vec_rows = tpch.table(spark, sf_dir, "embeddings").count()
    assert "CartesianProduct" not in plan, plan[:2000]
    # the probe side joins embeddings on label (hash or sort-merge or
    # broadcast hash — any keyed join), visible as an equi-join cond
    assert "label" in plan
    # per-query candidate sets are bounded: 4 queries x nprobe=2
    # cells never surface more than the corpus (sanity)
    rows = df.collect()
    assert len(rows) == 20 and len({r.query_id for r in rows}) == 4


@pytest.mark.slow  # r15 slow tier: >=11 s plan probe (claims re-proven in the slow sweep)
def test_find_hybrid_as_of_seq_predicate_per_leg(spark, sf_dir):
    """`find_hybrid_as_of`: every leg (text / vector / relation) must
    resolve its corpus from the PHYSICAL serving substrate at the
    same snapshot (r14: a durable per-snapshot state artifact, or a
    prior artifact plus partition-pruned retained log — never an
    in-memory log re-derivation). No CartesianProduct may enter (the
    only cross shape allowed is the broadcast 1-row query vector),
    and the snapshot resolution must stay within the live reads'
    shuffle budget: three max_by resolutions + the 3-leg fusion over
    find_hybrid's 2-leg plan, pinned as an exchange-count bound so an
    accidental extra corpus shuffle (e.g. a lost broadcast) fails
    here instead of a benchmark."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_as_of"]
    q(spark, sf_dir).collect()  # first call builds + caches snapshot index
    df = q(spark, sf_dir)
    for fam in ("content_text", "vectors", "relations"):
        assert _reads_family(df, fam), (fam, df.inputFiles())
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes
    # repeat requests at a snapshot serve from the cached snapshot
    # index — the per-query text leg reads InMemoryTableScan, it does
    # not re-tokenize (Generate) the as-of corpus
    assert any("InMemoryTableScan" in c for c in nodes), nodes
    n_asof = sum("Exchange" in c for c in nodes)
    control = registry.queries()["find_hybrid"](spark, sf_dir)
    n_live = sum("Exchange" in c for c, _ in _walk_physical(control))
    assert n_asof <= n_live + 8, (n_asof, n_live)


@pytest.mark.slow  # r15 slow tier: >=11 s plan probe (claims re-proven in the slow sweep)
def test_cdc_suggest_served_no_per_request_tokenize(spark, sf_dir):
    """`cdc_suggest_served` must run the prefix+fuzzy match on the
    MAINTAINED vocabulary and score on the maintained postings — no
    tokenization (Generate/explode) anywhere in the per-keystroke
    plan, same serving rule as the CDC find path. The suggest
    endpoint is the most latency-sensitive serving path there is."""
    from nucliadb_spark import registry

    q = registry.queries()["cdc_suggest_served"]
    rows = q(spark, sf_dir).collect()
    assert rows, "suggest must surface the revision wave's terms"
    df = q(spark, sf_dir)
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("Generate" in c for c in nodes), nodes
    assert any("InMemoryTableScan" in c for c in nodes), nodes


def test_maxsim_ivf_no_cartesian(spark, sf_dir):
    """knn_maxsim_ivf's candidate generation must be the cell-keyed
    equi-join — the only cross shape allowed is query vectors × the
    tiny centroid table (broadcast nested loop, bounded by ncells)."""
    from nucliadb_spark import registry

    df = registry.queries()["knn_maxsim_ivf"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "label" in plan
    assert df.count() > 0


@pytest.mark.slow  # r15 slow tier: >=11 s plan probe (claims re-proven in the slow sweep)
def test_find_hybrid_fielded_as_of_scope_and_seq(spark, sf_dir):
    """The scoped snapshot flagship: EVERY resolution (fielded scope
    + per-family text postings + vector log + relation log) must read
    the physical serving substrate at the snapshot, no
    CartesianProduct may enter, and repeated requests at the snapshot
    serve from the session-cached as-of sidecars (InMemoryTableScan
    present — no per-request corpus re-tokenization)."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_fielded_as_of"]
    q(spark, sf_dir).collect()  # first call builds + caches snapshot sidecars
    df = q(spark, sf_dir)
    for fam in ("fielded_live", "vectors", "relations"):
        assert _reads_family(df, fam), (fam, df.inputFiles())
    # the scope semijoin is present on the vector leg
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes
    assert any("InMemoryTableScan" in c for c in nodes), nodes


def test_cdc_catalog_facets_served_no_corpus_scan(spark, sf_dir):
    """The per-request facet plan must read the MAINTAINED counter
    sidecar only: no label explode (Generate) and no resources-corpus
    derivation — the counters are session-cached (InMemoryTableScan),
    the per-request work is a prefix prune + one top-k window over a
    facet-cardinality-sized frame."""
    from nucliadb_spark import registry

    q = registry.queries()["cdc_catalog_facets_served"]
    assert q(spark, sf_dir).count() > 0  # first call builds the sidecar
    df = q(spark, sf_dir)
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("Generate" in c for c in nodes), nodes
    assert any("InMemoryTableScan" in c for c in nodes), nodes


def test_find_hybrid_as_of_filtered_label_resolution(spark, sf_dir):
    """The filtered snapshot flagship: one plane MORE than the
    unfiltered flagship resolves from the substrate (the LABEL state
    joins the text/vector/relation reads), the allowed set must
    semijoin candidates (LeftSemi), no CartesianProduct may enter,
    and repeated requests serve the label state from the session
    cache like every other as-of sidecar (InMemoryTableScan
    present)."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_as_of_filtered"]
    q(spark, sf_dir).collect()  # first call builds + caches snapshot sidecars
    df = q(spark, sf_dir)
    for fam in ("labels", "content_text", "vectors", "relations"):
        assert _reads_family(df, fam), (fam, df.inputFiles())
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes
    assert any("InMemoryTableScan" in c for c in nodes), nodes


def test_find_hybrid_fielded_as_of_filtered_triple(spark, sf_dir):
    """The full lattice (fields x filters x as_of): every plane —
    fielded scope, label state, per-family text, vector log, relation
    log — resolves from the physical serving substrate at the
    snapshot, with semijoins and no cartesian."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_fielded_as_of_filtered"]
    q(spark, sf_dir).collect()
    df = q(spark, sf_dir)
    for fam in ("fielded_live", "labels", "vectors", "relations"):
        assert _reads_family(df, fam), (fam, df.inputFiles())
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes


def test_ivf_drift_incremental_no_full_log_assignment(spark, sf_dir):
    """The incremental review must NOT re-assign the full log against
    the centroids: the delta filter (seq > checkpoint) must appear in
    the analyzed plan, and the prior state must come from the session
    cache (InMemoryTableScan), not a recomputation."""
    from nucliadb_spark import registry
    from nucliadb_spark.plans.queries_streaming import _DRIFT_CKPT

    q = registry.queries()["ivf_drift_plan_incremental"]
    q(spark, sf_dir).collect()  # builds + caches the checkpoint state
    df = q(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert f"> {_DRIFT_CKPT}" in analyzed or f"> cast({_DRIFT_CKPT}" in analyzed, (
        analyzed[:2000]
    )
    nodes = [c for c, _ in _walk_physical(df)]
    assert any("InMemoryTableScan" in c for c in nodes), nodes
    assert not any("CartesianProduct" in c for c in nodes), nodes


def test_find_as_of_static_filter_no_plane_resolution(spark, sf_dir):
    """A STATIC-only filter tree at a snapshot (created dates) must
    resolve NO plane state at all — one filter over the fields frame:
    the retriever corpora still read the substrate at the seq, but
    neither the label nor the metadata family enters the plan, the
    allowed set semijoins candidates, and no cartesian enters."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_as_of_dated"]
    q(spark, sf_dir).collect()
    df = q(spark, sf_dir)
    for fam in ("content_text", "vectors"):
        assert _reads_family(df, fam), (fam, df.inputFiles())
    assert not _reads_family(df, "labels")  # no label-plane resolution
    assert not _reads_family(df, "meta")  # no metadata-plane resolution
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes


def test_find_as_of_meta_filter_resolves_meta_log_only(spark, sf_dir):
    """A security (metadata-plane) filter at a snapshot resolves the
    METADATA family's substrate state — and not the label family's;
    allowed set semijoins, no cartesian."""
    from nucliadb_spark import registry

    q = registry.queries()["find_secured_as_of"]
    q(spark, sf_dir).collect()
    df = q(spark, sf_dir)
    assert _reads_family(df, "meta"), df.inputFiles()
    assert not _reads_family(df, "labels")  # no label-plane resolution
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes


def test_find_as_of_mixed_filter_joins_planes_once(spark, sf_dir):
    """The mixed label x meta tree: BOTH planes' substrate states
    enter the plan (label AND metadata), joined by rid, whole tree
    evaluated once — LeftSemi into the legs, no cartesian, plane
    sidecars served from the session cache on repeat requests."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_as_of_mixed"]
    q(spark, sf_dir).collect()  # builds + caches the plane sidecars
    df = q(spark, sf_dir)
    assert _reads_family(df, "labels"), df.inputFiles()
    assert _reads_family(df, "meta"), df.inputFiles()
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes
    assert any("InMemoryTableScan" in c for c in nodes), nodes


def test_find_as_of_keyword_filter_text_plane(spark, sf_dir):
    """The r13 'text' plane: a Keyword filter at a snapshot evaluates
    against the seq-cut CONTENT state — the content family's
    substrate serves BOTH the scoring corpus and the filter plane, no
    label/meta family enters, LeftSemi carries the allowed set, no
    cartesian."""
    from nucliadb_spark import registry

    q = registry.queries()["find_hybrid_as_of_keyword_filtered"]
    q(spark, sf_dir).collect()
    df = q(spark, sf_dir)
    assert _reads_family(df, "content_text"), df.inputFiles()
    assert not _reads_family(df, "labels")
    assert not _reads_family(df, "meta")
    assert "LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    nodes = [c for c, _ in _walk_physical(df)]
    assert not any("CartesianProduct" in c for c in nodes), nodes


def test_cdc_catalog_facets_as_of_served_boundary_only_replay(spark, sf_dir):
    """The AS-OF counter read: per-request work is the cached
    bucketed sidecar (full buckets, InMemoryTableScan) plus a
    boundary-bucket log replay whose seq-range predicate must land on
    the log scan (pushed filters => partition pruning on the
    seq-partitioned log at scale) — never a corpus-wide label-state
    resolution (no rid-keyed max_by aggregate in the plan)."""
    from nucliadb_spark import registry
    from nucliadb_spark.plans.queries_streaming import (
        _FCTR_ASOF_SEQ,
        _FCTR_BUCKET,
    )

    q = registry.queries()["cdc_catalog_facets_as_of_served"]
    assert q(spark, sf_dir).count() > 0  # first call builds the sidecar
    df = q(spark, sf_dir)
    nodes = [c for c, _ in _walk_physical(df)]
    assert any("InMemoryTableScan" in c for c in nodes), nodes
    plan = _plan(df)
    lo = (_FCTR_ASOF_SEQ // _FCTR_BUCKET) * _FCTR_BUCKET
    # the boundary range reaches the parquet scan of the staged log
    assert f"GreaterThanOrEqual(seq,{lo})" in plan.replace(" ", ""), plan[:3000]
    # no latest-op-wins resolution: the live/as-of label read's
    # max_by(struct(op, labels), seq) never enters this plan
    assert "max_by" not in plan, plan[:3000]


def test_family_resolve_is_partial_max_by_without_window(spark):
    """Every op-log family's latest-op-wins resolve is the contract
    its docstring promises: one map-side-combinable max_by grouped on
    the family's keys, no row_number window sort. A one-row op log
    per family keeps the plan to the resolve's own operators."""
    from nucliadb_spark.streaming import ingest

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for fam in ingest.FAMILIES.values():
        cols = [*fam.keys, "seq", "op", *fam.payload]
        row = tuple(1 if c == "seq" else "upsert" if c == "op" else "x" for c in cols)
        schema = ", ".join(f"{c} {'long' if c == 'seq' else 'string'}" for c in cols)
        df = fam.resolve(spark.createDataFrame([row], schema))
        plan = df._jdf.queryExecution().explainString(mode)
        assert "Window" not in plan, (fam.name, plan)
        partial = [
            b for b in plan.split("\n\n")
            if re.search(r"^Functions \[1\]: \[partial_max_by\(", b, re.M)
        ]
        assert len(partial) == 1, (fam.name, plan)
        keys = re.search(r"^Keys \[\d+\]: \[(.*)\]$", partial[0], re.M).group(1)
        assert [k.split("#")[0] for k in keys.split(", ")] == list(fam.keys), (
            fam.name,
            plan,
        )
