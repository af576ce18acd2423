"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "method": "min-of-n", "queries": {...}, "sf": ..., ...}

Each query executes to completion (collect) so the timing covers the
full DAG including shuffles and top-k merges. The session is warmed
with one trivial action first so JVM startup isn't attributed to q1,
and the serving indexes are prebuilt before the first seat.

Every seat (``time_seat``) runs its query once cold, then
TIMED_RUNS = 2 times warm, plus a third warm run when the first two
disagree by more than DISAGREE (a wave of hypervisor CPU steal,
which loadavg does not show, hit one). A run is timed from the
query call through ``collect()``; the construct part (building the
DataFrame: planning, index and sidecar builds, Catalyst analysis) is
timed separately. The keys per seat:
  - "queries": the minimum warm run; "value" is their sum, and
    "method": "min-of-n" marks it as such, so it is never compared
    with a single-run total by mistake;
  - "query_runs": every warm run, in order;
  - "query_steal_pct": %CPU stolen during the warm runs ("steal_pct":
    across the whole bench, from /proc/stat);
  - "query_cold": the cold run: construct_s, wall_s, the Spark stage
    metrics of its jobs (jobs, stages, tasks, task_cpu_ms, gc_ms,
    deser_ms, shuffle read/write bytes, fetch_wait_ms) and the cache
    evictions it caused;
  - "query_layers": the warm runs: construct_s per run (next to
    query_runs), stage metrics and evictions divided by the number of
    warm runs.
The cold and warm runs carry the job groups bench-<seat>-cold and
bench-<seat>-warm; their stage metrics are summed from the in-process
status store (perfbench.layers.StageMetrics) after the seat's last
timed run, outside every timed interval.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nucliadb_spark import cache, registry  # noqa: E402
from nucliadb_spark.session import get_session  # noqa: E402
from perfbench.layers import STAGE_FIELDS, StageMetrics  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# timed runs per query: min of N is the reported seat time. N=2 with
# an adaptive third when the pair disagrees (a steal wave hit one).
TIMED_RUNS = 2
DISAGREE = 1.5  # ratio that triggers the extra run
# the stage metrics of a layer record, zero when a run launched no job
LAYER_FIELDS = ("jobs", "stages", *STAGE_FIELDS)


def _read_steal() -> tuple[float, float]:
    """(steal_jiffies, total_jiffies) from /proc/stat; (0, 0) when
    the file is unavailable (non-Linux dev box)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [float(x) for x in parts[1:]]
        return vals[7], sum(vals)
    except Exception:  # noqa: BLE001
        return 0.0, 0.0


def _steal_pct(before: tuple[float, float], after: tuple[float, float]) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return round(100.0 * ds / dt, 2) if dt > 0 else 0.0


def _run(spark, sf_dir, query) -> tuple[float, float]:
    """(construct_s, wall_s) of one request: build the DataFrame,
    then collect it; wall_s covers both."""
    t0 = time.perf_counter()
    df = query(spark, sf_dir)
    t1 = time.perf_counter()
    df.collect()
    t2 = time.perf_counter()
    return round(t1 - t0, 3), round(t2 - t0, 3)


def time_seat(spark, sf_dir: str, name: str, query) -> dict:
    """One seat: a cold run, then the timed warm runs, then their
    layer records. Returns the seat's value for each per-seat key of
    the JSON line (queries, query_runs, query_steal_pct, query_cold,
    query_layers)."""
    sc = spark.sparkContext
    # the untimed warm-up (codegen compile, broadcast and sidecar
    # builds) — matching the reference's pytest-benchmark warm-round
    # methodology — is the cold record
    sc.setJobGroup(f"bench-{name}-cold", f"bench-{name}-cold")
    ev0 = cache.EVICTIONS
    cold_construct, cold_wall = _run(spark, sf_dir, query)
    ev1 = cache.EVICTIONS

    sc.setJobGroup(f"bench-{name}-warm", f"bench-{name}-warm")
    q0 = _read_steal()
    runs = [_run(spark, sf_dir, query) for _ in range(TIMED_RUNS)]
    walls = [w for _, w in runs]
    if max(walls) > DISAGREE * max(min(walls), 1e-9):
        runs.append(_run(spark, sf_dir, query))
    constructs, walls = zip(*runs)
    steal = _steal_pct(q0, _read_steal())
    ev2 = cache.EVICTIONS
    sc.setJobGroup("bench-idle", "bench-idle")

    # stage metrics only now, outside every timed interval
    stages = StageMetrics(spark)
    cold = stages.collect(f"bench-{name}-cold")
    warm = stages.collect(f"bench-{name}-warm")
    n = len(runs)
    return {
        "queries": min(walls),
        "query_runs": list(walls),
        "query_steal_pct": steal,
        "query_cold": {
            "construct_s": cold_construct,
            "wall_s": cold_wall,
            **{k: round(cold[k], 3) for k in LAYER_FIELDS},
            "evictions": ev1 - ev0,
        },
        "query_layers": {
            "construct_s": list(constructs),
            **{k: round(warm[k] / n, 3) for k in LAYER_FIELDS},
            "evictions": round((ev2 - ev1) / n, 3),
        },
    }


# Headline set: one per operator family (catalog SQL, filter compile,
# BM25 exact + fuzzy, prefiltered hybrid, KNN exact + filtered +
# multivector, graph path + 2-hop, facets, flagship find).
HEADLINE = [
    "catalog_words_paged",
    "catalog_facets",
    "filter_expression_tree",
    "bm25_keyword",
    "bm25_fuzzy",
    "bm25_prefiltered",
    "knn_cosine",
    "knn_prefiltered",
    "knn_maxsim",
    "graph_path_prefix",
    "graph_two_hop",
    "find_hybrid",
    # scale paths (round 2): IVF-served flagship, served prefilter,
    # LSH near-dup over the documents corpus
    "find_hybrid_ivf",
    "bm25_prefiltered_served",
    "dedup_minhash_lsh",
    # round 3: as-of attribution over the events stream + the
    # one-shuffle clean-corpus composition
    "events_asof_join",
    "pipeline_clean_corpus",
    # round 3c: iterative graph centrality + exact-substring rewrite
    "graph_pagerank",
    "dedup_span_removal",
    # round 4: served-prefilter flagship (no per-query index rebuild)
    # and the rephrased flagship served from the embedding sidecar —
    # both should sit flat vs their siblings
    "find_prefiltered_served",
    "find_rephrased",
    # round 5: feedback analytics (kbid-keyed agg over events), the
    # explicit-id /hydrate payload (semijoin + neighbour window), and
    # the real media decode roundtrip (synthesize + byte-level parse)
    "kb_feedback_report",
    "hydrate_paragraphs",
    "multimodal_real_decode",
    # round 6: multi-field hydration (owning-field join over the
    # 2-fields-per-rid corpus) and the per-(kbid, day) feedback trend
    "hydrate_multi_field",
    "feedback_daily_trend",
    # round 7: the fields-scoped hybrid flagship — keyword from the
    # per-family sidecar cache, vector leg scope-semijoined; should
    # sit BELOW find_hybrid (it scans the sparse '/u/link' third)
    "find_hybrid_fielded",
    # round 8: the three-way scoped fusion (adds the relation leg —
    # an isin triple scan + broadcast scope semijoin; should sit
    # within ~0.2 s of find_hybrid_fielded) and the CDC search served
    # from the incrementally maintained postings sidecar (first call
    # pays the streamed index build; steady-state is the cached join)
    "find_hybrid_fielded_graph",
    "cdc_fielded_search_served",
    # round 8b: the batched kNN-graph plan (cell-keyed equi-join, no
    # cartesian) — the mining-job shape at its smallest
    "batch_knn_ivf",
    # round 9: the snapshot-consistent hybrid flagship (all three
    # legs resolved AS OF one seq; first call pays the per-snapshot
    # index build, steady-state serves from the cached sidecars —
    # should sit near find_hybrid once warm), the keyset page-2
    # flagship (fused-frame algebra only; should sit ON find_hybrid),
    # and the probe-path multivector MaxSim (cell equi-join +
    # bounded exact rerank; should sit near batch_knn_ivf)
    "find_hybrid_as_of",
    "find_hybrid_after",
    "knn_maxsim_ivf",
    # round 10: the scoped snapshot flagship (fields + as_of — scope
    # resolves from the seq-cut fielded log; steady-state serves from
    # the per-(snapshot, family) cached sidecars, should sit near
    # find_hybrid_fielded once warm), snapshot keyset paging (fused-
    # frame algebra over the as-of ranking; should sit ON
    # find_hybrid_as_of), and the counter-served facet endpoint
    # (prefix prune + top-k over the maintained sidecar — should sit
    # WELL below catalog_facets, which scans+explodes the corpus)
    "find_hybrid_fielded_as_of",
    "find_hybrid_as_of_after",
    "cdc_catalog_facets_served",
    # round 10b: the constant-budget drift review — same audit as
    # ivf_drift_plan over a rid-atomic 20% md5 sample; should sit
    # WELL below the full plan and the gap widens with the corpus
    "ivf_drift_plan_sampled",
    # round 11: the filtered snapshot flagship (filters + as_of — the
    # Facet tree resolves from the seq-cut label log, allowed set
    # semijoins each leg; should sit near find_hybrid_as_of since
    # the label resolution is one more seq-pruned max_by), the FULL
    # composition lattice (fields × filters × as_of in one request),
    # and the post-checkpoint drift review (counter merge over the
    # delta only — the maintenance plane's constant-ish shape next to
    # ivf_drift_plan_sampled)
    "find_hybrid_as_of_filtered",
    "find_hybrid_fielded_as_of_filtered",
    "ivf_drift_plan_incremental",
    # round 11b: the chained vector snapshot (S2's live set advances
    # the cached S1 with only the delta — should sit near knn_as_of's
    # cost since the toy-scale delta dominates; the advance's scale
    # win is the probe's, not the bench's)
    "knn_as_of_incremental",
    # round 11c: the two final as_of compositions — entity-source
    # membership at the seq (one extra semijoin over find_hybrid_as_of)
    # and the rephrased snapshot flagship (first call pays the
    # per-snapshot embed sidecar, steady-state serves from it)
    "find_hybrid_as_of_entities",
    "find_hybrid_as_of_rephrased",
    # round 12: the mixed-plane filtered snapshot flagship (a label
    # Facet tree from the seq-cut label log JOINED by rid with static
    # security metadata, the whole tree evaluated over one frame —
    # should sit near find_hybrid_as_of_filtered plus one rid-keyed
    # join; the static-only siblings find_secured_as_of /
    # find_hybrid_as_of_dated / find_hybrid_as_of_kv skip the label
    # resolution entirely and are strictly cheaper)
    "find_hybrid_as_of_mixed",
    # round 13: the keyword-filtered snapshot flagship (the 'text'
    # plane — the filter evaluates against the SAME seq-cut content
    # state the keyword leg scores, so it should sit near
    # find_hybrid_as_of plus one rid semijoin; its cut is mid-wave
    # so its sidecars are its own), and the vacuum-served as-of read
    # (base+retained advance — should sit well below a full-log
    # resolve since the retained delta is the post-horizon ops only)
    "find_hybrid_as_of_keyword_filtered",
    "cdc_live_as_of_vacuumed",
    # round 14: the DEFAULT-substrate paths — the flagship served
    # while the op logs are physically vacuumed+purged (warm run =
    # the cached snapshot sidecars, same as find_hybrid_as_of; the
    # vacuum/purge itself is a one-time maintenance pass in the cold
    # run), search over the autocompacted streamed sink (steady-state
    # = the cached alive-masked postings, same as the uncompacted
    # twin), the derived-plane filtered flagship (modified/n_chars
    # from the content log — one more resolve over the SAME physical
    # log the keyword corpus reads), and the filtered graph search at
    # a snapshot (relation+label+meta states from the shared as-of
    # sidecars + one provenance semijoin)
    "find_hybrid_as_of_vacuumed",
    "cdc_fielded_search_served_compacted",
    "find_hybrid_as_of_modified_range",
    "graph_path_filtered_as_of",
    # the stream-MAINTAINED substrate serve (two-tranche drain + two
    # snapshot cuts through the ordinary substrate path; warm = the
    # durable state artifacts) and the deletion-list purge plan (one
    # pruned log scan -> segment-count-sized report)
    "cdc_substrate_stream_served",
    "purge_deletions_plan",
]


def main() -> None:
    spark = get_session("bench")
    spark.range(1).count()  # warm the JVM/session
    for t in ["part", "documents", "embeddings", "lineitem", "orders", "events"]:
        # touch footers so filesystem/parquet init isn't billed to q1
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").schema

    # Build the serving indexes up front (postings/docstats, triple
    # table) — the reference benchmarks search over prebuilt tantivy
    # segments; queries below measure search, not index build.
    from nucliadb_spark.cache import cached_df
    from nucliadb_spark.plans.queries_text import _text_index
    from nucliadb_spark.sources import tpch

    post, stats = _text_index(spark, SF_DIR)
    post.count(), stats.count()
    tpch.relations_index(spark, SF_DIR).count()
    # IVF centroids are index-build output too (ann.cell_centroids)
    from nucliadb_spark.operators import ann as ann_ops

    cached_df(
        SF_DIR,
        "ivf_centroids",
        lambda: ann_ops.cell_centroids(tpch.vectors(spark, SF_DIR)),
        pinned=True,
    ).count()
    # the rephrased flagship serves from the stub-embedding sidecar —
    # index-build output like the postings/centroids above
    from nucliadb_spark.operators import find as find_ops

    find_ops.stub_embedding_sidecar(spark, SF_DIR).count()
    # per-field-family sidecars: the fields-scoped serving index
    from nucliadb_spark.plans.queries_text import _fielded_text_index

    for ff in _fielded_text_index(spark, SF_DIR):
        ff.count()

    queries = registry.queries()
    names = [n for n in HEADLINE if n in queries]
    if "stream_windowed_counts" in queries:
        names.append("stream_windowed_counts")

    per_seat: dict[str, dict] = {
        k: {} for k in ("queries", "query_runs", "query_steal_pct", "query_cold", "query_layers")
    }
    errors: dict[str, str] = {}
    bench_steal0 = _read_steal()
    for name in names:
        # A failing query is recorded and skipped rather than sinking
        # the whole bench (r2 lost its bench line to one testdata
        # schema change).
        try:
            for key, val in time_seat(spark, SF_DIR, name, queries[name]).items():
                per_seat[key][name] = val
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_query_wall_time",
        "value": round(sum(per_seat["queries"].values()), 3),
        "unit": "sec",
        "method": "min-of-n",
        "queries": per_seat["queries"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "steal_pct": _steal_pct(bench_steal0, _read_steal()),
        "query_runs": per_seat["query_runs"],
        "query_steal_pct": per_seat["query_steal_pct"],
        "query_cold": per_seat["query_cold"],
        "query_layers": per_seat["query_layers"],
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
