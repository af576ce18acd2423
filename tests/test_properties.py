"""Property-based parity for the shared function contracts
(SURVEY §5 test-strategy parity: the reference fuzzes its tokenizer /
schema round-trips; here hypothesis drives the three-way contract
Spark == DuckDB == python over the ASCII domain the fixtures use).

Each property batches all generated examples into ONE Spark job and
ONE DuckDB query — per-example jobs would be 100× slower.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings, strategies as st

from nucliadb_spark.functions import text as T

ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)


def _spark_eval(spark, rows, colfn, out="out"):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(rows)], "i long, s string")
    return [
        r[out]
        for r in df.select("i", colfn("s").alias(out)).orderBy("i").collect()
    ]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@settings(max_examples=20, deadline=None)
@given(st.lists(ASCII, min_size=1, max_size=25))
@pytest.mark.slow  # r15 slow tier: >=10 s property sweep
def test_tokenizer_three_way(spark, con, texts):
    py = [T.tokenize_py(s) for s in texts]
    sp = _spark_eval(spark, texts, T.tokenize)
    dk = [
        con.execute(f"SELECT {T.tokenize_sql('?')}", [s]).fetchone()[0] or []
        for s in texts
    ]
    assert sp == py == dk


@settings(max_examples=20, deadline=None)
@given(st.lists(ASCII.filter(bool), min_size=1, max_size=25))
@pytest.mark.slow  # r15 slow tier: >=10 s property sweep
def test_md5_int60_three_way(spark, con, texts):
    py = [int(hashlib.md5(("x:" + s).encode()).hexdigest()[:15], 16) for s in texts]
    sp = _spark_eval(spark, texts, lambda c: T.md5_int60(__import__("pyspark.sql.functions", fromlist=["x"]).col(c), salt="x:"))
    con.execute("CREATE OR REPLACE TABLE h (i INT, s VARCHAR)")
    for i, s in enumerate(texts):
        con.execute("INSERT INTO h VALUES (?, ?)", [i, s])
    dk = [
        row[0]
        for row in con.execute(
            f"SELECT {T.md5_int60_sql('s', salt='x:')} FROM h ORDER BY i"
        ).fetchall()
    ]
    assert sp == py == dk


@settings(max_examples=15, deadline=None)
@given(st.lists(ASCII, min_size=1, max_size=15))
@pytest.mark.slow  # r15 slow tier: >=10 s property sweep
def test_fingerprint_order_insensitive(spark, texts):
    """token_set_fingerprint is a bag-of-distinct-words canonical
    form: permuting and duplicating words must not change it."""
    from nucliadb_spark.operators.dedup import token_set_fingerprint

    perms = [" ".join(reversed(T.tokenize_py(s)) ) + " " + s for s in texts]
    a = _spark_eval(spark, texts, lambda c: token_set_fingerprint(c))
    b = _spark_eval(spark, perms, lambda c: token_set_fingerprint(c))
    assert a == b


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),            # user
            st.integers(0, 10_000),       # seconds offset
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_asof_join_matches_bruteforce(spark, events):
    """The windowed as-of composition equals the O(n²) definition:
    for each purchase, the prior click with the greatest ts."""
    import datetime

    from pyspark.sql import Row

    from nucliadb_spark.operators.timeseries import asof_join

    base = datetime.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            ts=base + datetime.timedelta(seconds=s),
            user_id=u,
            event_type=t,
            value=1.0,
        )
        for i, (u, s, t) in enumerate(events)
    ]
    got = {
        r["event_id"]: r["right_event_id"]
        for r in asof_join(spark.createDataFrame(rows)).collect()
    }
    for i, (u, s, t) in enumerate(events):
        if t != "purchase":
            continue
        cands = [
            (s2, j)
            for j, (u2, s2, t2) in enumerate(events)
            if u2 == u and t2 == "click"
            and (s2, j) < (s, i)  # strictly prior in (ts, event_id) order
        ]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, got[i], expect)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    ).filter(lambda ps: any(a != b for a, b in ps))
)
@pytest.mark.slow  # r15 slow tier: >=10 s property sweep
def test_connected_components_matches_union_find(spark, pairs):
    from pyspark.sql import Row

    from nucliadb_spark.operators.iterative import connected_components

    pairs = [(a, b) for a, b in pairs if a != b]
    if not pairs:
        return
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for p in pairs for n in p}
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    expect = {n: min(ns) for ns in comp.values() for n in ns}

    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in pairs])
        ).collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 40)),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 60),
)
@pytest.mark.slow  # r15 slow tier: >=10 s property sweep
def test_token_budget_prefix_property(spark, docs, budget):
    """The selection is the maximal per-source PREFIX whose running
    token total fits the budget: kept ids are contiguous from the
    start of each source, the kept sum <= budget, and the first
    excluded doc (if any) would overflow."""
    from nucliadb_spark.operators import trainset

    rows = [
        (i, src, " ".join("wxyz"[i % 4] * 4 for _ in range(n)))
        for i, (src, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source, r.id): r.n_tokens
        for r in trainset.token_budget_select(df, budget).collect()
    }
    # python reference: walk each source in id order
    by_src: dict = {}
    for i, (src, n) in enumerate(docs):
        by_src.setdefault(src, []).append((i, n))
    for src, members in by_src.items():
        cum = 0
        for i, n in members:
            cum += n
            if cum <= budget:
                assert (src, i) in got, (src, i, budget)
            else:
                assert (src, i) not in got, (src, i, budget)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=60, unique=True))
@pytest.mark.slow  # r15 slow tier: >=10 s property sweep
def test_split_assign_partition_property(spark, ids):
    """Every doc lands in exactly one split, and the assignment is a
    pure function of the id (stable under re-partitioning/order)."""
    from nucliadb_spark.operators import trainset

    df = spark.createDataFrame([(i, "x") for i in ids], "doc_id long, text string")
    a = {r.doc_id: r.split for r in trainset.split_assign(df).collect()}
    b = {
        r.doc_id: r.split
        for r in trainset.split_assign(df.repartition(7).orderBy(F.rand(1))).collect()
    }
    assert set(a) == set(ids) and a == b
    assert set(a.values()) <= {"train", "val", "test"}


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 2**31), st.integers(17, 40))
@pytest.mark.slow  # r15 slow tier: 116 s measured
def test_pq_and_rabitq_self_match_property(spark, seed, n):
    """On ANY vector set (with non-degenerate norms), the PQ-ADC and
    1-bit first passes must both surface the query's own vector as
    the exact top hit after rerank — the quantization funnel may be
    lossy, but the self-match must survive it."""
    import random

    from nucliadb_spark.operators import ann

    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 3).selectExpr("embedding AS qvec")
    hits = ann.pq_adc_labeled(emb, q, k=1, rerank_top=max(5, len(rows) // 2)).collect()
    assert hits and hits[0].id == 3
    hits = ann.rabitq_1bit_labeled(emb, q, k=1, rerank_top=max(5, len(rows) // 2)).collect()
    assert hits and hits[0].id == 3


def _find_requests():
    """Dataclass-only FindRequests over a small value domain, so equal
    and nearly-equal pairs are common."""
    from nucliadb_spark.api import FindRequest
    from nucliadb_spark.operators.filters import And, Facet, Not, Or

    words = st.sampled_from(["a", "b", "a b", "'a'"])
    weights = st.sampled_from([1, 1.0, 0.5, 0.0, -0.0, True])
    trees = st.recursive(
        st.builds(Facet, st.sampled_from(["/l/x", "/l/y"])),
        lambda kids: st.one_of(
            st.builds(And, st.lists(kids, min_size=1, max_size=2)),
            st.builds(Or, st.lists(kids, min_size=1, max_size=2)),
            st.builds(Not, kids),
        ),
        max_leaves=3,
    )

    def request(prequeries):
        return st.builds(
            FindRequest,
            query=words,
            features=st.lists(st.sampled_from(["keyword", "semantic", "graph"]), max_size=2),
            top_k=st.sampled_from([5, 10]),
            filters=st.none() | trees,
            fusion_weights=st.none()
            | st.dictionaries(st.sampled_from(["keyword", "semantic"]), weights, max_size=2),
            prequeries=prequeries,
        )

    inner = request(st.none())
    return request(st.none() | st.lists(st.tuples(inner, weights), max_size=2))


@settings(max_examples=300, deadline=None)
@given(_find_requests(), _find_requests())
def test_request_key_equal_exactly_when_repr_equal(a, b):
    """The plan-memo key keeps every hit the old repr key had and
    adds no alias: equal keys iff equal reprs (types, list/tuple
    order and dict insertion order included)."""
    import copy

    from nucliadb_spark.cache import request_key

    ka, kb = request_key("sf", a), request_key("sf", b)
    assert ka is not None and kb is not None
    assert (ka == kb) == (repr(a) == repr(b))
    assert hash(ka) == hash(request_key("sf", copy.deepcopy(a)))
    assert ka == request_key("sf", copy.deepcopy(a))
