"""Property-based equivalence of the filter-expression compiler:
random boolean trees over Facet/DateRange/FieldEquals/Keyword/
NotHidden must select the identical row set in Spark and DuckDB
(SURVEY §7.2 — property-test the shared spine against the oracle).
"""

import json

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from nucliadb_spark.operators import filters as fx
from nucliadb_spark.sources import tpch

FACETS = [
    "/l/type/economy",
    "/l/brand/Brand#13",
    "/n/s/PROCESSED",
    "/n/s/PENDING",
    "/n/i/text/plain",
    "/l/type",
    "/l/nope",
]
DATES = ["1995-03-01 00:00:00", "1995-09-15 12:00:00", "1996-02-01 00:00:00"]
STATUSES = ["PROCESSED", "PENDING", "ERROR"]
SOURCES = ["WEB", "DESKTOP", "API"]

leaf = st.one_of(
    st.sampled_from(FACETS).map(fx.Facet),
    st.tuples(st.sampled_from(DATES), st.sampled_from([True, False])).map(
        lambda t: fx.DateRange("created", since=t[0] if t[1] else None,
                               until=None if t[1] else t[0])
    ),
    st.sampled_from(STATUSES).map(lambda s: fx.FieldEquals("status", s)),
    st.sampled_from(SOURCES).map(lambda s: fx.FieldEquals("origin_source", s)),
    st.just(fx.NotHidden()),
)

expr = st.recursive(
    leaf,
    lambda children: st.one_of(
        st.lists(children, min_size=2, max_size=3).map(fx.And),
        st.lists(children, min_size=2, max_size=3).map(fx.Or),
        children.map(fx.Not),
    ),
    max_leaves=6,
)


@pytest.fixture(scope="module")
def harness(spark, sf_dir):
    res = tpch.resources(spark, sf_dir).cache()
    res.count()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf_dir}/part.parquet')"
    )
    con.execute(f"CREATE TABLE resources AS {tpch.SQL_RESOURCES}")
    return res, con


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(e=expr)
def test_filter_tree_equivalence(harness, e):
    res, con = harness
    spark_ids = {r.rid for r in res.filter(e.to_column()).select("rid").collect()}
    duck_ids = {
        row[0]
        for row in con.execute(
            f"SELECT rid FROM resources WHERE {e.to_sql()}"
        ).fetchall()
    }
    assert spark_ids == duck_ids, e.to_sql()


# --- as-of mixed-plane trees over diverging plane logs ------------------------
#
# api._mixed_allowed evaluates an as-of filter tree whose leaves read
# more than one plane over the planes' states LEFT-joined by rid. When
# the plane logs diverge in membership, a rid can lack state in one
# plane: each leaf over that plane is then false, so a Not over it
# admits the rid. A rid whose plane row is present but holds a null
# value keeps the live filter's three-valued result: its leaf is null
# and a Not over it stays null, so the rid is dropped.

_ABSENT = object()
_RIDS = list(range(6))
_LABELS = ["/l/a", "/l/a/x", "/l/b"]
_LANGS = ["en", "de"]
_EXTRAS = ["{}", '{"priority": 1}', '{"priority": 3}']

mixed_leaf = st.one_of(
    st.sampled_from(["/l/a", "/l/a/x", "/l/b"]).map(fx.Facet),
    st.sampled_from(_LANGS).map(lambda v: fx.FieldEquals("language", v)),
    st.sampled_from([1, 2, 3]).map(
        lambda v: fx.JsonPath("extra", "priority", "gte", v)
    ),
    st.sampled_from(_RIDS).map(fx.ResourceIs),
)
mixed_expr = st.recursive(
    mixed_leaf,
    lambda children: st.one_of(
        st.lists(children, min_size=2, max_size=3).map(fx.And),
        st.lists(children, min_size=2, max_size=3).map(fx.Or),
        children.map(fx.Not),
    ),
    max_leaves=5,
)
# per rid: no state in the plane, or a row whose values may be null
label_states = st.lists(
    st.one_of(
        st.just(_ABSENT),
        st.none(),
        st.lists(st.sampled_from(_LABELS), max_size=2, unique=True),
    ),
    min_size=len(_RIDS),
    max_size=len(_RIDS),
)
meta_states = st.lists(
    st.one_of(
        st.just(_ABSENT),
        st.tuples(
            st.one_of(st.none(), st.sampled_from(_LANGS)),
            st.one_of(st.none(), st.sampled_from(_EXTRAS)),
        ),
    ),
    min_size=len(_RIDS),
    max_size=len(_RIDS),
)


def _admits(e, rid, labels, meta):
    """Reference, in three-valued logic (None is unknown): a leaf over
    a plane the rid has no row in is False; a leaf over a null value
    is None; And/Or/Not are Kleene's."""
    if isinstance(e, fx.And):
        vals = [_admits(x, rid, labels, meta) for x in e.operands]
        return False if False in vals else None if None in vals else True
    if isinstance(e, fx.Or):
        vals = [_admits(x, rid, labels, meta) for x in e.operands]
        return True if True in vals else None if None in vals else False
    if isinstance(e, fx.Not):
        v = _admits(e.operand, rid, labels, meta)
        return None if v is None else not v
    if isinstance(e, fx.ResourceIs):
        return rid == e.rid
    if isinstance(e, fx.Facet):
        if labels is _ABSENT:
            return False
        if labels is None:
            return None
        return any(lb == e.facet or lb.startswith(e.facet + "/") for lb in labels)
    if meta is _ABSENT:
        return False
    lang, extra = meta
    if isinstance(e, fx.FieldEquals):
        return None if lang is None else lang == e.value
    priority = None if extra is None else json.loads(extra).get("priority")
    return None if priority is None else priority >= e.value


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    trees=st.lists(mixed_expr, min_size=1, max_size=4),
    labels=label_states,
    metas=meta_states,
)
@example(
    trees=[
        fx.Not(fx.Facet("/l/a")),
        fx.Or([fx.Facet("/l/b"), fx.Not(fx.FieldEquals("language", "en"))]),
        fx.And([fx.Facet("/l/a"), fx.Not(fx.JsonPath("extra", "priority", "gte", 2))]),
    ],
    labels=[["/l/a"], _ABSENT, None, ["/l/a/x"], ["/l/a"], _ABSENT],
    metas=[
        ("en", "{}"),
        _ABSENT,
        (None, None),
        ("de", '{"priority": 1}'),
        (None, '{"priority": 3}'),
        ("en", None),
    ],
)
def test_mixed_tree_over_diverging_planes(spark, trees, labels, metas):
    """Spark's allowed rids equal the three-valued reference and the
    same guarded tree evaluated by DuckDB over the same join."""
    from functools import reduce

    from pyspark.sql import functions as F

    from nucliadb_spark import api

    label_rows = [(r, v) for r, v in zip(_RIDS, labels) if v is not _ABSENT]
    meta_rows = [(r, *v) for r, v in zip(_RIDS, metas) if v is not _ABSENT]
    fields = spark.createDataFrame([(r,) for r in _RIDS], "rid long")
    states = {
        "label": spark.createDataFrame(label_rows, "rid long, labels array<string>"),
        "meta": spark.createDataFrame(
            meta_rows, "rid long, language string, extra string"
        ),
    }
    allowed = reduce(
        lambda a, b: a.unionByName(b),
        [
            api._mixed_allowed(fields, states, t).withColumn("tree", F.lit(i))
            for i, t in enumerate(trees)
        ],
    )
    got = {(r.tree, r.rid) for r in allowed.collect()}
    want = {
        (i, rid)
        for i, t in enumerate(trees)
        for rid, lb, meta in zip(_RIDS, labels, metas)
        if _admits(t, rid, lb, meta) is True
    }
    assert got == want, [t.to_sql() for t in trees]

    con = duckdb.connect()
    con.execute("CREATE TABLE label (rid BIGINT, labels VARCHAR[])")
    con.execute("CREATE TABLE meta (rid BIGINT, language VARCHAR, extra VARCHAR)")
    if label_rows:
        con.executemany("INSERT INTO label VALUES (?, ?)", label_rows)
    if meta_rows:
        con.executemany("INSERT INTO meta VALUES (?, ?, ?)", meta_rows)
    con.execute(
        "CREATE TABLE snap AS SELECT f.rid, l.labels, l._in_label, "
        "m.language, m.extra, m._in_meta FROM range(6) f(rid) "
        "LEFT JOIN (SELECT *, TRUE AS _in_label FROM label) l USING (rid) "
        "LEFT JOIN (SELECT *, TRUE AS _in_meta FROM meta) m USING (rid)"
    )
    duck = {
        (i, row[0])
        for i, t in enumerate(trees)
        for row in con.execute(
            f"SELECT rid FROM snap WHERE {api._plane_guarded(t).to_sql()}"
        ).fetchall()
    }
    assert duck == want, [api._plane_guarded(t).to_sql() for t in trees]
