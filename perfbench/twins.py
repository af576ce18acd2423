"""DuckDB twins of every benchmark output, run after the timed loop.

find_live requests are checked against a twin composed from the
engine's own SQL functions (``bm25.bm25_sql``, ``knn.exact_knn_sql``,
``fusion.rrf_sql`` and ``Expr.to_sql()``), asof_cdc finds against the
registry's ``_as_of_fused_sql(top_k, seq)`` form and its states
against ``ingest.cdc_live_as_of_sql(seq)``.
"""

from __future__ import annotations

import math

import duckdb

from perfbench import corpus

SCORE_TOL = 1e-5


def connect(sf_dir: str, tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # bounded: the oracle shares the machine with the Spark JVM
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp}'")
    for name in corpus.TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


# --- request specs -> engine inputs ---------------------------------------


def filter_expr(tree):
    """The Expr for a generator filter tree (see workloads._fill)."""
    from nucliadb_spark.operators.filters import And, Facet, Not, Or

    op, arg = tree
    if op == "facet":
        return Facet(arg)
    if op == "not":
        return Not(filter_expr(arg))
    return (And if op == "and" else Or)([filter_expr(t) for t in arg])


def find_request(spec: dict):
    from nucliadb_spark import api

    return api.FindRequest(
        query=spec["query"],
        features=list(spec["features"]),
        top_k=spec["top_k"],
        query_vec_id=spec["query_vec_id"],
        fields=spec["fields"],
        filters=filter_expr(spec["filters"]) if spec["filters"] else None,
        security_groups=spec["security_groups"],
    )


def asof_request(top_k: int, seq: int):
    from nucliadb_spark import api
    from nucliadb_spark.plans import queries_streaming as qs

    # the registry's snapshot flagship, at this top_k and seq
    return api.FindRequest(
        query=qs._ASOF_HYBRID_Q,
        features=["keyword", "semantic", "graph"],
        top_k=top_k,
        window=50,
        query_vec_id=5,
        as_of=seq,
    )


# --- twins -----------------------------------------------------------------


def find_sql(spec: dict) -> str:
    """(id, score, matched_sources) of a find_live request."""
    from nucliadb_spark.functions.models import detect_entity_values_py
    from nucliadb_spark.operators import bm25, fusion, knn
    from nucliadb_spark.operators.filters import And, SecurityFilter
    from nucliadb_spark.operators.find import fusion_window
    from nucliadb_spark.sources import tpch

    req = find_request(spec)
    expr = req.filters
    if req.security_groups is not None:
        sec = SecurityFilter(groups=list(req.security_groups))
        expr = sec if expr is None else And([expr, sec])
    where = expr.to_sql() if expr is not None else None
    win = fusion_window(req.window, req.top_k)
    # rid sets every leg semijoins: the filter's and the scope's
    allowed = []
    if where is not None:
        allowed.append(f"SELECT rid FROM ({tpch.SQL_FIELDS}) f WHERE {where}")
    if req.fields:
        key = "/" + req.fields[0].strip("/")
        allowed.append(f"SELECT rid FROM ({tpch.SQL_FIELDS_MULTI}) WHERE field_key = '{key}'")
    sources = {}
    if "keyword" in req.features:
        if req.fields:
            family = f"SELECT * FROM ({tpch.SQL_FIELDS_MULTI}) WHERE field_key = '{key}'"
            kw = bm25.bm25_sql(family, req.query, top_k=win)
        else:
            kw = bm25.bm25_sql(
                tpch.SQL_FIELDS, req.query, top_k=win, mode="any", served_where=where
            )
        sources["keyword"] = f"SELECT rid AS id, score FROM ({kw})"
    if "semantic" in req.features:
        sources["semantic"] = knn.exact_knn_sql(
            tpch.SQL_VECTORS,
            f"SELECT embedding AS qvec FROM embeddings WHERE vec_id = {req.query_vec_id}",
            corpus.EMBED_DIM,
            k=win,
            similarity="cosine",
            where=" AND ".join(f"rid IN ({a})" for a in allowed) or None,
        )
    ents = detect_entity_values_py(req.query)
    if "graph" in req.features and ents:
        lst = ", ".join(f"'{e}'" for e in ents)
        gid = "CAST(string_split(r.paragraph_id, '/')[1] AS BIGINT)"
        extra = "".join(f" AND {gid} IN ({a})" for a in allowed)
        sources["graph"] = f"""
SELECT DISTINCT {gid} AS id, 1.0::DOUBLE AS score
FROM ({tpch.SQL_RELATIONS}) r
WHERE (r.source_value IN ({lst}) OR r.target_value IN ({lst}))
  AND r.paragraph_id IS NOT NULL{extra}
"""
    if len(sources) == 1:
        name, sql = next(iter(sources.items()))
        return f"""
SELECT id, CAST(score AS DOUBLE) AS score, ['{name}'] AS matched_sources
FROM ({sql}) ORDER BY score DESC, id ASC LIMIT {req.top_k}
"""
    return fusion.rrf_sql(sources, top_k=req.top_k)


def asof_find_sql(top_k: int, seq: int) -> str:
    from nucliadb_spark.plans import queries_streaming as qs

    return qs._as_of_fused_sql(top_k, seq)


def state_sql(seq: int) -> str:
    from nucliadb_spark.streaming import ingest

    return f"SELECT rid, text FROM ({ingest.cdc_live_as_of_sql(seq)}) ORDER BY rid"


# --- comparison ------------------------------------------------------------


def ranked_mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """None when two ranked (id, score, sources) lists agree: same
    ids in the same order, scores within SCORE_TOL, same sources."""
    if len(got) != len(want):
        return f"{len(got)} rows, twin has {len(want)}"
    for rank, (g, w) in enumerate(zip(got, want)):
        if g[0] != w[0] or sorted(g[2]) != sorted(w[2]):
            return f"rank {rank}: {g} vs twin {w}"
        if not math.isclose(g[1], w[1], rel_tol=SCORE_TOL, abs_tol=SCORE_TOL):
            return f"rank {rank}: score {g[1]} vs twin {w[1]}"
    return None


def rows_mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """None when two row sets are equal, order-insensitive."""
    if sorted(got) != sorted(want):
        return f"{len(got)} rows differ from the twin's {len(want)}"
    return None
