"""DuckDB answers for every read op, over the same parquet tables the
program reads, at the op's own parameters.

The analytic shapes are the ``oracle_sql()`` twins of
``__spark_entry__.py`` with their literals turned into parameters;
PageRank replays the entry file's own unrolled SQL
(``_pagerank_sql``), imported read-only.
"""

from __future__ import annotations

import math
import os

import duckdb

GRAPH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def connect(table_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in GRAPH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(table_dir, t + '.parquet')}'")
    return con


def norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


def canon(cols, rows) -> tuple:
    """Order-insensitive, column-name-sorted form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(sorted(cols)),
            tuple(sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)))


def _containment_uris(region_filter: str = "TRUE") -> str:
    return f"""
        SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS x
        FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE {region_filter}
        UNION ALL
        SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR)
        FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE {region_filter}
    """


def analytic_sql(kind: str, p: dict) -> dict[str, str]:
    """One SQL text per result part of the op (most ops have one)."""
    if kind == "q1_pricing":
        return {"main": f"""
            SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS n,
                   CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sum_qty_cents,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sum_price_cents
            FROM lineitem WHERE CAST(l_shipdate AS VARCHAR) <= '{p["cutoff"]}'
            GROUP BY 1, 2"""}
    if kind == "three_hop_volume":
        return {"main": f"""
            SELECT n_name AS nation, COUNT(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = '{p["flag"]}' AND l_quantity >= {p["min_qty"]}
            GROUP BY 1"""}
    if kind == "subselect_nation":
        return {"main": f"""
            SELECT n_name AS nation, COUNT(*) AS n
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_totalprice > {p["min_total"]} GROUP BY n_name"""}
    if kind == "path_closure":
        r = p["region"]
        return {"main": f"""
            {_containment_uris(f"n_regionkey = {r}")}
            UNION ALL
            SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
            WHERE n_regionkey = {r}"""}
    if kind == "construct_region":
        return {"main": f"""
            SELECT DISTINCT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS subject,
                   'IN_REGION' AS predicate,
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) AS object,
                   FALSE AS is_literal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_mktsegment = '{p["segment"]}'"""}
    if kind == "cypher_aggregate":
        return {"main": f"""
            SELECT n_name AS nation, COUNT(*) AS n_orders, COUNT(DISTINCT c_custkey) AS n_custs
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_totalprice > {p["min_total"]} GROUP BY n_name"""}
    if kind == "dsl_repeat_until":
        start, bal = p["start"], p["min_bal"]
        if start == "Customer":
            src = f"""SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS start_uri,
                             'urn:region:' || CAST(n_regionkey AS VARCHAR) AS dest_uri
                      FROM customer JOIN nation ON c_nationkey = n_nationkey
                      WHERE c_acctbal > {bal}"""
        elif start == "Supplier":
            src = f"""SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS start_uri,
                             'urn:region:' || CAST(n_regionkey AS VARCHAR) AS dest_uri
                      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      WHERE s_acctbal > {bal}"""
        else:
            src = """SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS start_uri,
                            'urn:region:' || CAST(n_regionkey AS VARCHAR) AS dest_uri FROM nation"""
        return {"main": src}
    if kind == "reasoners":
        if p["label"] == "Actor":
            labelled = _containment_uris()
        else:
            labelled = """SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS x FROM nation
                          UNION ALL
                          SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) FROM region"""
        rels = {
            "IN_NATION": ["IN_NATION"], "IN_REGION": ["IN_REGION"],
            "LOCATED": ["IN_NATION", "IN_REGION"],
        }[p["rel"]]
        parts = []
        if "IN_NATION" in rels:
            parts += [
                """SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS a, 'IN_NATION' AS b,
                          'urn:nation:' || CAST(c_nationkey AS VARCHAR) AS c FROM customer""",
                """SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS a, 'IN_NATION' AS b,
                          'urn:nation:' || CAST(s_nationkey AS VARCHAR) AS c FROM supplier""",
            ]
        if "IN_REGION" in rels:
            parts.append(
                """SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS a, 'IN_REGION' AS b,
                          'urn:region:' || CAST(n_regionkey AS VARCHAR) AS c FROM nation""")
        linked = _containment_uris(f"n_regionkey = {p['region']}")
        return {
            "label": f"SELECT x AS uri FROM ({labelled})",
            "linked": f"SELECT x AS uri FROM ({linked})",
            "rels": " UNION ALL ".join(parts),
        }
    if kind == "pagerank":
        from __spark_entry__ import _pagerank_sql

        return {"main": _pagerank_sql(10, p["damping"])}
    raise ValueError(kind)


def expected(con, sql: str) -> tuple:
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())
