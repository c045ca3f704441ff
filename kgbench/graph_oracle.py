"""DuckDB oracles for the graph-analytics suite.

Each function answers one algorithm over the same edge table the Spark
run reads, registered in DuckDB as ``edges(src, dst)``.  PageRank and
label propagation reuse the repository's own oracle SQL bodies
(``queries._pagerank_sql`` / ``queries._label_prop_sql``) with their
edge CTE swapped for this table; k-core, bounded SCC and connected
components are written here with the Spark operators' documented
semantics.
"""

from __future__ import annotations

import re

import duckdb

from surfactant_spark import queries

_FIRST_CTE = re.compile(r"WITH (\w+) AS \(.*?\n\),", re.DOTALL)


def _swap_first_cte(sql: str, body: str) -> str:
    m = _FIRST_CTE.search(sql)
    if m is None:
        raise ValueError("oracle SQL has no leading CTE to swap")
    return sql[: m.start()] + f"WITH {m.group(1)} AS (\n{body}\n)," + sql[m.end():]


def pagerank(con: duckdb.DuckDBPyConnection) -> dict:
    """``pagerank_int(iterations=3)``: the repository oracle is fixed at
    three rounds, damping 85 and r0 1e6, the operator's defaults."""
    sql = _swap_first_cte(queries._pagerank_sql(), "SELECT DISTINCT src, dst FROM edges")
    return dict(con.execute(sql).fetchall())


def label_propagation(con: duckdb.DuckDBPyConnection, rounds: int) -> dict:
    sql = _swap_first_cte(
        queries._label_prop_sql(rounds), "SELECT DISTINCT src AS a, dst AS b FROM edges"
    )
    # the repository oracle casts integer node ids; these ids are strings
    sql = sql.replace("node::BIGINT AS node, label::BIGINT AS label", "node, label")
    return dict(con.execute(sql).fetchall())


def kcore(con: duckdb.DuckDBPyConnection, k: int, rounds: int) -> dict:
    parts = [
        "und0 AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi "
        "FROM edges WHERE src <> dst)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS (SELECT node, count(*) AS deg FROM ("
            f"SELECT lo AS node FROM und{i} UNION ALL SELECT hi FROM und{i}) GROUP BY 1)"
        )
        parts.append(
            f"und{i + 1} AS (SELECT lo, hi FROM und{i} "
            f"WHERE lo NOT IN (SELECT node FROM d{i} WHERE deg < {k}) "
            f"AND hi NOT IN (SELECT node FROM d{i} WHERE deg < {k}))"
        )
    sql = (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, count(*) FROM (SELECT lo AS node FROM und{rounds} "
        f"UNION ALL SELECT hi FROM und{rounds}) GROUP BY 1"
    )
    return dict(con.execute(sql).fetchall())


def scc(con: duckdb.DuckDBPyConnection, max_depth: int) -> dict:
    """``scc_components(max_depth)``: the minimum node over the node and
    every node it reaches, and is reached from, within ``max_depth``
    hops in both directions."""
    sql = f"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
r(node, anc, depth) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT r.node, e.dst, r.depth + 1 FROM r JOIN e ON r.anc = e.src
  WHERE r.depth < {max_depth}
),
c AS (SELECT DISTINCT node, anc FROM r),
mutual AS (
  SELECT a.node, a.anc FROM c a JOIN c b ON a.node = b.anc AND a.anc = b.node
  WHERE a.node <> a.anc
),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
pmin AS (SELECT node, min(anc) AS p FROM mutual GROUP BY node)
SELECT nodes.node,
       CASE WHEN pmin.p IS NULL OR nodes.node < pmin.p THEN nodes.node ELSE pmin.p END
FROM nodes LEFT JOIN pmin ON nodes.node = pmin.node
"""
    return dict(con.execute(sql).fetchall())


def connected_components(con: duckdb.DuckDBPyConnection) -> dict:
    """Min-label propagation to a fixpoint over the undirected, self-edge
    free graph: node -> smallest node id in its component."""
    con.execute(
        "CREATE OR REPLACE TEMP TABLE cc_sym AS SELECT DISTINCT u, v FROM ("
        "SELECT src AS u, dst AS v FROM edges UNION ALL SELECT dst, src FROM edges"
        ") WHERE u <> v"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE cc_lab AS "
        "SELECT u AS node, least(u, min(v)) AS label FROM cc_sym GROUP BY u"
    )
    while True:
        con.execute(
            "CREATE OR REPLACE TEMP TABLE cc_next AS "
            "SELECT l.node, least(l.label, min(n.label)) AS label "
            "FROM cc_lab l JOIN cc_sym s ON s.u = l.node JOIN cc_lab n ON n.node = s.v "
            "GROUP BY l.node, l.label"
        )
        changed = con.execute(
            "SELECT count(*) FROM cc_next JOIN cc_lab USING (node) "
            "WHERE cc_next.label <> cc_lab.label"
        ).fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE cc_lab AS SELECT * FROM cc_next")
        if not changed:
            return dict(con.execute("SELECT node, label FROM cc_lab").fetchall())
