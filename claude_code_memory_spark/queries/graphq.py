"""Graph-analytics query catalog: fixed-iteration PageRank over the
trade graph the TPC-H-twin tables induce (customer nation -> supplier
nation, weighted by lineitem count). The iterative-algorithm shape
people assume is un-oracle-able — replayed exactly in DuckDB via the
same decimal-sum recipe as the k-means chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from claude_code_memory_spark.operators.pagerank import pagerank_fixed
from claude_code_memory_spark.queries.base import register, table


def _pagerank_ctes(iters: int = 3) -> str:
    """CTE chain replaying `pagerank_fixed` over the nation trade graph.
    Terminal CTE: ``p{iters}`` (node, pr)."""
    parts = [
        """edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2)""",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src)",
        "e2 AS (SELECT e.src, e.dst, e.w::DOUBLE / o.ow::DOUBLE AS ratio"
        " FROM edges e JOIN outw o USING (src))",
        "p0 AS (SELECT node, round(1.0::DOUBLE / n, 12) AS pr"
        " FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst, round(p.pr * e.ratio, 12)::DECIMAL(38,12) AS c"
            f" FROM e2 e JOIN p{i - 1} p ON e.src = p.node)"
        )
        parts.append(f"s{i} AS (SELECT dst, sum(c) AS s FROM c{i} GROUP BY dst)")
        parts.append(
            f"""p{i} AS (
      SELECT node, round(0.15::DOUBLE / n + 0.85 * coalesce(s::DOUBLE, 0.0), 12) AS pr
      FROM nodes CROSS JOIN nn LEFT JOIN s{i} ON node = s{i}.dst)"""
        )
    return ",\n    ".join(parts)


@register(
    "graph_pagerank_nations",
    oracle=f"""
    WITH {_pagerank_ctes(iters=3)}
    SELECT n.n_name, round(p.pr, 6) AS pagerank
    FROM p3 p JOIN nation n ON p.node = n.n_nationkey
    """,
    headline=True,
)
def graph_pagerank_nations(spark, sf_dir):
    """Weighted PageRank (3 iterations, d=0.85) over the nation trade
    graph: edges = customer nation -> supplier nation, weight = lineitem
    count. Edge extraction is the heavy part — lineitem joined to orders
    (the one data-sized shuffle) with customer/supplier broadcast — then
    each iteration is a broadcast of the 25-row rank vector onto the
    aggregated edge table. Contributions round to 12 dp and sum as
    DECIMAL(38,12), so the rank vector is partition-invariant and the
    full chain replays in the oracle (operators/pagerank.py). The batch
    companion to the reference's BFS graph reads (read_graph,
    storage/qdrant.py relation traversal): global centrality instead of
    local neighborhoods."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    pr = pagerank_fixed(edges, iters=3)
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return pr.join(F.broadcast(nation), pr["node"] == nation["n_nationkey"]).select(
        "n_name", F.round("pr", 6).alias("pagerank")
    )
