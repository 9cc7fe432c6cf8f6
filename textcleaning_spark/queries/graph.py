"""Graph family: the host link graph derived from doc_id and its
PageRank."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.operators import linkgraph as lg
from textcleaning_spark.queries import register
from textcleaning_spark.queries.common import _doc_md5, _doc_md5_sql
from textcleaning_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Host link graph + PageRank — crawl-reputation prior. The parquet
# corpus carries no hyperlinks, so the graph is derived from the
# documents table by the same deterministic md5 recipe in BOTH
# engines (the REAL extraction path — href parsing over raw html —
# is exercised end-to-end on the pages source in tests/test_links.py;
# operators/linkgraph.py is shared by both).
# ---------------------------------------------------------------------------
_LG_FANOUT = 3  # outlinks per linking doc
# docs whose src label starts with 'f' emit no outlinks, so the 'h f*'
# hosts are deterministic DANGLING nodes (in-links only) — the graph
# exercises the dangling-mass redistribution path, not just the happy one
_LG_EDGES_SQL = f"""
    links AS (
        SELECT 'h' || substr({_doc_md5_sql("s")}, 1, 2) AS src_host,
               'h' || substr({_doc_md5_sql("d", "j::VARCHAR")}, 1, 2)
                   AS dst_host
        FROM documents,
             (SELECT unnest([{", ".join(str(j) for j in range(1, _LG_FANOUT + 1))}])
                     AS j)
        WHERE substr({_doc_md5_sql("s")}, 1, 1) <> 'f'
    ),
    edges AS (
        SELECT src_host, dst_host, count(*)::BIGINT AS weight
        FROM links WHERE src_host <> dst_host GROUP BY 1, 2
    )
"""


def _lg_edges(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_LG_EDGES_SQL``: deterministic md5-derived
    host→host edge list over the documents table."""
    src_md5 = _doc_md5("s")
    ex = (
        docs.filter(F.substring(src_md5, 1, 1) != "f")
        .select(
            F.concat(F.lit("h"), F.substring(src_md5, 1, 2)).alias("src_host"),
            F.col("doc_id"),
            F.explode(
                F.array(*[F.lit(j) for j in range(1, _LG_FANOUT + 1)])
            ).alias("j"),
        )
        .select(
            "src_host",
            F.concat(
                F.lit("h"),
                F.substring(_doc_md5("d", F.col("j").cast("string")), 1, 2),
            ).alias("dst_host"),
        )
        .filter(F.col("src_host") != F.col("dst_host"))
    )
    return ex.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("weight")
    )


@register(
    "host_link_graph",
    f"""
    WITH {_LG_EDGES_SQL}
    SELECT src_host, dst_host, weight
    FROM edges
    ORDER BY src_host, dst_host
    """,
)
def host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host→host link-graph edge list — the table every crawl
    scheduler and host-reputation filter starts from (Common Crawl
    publishes exactly this at host/domain granularity).

    Reference analogue: the 2-mode edge/node graph tables the reference
    builds relationally for Gephi export (edge list
    text_process.py:341, node list text_process.py:350) — here the
    entities are hosts and the co-occurrence is a hyperlink.

    Scale shape: the production builder (operators/linkgraph.host_edges
    over raw html — tests/test_links.py runs it end-to-end) extracts
    and host-resolves scan-side, so only (src_host, dst_host) pairs
    reach the single count shuffle, with map-side partials bounding hub
    keys; the html bytes never move. This registry entry derives the
    same edge shape deterministically from doc_id (the parquet corpus
    has no html column), so the DuckDB oracle can replay it exactly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return _lg_edges(docs).orderBy("src_host", "dst_host")


def _lg_pr_iter_sql(prev: str, it: int) -> str:
    """One unrolled nano-unit PageRank iteration (DuckDB CTE pair).

    Every divide is FLOOR over an IEEE-double quotient of exact
    integers and every SUM is over BIGINT — order-independent, so it
    matches the Spark loop bit-for-bit (operators/linkgraph.pagerank
    docstring has the recurrence; CAST(0.85 AS DOUBLE) keeps DuckDB's
    DECIMAL literals out of the float math)."""
    return f"""
    c{it} AS (
        SELECT e.dst_host AS host,
               sum(CAST(FLOOR(CAST(r.rn * e.weight AS DOUBLE) / o.ow)
                   AS BIGINT))::BIGINT AS cn
        FROM edges e
        JOIN {prev} r ON r.host = e.src_host
        JOIN outw o ON o.src_host = e.src_host
        GROUP BY 1
    ),
    d{it} AS (
        SELECT CAST(FLOOR(CAST(coalesce(sum(r.rn), 0) AS DOUBLE)
                    / (SELECT n FROM nn)) AS BIGINT) AS ds
        FROM {prev} r
        WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.src_host = r.host)
    ),
    r{it} AS (
        SELECT nodes.host,
               CAST(FLOOR(150000000.0::DOUBLE / (SELECT n FROM nn)) AS BIGINT)
               + CAST(FLOOR(CAST(0.85 AS DOUBLE)
                            * CAST(coalesce(c.cn, 0) + (SELECT ds FROM d{it})
                                   AS DOUBLE)) AS BIGINT) AS rn
        FROM nodes LEFT JOIN c{it} c ON c.host = nodes.host
    )"""


@register(
    "host_pagerank",
    f"""
    WITH {_LG_EDGES_SQL},
    nodes AS (
        SELECT src_host AS host FROM edges
        UNION
        SELECT dst_host FROM edges
    ),
    nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
    outw AS (
        SELECT src_host, sum(weight)::BIGINT AS ow FROM edges GROUP BY 1
    ),
    r0 AS (
        SELECT host,
               CAST(FLOOR(1000000000.0::DOUBLE / (SELECT n FROM nn)) AS BIGINT)
                   AS rn
        FROM nodes
    ),
    {_lg_pr_iter_sql("r0", 1)},
    {_lg_pr_iter_sql("r1", 2)},
    {_lg_pr_iter_sql("r2", 3)}
    SELECT host, rn AS rank_nano,
           CAST(rn AS DOUBLE) / 1000000000.0::DOUBLE AS pagerank
    FROM r3
    ORDER BY rank_nano DESC, host
    """,
)
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank (damping 0.85, uniform dangling
    redistribution) over the host link graph — the host-reputation
    prior real crawls feed into selection (Common Crawl's host-level
    webgraph ranks; a host nothing links to is the classic spam tell).

    The oracle unrolls the identical integer nano-unit recurrence, so
    the match is exact to the last bit — the determinism story that
    makes a reputation score auditable (same trick as
    quality_drift_psi's snapped PSI terms).

    Scale shape (operators/linkgraph.pagerank): per iteration, ONE
    shuffle of per-edge contributions keyed on dst (a true aggregate —
    map-side partials bound mega-hub hosts) plus host-sized rank/node
    frames; the edge list is localCheckpoint'ed once and per-round
    checkpoints keep the plan constant-size, the same discipline as
    connected_components. Iteration count is the knob: reputation
    ranks run 3-10 rounds, not to convergence."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pr = lg.pagerank(_lg_edges(docs), iters=3, damping=0.85)
    return pr.select(
        "host", "rank_nano", F.col("rank").alias("pagerank")
    ).orderBy(F.desc("rank_nano"), "host")
