"""Link-graph authority: fixed-point PageRank over the crawl's host graph.

The reference's DomainAuthorityScorer scores frontier URLs from a STATIC
hand-maintained domain→weight dict (`deep_crawling/scorers.py:344-402`);
at web scale the authority signal is computed, not configured — PageRank
over the host-level link graph the crawl itself discovers (Page et al.
1999; Cho/Garcia-Molina/Page 1998 use exactly this to order crawl
frontiers).  This module computes it as iterative DataFrame joins and
feeds it back into the K5 scorer surface.

Determinism at any parallelism (the property every oracle here relies on):
all arithmetic is 64-bit INTEGER micro-units — rank starts at SCALE
(1e6) per node, each out-edge carries ``rank DIV outdeg``, and the damped
update is ``(SCALE - d) + (d * in_mass) DIV SCALE`` with d = 850_000.
Integer addition is exactly associative/commutative, so shuffle order,
partition count and AQE re-plans can never flip a value (float PageRank
cannot make that promise).  Dangling-node mass is dropped, matching the
simple formulation (documented; the redistribute variant adds one global
agg per iteration).

Scale shape: edges are hash-partitioned by ``src`` ONCE and persisted;
each iteration is one co-partitioned join (ranks are re-keyed by src on
the same partitioner) plus one groupBy(dst) shuffle with map-side partial
sums; ranks are eagerly localCheckpointed per iteration so the lineage
stays flat over any iteration count.  In-mass bound: SCALE * n_nodes must
stay < 2**63 / 850_000 (comfortable to ~10^10 hosts at SCALE=1e6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
DAMPING_MICRO = 850_000  # 0.85 in micro-units


def pagerank(edges: DataFrame, n_iter: int = 8, src: str = "src",
             dst: str = "dst", nodes: DataFrame | None = None,
             damping_micro: int = DAMPING_MICRO) -> DataFrame:
    """Fixed-point PageRank over ``edges(src, dst)``.

    Returns ``(node, rank_micro long, rank double)`` — rank_micro is the
    exact integer fixed-point value (deterministic on any engine/cluster),
    rank its /SCALE float rendering.  ``nodes`` defaults to the distinct
    union of both endpoints.  Duplicate edges count once (distinct'ed up
    front, like a host-graph adjacency).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if nodes is None:
        nodes_df = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node"))).distinct()
        )
    else:
        nodes_df = nodes.select(F.col(nodes.columns[0]).alias("node")).distinct()
    nodes_df = nodes_df.localCheckpoint(eager=False)

    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # one partitioner for the whole loop: edges+outdeg hashed by src
    adj = (
        e.join(outdeg, "src")
        .repartition("src")
        .localCheckpoint(eager=True)
    )

    ranks = nodes_df.withColumn("rank_micro", F.lit(SCALE).cast("long"))
    for _ in range(n_iter):
        ranks = pagerank_step(adj, ranks, nodes_df, damping_micro).localCheckpoint(
            eager=True
        )
    return ranks.withColumn(
        "rank", F.round(F.col("rank_micro") / F.lit(float(SCALE)), 6)
    )


def pagerank_step(adj: DataFrame, ranks: DataFrame, nodes_df: DataFrame,
                  damping_micro: int = DAMPING_MICRO) -> DataFrame:
    """One damped update: co-partitioned join on src (adj is already
    hashed by src), per-edge integer contribution, one groupBy(dst)
    shuffle with map-side partial sums, left join back onto the node set.
    Exposed separately so the physical plan of a single iteration can be
    audited (the loop's localCheckpoint hides it)."""
    base = SCALE - damping_micro
    in_mass = (
        adj.join(ranks.withColumnRenamed("node", "src"), "src")
        .select("dst", F.expr("rank_micro DIV outdeg").alias("contrib"))
        .groupBy("dst").agg(F.sum("contrib").alias("in_mass"))
    )
    return (
        nodes_df.join(in_mass.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            (F.lit(base) + F.expr(
                f"({damping_micro} * coalesce(in_mass, 0)) DIV {SCALE}"
            )).cast("long").alias("rank_micro"),
        )
    )


def domain_authority_score_df(frontier: DataFrame, weights: DataFrame,
                              url_col: str = "url", out_col: str = "da_score",
                              default_weight: float = 0.5,
                              weight: float = 1.0) -> DataFrame:
    """Scale path for K5: score frontier URLs against a COMPUTED authority
    table ``weights(host, weight double)`` (e.g. ``host_authority`` output)
    via a host join, instead of the reference's literal domain→weight map
    (`deep_crawling/scorers.py:414-519`, reproduced by
    ``functions.scorers.domain_authority_score`` as a broadcast
    ``create_map`` — fine for dozens of domains, not for the millions of
    hosts a computed ranking covers).

    Semantics match the dict scorer exactly: domain extraction strips the
    port, weight keys are lowercased, misses fall back to
    ``default_weight``, and the scorer weight goes through float32 (the
    reference stores weights in ``array('f')``).  The weights table is
    de-duplicated on host first so the join can never inflate frontier
    multiplicity (the robots_gate_df lesson)."""
    import numpy as np

    from crawl4ai_spark.functions.urlparts import domain_no_port

    dim = (
        weights.select(
            F.lower(F.col(weights.columns[0])).alias("__da_host"),
            F.col(weights.columns[1]).cast("double").alias("__da_weight"),
        ).dropDuplicates(["__da_host"])
    )
    w32 = float(np.float32(weight))
    out = (
        frontier.withColumn("__da_host", domain_no_port(F.col(url_col)))
        .join(F.broadcast(dim), "__da_host", "left")
        .withColumn(
            out_col,
            F.coalesce("__da_weight", F.lit(float(default_weight))) * F.lit(w32),
        )
        .drop("__da_host", "__da_weight")
    )
    return out


def anchor_texts(links: DataFrame, target_col: str = "href",
                 text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k inlink anchor texts per target URL — the classic off-page
    description signal (Brin & Page 1998 §2.2) used for crawl
    prioritization and page summarization; the reference extracts per-page
    anchor text (`content_scraping_strategy.py` Link.text) but never
    aggregates it across inlinks.

    Returns ``(target, anchor_rank, anchor_text, n_inlinks)`` with
    anchor_rank 1..k by descending inlink count, ties to the
    lexicographically smallest text (deterministic).  ONE shuffle: the
    explicit repartition by target satisfies both the (target, text)
    aggregation and the per-target window, so Spark inserts no further
    exchange."""
    from pyspark.sql.window import Window

    counts = (
        links.select(F.col(target_col).alias("target"),
                     F.trim(F.col(text_col)).alias("anchor_text"))
        .where(F.col("anchor_text") != "")
        .repartition("target")
        .groupBy("target", "anchor_text")
        .agg(F.count("*").alias("n_inlinks"))
    )
    w = Window.partitionBy("target").orderBy(
        F.desc("n_inlinks"), F.asc("anchor_text"))
    return (
        counts.withColumn("anchor_rank", F.row_number().over(w))
        .where(F.col("anchor_rank") <= k)
        .select("target", "anchor_rank", "anchor_text", "n_inlinks")
    )


def host_authority(links: DataFrame, page_col: str = "url",
                   href_col: str = "href", n_iter: int = 8) -> DataFrame:
    """Host-level authority from a page→link table: collapse (page, href)
    to the distinct host→host graph (self-loops dropped), run fixed-point
    PageRank, return ``(host, rank_micro, rank)`` ready to broadcast into
    ``functions.scorers.domain_authority_score`` (K5) in place of the
    reference's static dict."""
    from crawl4ai_spark.functions.urlparts import host_of

    edges = links.select(
        host_of(F.col(page_col)).alias("src"),
        host_of(F.col(href_col)).alias("dst"),
    ).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst"))
    )
    return pagerank(edges, n_iter=n_iter).withColumnRenamed("node", "host")
