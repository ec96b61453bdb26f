"""Link-graph analytics for frontier prioritization.

GoProwl pops URLs in insertion order (colly's queue); the rebuild's frontier
carries an explicit ``priority`` column (schemas.FRONTIER, popped by
politeness.pop_batch's window rank), which defaults to -depth. This module
computes a better signal: **PageRank over the crawled link graph** — the
classic crawl-ordering metric (feed ``pagerank().pr`` into the frontier's
priority to fetch high-centrality pages first).

Shape per iteration: one join edges⋈ranks (shuffle on src), one groupBy dst
(shuffle on dst), one metadata-sized dangling-mass aggregate — the standard
distributed power iteration. Deterministic: no sampling, fixed iteration
count, so the DuckDB oracle replays it exactly (unrolled CTE per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, hub, authority) after ``iters`` HITS iterations (Kleinberg):
    authority ← Σ hub(in-neighbors), hub ← Σ authority(out-neighbors),
    each L2-normalized per iteration. Same per-iteration shape as pagerank
    (join + aggregate per direction); the normalizers are metadata-sized
    aggregates."""
    nodes = nodes.select(F.col(node_col).alias("node")).localCheckpoint()
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))

    def _norm_col(z):
        # the collect-era guard was `... or 1.0`: empty/zero norm → divide
        # by 1.0; the in-plan form must coalesce null AND map 0 → 1.0
        z = F.coalesce(z, F.lit(0.0))
        return F.when(z == 0.0, F.lit(1.0)).otherwise(z)

    for _ in range(iters):
        # L2 normalizers fold IN-PLAN as broadcast 1-row cross joins (the
        # corpus-stat idiom of ranking._per_query_term) — no scalar collect
        # job per iteration; each iteration is the localCheckpoint job only
        auth_new = (
            e.join(ranks, e["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("a"))
        )
        with_auth = nodes.join(
            auth_new, nodes["node"] == auth_new["dst"], "left"
        ).select("node", F.coalesce(F.col("a"), F.lit(0.0)).alias("a"))
        norm_a = with_auth.agg(
            F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("_za")
        )
        with_auth = (
            with_auth.crossJoin(F.broadcast(norm_a))
            .select("node", (F.col("a") / _norm_col(F.col("_za"))).alias("auth"))
            .localCheckpoint()
        )
        hub_new = (
            e.join(with_auth, e["dst"] == with_auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("h"))
        )
        with_hub = nodes.join(
            hub_new, nodes["node"] == hub_new["src"], "left"
        ).select("node", F.coalesce(F.col("h"), F.lit(0.0)).alias("h"))
        norm_h = with_hub.agg(
            F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("_zh")
        )
        with_hub = with_hub.crossJoin(F.broadcast(norm_h)).select(
            "node", (F.col("h") / _norm_col(F.col("_zh"))).alias("hub")
        )
        ranks = (
            with_hub.join(with_auth, "node")
            .select("node", "hub", "auth")
            .localCheckpoint()
        )
    return ranks


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, pr) after ``iters`` power iterations with uniform start.

    Dangling mass (nodes with no out-edges) is redistributed uniformly each
    iteration — the standard correction, so Σpr stays 1. ``nodes`` must
    contain every vertex (isolated ones included)."""
    nodes = nodes.select(F.col(node_col).alias("node")).localCheckpoint()
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    n = nodes.count()
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(outdeg, "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        # dangling mass folds IN-PLAN (broadcast 1-row cross join — the
        # avgdl idiom): no scalar collect job per iteration
        dangling = (
            ranks.join(outdeg, ranks["node"] == outdeg["src"], "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang"))
        )
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("_dang") / n)
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks


def anchor_stats(links: DataFrame, checksum_mod: int = 1000003) -> DataFrame:
    """Anchor-text inversion: aggregate every link's anchor text onto its
    TARGET url — the classic web-ranking signal (anchor text describes the
    target better than the target's own text; Brin & Page 1998 §2.2, and
    the natural ranking upgrade for the reference's link handling, which
    only stores outbound hrefs in metadata: colly.go:184,
    adapter.go:42-72).

    Input: (src, target, anchor) rows — one per link edge, e.g. exploded
    'link' spans (anchor = span text, target = span media_ref). Output per
    target: in_degree, n_sources (distinct linking pages), n_anchors
    (distinct anchor strings), anchor_checksum (order-free h60 digest of
    (src, anchor) pairs — a value-hash-strength witness that every edge
    contribution is present exactly once).

    Scale shape: ONE partial-aggregated shuffle keyed by target url —
    count/count-distinct/sum all map-side combine; no joins, no windows.
    At 10^10 edges the only wide exchange carries one row per distinct
    target per map partition.
    """
    from goprowl_spark.operators.dedup import h60

    # explicit concat over coalesced inputs: concat_ws SKIPS nulls (a null
    # anchor would hash as bare src) while SQL `||` nulls out — coalesce
    # to '' keeps the Spark checksum and the DuckDB twin identical on
    # null-bearing edges
    edge_h = h60(
        F.concat(
            F.coalesce(F.col("src"), F.lit("")),
            F.lit("|"),
            F.coalesce(F.col("anchor"), F.lit("")),
        )
    )
    return (
        links.select(
            F.col("target"),
            F.col("src"),
            F.col("anchor"),
            (edge_h % checksum_mod).alias("edge_h"),
        )
        .groupBy("target")
        .agg(
            F.count("*").cast("long").alias("in_degree"),
            F.countDistinct("src").cast("long").alias("n_sources"),
            F.countDistinct("anchor").cast("long").alias("n_anchors"),
            F.sum("edge_h").cast("long").alias("anchor_checksum"),
        )
    )
