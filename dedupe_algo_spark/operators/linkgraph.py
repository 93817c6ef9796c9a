"""Host-level link graph: extraction and PageRank — the web-graph
quality signal pipelines mix into corpus weighting (a page from a
well-linked host is worth more than a spam farm's).

- ``host_edges``: pages → distinct (src_host, dst_host, n_links)
  edges via the codegen outlink extractor. One shuffle on the slim
  host pair.
- ``pagerank``: standard damped PageRank with uniform teleport and
  dangling-mass redistribution, iterated a fixed number of steps.
  Each step is one join + one aggregate on (node, double) rows —
  O(edges) shuffle of an 8-byte payload, never page bodies. The rank
  frame is ``localCheckpoint``-ed per step through the same
  checkpoint chain as the CC operator (tracking.CheckpointChain), so
  the plan does not grow with iterations and superseded steps are
  released; the dangling mass is a broadcast one-row aggregate inside
  the step's own plan.

Public references: Page et al. 1999; the dangling-node uniform
redistribution is the standard formulation (Berkhin 2005 survey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_edges(
    pages: DataFrame,
    html_col: str = "html",
    dedup_key: list[str] | None = None,
) -> DataFrame:
    """(src_host, dst_host, n_links) edges from raw html. Self-links
    are kept (PageRank handles them); relative links (no host) drop.

    ``dedup_key`` (e.g. ``["url", "warc_ts"]``): collapse duplicate
    pages BEFORE counting, so a capture that appears twice in the
    input (merged crawl dumps, same-second re-fetch) does not
    double-count its outlinks. The dedup runs on the SLIM map-side
    projection (key + src_host + extracted-href array) — html still
    never enters an exchange — and picks the max struct per key, so
    the choice is deterministic even for pathological inputs where
    one capture key carries different payloads."""
    from ..functions.html import extract_outlinks, link_host
    from ..functions.urls import host_of

    extracted = pages.select(
        *(F.col(c) for c in (dedup_key or [])),
        host_of(F.col("url")).alias("src_host"),
        extract_outlinks(F.col(html_col)).alias("_ls"),
    )
    if dedup_key:
        extracted = (
            extracted.groupBy(*dedup_key)
            .agg(F.max(F.struct("src_host", "_ls")).alias("_m"))
            .select(F.col("_m.src_host").alias("src_host"), F.col("_m._ls").alias("_ls"))
        )
    links = extracted.select("src_host", F.explode("_ls").alias("_t"))
    return (
        links.select("src_host", link_host(F.col("_t")).alias("dst_host"))
        .where(F.length("dst_host") > 0)
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Damped PageRank over ``edges``; returns (node, pagerank).

    Nodes are the union of sources and targets. Parallel edges either
    pre-aggregated via ``weight_col`` or counted implicitly. Dangling
    nodes (no outlinks) redistribute their mass uniformly, so the rank
    vector keeps total mass 1 every step (asserted cheaply by the
    tests, not at runtime).

    Superstep cost: ONE job per iteration (the eager checkpoint that
    truncates the join lineage). The dangling mass is a one-row
    aggregate broadcast back into the same plan (the scalar-subquery
    shape), NOT a driver ``first()`` — such a collect would be a second
    driver-blocking job every superstep; on a 200-host graph the barrier
    latency, not the data, dominated a 10-iteration run.

    Checkpoint hygiene: the rank frames go through one
    :class:`~dedupe_algo_spark.tracking.CheckpointChain` and the
    per-edge shares are released once the last superstep is
    materialized, so only the checkpoint backing the returned frame
    stays persisted."""
    from ..tracking import CheckpointChain

    spark = edges.sparkSession
    ranks = CheckpointChain(spark)
    w = F.col(weight_col) if weight_col else F.lit(1)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
    )
    nodes = ranks.step(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # empty graph (e.g. a corpus with no absolute links): an empty
        # result, not a ZeroDivisionError crash in the caller's job
        return nodes.select(
            F.col("node"), F.lit(0.0).alias("pagerank")
        ).limit(0)
    outdeg = e.groupBy("src").agg(F.sum("w").alias("outw"))
    shares = CheckpointChain(spark)
    e = shares.step(
        e.join(outdeg, "src").select(
            "src", "dst", (F.col("w") / F.col("outw")).alias("share")
        )
    )
    # nodes tagged once with has-outlinks membership so each
    # superstep can aggregate the dangling mass without an anti-join
    has_out = outdeg.select(F.col("src").alias("node"), F.lit(True).alias("_has"))
    pr = ranks.step(
        nodes.join(has_out, "node", "left").select(
            "node",
            F.coalesce("_has", F.lit(False)).alias("_has"),
            F.lit(1.0 / n).alias("pr"),
        )
    )
    for _ in range(iterations):
        # dangling mass as a broadcast ONE-ROW aggregate inside the
        # superstep's own plan — no driver collect, no extra job. Safe
        # because the eager checkpoint truncates lineage per step: the
        # plan references ``pr`` three times, which without truncation
        # would multiply the logical plan per iteration.
        dang = pr.where(~F.col("_has")).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang")
        )
        inflow = (
            e.join(pr, e.src == pr.node)
            .select("dst", (F.col("pr") * F.col("share")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        tagged = pr.select("node", "_has")
        pr = ranks.step(
            tagged.join(inflow, tagged.node == inflow.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "_has",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.col("_dang") / n)
                ).alias("pr"),
            )
        )
    shares.release()
    return pr.select("node", F.col("pr").alias("pagerank"))
