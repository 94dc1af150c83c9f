"""Graph centrality over pair graphs (PageRank, Page/Brin/Motwani/
Winograd 1999).

Dedup pipelines produce pair graphs (LSH near-dup pairs, winnowing
overlaps); beyond collapsing them into components
(operators/dedup.connected_components), a training pipeline often
wants a CENTRALITY signal - which document is the hub of a duplicate
neighborhood (the natural canonical pick), which boilerplate node
touches everything. PageRank over the undirected pair graph is the
standard answer.

Implementation is pure DataFrame ops with a fixed, unrolled iteration
count (the kmeans_assignments pattern): per iteration, each node's
mass splits over its edges (pr/deg), contributions flow across one
keyed exchange, and the damped update re-bases on the node set. Every
contribution quantizes to a 1e-9 BIGINT before the sum, so results
are partition-order independent and the whole power iteration is
relationally expressible - the catalog query hash-matches a DuckDB
CTE chain end to end.

Scale shape: per iteration one join edges x ranks (keyed on src, the
same partitioning every iteration) and one (dst) aggregation whose
integer partials combine map-side; degrees and the node set compute
once. At a handful of unrolled iterations lineage depth is fine; a
production run with tens of iterations should localCheckpoint the
rank table every few steps (same advice as the streaming stores) -
semantics are unchanged because the quantized sums make each
iteration deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import barrier, release_checkpoint

_QUANT = 1_000_000_000.0


def pagerank_unrolled(
    pairs: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """PageRank over the UNDIRECTED graph of ``pairs`` (each pair
    contributes both directions), fixed ``iters`` power iterations
    from the uniform start. Returns (node, degree, pagerank). Every
    node in a pair graph has degree >= 1, so there is no dangling
    mass; the damped update still left-joins + coalesces so isolated
    receivers would be handled. Deterministic: contributions quantize
    to 1e-9 BIGINTs before summing.

    ``checkpoint_every``: truncate the rank table's lineage with an
    eager localCheckpoint every k iterations - the module docstring's
    production advice made a parameter (at tens of iterations an
    un-truncated plan grows a join+agg PER ITERATION and re-optimizes
    the whole chain each action; the connected_components loop
    truncates every round for the same reason). Quantized sums make
    each iteration deterministic, so semantics are unchanged; each
    new eager checkpoint releases the superseded one immediately, so
    storage holds ONE pinned node-table copy at a time; the live
    (final) one and the three static graph-table barriers (r17) stay
    pinned until the caller's barrier scope exits. None (default)
    keeps the rank table's unrolled plan fully lazy - right for the
    catalog's few-iteration oracle-paired use; the static
    edges/deg/nodes tables are always lazily barriered (r17) so the
    per-iteration consumers stop re-deriving the pair scan + union,
    degree aggregation, and distinct."""
    # validate before ANY Spark action (and before the empty-graph
    # early return) so bad args fail fast without paying a job
    if checkpoint_every is not None and checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    # Lazy barriers on the three STATIC graph tables (r17, guide
    # §2.4/§5): edges is consumed once per iteration, deg once per
    # iteration + the final join, nodes iters+1 times - without
    # barriers the unrolled plan re-derives the pair scan + union
    # (edges), the degree aggregation, and the distinct per consumer,
    # so the shuffle count grows with iters^2-ish re-derivations.
    # The nodes.count() below materializes all three in one job.
    # Values are untouched (a barrier truncates the plan, not the
    # data).
    edges = barrier(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst")).union(
            pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
        ),
        eager=False,
    )
    deg = barrier(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree")),
        eager=False,
    )
    nodes = barrier(
        edges.select(F.col("src").alias("node")).distinct(), eager=False
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("degree"),
            F.lit(0.0).alias("pagerank"),
        )
    pr = nodes.withColumn("pr", F.lit(1.0 / float(n)))
    base = (1.0 - damping) / float(n)
    prev_ckpt: DataFrame | None = None
    for it in range(iters):
        # Per-NODE quantized contribution rate, computed once on the
        # node-sized rank x degree join, THEN attached to edges (r17,
        # guide §2.3/§3): floor(pr/degree*Q+0.5) depends only on the
        # node, so evaluating it per edge row (the previous shape:
        # edges⋈pr then ⋈deg, both edge-sized joins) repeated the
        # division/floor per edge and paid TWO edge-sized joins per
        # iteration. Identical doubles in, identical longs out -
        # bit-exact contributions, one edge-sized join instead of two.
        rates = pr.join(deg, pr["node"] == deg["src"]).select(
            F.col("src"),
            F.floor(
                F.col("pr")
                / F.col("degree").cast("double")
                * F.lit(_QUANT)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__q"),
        )
        contrib = edges.join(rates, "src").select(
            F.col("dst").alias("node"), F.col("__q")
        )
        summed = contrib.groupBy("node").agg(F.sum("__q").alias("__s"))
        pr = (
            nodes.join(summed, "node", "left")
            .withColumn(
                "pr",
                F.lit(base)
                + F.lit(damping)
                * (
                    F.coalesce(F.col("__s"), F.lit(0)).cast("double")
                    / F.lit(_QUANT)
                ),
            )
            .select("node", "pr")
        )
        if checkpoint_every is not None and (it + 1) % checkpoint_every == 0:
            pr = barrier(pr, eager=True)
            # each eager checkpoint supersedes the previous one; free
            # its blocks NOW (it has fully materialized into the new
            # one) so storage holds one node-table copy, not
            # iters/checkpoint_every of them (r14 ADVICE)
            if prev_ckpt is not None:
                release_checkpoint(prev_ckpt)
            prev_ckpt = pr
    return pr.join(deg, pr["node"] == deg["src"]).select(
        "node", "degree", F.col("pr").alias("pagerank")
    )
