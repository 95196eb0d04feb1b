"""Iterative graph algorithms over pair/edge tables (the family next to
``dedup.connected_components``): PageRank power iteration and degree
statistics. Used in curation for centrality-weighted canonical selection
and domain-authority scoring — a page linked (or near-duplicated) by many
others is usually the version worth keeping.

Scale shape: one edge-keyed join + one destination-keyed aggregation per
iteration (the standard Pregel-without-Pregel dataflow); lineage is
truncated per round with localCheckpoint so the plan stays flat. Dangling
vertices (no out-edges) redistribute their mass globally, as the original
formulation requires — skipping that loses rank mass and the vector stops
summing to 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def degrees(edges: DataFrame, id_a: str = "id_a",
            id_b: str = "id_b") -> DataFrame:
    """(vertex, degree) over the undirected view of an edge list."""
    both = (edges.select(F.col(id_a).alias("v"))
            .union(edges.select(F.col(id_b).alias("v"))))
    return both.groupBy("v").agg(F.count("*").alias("degree"))


def pagerank(edges: DataFrame, damping: float = 0.85, iters: int = 10,
             id_a: str = "id_a", id_b: str = "id_b",
             directed: bool = False,
             checkpoint_every: int = 4) -> DataFrame:
    """PageRank by power iteration. Returns (v, rank); ranks sum to 1.

    ``directed=False`` (the near-dup/kNN-graph case) mirrors every edge.
    Per iteration: contributions = rank/out_degree flowing along edges
    (join on source, aggregate on destination), plus the damped teleport
    term and the dangling-mass redistribution. Vertices with no in-edges
    keep the floor rank. Floating-point sums ARE fold-order dependent
    across partitionings (quantize downstream outputs; tests compare
    against a local power iteration with tolerance).

    ``checkpoint_every`` trades lineage depth for job count. With the
    dangling subplan skipped in the (common) undirected case there is no
    double-execution penalty for deeper intervals, and interval 4
    measures ~30% faster than per-round truncation; directed graphs
    with dangling mass re-execute up to ``checkpoint_every - 1`` prior
    rounds inside the 1-row dangling aggregate, so pass 1 there if the
    dangling set is large.

    The result is lazy: the final partial interval runs inside the
    consumer's first action. A consumer that takes MULTIPLE actions
    should ``.localCheckpoint()`` the result, so it re-reads pinned
    ranks instead of re-executing that interval — and, because float
    sums are fold-order dependent, instead of possibly observing
    DIFFERENT quantized ranks across actions."""
    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if not directed:
        e = e.union(edges.select(F.col(id_b).alias("src"),
                                 F.col(id_a).alias("dst")))
    e = e.distinct().localCheckpoint()
    out_deg = e.groupBy("src").agg(F.count("*").alias("_deg"))
    if directed:
        # dst-only vertices exist (no out-edges), so the vertex set is
        # genuinely src ∪ dst
        verts = (e.select(F.col("src").alias("v"))
                 .union(e.select(F.col("dst").alias("v")))
                 .distinct().localCheckpoint())
        n = verts.count()
        n_edges = e.count()
        markers = verts.select(F.col("v").alias("src"),
                               F.col("v").alias("dst"),
                               F.lit(0.0).alias("_w"))
        out_deg = out_deg.localCheckpoint()   # dangling anti-join, x iters
    else:
        # mirrored graph: EVERY vertex appears as a src, so the degree
        # table enumerates the vertex set — vertex count + edge count
        # come from ONE aggregate over the checkpointed edges (r7; no
        # separate distinct-union job, no separate counts)
        row = e.agg(F.count("*").alias("_m"),
                    F.countDistinct("src").alias("_n")).first()
        n, n_edges = row["_n"], row["_m"]
        markers = out_deg.select("src", F.col("src").alias("dst"),
                                 F.lit(0.0).alias("_w"))
    if n == 0:
        # derive v's type from the input so the empty frame unions/joins
        # cleanly with non-empty runs (string doc-ids would otherwise
        # come back bigint on the empty day only)
        return (e.select(F.col("src").alias("v"))
                .withColumn("rank", F.lit(0.0)).limit(0))
    # Size the iterative loop's parallelism to the edge table: the
    # default shuffle width (cores) costs a fixed per-task overhead
    # every iteration, which dominates when each partition would hold
    # only a few hundred edges. ~64k edges/partition keeps tasks
    # meaningfully sized; at 100 TB the count scales right back up.
    width = max(1, min(e.sparkSession.sparkContext.defaultParallelism,
                       n_edges // 65536 + 1))

    # ONE loop-invariant table, checkpointed once (r7):
    # - real edges carry the ITERATION-INVARIANT weight 1/out_degree,
    #   folded in here instead of re-joining out_deg every round (at
    #   100 TB that is one shuffle of the full edge table per round);
    #   rank * (1.0/deg) and rank / deg differ by <1 ulp per edge, far
    #   inside the power iteration's own fold-order nondeterminism.
    # - a 0-weight SELF-LOOP marker per vertex keeps no-in-edge
    #   vertices in the rank vector through the same join+aggregate
    #   (rank * 0 contributes nothing, the group always exists) —
    #   replacing the per-iteration (verts LEFT JOIN contribs) and the
    #   separate zero-rows union. Genuine self-loop edges keep _w > 0,
    #   so markers never collide with them.
    w_edges = (e.join(out_deg, "src")
               .select("src", "dst",
                       (F.lit(1.0) / F.col("_deg")).alias("_w"))
               .unionByName(markers)
               .repartition(width, "src").localCheckpoint())
    verts = (w_edges.filter(F.col("_w") == 0.0)
             .select(F.col("src").alias("v")))

    # In the mirrored (undirected) graph every vertex appears as a src,
    # so the dangling set is empty by construction and its whole subplan
    # (anti-join + 1-row aggregate + broadcast, per iteration) can be
    # skipped without changing a single rank.
    has_dangling = directed

    ranks = verts.select("v", F.lit(1.0 / n).alias("rank"))
    for it in range(iters):
        contribs = (w_edges
                    .join(ranks.withColumnRenamed("v", "src"), "src")
                    .select("dst",
                            (F.col("rank") * F.col("_w")).alias("_c"))
                    .groupBy("dst").agg(F.sum("_c").alias("_in")))
        new_ranks = contribs.withColumnRenamed("dst", "v")
        if has_dangling:
            # Dangling vertices (no out-edges) teleport their whole rank.
            # The 1-row aggregate joins in as a broadcast nested-loop —
            # one lazy plan per iteration, no driver action besides the
            # final localCheckpoint that truncates lineage anyway.
            dangling = (ranks.join(out_deg.withColumnRenamed("src", "v"),
                                   "v", "left_anti")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                             .alias("_dm")))
            ranks = (new_ranks.join(F.broadcast(dangling))
                     .select("v",
                             (F.lit((1.0 - damping) / n)
                              + F.lit(damping) * F.col("_dm")
                              / F.lit(float(n))
                              + F.lit(damping) * F.col("_in"))
                             .alias("rank")))
        else:
            ranks = new_ranks.select(
                "v",
                (F.lit((1.0 - damping) / n)
                 + F.lit(damping) * F.col("_in")).alias("rank"))
        # no forced tail checkpoint (r7): the final partial interval
        # (< checkpoint_every rounds) executes inside the consumer's
        # first action instead of paying a separate materialization job.
        # Multi-action consumers should .localCheckpoint() the result
        # themselves if they re-read it.
        if it % checkpoint_every == checkpoint_every - 1 and it != iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks
