"""Iterative graph analytics (extension surface; no reference
counterpart — the reference has no graph operators).

PageRank here is EXACT-INTEGER: ranks live in fixed-point micro-units
(``scale`` = 10¹²) and every per-iteration operation is integer
arithmetic — ``rank·w div w_out`` per edge, integer-summed, damped with
integer division.  Integer addition is associative, so the distributed
sum's accumulation order cannot perturb the result: Spark and a SQL
engine unrolling the same iterations agree BIT-FOR-BIT, which makes an
iterative algorithm hash-checkable against a DuckDB oracle (same trick
as the integer-cents Pareto running sum).  A float PageRank would drift
in the last ulp per iteration and could never be hash-compared.

Scale notes (the 100 TB posture):
- per iteration: one equi-join of the rank relation onto the edge list
  (shuffle on the node key) + one aggregation — the textbook Pregel
  step expressed relationally; nothing is ever quadratic in nodes.
- the rank relation is ``localCheckpoint``-ed each iteration so the
  lineage stays O(1) instead of doubling per round (same discipline as
  operators.curation.dup_clusters pointer jumping).
- the node count is the only driver-side scalar (one long), baked into
  the plan as a literal exactly like the IVF centroid lists.
- dangling nodes (no out-edges) keep the teleport term only — their
  rank mass is NOT redistributed (documented deviation from the
  original formulation; acceptable for ranking use and mirrored
  exactly by the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank_integer"]


def pagerank_integer(
    edges: DataFrame,
    n_iter: int = 6,
    damping_pct: int = 85,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    broadcast_out_weights: bool = True,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, in exact integer
    fixed-point: returns (node, rank_int) with rank_int ≈ rank·scale
    after ``n_iter`` damped iterations from the uniform start.

    ``damping_pct`` is the damping factor in percent (85 = the classic
    0.85) so the damping step stays integral.  Overflow headroom:
    rank_int ≤ scale and the per-edge product rank_int·w must stay
    below 2⁶³ — with scale 10¹² that allows edge weights up to ~10⁶.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    # Materialize the edge list FIRST: everything below (node-set
    # distinct + count, out-weight agg, the pre-partitioned join input)
    # derives from it, and each is an independent action — without this
    # checkpoint an expensive edge-construction lineage (e.g. the part
    # co-purchase self-join) re-executes three times before the first
    # iteration even starts.
    edges = edges.localCheckpoint(eager=True)
    # r13: materialize the node-set distinct FIRST (one distinct pass,
    # full AQE — this input is data-scale), count it from the blocks,
    # and only then enter the fixpoint scope: the count is what gates
    # the scope, and everything from here on is node/edge-sized.
    nodes0 = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes0.count()
    if n == 0:
        return nodes0.withColumn("rank_int", F.lit(0).cast("long"))
    base = scale // n
    teleport = (100 - damping_pct) * base // 100
    from .fixpoint import fixpoint_scope

    # Under the scope (small graphs) AQE is off and the shuffle width
    # derives from the node count, so the 6-round lazy chain below
    # materializes as ONE job instead of ~40 adaptively re-planned
    # ones (the r13 profile's per-job scheduling floor); above the
    # gate the scope is inert and the plan is unchanged.
    with fixpoint_scope(edges.sparkSession, n) as scoped:
        # node relation PRE-PARTITIONED on the join key at the width
        # every in-scope shuffle uses (the distinct's own partitioning
        # is reused when the widths already match — no extra pass)
        nodes = nodes0.repartition("node")
        # One row per SOURCE NODE — domain-bounded for the graphs this
        # engine builds (parts, users, hosts), so broadcast it EXPLICITLY:
        # at sf1 (200k sources) AQE broadcasts on its own size estimate,
        # but at sf3 (600k) the estimate crosses the 10 MB default and the
        # plan silently degrades to a sort-merge join that sorts the full
        # edge relation (measured 3.1 s → 25.5 s for 3x data, the round-7
        # sf3 curve's one superlinear cliff).  Billion-node webgraphs pass
        # broadcast_out_weights=False and pay the shuffled join instead of
        # a driver-OOM broadcast — the opt-out is a parameter, not a
        # library edit.
        out_w = edges.groupBy(src).agg(F.sum(weight).alias("w_out"))
        if broadcast_out_weights:
            out_w = F.broadcast(out_w)
        # Static per-iteration inputs: materialize once, reuse n_iter times,
        # PRE-PARTITIONED on their join keys.  localCheckpoint preserves the
        # physical partitioning, and the rank relation exits each iteration
        # hash-partitioned by node (it is the output of a node-keyed join),
        # so the per-iteration edge⋈rank join is exchange-free on both
        # sides — the only shuffle each round is the inherent transpose
        # (contributions regroup by DESTINATION).  Without this, every
        # iteration re-shuffles the full edge list.
        e = (
            edges.join(out_w, src)
            .select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"),
                    F.col(weight).alias("e_w"), "w_out")
            .repartition("e_src")
        )
        # r14 (guide §2.6 overlap independent jobs): the two in-scope
        # static inputs are independent single-pass materializations
        # over already-checkpointed blocks — submit them concurrently
        # so one's barrier tail back-fills with the other's tasks.
        # Each is localCheckpoint(eager) so the per-iteration joins
        # read partitioned blocks, exactly as before.
        from concurrent.futures import ThreadPoolExecutor

        from ..session import inherit_local_properties

        checkpoint = inherit_local_properties(
            edges.sparkSession.sparkContext,
            lambda df: df.localCheckpoint(eager=True),
        )
        with ThreadPoolExecutor(max_workers=2) as pool:
            nodes, e = pool.map(checkpoint, (nodes, e))
        ranks = nodes.withColumn("rank_int", F.lit(int(base)).cast("long"))
        for _ in range(n_iter):
            contrib = e.join(ranks, e["e_src"] == ranks["node"]).select(
                F.col("e_dst").alias("node"),
                F.expr("rank_int * e_w div w_out").alias("c"),
            )
            summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
            ranks = (
                nodes.join(summed, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(int(teleport)).cast("long")
                        + F.expr(f"{int(damping_pct)} * coalesce(s, 0L) div 100")
                    ).alias("rank_int"),
                )
                # LAZY checkpoint: lineage still truncates at first compute,
                # but the driver submits ONE action for the whole 6-round
                # chain instead of six synchronous materialization barriers
                # (~0.5 s scheduling overhead per round at local[32]).
                # r14: a final-round-only checkpoint was tried and measured
                # 2x SLOWER on the chain job (3.4-3.8 s vs 1.5-2.0 s — the
                # per-round RDD boundary is what keeps each round's SMJ
                # reading partitioned, materialized blocks); reverted.
                .localCheckpoint(eager=False)
            )
        if scoped:
            # materialize the whole chain while AQE is still off — the
            # caller's action would otherwise execute it after the
            # scope exits, re-inflating it into per-exchange jobs
            ranks.count()
    return ranks
