"""Scale-safe global ordering primitives.

A global ``Window.orderBy(...)`` (no partitionBy) compiles to
``Exchange SinglePartition`` — every row funnels through ONE reducer,
which is correct at any size but serializes the whole corpus through a
single task at 100 TB.  These helpers compute the same dense global
row numbers / running sums / running maxima with the classic two-pass
``zipWithIndex`` formulation, fully partitioned, in ONE plan:

1. ``repartitionByRange`` on the (group, sort) key — rows land in
   ordered, non-overlapping partitions, tagged with their partition id
   and checkpointed once, so both branches below read the same
   partitions;
2. each (partition, group)'s aggregate — a histogram of at most
   ``n_partitions × n_groups`` rows — is sent to every LATER partition
   id (``explode(sequence(pid + 1, n - 1))``) and folded per (target
   partition, group) with the measure's offset monoid (``sum`` /
   ``max``): every partition's offset, computed in the plan, bounded by
   configuration and group cardinality, never by data volume;
3. the offsets join back by broadcast on the partition id and the
   group columns (null-safe) and are combined with a *partition-local*
   window — the only exchanges are the range shuffle, the histogram's
   hash aggregations, the offsets' broadcast and the per-partition-id
   window shuffle, all parallel.

Nothing is collected to the driver, and no offset is baked into the
plan as a literal: the range sampler still draws new boundaries on
every build (``RangePartitioner.sketch`` seeds its reservoir with the
RDD id), but they stay behind the checkpoint, so every build of the
same query prints the same plan.

The histogram and the final window each re-read the checkpointed
layout; that is the standard price of ``zipWithIndex`` and is far
cheaper than a single-reducer sort at scale (the range exchange itself
is the same work either way — the second pass only re-reads, it never
sorts globally).

No counterpart in the reference (its driver-side sorts are bounded
site lists, JobRunner.scala:31-73); this backs the corpus-curation
extension operators (``interleave_sources``, ``token_budget_sample``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "range_partitioned_row_number",
    "range_partitioned_running_sum",
    "range_partitioned_running_max",
    "range_partitioned_measures",
]

#: Corpus size (parquet-footer row count) above which catalog
#: consumers whose ranking partitions on a potentially-DOMINANT group
#: key (e.g. ccnet's per-language thirds — one language can be ~all of
#: a web corpus) switch from the plain grouped window to
#: :func:`range_partitioned_row_number` with ``group_cols``.  Below it
#: the grouped window is exchange-minimal and the two-pass machinery
#: cannot pay for itself; the threshold matches the collapse dial
#: (sources.readers.COLLAPSE_MIN_ROWS) so driver/bench SFs keep the
#: direct plan and sf1+ takes the scale path.
RANGE_RANK_MIN_ROWS = 20_000

#: Measure kind → (value expression of the spec's value column,
#: aggregate, offset monoid).  The aggregate is both a partition's
#: contribution and, over a running frame, the partition-local value (a
#: running ``count(1)`` is the row number); the monoid folds the
#: contributions of all earlier partitions into a partition's offset.
#: ``running_max`` casts to long: exact integer max semantics for the
#: watermark/offset use cases.
_MEASURES = {
    "row_number": (lambda c: F.lit(1), F.count, F.sum),
    "running_sum": (F.col, F.sum, F.sum),
    "running_max": (lambda c: F.col(c).cast("long"), F.max, F.max),
}


def range_partitioned_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "rn",
    group_cols: list[str] | None = None,
    materialize_input: bool = False,
) -> DataFrame:
    """Dense 1-based global row number over ``order_cols`` (restarting
    per ``group_cols`` when given) with no single-partition exchange.

    Identical output to ``row_number().over(Window.orderBy(...))`` —
    the ordering must be total (include a unique tie-break column),
    otherwise rows equal on the full key get an arbitrary order in
    both formulations.  ``materialize_input`` checkpoints the input
    before the range shuffle — pass True when the input lineage is
    expensive expressions (see :func:`range_partitioned_measures`).
    """
    return range_partitioned_measures(
        df, order_cols, [("row_number", None, out_col)], group_cols,
        materialize_input,
    )


def range_partitioned_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "running",
    group_cols: list[str] | None = None,
    materialize_input: bool = False,
) -> DataFrame:
    """Inclusive running sum of ``value_col`` over a total ordering,
    equal to ``sum(v).over(Window.orderBy(...).rowsBetween(unbounded
    preceding, current row))`` but with no single-partition exchange.
    ``materialize_input`` checkpoints the input before the range
    shuffle — pass True when the input lineage is expensive
    expressions (see :func:`range_partitioned_measures`).
    """
    return range_partitioned_measures(
        df, order_cols, [("running_sum", value_col, out_col)], group_cols,
        materialize_input,
    )


def range_partitioned_running_max(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "running_max",
    group_cols: list[str] | None = None,
    inclusive: bool = True,
    materialize_input: bool = False,
) -> DataFrame:
    """Running maximum of ``value_col`` over a total ordering with no
    single-partition exchange.  ``inclusive=False`` gives the
    strictly-preceding-rows maximum (frame ``(-inf, -1)``): NULL for
    the globally first row — the sweep-line primitive (skyline
    dominance, high-watermark detection).  Values are cast to long.
    """
    return range_partitioned_measures(
        df, order_cols, [("running_max", value_col, out_col, inclusive)],
        group_cols, materialize_input,
    )


def range_partitioned_measures(
    df: DataFrame,
    order_cols: list[Column],
    measures: list[tuple],
    group_cols: list[str] | None = None,
    materialize_input: bool = False,
) -> DataFrame:
    """Compute SEVERAL global ordered measures over ONE range shuffle:
    range partition → in-plan offsets of the earlier partitions →
    offset ⊕ partition-local window.

    ``measures`` is a list of specs sharing the same total ordering:

    - ``("row_number", None, out_col)`` — dense 1-based global position;
    - ``("running_sum", value_col, out_col)`` — inclusive running sum;
    - ``("running_max", value_col, out_col)`` /
      ``("running_max", value_col, out_col, False)`` — running maximum
      (4th element False = strictly-preceding frame).  The value column
      is CAST TO LONG (exact integer max semantics for the
      watermark/offset use cases); a double-typed column gets truncated
      maxima, so pre-scale or extend the spec before passing fractional
      values.

    ``group_cols`` (small cardinality — data-mixing sources, not user
    ids) restarts every measure per group; NULL is a group of its own,
    as in ``Window.partitionBy``.  A "sum" offset is 0 where no earlier
    partition of the group exists; a "max" offset is NULL there and
    skips all-NULL partitions, and ``greatest`` ignores a NULL operand,
    so a running max is NULL exactly when no preceding row exists
    anywhere (the first row under an exclusive frame).

    A caller that needs both a document's global training-order
    position AND its global token offset (a shard-manifest writer)
    would otherwise invoke two primitives — two range shuffles, two
    checkpoints, two histograms over the same corpus.  Here every
    measure's partition aggregate rides one histogram groupBy and one
    offset join, and every window column rides one Window node, so the
    marginal measure costs one aggregate expression, not one corpus
    pass — the difference between O(measures) and O(1) exchanges at
    100 TB.
    """
    if not measures:
        raise ValueError("at least one measure is required")
    out_names = [m[2] for m in measures]
    if len(set(out_names)) != len(out_names):
        # withColumns would silently keep only the last duplicate
        raise ValueError(f"duplicate out_col names: {out_names}")
    for m in measures:
        if m[0] not in _MEASURES:
            raise ValueError(f"unknown measure kind {m[0]!r}")
    group_cols = list(group_cols or [])
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" on platforms that manage the conf
        n = 200
    # ``materialize_input`` checkpoints the INPUT too (round-10):
    # callers pass narrow projections, but the projection's LINEAGE can
    # be expensive — token_budget_sample's quality/piece-count
    # expressions cost ~10 s per evaluation at sf3, and without this
    # checkpoint the range sampler's reservoir pass and the shuffle's
    # map pass each re-evaluate it (measured 52.9 s build vs ~13 s
    # single-eval on corpus_bpe_budget).  It is OPT-IN because for a
    # cheap lineage (a pruned parquet scan + light expressions) the
    # trade inverts: 1×eval + write + 2×read costs more than 2×eval —
    # an unconditional checkpoint regressed corpus_token_budget ~35%
    # at sf0.1.  The checkpoint stores only the narrow rows; the same
    # fault-tolerance caveat as below applies.
    src = df.localCheckpoint(eager=False) if materialize_input else df
    # Materialize the ranged layout once — the histogram branch and the
    # window branch would otherwise each recompute the full input
    # lineage (the classic hidden cost of zipWithIndex's two passes).
    # A localCheckpoint stores exactly what a sort's shuffle files would
    # hold anyway and truncates the lineage.  It also PINS correctness:
    # the offsets and the final window read the same checkpointed
    # partitions, so they agree on the partition layout by construction
    # — no reliance on the range sampler re-drawing identical
    # boundaries.  CLUSTER CAVEAT: localCheckpoint blocks are NOT
    # fault-tolerant — an executor loss (incl. dynamic allocation
    # decommission) between the two branches fails the query rather
    # than recomputing, because the lineage is truncated.  Under
    # dynamic allocation, swap for ``persist(StorageLevel.DISK_ONLY)``
    # or a reliable ``checkpoint()``; in this repo's fixed-executor
    # bench/test setup the cheap local form is the right trade.
    ranged = (
        src.repartitionByRange(n, *[F.col(c) for c in group_cols], *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    window = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    locals_, parts, folds, outs = {}, [], [], {}
    for i, (kind, value_col, out_col, *rest) in enumerate(measures):
        value, agg, monoid = _MEASURES[kind]
        v = value(value_col)
        inclusive = rest[0] if rest else True
        end = Window.currentRow if inclusive else -1
        locals_[f"_l{i}"] = agg(v).over(
            window.rowsBetween(Window.unboundedPreceding, end)
        )
        parts.append(agg(v).alias(f"_v{i}"))
        folds.append(monoid(f"_v{i}").alias(f"_o{i}"))
        offset, local = F.col(f"_o{i}"), F.col(f"_l{i}")
        outs[out_col] = (
            F.coalesce(offset, F.lit(0)) + local
            if monoid is F.sum
            else F.greatest(offset, local)
        ).cast("long")
    # Pass 1, in the plan: each (partition, group) aggregate goes to
    # every later partition id and folds there.  The group columns are
    # renamed so the join below compares the two sides' values, never a
    # string rendering of them.
    gkeys = [f"_g{j}" for j in range(len(group_cols))]
    offsets = (
        ranged.groupBy("_pid", *group_cols)
        .agg(*parts)
        # the last partition id has no later one (and sequence(n, n - 1)
        # would count down, not come out empty)
        .where(F.col("_pid") < n - 1)
        .select(
            F.explode(F.sequence(F.col("_pid") + 1, F.lit(n - 1))).alias("_to"),
            *[F.col(g).alias(k) for g, k in zip(group_cols, gkeys)],
            *[f"_v{i}" for i in range(len(measures))],
        )
        .groupBy("_to", *gkeys)
        .agg(*folds)
    )
    on = [F.col("_pid") == F.col("_to")] + [
        F.col(g).eqNullSafe(F.col(k)) for g, k in zip(group_cols, gkeys)
    ]
    # Pass 2: partition-local window (hash exchange on _pid — parallel,
    # never SinglePartition) ⊕ the joined offsets.  All measures share
    # the same window ordering, so Catalyst plans ONE Window node; the
    # window runs below the join, so its shuffle need not wait for the
    # offsets.
    return (
        ranged.withColumns(locals_)
        .join(F.broadcast(offsets), on, "left")
        .withColumns(outs)
        .drop(
            "_pid", "_to", *gkeys, *locals_,
            *[f"_o{i}" for i in range(len(measures))],
        )
    )
