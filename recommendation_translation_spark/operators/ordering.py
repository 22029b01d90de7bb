"""Scale-safe global ordering primitives.

A global ``Window.orderBy(...)`` (no partitionBy) compiles to
``Exchange SinglePartition`` — every row funnels through ONE reducer,
which is correct at any size but serializes the whole corpus through a
single task at 100 TB.  These helpers compute the same dense global
row numbers / running sums with the classic two-pass ``zipWithIndex``
formulation, fully partitioned:

1. ``repartitionByRange`` on the sort key — rows land in ordered,
   non-overlapping partitions.  The boundaries are NOT reproducible
   from build to build: ``RangePartitioner.sketch`` seeds each
   partition's reservoir sample with
   ``byteswap32(index ^ (rdd.id << 16))``, and every build plans a new
   RDD id, so each build draws new bounds and bakes its own offset map
   (step 3) into the plan.  Results are unaffected — each build's
   offsets are counted over its own partitions;
2. a cheap counting job aggregates one row **per partition** (per
   group) — a histogram of at most ``n_partitions × n_groups`` rows
   collected to the driver (bounded by configuration, not by data);
3. the final job adds the partition's cumulative offset (a literal
   map baked into the plan) to a *partition-local* window — the only
   exchanges are the range shuffle and the per-partition-id hash
   shuffle, both parallel.

The counting pass re-executes the input lineage once; that is the
standard price of ``zipWithIndex`` and is far cheaper than a
single-reducer sort at scale (the range exchange itself is the same
work either way — the second pass only re-reads, it never sorts
globally).

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

# Non-printable key separator for the (partition, group) offset map —
# group values are user data, so pick a separator they won't contain.
_SEP = "\x1f"

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


def _apply(
    df: DataFrame,
    order_cols: list[Column],
    agg: Column,
    window_fn,
    out_col: str,
    group_cols: list[str] | None,
    combine: str = "sum",
    materialize_input: bool = False,
) -> DataFrame:
    """Single-measure wrapper over :func:`_apply_multi` (the public
    row-number / running-sum / running-max helpers each compute one
    output column)."""
    return _apply_multi(
        df,
        order_cols,
        [(agg, window_fn, out_col, combine)],
        group_cols,
        materialize_input=materialize_input,
    )


def _apply_multi(
    df: DataFrame,
    order_cols: list[Column],
    measures: list[tuple],
    group_cols: list[str] | None,
    materialize_input: bool = False,
) -> DataFrame:
    """Shared two-pass skeleton: range partition → offset histogram →
    offset ⊕ partition-local window — for one or MORE measures over
    the SAME total ordering.

    Each measure is ``(agg, window_fn, out_col, combine)``: ``agg``
    aggregates a partition's contribution (count / sum / max);
    ``window_fn(w)`` produces the partition-local window Column over
    the same ordering.  All measures share ONE range shuffle, ONE
    checkpoint, and ONE histogram job (the groupBy computes every
    measure's partition aggregate in the same pass) — a caller needing
    a global position AND a global running offset pays one exchange,
    not one per measure.  ``group_cols`` (small cardinality —
    data-mixing sources, not user ids) restarts the numbering per
    group.  ``combine`` is the offset monoid: "sum" adds the preceding
    partitions' totals to the local window value; "max" takes the
    greatest of the preceding partitions' maxima and the local window
    value (the local value may be NULL for an exclusive-preceding
    frame's first row — ``greatest`` ignores NULL operands, and a
    first partition has no offset entry at all, so the result is NULL
    exactly when no preceding row exists anywhere).
    """
    if not measures:
        raise ValueError("at least one measure is required")
    out_names = [m[2] for m in measures]
    if len(set(out_names)) != len(out_names):
        # withColumns would silently keep only the last duplicate
        raise ValueError(f"duplicate out_col names: {out_names}")
    spark = df.sparkSession
    group_cols = list(group_cols or [])
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" on platforms that manage the conf
        n = 200
    range_keys = [F.col(c) for c in group_cols] + order_cols
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
    ranged = src.repartitionByRange(n, *range_keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    # Materialize the ranged layout once — the histogram job and the
    # final job would otherwise each recompute the full input lineage
    # (the classic hidden cost of zipWithIndex's two jobs).  A
    # localCheckpoint stores exactly what a sort's shuffle files would
    # hold anyway and truncates the lineage.  It also PINS correctness:
    # the offset map and the final window read the same checkpointed
    # partitions, so they agree on the partition layout by construction
    # — no reliance on the range sampler re-drawing identical
    # boundaries across jobs.  CLUSTER CAVEAT: localCheckpoint blocks
    # are NOT fault-tolerant — an executor loss (incl. dynamic
    # allocation decommission) between the two jobs fails the query
    # rather than recomputing, because the lineage is truncated.  Under
    # dynamic allocation, swap for ``persist(StorageLevel.DISK_ONLY)``
    # or a reliable ``checkpoint()``; in this repo's fixed-executor
    # bench/test setup the cheap local form is the right trade.
    ranged = ranged.localCheckpoint(eager=False)

    # The (partition[, group]) lookup key is computed ONCE, in Spark,
    # and reused verbatim on both sides: the histogram groups by this
    # very column, and the final job indexes the offset map with the
    # same expression.  Building the key in Python (str(value)) would
    # silently diverge from Spark's string cast for booleans
    # ("True" vs "true"), timestamps, floats — every lookup would miss
    # and the numbering would restart per partition (round-3 advisor).
    # NULL group values need an explicit sentinel: concat_ws SKIPS null
    # operands, so a bare cast would fold NULL and '' together.
    # (Known, documented collision: a group VALUE containing the \x1f
    # separator or equal to the literal "\x00" sentinel can alias
    # another key — pathological for the intended small-cardinality
    # source/mix labels.)
    _NULL = "\x00"
    if group_cols:
        mkey = F.concat_ws(
            _SEP,
            F.col("_pid").cast("string"),
            *[
                F.coalesce(F.col(g).cast("string"), F.lit(_NULL))
                for g in group_cols
            ],
        )
    else:
        mkey = F.col("_pid").cast("string")

    # Pass 1: one row per (partition[, group]) — bounded by conf ×
    # group cardinality, never by data volume; EVERY measure's
    # partition aggregate rides the same groupBy.  Driver-safe collect.
    hist = (
        ranged.groupBy(F.col("_pid"), mkey.alias("_mkey"))
        .agg(*[m[0].alias(f"_v{i}") for i, m in enumerate(measures)])
        .collect()
    )
    # Accumulate offsets in partition order within each group.  The
    # group part of the key is the Spark-computed _mkey with its
    # "<pid>\x1f" prefix stripped (empty string for the ungrouped
    # case) — Python never re-stringifies the group values.
    by_group: dict[str, list] = {}
    for r in hist:
        pid = r["_pid"]
        prefix_len = len(str(pid)) + (1 if group_cols else 0)
        gkey = r["_mkey"][prefix_len:]
        by_group.setdefault(gkey, []).append((pid, r, r["_mkey"]))

    folds: list[tuple[str, Column]] = []  # (out_col, final expression)
    for i, (_agg, window_fn, out_col, combine) in enumerate(measures):
        entries: list[Column] = []
        if combine == "sum":
            for pids in by_group.values():
                acc = 0
                for _pid, row, collected_mkey in sorted(
                    pids, key=lambda t: t[0]
                ):
                    entries.append(F.lit(collected_mkey))
                    entries.append(F.lit(acc))
                    # NULL partition sum contributes nothing
                    acc += row[f"_v{i}"] or 0
        elif combine == "max":
            for pids in by_group.values():
                acc = None  # no preceding partition → no map entry → NULL
                for _pid, row, collected_mkey in sorted(
                    pids, key=lambda t: t[0]
                ):
                    if acc is not None:
                        entries.append(F.lit(collected_mkey))
                        entries.append(F.lit(acc))
                    # an all-NULL partition has NO max — skip it rather
                    # than coercing to 0 (which would wrongly dominate
                    # all-negative data); the offset chain carries the
                    # last real max past it
                    v = row[f"_v{i}"]
                    if v is not None:
                        acc = v if acc is None else max(acc, v)
        else:  # pragma: no cover
            raise ValueError(f"unknown combine {combine!r}")

        if combine == "sum":
            if not entries:  # empty input — offsets are all zero
                offset = F.lit(0).cast("long")
            else:
                offset = F.coalesce(
                    F.create_map(*entries)[mkey].cast("long"),
                    F.lit(0).cast("long"),
                )
            fold = (offset + window_fn(_window(group_cols, order_cols))).cast(
                "long"
            )
        else:
            offset = (
                F.create_map(*entries)[mkey].cast("long")
                if entries
                else F.lit(None).cast("long")
            )
            # greatest drops NULL operands; NULL only when BOTH are NULL
            # (first row of the first partition under an exclusive frame)
            fold = F.greatest(
                offset, window_fn(_window(group_cols, order_cols))
            ).cast("long")
        folds.append((out_col, fold))

    # Pass 2: partition-local window (hash exchange on _pid — parallel,
    # never SinglePartition) ⊕ the baked-in offsets.  All measures share
    # the same window ordering, so Catalyst plans ONE Window node.
    return ranged.withColumns(dict(folds)).drop("_pid")


def _window(group_cols: list[str], order_cols: list[Column]):
    return Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)


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
    expensive expressions (see ``_apply``).
    """
    return _apply(
        df,
        order_cols,
        F.count(F.lit(1)),
        lambda w: F.row_number().over(w),
        out_col,
        group_cols,
        materialize_input=materialize_input,
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
    expressions (see ``_apply``).
    """
    return _apply(
        df,
        order_cols,
        F.sum(value_col),
        lambda w: F.sum(value_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
        out_col,
        group_cols,
        materialize_input=materialize_input,
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
    end = Window.currentRow if inclusive else -1
    return _apply(
        df,
        order_cols,
        F.max(F.col(value_col).cast("long")),
        lambda w: F.max(F.col(value_col).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, end)
        ),
        out_col,
        group_cols,
        combine="max",
        materialize_input=materialize_input,
    )


def range_partitioned_measures(
    df: DataFrame,
    order_cols: list[Column],
    measures: list[tuple],
    group_cols: list[str] | None = None,
    materialize_input: bool = False,
) -> DataFrame:
    """Compute SEVERAL global ordered measures over ONE range shuffle.

    ``measures`` is a list of specs sharing the same total ordering:

    - ``("row_number", None, out_col)`` — dense 1-based global position;
    - ``("running_sum", value_col, out_col)`` — inclusive running sum;
    - ``("running_max", value_col, out_col)`` /
      ``("running_max", value_col, out_col, False)`` — running maximum
      (4th element False = strictly-preceding frame).  The value column
      is CAST TO LONG (inherited from the single-measure primitive —
      exact integer max semantics for the watermark/offset use cases);
      a double-typed column gets truncated maxima, so pre-scale or
      extend the spec before passing fractional values.

    A caller that needs both a document's global training-order
    position AND its global token offset (a shard-manifest writer)
    would otherwise invoke two primitives — two range shuffles, two
    checkpoints, two histogram jobs over the same corpus.  Here every
    measure's partition aggregate rides one histogram groupBy and every
    fold column rides one Window node, so the marginal measure costs
    one aggregate expression, not one corpus pass — the difference
    between O(measures) and O(1) exchanges at 100 TB.
    """
    specs: list[tuple] = []
    for m in measures:
        kind, value_col, out_col = m[0], m[1], m[2]
        if kind == "row_number":
            specs.append(
                (
                    F.count(F.lit(1)),
                    lambda w: F.row_number().over(w),
                    out_col,
                    "sum",
                )
            )
        elif kind == "running_sum":
            specs.append(
                (
                    F.sum(value_col),
                    # bind value_col per-measure (default arg, not closure)
                    lambda w, c=value_col: F.sum(c).over(
                        w.rowsBetween(
                            Window.unboundedPreceding, Window.currentRow
                        )
                    ),
                    out_col,
                    "sum",
                )
            )
        elif kind == "running_max":
            inclusive = m[3] if len(m) > 3 else True
            end = Window.currentRow if inclusive else -1
            specs.append(
                (
                    F.max(F.col(value_col).cast("long")),
                    lambda w, c=value_col, e=end: F.max(
                        F.col(c).cast("long")
                    ).over(w.rowsBetween(Window.unboundedPreceding, e)),
                    out_col,
                    "max",
                )
            )
        else:
            raise ValueError(f"unknown measure kind {kind!r}")
    return _apply_multi(
        df,
        order_cols,
        specs,
        group_cols,
        materialize_input=materialize_input,
    )
