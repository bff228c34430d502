"""Distributed replacements for partition-less (single-task) windows.

A ``Window.orderBy(...)`` with no ``partitionBy`` funnels the WHOLE frame
through one task (``WindowExec: No Partition Defined``) — fine on a
bounded aggregate, a scale-killer at fact grain (VERDICT r5 item 2: q141's
ntile and q149's row_number ran the global sort over all of lineitem).

The ranged helpers here are the standard two-phase decomposition, over
multi-column (asc/desc) total orders, for row numbers and for running
prefix aggregates. ``global_row_number`` is the engine's only global row
number: the data-sized star-schema dims take their surrogate keys from it
(``star_schema._sk_frame``), and q190/q291 their global indexes.

1. ``repartitionByRange`` on the sort keys → disjoint, ORDERED key
   ranges; ``sortWithinPartitions`` orders each range internally — all
   parallel, no single-partition exchange anywhere.
2. One tiny job collects a ≤ ``n_ranges``-row per-partition scalar
   (row counts, or the partition's max/min) — the same class of
   driver-side scalar as the documented k-centroid collects.
3. A per-partition window (PARTITIONED BY the range id) plus the scalar
   stitched in reproduces the single-window answer exactly: global
   row_number = partition offset + in-partition row_number; exclusive
   prefix max/min = combine(in-partition exclusive prefix, running
   aggregate of all earlier partitions).

Determinism: ``repartitionByRange`` samples boundaries with a
per-execution seed, so the ranged frame is materialized ONCE
(``artifacts.materialize``) before the scalar job and the window job read
it — otherwise the two jobs could re-plan DIFFERENT boundaries and
compose offsets from one partitioning with ranks from another, i.e.
silently non-contiguous numbers. Given the pin, the composition is
hash-identical to the single-window form for any boundary placement,
because the sort order is total (callers pass a unique tie-break).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_globalretail_spark.sources.artifacts import materialize

_PID = "__rk_pid"


def _sort_exprs(order: list[tuple[str, str]]) -> list[Column]:
    return [
        F.col(name).desc() if direction == "desc" else F.col(name).asc()
        for name, direction in order
    ]


def _ranged(df: DataFrame, order: list[tuple[str, str]], n_ranges: int):
    exprs = _sort_exprs(order)
    ranged = (
        df.repartitionByRange(n_ranges, *exprs)
        .sortWithinPartitions(*exprs)
        .withColumn(_PID, F.spark_partition_id())
        .transform(materialize)
    )
    return ranged, exprs


def global_row_number(
    df: DataFrame,
    order: list[tuple[str, str]],
    out: str = "rn",
    n_ranges: int = 16,
) -> tuple[DataFrame, int]:
    """1-based global row number under a multi-column total order.

    Returns ``(frame_with_out_column, total_row_count)`` — the count is a
    free by-product of the offsets job, so callers needing ``n`` (ntile
    arithmetic, percentile ranks) don't pay a second pass.

    ``order`` must be a TOTAL order (include a unique tie-break): with
    ties, which duplicate gets which rank would depend on boundary
    placement.
    """
    ranged, exprs = _ranged(df, order, n_ranges)
    counts = {
        r[_PID]: r["count"] for r in ranged.groupBy(_PID).count().collect()
    }
    offsets, acc = {}, 0
    for pid in range(n_ranges):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy(_PID).orderBy(*exprs)
    ranked = ranged.withColumn(
        out, (off[F.col(_PID)] + F.row_number().over(w)).cast("long")
    ).drop(_PID)
    return ranked, acc


def global_topk(
    df: DataFrame,
    order: list[tuple[str, str]],
    k: int,
    out: str = "rnk",
) -> DataFrame:
    """Global top-k with 1-based ranks under a multi-column total order —
    the bounded replacement for ``row_number() OVER (ORDER BY ...)`` +
    ``filter(rank <= k)``, which sorts the WHOLE frame through one task
    (Spark's InferWindowGroupLimit only rewrites PARTITIONED rank filters;
    a partition-less one gets no help).

    ``orderBy().limit(k)`` plans as TakeOrderedAndProject — every
    partition keeps its local top-k with a bounded heap, the driver merges
    P·k rows — and the residual rank window then runs over ≤ k rows, a
    bounded frame by construction. Hash-identical to the filter form for a
    total order (same k rows, same ranks).
    """
    exprs = _sort_exprs(order)
    top = df.orderBy(*exprs).limit(k)
    w = Window.orderBy(*exprs)  # input is ≤ k rows — bounded by the limit
    return top.withColumn(out, F.row_number().over(w))


def global_prefix_sums(
    df: DataFrame,
    order: list[tuple[str, str]],
    value_cols: list[str],
    n_ranges: int = 16,
) -> tuple[DataFrame, dict[str, int]]:
    """Inclusive running SUMs of integer ``value_cols`` over the global
    total order — each as ``<col>_cum`` — plus their grand totals as a
    free by-product (the per-partition sums ARE the carry scalars), so
    ECDF/cumulative-count callers skip the extra ``SUM() OVER ()``
    single-task window too.

    Same two-phase shape as ``global_row_number``: per-partition inclusive
    running sum, plus the carry (sum of all EARLIER partitions, a
    ≤ n_ranges-row driver scalar per column). Integer-only by contract —
    the callers keep counts/cents in int64 per the determinism cookbook.
    """
    ranged, exprs = _ranged(df, order, n_ranges)
    per = {
        r[_PID]: r
        for r in ranged.groupBy(_PID)
        .agg(*[F.sum(c).alias(c) for c in value_cols])
        .collect()
    }
    carry: dict[str, dict[int, int]] = {c: {} for c in value_cols}
    running: dict[str, int] = {c: 0 for c in value_cols}
    for pid in range(n_ranges):
        row = per.get(pid)
        for c in value_cols:
            carry[c][pid] = running[c]
            if row is not None and row[c] is not None:
                running[c] += row[c]
    w = (
        Window.partitionBy(_PID)
        .orderBy(*exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged
    for c in value_cols:
        cmap = F.create_map(
            *[F.lit(x) for kv in carry[c].items() for x in kv]
        )
        out = out.withColumn(
            f"{c}_cum",
            (F.sum(c).over(w) + cmap[F.col(_PID)]).cast("long"),
        )
    return out.drop(_PID), dict(running)


def global_lead(
    df: DataFrame,
    order: list[tuple[str, str]],
    value_col: str,
    out: str = "lead",
    n_ranges: int = 16,
) -> DataFrame:
    """``lead(value_col, 1)`` over the global total order, two-phase:
    per-partition lead, then each partition's LAST row takes the NEXT
    non-empty partition's first value (a ≤ n_ranges-row driver scalar).
    NULL for the global last row, matching the single window.

    Contract: ``value_col`` must be the leading sort column (so a
    partition's first value under the order is its min/max — computable
    in the same tiny scalar job) and must be NULL-free: min/max skip
    NULLs, so a NULL leading value (sorted first under Spark asc) would
    silently shift the stitched boundary lead. ENFORCED — the scalar job
    also counts NULLs and raises if any are observed (ADVICE r6).
    """
    name, direction = order[0]
    if name != value_col:
        raise ValueError("global_lead needs value_col as the leading sort key")
    ranged, exprs = _ranged(df, order, n_ranges)
    vtype = ranged.schema[value_col].dataType
    first_agg = F.min(value_col) if direction == "asc" else F.max(value_col)
    stats = (
        ranged.groupBy(_PID)
        .agg(
            first_agg.alias("v"),
            F.sum(F.col(value_col).isNull().cast("long")).alias("n_null"),
        )
        .collect()
    )
    n_null = sum(r["n_null"] for r in stats)
    if n_null:
        raise ValueError(
            f"global_lead: {value_col!r} has {n_null} NULL value(s); the "
            "two-phase carry (min/max per partition) skips NULLs and would "
            "diverge from the single-window lead — filter or COALESCE first"
        )
    firsts = {r[_PID]: r["v"] for r in stats}
    nxt: dict[int, object] = {}
    following = None
    for pid in reversed(range(n_ranges)):
        nxt[pid] = following
        if pid in firsts and firsts[pid] is not None:
            following = firsts[pid]
    nxt_map = F.create_map(
        *[
            x
            for pid, v in nxt.items()
            for x in (F.lit(pid), F.lit(v).cast(vtype))
        ]
    )
    w = Window.partitionBy(_PID).orderBy(*exprs)
    return ranged.withColumn(
        out, F.coalesce(F.lead(value_col).over(w), nxt_map[F.col(_PID)])
    ).drop(_PID)


def global_prefix_agg(
    df: DataFrame,
    order: list[tuple[str, str]],
    value_col: str,
    agg: str = "max",
    out: str = "prefix",
    n_ranges: int = 16,
) -> DataFrame:
    """Exclusive running max/min of ``value_col`` over the global total
    order — NULL for the global first row, exactly
    ``agg(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)``.

    The sort-scan skyline primitive (q176/q260): per-partition exclusive
    prefix window, combined with a carry-in (the running aggregate of all
    EARLIER partitions' totals, a ≤ n_ranges-row driver scalar) via
    greatest/least, whose null-skipping is precisely the combine this
    needs (first row of partition p sees only the carry; partition 0's
    carry is NULL).
    """
    if agg not in ("max", "min"):
        raise ValueError(f"agg must be 'max' or 'min', got {agg!r}")
    ranged, exprs = _ranged(df, order, n_ranges)
    vtype = ranged.schema[value_col].dataType
    per = {
        r[_PID]: r["v"]
        for r in ranged.groupBy(_PID)
        .agg((F.max(value_col) if agg == "max" else F.min(value_col)).alias("v"))
        .collect()
    }
    carry, running = {}, None
    for pid in range(n_ranges):
        carry[pid] = running
        v = per.get(pid)
        if v is not None:
            if running is None:
                running = v
            else:
                running = max(running, v) if agg == "max" else min(running, v)
    carry_map = F.create_map(
        *[
            x
            for pid, v in carry.items()
            for x in (F.lit(pid), F.lit(v).cast(vtype))
        ]
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*exprs)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    part_prefix = (
        F.max(value_col).over(w) if agg == "max" else F.min(value_col).over(w)
    )
    combine = F.greatest if agg == "max" else F.least
    return ranged.withColumn(
        out, combine(part_prefix, carry_map[F.col(_PID)])
    ).drop(_PID)
